"""HTML main-content extraction (Boilerpipe/Readability-style, from scratch).

The reference pipeline's text-acquisition stage is OCR over images/PDFs
(app/services/ocr_service.py:42-122); for Common-Crawl-style web pages the
analogous stage is boilerplate removal. Design (stdlib-only, deterministic):

1. Flatten the DOM into a block array: one block per block-level element
   holding (tag_path, depth, text, n_chars, n_link_chars, n_words).
2. Feature-classify each block: link_density = link_chars/chars,
   text length, boilerplate-ancestor flags (nav/header/footer/aside/form).
3. Main content = newline-join of blocks classified as content, each block's
   text whitespace-collapsed; control chars stripped per
   reference app/models/document.py:177-188.

Step 1 is one flat loop over a tokenizer, not an ``HTMLParser`` subclass.
Python's ``html.parser`` stays the specification: ``_tokens`` yields the
exact start-tag, end-tag and data events that ``HTMLParser(
convert_charrefs=True)`` would report over ``feed(); close()``. Plain tags
(quoted or bare attributes, ``/>``, ``</name>``) are matched by one regex;
everything else at a ``<`` (comments, declarations, processing
instructions, unquoted or odd attributes, script/style CDATA content,
incomplete markup) is handed to html.parser's own ``parse_*`` methods on
the same buffer. The loop keeps counters (skip, link and boilerplate
depth) instead of scanning the open-tag stack per text node, so a text
node costs O(1) at any nesting depth. Block starts and end tags cost O(1)
too (see ``_scan``), so ``extract_main_content`` is linear in the size of
the page; only ``html_blocks`` joins tag paths, whose total length can grow
with depth times blocks.
"""

from __future__ import annotations

from dataclasses import dataclass
from html import unescape
from html.parser import HTMLParser, starttagopen as _STARTTAG_OPEN
import re

# elements whose text is never content
_SKIP_TAGS = frozenset({"script", "style", "noscript", "template", "svg", "head"})
# ancestors that mark a block as boilerplate
_BOILER_TAGS = frozenset({"nav", "header", "footer", "aside", "form", "menu"})
# elements that open a new text block (boilerplate containers are block
# boundaries too, so their text never bleeds into a content block)
_BLOCK_TAGS = frozenset(
    {
        "p", "div", "section", "article", "main", "li", "td", "th",
        "blockquote", "pre", "h1", "h2", "h3", "h4", "h5", "h6",
        "body", "figcaption", "summary", "dd", "dt",
    }
) | _BOILER_TAGS

MIN_CONTENT_CHARS = 30
MAX_LINK_DENSITY = 0.33


@dataclass
class Block:
    tag_path: str
    depth: int
    text: str
    n_chars: int
    n_link_chars: int
    n_words: int
    in_boilerplate: bool

    @property
    def link_density(self) -> float:
        return self.n_link_chars / self.n_chars if self.n_chars else 0.0

    @property
    def is_content(self) -> bool:
        return _is_content(self.n_chars, self.n_link_chars, self.in_boilerplate)


# Plain tags: a start tag with bare or quoted attributes
# (`<name a="v" b='w' c>`, or ending `/>`) or an end tag (`</name>`), with
# whitespace limited to the characters that end an html.parser tag name.
# For every string this matches, html.parser reports the same tag name and
# end offset.
_PLAIN_TAG_RE = re.compile(
    r"<(?:([a-zA-Z][-.:_a-zA-Z0-9]*)"  # 1: start-tag name
    r"(?:[ \t\n\r\f]+[^\s\"'<>/=\x00]+"  # attribute name
    r"(?:[ \t\n\r\f]*=[ \t\n\r\f]*(?:\"[^\"]*\"|'[^']*'))?)*"  # value
    r"[ \t\n\r\f]*(/?)>"  # 2: self-closing slash
    r"|/([a-zA-Z][-.:_a-zA-Z0-9]*)[ \t\n\r\f]*>)"  # 3: end-tag name
)

_START, _END, _DATA = 0, 1, 2


class _Markup(HTMLParser):
    """html.parser over a fixed buffer whose handlers queue the tag and data
    events for the tokenizer instead of acting on them."""

    def __init__(self, html: str) -> None:
        super().__init__(convert_charrefs=True)
        self.rawdata = html
        self.events: list[tuple[int, str]] = []

    def handle_starttag(self, tag: str, attrs) -> None:
        self.events.append((_START, tag))

    def handle_endtag(self, tag: str) -> None:
        self.events.append((_END, tag))

    def handle_data(self, data: str) -> None:
        self.events.append((_DATA, data))


def _tokens(html: str):
    """Yield the (kind, value) events ``HTMLParser(convert_charrefs=True)``
    reports for ``feed(html); close()``: lower-cased start and end tag names
    (a self-closing tag yields both) and data chunks, split where
    html.parser splits them. html.parser's exceptions propagate."""
    p = _Markup(html)
    events = p.events
    n = len(html)
    find = html.find
    startswith = html.startswith
    plain_tag = _PLAIN_TAG_RE.match
    i = 0
    while i < n:
        if p.cdata_elem is None:
            j = find("<", i)
            if j < 0:
                yield _DATA, unescape(html[i:])
                return
            if i < j:
                text = html[i:j]
                yield _DATA, unescape(text) if "&" in text else text
            m = plain_tag(html, j)
            if m is not None:
                tag = m[1]
                if tag is None:
                    yield _END, m[3].lower()
                else:
                    tag = tag.lower()
                    yield _START, tag
                    if m[2]:
                        yield _END, tag
                    elif tag in p.CDATA_CONTENT_ELEMENTS:
                        p.set_cdata_mode(tag)
                i = m.end()
                continue
        else:
            m = p.interesting.search(html, i)
            if m is None:  # unclosed script/style: the rest is dropped
                return
            j = m.start()
            if i < j:
                yield _DATA, html[i:j]
        # not a plain tag: the branches of HTMLParser.goahead, in its order
        if _STARTTAG_OPEN.match(html, j):
            k = p.parse_starttag(j)
        elif startswith("</", j):
            k = p.parse_endtag(j)
        elif startswith("<!--", j):
            k = p.parse_comment(j)
        elif startswith("<?", j):
            k = p.parse_pi(j)
        elif startswith("<!", j):
            k = p.parse_html_declaration(j)
        elif j + 1 < n:
            events.append((_DATA, "<"))
            k = j + 1
        else:
            yield _DATA, "<"
            return
        if k < 0:  # unterminated at end of input: the markup becomes text
            # (never in CDATA mode, where j is at a complete end tag)
            k = find(">", j + 1)
            if k < 0:
                k = find("<", j + 1)
                if k < 0:
                    k = j + 1
            else:
                k += 1
            events.append((_DATA, unescape(html[j:k])))
        yield from events
        events.clear()
        i = k


def _block(parts: list[str], link_chars: int, path: tuple | None, depth: int,
           boiler: bool) -> tuple | None:
    words = "".join(parts).split()
    if not words:
        return None
    text = " ".join(words)
    return text, len(words), min(link_chars, len(text)), path, depth, boiler


def _scan(html: str) -> list[tuple[str, int, int, tuple | None, int, bool]]:
    """One pass over the tokens: a (text, n_words, n_link_chars, path_node,
    depth, in_boilerplate) tuple per block with text. If html.parser raises,
    the blocks completed so far are returned and the open block's text is
    dropped.

    The open-tag stack is a linked list of ``(tag, parent)`` nodes. A block
    start records its tag path as the top node in O(1), and only
    ``html_blocks`` joins it into a string. A bad-nesting pop leaves that
    node, and so the block's path, as it was. ``open_tags`` counts the tags
    on the stack, so an end tag with no open match costs O(1) at any
    depth."""
    blocks = []
    top = None  # the open-tag stack
    open_tags: dict[str, int] = {}
    parts: list[str] = []  # text of the open block
    link_chars = 0
    boiler = False  # the open block has text under a boilerplate tag
    skip_depth = link_depth = boiler_depth = 0
    path, depth, stack_depth = None, 0, 0
    try:
        for kind, value in _tokens(html):
            if kind == _DATA:
                if skip_depth == 0 and value:
                    parts.append(value)
                    if link_depth:
                        link_chars += len(" ".join(value.split()))
                    if boiler_depth and value.strip():
                        boiler = True
                continue
            if parts and value in _BLOCK_TAGS:
                block = _block(parts, link_chars, path, depth, boiler)
                if block is not None:
                    blocks.append(block)
                parts = []
                link_chars = 0
                boiler = False
            if kind == _START:
                if value in _SKIP_TAGS:
                    skip_depth += 1
                elif value == "a":
                    link_depth += 1
                top = (value, top)
                stack_depth += 1
                open_tags[value] = open_tags.get(value, 0) + 1
                if value in _BLOCK_TAGS:
                    if value in _BOILER_TAGS:
                        boiler_depth += 1
                    path, depth = top, stack_depth
            else:
                if value in _SKIP_TAGS:
                    if skip_depth:
                        skip_depth -= 1
                elif value == "a" and link_depth:
                    link_depth -= 1
                # pop to the matching open tag if present (tolerates bad
                # nesting)
                if open_tags.get(value):
                    while True:
                        tag, top = top
                        stack_depth -= 1
                        open_tags[tag] -= 1
                        if tag in _BOILER_TAGS:
                            boiler_depth -= 1
                        if tag == value:
                            break
    except Exception:
        return blocks
    block = _block(parts, link_chars, path, depth, boiler)
    if block is not None:
        blocks.append(block)
    return blocks


def _is_content(n_chars: int, n_link_chars: int, in_boilerplate: bool) -> bool:
    return (
        not in_boilerplate
        and n_chars >= MIN_CONTENT_CHARS
        and (n_link_chars / n_chars if n_chars else 0.0) <= MAX_LINK_DENSITY
    )


def _decode(html: bytes | str) -> str:
    if isinstance(html, bytes):
        return html.decode("utf-8", errors="replace")
    return html


def html_blocks(html: bytes | str) -> list[Block]:
    """Flatten HTML into the classified block array (the DOM analog of the
    reference's per-page OCR array, ocr_service.py:89-122). If html.parser
    raises on the input, the blocks completed so far are returned and the
    open block's text is dropped."""
    paths: dict[int, str] = {}  # id(node) -> "/".join of the stack it tops

    def path(node: tuple | None) -> str:
        # climb to the first node whose path is known, then extend it back
        # down, so blocks that share an ancestor share its join
        climbed = []
        while node is not None and id(node) not in paths:
            climbed.append(node)
            node = node[1]
        joined = "" if node is None else paths[id(node)]
        for n in reversed(climbed):
            joined = joined + "/" + n[0] if n[1] is not None else n[0]
            paths[id(n)] = joined
        return joined

    return [
        Block(
            tag_path=path(node),
            depth=depth,
            text=text,
            n_chars=len(text),
            n_link_chars=n_link_chars,
            n_words=n_words,
            in_boilerplate=boiler,
        )
        for text, n_words, n_link_chars, node, depth, boiler in _scan(_decode(html))
    ]


# strip set per reference app/models/document.py:177-188
_CONTROL_RE = re.compile(r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]")


def extract_main_content(html: bytes | str) -> str:
    """Main-content text: newline-joined content blocks, control chars
    stripped. This string is the byte-parity surface per url. It reads the
    blocks straight from ``_scan``, so no tag path is ever joined."""
    text = "\n".join(
        text
        for text, _, n_link_chars, _, _, boiler in _scan(_decode(html))
        if _is_content(len(text), n_link_chars, boiler)
    )
    return _CONTROL_RE.sub("", text)
