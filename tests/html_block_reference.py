"""Reference block parser for the differential test of ``html_blocks``.

This is the event-handler ``HTMLParser`` subclass the package used before
its one-pass tokenizer. It is kept here, unchanged, as the oracle:
``core.html_blocks`` must return a field-by-field equal ``Block`` list for
every input, including the quirks of Python's ``html.parser`` (CDATA mode,
bogus comments, incomplete tags at end of input) and its exception path
(blocks flushed so far, no final flush).
"""

from __future__ import annotations

from html.parser import HTMLParser
import re

from medical_vector_database_ocr_ner_spark.core.html_extract import (
    _BLOCK_TAGS,
    _BOILER_TAGS,
    _SKIP_TAGS,
    Block,
)

_WS_RE = re.compile(r"\s+")


class _BlockParser(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.stack: list[str] = []
        self.blocks: list[Block] = []
        self._parts: list[str] = []
        self._link_chars = 0
        self._skip_depth = 0
        self._link_depth = 0
        self._block_path: str = ""
        self._block_depth: int = 0
        self._boiler = False  # any accumulated text seen under a boiler tag

    def _flush(self) -> None:
        raw = "".join(self._parts)
        text = _WS_RE.sub(" ", raw).strip()
        if text:
            self.blocks.append(
                Block(
                    tag_path=self._block_path,
                    depth=self._block_depth,
                    text=text,
                    n_chars=len(text),
                    n_link_chars=min(self._link_chars, len(text)),
                    n_words=len(text.split()),
                    in_boilerplate=self._boiler,
                )
            )
        self._parts = []
        self._link_chars = 0
        self._boiler = False

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag in _SKIP_TAGS:
            self._skip_depth += 1
        if tag == "a":
            self._link_depth += 1
        if tag in _BLOCK_TAGS:
            self._flush()
        self.stack.append(tag)
        if tag in _BLOCK_TAGS:
            self._block_path = "/".join(self.stack)
            self._block_depth = len(self.stack)

    def handle_endtag(self, tag: str) -> None:
        if tag in _BLOCK_TAGS:
            self._flush()
        if tag in _SKIP_TAGS and self._skip_depth > 0:
            self._skip_depth -= 1
        if tag == "a" and self._link_depth > 0:
            self._link_depth -= 1
        # pop to the matching open tag if present (tolerates bad nesting)
        if tag in self.stack:
            while self.stack and self.stack[-1] != tag:
                self.stack.pop()
            if self.stack:
                self.stack.pop()

    def handle_data(self, data: str) -> None:
        if self._skip_depth == 0 and data:
            self._parts.append(data)
            if self._link_depth > 0:
                self._link_chars += len(_WS_RE.sub(" ", data).strip())
            if data.strip() and any(t in _BOILER_TAGS for t in self.stack):
                self._boiler = True

    def close(self) -> None:  # flush trailing text
        super().close()
        self._flush()


def reference_blocks(html: bytes | str) -> list[Block]:
    """``html_blocks`` as the package computed it with ``_BlockParser``."""
    if isinstance(html, bytes):
        html = html.decode("utf-8", errors="replace")
    parser = _BlockParser()
    try:
        parser.feed(html)
        parser.close()
    except Exception:
        pass
    return parser.blocks
