"""The one-pass HTML tokenizer against its oracle, and the word-confidence
memo against the function it wraps.

``core.html_blocks`` must return exactly what the ``HTMLParser``-subclass
block parser returned (kept in ``tests/html_block_reference.py``), field by
field, on generated HTML-ish input, on hostile probes and on every html
payload of a seeded pages table."""

import dataclasses
import random

import pyarrow.parquet as pq
from hypothesis import given, settings
from hypothesis import strategies as st

from medical_vector_database_ocr_ner_spark import core
from medical_vector_database_ocr_ner_spark.core import ocr
from tests.html_block_reference import reference_blocks

# fragments that reach every branch of html.parser's tokenizer: plain and
# odd tags, quoted / unquoted / broken attributes, comments, declarations,
# marked sections, processing instructions, CDATA content and the many
# ways it (fails to) close, lone and trailing '<', charrefs, whitespace the
# tag-name rule does not treat as a separator, and boilerplate/link/skip
# containers whose nesting the block features depend on
FRAGMENTS = [
    "<p>", "</p>", "<div>", "</div>", "<li>", "</li>", "<td>", "</td",
    "<h1 class=\"t\">", "</h1>", "<P>", "</P >", "<Div\n>", "<x-y:z.w>",
    "</x-y:z.w>", "<body>", "</body>", "<main>", "<article>",
    "<nav>", "</nav>", "<header>", "</header>", "<aside", "</aside>",
    "<form>", "</form>", "<menu/>", "<footer>", "</footer>",
    "<a href=\"/x\">", "<a href='/y' rel=nofollow>", "<a href=x>", "<a>",
    "</a>", "<a b>", "<a b/>", "<a b=\"c\"/>", "<a b = 'c' >",
    "<a b=\"x>y\">", "<a =x>", "<a b==\"c\">", "<a b=\"c\"d=\"e\">",
    "<a\x0bhref='x'>", "<a\xa0b>", "<a\x1cb>", "<a / b>", "<a b", "<a b=",
    "<a b=\"", "</a b>", "< p>", "</ p>", "</>", "</ >", "<br/>", "<br />",
    "<img src='a'/>", "<input disabled>", "<svg>", "</svg>", "<noscript>",
    "</noscript>", "<template>", "</template>", "<head>", "</head>",
    "<script>", "<script type=\"x\">", "</script>", "</script >",
    "</SCRIPT>", "</script\n>", "<script/>", "<style>", "</style>",
    "</style >", "<style/>", "<SCRIPT>", "<ſcript>", "</ſcript>",
    "<!--", "-->", "<!-- c -->", "--!>", "<!doctype html>", "<!DOCTYPE",
    "<!x>", "<!", "<![CDATA[", "]]>", "<![CDATA[x]]>", "<![if x]>",
    "<![endif]>", "<![", "<![ x", "<?pi ", "?>", "<?xml v?>", "<", ">",
    "/", "&", "&amp;", "&amp", "&#38;", "&#x26", "&#", "&lt", "&nbsp;",
    "&zz;", " ", "  ", "\n", "\t", "\r", "\f", "\x0b", "\xa0", "\x1c",
    "\x00", "\x1b", "\x7f", "�", "=", "\"", "'", "word ", "Text",
    "Aspirin 100mg twice daily for thirty days ", "x",
]
# raw bytes that are not valid UTF-8 (decoded with errors="replace")
BAD_BYTES = [b"\xff", b"\xfe", b"\xc3", b"\xc3\x28", b"\xed\xa0\x80",
             b"\xe2\x82", b"\x80"]


def _fields(blocks):
    return [dataclasses.asdict(b) for b in blocks]


def _assert_same(html):
    assert _fields(core.html_blocks(html)) == _fields(reference_blocks(html))


html_ish = st.lists(st.sampled_from(FRAGMENTS), max_size=60).map("".join)
html_ish_bytes = st.lists(
    st.sampled_from([f.encode("utf-8") for f in FRAGMENTS] + BAD_BYTES),
    max_size=60,
).map(b"".join)


class TestDifferentialOracle:
    @settings(max_examples=600, deadline=None)
    @given(html_ish)
    def test_html_ish_text(self, html):
        _assert_same(html)

    @settings(max_examples=300, deadline=None)
    @given(html_ish_bytes)
    def test_html_ish_bytes(self, html):
        _assert_same(html)

    @settings(max_examples=200, deadline=None)
    @given(st.text(max_size=200))
    def test_arbitrary_text(self, html):
        _assert_same(html)

    def test_hostile_probes(self):
        for html in [
            "<div>" * 2000 + "deep text that is surely content" + "</div>" * 2000,
            "<nav>" + "<b>word " * 2000 + "</nav>",
            "<div><span>x " * 2000,
            b"<p>\xff\xfe bad \xc3\x28 utf-8 and more than thirty chars</p>",
            "<p>ctl \x00\x01\x02\x1b\x7f chars in a paragraph of text</p>",
            "<p>first paragraph with thirty-plus chars</p><![bad <p>tail",
            "<p>open paragraph with thirty-plus characters of text",
            "<script>unterminated <p>never content</p>",
            "<p>trailing lt <", "<!doctype", "", "<", "&", "\x00",
            "<p>" + "word " * 50000 + "</p>",
        ]:
            _assert_same(html)

    def test_mutated_pages(self):
        """Real page shapes with fragments spliced in at random offsets:
        odd markup inside a realistic nesting of blocks."""
        from medical_vector_database_ocr_ner_spark.sources.pages import _row

        rng = random.Random(5)
        payloads = [_row(i, 11)[2] for i in range(150)]
        pages = [p.decode("utf-8") for p in payloads
                 if core.sniff_payload_kind(p) == "html"]
        assert len(pages) > 100
        for page in pages:
            for _ in range(5):
                s = page
                for _ in range(rng.randrange(1, 6)):
                    at = rng.randrange(len(s) + 1)
                    s = s[:at] + rng.choice(FRAGMENTS) + s[at:]
                _assert_same(s)

    def test_every_html_payload_of_a_seeded_table(self, tmp_path):
        from medical_vector_database_ocr_ner_spark.sources.pages import (
            generate_pages_parquet,
        )

        path = generate_pages_parquet(str(tmp_path / "pages"), 2000, seed=7)
        payloads = pq.read_table(path, columns=["html"]).column("html")
        n_html = 0
        for html in payloads.to_pylist():
            if core.sniff_payload_kind(html) == "html":
                _assert_same(html)
                n_html += 1
        assert n_html > 1500

    def test_block_parser_is_gone_from_the_package(self):
        from medical_vector_database_ocr_ner_spark.core import html_extract

        assert not hasattr(html_extract, "_BlockParser")


class TestWordConfidenceMemo:
    @settings(max_examples=300, deadline=None)
    @given(st.text(max_size=30))
    def test_memo_equals_wrapped(self, word):
        assert core.word_confidence(word) == core.word_confidence.__wrapped__(word)
        assert core.word_confidence(word) == core.word_confidence.__wrapped__(word)

    def test_cache_is_bounded(self):
        maxsize = core.word_confidence.cache_info().maxsize
        assert maxsize is not None and 0 < maxsize <= 1 << 16

    def test_ocr_page_and_extract_row_use_the_memo(self):
        from medical_vector_database_ocr_ner_spark.core.models import DEFAULT_SEAM
        from medical_vector_database_ocr_ner_spark.operators.extraction import (
            _extract_row,
        )

        assert ocr.word_confidence is core.word_confidence
        text = "Aspirin 100mg twice daily for the patient in ward seven"
        n_words = len(text.split())

        core.word_confidence.cache_clear()
        ocr.ocr_page(text)
        info = core.word_confidence.cache_info()
        assert info.hits + info.misses == n_words

        core.word_confidence.cache_clear()
        html = f"<html><body><p>{text}</p></body></html>".encode()
        row = _extract_row(DEFAULT_SEAM.resolve(), "html", html, None)
        assert row[3] == "completed"
        info = core.word_confidence.cache_info()
        assert info.hits + info.misses == n_words
        assert row[1] == core.mean_confidence(
            [core.word_confidence.__wrapped__(w) for w in text.split()])
