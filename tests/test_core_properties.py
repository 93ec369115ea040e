"""Property-based tests (hypothesis) for the deterministic core — the
invariants the byte-parity contract leans on, checked over generated
inputs rather than fixtures."""

import string

from hypothesis import example, given, settings
from hypothesis import strategies as st

from medical_vector_database_ocr_ner_spark import core

printable_text = st.text(
    alphabet=string.ascii_letters + string.digits + " .,;:!?()-@#$%\n\t",
    max_size=400,
)
any_text = st.text(max_size=300)
payloads = st.binary(max_size=2000)


@settings(max_examples=200, deadline=None)
@given(any_text)
@example("0\ufe70" + "0")
def test_clean_text_reaches_fixpoint(t):
    # clean_text is deliberately NOT idempotent: the reference collapses
    # whitespace BEFORE replacing punctuation with spaces and normalising
    # (order-exact parity, text_utils.py:12-37), so "0''0" → "0  0" →
    # "0 0". NFKC can also emit a space followed by a combining mark
    # (U+FE70 → " \u064b"): the second pass turns the mark into a second
    # space and only a third pass collapses the pair. Three passes are
    # enough: a sweep of every code point c in "0"+c+"0", c+c, "a"+c and
    # c+" "+c found 105 strings unsettled after two passes and none after
    # three.
    once = core.clean_text(t)
    twice = core.clean_text(once)
    thrice = core.clean_text(twice)
    assert core.clean_text(thrice) == thrice


@settings(max_examples=200, deadline=None)
@given(any_text)
def test_normalize_idempotent_and_lower(t):
    once = core.normalize_text(t)
    assert core.normalize_text(once) == once
    assert once == once.lower()
    assert "  " not in once


@settings(max_examples=200, deadline=None)
@given(printable_text)
def test_entity_spans_index_input(t):
    for e in core.extract_entities(t):
        assert t[e["start"]:e["end"]] == e["text"]
        assert 0 <= e["confidence"] <= 1
        assert core.validate_entity(e)


@settings(max_examples=200, deadline=None)
@given(printable_text)
def test_entities_sorted_and_unique(t):
    ents = core.extract_entities(t)
    starts = [e["start"] for e in ents]
    assert starts == sorted(starts)
    keys = [(e["text"], e["start"], e["end"]) for e in ents]
    assert len(keys) == len(set(keys))


@settings(max_examples=100, deadline=None)
@given(printable_text)
def test_number_and_date_offsets(t):
    for n in core.extract_numbers(t):
        assert t[n["start"]:n["end"]] == n["full_match"]
    for d in core.extract_dates(t):
        assert t[d["start"]:d["end"]] == d["date"]


@settings(max_examples=100, deadline=None)
@given(payloads)
def test_sniff_total_and_stable(data):
    kind = core.sniff_payload_kind(data)
    assert kind in {"empty", "executable", "pdf", "image", "html", "other"}
    assert core.sniff_payload_kind(data) == kind


@settings(max_examples=100, deadline=None)
@given(payloads)
def test_html_extract_never_raises(data):
    text = core.extract_main_content(data)
    assert isinstance(text, str)
    assert not core.has_control_chars(text.replace("\n", "").replace("\t", ""))


@settings(max_examples=100, deadline=None)
@given(st.lists(st.text(alphabet=string.printable, min_size=1, max_size=40),
                max_size=5))
def test_pdf_roundtrip(pages):
    # container uses the page marker as a delimiter; embedded markers would
    # split pages (documented container limitation) — exclude them
    pages = [p for p in pages if "%%PAGE%%" not in p and "%%EOF" not in p]
    data = core.fake_pdf_bytes(pages)
    got = core.ocr_pdf_pages(data)
    if pages:
        assert [g[0] for g in got] == pages
    assert all(0.0 <= g[1] <= 1.0 for g in got)


@settings(max_examples=100, deadline=None)
@given(any_text)
def test_embedding_unit_or_zero(t):
    import numpy as np

    v = core.embed_text(t)
    n = float(np.linalg.norm(v))
    assert abs(n - 1.0) < 1e-4 or n == 0.0


@settings(max_examples=100, deadline=None)
@given(any_text, any_text)
def test_cosine_bounds(a, b):
    va, vb = core.embed_text(a), core.embed_text(b)
    assert -1.0 - 1e-6 <= core.cosine_similarity(va, vb) <= 1.0 + 1e-6


# --- json_guard properties (C17) --------------------------------------------

_json_scalars = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(min_value=-10**15, max_value=10**15),
    st.floats(allow_nan=False, allow_infinity=False,
              min_value=-1e15, max_value=1e15),
    st.text(max_size=200).filter(
        lambda s: not __import__("re").search(
            "(?i)(" + "|".join(__import__(
                "medical_vector_database_ocr_ner_spark.core.validation",
                fromlist=["DANGEROUS_CONTENT_PATTERNS"],
            ).DANGEROUS_CONTENT_PATTERNS) + ")", s)
    ),
)
_safe_keys = st.text(
    st.characters(min_codepoint=97, max_codepoint=122), min_size=1, max_size=20
).filter(lambda k: k.lower() not in {
    "__proto__", "constructor", "prototype", "eval", "function",
    "settimeout", "setinterval"})
# explicit 4-level composition, NOT st.recursive: recursive() bounds
# leaves, not depth — a chain of single-element lists can exceed the
# validator's depth-10 limit and make the "always valid" property flaky
_json_values = _json_scalars
for _ in range(4):
    _json_values = st.one_of(
        _json_scalars,
        st.lists(_json_values, max_size=8),
        st.dictionaries(_safe_keys, _json_values, max_size=8),
    )


@settings(max_examples=150, deadline=None)
@given(_json_values)
def test_within_limits_payloads_always_valid(value):
    """Any payload built within every structural limit must pass: bounded
    depth (recursive strategy depth ≤ limits), small dicts/lists, short
    clean strings, numbers within ±1e15, no suspicious keys."""
    import json as _json

    from medical_vector_database_ocr_ner_spark.functions.json_guard import (
        validate_json_text,
    )

    assert validate_json_text(_json.dumps(value)) is None


@settings(max_examples=60, deadline=None)
@given(_json_values, st.integers(min_value=0, max_value=6))
def test_violation_injected_anywhere_is_caught(value, seed):
    """Wrapping any in-limits payload under a violating construct is
    always rejected with the right error class."""
    import json as _json

    from medical_vector_database_ocr_ner_spark.functions.json_guard import (
        validate_json_text,
    )

    wrappers = [
        ({"__proto__": value}, "Suspicious JSON key: __proto__"),
        ({"k" * 101: value}, "JSON key too long"),
        ({"a": "x" * 10_001, "b": value}, "JSON string too long"),
        ({"a": 2e15, "b": value}, "Numeric value too large"),
        ({"a": "<script>alert(1)", "b": value},
         "JSON contains suspicious content"),
        ({f"k{i}": 1 for i in range(101)}, "JSON object too large"),
        (list(range(1001)), "JSON array too large"),
    ]
    payload, want = wrappers[seed]
    assert validate_json_text(_json.dumps(payload)) == want
