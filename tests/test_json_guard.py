"""C17 deep-structure JSON validation — exact reference semantics
(app/api/middleware.py:197-301) for every error class, first-violation DFS
order, and the Spark quarantine split."""

import json

import pytest

from medical_vector_database_ocr_ner_spark.functions.json_guard import (
    validate_json_text,
    validate_json_value,
)


class TestValidatorSemantics:
    def test_valid_payloads(self):
        for payload in (
            '{"k": 1}',
            '{"a": null, "b": [1, 2, {"c": "x"}]}',
            '{"num": 1e15}',          # exactly at the bound: allowed
            "[]",
            "123",
            '"plain string"',
            "null",
            "true",
        ):
            assert validate_json_text(payload) is None, payload

    def test_invalid_json_format(self):
        assert validate_json_text("not json") == "Invalid JSON format"
        assert validate_json_text("{broken") == "Invalid JSON format"

    def test_too_deep(self):
        # depth limit 10: nodes at depth 11 reject. Root is depth 0; each
        # nesting level +1 → 12 nested lists puts the innermost at 11.
        ok = json.dumps(eval("[" * 10 + "1" + "]" * 10))
        bad = json.dumps(eval("[" * 12 + "1" + "]" * 12))
        assert validate_json_text(ok) is None
        assert validate_json_text(bad) == "JSON structure too deep"

    def test_object_too_large(self):
        js = "{" + ",".join(f'"k{i}":1' for i in range(101)) + "}"
        assert validate_json_text(js) == "JSON object too large"
        js_ok = "{" + ",".join(f'"k{i}":1' for i in range(100)) + "}"
        assert validate_json_text(js_ok) is None

    def test_key_too_long(self):
        js = '{"' + "k" * 101 + '": 1}'
        assert validate_json_text(js) == "JSON key too long"

    def test_suspicious_keys_case_insensitive(self):
        for key in ("__proto__", "CONSTRUCTOR", "Prototype", "eval",
                    "function", "setTimeout", "SETINTERVAL"):
            js = json.dumps({key: 1})
            assert validate_json_text(js) == f"Suspicious JSON key: {key}"

    def test_array_too_large(self):
        assert validate_json_text(json.dumps(list(range(1001)))) == \
            "JSON array too large"
        assert validate_json_text(json.dumps(list(range(1000)))) is None

    def test_string_too_long(self):
        assert validate_json_text(json.dumps({"a": "x" * 10_001})) == \
            "JSON string too long"
        assert validate_json_text(json.dumps({"a": "x" * 10_000})) is None

    def test_suspicious_string_patterns(self):
        for s in ("<script>alert(1)</script>", "JAVASCRIPT:void(0)",
                  "data:text/html;base64,x", "vbscript:msgbox",
                  "x onload=evil()", "img onerror=evil()"):
            assert validate_json_text(json.dumps({"a": s})) == \
                "JSON contains suspicious content", s

    def test_numeric_too_large(self):
        assert validate_json_text('{"n": 1.5e15}') == "Numeric value too large"
        assert validate_json_text('{"n": -2000000000000000}') == \
            "Numeric value too large"
        # bools are not numbers for this check
        assert validate_json_text('{"n": true}') is None

    def test_body_too_large(self):
        assert validate_json_text("[" + "1," * 6_000_000 + "1]") == \
            "Request body too large"

    def test_first_violation_dfs_order(self):
        # dict iteration follows document order: the deep-value violation
        # under the FIRST key fires before the suspicious SECOND key.
        js = '{"a": {"n": 9e15}, "__proto__": 1}'
        assert validate_json_text(js) == "Numeric value too large"
        # size check precedes key iteration entirely
        big = ("{" + ",".join(f'"k{i}":1' for i in range(101))
               + ', "__proto__": 1}')
        assert validate_json_text(big) == "JSON object too large"
        # within one key: length check before suspicious-name check is moot
        # (a >100-char key can't be in the suspicious set) — but key checks
        # precede value recursion:
        js2 = '{"eval": {"n": 9e15}}'
        assert validate_json_text(js2) == "Suspicious JSON key: eval"

    def test_none_input_skipped(self):
        assert validate_json_text(None) is None

    def test_value_level_entry_point(self):
        assert validate_json_value({"k": [1, "ok"]}) is None
        assert validate_json_value({1: "x"}) == "JSON keys must be strings"


class TestQuarantineSplit:
    def test_split(self, spark):
        from medical_vector_database_ocr_ner_spark.functions.json_guard import (
            split_quarantine,
        )

        rows = [
            (1, '{"k": 1}'),
            (2, "not json"),
            (3, '{"__proto__": 1}'),
            (4, None),                       # absent body: passes through
            (5, '{"a": "<script>x"}'),
        ]
        df = spark.createDataFrame(rows, "id int, props string")
        valid, quarantined = split_quarantine(df, "props")
        assert {r["id"] for r in valid.collect()} == {1, 4}
        got = {r["id"]: r["json_error"] for r in quarantined.collect()}
        assert got == {
            2: "Invalid JSON format",
            3: "Suspicious JSON key: __proto__",
            5: "JSON contains suspicious content",
        }
        assert "props" in valid.columns and "json_error" not in valid.columns

    def test_quarantine_matches_plain_python(self, spark):
        """The Arrow-batched UDF and the plain function agree row-for-row
        (including clean rows) on a mixed fixture."""
        from medical_vector_database_ocr_ner_spark.functions.json_guard import (
            split_quarantine,
        )

        payloads = [
            '{"k": %d}' % i if i % 3 else '{"bad": "javascript:x%d"}' % i
            for i in range(60)
        ]
        df = spark.createDataFrame(
            [(i, p) for i, p in enumerate(payloads)], "id int, props string"
        )
        _, quarantined = split_quarantine(df, "props")
        got = {r["id"]: r["json_error"] for r in quarantined.collect()}
        want = {
            i: validate_json_text(p)
            for i, p in enumerate(payloads)
            if validate_json_text(p) is not None
        }
        assert got == want


def test_split_quarantine_cached_releases_storage(spark):
    from medical_vector_database_ocr_ner_spark.functions.json_guard import (
        split_quarantine_cached,
    )

    df = spark.createDataFrame(
        [(1, '{"k": 1}'), (2, "not json"), (3, '{"__proto__": 1}')],
        "id int, props string",
    )

    def persisted():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    # other tests' session-scoped caches may already be persisted
    before = persisted()
    with split_quarantine_cached(df, "props") as (valid, quarantined):
        assert {r["id"] for r in valid.collect()} == {1}
        bad = {r["id"]: r["json_error"] for r in quarantined.collect()}
        assert bad == {
            2: "Invalid JSON format",
            3: "Suspicious JSON key: __proto__",
        }
        # the judged frame is cached while the block is open
        assert persisted() > before
    # and released on exit
    assert persisted() == before


def test_tiered_validation_matches_udf_on_probes_and_fixture(spark):
    """validate_json_tiered must agree with the pure recursive UDF on every
    row — hostile probes (deep nesting, long strings, many keys,
    suspicious keys/content, huge numbers, unparseable, null) AND a slice
    of real fixture props — while settling clean flat payloads natively."""
    from pyspark.sql import functions as F

    from medical_vector_database_ocr_ner_spark.functions.json_guard import (
        json_violation_udf,
        validate_json_tiered,
    )
    from medical_vector_database_ocr_ner_spark.plans.queries_ext import (
        JSON_PROBES,
    )

    deep = "[" * 15 + "1" + "]" * 15
    extra = [
        (1, deep),                                   # too deep → UDF
        (2, '{"n": 99999999999999999999}'),          # numeric too large → UDF
        (3, '{"n": 1e20}'),                          # exponent form → UDF
        (4, '{"a": {"b": 1}}'),                      # nested but clean → UDF
        (5, '{"a": "brace { in string"}'),           # flat but brace-y → UDF
        (6, '{"a": 1, "b": "ok"}'),                  # settled valid
        (7, None),                                   # settled valid (absent)
        (8, "{broken"),                              # settled invalid
    ]
    rows = [(i, js) for i, js in JSON_PROBES] + extra
    df = spark.createDataFrame(rows, "id long, js string")

    tiered = validate_json_tiered(df, "js", settled_col="settled")
    pure = df.withColumn("want", json_violation_udf(F.col("js")))
    joined = tiered.join(pure.select("id", "want"), "id")
    mismatches = joined.where(
        ~F.col("json_error").eqNullSafe(F.col("want"))
    ).collect()
    assert mismatches == []

    settled = {r["id"]: r["settled"] for r in tiered.collect()}
    assert settled[6] and settled[7] and settled[8]
    for routed in (1, 2, 3, 4, 5):
        assert not settled[routed], f"probe {routed} should route to the UDF"
