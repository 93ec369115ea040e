"""``similarity.dot`` renders one SQL definition of the vector score.

- Differential: ``dot`` of a ``vec_sql`` literal against the
  Column-lambda form it replaced (kept in ``tests/dot_reference.py``),
  bit for bit, on float32 and float64 rows, special values, mismatched
  lengths and the empty vector.
- Plan shape: the query vector's ``split``/``CAST`` string literal is
  constant-folded away and search still compiles to
  ``TakeOrderedAndProject``.
- Round trips: building the score costs the same number of py4j commands
  whatever the vector's length."""

import struct

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from medical_vector_database_ocr_ner_spark.operators.similarity import (
    dot,
    dot_sql,
    vec_sql,
)
from tests import dot_reference

SPECIALS = [
    float("nan"), float("inf"), float("-inf"), -0.0, 0.0, 5e-324,
    2.2250738585072014e-308, 1.8e308, -1.8e308, 1 / 3, 1e-05,
]


def _bits(v):
    return None if v is None else struct.pack("<d", v)


def _assert_same_scores(spark, rows, elem_type, q):
    df = spark.createDataFrame(
        list(enumerate(rows)), f"id int, e array<{elem_type}>"
    )
    got = df.select(
        "id",
        dot_reference.dot_lit(F.col("e"), q).alias("want"),
        dot("e", vec_sql(q)).alias("got"),
    ).collect()
    assert len(got) == len(rows)
    for r in got:
        assert _bits(r["got"]) == _bits(r["want"]), (rows[r["id"]], q, r)


def _elements(width):
    return st.one_of(
        st.floats(width=width),
        st.sampled_from(SPECIALS if width == 64 else SPECIALS[:5]),
    )


@st.composite
def _case(draw):
    width = draw(st.sampled_from([32, 64]))
    n = draw(st.integers(0, 6))
    q = draw(st.lists(_elements(64), min_size=n, max_size=n))
    row_elem = st.one_of(_elements(width), st.none())
    rows = draw(st.lists(
        st.one_of(
            st.lists(row_elem, min_size=n, max_size=n),
            st.lists(row_elem, max_size=8),
        ),
        min_size=1, max_size=5,
    ))
    return rows, ("float" if width == 32 else "double"), q


class TestDotAgainstReference:
    @settings(max_examples=60, deadline=None)
    @given(_case())
    def test_bit_identical(self, spark, case):
        rows, elem_type, q = case
        _assert_same_scores(spark, rows, elem_type, q)

    @pytest.mark.parametrize("elem_type", ["float", "double"])
    def test_special_values(self, spark, elem_type):
        rows = [
            [1.0] * len(SPECIALS), SPECIALS, SPECIALS[::-1],
            [0.5, -2.0], [], [None] * len(SPECIALS),
        ]
        _assert_same_scores(spark, rows, elem_type, SPECIALS)
        _assert_same_scores(spark, rows, elem_type, [0.25, 3.0])

    def test_empty_query_vector(self, spark):
        """``dot(col, vec_sql([]))`` is null against a non-empty row and 0.0
        against ``[]``, as before (``split('', ',')`` would be one empty
        string and fail the cast under ANSI)."""
        assert vec_sql([]) == "CAST(array() AS ARRAY<DOUBLE>)"
        _assert_same_scores(spark, [[], [1.0], [0.0, 2.0]], "float", [])
        df = spark.createDataFrame([([],), ([1.0],)], "e array<float>")
        got = [r[0] for r in df.select(dot("e", vec_sql([]))).collect()]
        assert got == [0.0, None]

    def test_float32_embeddings(self, spark, sf001_dir):
        emb = spark.read.parquet(f"{sf001_dir}/embeddings.parquet")
        q = [float(x) for x in emb.where("vec_id = 3").first()["embedding"]]
        got = emb.select(
            "vec_id",
            dot_reference.dot_lit(F.col("embedding"), q).alias("want"),
            dot("embedding", vec_sql(q)).alias("got"),
        ).collect()
        assert got
        assert all(_bits(r["got"]) == _bits(r["want"]) for r in got)

    def test_sql_template(self):
        assert dot_sql("a", "b") == (
            "aggregate(zip_with(a, b, (x, y) -> CAST(x AS DOUBLE) * "
            "CAST(y AS DOUBLE)), 0.0D, (acc, v) -> acc + v)"
        )
        assert vec_sql([0.5, -0.0, float("nan")]) == (
            "CAST(split('0.5,-0.0,nan', ',') AS ARRAY<DOUBLE>)"
        )


class TestSearchPlan:
    def test_query_vector_is_a_folded_literal(self, spark, sf001_dir):
        from medical_vector_database_ocr_ner_spark.plans.pipeline import (
            search_topk,
        )

        emb = spark.read.parquet(f"{sf001_dir}/embeddings.parquet")
        df = search_topk(emb, "metformin for type 2 diabetes", k=5)
        qe = df._jdf.queryExecution()
        optimized = qe.optimizedPlan().toString()
        assert "aggregate(zip_with(" in optimized
        assert "split(" not in optimized
        assert "array<double>" not in optimized.lower()
        assert "TakeOrderedAndProject" in qe.executedPlan().toString()
        assert len(df.collect()) == 5

    def test_py4j_commands_do_not_grow_with_dimension(self, spark,
                                                      monkeypatch):
        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command
        sent = []

        def counting(*args, **kwargs):
            sent.append(1)
            return send(*args, **kwargs)

        monkeypatch.setattr(client, "send_command", counting)

        def commands(dim):
            del sent[:]
            dot("embedding", vec_sql([0.125] * dim)).alias("similarity")
            return len(sent)

        commands(8)  # warm the JVM view's class lookups
        assert commands(384) == commands(8) > 0
