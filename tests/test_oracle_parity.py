"""In-suite oracle cross-check: a representative sample of the driver
registry runs on Spark AND DuckDB at sf0.001 and must agree on row count,
column names, and an order-insensitive value hash (the driver's own
comparison, mimicked). The full 39-query sweep at sf0.01 runs via
``python tools/check_oracles.py``."""

import hashlib
import math

import pytest

SAMPLE = [
    "pricing_summary",
    "topk_customer_revenue",
    "priority_topk_orders",
    "keyword_topk",
    "char_ratios",
    "exact_dedup_keeper",
    "rate_limit_minutely",
    "events_json_extract",
    "ann_topk_cosine",
    "knn_hydrated",
    "minhash_signatures",
    "simhash16",
    "doc_fingerprint",
    "ngram_jaccard_pairs",
    "lsh_bucket_histogram",
    "minhash_lsh_recall",
    "quality_score",
    "union_dedup_priority",
    "user_sessions",
]


def canon(v):
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return "1" if v else "0"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.6g}"
    return str(v)


def table_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(canon(r[i]) for i in order) for r in rows)
    return len(rows), hashlib.sha256("\n".join(lines).encode()).hexdigest()


@pytest.fixture(scope="module")
def duck(sf001_dir):
    import duckdb

    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem events "
              "documents embeddings").split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf001_dir}/{t}.parquet'")
    return con


@pytest.mark.parametrize("name", SAMPLE)
def test_oracle_match(spark, duck, sf001_dir, name):
    from medical_vector_database_ocr_ner_spark.plans.queries import QUERIES

    spec = QUERIES[name]
    sdf = spec.fn(spark, sf001_dir)
    s = table_hash(sdf.columns, [tuple(r) for r in sdf.collect()])
    res = duck.execute(spec.oracle)
    o = table_hash([d[0] for d in res.description], res.fetchall())
    assert s == o, f"{name}: spark {s} vs duckdb {o}"


def test_registry_contract():
    """Every oracle belongs to a query; every query is callable."""
    import __spark_entry__ as entry

    q, o = entry.queries(), entry.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) >= 35
    assert all(callable(f) for f in q.values())
    assert all(isinstance(s, str) and "SELECT" in s.upper() for s in o.values())
