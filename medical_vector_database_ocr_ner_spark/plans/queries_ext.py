"""Registry extension: relational breadth + dedup-cluster queries.

Second wave of driver-gate queries (same QuerySpec/oracle conventions as
plans/queries.py — see that module's docstring for the hash-parity rules):

- as-of join via the union-sentinel pattern (operators/asof.py) vs
  DuckDB's native ASOF LEFT JOIN — the scalable encoding of the
  "most recent state at event time" lookup;
- exact interpolated percentiles, CUBE grouping sets, pivot tables;
- semi/anti joins (EXISTS / NOT EXISTS shapes), INTERSECT/EXCEPT;
- running (prefix-window) aggregation;
- near-dup clusters: minhash-LSH candidate pairs → connected components
  (operators/components.py) vs a recursive-CTE oracle;
- HLL sketch distinct counts (rows-only; tolerance-tested in pytest).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.columns import (
    url_filter_rule_col,
    url_host_col,
    url_page_id_col,
    url_page_no_col,
)
from .queries import (
    H60_SQL,
    ORACLE_MINHASH_SIG,
    ORACLE_QUALITY,
    QUERIES,
    QuerySpec,
    _h60,
    _t,
    q_minhash_signatures,
)

LANGS = ["de", "en", "es", "fr", "zh"]


# === as-of join =============================================================

def q_asof_last_error(spark, sf):
    """As-of join: for every click event, the most recent error event by the
    same user at-or-before the click (union-sentinel: one shuffle on user_id,
    no inequality join — SURVEY §2.3 'idiomatic Spark fallout' made real)."""
    from ..operators.asof import asof_join

    ev = _t(spark, sf, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    errors = ev.where(F.col("event_type") == "error").select(
        "user_id",
        "ts",
        F.col("event_id").alias("err_id"),
        F.col("value").alias("err_value"),
    )
    joined = asof_join(
        clicks, errors, on="user_id", right_cols=["err_id", "err_value"],
        prefix="last_",
    )
    return joined.select(
        "event_id",
        "user_id",
        "last_err_id",
        F.round("last_err_value", 4).alias("last_err_value"),
    )


ORACLE_ASOF = """
SELECT c.event_id, c.user_id,
       e.event_id AS last_err_id,
       round(e.value, 4) AS last_err_value
FROM (SELECT * FROM events WHERE event_type = 'click') c
ASOF LEFT JOIN (
  -- pre-dedup to the greatest (event_id, value) payload per (user_id, ts):
  -- DuckDB's ASOF choice among equal-ts right rows is unspecified, while the
  -- Spark asof_join deterministically keeps the greatest payload tuple
  -- (operators/asof.py); deduping to that exact row makes both agree even if
  -- the fixture ever carries duplicate (user_id, ts) error events.
  SELECT * FROM events WHERE event_type = 'error'
  QUALIFY row_number() OVER (PARTITION BY user_id, ts
                             ORDER BY event_id DESC, value DESC) = 1
) e
  ON c.user_id = e.user_id AND e.ts <= c.ts
"""


# === percentiles / grouping sets / pivot ====================================

def q_value_percentiles(spark, sf):
    """Exact interpolated percentiles per event_type (single shuffle;
    at 100 TB swap F.percentile for percentile_approx — same plan shape)."""
    ev = _t(spark, sf, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.percentile("value", 0.5), 4).alias("p50"),
        F.round(F.percentile("value", 0.9), 4).alias("p90"),
        F.round(F.percentile("value", 0.99), 4).alias("p99"),
    )


ORACLE_PERCENTILES = """
SELECT event_type,
       round(quantile_cont(value, 0.5), 4) AS p50,
       round(quantile_cont(value, 0.9), 4) AS p90,
       round(quantile_cont(value, 0.99), 4) AS p99
FROM events GROUP BY event_type
"""


def q_cube_lineitem(spark, sf):
    """CUBE grouping sets over (returnflag, linestatus) — free in Catalyst
    (SURVEY §2.5 note: exposed because grouping sets cost one expand node)."""
    li = _t(spark, sf, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"),
        F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
    )


ORACLE_CUBE = """
SELECT l_returnflag, l_linestatus, count(*) AS n,
       round(sum(l_quantity), 4) AS sum_qty
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
"""


def q_lang_source_pivot(spark, sf):
    """Pivot: per-source language histogram as wide columns (explicit value
    list → no extra pass to discover pivot keys; nulls → 0 to match the
    conditional-aggregation oracle)."""
    docs = _t(spark, sf, "documents")
    wide = docs.groupBy("source").pivot("lang", LANGS).count()
    return wide.select(
        "source", *[F.coalesce(F.col(lang), F.lit(0)).alias(lang) for lang in LANGS]
    )


ORACLE_PIVOT = """
SELECT source,
       CAST(count_if(lang = 'de') AS BIGINT) AS de,
       CAST(count_if(lang = 'en') AS BIGINT) AS en,
       CAST(count_if(lang = 'es') AS BIGINT) AS es,
       CAST(count_if(lang = 'fr') AS BIGINT) AS fr,
       CAST(count_if(lang = 'zh') AS BIGINT) AS zh
FROM documents GROUP BY source
"""


def q_revenue_by_nation(spark, sf):
    """TPC-H Q5 shape: 6-table join (fact lineitem against orders + two
    nation-keyed dims + region), local-supplier condition, revenue agg.
    Dims are broadcast (hinted + under the 64 MB auto threshold); the only
    big shuffles are lineitem⋈orders and the final agg — Catalyst orders
    the rest."""
    li = _t(spark, sf, "lineitem")
    orders = _t(spark, sf, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    cust = _t(spark, sf, "customer")
    supp = _t(spark, sf, "supplier")
    nation = _t(spark, sf, "nation")
    region = _t(spark, sf, "region").where(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .where(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


ORACLE_REVENUE_NATION = """
SELECT n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
       count(*) AS n_lines
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE c_nationkey = s_nationkey
  AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY n_name
"""


# === semi / anti joins, set ops =============================================

def q_orders_with_heavy_lines(spark, sf):
    """LEFT SEMI join (EXISTS shape): orders having at least one heavy
    lineitem; the filter runs fact-side BEFORE the shuffle, the semi join
    never duplicates order rows."""
    orders, li = _t(spark, sf, "orders"), _t(spark, sf, "lineitem")
    heavy = li.where(F.col("l_quantity") >= 49)
    return (
        orders.join(heavy, orders.o_orderkey == heavy.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
    )


ORACLE_SEMI = """
SELECT o_orderpriority, count(*) AS n_orders
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_quantity >= 49)
GROUP BY o_orderpriority
"""


def q_customers_without_orders(spark, sf):
    """LEFT ANTI join (NOT EXISTS shape): customers with no high-value
    order, counted per market segment (threshold keeps both join sides
    non-degenerate at every sf)."""
    cust, orders = _t(spark, sf, "customer"), _t(spark, sf, "orders")
    pricey = orders.where(F.col("o_totalprice") >= 400000)
    return (
        cust.join(pricey, cust.c_custkey == pricey.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
    )


ORACLE_ANTI = """
SELECT c_mktsegment, count(*) AS n_customers
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice >= 400000)
GROUP BY c_mktsegment
"""


def q_user_segment_setops(spark, sf):
    """INTERSECT + EXCEPT: users who both clicked and signed up but never
    errored ((click ∩ signup) ∖ error — distinct set semantics)."""
    ev = _t(spark, sf, "events")

    def users(t: str, before: str):
        return (
            ev.where((F.col("event_type") == t) & (F.col("ts") < F.lit(before)))
            .select("user_id")
            .distinct()
        )

    return (
        users("click", "2024-01-03")
        .intersect(users("signup", "2024-01-03"))
        .subtract(users("error", "2024-01-02"))
    )


ORACLE_SETOPS = """
SELECT user_id FROM events
WHERE event_type = 'click' AND ts < TIMESTAMP '2024-01-03'
INTERSECT
SELECT user_id FROM events
WHERE event_type = 'signup' AND ts < TIMESTAMP '2024-01-03'
EXCEPT
SELECT user_id FROM events
WHERE event_type = 'error' AND ts < TIMESTAMP '2024-01-02'
"""


# === running window =========================================================

def q_user_running_value(spark, sf):
    """Running (prefix) sum per user over event time — ROWS UNBOUNDED
    PRECEDING frame, one shuffle on user_id, sequential in-frame
    accumulation (identical fp order on both engines)."""
    ev = _t(spark, sf, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(w), 4).alias("running_value"),
    )


ORACLE_RUNNING = """
SELECT event_id, user_id,
       round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING), 4) AS running_value
FROM events
"""


def q_sliding_hour_avg(spark, sf):
    """Event-time sliding aggregate: per event, the mean value of the same
    user's events in the trailing hour — RANGE frame over epoch seconds
    (one shuffle on user_id; the frame is evaluated with a moving pointer,
    not a self-join)."""
    ev = _t(spark, sf, "events")
    # whole-second epoch key on both engines (unix_timestamp floors; the
    # DuckDB oracle floors epoch() the same way); RANGE includes peers, so
    # intra-second order never matters
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-3600, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.avg("value").over(w), 4).alias("hour_avg"),
    )


ORACLE_SLIDING = """
SELECT event_id, user_id,
       round(avg(value) OVER (
           PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
           RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW), 4) AS hour_avg
FROM events
"""


def q_doc_length_histogram(spark, sf):
    """Equi-width histogram via width_bucket — the one-pass distributed
    histogram shape (no sort, one shuffle on the bucket id)."""
    docs = _t(spark, sf, "documents")
    return (
        docs.select(
            F.width_bucket(F.col("n_chars"), F.lit(0), F.lit(2000), F.lit(10)).alias(
                "bucket"
            )
        )
        .groupBy("bucket")
        .agg(F.count("*").alias("n_docs"))
    )


# DuckDB has no width_bucket scalar; the arithmetic emulation is exact
# for n_chars >= 0: bucket i covers [200*(i-1), 200*i), overflow bucket 11
ORACLE_LENGTH_HIST = """
SELECT CASE WHEN n_chars >= 2000 THEN CAST(11 AS BIGINT)
            ELSE CAST(n_chars // 200 + 1 AS BIGINT) END AS bucket,
       count(*) AS n_docs
FROM documents GROUP BY 1
"""


def q_priority_revenue_share(spark, sf):
    """Share-of-total via window over an aggregated frame: revenue per
    order priority and its fraction of the grand total (the window reads
    the 5-row aggregate, not the fact table)."""
    orders = _t(spark, sf, "orders")
    per = orders.groupBy("o_orderpriority").agg(
        F.sum("o_totalprice").alias("revenue")
    )
    # Unpartitioned window = single-partition WindowExec, which Spark warns
    # about — deliberate here: it runs over the 5-row priority aggregate
    # (one row per o_orderpriority), never the fact table. Bounded
    # cardinality at any scale; do not "fix" by partitioning.
    w = Window.partitionBy()
    return per.select(
        "o_orderpriority",
        F.round("revenue", 4).alias("revenue"),
        F.round(F.col("revenue") / F.sum("revenue").over(w), 6).alias("share"),
    )


ORACLE_REVENUE_SHARE = """
SELECT o_orderpriority,
       round(revenue, 4) AS revenue,
       round(revenue / sum(revenue) OVER (), 6) AS share
FROM (SELECT o_orderpriority, sum(o_totalprice) AS revenue
      FROM orders GROUP BY o_orderpriority)
"""


def q_edit_distance_pairs(spark, sf):
    """Levenshtein distance over all distinct source-name pairs (C-family
    string function breadth; the pair space is the tiny distinct set, the
    fact table is never self-joined)."""
    src = _t(spark, sf, "documents").select("source").distinct()
    a, b = src.alias("a"), src.alias("b")
    pairs = a.join(b, F.col("a.source") < F.col("b.source"))
    return pairs.select(
        F.col("a.source").alias("s1"),
        F.col("b.source").alias("s2"),
        F.levenshtein(F.col("a.source"), F.col("b.source")).alias("dist"),
    )


ORACLE_EDIT_DISTANCE = """
WITH s AS (SELECT DISTINCT source FROM documents)
SELECT a.source AS s1, b.source AS s2, levenshtein(a.source, b.source) AS dist
FROM s a JOIN s b ON a.source < b.source
"""


# === near-dup clusters (connected components) ===============================

def q_dup_clusters(spark, sf):
    """Near-dup clusters: 2-band minhash-LSH → **star contraction** →
    connected components → every doc labeled with its cluster id
    (singletons are their own cluster); 'keep one per cluster' dedup is
    then a trivial min-per-group.

    Star contraction is the at-scale move: a bucket of k colliding docs is
    a k-clique, and materializing its k²/2 candidate pairs explodes (this
    corpus has a 2,270-doc bucket → 2.6M pairs from one bucket). Instead
    each doc emits ONE edge to the min doc-id of its (band, bucket) —
    linear in docs, identical connectivity — and CC runs on the tiny star
    graph (bands chain through shared docs, so CC is genuinely needed)."""
    from ..operators.components import duplicate_clusters

    sig = q_minhash_signatures(spark, sf)
    stars = []
    for cols in (["m0", "m1"], ["m2", "m3"]):
        w = Window.partitionBy(*cols)
        stars.append(
            sig.select(
                F.col("doc_id").alias("da"),
                F.min("doc_id").over(w).alias("db"),
            ).where(F.col("db") < F.col("da"))
        )
    edges = stars[0].unionByName(stars[1])
    docs = _t(spark, sf, "documents")
    return duplicate_clusters(docs, edges, "doc_id", "da", "db")


# shared CTE chain: minhash sigs → star edges → symmetric closure →
# component per node (used by dup_clusters and cluster_keep_best)
_CLUSTER_CTES = f"""sig AS ({ORACLE_MINHASH_SIG}),
stars AS (
  SELECT doc_id AS da, min(doc_id) OVER (PARTITION BY m0, m1) AS db FROM sig
  UNION ALL
  SELECT doc_id AS da, min(doc_id) OVER (PARTITION BY m2, m3) AS db FROM sig
),
edges AS (SELECT da, db FROM stars WHERE db < da),
sym AS (
  SELECT da AS a, db AS b FROM edges
  UNION
  SELECT db AS a, da AS b FROM edges
),
reach(a, b) AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
),
comp AS (
  SELECT a AS node, least(a, min(b)) AS component
  FROM reach GROUP BY a
),
clusters AS (
  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS cluster
  FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
)"""

ORACLE_DUP_CLUSTERS = f"""
WITH RECURSIVE {_CLUSTER_CTES}
SELECT doc_id, cluster FROM clusters
"""


def _precise_dup_clusters(spark, sf):
    """Clusters from FULL-signature (all 4 minhash) collisions — the
    precision setting: only near-exact duplicates merge. The 2-band
    setting in q_dup_clusters maximizes recall and, on this fixture's
    deliberately tiny vocabulary, transitively over-merges (2 giant
    clusters at sf0.01) — fine for demonstrating the CC operator, wrong
    for a keep-one policy, hence the separate edge definition here."""
    from ..operators.components import duplicate_clusters

    sig = q_minhash_signatures(spark, sf)
    w = Window.partitionBy("m0", "m1", "m2", "m3")
    stars = sig.select(
        F.col("doc_id").alias("da"), F.min("doc_id").over(w).alias("db")
    ).where(F.col("db") < F.col("da"))
    docs = _t(spark, sf, "documents")
    return duplicate_clusters(docs, stars, "doc_id", "da", "db")


def q_cluster_keep_best(spark, sf):
    """End-to-end dedup POLICY: precise near-dup clusters (full-signature
    stars + connected components) joined to the quality score, keeping
    the highest-quality member per cluster (doc_id tie-break). This is
    the composite a training pipeline actually runs: cluster → rank →
    keep one; the cluster and quality building blocks are each
    independently oracle-verified."""
    from .queries import q_quality_score

    clusters = _precise_dup_clusters(spark, sf)
    quality = q_quality_score(spark, sf)
    joined = clusters.join(quality, "doc_id")
    w = Window.partitionBy("cluster")
    wo = w.orderBy(F.desc("quality_bp"), F.asc("doc_id"))
    return (
        joined.withColumn("rk", F.row_number().over(wo))
        .withColumn("n_members", F.count("*").over(w))
        .where(F.col("rk") == 1)
        .select(
            "cluster",
            F.col("doc_id").alias("keeper_id"),
            "quality_bp",
            "n_members",
        )
    )


def q_ann_batch_topk(spark, sf):
    """Batched ANN: top-5 neighbors for a batch of 3 query vectors in ONE
    pass over the embeddings table (broadcast queries → JVM dot products →
    per-query window rank). The serving shape: scan cost amortizes over
    the whole query batch."""
    from ..operators.similarity import batch_topk

    emb = _t(spark, sf, "embeddings")
    queries = emb.where(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    res = batch_topk(emb, queries, k=5)
    return res.select(
        "query_id", "vec_id", F.round("similarity", 4).alias("similarity")
    )


ORACLE_ANN_BATCH = """
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
  FROM embeddings WHERE vec_id IN (0, 1, 2)
), dots AS (
  SELECT q.query_id, e.vec_id,
         round(list_dot_product(q.qe, CAST(e.embedding AS DOUBLE[])), 6) AS sim
  FROM q CROSS JOIN embeddings e
), ranked AS (
  SELECT query_id, vec_id, sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, vec_id ASC) AS rk
  FROM dots
)
SELECT query_id, vec_id, round(sim, 4) AS similarity
FROM ranked WHERE rk <= 5
"""


def q_train_val_test_split(spark, sf):
    """Deterministic dataset splitting for training pipelines: split
    assignment is a pure function of the content hash (NOT random) —
    reproducible across runs, engines, and re-shards, and a document
    always lands in the same split even if the corpus is re-ingested.
    80/10/10 by hash bucket; output: per (lang, split) counts."""
    docs = _t(spark, sf, "documents")
    bucket = F.pmod(_h60(F.col("text")), F.lit(100))
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return (
        docs.select("lang", split.alias("split"))
        .groupBy("lang", "split")
        .agg(F.count("*").alias("n_docs"))
    )


def q_stratified_sample(spark, sf):
    """Deterministic stratified sampling: per-language rates applied via
    the content-hash bucket (en kept at 20%, others at 5%) — the
    reproducible form of ``sampleBy`` a training mixture needs (same
    rows selected on every run/engine/re-shard); output: kept counts and
    realized rate per language."""
    docs = _t(spark, sf, "documents")
    bucket = F.pmod(_h60(F.col("text")), F.lit(1000))
    keep = F.when(F.col("lang") == "en", bucket < 200).otherwise(bucket < 50)
    return (
        docs.select("lang", keep.cast("int").alias("kept"))
        .groupBy("lang")
        .agg(
            F.sum("kept").alias("n_sampled"),
            F.count("*").alias("n_total"),
            F.round(F.sum("kept") / F.count("*"), 4).alias("rate"),
        )
    )


_H60_TEXT = H60_SQL.format(x="text")
ORACLE_STRATIFIED = f"""
SELECT lang,
       CAST(sum(kept) AS BIGINT) AS n_sampled,
       count(*) AS n_total,
       round(CAST(sum(kept) AS DOUBLE) / count(*), 4) AS rate
FROM (
  SELECT lang,
         CASE WHEN lang = 'en' THEN CAST({_H60_TEXT} % 1000 < 200 AS INT)
              ELSE CAST({_H60_TEXT} % 1000 < 50 AS INT) END AS kept
  FROM documents
) GROUP BY lang
"""


ORACLE_SPLIT = f"""
SELECT lang,
       CASE WHEN {_H60_TEXT} % 100 < 80 THEN 'train'
            WHEN {_H60_TEXT} % 100 < 90 THEN 'val'
            ELSE 'test' END AS split,
       count(*) AS n_docs
FROM documents GROUP BY 1, 2
"""


# full-signature collision is an equivalence relation, so the oracle
# needs no recursive closure: cluster = min doc_id of the signature group
# (identical to CC over the full-signature star edges the Spark side runs)
ORACLE_CLUSTER_KEEP_BEST = f"""
WITH sig AS ({ORACLE_MINHASH_SIG}),
clusters AS (
  SELECT d.doc_id, coalesce(s.comp, d.doc_id) AS cluster
  FROM documents d LEFT JOIN (
    SELECT doc_id, min(doc_id) OVER (PARTITION BY m0, m1, m2, m3) AS comp
    FROM sig
  ) s ON s.doc_id = d.doc_id
),
quality AS ({ORACLE_QUALITY}),
ranked AS (
  SELECT cl.cluster, cl.doc_id, q.quality_bp,
         row_number() OVER (PARTITION BY cl.cluster
                            ORDER BY q.quality_bp DESC, cl.doc_id ASC) AS rk,
         count(*) OVER (PARTITION BY cl.cluster) AS n_members
  FROM clusters cl JOIN quality q ON q.doc_id = cl.doc_id
)
SELECT cluster, doc_id AS keeper_id, quality_bp, n_members
FROM ranked WHERE rk = 1
"""


# ONE copy of the SQL, run verbatim by BOTH engines (the Spark side
# registers the table under the oracle's name). The avg comparison is
# done in exact integer cents — price*count > sum — because a float avg
# computed under different summation orders can differ by 1 ulp between
# engines and flip rows sitting exactly on the mean (the same
# ties-at-the-boundary hazard quality_bp avoids with integer basis
# points).
_ABOVE_AVG_SQL_T = """
SELECT o_orderpriority,
       count(*) AS n_above_avg,
       round(sum(o_totalprice), 4) AS total_above
FROM {table} o
WHERE CAST(round(o_totalprice * 100) AS BIGINT) *
      (SELECT count(*) FROM {table} o2 WHERE o2.o_custkey = o.o_custkey)
    > (SELECT sum(CAST(round(o2.o_totalprice * 100) AS BIGINT))
       FROM {table} o2 WHERE o2.o_custkey = o.o_custkey)
GROUP BY o_orderpriority
"""

ORACLE_ABOVE_AVG = _ABOVE_AVG_SQL_T.format(table="orders")


def q_above_avg_orders_sql(spark, sf):
    """SQL-API + correlated scalar subqueries: orders strictly above their
    customer's average order value. Catalyst DECORRELATES both per-row
    subqueries into aggregates + joins (no per-row re-execution) — the
    SQL a reference user would write executes unchanged on this engine,
    modulo a QUERY-SCOPED view name (aao_orders) so a read-only query
    never clobbers a pre-existing session view named 'orders'."""
    _t(spark, sf, "orders").createOrReplaceTempView("aao_orders")
    return spark.sql(_ABOVE_AVG_SQL_T.format(table="aao_orders"))


# === multimodal =============================================================

def q_multimodal_image_features(spark, sf):
    """Multimodal plumbing end-to-end: deterministic fake image payloads
    (binary column + typed metadata) through the Arrow-batched decode/
    feature mapInPandas stage, including a corrupt payload that must
    quarantine into the error column rather than fail the task. Decode is
    a deterministic stand-in (real image libs absent here); the Spark-side
    schema/batching/quarantine is the real, tested surface. The driver
    hashes (dims, n_bytes, failed-flag) — the raw error TEXT depends on
    which codec library is present, so only its null-ness is part of the
    cross-engine contract (exact strings are pinned in pytest)."""
    from ..operators.multimodal import fake_image_bytes, image_features

    rows = [
        (f"img{i}", "image", fake_image_bytes(32 + i, 16 + i)) for i in range(20)
    ] + [("bad0", "image", b"\x00corrupt"), ("aud0", "audio", b"RIFFxxxx")]
    media = spark.createDataFrame(
        rows, "media_id string, kind string, payload binary"
    )
    return image_features(media).select(
        "media_id", "width", "height", "channels", "n_bytes",
        F.col("error").isNotNull().alias("failed"),
    )


# The oracle derives the expected features from the fixture CONSTRUCTION
# spec (fake_image_bytes: 16-byte SIMG header + min(w*h*c, 4096) pixel
# bytes), not by replaying the decode code — an independent derivation.
# aud0 is absent (kind filter); bad0 (8 bytes, no SIMG magic) quarantines.
ORACLE_MULTIMODAL_IMAGE = """
SELECT 'img' || CAST(i AS VARCHAR) AS media_id,
       CAST(32 + i AS INT) AS width,
       CAST(16 + i AS INT) AS height,
       CAST(3 AS INT) AS channels,
       CAST(16 + LEAST((32 + i) * (16 + i) * 3, 4096) AS BIGINT) AS n_bytes,
       false AS failed
FROM range(20) t(i)
UNION ALL
SELECT 'bad0', NULL, NULL, NULL, CAST(8 AS BIGINT), true
"""


# === sketches ===============================================================

def q_hll_distinct_tokens(spark, sf):
    """HLL++ sketch vs exact distinct token count per language — the
    at-scale cardinality path (sketches merge map-side; exact distinct
    shuffles every token). Spark's NATIVE approx_count_distinct stays in
    the plan (that is the operator under test — hll_portable covers the
    engine-portable sketch); the driver-verifiable output is the exact
    count plus the sketch's error CONTRACT (|est - exact| ≤ 5% at
    rsd=0.02), which is deterministic for a fixed input because the HLL++
    sketch is order- and partitioning-independent. Exact estimate values
    additionally pinned in pytest (tests/test_operators.py)."""
    docs = _t(spark, sf, "documents")
    toks = docs.select("lang", F.explode(F.split("text", " ")).alias("tok"))
    return (
        toks.groupBy("lang")
        .agg(
            F.countDistinct("tok").alias("n_exact"),
            F.approx_count_distinct("tok", 0.02).alias("n_hll"),
        )
        .select(
            "lang",
            "n_exact",
            (
                F.abs(F.col("n_hll") - F.col("n_exact"))
                <= 0.05 * F.col("n_exact")
            ).alias("hll_within_tol"),
        )
    )


ORACLE_HLL_DISTINCT_TOKENS = """
SELECT lang, count(DISTINCT tok) AS n_exact, true AS hll_within_tol
FROM (SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents)
GROUP BY lang
"""


# === response-data redaction ================================================

# reference middleware.py:310-313 — single source of truth lives in
# core.validation; the SQL list and the Spark array both derive from it
# so the three consumers can never drift (round-2 review finding).
from ..core.validation import SENSITIVE_KEY_SUBSTRINGS

_SENSITIVE_SQL = ",".join(f"'{s}'" for s in sorted(SENSITIVE_KEY_SUBSTRINGS))

REDACT_PROBES: list[tuple[int, str]] = [
    (9100001, '{"password": "hunter2", "user": "bob"}'),
    (9100002, '{"API_Key": "abc", "n": 3}'),          # ci + substring match
    (9100003, '{"monkey": "sees", "f": 1.5}'),        # 'key' substring hits
    (9100004, '{"clean": "data", "x": null}'),
    # dotted key: a JSON-path-based oracle would descend '$.secret.key'
    # instead of reading the literal key — both sides must take it literally
    (9100005, '{"user.name": "bob", "secret.key": "s"}'),
]
_REDACT_VALUES_SQL = ",\n    ".join(
    "({}, '{}')".format(pid, js.replace("'", "''")) for pid, js in REDACT_PROBES
)


def q_props_redacted(spark, sf):
    """Response-data sanitization (reference middleware.py:304-328) as a
    declarative per-entry redaction over flat JSON metadata: explode the
    top-level (key, value) pairs, replace values whose key contains any
    sensitive substring (case-insensitive) with '[REDACTED]'. Scalars
    stringify identically in both engines (from_json map<string,string>
    vs json_extract_string), probed with hostile rows carrying real
    secrets. Nested payloads go through the exact recursive mirror
    core.validation.sanitize_response_data (unit-tested)."""
    ev = _t(spark, sf, "events").select(
        F.col("event_id").cast("bigint").alias("id"), F.col("props").alias("js")
    )
    probes = spark.createDataFrame(REDACT_PROBES, "id bigint, js string")
    rows = ev.unionByName(probes)
    pairs = rows.select(
        "id",
        F.explode(F.from_json("js", "map<string,string>")).alias("key", "value"),
    )
    sensitive = F.exists(
        F.array(*[F.lit(s) for s in sorted(SENSITIVE_KEY_SUBSTRINGS)]),
        lambda s: F.lower(F.col("key")).contains(s),
    )
    return pairs.select(
        "id",
        "key",
        F.when(sensitive, F.lit("[REDACTED]")).otherwise(F.col("value"))
        .alias("value"),
    )


ORACLE_REDACTED = f"""
WITH rows_in AS (
  SELECT CAST(event_id AS BIGINT) AS id, props AS js FROM events
  UNION ALL
  SELECT * FROM (VALUES
    {_REDACT_VALUES_SQL}
  ) AS probes(id, js)
), pairs AS (
  -- literal-key extraction: CAST(json AS MAP) mirrors Spark's from_json
  -- map semantics exactly (scalars stringified, keys taken verbatim);
  -- a '$.' || key JSON path would be path-INJECTED by dotted keys
  SELECT id, u.key AS key, u.value AS value FROM (
    SELECT id, unnest(map_entries(CAST(json(js) AS MAP(VARCHAR, VARCHAR)))) AS u
    FROM rows_in
  )
)
SELECT id, key,
       CASE WHEN len(list_filter([{_SENSITIVE_SQL}],
                                 s -> contains(lower(key), s))) > 0
            THEN '[REDACTED]'
            ELSE value
       END AS value
FROM pairs
"""


# === portable deterministic HLL =============================================

# alpha_m for m=256 registers (Flajolet et al. HLL constant), and the
# whole numerator alpha*m^2*2^53 precomputed in Python so BOTH engines
# divide the same double literal by the same integer — no arithmetic to
# diverge.
_HLL_M = 256
_HLL_ALPHA = 0.7213 / (1 + 1.079 / _HLL_M)
_HLL_NUM = repr(_HLL_ALPHA * _HLL_M * _HLL_M * float(2**53))


def q_hll_portable(spark, sf):
    """Engine-portable deterministic HyperLogLog (p=8, 256 registers)
    built from the md5-based h60 hash: register = h mod 256, rho =
    leading-zero count of the remaining 52-bit field + 1 via the binary
    string length (integer-exact in both engines — float log2 rounds
    wrong near 2^k). The register-sum denominator is computed in INTEGER
    arithmetic (sum of 2^(53-M) as BIGINT, absent registers contribute
    2^53), so the estimate is bit-reproducible across engines, runs,
    and partitionings — unlike approx_count_distinct, whose
    Spark-internal xxhash sketch no other engine can replay. Sketch
    registers merge map-side (max per register), so the shuffle carries
    ≤ 256 rows per group at any corpus size."""
    docs = _t(spark, sf, "documents")
    toks = (
        docs.select("lang", F.explode(F.split("text", " ")).alias("tok"))
        .distinct()
    )
    hashed = toks.select("lang", _h60(F.col("tok")).alias("h"))
    rest = F.expr("h DIV 256")
    blen = F.when(rest == 0, F.lit(0)).otherwise(F.length(F.bin(rest)))
    regs = (
        hashed.select(
            "lang",
            F.pmod(F.col("h"), F.lit(256)).alias("reg"),
            (F.lit(53) - blen).cast("int").alias("rho"),
        )
        .groupBy("lang", "reg")
        .agg(F.max("rho").alias("m_j"))
    )
    per_lang = regs.groupBy("lang").agg(
        F.sum(F.expr("CAST(power(2, 53 - m_j) AS BIGINT)")).alias("s_present"),
        F.count("*").alias("n_regs"),
    )
    exact = (
        docs.select("lang", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("lang")
        .agg(F.countDistinct("tok").alias("n_exact"))
    )
    s_int = F.col("s_present") + (256 - F.col("n_regs")) * F.lit(2**53)
    raw = F.lit(float(_HLL_NUM)) / s_int
    v = 256 - F.col("n_regs")
    est = F.when(
        (raw <= 640) & (v > 0), 256 * F.log(256.0 / v)
    ).otherwise(raw)
    return per_lang.join(exact, "lang").select(
        "lang", "n_exact", F.round(est, 4).alias("hll_est")
    )


_H60_TOK = H60_SQL.format(x="tok")
ORACLE_HLL_PORTABLE = f"""
WITH toks AS (
  SELECT DISTINCT lang, unnest(string_split(text, ' ')) AS tok FROM documents
), regs AS (
  SELECT lang, {_H60_TOK} % 256 AS reg,
         max(CAST(53 - (CASE WHEN {_H60_TOK} // 256 = 0 THEN 0
                  ELSE length(bin({_H60_TOK} // 256)) END) AS INT)) AS m_j
  FROM toks GROUP BY lang, reg
), per_lang AS (
  SELECT lang,
         CAST(sum(CAST(power(2, 53 - m_j) AS BIGINT)) AS BIGINT) AS s_present,
         count(*) AS n_regs
  FROM regs GROUP BY lang
), exact AS (
  SELECT lang, count(DISTINCT tok) AS n_exact
  FROM (SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents)
  GROUP BY lang
)
SELECT p.lang, e.n_exact,
       round(CASE WHEN {_HLL_NUM} / (s_present + (256 - n_regs) * 9007199254740992) <= 640
                   AND 256 - n_regs > 0
                  THEN 256 * ln(256.0 / (256 - n_regs))
                  ELSE {_HLL_NUM} / (s_present + (256 - n_regs) * 9007199254740992)
             END, 4) AS hll_est
FROM per_lang p JOIN exact e ON e.lang = p.lang
"""


# === ordered-sequence funnel ================================================

def q_event_funnel(spark, sf):
    """Ordered conversion funnel view→click→purchase: each stage's
    timestamp must be at-or-after the previous stage's first timestamp.
    Three keyed aggregations over filtered subsets (every shuffle on
    user_id, partial aggregation map-side; no windows, no event lists in
    state — the unbounded-cardinality-safe funnel shape at 10^12 events)."""
    ev = _t(spark, sf, "events")
    views = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id").agg(F.min("ts").alias("t_view"))
    )
    clicks = (
        ev.where(F.col("event_type") == "click")
        .join(views, "user_id")
        .where(F.col("ts") >= F.col("t_view"))
        .groupBy("user_id").agg(F.min("ts").alias("t_click"))
    )
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .join(clicks, "user_id")
        .where(F.col("ts") >= F.col("t_click"))
        .groupBy("user_id").agg(F.min("ts").alias("t_purchase"))
    )
    funnel = (
        views.join(clicks, "user_id", "left")
        .join(purchases, "user_id", "left")
    )
    return funnel.agg(
        F.count("t_view").alias("n_viewers"),
        F.count("t_click").alias("n_clicked"),
        F.count("t_purchase").alias("n_purchased"),
        F.round(
            F.avg(
                F.unix_timestamp("t_purchase") - F.unix_timestamp("t_view")
            ), 2,
        ).alias("avg_view_to_purchase_sec"),
    )


ORACLE_FUNNEL = """
WITH views AS (
  SELECT user_id, min(ts) AS t_view FROM events
  WHERE event_type = 'view' GROUP BY user_id
), clicks AS (
  SELECT e.user_id, min(e.ts) AS t_click
  FROM events e JOIN views v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.ts >= v.t_view
  GROUP BY e.user_id
), purchases AS (
  SELECT e.user_id, min(e.ts) AS t_purchase
  FROM events e JOIN clicks c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= c.t_click
  GROUP BY e.user_id
)
SELECT count(v.t_view) AS n_viewers,
       count(c.t_click) AS n_clicked,
       count(p.t_purchase) AS n_purchased,
       round(avg(date_diff('second', v.t_view, p.t_purchase)), 2)
         AS avg_view_to_purchase_sec
FROM views v
LEFT JOIN clicks c ON c.user_id = v.user_id
LEFT JOIN purchases p ON p.user_id = v.user_id
"""


# === C11 human-readable file size ===========================================

def q_file_size_format(spark, sf):
    """C11 format_file_size (reference file_utils.py:188-206) as a native
    CASE ladder, exercised across B/KB/MB/GB brackets by synthesizing
    sizes from n_chars (quotients are dyadic rationals far from the .x5
    formatting tie, so Java HALF_UP and C printf agree byte-for-byte)."""
    from ..functions.columns import format_file_size_col

    docs = _t(spark, sf, "documents")
    sized = docs.select(
        "doc_id",
        (F.col("n_chars").cast("bigint") * 1_048_576 + F.col("doc_id"))
        .alias("sz"),
    )
    return sized.select(
        "doc_id", format_file_size_col(F.col("sz")).alias("human")
    )


ORACLE_FILE_SIZE = """
SELECT doc_id,
  CASE
    WHEN sz = 0 THEN '0B'
    WHEN sz < 1024 THEN printf('%.1fB', CAST(sz AS DOUBLE))
    WHEN sz < 1048576 THEN printf('%.1fKB', sz / 1024.0)
    WHEN sz < 1073741824 THEN printf('%.1fMB', sz / 1048576.0)
    WHEN sz < 1099511627776 THEN printf('%.1fGB', sz / 1073741824.0)
    ELSE printf('%.1fTB', sz / 1099511627776.0)
  END AS human
FROM (SELECT doc_id, CAST(n_chars AS BIGINT) * 1048576 + doc_id AS sz
      FROM documents)
"""


# === C17 deep-structure JSON validation (quarantine) ========================

# Hostile probe payloads appended to events.props in BOTH engines — same
# Python-generated literals, so the fixtures carry invalid rows without
# touching the parquet testdata. One single-violation probe per SQL-checkable
# constraint class (reference middleware.py:228-301).
JSON_PROBES: list[tuple[int, str]] = [
    (9000001, '{"k": 1}'),                                   # clean
    (9000002, "not json"),                                   # parse failure
    (9000003, '{"__proto__": 1}'),                           # suspicious key
    (9000004, '{"a": "<script>alert(1)"}'),                  # suspicious text
    (9000005, "{" + ",".join(f'"k{i}":1' for i in range(101)) + "}"),
    (9000006, '{"' + "k" * 101 + '": 1}'),                   # key too long
    (9000007, '{"a": "' + "x" * 10_001 + '"}'),              # string too long
    (9000008, '{"k": null}'),                                # clean (null ok)
    (9000009, '{"u": "data:text/html;base64,x"}'),           # data: URI
    (9000010, None),                                         # absent body: valid
]

# derived from the single-source sets (functions.json_guard /
# core.validation) so the declarative SQL and the recursive validator
# can't drift
from ..core.validation import DANGEROUS_CONTENT_PATTERNS as _DCP
from ..functions.json_guard import SUSPICIOUS_KEYS as _SUSP_KEYS

_SUSPICIOUS_KEYS_SQL = ",".join(f"'{k}'" for k in sorted(_SUSP_KEYS))

_SUSPICIOUS_RE = "(?i)(" + "|".join(_DCP) + ")"


def q_json_metadata_quarantine(spark, sf):
    """C17 deep-structure JSON validation, the SQL-expressible subset as a
    per-row verdict (reference middleware.py:228-301). Declarative checks:
    parseability, object key count ≤ 100, key length ≤ 100, suspicious key
    names (case-insensitive), raw payload length as the string-size bound
    (conservative: any >10000-char string value implies a >10000-char
    payload), and the reference's XSS regex over the raw text. Bounded
    depth / per-node numeric checks need recursion — those live in
    functions/json_guard.py's Arrow-batched validator (full reference
    semantics, golden-tested in pytest); this query is the cheap native
    pre-filter a 100 TB pipeline runs on every row first."""
    ev = _t(spark, sf, "events").select(
        F.col("event_id").cast("bigint").alias("id"), F.col("props").alias("js")
    )
    probes = spark.createDataFrame(JSON_PROBES, "id bigint, js string")
    rows = ev.unionByName(probes)
    checked = rows.select(
        "id",
        "js",
        F.try_parse_json("js").isNotNull().alias("ok"),
        F.json_object_keys("js").alias("ks"),
    )
    verdict = (
        # NULL body: reference validate_request_body skips validation
        # (json_guard.validate_json_text(None) -> None); the DuckDB CASE
        # falls through its NULL comparisons to 'valid', so Spark must
        # short-circuit the same way — ~try_parse_json(NULL).isNotNull()
        # is a real False, not NULL, and would otherwise mislabel it.
        F.when(F.col("js").isNull(), F.lit("valid"))
        .when(~F.col("ok"), F.lit("Invalid JSON format"))
        .when(F.size("ks") > 100, F.lit("JSON object too large"))
        .when(
            F.expr("array_max(transform(ks, x -> length(x)))") > 100,
            F.lit("JSON key too long"),
        )
        .when(
            F.expr(f"exists(ks, x -> lower(x) IN ({_SUSPICIOUS_KEYS_SQL}))"),
            F.lit("Suspicious JSON key"),
        )
        .when(F.length("js") > 10_000, F.lit("JSON string too long"))
        .when(
            F.expr(f"regexp_like(js, '{_SUSPICIOUS_RE}')"),
            F.lit("JSON contains suspicious content"),
        )
        .otherwise(F.lit("valid"))
    )
    return checked.select("id", verdict.alias("verdict"))


_PROBE_VALUES_SQL = ",\n    ".join(
    "({}, {})".format(
        pid,
        "CAST(NULL AS VARCHAR)" if js is None
        else "'{}'".format(js.replace("'", "''")),
    )
    for pid, js in JSON_PROBES
)
ORACLE_JSON_QUARANTINE = f"""
WITH rows_in AS (
  SELECT CAST(event_id AS BIGINT) AS id, props AS js FROM events
  UNION ALL
  SELECT * FROM (VALUES
    {_PROBE_VALUES_SQL}
  ) AS probes(id, js)
), checked AS (
  SELECT id, js, json_valid(js) AS ok,
         CASE WHEN json_valid(js) THEN json_keys(js) END AS ks
  FROM rows_in
)
SELECT id,
  CASE
    WHEN NOT ok THEN 'Invalid JSON format'
    WHEN len(ks) > 100 THEN 'JSON object too large'
    WHEN list_max(list_transform(ks, x -> length(x))) > 100
      THEN 'JSON key too long'
    WHEN len(list_filter(ks, x -> lower(x) IN ({_SUSPICIOUS_KEYS_SQL}))) > 0
      THEN 'Suspicious JSON key'
    WHEN length(js) > 10000 THEN 'JSON string too long'
    WHEN regexp_matches(js, '{_SUSPICIOUS_RE}')
      THEN 'JSON contains suspicious content'
    ELSE 'valid'
  END AS verdict
FROM checked
"""


EXT_QUERIES: dict[str, QuerySpec] = {
    "json_metadata_quarantine": QuerySpec(
        q_json_metadata_quarantine, ORACLE_JSON_QUARANTINE
    ),
    "file_size_format": QuerySpec(q_file_size_format, ORACLE_FILE_SIZE),
    "event_funnel": QuerySpec(q_event_funnel, ORACLE_FUNNEL),
    "asof_last_error": QuerySpec(q_asof_last_error, ORACLE_ASOF),
    "revenue_by_nation": QuerySpec(q_revenue_by_nation, ORACLE_REVENUE_NATION),
    "value_percentiles": QuerySpec(q_value_percentiles, ORACLE_PERCENTILES),
    "cube_lineitem": QuerySpec(q_cube_lineitem, ORACLE_CUBE),
    "lang_source_pivot": QuerySpec(q_lang_source_pivot, ORACLE_PIVOT),
    "orders_with_heavy_lines": QuerySpec(q_orders_with_heavy_lines, ORACLE_SEMI),
    "customers_without_orders": QuerySpec(q_customers_without_orders, ORACLE_ANTI),
    "user_segment_setops": QuerySpec(q_user_segment_setops, ORACLE_SETOPS),
    "user_running_value": QuerySpec(q_user_running_value, ORACLE_RUNNING),
    "sliding_hour_avg": QuerySpec(q_sliding_hour_avg, ORACLE_SLIDING),
    "ann_batch_topk": QuerySpec(q_ann_batch_topk, ORACLE_ANN_BATCH),
    "doc_length_histogram": QuerySpec(q_doc_length_histogram, ORACLE_LENGTH_HIST),
    "priority_revenue_share": QuerySpec(
        q_priority_revenue_share, ORACLE_REVENUE_SHARE
    ),
    "edit_distance_pairs": QuerySpec(q_edit_distance_pairs, ORACLE_EDIT_DISTANCE),
    "train_val_test_split": QuerySpec(q_train_val_test_split, ORACLE_SPLIT),
    "stratified_sample": QuerySpec(q_stratified_sample, ORACLE_STRATIFIED),
    "dup_clusters": QuerySpec(q_dup_clusters, ORACLE_DUP_CLUSTERS),
    "cluster_keep_best": QuerySpec(q_cluster_keep_best, ORACLE_CLUSTER_KEEP_BEST),
    "above_avg_orders_sql": QuerySpec(q_above_avg_orders_sql, ORACLE_ABOVE_AVG),
    "hll_distinct_tokens": QuerySpec(
        q_hll_distinct_tokens, ORACLE_HLL_DISTINCT_TOKENS
    ),
    "hll_portable": QuerySpec(q_hll_portable, ORACLE_HLL_PORTABLE),
    "props_redacted": QuerySpec(q_props_redacted, ORACLE_REDACTED),
    "multimodal_image_features": QuerySpec(
        q_multimodal_image_features, ORACLE_MULTIMODAL_IMAGE
    ),
}

# === webtext training-pipeline wave (round 3) ===============================
# Quality filtering and dedup shapes an LLM-data pipeline runs over raw web
# text (Gopher-style repetition/format rules, CCNet-style chunk dedup,
# per-domain stats, per-language length outliers). All native DataFrame —
# exact integer/ratio arithmetic so the DuckDB mirrors hash-match.


def q_gopher_quality_flags(spark, sf):
    """Gopher-style per-document quality signals (Rae et al. 2021 §A1.1,
    adapted to the fixture's line-less word stream): word count bounds,
    mean word length, alphabetic-word fraction, and the top-2-gram
    repetition fraction; ``keep`` is the conjunctive training-set filter.
    Two keyed shuffles on the exploded 2-gram table (count per (doc,gram),
    then per-doc max/total) — both map-side combinable, no windows over
    the corpus, holds at any scale."""
    docs = _t(spark, sf, "documents")
    ws = F.split(F.col("text"), " ")
    n_words = F.size(ws)
    mean_wlen = (F.length("text") - (n_words - 1)) / n_words
    alpha_frac = (
        F.size(F.filter(ws, lambda w: w.rlike("[A-Za-z]"))) / n_words
    )
    base = docs.select(
        "doc_id",
        n_words.alias("n_words"),
        mean_wlen.alias("mean_word_len"),
        alpha_frac.alias("alpha_frac"),
    )
    grams = (
        docs.where(F.size(ws) >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(split(text, ' ')) - 1), "
                    "i -> concat(element_at(split(text, ' '), i), ' ', "
                    "element_at(split(text, ' '), i + 1)))"
                )
            ).alias("gram"),
        )
        .groupBy("doc_id", "gram")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top2"), F.sum("c").alias("tot2"))
    )
    out = base.join(grams, "doc_id", "left").select(
        "doc_id",
        "n_words",
        "mean_word_len",
        "alpha_frac",
        (F.col("top2") / F.col("tot2")).alias("top2_frac"),
    )
    keep = (
        F.col("n_words").between(40, 1000)
        & F.col("mean_word_len").between(2.0, 12.0)
        & (F.col("alpha_frac") >= 0.8)
        & (F.col("top2_frac") <= 0.2)
    )
    return out.withColumn("keep", F.coalesce(keep, F.lit(False)))


ORACLE_GOPHER = """
WITH ws AS (
  SELECT doc_id, text, string_split(text, ' ') AS w FROM documents
), base AS (
  SELECT doc_id, len(w) AS n_words,
         (length(text) - (len(w) - 1)) / CAST(len(w) AS DOUBLE)
             AS mean_word_len,
         len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]')))
             / CAST(len(w) AS DOUBLE) AS alpha_frac
  FROM ws
), grams AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(w)),
                               i -> w[i] || ' ' || w[i + 1])) AS gram
  FROM ws WHERE len(w) >= 2
), gcounts AS (
  SELECT doc_id, gram, count(*) AS c FROM grams GROUP BY 1, 2
), g AS (
  SELECT doc_id, max(c) AS top2, CAST(sum(c) AS BIGINT) AS tot2
  FROM gcounts GROUP BY 1
)
SELECT base.doc_id, n_words, mean_word_len, alpha_frac,
       top2 / CAST(tot2 AS DOUBLE) AS top2_frac,
       coalesce(
         n_words BETWEEN 40 AND 1000
         AND mean_word_len BETWEEN 2.0 AND 12.0
         AND alpha_frac >= 0.8
         AND top2 / CAST(tot2 AS DOUBLE) <= 0.2,
         false) AS keep
FROM base LEFT JOIN g ON base.doc_id = g.doc_id
"""


def q_chunk_dedup_docs(spark, sf):
    """CCNet-style chunk-level exact dedup signal: split each document
    into non-overlapping 8-word chunks, hash them, and report per doc how
    many of its chunks appear more than once in the corpus. The global
    count is a map-side-combinable agg joined back through the hot/cold
    split (_hot_cold_join) — key size is constant, no text travels twice,
    and no reducer ever holds a hot chunk's occurrence set."""
    docs = _t(spark, sf, "documents")
    chunks = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, CAST(floor((size(split(text, ' ')) - 1) / 8)"
                " AS INT)), i -> concat_ws(' ', slice(split(text, ' '), i * 8 + 1, 8)))"
            )
        ).alias("chunk"),
    ).select("doc_id", F.md5("chunk").alias("h"))
    # NOT Window.partitionBy(h).count(): a boilerplate chunk shared by the
    # whole corpus would materialize its occurrence set on one reducer,
    # and AQE cannot skew-split the agg-fed join-back either — same
    # hot/cold split as the global sentence/span dedup
    stats = chunks.groupBy("h").agg(F.count("*").alias("n_global"))
    tagged = _hot_cold_join(chunks, stats, "n_global", 64)
    return (
        tagged.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(F.when(F.col("n_global") > 1, 1).otherwise(0)).cast(
                "bigint"
            ).alias("dup_chunks"),
        )
        .select(
            "doc_id",
            "n_chunks",
            "dup_chunks",
            (F.col("dup_chunks") / F.col("n_chunks")).alias("dup_frac"),
        )
    )


ORACLE_CHUNK_DEDUP = """
WITH ws AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), chunks AS (
  SELECT doc_id,
         md5(unnest(list_transform(
             range(0, CAST(floor((len(w) - 1) / 8) AS BIGINT) + 1),
             i -> array_to_string(list_slice(w, i * 8 + 1, i * 8 + 8), ' ')
         ))) AS h
  FROM ws
), tagged AS (
  SELECT doc_id, count(*) OVER (PARTITION BY h) AS n_global FROM chunks
)
SELECT doc_id, count(*) AS n_chunks,
       CAST(sum(CASE WHEN n_global > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS dup_chunks,
       sum(CASE WHEN n_global > 1 THEN 1 ELSE 0 END)
           / CAST(count(*) AS DOUBLE) AS dup_frac
FROM tagged GROUP BY doc_id
"""


def q_host_stats_salted(spark, sf):
    """Per-domain corpus stats over the (host-skewed) pages table with an
    explicit two-stage salted aggregation: partial agg on (host, salt of
    url-hash) spreads host0's 35% of all rows across 16 reducers before
    the tiny per-host final agg — the shape the 10^12-row north rule
    demands for skewed domains. n_langs stays exact via a keyed
    (host, lang) distinct instead of a count_distinct hot key."""
    from .queries import _pages_for_sf

    pages = _pages_for_sf(spark, sf)
    host = url_host_col("url")
    salted = pages.select(
        host.alias("host"),
        F.pmod(F.xxhash64("url"), F.lit(16)).alias("_salt"),
        F.octet_length("html").alias("b"),
    )
    partial = salted.groupBy("host", "_salt").agg(
        F.count("*").alias("pn"), F.sum("b").alias("pb")
    )
    stats = partial.groupBy("host").agg(
        F.sum("pn").alias("n_pages"),
        F.sum("pb").alias("total_html_bytes"),
    )
    langs = (
        pages.select(host.alias("host"), "lang")
        .distinct()
        .groupBy("host")
        .agg(F.count("*").alias("n_langs"))
    )
    return stats.join(langs, "host")


# The pages table is generated (deterministically) under /tmp by the Spark
# query itself before the oracle runs; the glob + filename filter picks the
# slice whose size matches the current sf (same orders-count inference as
# the golden oracles in plans/queries.py).
from .queries import _SF_TO_N_PAGES_SQL as _N_PAGES_SQL

# the FROM/WHERE of every oracle over the synthetic pages table
_PAGES_SRC = f"""
  FROM read_parquet('/tmp/spark_graft_pages/pages_n*_s42_v3.parquet/*.parquet',
                    filename=true)
  WHERE filename LIKE
        '%pages_n' || CAST({_N_PAGES_SQL} AS VARCHAR) || '_s42_v3.parquet%'
"""

ORACLE_HOST_STATS = f"""
SELECT regexp_extract(url, 'https?://([^/]+)/', 1) AS host,
       count(*) AS n_pages,
       CAST(sum(octet_length(html)) AS BIGINT) AS total_html_bytes,
       count(DISTINCT lang) AS n_langs
  {_PAGES_SRC}
GROUP BY 1
"""


def q_length_outliers_by_lang(spark, sf):
    """Per-language length-outlier filter (drop the shortest/longest 5%
    within each language), with EXACT percent_rank semantics but no
    per-language window: Window.partitionBy(lang) would put a whole
    language on one reducer (English is ~40% of the web). Instead the
    per-(lang, n_chars) counts aggregate map-side (at most
    n_langs x distinct-lengths rows — bounded by max document length,
    not corpus size), a tiny running window over THAT table yields each
    length's strictly-smaller count, and the rank table broadcasts back
    onto the docs scan — the corpus never shuffles at all.
    percent_rank == (strictly_smaller)/(n_lang - 1) reproduces the
    window function exactly, ties included."""
    docs = _t(spark, sf, "documents")
    cnt = docs.groupBy("lang", "n_chars").agg(F.count("*").alias("c"))
    wl = Window.partitionBy("lang").orderBy("n_chars")
    ranks = cnt.select(
        "lang",
        "n_chars",
        F.coalesce(
            F.sum("c").over(wl.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ).alias("smaller"),
        F.sum("c").over(
            Window.partitionBy("lang").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n_lang"),
    )
    pr = F.when(F.col("n_lang") > 1,
                F.col("smaller") / (F.col("n_lang") - 1).cast("double")
                ).otherwise(F.lit(0.0))
    return (
        docs.join(F.broadcast(ranks), ["lang", "n_chars"])
        .select("doc_id", "lang", "n_chars", pr.alias("length_pr"))
        .withColumn(
            "keep",
            (F.col("length_pr") >= 0.05) & (F.col("length_pr") <= 0.95),
        )
    )


ORACLE_LENGTH_OUTLIERS = """
SELECT doc_id, lang, n_chars,
       percent_rank() OVER (PARTITION BY lang ORDER BY n_chars) AS length_pr,
       percent_rank() OVER (PARTITION BY lang ORDER BY n_chars) >= 0.05
       AND percent_rank() OVER (PARTITION BY lang ORDER BY n_chars) <= 0.95
           AS keep
FROM documents
"""


def q_rare_token_fraction(spark, sf):
    """CCNet-style LM-quality proxy without the float hazard: per doc, the
    fraction of token occurrences whose corpus document frequency is below
    a rarity bound (perplexity filters rank docs by how surprising their
    tokens are; rare-token mass is the integer-exact analog, portable
    across engines where a sum of log-probs is not). Plan: one df agg over
    distinct (doc, token), broadcast-join the rare set back to the token
    stream, one per-doc agg — all keyed, map-side combinable."""
    docs = _t(spark, sf, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    df_counts = (
        toks.distinct().groupBy("tok").agg(F.count("*").alias("df"))
    )
    rare = df_counts.where(F.col("df") <= 20).select("tok")
    flagged = toks.join(F.broadcast(rare).withColumn("is_rare", F.lit(1)),
                        "tok", "left")
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.coalesce(F.col("is_rare"), F.lit(0))).cast("bigint")
            .alias("rare_tokens"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "rare_tokens",
            (F.col("rare_tokens") / F.col("n_tokens")).alias("rare_frac"),
        )
    )


ORACLE_RARE_TOKENS = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
), dfc AS (
  SELECT tok, count(*) AS df FROM (SELECT DISTINCT doc_id, tok FROM toks)
  GROUP BY tok
), rare AS (
  SELECT tok FROM dfc WHERE df <= 20
)
SELECT doc_id, count(*) AS n_tokens,
       CAST(sum(CASE WHEN rare.tok IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS rare_tokens,
       sum(CASE WHEN rare.tok IS NOT NULL THEN 1 ELSE 0 END)
           / CAST(count(*) AS DOUBLE) AS rare_frac
FROM toks LEFT JOIN rare ON toks.tok = rare.tok
GROUP BY doc_id
"""


def q_test_set_decontamination(spark, sf):
    """Train/test decontamination (GPT-3 appendix C shape): flag every
    training document sharing any 5-word shingle with the held-out test
    split (deterministic split: doc_id % 97 == 0 is 'test'). Shingles of
    the small test side broadcast; the train side left-semi-joins on the
    shingle string — no pair materialization, no all-pairs."""
    docs = _t(spark, sf, "documents")
    is_test = (F.col("doc_id") % 97) == 0

    def shingles(df):
        # guard: Spark's sequence(1, 0) runs DESCENDING, so short docs
        # must be filtered out rather than clamped
        return df.where(F.size(F.split(F.col("text"), " ")) >= 5).select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(split(text, ' ')) - 4), "
                    "i -> concat_ws(' ', slice(split(text, ' '), i, 5)))"
                )
            ).alias("sh"),
        )

    train_sh = shingles(docs.where(~is_test))
    test_sh = shingles(docs.where(is_test)).select("sh").distinct()
    contaminated = (
        train_sh.join(F.broadcast(test_sh), "sh", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("contaminated", F.lit(True))
    )
    return (
        docs.where(~is_test)
        .select("doc_id")
        .join(contaminated, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("contaminated"), F.lit(False)).alias("contaminated"),
        )
    )


ORACLE_DECONTAMINATION = """
WITH ws AS (
  SELECT doc_id, string_split(text, ' ') AS w, doc_id % 97 = 0 AS is_test
  FROM documents
), sh AS (
  SELECT doc_id, is_test,
         unnest(list_transform(range(1, greatest(len(w) - 4, 0) + 1),
                i -> array_to_string(list_slice(w, i, i + 4), ' '))) AS s
  FROM ws
), test_sh AS (
  SELECT DISTINCT s FROM sh WHERE is_test
)
SELECT ws.doc_id,
       coalesce(EXISTS (
         SELECT 1 FROM sh JOIN test_sh USING (s)
         WHERE sh.doc_id = ws.doc_id AND NOT sh.is_test
       ), false) AS contaminated
FROM ws WHERE NOT is_test
"""


def q_latest_snapshot_per_url(spark, sf):
    """Common-Crawl snapshot dedup: keep only the newest capture per url.
    The fixture pages table has one capture per url, so the query first
    builds a genuine multi-snapshot input (the JSON_PROBES pattern):
    every third url gains a re-crawl one hour later with a different
    lang marker, then a row_number window over (url, warc_ts DESC) keeps
    the latest. Window partitions are per-url (tiny) — no skew at any
    scale."""
    from .queries import _pages_for_sf

    pages = _pages_for_sf(spark, sf).select("url", "warc_ts", "lang")
    page_no = url_page_no_col("url")
    recrawl = (
        pages.where(page_no % 3 == 0)
        .select(
            "url",
            (F.col("warc_ts") + F.expr("INTERVAL 1 HOUR")).alias("warc_ts"),
            F.lit("recrawl").alias("lang"),
        )
    )
    snaps = pages.unionByName(recrawl)
    w = Window.partitionBy("url").orderBy(F.desc("warc_ts"))
    return (
        snaps.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("url", "warc_ts", "lang")
    )


ORACLE_LATEST_SNAPSHOT = f"""
WITH pages AS (
  SELECT url, warc_ts, lang
  {_PAGES_SRC}
), snaps AS (
  SELECT url, warc_ts, lang FROM pages
  UNION ALL
  SELECT url, warc_ts + INTERVAL 1 HOUR, 'recrawl'
  FROM pages
  -- TRY_CAST: urls without a digit suffix yield '' (→ NULL), mirroring
  -- the Spark side's try_cast-then-filter
  WHERE TRY_CAST(regexp_extract(url, '([0-9]+)$', 1) AS BIGINT) % 3 = 0
)
SELECT url, warc_ts, lang FROM (
  SELECT url, warc_ts, lang,
         row_number() OVER (PARTITION BY url ORDER BY warc_ts DESC) AS rn
  FROM snaps
) WHERE rn = 1
"""


WEB_QUERIES: dict[str, QuerySpec] = {
    "gopher_quality_flags": QuerySpec(q_gopher_quality_flags, ORACLE_GOPHER),
    "chunk_dedup_docs": QuerySpec(q_chunk_dedup_docs, ORACLE_CHUNK_DEDUP),
    "host_stats_salted": QuerySpec(q_host_stats_salted, ORACLE_HOST_STATS),
    "length_outliers_by_lang": QuerySpec(
        q_length_outliers_by_lang, ORACLE_LENGTH_OUTLIERS
    ),
    "rare_token_fraction": QuerySpec(q_rare_token_fraction, ORACLE_RARE_TOKENS),
    "test_set_decontamination": QuerySpec(
        q_test_set_decontamination, ORACLE_DECONTAMINATION
    ),
    "latest_snapshot_per_url": QuerySpec(
        q_latest_snapshot_per_url, ORACLE_LATEST_SNAPSHOT
    ),
}
EXT_QUERIES.update(WEB_QUERIES)


# === webtext wave B (round 3, second session) ================================
# Two more shapes a Common-Crawl-scale pipeline runs before the expensive
# extraction UDF: a fully-native page triage tier over the RAW html bytes,
# and URL canonicalization dedup (the crawl-frontier collapse).


def q_page_triage_native(spark, sf):
    """Declarative page-level triage tier ahead of the Arrow extraction UDF
    (the HTML analog of validate_json_tiered): native expressions on the
    raw html bytes compute the block classifier's page-level signals —
    anchor count, script count, markup-character share — so boilerplate-
    only pages (no prose mass) settle without crossing the Python
    boundary. Literal-substring counts use replace() arithmetic (zero
    regex-dialect risk); only the tag strip uses a regex whose semantics
    Java and RE2 share. One scan, zero shuffles, zero UDFs — the whole
    tier stays inside WholeStageCodegen, so at 10^12 rows it is scan-bound.
    Mirrors the reference's cheap-reject-before-OCR layering
    (file_validation.py: early magic/size rejects before processing)."""
    from .queries import _pages_for_sf

    pages = _pages_for_sf(spark, sf)
    # byte-prefix kind check on the BINARY column (no lossy cast first):
    # 0x3C = '<' — the html payloads; pdf/binary payloads go to the UDF
    # branch unconditionally and are not triaged here
    htmlish = pages.where(F.expr("startswith(html, X'3C')"))
    s = F.col("html").cast("string")
    n_anchor = (
        (F.length(s) - F.length(F.replace(s, F.lit("<a href")))) / 7
    ).cast("bigint")
    n_script = (
        (F.length(s) - F.length(F.replace(s, F.lit("<script")))) / 7
    ).cast("bigint")
    stripped = F.regexp_replace(s, "<[^>]*>", "")
    feat = htmlish.select(
        "url",
        n_anchor.alias("n_anchor"),
        n_script.alias("n_script"),
        F.length(s).alias("html_chars"),
        F.length(stripped).alias("text_chars"),
    )
    return feat.select(
        "url",
        "n_anchor",
        "n_script",
        "html_chars",
        "text_chars",
        (
            (F.col("html_chars") - F.col("text_chars"))
            / F.col("html_chars").cast("double")
        ).alias("markup_frac"),
        (F.col("text_chars") >= 200).alias("prose_keep"),
    )


ORACLE_PAGE_TRIAGE = f"""
WITH pages AS (
  SELECT url, decode(html) AS s
  {_PAGES_SRC}
    AND substr(hex(html), 1, 2) = '3C'
), feat AS (
  SELECT url,
         CAST((length(s) - length(replace(s, '<a href', ''))) / 7 AS BIGINT)
             AS n_anchor,
         CAST((length(s) - length(replace(s, '<script', ''))) / 7 AS BIGINT)
             AS n_script,
         length(s) AS html_chars,
         length(regexp_replace(s, '<[^>]*>', '', 'g')) AS text_chars
  FROM pages
)
SELECT url, n_anchor, n_script, html_chars, text_chars,
       (html_chars - text_chars) / CAST(html_chars AS DOUBLE) AS markup_frac,
       text_chars >= 200 AS prose_keep
FROM feat
"""


def q_url_canonical_dupes(spark, sf):
    """Crawl-frontier URL canonicalization dedup: scheme-case, host-case,
    tracking-parameter, fragment, and trailing-slash variants of the same
    resource collapse to one canonical key. The fixture's urls are already
    clean, so the query first synthesizes the variant traffic (the
    JSON_PROBES pattern): every fifth url gains an
    'HTTP://UPPERHOST…?utm_source=rss#frag' duplicate. One groupBy on the
    canonical string — key is bounded by url length, distribution is as
    uniform as the crawl itself, no skew beyond what host_stats_salted
    already handles."""
    from .queries import _pages_for_sf

    pages = _pages_for_sf(spark, sf).select("url")
    page_no = url_page_no_col("url")
    host = url_host_col("url")
    path = F.regexp_extract("url", r"^https?://[^/]+(.*)$", 1)
    variants = pages.where(page_no % 5 == 0).select(
        F.concat(
            F.lit("HTTP://"), F.upper(host), path, F.lit("?utm_source=rss#frag")
        ).alias("url")
    )
    allu = pages.unionByName(variants)
    # canonicalization ladder (each step a single anchored match — Spark's
    # replace-all and DuckDB's replace-first agree when ≤1 match exists)
    u1 = F.regexp_replace(F.col("url"), "#.*$", "")
    u2 = F.regexp_replace(u1, r"\?utm_[^#]*$", "")
    h2 = F.lower(F.regexp_extract(u2, "^[hH][tT][tT][pP][sS]?://([^/]+)", 1))
    p2 = F.regexp_extract(u2, "^[hH][tT][tT][pP][sS]?://[^/]+(.*)$", 1)
    canon = F.concat(F.lit("https://"), h2, F.regexp_replace(p2, "/$", ""))
    return (
        allu.select(canon.alias("canon_url"))
        .groupBy("canon_url")
        .agg(F.count("*").alias("n_variants"))
    )


ORACLE_URL_CANON = f"""
WITH pages AS (
  SELECT url
  {_PAGES_SRC}
), allu AS (
  SELECT url FROM pages
  UNION ALL
  SELECT 'HTTP://' || upper(regexp_extract(url, '^https?://([^/]+)', 1))
         || regexp_extract(url, '^https?://[^/]+(.*)$', 1)
         || '?utm_source=rss#frag'
  FROM pages
  WHERE TRY_CAST(regexp_extract(url, '([0-9]+)$', 1) AS BIGINT) % 5 = 0
), canon AS (
  SELECT 'https://'
         || lower(regexp_extract(
                regexp_replace(regexp_replace(url, '#.*$', ''),
                               '\\?utm_[^#]*$', ''),
                '^[hH][tT][tT][pP][sS]?://([^/]+)', 1))
         || regexp_replace(
                regexp_extract(
                    regexp_replace(regexp_replace(url, '#.*$', ''),
                                   '\\?utm_[^#]*$', ''),
                    '^[hH][tT][tT][pP][sS]?://[^/]+(.*)$', 1),
                '/$', '') AS canon_url
  FROM allu
)
SELECT canon_url, count(*) AS n_variants FROM canon GROUP BY 1
"""


WEB_QUERIES_B: dict[str, QuerySpec] = {
    "page_triage_native": QuerySpec(q_page_triage_native, ORACLE_PAGE_TRIAGE),
    "url_canonical_dupes": QuerySpec(q_url_canonical_dupes, ORACLE_URL_CANON),
}
EXT_QUERIES.update(WEB_QUERIES_B)


# === webtext wave C (round 3, second session) ================================
# PII scrubbing, cross-document boilerplate-line removal, and domain
# blocklist filtering — the remaining staples of a Common-Crawl training
# pipeline that the earlier waves don't cover. Same deterministic-injection
# pattern as url_canonical_dupes: the fixture corpus is clean, so each
# query first synthesizes the condition it removes.

# kept deliberately simple so Java (Spark) and RE2 (DuckDB) agree byte-
# for-byte: character classes, bounded repetition, no backrefs/lookaround
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"555-[0-9]{4}"


def q_pii_scrub_docs(spark, sf):
    """PII scrubbing pass (C4/RefinedWeb-style pre-training hygiene):
    count and redact e-mail addresses and phone numbers to [EMAIL] /
    [PHONE] placeholders. Every 7th doc first gains a deterministic
    contact line (the fixture corpus is clean), so the scrubber has real
    targets and the oracle pins exact counts + an md5 of the scrubbed
    text. Pure per-row expressions — no shuffle at all; at 10^12 rows
    this is a scan-bound map stage that fuses into whatever runs next.
    Parity note: DuckDB regexp_replace is replace-FIRST by default, so
    the oracle passes the 'g' flag to match Spark's replace-all."""
    docs = _t(spark, sf, "documents")
    injected = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.col("text"),
                F.lit(" Contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com or call 555-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                F.lit(" now."),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(F.col("text"), PII_EMAIL_RE, "[EMAIL]"),
        PII_PHONE_RE,
        "[PHONE]",
    )
    return injected.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(PII_EMAIL_RE), 0))
        .cast("bigint")
        .alias("n_emails"),
        F.size(F.regexp_extract_all("text", F.lit(PII_PHONE_RE), 0))
        .cast("bigint")
        .alias("n_phones"),
        F.length(scrubbed).cast("bigint").alias("scrub_chars"),
        F.md5(scrubbed).alias("scrub_hash"),
    )


ORACLE_PII_SCRUB = r"""
WITH injected AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN
           text || ' Contact user' || CAST(doc_id AS VARCHAR)
                || '@example.com or call 555-'
                || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' now.'
         ELSE text END AS text
  FROM documents
), scrub AS (
  SELECT doc_id, text,
         regexp_replace(
             regexp_replace(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                 '[EMAIL]', 'g'),
             '555-[0-9]{4}', '[PHONE]', 'g') AS s
  FROM injected
)
SELECT doc_id,
       CAST(len(regexp_extract_all(text,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
           AS n_emails,
       CAST(len(regexp_extract_all(text, '555-[0-9]{4}')) AS BIGINT)
           AS n_phones,
       CAST(length(s) AS BIGINT) AS scrub_chars,
       md5(s) AS scrub_hash
FROM scrub
"""


_BOILER_A = "subscribe to our newsletter for updates"
_BOILER_B = "all rights reserved example corp"


def q_boilerplate_line_strip(spark, sf):
    """CCNet-style cross-document boilerplate-line removal: lines that
    recur in ≥2% of DISTINCT documents are navigation/footer chrome, not
    prose, and are stripped before training. The fixture has no newlines,
    so 'lines' are the 10-word chunks of each doc, plus injected footer
    lines (every 3rd doc gains a newsletter line, every 4th a copyright
    line) appended with large position keys to preserve order. Plan
    shape at 10^12 docs: one shuffle of (line, doc_id) for the distinct-
    doc frequency, the frequent-line set is tiny (boilerplate by
    definition) → broadcast hash join back, one per-doc agg to reassemble
    the kept text in position order. No all-pairs anything."""
    docs = _t(spark, sf, "documents")
    organic = docs.select(
        "doc_id",
        F.posexplode(
            F.expr(
                "transform(sequence(0, CAST(floor((size(split(text, ' ')) - 1)"
                " / 10) AS INT)), i -> concat_ws(' ',"
                " slice(split(text, ' '), i * 10 + 1, 10)))"
            )
        ).alias("pos", "line"),
    )
    footer_a = docs.where(F.col("doc_id") % 3 == 0).select(
        "doc_id", F.lit(100000).alias("pos"), F.lit(_BOILER_A).alias("line")
    )
    footer_b = docs.where(F.col("doc_id") % 4 == 0).select(
        "doc_id", F.lit(100001).alias("pos"), F.lit(_BOILER_B).alias("line")
    )
    lines = organic.unionByName(footer_a).unionByName(footer_b)
    n_docs = docs.select(F.count("*").alias("n_docs"))
    freq = lines.groupBy("line").agg(
        F.count_distinct("doc_id").alias("nd")
    )
    boiler = (
        freq.crossJoin(F.broadcast(n_docs))
        .where(F.col("nd") >= 0.02 * F.col("n_docs"))
        .select("line", F.lit(True).alias("is_boiler"))
    )
    flagged = lines.join(F.broadcast(boiler), "line", "left")
    kept_struct = F.when(
        F.col("is_boiler").isNull(), F.struct("pos", "line")
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(
                F.when(F.col("is_boiler"), 1).otherwise(0)
            ).cast("bigint").alias("n_boiler"),
            F.array_sort(F.collect_list(kept_struct)).alias("kept"),
        )
        .select(
            "doc_id",
            "n_lines",
            "n_boiler",
            F.md5(
                F.concat_ws("\n", F.expr("transform(kept, s -> s.line)"))
            ).alias("kept_hash"),
        )
    )


ORACLE_BOILER_STRIP = f"""
WITH organic AS (
  SELECT doc_id, u.pos AS pos, u.line AS line
  FROM (SELECT doc_id,
               unnest(list_transform(
                   range(0, CAST(floor((len(string_split(text, ' ')) - 1)
                                 / 10) AS BIGINT) + 1),
                   i -> struct_pack(
                       pos := i,
                       line := array_to_string(
                           list_slice(string_split(text, ' '),
                                      i * 10 + 1, i * 10 + 10), ' '))
               )) AS u
        FROM documents) t
), lines AS (
  SELECT * FROM organic
  UNION ALL
  SELECT doc_id, 100000, '{_BOILER_A}' FROM documents WHERE doc_id % 3 = 0
  UNION ALL
  SELECT doc_id, 100001, '{_BOILER_B}' FROM documents WHERE doc_id % 4 = 0
), freq AS (
  SELECT line, count(DISTINCT doc_id) AS nd FROM lines GROUP BY line
), boiler AS (
  SELECT line FROM freq
  WHERE nd >= 0.02 * (SELECT count(*) FROM documents)
)
SELECT l.doc_id,
       count(*) AS n_lines,
       CAST(sum(CASE WHEN b.line IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_boiler,
       md5(coalesce(string_agg(CASE WHEN b.line IS NULL THEN l.line END,
                               chr(10) ORDER BY l.pos), '')) AS kept_hash
FROM lines l LEFT JOIN boiler b ON l.line = b.line
GROUP BY l.doc_id
"""


def q_domain_blocklist_filter(spark, sf):
    """Crawl URL filtering against a domain blocklist (the C4 'bad
    domains' gate): in production the blocklist is an external relation
    of a few hundred thousand hosts, so the operator form is a BROADCAST
    LEFT ANTI join on host — not a WHERE clause — and that is what this
    query exercises. The blocklist here is derived deterministically
    (every 13th host) so the oracle can rebuild it. Output is surviving
    pages per host; at 10^12 rows the anti join is map-side (no shuffle
    of the fact table) and the per-host agg is the only Exchange."""
    from .queries import _pages_for_sf

    pages = _pages_for_sf(spark, sf).select(
        F.col("url"),
        url_host_col("url").alias("host"),
    )
    host_no = F.regexp_extract("host", r"host([0-9]+)", 1).try_cast("bigint")
    blocklist = (
        pages.select("host", host_no.alias("host_no"))
        .where(F.col("host_no") % 13 == 0)
        .select("host")
        .distinct()
    )
    kept = pages.join(F.broadcast(blocklist), "host", "left_anti")
    return kept.groupBy("host").agg(F.count("*").alias("n_kept"))


ORACLE_BLOCKLIST = f"""
WITH pages AS (
  SELECT regexp_extract(url, '^https?://([^/]+)', 1) AS host
  {_PAGES_SRC}
), block AS (
  SELECT DISTINCT host FROM pages
  WHERE TRY_CAST(regexp_extract(host, 'host([0-9]+)', 1) AS BIGINT) % 13 = 0
)
SELECT host, count(*) AS n_kept
FROM pages ANTI JOIN block USING (host)
GROUP BY host
"""


def q_token_shard_packing(spark, sf):
    """Token-budget shard packing: assign every document to a training
    shard holding ≤4096 tokens (greedy start-offset rule), the step that
    turns a filtered corpus into fixed-size training files. The scalable
    encoding is a bucketed prefix sum: docs are spread over 32 hash
    buckets (deterministic md5 of doc_id — re-shard-stable like
    train_val_test_split), each bucket packs independently with one
    bounded window (cumsum over the bucket's hash order), and the global
    shard key is (bucket, local_shard). No global sort, no single-
    partition window: at 10^12 docs the bucket count simply scales with
    the cluster, and every window partition is 1/B of the corpus.
    shard_id = floor((cumsum - n_tokens) / budget) places a doc by its
    START offset, so a shard overflows by at most one document — the
    standard greedy packing semantics."""
    docs = _t(spark, sf, "documents")
    budget = 4096
    toks = docs.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
        F.md5(F.col("doc_id").cast("string")).alias("key"),
    ).withColumn(
        "bucket", F.pmod(F.conv(F.substring("key", 1, 6), 16, 10)
                         .cast("bigint"), F.lit(32))
    )
    w = Window.partitionBy("bucket").orderBy("key")
    packed = toks.withColumn("cum", F.sum("n_tokens").over(w)).select(
        "doc_id",
        "bucket",
        "n_tokens",
        F.floor((F.col("cum") - F.col("n_tokens")) / budget).alias(
            "local_shard"
        ),
    )
    return packed.groupBy("bucket", "local_shard").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("shard_tokens"),
        F.min("doc_id").alias("first_doc"),
    )


ORACLE_SHARD_PACKING = """
WITH toks AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         md5(CAST(doc_id AS VARCHAR)) AS key
  FROM documents
), bucketed AS (
  SELECT *,
         CAST(from_hex(substr(key, 1, 6))::BIT::BIGINT % 32 AS BIGINT)
             AS bucket
  FROM toks
), packed AS (
  SELECT doc_id, bucket, n_tokens,
         CAST(floor((sum(n_tokens) OVER (PARTITION BY bucket ORDER BY key)
                     - n_tokens) / 4096) AS BIGINT) AS local_shard
  FROM bucketed
)
SELECT bucket, local_shard, count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS shard_tokens,
       min(doc_id) AS first_doc
FROM packed GROUP BY bucket, local_shard
"""


WEB_QUERIES_C: dict[str, QuerySpec] = {
    "pii_scrub_docs": QuerySpec(q_pii_scrub_docs, ORACLE_PII_SCRUB),
    "boilerplate_line_strip": QuerySpec(
        q_boilerplate_line_strip, ORACLE_BOILER_STRIP
    ),
    "domain_blocklist_filter": QuerySpec(
        q_domain_blocklist_filter, ORACLE_BLOCKLIST
    ),
    "token_shard_packing": QuerySpec(
        q_token_shard_packing, ORACLE_SHARD_PACKING
    ),
}
EXT_QUERIES.update(WEB_QUERIES_C)


# === webtext wave D: link graph, native model scoring, domain caps, =========
# === Bloom frontier =========================================================

def _host_links(pages):
    """The synthetic host link graph that pagerank_hosts, hits_hosts,
    crawl_depth_bfs and host_triangle_count run on: two links per page,
    from its host to host{(7i + 1) % 50} and to host{i % 10} (i = the
    page id), self-links dropped. The fixture's own anchors are all
    same-host relative links, so the targets are derived from the page id
    instead. One (src, dst) row per link; callers aggregate."""
    i = url_page_id_col("url")
    links = pages.select(url_host_col("url").alias("src"), i.alias("i"))

    def dst(expr):
        return F.concat(F.lit("host"), expr.cast("string"), F.lit(".example"))

    return (
        links.select("src", dst((F.col("i") * 7 + 1) % 50).alias("dst"))
        .unionByName(links.select("src", dst(F.col("i") % 10).alias("dst")))
        .where(F.col("src") != F.col("dst"))
    )


def _host_edges(spark, sf):
    """The weighted host graph of the four graph queries: one (src, dst)
    row per host pair of _host_links, w = its link count. Page-scale data
    is touched once, here; everything after shuffles O(host pairs)."""
    from .queries import _pages_for_sf

    return (
        _host_links(_pages_for_sf(spark, sf))
        .groupBy("src", "dst")
        .agg(F.count("*").alias("w"))
    )


def _hosts(edges):
    """The node set (one ``host`` row each) of a _host_edges graph."""
    return (
        edges.select(F.col("src").alias("host"))
        .unionByName(edges.select(F.col("dst").alias("host")))
        .distinct()
    )


# DuckDB mirror of _host_links: the CTEs links(src, i) and
# host_links(src, dst), for the four graph oracles to build on
_HOST_LINKS_SQL = f"""links AS (
  SELECT regexp_extract(url, 'https?://([^/]+)/', 1) AS src,
         TRY_CAST(regexp_extract(url, '([0-9]+)(\\.pdf)?$', 1) AS BIGINT) AS i
  {_PAGES_SRC}
), host_links AS (
  SELECT src, dst FROM (
    SELECT src, 'host' || CAST((i * 7 + 1) % 50 AS VARCHAR) || '.example'
               AS dst
    FROM links
    UNION ALL
    SELECT src, 'host' || CAST(i % 10 AS VARCHAR) || '.example' AS dst
    FROM links
  ) WHERE src <> dst
)"""

_PR_SCALE = 10**12  # integer-scaled rank mass (exact in both engines)
_PR_ITERS = 3


def q_pagerank_hosts(spark, sf):
    """Host-level PageRank over the crawl link graph — the canonical
    iterative DataFrame algorithm (crawl prioritization / domain authority
    for training-data curation). The synthetic links of _host_links are
    aggregated to a weighted host graph: page-scale data is touched
    exactly once (the edge aggregation); every iteration after that
    shuffles only the host graph — O(active host pairs), corpus-size-
    independent — so 10^12 pages cost one corpus pass plus iterations
    over a relation ~4 orders of magnitude smaller.

    Float PageRank sums diverge across engines (addition order), so ranks
    are integer-scaled (_PR_SCALE total mass) and every step uses integer
    division (`div` / `//`): contributions and damping round identically
    in Spark and DuckDB, making 3 full iterations hash-exact. Top-10 uses
    a (rank DESC, host) total order so the LIMIT cutoff is deterministic.
    The host count is a one-row aggregate inside the plan, never a
    driver-side count."""
    edges = _host_edges(spark, sf)
    outw = edges.groupBy("src").agg(F.sum("w").alias("out_w"))
    nodes = _hosts(edges)
    n = F.broadcast(nodes.agg(F.count("*").alias("n")))
    rank = nodes.crossJoin(n).select(
        "host", F.expr(f"{_PR_SCALE} div n").alias("rank")
    )
    # Join strategy is deliberately left to AQE: outw/rank/contrib are all
    # O(hosts) relations — tiny here (50 rows → runtime broadcast), but at
    # the real web's ~10^8 hosts they are NOT broadcastable and the same
    # plan degrades gracefully to shuffled joins co-partitioned on the
    # host key. Forcing broadcast() would bake the fixture's scale into
    # the plan; the iteration is correct at either extreme as written.
    for _ in range(_PR_ITERS):
        contrib = (
            edges.join(outw, "src")
            .join(rank.withColumnRenamed("host", "src"), "src")
            .select(
                F.col("dst").alias("host"),
                F.expr("rank * w div out_w").alias("c"),
            )
            .groupBy("host")
            .agg(F.sum("c").alias("m"))
        )
        rank = nodes.join(contrib, "host", "left").crossJoin(n).select(
            "host",
            F.expr(
                f"{_PR_SCALE * 15} div (100 * n)"
                " + coalesce(m, 0L) * 85 div 100"
            ).alias("rank"),
        )
    return rank.orderBy(F.desc("rank"), "host").limit(10)


_PR_BASE_SQL = (
    f"(SELECT {_PR_SCALE} * 15 // (100 * count(*)) FROM nodes)"
)


def _pr_iter_cte(prev: str, cur: str) -> str:
    return f"""{cur} AS (
  SELECT n.host, {_PR_BASE_SQL} + COALESCE(c.m, 0) * 85 // 100 AS rank
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS host,
           CAST(sum(r.rank * e.w // o.out_w) AS BIGINT) AS m
    FROM edges e JOIN outw o ON e.src = o.src
                 JOIN {prev} r ON r.host = e.src
    GROUP BY e.dst
  ) c ON n.host = c.host
)"""


_PR_ITER_CTES = ",\n".join(
    _pr_iter_cte(f"it{k - 1}" if k > 1 else "r0", f"it{k}")
    for k in range(1, _PR_ITERS + 1)
)

ORACLE_PAGERANK = f"""
WITH {_HOST_LINKS_SQL}, edges AS (
  SELECT src, dst, count(*) AS w FROM host_links GROUP BY 1, 2
), outw AS (
  SELECT src, CAST(sum(w) AS BIGINT) AS out_w FROM edges GROUP BY 1
), nodes AS (
  SELECT src AS host FROM edges UNION SELECT dst FROM edges
), r0 AS (
  SELECT host, {_PR_SCALE} // (SELECT count(*) FROM nodes) AS rank FROM nodes
),
{_PR_ITER_CTES}
SELECT host, rank FROM it{_PR_ITERS} ORDER BY rank DESC, host LIMIT 10
"""


# fasttext-style hashed-feature linear scorer: one weight template, two
# engine renderings — the weight table IS the hash arithmetic, so scoring
# a token never touches a lookup table or a UDF.
_W_TOKEN_TMPL = "((({h}) % 4096) * 2654435761) % 1001 - 500"
_W_SPARK = _W_TOKEN_TMPL.format(
    h="cast(conv(substring(md5(t), 1, 15), 16, 10) as bigint)"
)
_W_DUCK = _W_TOKEN_TMPL.format(h=H60_SQL.format(x="t"))


def q_quality_linear_score(spark, sf):
    """Quality-classifier inference as a pure Spark expression: a
    fasttext-style linear model over hashed bag-of-words features
    (feature id = portable 60-bit token hash % 4096; weight = integer
    hash of the feature id in [-500, 500]). The per-document score is a
    HOF `aggregate` fold over split(text) — zero shuffle, zero Python,
    whole-stage-codegen — so model scoring adds NOTHING to the corpus
    pass at 10^12 docs; the only Exchange is the tiny (lang, keep)
    summary agg. Integer weights keep the fold order-insensitive and
    hash-exact across engines (a float dot product would not be)."""
    docs = _t(spark, sf, "documents")
    score = F.expr(
        "aggregate(split(text, ' '), 0L, (acc, t) -> acc + " + _W_SPARK + ")"
    )
    return (
        docs.select("lang", score.alias("score"))
        .select("lang", (F.col("score") > 0).alias("keep"), "score")
        .groupBy("lang", "keep")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("score").alias("sum_score"),
            F.min("score").alias("min_score"),
            F.max("score").alias("max_score"),
        )
    )


ORACLE_QUALITY_LINEAR = f"""
WITH scored AS (
  SELECT lang,
         list_reduce(
           list_prepend(CAST(0 AS BIGINT),
             list_transform(string_split(text, ' '),
                            t -> {_W_DUCK})),
           (acc, v) -> acc + v) AS score
  FROM documents
)
SELECT lang, score > 0 AS keep, count(*) AS n_docs,
       CAST(sum(score) AS BIGINT) AS sum_score,
       min(score) AS min_score, max(score) AS max_score
FROM scored GROUP BY 1, 2
"""


_CAP_K = 100
_SIG_MOD = 1_000_000_007


def q_domain_cap_sample(spark, sf):
    """C4-style per-domain page cap: keep at most _CAP_K pages per host,
    chosen by a pure url-hash order (re-crawl-stable — the SAME pages
    survive on every run and engine, unlike rand()-based sampling).
    Scalable encoding is the two-stage rank from ann_batch_topk: stage 1
    ranks within (host, salt-of-url) so a hot host's window partition is
    1/16th of its rows; stage 2 ranks the ≤16·K survivors per host. The
    result is row-identical to a single global per-host window (the salt
    only partitions the candidate generation, never the final order), so
    the oracle is the plain one-window form. kept_sig pins WHICH pages
    survived (sum of key % {_SIG_MOD}), not just how many."""
    from .queries import _pages_for_sf

    pages = _pages_for_sf(spark, sf)
    host = url_host_col("url")
    keyed = pages.select(
        host.alias("host"), "url", _h60(F.col("url")).alias("key")
    )
    w1 = Window.partitionBy("host", "salt").orderBy("key", "url")
    stage1 = (
        keyed.withColumn("salt", F.pmod(F.xxhash64("url"), F.lit(16)))
        .withColumn("rn1", F.row_number().over(w1))
        .where(F.col("rn1") <= _CAP_K)
    )
    w2 = Window.partitionBy("host").orderBy("key", "url")
    kept = (
        stage1.withColumn("rn", F.row_number().over(w2))
        .where(F.col("rn") <= _CAP_K)
    )
    kept_stats = kept.groupBy("host").agg(
        F.count("*").alias("n_kept"),
        F.sum(F.col("key") % _SIG_MOD).alias("kept_sig"),
    )
    totals = keyed.groupBy("host").agg(F.count("*").alias("n_total"))
    return totals.join(kept_stats, "host").select(
        "host", "n_total", "n_kept", "kept_sig"
    )


ORACLE_DOMAIN_CAP = f"""
WITH keyed AS (
  SELECT regexp_extract(url, 'https?://([^/]+)/', 1) AS host, url,
         {H60_SQL.format(x="url")} AS key
  {_PAGES_SRC}
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY host ORDER BY key, url) AS rn
  FROM keyed
)
SELECT host, count(*) AS n_total,
       CAST(sum(CASE WHEN rn <= {_CAP_K} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_kept,
       CAST(sum(CASE WHEN rn <= {_CAP_K} THEN key % {_SIG_MOD} ELSE 0 END)
            AS BIGINT) AS kept_sig
FROM ranked GROUP BY host
"""


_BLOOM_M = 16384
_BLOOM_K = 3


def q_bloom_url_seen(spark, sf):
    """Crawl-frontier 'seen URL' filter as a PORTABLE Bloom filter (the
    sketch companion to hll_portable): k={_BLOOM_K} bit positions per url
    from the 60-bit md5 hash, m={_BLOOM_M} bits. Build side = even page
    ids, probe side = odd page ids, so every flagged probe is a measured
    FALSE POSITIVE — the query reports the realized FP count against the
    bit-occupancy that produced it. The bit set is ≤m rows regardless of
    corpus size: it broadcasts to the probe side (map-side semi-join), so
    at 10^12 urls the frontier check adds no shuffle to the probe scan —
    the same replayable-sketch story as the HLL (any engine that can md5
    can reproduce the exact same bits)."""
    from .queries import _pages_for_sf

    pages = _pages_for_sf(spark, sf)
    page_i = url_page_id_col("url")
    pos = F.array(
        *[
            F.pmod(
                _h60(F.concat(F.col("url"), F.lit(f"#b{j}"))),
                F.lit(_BLOOM_M),
            )
            for j in range(_BLOOM_K)
        ]
    )
    tagged = pages.select(
        "url", ((page_i % 2) == 0).alias("is_build"), pos.alias("pos")
    )
    bits = (
        tagged.where("is_build")
        .select(F.explode("pos").alias("bit"))
        .distinct()
    )
    probes = tagged.where(~F.col("is_build")).select(
        "url", F.explode("pos").alias("bit")
    )
    hits = (
        probes.join(
            F.broadcast(bits.withColumn("hit", F.lit(1))), "bit", "left"
        )
        .groupBy("url")
        .agg(F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("nh"))
    )
    summary = hits.agg(
        F.count("*").alias("n_probes"),
        F.sum((F.col("nh") == _BLOOM_K).cast("bigint")).alias("n_flagged"),
    )
    return summary.crossJoin(
        F.broadcast(bits.agg(F.count("*").alias("n_bits_set")))
    )


_BLOOM_POS_DUCK = ", ".join(
    H60_SQL.format(x=f"url || '#b{j}'") + f" % {_BLOOM_M}"
    for j in range(_BLOOM_K)
)

ORACLE_BLOOM = f"""
WITH tagged AS (
  SELECT url,
         TRY_CAST(regexp_extract(url, '([0-9]+)(\\.pdf)?$', 1) AS BIGINT) % 2 = 0
             AS is_build,
         [{_BLOOM_POS_DUCK}] AS pos
  {_PAGES_SRC}
), bits AS (
  SELECT DISTINCT unnest(pos) AS bit FROM tagged WHERE is_build
), probe AS (
  SELECT url, unnest(pos) AS bit FROM tagged WHERE NOT is_build
), hits AS (
  SELECT p.url, count(b.bit) AS nh
  FROM probe p LEFT JOIN bits b ON p.bit = b.bit
  GROUP BY p.url
)
SELECT (SELECT count(*) FROM hits) AS n_probes,
       (SELECT CAST(sum(CASE WHEN nh = {_BLOOM_K} THEN 1 ELSE 0 END)
               AS BIGINT) FROM hits) AS n_flagged,
       (SELECT count(*) FROM bits) AS n_bits_set
"""


WEB_QUERIES_D: dict[str, QuerySpec] = {
    "pagerank_hosts": QuerySpec(q_pagerank_hosts, ORACLE_PAGERANK),
    "quality_linear_score": QuerySpec(
        q_quality_linear_score, ORACLE_QUALITY_LINEAR
    ),
    "domain_cap_sample": QuerySpec(q_domain_cap_sample, ORACLE_DOMAIN_CAP),
    "bloom_url_seen": QuerySpec(q_bloom_url_seen, ORACLE_BLOOM),
}
EXT_QUERIES.update(WEB_QUERIES_D)


# === webtext wave E (round 3, fourth session) ================================
# Six more first-class stages of a Common-Crawl-scale training-data
# pipeline, all fully native (zero Python in any hot path): C4-style
# global sentence dedup with text rebuild, template-link (boilerplate
# anchor) discovery, per-url snapshot churn, extraction-yield host audit,
# a SURT-keyed index scan, and a recrawl-frontier priority ranking.

def _first_occ_tagged(keyed, hot_df: int = 64):
    """Tag each (h, occ) row with its key's global first occurrence —
    WITHOUT ever routing a hot key's full occurrence set to one reducer.

    The naive form (groupBy(h).min + plain equi-join back) has a genuine
    10^12-scale killer that AQE does NOT repair: skew-join splitting
    requires both SMJ children to be plain shuffle reads, and here the
    firsts side sits behind the final HashAggregate, so the optimizer
    leaves the join partitioning intact (measured: the clean two-shuffle
    join rewrites to SortMergeJoin(skew=true) + 'AQEShuffleRead coalesced
    and skewed' under the same thresholds; this shape only coalesces —
    see SCALE.md round-3 fifth-session delta). An everywhere-sentence (a
    footer on all 10^12 pages) would therefore pile its entire occurrence
    set onto a single reducer.

    Fix = the textbook hot/cold split, result-identical at any setting:
    the stats agg (min + document frequency) still collapses map-side;
    keys with df >= hot_df — at most total/hot_df of them, so the hot
    relation is broadcastable by construction — join back map-side via
    BroadcastHashJoin, and the cold tail (every key's partition bounded
    by hot_df rows) takes the SortMergeJoin. hot_df=64 exercises the hot
    path on the fixture's footer sentence at every test scale; a 10^12
    deployment sets it ~10^6 (hot set <= 10^6 keys, cold partitions
    <= 10^6 rows)."""
    stats = keyed.groupBy("h").agg(
        F.min("occ").alias("first_occ"), F.count("*").alias("_df")
    )
    return _hot_cold_join(keyed, stats, "_df", hot_df).drop("_df").withColumn(
        "keep", F.col("occ") == F.col("first_occ")
    )


def _hot_cold_join(keyed, stats, freq_col: str, hot_df: int):
    """Join per-key stats back onto a corpus-sized keyed frame without a
    hot-key reducer: keys whose frequency >= hot_df (at most
    total/hot_df of them — broadcastable by construction) return
    map-side via BroadcastHashJoin; a broadcast LeftAnti carves the cold
    probe; only the bounded cold tail (every key < hot_df rows) takes
    the SortMergeJoin. Needed because AQE cannot skew-split a join whose
    build side sits behind an aggregate (measured — see SCALE.md)."""
    hot = F.broadcast(stats.where(F.col(freq_col) >= hot_df))
    cold = stats.where(F.col(freq_col) < hot_df)
    return keyed.join(hot, "h").unionByName(
        keyed.join(hot.select("h"), "h", "left_anti").join(cold, "h")
    )


def q_sentence_dedup_global(spark, sf):
    """C4-style GLOBAL sentence dedup with per-document text rebuild: every
    `<p>` block is a sentence; a sentence is kept only at its first global
    occurrence (ordered by url, then position), so boilerplate sentences
    that recur across the corpus — the footer copyright line is on every
    page — survive exactly once. This is the C4 paper's 'discard duplicate
    three-sentence spans' primitive at span length 1.

    Scale shape: first-occurrence resolution goes through
    _first_occ_tagged — map-side-combinable stats agg, then a hot/cold
    split join-back (broadcast for keys with df >= hot_df, skew-free
    SortMergeJoin for the bounded cold tail), because AQE's skew-join
    CANNOT split the naive agg-fed equi-join (measured; see the helper's
    docstring and SCALE.md). Rebuild concatenates kept sentences in
    document order via array_sort on (pos, sent) structs — per-url state
    only, bounded by document size."""
    from .queries import _pages_for_sf

    pages = _pages_for_sf(spark, sf)
    htmlish = pages.where(F.expr("startswith(html, X'3C')"))
    sents = htmlish.select(
        "url",
        F.posexplode(
            F.expr(
                "regexp_extract_all(cast(html as string), '<p>([^<]*)</p>', 1)"
            )
        ).alias("pos0", "sent"),
    ).select("url", (F.col("pos0") + 1).alias("pos"), "sent")
    keyed = sents.select(
        "url",
        "pos",
        "sent",
        F.md5("sent").alias("h"),
        F.concat(
            F.col("url"), F.lit("#"), F.lpad(F.col("pos").cast("string"), 8, "0")
        ).alias("occ"),
    )
    tagged = _first_occ_tagged(keyed)
    return (
        tagged.groupBy("url")
        .agg(
            F.count("*").alias("n_sents"),
            F.sum(F.col("keep").cast("int")).cast("bigint").alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("keep"), F.struct("pos", "sent"))
                        )
                    ),
                    lambda x: x["sent"],
                ),
                " ",
            ).alias("kept_text"),
        )
        .select(
            "url",
            "n_sents",
            "n_kept",
            (
                F.lit(1.0) - F.col("n_kept") / F.col("n_sents").cast("double")
            ).alias("dup_frac"),
            "kept_text",
        )
    )


ORACLE_SENT_DEDUP = f"""
WITH pages AS (
  SELECT url, decode(html) AS s
  {_PAGES_SRC}
    AND substr(hex(html), 1, 2) = '3C'
), sents AS (
  SELECT url,
         unnest(range(1, len(l) + 1)) AS pos,
         unnest(l) AS sent
  FROM (SELECT url, regexp_extract_all(s, '<p>([^<]*)</p>', 1) AS l FROM pages)
), keyed AS (
  SELECT url, pos, sent, md5(sent) AS h,
         url || '#' || lpad(CAST(pos AS VARCHAR), 8, '0') AS occ
  FROM sents
), firsts AS (
  SELECT h, min(occ) AS first_occ FROM keyed GROUP BY h
)
SELECT url, count(*) AS n_sents,
       CAST(sum(CASE WHEN occ = first_occ THEN 1 ELSE 0 END) AS BIGINT)
           AS n_kept,
       1.0 - sum(CASE WHEN occ = first_occ THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE) AS dup_frac,
       coalesce(string_agg(CASE WHEN occ = first_occ THEN sent END,
                           ' ' ORDER BY pos), '') AS kept_text
FROM keyed JOIN firsts USING (h)
GROUP BY url
"""


def q_anchor_link_stats(spark, sf):
    """Template-link (boilerplate anchor) discovery: extract every
    `<a href>` target per page, count occurrences per (host, href), and
    flag hrefs present on ≥80% of the host's pages — those are the site
    template (nav/footer/sidebar), exactly the links a main-content
    extractor must ignore and a crawl frontier should not re-score.

    Scale shape: the (host, href) count uses the same two-stage salted
    aggregation as host_stats_salted — template hrefs on a hot host are
    the textbook hot key (host0 owns 35% of the corpus and every page
    carries the same 12 template hrefs), so a salt of the url-hash spreads
    each hot (host, href) across 16 partial reducers before the tiny final
    agg. The per-host page-count side is one row per host — broadcast."""
    from .queries import _pages_for_sf

    pages = _pages_for_sf(spark, sf)
    htmlish = pages.where(F.expr("startswith(html, X'3C')"))
    base = htmlish.select(
        url_host_col("url").alias("host"),
        F.pmod(F.xxhash64("url"), F.lit(16)).alias("_salt"),
        F.expr(
            "regexp_extract_all(cast(html as string),"
            " '<a href=\"([^\"]+)\"', 1)"
        ).alias("hrefs"),
    )
    host_pages = (
        base.groupBy("host", "_salt")
        .agg(F.count("*").alias("pn"))
        .groupBy("host")
        .agg(F.sum("pn").alias("n_pages_host"))
    )
    links = base.select("host", "_salt", F.explode("hrefs").alias("href"))
    link_counts = (
        links.groupBy("host", "href", "_salt")
        .agg(F.count("*").alias("pc"))
        .groupBy("host", "href")
        .agg(F.sum("pc").alias("n_links"))
    )
    joined = link_counts.join(F.broadcast(host_pages), "host")
    frac = F.col("n_links") / F.col("n_pages_host").cast("double")
    return joined.select(
        "host",
        "href",
        "n_links",
        "n_pages_host",
        frac.alias("link_frac"),
        (frac >= 0.8).alias("is_boilerplate"),
    )


ORACLE_ANCHOR_STATS = f"""
WITH pages AS (
  SELECT url, decode(html) AS s
  {_PAGES_SRC}
    AND substr(hex(html), 1, 2) = '3C'
), base AS (
  SELECT regexp_extract(url, '^https?://([^/]+)', 1) AS host,
         regexp_extract_all(s, '<a href="([^"]+)"', 1) AS hrefs
  FROM pages
), host_pages AS (
  SELECT host, count(*) AS n_pages_host FROM base GROUP BY host
), links AS (
  SELECT host, unnest(hrefs) AS href FROM base
), link_counts AS (
  SELECT host, href, count(*) AS n_links FROM links GROUP BY host, href
)
SELECT l.host, l.href, l.n_links, h.n_pages_host,
       l.n_links / CAST(h.n_pages_host AS DOUBLE) AS link_frac,
       l.n_links / CAST(h.n_pages_host AS DOUBLE) >= 0.8 AS is_boilerplate
FROM link_counts l JOIN host_pages h ON l.host = h.host
"""


def q_url_churn_stats(spark, sf):
    """Per-url snapshot churn over a multi-capture crawl: number of
    captures, number of DISTINCT content versions (by content hash), the
    capture time span, and a churn rate = version transitions per
    recapture — the signal a recrawl scheduler feeds on. The fixture has
    one capture per url, so the query first synthesizes the snapshot
    traffic (the JSON_PROBES pattern): every third url is recaptured +1h
    with identical bytes, every sixth also +2h with changed content.

    Scale shape: one groupBy(url) — per-url groups are bounded by the
    crawler's own revisit policy (tens of captures), keys are as uniform
    as the crawl; count(DISTINCT md5) expands to at most that many rows
    per url. No windows, no joins."""
    from .queries import _pages_for_sf

    pages = _pages_for_sf(spark, sf)
    htmlish = pages.where(F.expr("startswith(html, X'3C')")).select(
        "url", "warc_ts", F.col("html").cast("string").alias("s")
    )
    page_no = url_page_no_col("url")
    re1 = htmlish.where(page_no % 3 == 0).select(
        "url",
        (F.col("warc_ts") + F.expr("INTERVAL 1 HOUR")).alias("warc_ts"),
        "s",
    )
    re2 = htmlish.where(page_no % 6 == 0).select(
        "url",
        (F.col("warc_ts") + F.expr("INTERVAL 2 HOUR")).alias("warc_ts"),
        F.concat(F.col("s"), F.lit("<!-- v2 -->")).alias("s"),
    )
    snaps = htmlish.unionByName(re1).unionByName(re2)
    return (
        snaps.groupBy("url")
        .agg(
            F.count("*").alias("n_snaps"),
            F.countDistinct(F.md5("s")).alias("n_versions"),
            # timestampdiff, not cast-to-long arithmetic: the parquet
            # column reads as TIMESTAMP_NTZ, which Spark 4 refuses to cast
            # to BIGINT
            F.expr("timestampdiff(SECOND, min(warc_ts), max(warc_ts))").alias(
                "span_s"
            ),
        )
        .select(
            "url",
            "n_snaps",
            "n_versions",
            "span_s",
            F.when(
                F.col("n_snaps") > 1,
                (F.col("n_versions") - 1)
                / (F.col("n_snaps") - 1).cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("churn_rate"),
        )
    )


ORACLE_URL_CHURN = f"""
WITH pages AS (
  SELECT url, warc_ts, decode(html) AS s
  {_PAGES_SRC}
    AND substr(hex(html), 1, 2) = '3C'
), snaps AS (
  SELECT url, warc_ts, s FROM pages
  UNION ALL
  SELECT url, warc_ts + INTERVAL 1 HOUR, s FROM pages
  WHERE TRY_CAST(regexp_extract(url, '([0-9]+)$', 1) AS BIGINT) % 3 = 0
  UNION ALL
  SELECT url, warc_ts + INTERVAL 2 HOUR, s || '<!-- v2 -->' FROM pages
  WHERE TRY_CAST(regexp_extract(url, '([0-9]+)$', 1) AS BIGINT) % 6 = 0
)
SELECT url, count(*) AS n_snaps,
       count(DISTINCT md5(s)) AS n_versions,
       date_diff('second', min(warc_ts), max(warc_ts)) AS span_s,
       CASE WHEN count(*) > 1
            THEN (count(DISTINCT md5(s)) - 1)
                 / CAST(count(*) - 1 AS DOUBLE)
            ELSE 0.0 END AS churn_rate
FROM snaps GROUP BY url
"""


def q_extraction_yield_by_host(spark, sf):
    """Extraction-yield audit per host: the ratio of prose characters
    (markup stripped) to raw html characters, aggregated per domain. A
    host whose pages are mostly template (low yield) is a candidate for
    skipping the expensive extraction UDF entirely — the corpus-curation
    analog of the reference's cheap-reject-before-OCR layering.

    Scale shape: yield is sum(text_chars)/sum(html_chars) over EXACT
    bigint sums — not avg() of per-page double ratios, whose partition-
    order-dependent double addition would make the result nondeterministic
    across cluster layouts. Two-stage salted agg on the skewed host key,
    final agg is one row per host."""
    from .queries import _pages_for_sf

    pages = _pages_for_sf(spark, sf)
    htmlish = pages.where(F.expr("startswith(html, X'3C')"))
    s = F.col("html").cast("string")
    feat = htmlish.select(
        url_host_col("url").alias("host"),
        F.pmod(F.xxhash64("url"), F.lit(16)).alias("_salt"),
        F.length(s).alias("hc"),
        F.length(F.regexp_replace(s, "<[^>]*>", "")).alias("tc"),
    )
    partial = feat.groupBy("host", "_salt").agg(
        F.count("*").alias("pn"), F.sum("hc").alias("ph"), F.sum("tc").alias("pt")
    )
    stats = partial.groupBy("host").agg(
        F.sum("pn").alias("n_pages"),
        F.sum("ph").alias("html_chars"),
        F.sum("pt").alias("text_chars"),
    )
    y = F.col("text_chars") / F.col("html_chars").cast("double")
    return stats.select(
        "host",
        "n_pages",
        "html_chars",
        "text_chars",
        y.alias("yield_frac"),
        (y < 0.35).alias("low_yield"),
    )


ORACLE_EXTRACTION_YIELD = f"""
WITH pages AS (
  SELECT url, decode(html) AS s
  {_PAGES_SRC}
    AND substr(hex(html), 1, 2) = '3C'
), feat AS (
  SELECT regexp_extract(url, '^https?://([^/]+)', 1) AS host,
         length(s) AS hc,
         length(regexp_replace(s, '<[^>]*>', '', 'g')) AS tc
  FROM pages
)
SELECT host, count(*) AS n_pages,
       CAST(sum(hc) AS BIGINT) AS html_chars,
       CAST(sum(tc) AS BIGINT) AS text_chars,
       sum(tc) / CAST(sum(hc) AS DOUBLE) AS yield_frac,
       sum(tc) / CAST(sum(hc) AS DOUBLE) < 0.35 AS low_yield
FROM feat GROUP BY host
"""


def q_surt_prefix_scan(spark, sf):
    """SURT-keyed index scan (the CDX lookup primitive): canonicalize each
    url to its Sort-friendly URI Reordering Transform key — host labels
    reversed and comma-joined, then ')' and the path — and serve a host
    prefix query ('example,host1)' matches host1 but NOT host10…host19,
    because the ')' terminator is part of the prefix).

    Scale shape: the index is repartitionByRange + sortWithinPartitions on
    surt_key — written as parquet that layout gives min/max row-group
    pruning, so a prefix lookup touches only the file slice owning the
    host's key range instead of scanning 10^12 rows. The query itself is
    one scan + filter (predicate-prunable), no shuffle beyond the range
    partitioning that builds the index."""
    from .queries import _pages_for_sf

    pages = _pages_for_sf(spark, sf).select("url", "warc_ts")
    host = url_host_col("url")
    path = F.regexp_extract("url", r"^https?://[^/]+(.*)$", 1)
    surt = F.concat(
        F.array_join(F.reverse(F.split(host, r"\.")), ","), F.lit(")"), path
    )
    idx = (
        pages.select(surt.alias("surt_key"), "url", "warc_ts")
        .repartitionByRange(8, "surt_key")
        .sortWithinPartitions("surt_key")
    )
    return idx.where(F.col("surt_key").startswith("example,host1)"))


ORACLE_SURT_PREFIX = f"""
WITH pages AS (
  SELECT url, warc_ts
  {_PAGES_SRC}
), surt AS (
  SELECT array_to_string(
             list_reverse(string_split(
                 regexp_extract(url, '^https?://([^/]+)', 1), '.')), ',')
         || ')' || regexp_extract(url, '^https?://[^/]+(.*)$', 1) AS surt_key,
         url, warc_ts
  FROM pages
)
SELECT surt_key, url, warc_ts FROM surt
WHERE surt_key LIKE 'example,host1)%'
"""


def q_recrawl_priority(spark, sf):
    """Recrawl-frontier priority: rank urls for recapture by combining the
    churn signal (how often this url's content actually changes) with a
    host-authority proxy (host corpus mass), priority = (churn_rate + 0.1)
    * n_pages_host — the '+0.1' keeps never-changed urls schedulable at a
    low rate. Top-100 with a total-order tiebreak on url.

    Scale shape: churn is the one groupBy(url) agg of q_url_churn_stats;
    the authority side is one row per host (broadcast join); the ranking
    is orderBy+limit → TakeOrderedAndProject (per-partition top-100, then
    a 100-row driver merge — no global sort). The priority arithmetic is
    a single IEEE multiply on exactly-representable inputs, so the ranking
    is bit-identical on any engine — no log(), whose libm rounding could
    differ across platforms."""
    from .queries import _pages_for_sf

    churn = q_url_churn_stats(spark, sf)
    pages = _pages_for_sf(spark, sf)
    htmlish = pages.where(F.expr("startswith(html, X'3C')"))
    host_pages = htmlish.groupBy(url_host_col("url").alias("host")).agg(
        F.count("*").alias("n_pages_host")
    )
    withhost = churn.withColumn("host", url_host_col("url")).join(
        F.broadcast(host_pages), "host"
    )
    score = (F.col("churn_rate") + F.lit(0.1)) * F.col("n_pages_host")
    return (
        withhost.select(
            "url", "host", "churn_rate", "n_pages_host", score.alias("priority")
        )
        .orderBy(F.desc("priority"), "url")
        .limit(100)
    )


ORACLE_RECRAWL_PRIORITY = f"""
WITH pages AS (
  SELECT url, warc_ts, decode(html) AS s
  {_PAGES_SRC}
    AND substr(hex(html), 1, 2) = '3C'
), snaps AS (
  SELECT url, warc_ts, s FROM pages
  UNION ALL
  SELECT url, warc_ts + INTERVAL 1 HOUR, s FROM pages
  WHERE TRY_CAST(regexp_extract(url, '([0-9]+)$', 1) AS BIGINT) % 3 = 0
  UNION ALL
  SELECT url, warc_ts + INTERVAL 2 HOUR, s || '<!-- v2 -->' FROM pages
  WHERE TRY_CAST(regexp_extract(url, '([0-9]+)$', 1) AS BIGINT) % 6 = 0
), churn AS (
  SELECT url,
         CASE WHEN count(*) > 1
              THEN (count(DISTINCT md5(s)) - 1)
                   / CAST(count(*) - 1 AS DOUBLE)
              ELSE 0.0 END AS churn_rate
  FROM snaps GROUP BY url
), host_pages AS (
  SELECT regexp_extract(url, '^https?://([^/]+)', 1) AS host,
         count(*) AS n_pages_host
  FROM pages GROUP BY 1
)
SELECT c.url, regexp_extract(c.url, '^https?://([^/]+)', 1) AS host,
       c.churn_rate, h.n_pages_host,
       (c.churn_rate + 0.1) * h.n_pages_host AS priority
FROM churn c
JOIN host_pages h ON regexp_extract(c.url, '^https?://([^/]+)', 1) = h.host
ORDER BY priority DESC, c.url
LIMIT 100
"""


WEB_QUERIES_E: dict[str, QuerySpec] = {
    "sentence_dedup_global": QuerySpec(
        q_sentence_dedup_global, ORACLE_SENT_DEDUP
    ),
    "anchor_link_stats": QuerySpec(q_anchor_link_stats, ORACLE_ANCHOR_STATS),
    "url_churn_stats": QuerySpec(q_url_churn_stats, ORACLE_URL_CHURN),
    "extraction_yield_by_host": QuerySpec(
        q_extraction_yield_by_host, ORACLE_EXTRACTION_YIELD
    ),
    "surt_prefix_scan": QuerySpec(q_surt_prefix_scan, ORACLE_SURT_PREFIX),
    "recrawl_priority": QuerySpec(q_recrawl_priority, ORACLE_RECRAWL_PRIORITY),
}
EXT_QUERIES.update(WEB_QUERIES_E)


# === webtext wave F (round 3, fifth session) =================================
# Six more first-class curation/crawl-ops stages, all fully native: C4's
# actual 3-sentence-span global dedup (span length 3, vs wave E's length-1
# primitive), exact outlink-frontier discovery (the precise companion to
# the approximate bloom_url_seen), cross-crawl CDX diff, a URL-level
# filter gate, a NATIVE Boilerpipe-style DOM-block classifier
# (text-density + link-density over a flattened segment array — the north
# star's block model expressed without any Python), and a crawl-politeness
# burst audit.


def q_span3_dedup_stats(spark, sf):
    """C4's span-level dedup primitive at its real span length: every run
    of THREE consecutive `<p>` sentences is a span; a span that already
    occurred anywhere in the corpus (ordered by url, then position) is a
    duplicate. Wave E's sentence_dedup_global is this at length 1 — length
    3 is what the C4 paper actually deduplicates, because single shared
    sentences (bylines, disclaimers) are common while shared 3-sentence
    runs almost always mean mirrored/syndicated content. The fixture has
    no mirrors, so the query synthesizes them (the JSON_PROBES pattern):
    every fifth page is unioned again under url?mirror=1 with identical
    bytes — the syndication case — and every span of a mirror must be
    flagged duplicate.

    Scale shape: same as wave E — first occurrence via the hot/cold
    split of _first_occ_tagged (broadcast hot keys, skew-free cold
    SortMergeJoin), never a row_number window; spans per
    document are bounded by document length (the transform/slice runs
    inside codegen over the already-collected sentence array, no second
    explode-join)."""
    from .queries import _pages_for_sf

    pages = _pages_for_sf(spark, sf)
    htmlish = pages.where(F.expr("startswith(html, X'3C')")).select(
        "url", F.col("html").cast("string").alias("s")
    )
    page_no = url_page_no_col("url")
    mirrors = htmlish.where(page_no % 5 == 0).select(
        F.concat(F.col("url"), F.lit("?mirror=1")).alias("url"), "s"
    )
    docs = htmlish.unionByName(mirrors)
    sents = docs.select(
        "url",
        F.expr("regexp_extract_all(s, '<p>([^<]*)</p>', 1)").alias("l"),
    )
    # sequence(1, size-2) would go DESCENDING for size < 3 — guard with
    # when(), not with a filter inside the lambda
    spans = sents.select(
        "url",
        F.when(
            F.size("l") >= 3,
            F.expr(
                "transform(sequence(1, size(l) - 2),"
                " i -> concat_ws(char(1), slice(l, i, 3)))"
            ),
        )
        .otherwise(F.expr("array()"))
        .alias("spans"),
    )
    occ = spans.select(
        "url", F.posexplode("spans").alias("pos0", "span")
    ).select(
        "url",
        F.md5("span").alias("h"),
        F.concat(
            F.col("url"),
            F.lit("#"),
            F.lpad((F.col("pos0") + 1).cast("string"), 8, "0"),
        ).alias("occ"),
    )
    per_url = (
        _first_occ_tagged(occ)
        .groupBy("url")
        .agg(
            F.count("*").alias("n_spans"),
            F.sum((~F.col("keep")).cast("int"))
            .cast("bigint")
            .alias("n_dup_spans"),
        )
    )
    return spans.select("url").join(per_url, "url", "left").select(
        "url",
        F.coalesce("n_spans", F.lit(0).cast("bigint")).alias("n_spans"),
        F.coalesce("n_dup_spans", F.lit(0).cast("bigint")).alias(
            "n_dup_spans"
        ),
        F.when(
            F.coalesce("n_spans", F.lit(0)) > 0,
            F.col("n_dup_spans") / F.col("n_spans").cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_span_frac"),
    )


ORACLE_SPAN3 = f"""
WITH pages AS (
  SELECT url, decode(html) AS s
  {_PAGES_SRC}
    AND substr(hex(html), 1, 2) = '3C'
), docs AS (
  SELECT url, s FROM pages
  UNION ALL
  SELECT url || '?mirror=1', s FROM pages
  WHERE TRY_CAST(regexp_extract(url, '([0-9]+)$', 1) AS BIGINT) % 5 = 0
), sents AS (
  SELECT url, regexp_extract_all(s, '<p>([^<]*)</p>', 1) AS l FROM docs
), spans AS (
  SELECT url,
         list_transform(range(1, greatest(len(l) - 1, 1)),
                        i -> array_to_string(l[i:i+2], chr(1))) AS spans
  FROM sents
), occ AS (
  SELECT url, md5(sp) AS h,
         url || '#' || lpad(CAST(pos AS VARCHAR), 8, '0') AS occ
  FROM (SELECT url, unnest(spans) AS sp,
               unnest(range(1, len(spans) + 1)) AS pos
        FROM spans)
), firsts AS (
  SELECT h, min(occ) AS first_occ FROM occ GROUP BY h
), per_url AS (
  SELECT url, count(*) AS n_spans,
         CAST(sum(CASE WHEN occ.occ <> f.first_occ THEN 1 ELSE 0 END)
              AS BIGINT) AS n_dup_spans
  FROM occ JOIN firsts f USING (h) GROUP BY url
)
SELECT s.url,
       coalesce(p.n_spans, 0) AS n_spans,
       coalesce(p.n_dup_spans, 0) AS n_dup_spans,
       CASE WHEN coalesce(p.n_spans, 0) > 0
            THEN p.n_dup_spans / CAST(p.n_spans AS DOUBLE)
            ELSE 0.0 END AS dup_span_frac
FROM spans s LEFT JOIN per_url p USING (url)
"""


def _url_rule_sql(u: str) -> str:
    """DuckDB mirror of functions/columns.url_filter_rule_col for url
    expression ``u`` — ONE renderer shared by every oracle that gates on
    the rule (ORACLE_URL_GATE, ORACLE_FRONTIER), so the SQL mirrors cannot
    drift from each other."""
    path = f"regexp_extract({u}, '^https?://[^/]+(/.*)?$', 1)"
    return (
        f"CASE WHEN NOT regexp_matches({u}, '^https?://') THEN 'bad_scheme' "
        f"WHEN length({u}) > 80 THEN 'url_too_long' "
        f"WHEN contains({u}, '?') THEN 'has_query' "
        f"WHEN regexp_matches({path}, '^/(bin|cgi-bin)/') THEN 'binary_route' "
        f"WHEN regexp_matches({path}, "
        f"'\\.(exe|zip|jpg|jpeg|png|gif|css|js)$') THEN 'banned_ext' "
        f"WHEN len(string_split({path}, '/')) - 1 > 4 THEN 'path_too_deep' "
        f"ELSE 'pass' END"
    )


def q_outlink_frontier(spark, sf):
    """EXACT crawl-frontier discovery: resolve every same-site `<a href>`
    to an absolute url, gate it with the shared URL-filter rule, and
    anti-join against the crawled set — the urls a crawler has discovered
    but never fetched, per host. The candidates come from
    streaming/frontier.outlink_candidates, the function the STREAMING
    frontier runs per micro-batch, so batch and stream resolve and admit
    urls with the same code. This is the precise companion to
    bloom_url_seen: the Bloom filter answers the frontier-membership
    question approximately with a broadcast bit set; this query answers it
    exactly with a co-partitioned anti-join, which is what the frontier
    *builder* (as opposed to the hot-path probe) runs.

    Scale shape: the explode→distinct shuffles on out_url (uniform — url
    strings hash well even when hosts are skewed); the LeftAnti join then
    reuses the same url-hash partitioning against the crawled-set scan, so
    the expensive side shuffles once. The per-host rollup is a tiny keyed
    agg."""
    from ..streaming.frontier import outlink_candidates
    from .queries import _pages_for_sf

    pages = _pages_for_sf(spark, sf)
    out = outlink_candidates(pages).select("host", "out_url").distinct()
    crawled = pages.select(F.col("url").alias("out_url"))
    frontier = out.join(crawled, "out_url", "left_anti")
    return frontier.groupBy("host").agg(
        F.count("*").alias("n_frontier"),
        F.min("out_url").alias("first_url"),
    )


_URL_RULE_ON_OUT = _url_rule_sql("out_url")

ORACLE_FRONTIER = f"""
WITH htmlish AS (
  SELECT url, decode(html) AS s
  {_PAGES_SRC}
    AND substr(hex(html), 1, 2) = '3C'
), crawled AS (
  SELECT url
  {_PAGES_SRC}
), out AS (
  SELECT DISTINCT host, out_url FROM (
    SELECT regexp_extract(url, '^https?://([^/]+)', 1) AS host,
           'https://' || regexp_extract(url, '^https?://([^/]+)', 1) || href
               AS out_url
    FROM (SELECT url, unnest(regexp_extract_all(s, '<a href="([^"]+)"', 1))
                 AS href
          FROM htmlish)
    WHERE href LIKE '/%'
  ) WHERE {_URL_RULE_ON_OUT} = 'pass'
), frontier AS (
  SELECT host, out_url FROM out
  WHERE out_url NOT IN (SELECT url FROM crawled)
)
SELECT host, count(*) AS n_frontier, min(out_url) AS first_url
FROM frontier GROUP BY host
"""


def q_crawl_diff(spark, sf):
    """Cross-crawl CDX diff — the incremental-corpus-update primitive:
    full-outer-join two crawl snapshots on url and classify every url as
    new / gone / changed / unchanged (changed = content hash moved), per
    host. The second crawl is synthesized deterministically from the
    fixture: every 7th url vanishes, every 5th changes content, every
    11th gains a '/new' child url.

    Scale shape: one full-outer SortMergeJoin co-partitioned on url (the
    canonical shape for merging 10^12-row snapshots — both sides shuffle
    exactly once on the join key, AQE handles any capture-host skew);
    content compare is md5-of-payload equality, computed in the scan
    project. The per-(host, status) rollup is a tiny agg. The md5 is over
    hex(html) because the oracle engine's md5 is VARCHAR-only — hex is
    deterministic and collision-free, so equality semantics are
    identical."""
    from .queries import _pages_for_sf

    pages = _pages_for_sf(spark, sf).select(
        "url", F.md5(F.hex("html")).alias("h")
    )
    page_no = url_page_no_col("url")
    crawl_b = (
        pages.where(page_no % 7 != 0)
        .select(
            "url",
            F.when(
                page_no % 5 == 0, F.md5(F.concat(F.col("h"), F.lit("v2")))
            )
            .otherwise(F.col("h"))
            .alias("h"),
        )
        .unionByName(
            pages.where(page_no % 11 == 0).select(
                F.concat(F.col("url"), F.lit("/new")).alias("url"), "h"
            )
        )
    )
    joined = pages.select("url", F.col("h").alias("h_a")).join(
        crawl_b.select("url", F.col("h").alias("h_b")), "url", "full_outer"
    )
    status = (
        F.when(F.col("h_a").isNull(), F.lit("new"))
        .when(F.col("h_b").isNull(), F.lit("gone"))
        .when(F.col("h_a") == F.col("h_b"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return (
        joined.select(
            url_host_col("url").alias("host"),
            status.alias("status"),
        )
        .groupBy("host", "status")
        .agg(F.count("*").cast("bigint").alias("n"))
    )


ORACLE_CRAWL_DIFF = f"""
WITH pages AS (
  SELECT url, md5(hex(html)) AS h
  {_PAGES_SRC}
), crawl_b AS (
  SELECT url,
         CASE WHEN TRY_CAST(regexp_extract(url, '([0-9]+)$', 1) AS BIGINT)
                   % 5 = 0
              THEN md5(h || 'v2') ELSE h END AS h
  FROM pages
  WHERE TRY_CAST(regexp_extract(url, '([0-9]+)$', 1) AS BIGINT) % 7 <> 0
  UNION ALL
  SELECT url || '/new', h FROM pages
  WHERE TRY_CAST(regexp_extract(url, '([0-9]+)$', 1) AS BIGINT) % 11 = 0
), joined AS (
  SELECT coalesce(a.url, b.url) AS url, a.h AS h_a, b.h AS h_b
  FROM pages a FULL OUTER JOIN crawl_b b ON a.url = b.url
)
SELECT regexp_extract(url, '^https?://([^/]+)', 1) AS host,
       CASE WHEN h_a IS NULL THEN 'new'
            WHEN h_b IS NULL THEN 'gone'
            WHEN h_a = h_b THEN 'unchanged'
            ELSE 'changed' END AS status,
       CAST(count(*) AS BIGINT) AS n
FROM joined GROUP BY 1, 2
"""


_URL_PROBES = [
    # one probe per rule so every CASE branch is exercised and
    # oracle-checked — the fixture's own urls only hit pass/binary_route
    "ftp://host3.example/page/1",
    "https://host3.example/page/" + "x" * 70,
    "https://host3.example/search?q=abc",
    "https://host3.example/a/b/c/d/e/f",
    "https://host3.example/static/logo.jpg",
    "https://host3.example/cgi-bin/run",
]


def q_url_filter_gate(spark, sf):
    """URL-level filter gate — the zeroth, cheapest tier of the curation
    funnel (C4/CCNet both gate on the url before touching bytes): first
    failing rule per url (scheme, length, query-string, binary route,
    banned extension, path depth) or 'pass', with per-rule url and host
    counts. Runs BEFORE any payload fetch/decode, so at 10^12 rows it
    prunes the pipeline's input without reading the html column at all
    (ReadSchema: url only).

    Scale shape: a pure codegen CASE over one string column + one tiny
    agg — scan-bound, zero joins, zero Python."""
    from .queries import _pages_for_sf

    probes = spark.createDataFrame([(u,) for u in _URL_PROBES], "url string")
    pages = _pages_for_sf(spark, sf).select("url").unionByName(probes)
    rule = url_filter_rule_col(F.col("url"))
    return (
        pages.select(
            url_host_col("url").alias("host"),
            rule.alias("rule"),
        )
        .groupBy("rule")
        .agg(
            F.count("*").cast("bigint").alias("n_urls"),
            F.countDistinct("host").cast("bigint").alias("n_hosts"),
        )
    )


ORACLE_URL_GATE = f"""
WITH pages AS (
  SELECT url
  {_PAGES_SRC}
  UNION ALL
  SELECT unnest(['ftp://host3.example/page/1',
                 'https://host3.example/page/' || repeat('x', 70),
                 'https://host3.example/search?q=abc',
                 'https://host3.example/a/b/c/d/e/f',
                 'https://host3.example/static/logo.jpg',
                 'https://host3.example/cgi-bin/run'])
), ruled AS (
  -- rule CASE rendered by _url_rule_sql — the single SQL mirror of
  -- functions/columns.url_filter_rule_col shared with ORACLE_FRONTIER
  SELECT regexp_extract(url, '^https?://([^/]+)', 1) AS host,
         {_url_rule_sql("url")} AS rule
  FROM pages
)
SELECT rule, CAST(count(*) AS BIGINT) AS n_urls,
       CAST(count(DISTINCT host) AS BIGINT) AS n_hosts
FROM ruled GROUP BY rule
"""


def q_dom_blocks_native(spark, sf):
    """Boilerpipe-style DOM-block classification with ZERO Python — the
    north star's block model (text-density + link-density features over a
    flattened block array) as pure Catalyst expressions. Pages split into
    segments at structural-tag boundaries (nav/aside/footer/header/main/
    article/script/style/title) via a sentinel-insert + split; per
    segment: markup-stripped text, text length, and anchor-text share; a
    segment is content iff text_len >= 40 AND link_density < 0.34 (the
    Boilerpipe densitometric rule). Output per url: segment counts and
    the reassembled main text. The mapInPandas extractor
    (operators/extraction.py) remains the byte-parity path; this native
    tier gives the same block decisions for the structurally-common case
    at scan speed — the same cheap-tier-then-UDF layering as
    page_triage_native and the tiered JSON validator.

    Scale shape: sentinel replace, split, explode, per-segment features,
    and the keep rule all run inside one WholeStageCodegen span over the
    scan; the only Exchange is the per-url reassembly agg (array_sort on
    (seg_no, text) — bounded by page size). No joins, no Python."""
    from .queries import _pages_for_sf

    pages = _pages_for_sf(spark, sf)
    htmlish = pages.where(F.expr("startswith(html, X'3C')")).select(
        "url", F.col("html").cast("string").alias("s")
    )
    marked = htmlish.select(
        "url",
        F.regexp_replace(
            "s",
            r"<(nav|aside|footer|header|main|article|script|style|title)\b",
            "\u0002<$1",
        ).alias("m"),
    )
    segs = marked.select(
        "url", F.posexplode(F.split("m", "\u0002")).alias("pos0", "seg")
    ).where(F.length("seg") > 0)
    text = F.trim(
        F.regexp_replace(F.regexp_replace("seg", r"<[^>]*>", " "), r"\s+", " ")
    )
    anchor_chars = F.coalesce(
        F.aggregate(
            F.expr("regexp_extract_all(seg, '<a [^>]*>([^<]*)</a>', 1)"),
            F.lit(0),
            lambda acc, x: acc + F.length(x),
        ),
        F.lit(0),
    )
    feat = segs.select(
        "url",
        (F.col("pos0") + 1).alias("seg_no"),
        F.regexp_extract("seg", r"^<([a-z]+)", 1).alias("seg_type"),
        text.alias("text"),
        F.length(text).alias("text_len"),
        anchor_chars.alias("anchor_chars"),
    )
    link_density = F.col("anchor_chars") / F.greatest(
        F.col("text_len"), F.lit(1)
    ).cast("double")
    # script/style/title content is never RENDERED text — exclude those
    # segment types before the densitometric rule (Boilerpipe strips them
    # in its preprocessing too); nav/aside/footer/header stay in and must
    # be rejected by density alone
    rendered = ~F.col("seg_type").isin("script", "style", "title")
    keep = rendered & (F.col("text_len") >= 40) & (link_density < 0.34)
    classified = feat.select(
        "url", "seg_no", "text", "text_len", keep.alias("keep")
    )
    return classified.groupBy("url").agg(
        F.count("*").alias("n_segments"),
        F.sum(F.col("keep").cast("int")).cast("bigint").alias("n_content"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("keep"), F.struct("seg_no", "text"))
                    )
                ),
                lambda x: x["text"],
            ),
            " ",
        ).alias("main_text"),
    )


ORACLE_DOM_BLOCKS = f"""
WITH pages AS (
  SELECT url, decode(html) AS s
  {_PAGES_SRC}
    AND substr(hex(html), 1, 2) = '3C'
), marked AS (
  SELECT url,
         regexp_replace(s,
           '<(nav|aside|footer|header|main|article|script|style|title)\\b',
           chr(2) || '<\\1', 'g') AS m
  FROM pages
), segs AS (
  SELECT url, pos AS seg_no, seg
  FROM (SELECT url, unnest(string_split(m, chr(2))) AS seg,
               unnest(range(1, len(string_split(m, chr(2))) + 1)) AS pos
        FROM marked)
  WHERE length(seg) > 0
), feat AS (
  SELECT url, seg_no,
         regexp_extract(seg, '^<([a-z]+)', 1) AS seg_type,
         trim(regexp_replace(regexp_replace(seg, '<[^>]*>', ' ', 'g'),
                             '\\s+', ' ', 'g')) AS text,
         coalesce(list_sum(list_transform(
             regexp_extract_all(seg, '<a [^>]*>([^<]*)</a>', 1),
             x -> length(x))), 0) AS anchor_chars
  FROM segs
), classified AS (
  SELECT url, seg_no, text, length(text) AS text_len,
         seg_type NOT IN ('script', 'style', 'title')
         AND length(text) >= 40
         AND anchor_chars / CAST(greatest(length(text), 1) AS DOUBLE) < 0.34
             AS keep
  FROM feat
)
SELECT url, count(*) AS n_segments,
       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_content,
       coalesce(string_agg(CASE WHEN keep THEN text END,
                           ' ' ORDER BY seg_no), '') AS main_text
FROM classified GROUP BY url
"""


def q_politeness_audit(spark, sf):
    """Crawl-politeness burst audit: bucket every capture into 10-second
    windows per host and report each host's worst burst (max requests in
    any window) plus a violation flag (burst > 20) — the metric a
    crawler's scheduler is graded on, computed after the fact from WARC
    timestamps.

    Scale shape: one keyed agg on (host, bucket) — time-bucketing spreads
    even a hot host across its whole capture timeline, so the first-stage
    keys are fine-grained — then a per-host rollup. The NTZ timestamp is
    bucketed with timestampdiff against a fixed epoch (Spark 4 refuses a
    direct NTZ→bigint cast)."""
    from .queries import _pages_for_sf

    pages = _pages_for_sf(spark, sf)
    bucket = F.floor(
        F.expr(
            "timestampdiff(SECOND, TIMESTAMP_NTZ '2023-06-01 00:00:00',"
            " warc_ts)"
        )
        / 10
    )
    per_bucket = (
        pages.select(
            url_host_col("url").alias("host"),
            bucket.alias("bucket"),
        )
        .groupBy("host", "bucket")
        .agg(F.count("*").alias("n_req"))
    )
    return per_bucket.groupBy("host").agg(
        F.sum("n_req").cast("bigint").alias("n_total"),
        F.count("*").cast("bigint").alias("n_buckets"),
        F.max("n_req").cast("bigint").alias("burst_max"),
        (F.max("n_req") > 20).alias("violates"),
    )


ORACLE_POLITENESS = f"""
WITH pages AS (
  SELECT url, warc_ts
  {_PAGES_SRC}
), per_bucket AS (
  SELECT regexp_extract(url, '^https?://([^/]+)', 1) AS host,
         CAST(floor(date_diff('second', TIMESTAMP '2023-06-01 00:00:00',
                              warc_ts) / 10.0) AS BIGINT) AS bucket,
         count(*) AS n_req
  FROM pages GROUP BY 1, 2
)
SELECT host, CAST(sum(n_req) AS BIGINT) AS n_total,
       CAST(count(*) AS BIGINT) AS n_buckets,
       CAST(max(n_req) AS BIGINT) AS burst_max,
       max(n_req) > 20 AS violates
FROM per_bucket GROUP BY host
"""


WEB_QUERIES_F: dict[str, QuerySpec] = {
    "span3_dedup_stats": QuerySpec(q_span3_dedup_stats, ORACLE_SPAN3),
    "outlink_frontier": QuerySpec(q_outlink_frontier, ORACLE_FRONTIER),
    "crawl_diff": QuerySpec(q_crawl_diff, ORACLE_CRAWL_DIFF),
    "url_filter_gate": QuerySpec(q_url_filter_gate, ORACLE_URL_GATE),
    "dom_blocks_native": QuerySpec(q_dom_blocks_native, ORACLE_DOM_BLOCKS),
    "politeness_audit": QuerySpec(q_politeness_audit, ORACLE_POLITENESS),
}
EXT_QUERIES.update(WEB_QUERIES_F)


# === webtext wave G (round 3, fifth session) ================================
# Robots compliance as a broadcast-rules join — the crawl-ops gate that,
# unlike the URL filter (a pure function of the url), depends on a
# fetched per-host RULES table.


def q_robots_compliance(spark, sf):
    """Robots.txt compliance audit: per host, how many crawled urls a
    Disallow-prefix rule set would have blocked. The rules table is
    synthesized deterministically from the host set (every host disallows
    /cgi-bin/; hosts are split by a portable 60-bit hash into thirds that
    additionally disallow /bin/ or /doc/) — in production it is the
    fetched robots.txt corpus, which is small (one row per host, a few
    prefixes each) no matter how big the crawl is.

    Scale shape: the rules side is one-row-per-host → BROADCAST; the
    compliance check is a native `exists` over the prefix array inside
    the join project — the 10^12-row crawl never shuffles for the audit,
    and the per-host rollup is the only Exchange. This is the
    rules-driven twin of url_filter_gate (pure function of the url) and
    domain_blocklist_filter (host membership): prefix semantics need the
    array join, not an equi-join."""
    from .queries import _pages_for_sf

    pages = _pages_for_sf(spark, sf).select("url")
    host = url_host_col("url")
    withhost = pages.select("url", host.alias("host"))
    hosts = withhost.select("host").distinct()
    m3 = F.pmod(
        F.expr("cast(conv(substring(md5(host), 1, 15), 16, 10) as bigint)"),
        F.lit(3),
    )
    rules = hosts.select(
        "host",
        F.when(
            m3 == 0, F.array(F.lit("/cgi-bin/"), F.lit("/bin/"))
        )
        .when(m3 == 1, F.array(F.lit("/cgi-bin/"), F.lit("/doc/")))
        .otherwise(F.array(F.lit("/cgi-bin/")))
        .alias("disallow"),
    )
    path = F.regexp_extract("url", r"^https?://[^/]+(/.*)?$", 1)
    joined = withhost.join(F.broadcast(rules), "host").select(
        "host",
        F.exists(
            "disallow", lambda p: path.startswith(p)
        ).alias("blocked"),
    )
    return joined.groupBy("host").agg(
        F.count("*").cast("bigint").alias("n_urls"),
        F.sum(F.col("blocked").cast("int")).cast("bigint").alias("n_blocked"),
        (
            F.sum(F.col("blocked").cast("int"))
            / F.count("*").cast("double")
        ).alias("blocked_frac"),
    )


ORACLE_ROBOTS = f"""
WITH pages AS (
  SELECT url
  {_PAGES_SRC}
), withhost AS (
  SELECT url, regexp_extract(url, '^https?://([^/]+)', 1) AS host,
         regexp_extract(url, '^https?://[^/]+(/.*)?$', 1) AS path
  FROM pages
), rules AS (
  SELECT host,
         CASE CAST(concat('0x', substr(md5(host), 1, 15)) AS BIGINT) % 3
              WHEN 0 THEN ['/cgi-bin/', '/bin/']
              WHEN 1 THEN ['/cgi-bin/', '/doc/']
              ELSE ['/cgi-bin/'] END AS disallow
  FROM (SELECT DISTINCT host FROM withhost)
), joined AS (
  SELECT w.host,
         len(list_filter(r.disallow, p -> starts_with(w.path, p))) > 0
             AS blocked
  FROM withhost w JOIN rules r ON w.host = r.host
)
SELECT host, CAST(count(*) AS BIGINT) AS n_urls,
       CAST(sum(CASE WHEN blocked THEN 1 ELSE 0 END) AS BIGINT)
           AS n_blocked,
       sum(CASE WHEN blocked THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE)
           AS blocked_frac
FROM joined GROUP BY host
"""


WEB_QUERIES_G: dict[str, QuerySpec] = {
    # outside the driver's 50-row window this round (the window is full
    # with never-verified entries) — local gate + pytest cover it; rotate
    # it in with bloom_url_seen in round 4
    "robots_compliance": QuerySpec(q_robots_compliance, ORACLE_ROBOTS),
}
EXT_QUERIES.update(WEB_QUERIES_G)


# === round 4: image-payload wave ============================================
# The fixture's v3 scanned-page images (PNG magic + marker + utf-8 OCR
# text) go through the UDF OCR branch for byte-parity (golden suite); this
# NATIVE twin cross-checks the image corpus itself engine-to-engine — the
# same native-vs-UDF two-tier story as dom_blocks_native vs the Python
# html_blocks path.

def q_image_ocr_native(spark, sf):
    """Per-host stats of the scanned-image corpus with ZERO Python: image
    rows selected by magic bytes in the scan filter (`startswith(html,
    X'89504E47...')` — pushable, html column read only for matching
    rows at a columnar source), embedded OCR text recovered natively
    (substring past the 16-byte container header + utf-8 cast), exact
    integer char/word sums per host. The same decode the OCR UDF branch
    performs in Python (core/ocr.py:ocr_image), expressed in codegen —
    proving the image containers are engine-neutral data, not a Python
    artifact. Scale shape: one scan + one tiny keyed agg; magic-byte
    filter keeps every non-image row's payload bytes out of the plan."""
    from .queries import _pages_for_sf

    pages = _pages_for_sf(spark, sf)
    # PNG_MAGIC (8 B) + tEXt marker (8 B) — core/ocr.py fixture container
    imgs = pages.where(
        F.expr("startswith(html, X'89504E470D0A1A0A')")
    ).select(
        url_host_col("url").alias("host"),
        F.expr("substring(html, 17, 2147483647)").cast("string").alias("t"),
    )
    return (
        imgs.select(
            "host",
            F.length("t").alias("n_chars"),
            F.size(F.split("t", " ")).alias("n_words"),
        )
        .groupBy("host")
        .agg(
            F.count("*").cast("bigint").alias("n_images"),
            F.sum("n_chars").cast("bigint").alias("chars_total"),
            F.sum("n_words").cast("bigint").alias("words_total"),
        )
    )


ORACLE_IMAGE_OCR_NATIVE = f"""
WITH imgs AS (
  -- DuckDB has no BLOB substring: hop through hex (16 bytes = 32 hex
  -- chars of container header, text starts at hex offset 33)
  SELECT regexp_extract(url, '^https?://([^/]+)', 1) AS host,
         decode(from_hex(substr(hex(html), 33))) AS t
  {_PAGES_SRC}
    AND substr(hex(html), 1, 16) = '89504E470D0A1A0A'
)
SELECT host,
       CAST(count(*) AS BIGINT) AS n_images,
       CAST(sum(length(t)) AS BIGINT) AS chars_total,
       CAST(sum(len(string_split(t, ' '))) AS BIGINT) AS words_total
FROM imgs GROUP BY host
"""


# --- portable count-min sketch: heavy-hitter tokens -------------------------
# The third portable sketch next to the HLL (cardinality) and the Bloom
# filter (membership): frequency. Same md5-based h60 hash family, so any
# engine replays the exact bits.

_CMS_W = 1024  # sketch width (counters per row)
_CMS_D = 3     # independent hash rows


def q_cms_heavy_hitters(spark, sf):
    """Heavy-hitter token frequencies through a PORTABLE count-min sketch
    (Cormode-Muthukrishnan): d=3 hash rows × w=1024 counters from the
    md5-based h60 family. Sketch build is one explode + one groupBy whose
    output is ≤ d·w rows at ANY corpus size — counters merge map-side
    (sum), which is the whole point at 10^12 docs: the frequency table
    that normally needs a full token shuffle becomes a 3072-row
    broadcastable object. Verification side: the true top-20 tokens
    (deterministic (count DESC, tok) order) probed against the sketch —
    CMS overestimates but NEVER underestimates, so `never_under` must be
    true on every row, and the estimates themselves are integer-exact
    across engines."""
    docs = _t(spark, sf, "documents")
    toks = docs.select(F.explode(F.split("text", " ")).alias("tok"))

    def pos(tok_col, j: int):
        return F.pmod(_h60(F.concat(tok_col, F.lit(f"#cm{j}"))), F.lit(_CMS_W))

    long = toks.select(
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(j).alias("j"), pos(F.col("tok"), j).alias("p"))
                    for j in range(_CMS_D)
                ]
            )
        ).alias("jp")
    ).select("jp.j", "jp.p")
    sketch = long.groupBy("j", "p").agg(F.count("*").alias("c"))

    exact = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("n_exact"))
        .orderBy(F.desc("n_exact"), F.asc("tok"))
        .limit(20)
    )
    probes = exact.select(
        "tok",
        "n_exact",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(j).alias("j"), pos(F.col("tok"), j).alias("p"))
                    for j in range(_CMS_D)
                ]
            )
        ).alias("jp"),
    ).select("tok", "n_exact", "jp.j", "jp.p")
    est = (
        probes.join(F.broadcast(sketch), ["j", "p"])
        .groupBy("tok", "n_exact")
        .agg(F.min("c").alias("cms_est"))
    )
    return est.select(
        "tok",
        F.col("n_exact").cast("bigint").alias("n_exact"),
        F.col("cms_est").cast("bigint").alias("cms_est"),
        (F.col("cms_est") >= F.col("n_exact")).alias("never_under"),
    )


def _cms_pos_sql(tok_expr: str, j: int) -> str:
    return H60_SQL.format(x=f"{tok_expr} || '#cm{j}'") + f" % {_CMS_W}"


ORACLE_CMS = f"""
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS tok FROM documents
), long AS (
  {" UNION ALL ".join(
      f"SELECT {j} AS j, {_cms_pos_sql('tok', j)} AS p FROM toks"
      for j in range(_CMS_D)
  )}
), sketch AS (
  SELECT j, p, count(*) AS c FROM long GROUP BY j, p
), exact AS (
  SELECT tok, count(*) AS n_exact FROM toks GROUP BY tok
  ORDER BY n_exact DESC, tok ASC LIMIT 20
), probes AS (
  {" UNION ALL ".join(
      f"SELECT tok, n_exact, {j} AS j, {_cms_pos_sql('tok', j)} AS p FROM exact"
      for j in range(_CMS_D)
  )}
)
SELECT pr.tok,
       CAST(pr.n_exact AS BIGINT) AS n_exact,
       CAST(min(s.c) AS BIGINT) AS cms_est,
       min(s.c) >= pr.n_exact AS never_under
FROM probes pr JOIN sketch s ON s.j = pr.j AND s.p = pr.p
GROUP BY pr.tok, pr.n_exact
"""


# --- intra-document repetition (Gopher duplicate-n-gram fraction) -----------

def q_intra_doc_repetition(spark, sf):
    """Gopher-style duplicate-3-gram fraction WITHIN each document (Rae et
    al. 2021 §A1.1 'duplicate n-grams' family — the intra-doc complement
    of the corpus-wide chunk/sentence/span dedup queries): a doc whose
    3-gram stream repeats itself >30% is template/spam-like. The entire
    per-document computation — shingling via transform over the token
    array, distinct count via array_distinct — happens INSIDE one codegen
    span over the scan; the only Exchange is the tiny per-language
    summary. Flag compare in exact integer cross-multiplication
    (10·dups > 3·total), no float ratio to diverge. Docs with <3 tokens
    carry no 3-gram signal and are excluded identically in both
    engines."""
    docs = _t(spark, sf, "documents")
    toks = F.split("text", " ")
    withsh = docs.where(F.size(toks) >= 3).select(
        "lang",
        F.expr(
            "transform(sequence(1, size(split(text, ' ')) - 2),"
            " i -> concat_ws(' ', element_at(split(text, ' '), i),"
            " element_at(split(text, ' '), i + 1),"
            " element_at(split(text, ' '), i + 2)))"
        ).alias("sh"),
    )
    per_doc = withsh.select(
        "lang",
        F.size("sh").alias("n_sh"),
        (F.size("sh") - F.size(F.array_distinct("sh"))).alias("n_dup"),
    )
    return per_doc.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(
            (F.lit(10) * F.col("n_dup") > F.lit(3) * F.col("n_sh")).cast("int")
        ).cast("bigint").alias("n_flagged"),
        F.sum("n_sh").cast("bigint").alias("shingles_total"),
        F.sum("n_dup").cast("bigint").alias("dups_total"),
    )


ORACLE_INTRA_REP = """
WITH per_doc AS (
  SELECT lang, len(sh) AS n_sh, len(sh) - len(list_distinct(sh)) AS n_dup
  FROM (
    SELECT lang,
           list_transform(generate_series(1, len(toks) - 2),
                          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
               AS sh
    FROM (SELECT lang, string_split(text, ' ') AS toks FROM documents)
    WHERE len(toks) >= 3
  )
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN 10 * n_dup > 3 * n_sh THEN 1 ELSE 0 END) AS BIGINT)
           AS n_flagged,
       CAST(sum(n_sh) AS BIGINT) AS shingles_total,
       CAST(sum(n_dup) AS BIGINT) AS dups_total
FROM per_doc GROUP BY lang
"""


WEB_QUERIES_H: dict[str, QuerySpec] = {
    "image_ocr_native": QuerySpec(q_image_ocr_native, ORACLE_IMAGE_OCR_NATIVE),
    "cms_heavy_hitters": QuerySpec(q_cms_heavy_hitters, ORACLE_CMS),
    "intra_doc_repetition": QuerySpec(
        q_intra_doc_repetition, ORACLE_INTRA_REP
    ),
}
EXT_QUERIES.update(WEB_QUERIES_H)


# =============================================================================
# Webtext wave I (round 4): corpus statistics and joins the curation
# pipeline still lacked — TF-IDF distinctive terms, a unigram-LM document
# quality score (the CCNet perplexity filter's integer-exact 1-gram
# stand-in), a bucketed interval-overlap range join, deterministic
# weighted sampling, and integer HITS hub/authority over the host link
# graph.
# =============================================================================


def q_tfidf_distinctive_terms(spark, sf):
    """Top-5 distinctive terms per language by an integer-exact TF-IDF
    surrogate: score = tf_lang * n_docs div df (cross-multiplied instead
    of tf·log(N/df) so no float log ever enters the hash — the same
    integer-division discipline as PageRank). Two corpus passes over the
    exploded token stream, both map-side combinable: TF keyed on
    (lang, tok) and DF keyed on tok; everything downstream of those aggs
    is vocabulary-sized, NOT corpus-sized, so the final per-language
    window ranks a relation ~6 orders of magnitude smaller than the
    input at 10^12 docs. n_docs is a one-row broadcast scalar."""
    docs = _t(spark, sf, "documents")
    toks = docs.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("tok")
    )
    tf = toks.groupBy("lang", "tok").agg(F.count("*").alias("tf"))
    dfreq = toks.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(dfreq, "tok")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "lang", "tok", "tf", "df",
            F.expr("tf * n_docs div df").alias("score"),
        )
    )
    w = Window.partitionBy("lang").orderBy(F.desc("score"), F.asc("tok"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .select(
            "lang",
            "tok",
            F.col("tf").cast("bigint").alias("tf"),
            F.col("df").cast("bigint").alias("df"),
            F.col("score").cast("bigint").alias("score"),
            F.col("rn").cast("bigint").alias("rn"),
        )
    )


ORACLE_TFIDF = """
WITH toks AS (
  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok FROM documents
), tf AS (
  SELECT lang, tok, count(*) AS tf FROM toks GROUP BY lang, tok
), dfreq AS (
  SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY tok
), scored AS (
  SELECT tf.lang, tf.tok, tf.tf, dfreq.df,
         tf.tf * (SELECT count(*) FROM documents) // dfreq.df AS score
  FROM tf JOIN dfreq USING (tok)
)
SELECT lang, tok, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
       CAST(score AS BIGINT) AS score, CAST(rn AS BIGINT) AS rn
FROM (
  SELECT *, row_number() OVER (PARTITION BY lang ORDER BY score DESC, tok)
      AS rn
  FROM scored
)
WHERE rn <= 5
"""


def q_unigram_lm_doc_score(spark, sf):
    """Unigram language-model document scoring — the integer-exact 1-gram
    stand-in for CCNet's KenLM perplexity filter (Wenzek et al. 2019):
    each token costs floor(log2(total)) - floor(log2(freq)) bits
    (length(bin(x)) - 1 cancels in the difference), a doc's score is the
    mean cost ×10 under integer division, and docs averaging ≥6.0
    bits/token are flagged rare-token-heavy (probable gibberish/OCR
    noise). log2 via binary-string length keeps the score hash-exact
    across engines — no float log. Plan shape: one token-keyed agg builds
    the frequency table (vocabulary-sized → AQE broadcasts the cost join
    at any corpus size), one doc-keyed agg sums costs; the scalar total
    is a one-row broadcast."""
    docs = _t(spark, sf, "documents")
    toks = docs.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("tok")
    )
    freq = toks.groupBy("tok").agg(F.count("*").alias("n"))
    total = freq.agg(F.sum("n").alias("total"))
    cost = (
        freq.crossJoin(F.broadcast(total))
        .select(
            "tok",
            (F.length(F.bin(F.col("total"))) - F.length(F.bin(F.col("n"))))
            .alias("bits"),
        )
    )
    per_doc = (
        toks.join(cost, "tok")
        .groupBy("doc_id", "lang")
        .agg(F.count("*").alias("n_toks"), F.sum("bits").alias("lm_bits"))
    )
    return per_doc.select(
        "doc_id",
        "lang",
        F.col("n_toks").cast("bigint").alias("n_toks"),
        F.col("lm_bits").cast("bigint").alias("lm_bits"),
        F.expr("lm_bits * 10 div n_toks").cast("bigint").alias(
            "bits_x10_per_tok"
        ),
        (F.expr("lm_bits * 10 div n_toks") >= 60).alias("rare_heavy"),
    )


ORACLE_UNIGRAM_LM = """
WITH toks AS (
  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok FROM documents
), freq AS (
  SELECT tok, count(*) AS n FROM toks GROUP BY tok
), cost AS (
  SELECT tok,
         length(bin(CAST((SELECT sum(n) FROM freq) AS BIGINT)))
           - length(bin(CAST(n AS BIGINT))) AS bits
  FROM freq
), per_doc AS (
  SELECT doc_id, lang, count(*) AS n_toks, sum(bits) AS lm_bits
  FROM toks JOIN cost USING (tok) GROUP BY doc_id, lang
)
SELECT doc_id, lang, CAST(n_toks AS BIGINT) AS n_toks,
       CAST(lm_bits AS BIGINT) AS lm_bits,
       CAST(lm_bits * 10 // n_toks AS BIGINT) AS bits_x10_per_tok,
       lm_bits * 10 // n_toks >= 60 AS rare_heavy
FROM per_doc
"""


_IVL_US = 600_000_000  # 10-minute overlap window, microseconds


def q_interval_overlap_join(spark, sf):
    """Interval-overlap RANGE JOIN, the bucketed way: for every error
    event, count all events by the same user inside [ts, ts+10min), then
    roll up per error-hour. The naive inequality join (ts BETWEEN …)
    plans as BroadcastNestedLoopJoin — quadratic death at any real scale —
    so the window is bucketed to its own width: each error explodes to
    exactly 2 candidate buckets (a 10-min window can span at most two
    10-min buckets), each event carries exactly 1 bucket, the join is a
    plain equi-join on (user_id, bucket) and the exact half-open range
    predicate filters residue. 2× amplification on the small (error)
    side only; no event is ever matched twice because it lives in one
    bucket. Arithmetic in unix microseconds end-to-end so both engines
    bucket identically (the parquet column is TIMESTAMP_NTZ, so epoch
    micros come from timestampdiff against the NTZ epoch — tz-free in
    both engines, unlike unix_micros which needs a session-tz cast)."""
    _us = "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    ev = _t(spark, sf, "events")
    base = ev.select(
        "user_id",
        F.expr(_us).alias("us"),
        F.expr(f"{_us} div {_IVL_US}").alias("b"),
    )
    errs = ev.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"),
        "user_id",
        F.expr(_us).alias("err_us"),
        F.date_trunc("hour", F.col("ts")).alias("err_hour"),
    )
    cand = errs.select(
        "err_id",
        "user_id",
        "err_us",
        "err_hour",
        F.explode(
            F.array(
                F.expr(f"err_us div {_IVL_US}"),
                F.expr(f"err_us div {_IVL_US} + 1"),
            )
        ).alias("b"),
    )
    joined = cand.join(base, ["user_id", "b"]).where(
        (F.col("us") >= F.col("err_us"))
        & (F.col("us") < F.col("err_us") + F.lit(_IVL_US))
    )
    per_err = joined.groupBy("err_id", "err_hour").agg(
        F.count("*").alias("n_overlap")
    )
    return per_err.groupBy("err_hour").agg(
        F.count("*").cast("bigint").alias("n_errors"),
        F.sum("n_overlap").cast("bigint").alias("overlaps_total"),
        F.max("n_overlap").cast("bigint").alias("max_overlap"),
    )


ORACLE_INTERVAL_OVERLAP = f"""
WITH e AS (
  SELECT event_id AS err_id, user_id, epoch_us(ts) AS err_us,
         date_trunc('hour', ts) AS err_hour
  FROM events WHERE event_type = 'error'
), x AS (
  SELECT user_id, epoch_us(ts) AS us FROM events
), per_err AS (
  SELECT e.err_id, e.err_hour, count(*) AS n_overlap
  FROM e JOIN x ON x.user_id = e.user_id
     AND x.us >= e.err_us AND x.us < e.err_us + {_IVL_US}
  GROUP BY e.err_id, e.err_hour
)
SELECT err_hour, CAST(count(*) AS BIGINT) AS n_errors,
       CAST(sum(n_overlap) AS BIGINT) AS overlaps_total,
       CAST(max(n_overlap) AS BIGINT) AS max_overlap
FROM per_err GROUP BY err_hour
"""


def q_weighted_sample(spark, sf):
    """Deterministic weighted sampling without replacement, 20 docs per
    language: priority key = h60('ws#'||doc_id) div weight — the
    integer-division surrogate of exponential-clock A-ES sampling
    (Efraimidis-Spirakis: key = u^(1/w); dividing a fixed-point uniform
    hash by w preserves the 'heavier docs get systematically smaller
    keys' inclusion bias) with the hash standing in for the RNG so every
    engine and every rerun draws the same sample. Anti-skew shape: a
    per-language window is 5 hot keys at 10^12 rows, so rank in two
    stages — local top-20 per (lang, salt16) shard first (each reducer
    sees ~1/16th of a language), global top-20 over the ≤16·20
    survivors. Stage 1 can't evict a global winner: a doc outside its
    shard's top-20 is beaten by 20 same-language docs and can't be in
    the language's top-20."""
    docs = _t(spark, sf, "documents")
    keyed = (
        docs.select(
            "doc_id",
            "lang",
            F.greatest(F.col("n_chars"), F.lit(1)).alias("w"),
        )
        .withColumn(
            "h", _h60(F.concat(F.lit("ws#"), F.col("doc_id").cast("string")))
        )
        .withColumn("pk", F.expr("h div w"))
    )
    local_w = Window.partitionBy("lang", "salt").orderBy("pk", "doc_id")
    survivors = (
        keyed.withColumn("salt", F.pmod(F.col("doc_id"), F.lit(16)))
        .withColumn("rn_local", F.row_number().over(local_w))
        .where(F.col("rn_local") <= 20)
    )
    final_w = Window.partitionBy("lang").orderBy("pk", "doc_id")
    return (
        survivors.withColumn("rn", F.row_number().over(final_w))
        .where(F.col("rn") <= 20)
        .select(
            "lang",
            "doc_id",
            F.col("w").cast("bigint").alias("w"),
            F.col("pk").cast("bigint").alias("pk"),
            F.col("rn").cast("bigint").alias("rn"),
        )
    )


_WS_H60 = H60_SQL.format(x="'ws#' || CAST(doc_id AS VARCHAR)")

ORACLE_WEIGHTED_SAMPLE = f"""
WITH keyed AS (
  SELECT doc_id, lang, greatest(n_chars, 1) AS w,
         {_WS_H60} // greatest(n_chars, 1) AS pk
  FROM documents
)
SELECT lang, doc_id, CAST(w AS BIGINT) AS w, CAST(pk AS BIGINT) AS pk,
       CAST(rn AS BIGINT) AS rn
FROM (
  SELECT *, row_number() OVER (PARTITION BY lang ORDER BY pk, doc_id) AS rn
  FROM keyed
)
WHERE rn <= 20
"""


_HITS_SCALE = 10**9
_HITS_ITERS = 2


def q_hits_hosts(spark, sf):
    """HITS hub/authority (Kleinberg 1999) over the same deterministic
    host link graph as PageRank — the complementary authority signal for
    crawl prioritization (PageRank rewards being linked; HITS separates
    good *pointers* from good *targets*). All-integer like the PageRank
    query: hubs start at _HITS_SCALE, each half-iteration is one
    host-graph join + agg, and instead of float L2 normalization each
    vector is rescaled by integer division with greatest(total div
    SCALE, 1) — divide-only, so no overflow multiply and hash-exact in
    both engines (at true-web edge weights you'd widen to DECIMAL(38) or
    rescale edges first; the shape is unchanged). Page-scale data is
    touched exactly once (edge aggregation, localCheckpointed like the
    CC operator so the lineage — and the physical plan — stays
    iteration-count-independent); every iteration shuffles only the
    O(hosts) graph."""
    edges = _host_edges(spark, sf).localCheckpoint(eager=True)
    nodes = _hosts(edges).localCheckpoint(eager=True)

    def _rescale(df_, raw, out):
        tot = df_.agg(F.sum(raw).alias("tot"))
        return (
            df_.crossJoin(F.broadcast(tot))
            .select(
                "host",
                F.expr(
                    f"{raw} div greatest(tot div {_HITS_SCALE}, 1L)"
                ).alias(out),
            )
            .localCheckpoint(eager=True)
        )

    hub = nodes.select("host", F.lit(_HITS_SCALE).alias("h"))
    auth = None
    for _ in range(_HITS_ITERS):
        auth_raw = (
            edges.join(hub.withColumnRenamed("host", "src"), "src")
            .groupBy(F.col("dst").alias("host"))
            .agg(F.sum(F.expr("w * h")).alias("a_raw"))
        )
        auth = _rescale(auth_raw, "a_raw", "a")
        hub_raw = (
            edges.join(auth.withColumnRenamed("host", "dst"), "dst")
            .groupBy(F.col("src").alias("host"))
            .agg(F.sum(F.expr("w * a")).alias("h_raw"))
        )
        hub = _rescale(hub_raw, "h_raw", "h")
    out = (
        nodes.join(auth, "host", "left")
        .join(hub, "host", "left")
        .select(
            "host",
            F.expr("coalesce(a, 0L)").alias("authority"),
            F.expr("coalesce(h, 0L)").alias("hubness"),
        )
    )
    return out.orderBy(F.desc("authority"), "host").limit(10)


def _hits_rescale_cte(raw_cte: str, out_cte: str, col: str) -> str:
    return f"""{out_cte} AS MATERIALIZED (
  SELECT host,
         raw // greatest((SELECT sum(raw) FROM {raw_cte}) // {_HITS_SCALE},
                         1) AS {col}
  FROM {raw_cte}
)"""


# Every CTE of the chain is MATERIALIZED: a rescale reads its raw CTE twice
# and a raw CTE reads the previous rescale, so inlined CTEs re-evaluate the
# whole chain below each level (DuckDB 1.0.0 on 4 cores, sf0.001 and sf0.01:
# 32–37 s inlined, 0.1–0.2 s materialized, identical rows).
ORACLE_HITS = f"""
WITH {_HOST_LINKS_SQL}, edges AS MATERIALIZED (
  SELECT src, dst, count(*) AS w FROM host_links GROUP BY 1, 2
), nodes AS MATERIALIZED (
  SELECT src AS host FROM edges UNION SELECT dst FROM edges
), h0 AS MATERIALIZED (
  SELECT host, {_HITS_SCALE} AS h FROM nodes
), a1_raw AS MATERIALIZED (
  SELECT e.dst AS host, sum(e.w * h0.h) AS raw
  FROM edges e JOIN h0 ON h0.host = e.src GROUP BY 1
), {_hits_rescale_cte("a1_raw", "a1", "a")}, h1_raw AS MATERIALIZED (
  SELECT e.src AS host, sum(e.w * a1.a) AS raw
  FROM edges e JOIN a1 ON a1.host = e.dst GROUP BY 1
), {_hits_rescale_cte("h1_raw", "h1", "h")}, a2_raw AS MATERIALIZED (
  SELECT e.dst AS host, sum(e.w * h1.h) AS raw
  FROM edges e JOIN h1 ON h1.host = e.src GROUP BY 1
), {_hits_rescale_cte("a2_raw", "a2", "a")}, h2_raw AS MATERIALIZED (
  SELECT e.src AS host, sum(e.w * a2.a) AS raw
  FROM edges e JOIN a2 ON a2.host = e.dst GROUP BY 1
), {_hits_rescale_cte("h2_raw", "h2", "h")}
SELECT n.host, CAST(COALESCE(a2.a, 0) AS BIGINT) AS authority,
       CAST(COALESCE(h2.h, 0) AS BIGINT) AS hubness
FROM nodes n
LEFT JOIN a2 ON a2.host = n.host
LEFT JOIN h2 ON h2.host = n.host
ORDER BY authority DESC, n.host LIMIT 10
"""


WEB_QUERIES_I: dict[str, QuerySpec] = {
    "tfidf_distinctive_terms": QuerySpec(
        q_tfidf_distinctive_terms, ORACLE_TFIDF
    ),
    "unigram_lm_doc_score": QuerySpec(
        q_unigram_lm_doc_score, ORACLE_UNIGRAM_LM
    ),
    "interval_overlap_join": QuerySpec(
        q_interval_overlap_join, ORACLE_INTERVAL_OVERLAP
    ),
    "weighted_sample": QuerySpec(q_weighted_sample, ORACLE_WEIGHTED_SAMPLE),
    "hits_hosts": QuerySpec(q_hits_hosts, ORACLE_HITS),
}
EXT_QUERIES.update(WEB_QUERIES_I)


# === webtext wave J (round 4, continued): LSH banding on simhash, a
# portable quantile sketch, DSIR importance weights, rendezvous-hash
# frontier sharding, PMI collocations, largest-remainder crawl budgets ===


_SBP_BANDS = 4   # 16-bit signature -> 4 bands x 4 bits
_SBP_MAXDOC = 300  # oracle-cost cap, same idiom as ngram_jaccard_pairs
_SBP_HAM = 3     # report pairs within this Hamming radius


def q_simhash_band_pairs(spark, sf):
    """LSH banding over the SimHash signature (Charikar 2002; the simhash
    twin of minhash_dup_counts' banded LSH): split each doc's 16-bit
    signature into 4 bands of 4 bits, docs sharing ANY band value become
    candidates, and only candidates pay the exact Hamming check
    (bit_count(xor) <= 3). Candidates meet exclusively inside
    (band, value) buckets — never all-pairs — so the quadratic term is
    bounded by the bucket size. Production tune, MEASURED (round 5,
    tests/test_webtext_v.py::TestSimhashProductionTune, 56-bit sigs /
    7x8-bit bands on 19.6k extracted pages): MEAN occupancy follows
    n/2^band_bits, but the MAX does not — simhash bits on natural
    language are skewed (common tokens dominate the sign votes), the
    hottest bucket held 9% of the corpus, and raw banding admitted
    12.95% of all-pairs. The production lever is a hot-bucket cap
    (occupancy>200 routed to band-bit extension or an exact re-check,
    as operators/dedup.py's embedding near-dup does), which took the
    admitted share to 1.48%; Manku et al. WWW'07 reach the same design
    via permuted tables over sorted fingerprint blocks. The 16-bit/
    4-bit shape here keeps the oracle exact while exercising the same
    plan: signature agg -> band explode (x4, bounded) -> bucket
    self-join -> distinct pairs -> native popcount filter. The doc_id
    cap only bounds the DuckDB mirror's quadratic CTE, like
    ngram_jaccard_pairs (queries.py)."""
    from .queries import q_simhash16

    sig = q_simhash16(spark, sf).where(F.col("doc_id") < _SBP_MAXDOC)
    # band explode as a native Generate over a 4-element literal array —
    # no join topology at all (a crossJoin with a 4-row frame would plan
    # a BroadcastNestedLoopJoin for the same result)
    banded = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.expr(
                f"transform(sequence(0, {_SBP_BANDS - 1}), b -> "
                "struct(cast(b as int) as band,"
                " (simhash div shiftleft(1L, b * 4)) % 16 as bval))"
            )
        ).alias("bk"),
    ).select(
        "doc_id",
        "simhash",
        F.col("bk.band").alias("band"),
        F.col("bk.bval").alias("bval"),
    )
    pairs = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bval") == F.col("b.bval"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sa"),
            F.col("b.simhash").alias("sb"),
        )
        .distinct()
    )
    return (
        pairs.select(
            "doc_a",
            "doc_b",
            F.expr("bit_count(sa ^ sb)").cast("bigint").alias("hamming"),
        )
        .where(F.col("hamming") <= _SBP_HAM)
    )


ORACLE_SIMHASH_BANDS = f"""
WITH tc AS (
  SELECT doc_id, tok, count(*) AS c, {H60_SQL.format(x="tok")} AS h
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents WHERE doc_id < {_SBP_MAXDOC})
  GROUP BY doc_id, tok
), bits AS (
  SELECT CAST(range AS INT) AS bit, CAST(power(2, range) AS BIGINT) AS p
  FROM range(16)
), per_bit AS (
  SELECT doc_id, bit, p, sum(c * (((h // p) % 2) * 2 - 1)) AS s
  FROM tc CROSS JOIN bits GROUP BY doc_id, bit, p
), sig AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN s >= 0 THEN p ELSE 0 END) AS BIGINT) AS simhash
  FROM per_bit GROUP BY doc_id
), banded AS (
  SELECT doc_id, simhash, band,
         (simhash // (CAST(1 AS BIGINT) << (band * 4))) % 16 AS bval
  FROM sig CROSS JOIN (SELECT CAST(range AS INT) AS band
                       FROM range({_SBP_BANDS}))
), pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  a.simhash AS sa, b.simhash AS sb
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
FROM pairs WHERE bit_count(xor(sa, sb)) <= {_SBP_HAM}
"""


def q_length_quantile_sketch(spark, sf):
    """Portable log2-histogram quantile sketch — the fourth portable
    sketch next to HLL (cardinality), Bloom (membership), and CMS
    (frequency): per language, p50/p90/p99 of document length estimated
    from a base-2 bucket histogram. bucket = bit_length(n_chars) =
    length(bin(x)) (no float log — the unigram-LM discipline), so the
    sketch is <= 64 rows per language at ANY corpus size, merges
    map-side (counts add), and the quantile read-out is a cumulative
    scan of a histogram-sized relation: p_q = the smallest bucket whose
    cumulative count covers q% of docs, reported as the bucket's lower
    bound 2^(bucket-1) (a <=2x overestimate bound, the classic
    log-histogram guarantee). The exact-percentile twin is
    value_percentiles (percentile_approx); this one is hash-exact across
    engines AND mergeable across shards/days like the other portable
    sketches."""
    docs = _t(spark, sf, "documents")
    hist = (
        docs.select(
            "lang",
            F.length(
                F.bin(F.greatest(F.col("n_chars"), F.lit(1)))
            ).alias("bucket"),
        )
        .groupBy("lang", "bucket")
        .agg(F.count("*").alias("n"))
    )
    w_cum = Window.partitionBy("lang").orderBy("bucket")
    w_tot = Window.partitionBy("lang")
    cum = hist.withColumn("cum", F.sum("n").over(w_cum)).withColumn(
        "total", F.sum("n").over(w_tot)
    )
    qcols = [
        F.min(
            F.when(F.col("cum") * 100 >= F.col("total") * q, F.col("bucket"))
        ).alias(f"p{q}_bucket")
        for q in (50, 90, 99)
    ]
    agg = cum.groupBy("lang").agg(F.max("total").alias("n_docs"), *qcols)
    return agg.select(
        "lang",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        *[
            F.expr(f"shiftleft(1L, p{q}_bucket - 1)")
            .cast("bigint")
            .alias(f"p{q}_lo")
            for q in (50, 90, 99)
        ],
    )


ORACLE_LEN_QUANTILES = """
WITH hist AS (
  SELECT lang, length(bin(CAST(greatest(n_chars, 1) AS BIGINT))) AS bucket,
         count(*) AS n
  FROM documents GROUP BY 1, 2
), cum AS (
  SELECT lang, bucket, n,
         sum(n) OVER (PARTITION BY lang ORDER BY bucket) AS cum,
         sum(n) OVER (PARTITION BY lang) AS total
  FROM hist
), agg AS (
  SELECT lang, max(total) AS n_docs,
         min(CASE WHEN cum * 100 >= total * 50 THEN bucket END) AS b50,
         min(CASE WHEN cum * 100 >= total * 90 THEN bucket END) AS b90,
         min(CASE WHEN cum * 100 >= total * 99 THEN bucket END) AS b99
  FROM cum GROUP BY lang
)
SELECT lang, CAST(n_docs AS BIGINT) AS n_docs,
       CAST(CAST(1 AS BIGINT) << (b50 - 1) AS BIGINT) AS p50_lo,
       CAST(CAST(1 AS BIGINT) << (b90 - 1) AS BIGINT) AS p90_lo,
       CAST(CAST(1 AS BIGINT) << (b99 - 1) AS BIGINT) AS p99_lo
FROM agg
"""


_DSIR_B = 8192       # hashed feature buckets (fixed -> broadcastable)
_DSIR_S = 1 << 20    # integer weight scale


def _bigram_col(toks: str):
    """Word-bigram array from a token array column (NULL when < 2 tokens
    so explode emits nothing — sequence(0, -1) would DESCEND in Spark)."""
    return F.expr(
        f"CASE WHEN size({toks}) >= 2 THEN"
        f" transform(sequence(0, size({toks}) - 2),"
        f" i -> concat({toks}[i], ' ', {toks}[i + 1]))"
        f" ELSE NULL END"
    )


def q_dsir_importance_weights(spark, sf):
    """DSIR-style data selection (Xie et al. 2023, 'Data Selection for
    Language Models via Importance Resampling'): hashed word-bigram
    features (8192 buckets), per-bucket importance weight
    w_b = (target_count+1) * 2^20 div (source_count+1) — the integer
    Laplace-smoothed target/source probability ratio with English docs
    as the target domain — and each non-English doc scored by its mean
    bucket weight; top-20 = the docs whose n-gram profile looks most
    like the target. Plan shape: ONE pass over the exploded bigram
    stream computes both counts (conditional agg), the weight table is
    FIXED-size (8192 rows -> AQE broadcasts it onto the stream at any
    corpus size), the doc score is one map-side-combinable agg, and the
    global top-20 is TakeOrderedAndProject — no corpus-wide window, no
    single-reducer sort."""
    docs = _t(spark, sf, "documents")
    grams = (
        docs.select("doc_id", "lang", F.split("text", " ").alias("toks"))
        .select("doc_id", "lang", F.explode(_bigram_col("toks")).alias("g"))
        .select("doc_id", "lang", (_h60(F.col("g")) % _DSIR_B).alias("b"))
    )
    wts = (
        grams.groupBy("b")
        .agg(
            F.count("*").alias("src"),
            F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias(
                "tgt"
            ),
        )
        .select("b", F.expr(f"(tgt + 1) * {_DSIR_S}L div (src + 1)").alias("w"))
    )
    per_doc = (
        grams.where(F.col("lang") != "en")
        .join(wts, "b")
        .groupBy("doc_id", "lang")
        .agg(F.count("*").alias("n_grams"), F.sum("w").alias("wsum"))
    )
    return (
        per_doc.select(
            "doc_id",
            "lang",
            F.col("n_grams").cast("bigint").alias("n_grams"),
            F.expr("wsum div n_grams").cast("bigint").alias("score"),
        )
        .orderBy(F.desc("score"), "doc_id")
        .limit(20)
    )


_DSIR_H60_G = H60_SQL.format(x="toks[i] || ' ' || toks[i+1]")

ORACLE_DSIR = f"""
WITH toked AS (
  SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents
), grams AS (
  SELECT doc_id, lang,
         {_DSIR_H60_G} % {_DSIR_B} AS b
  FROM toked, unnest(generate_series(1, len(toks) - 1)) AS t(i)
), wts AS (
  SELECT b, (sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) + 1)
              * {_DSIR_S} // (count(*) + 1) AS w
  FROM grams GROUP BY b
), per_doc AS (
  SELECT doc_id, lang, count(*) AS n_grams, sum(w) AS wsum
  FROM grams JOIN wts USING (b)
  WHERE lang <> 'en'
  GROUP BY doc_id, lang
)
SELECT doc_id, lang, CAST(n_grams AS BIGINT) AS n_grams,
       CAST(wsum // n_grams AS BIGINT) AS score
FROM per_doc
ORDER BY score DESC, doc_id
LIMIT 20
"""


_RV_SHARDS = 8


def q_rendezvous_shard_assign(spark, sf):
    """Rendezvous (highest-random-weight) hashing of the URL space onto
    frontier shards (Thaler & Ravishankar 1998): every url scores all 8
    shards with h60(url || '#s<k>') and lands on the argmax. Unlike
    mod-k assignment, resizing k -> k+1 relocates only ~1/(k+1) of urls
    (only those whose new shard wins the max), which is what a live
    crawl frontier needs when shards are added. Entirely per-row native
    compute — the 8 hashes, greatest(), and the first-match CASE all sit
    in one codegen span with NO explode and NO join — followed by a
    single 8-row aggregate, so the query's only shuffle carries 8 groups
    regardless of corpus size. Ties break to the lowest shard id
    identically in both engines (CASE evaluates in order)."""
    from .queries import _pages_for_sf

    pages = _pages_for_sf(spark, sf)
    hs = [
        _h60(F.concat(F.col("url"), F.lit(f"#s{s}"))).alias(f"h{s}")
        for s in range(_RV_SHARDS)
    ]
    with_h = pages.select(url_host_col("url").alias("host"), *hs)
    m = F.greatest(*[F.col(f"h{s}") for s in range(_RV_SHARDS)])
    shard = F.coalesce(
        *[
            F.when(F.col(f"h{s}") == m, F.lit(s))
            for s in range(_RV_SHARDS)
        ]
    )
    return (
        with_h.select("host", shard.alias("shard"))
        .groupBy("shard")
        .agg(
            F.count("*").cast("bigint").alias("n_urls"),
            F.countDistinct("host").cast("bigint").alias("n_hosts"),
        )
        .select(
            F.col("shard").cast("bigint").alias("shard"), "n_urls", "n_hosts"
        )
    )


_RV_H = [
    H60_SQL.format(x=f"url || '#s{s}'") for s in range(_RV_SHARDS)
]
_RV_GREATEST = "greatest(" + ", ".join(f"h{s}" for s in range(_RV_SHARDS)) + ")"
_RV_CASE = (
    "CASE "
    + " ".join(f"WHEN h{s} = m THEN {s}" for s in range(_RV_SHARDS))
    + " END"
)

ORACLE_RENDEZVOUS = f"""
WITH hashed AS (
  SELECT regexp_extract(url, '^https?://([^/]+)', 1) AS host,
         {", ".join(f"{h} AS h{s}" for s, h in enumerate(_RV_H))}
  {_PAGES_SRC}
), m AS (
  SELECT host, {_RV_GREATEST} AS m,
         {", ".join(f"h{s}" for s in range(_RV_SHARDS))}
  FROM hashed
)
SELECT CAST({_RV_CASE} AS BIGINT) AS shard,
       CAST(count(*) AS BIGINT) AS n_urls,
       CAST(count(DISTINCT host) AS BIGINT) AS n_hosts
FROM m GROUP BY 1
"""


def q_pmi_bigrams(spark, sf):
    """Collocation mining per language: top-5 bigrams by an integer-exact
    PMI surrogate, score = c_xy * T_lang div (c_x * c_y) — the
    cross-multiplied form of pmi = log(p_xy / (p_x p_y)) with the log
    dropped (rank-equivalent for ranking within a language since log is
    monotone), min support c_xy >= 3. Plan shape: the corpus is read
    once into a token array; bigram derivation is a native transform()
    (no posexplode self-join — the array already holds adjacency); both
    count tables are map-side-combinable aggs; every join downstream is
    vocabulary-sized so AQE broadcasts them; the final per-language
    window ranks the collocation table, not the corpus. At true web
    scale c_xy * T_lang widens to DECIMAL(38) — the shape is
    unchanged."""
    docs = _t(spark, sf, "documents")
    toked = docs.select("lang", F.split("text", " ").alias("toks"))
    grams = (
        toked.select("lang", F.explode(_bigram_col("toks")).alias("g"))
        .select(
            "lang",
            F.expr("split(g, ' ')[0]").alias("t1"),
            F.expr("split(g, ' ')[1]").alias("t2"),
        )
    )
    uni = (
        toked.select("lang", F.explode("toks").alias("tok"))
        .groupBy("lang", "tok")
        .agg(F.count("*").alias("c"))
    )
    tot = uni.groupBy("lang").agg(F.sum("c").alias("t"))
    big = (
        grams.groupBy("lang", "t1", "t2")
        .agg(F.count("*").alias("c_xy"))
        .where(F.col("c_xy") >= 3)
    )
    scored = (
        big.join(
            uni.select("lang", F.col("tok").alias("t1"),
                       F.col("c").alias("c1")),
            ["lang", "t1"],
        )
        .join(
            uni.select("lang", F.col("tok").alias("t2"),
                       F.col("c").alias("c2")),
            ["lang", "t2"],
        )
        .join(tot, "lang")
        .select(
            "lang", "t1", "t2", "c_xy",
            F.expr("c_xy * t div (c1 * c2)").alias("score"),
        )
    )
    w = Window.partitionBy("lang").orderBy(
        F.desc("score"), F.desc("c_xy"), "t1", "t2"
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .select(
            "lang", "t1", "t2",
            F.col("c_xy").cast("bigint").alias("c_xy"),
            F.col("score").cast("bigint").alias("score"),
            F.col("rn").cast("bigint").alias("rn"),
        )
    )


ORACLE_PMI = """
WITH toked AS (
  SELECT lang, string_split(text, ' ') AS toks FROM documents
), grams AS (
  SELECT lang, toks[i] AS t1, toks[i + 1] AS t2
  FROM toked, unnest(generate_series(1, len(toks) - 1)) AS u(i)
), uni AS (
  SELECT lang, unnest(toks) AS tok FROM toked
), uc AS (
  SELECT lang, tok, count(*) AS c FROM uni GROUP BY 1, 2
), tot AS (
  SELECT lang, sum(c) AS t FROM uc GROUP BY lang
), big AS (
  SELECT lang, t1, t2, count(*) AS c_xy
  FROM grams GROUP BY 1, 2, 3 HAVING count(*) >= 3
), scored AS (
  SELECT b.lang, b.t1, b.t2, b.c_xy,
         b.c_xy * tot.t // (u1.c * u2.c) AS score
  FROM big b
  JOIN uc u1 ON u1.lang = b.lang AND u1.tok = b.t1
  JOIN uc u2 ON u2.lang = b.lang AND u2.tok = b.t2
  JOIN tot ON tot.lang = b.lang
)
SELECT lang, t1, t2, CAST(c_xy AS BIGINT) AS c_xy,
       CAST(score AS BIGINT) AS score, CAST(rn AS BIGINT) AS rn
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY lang ORDER BY score DESC, c_xy DESC, t1, t2) AS rn
  FROM scored
)
WHERE rn <= 5
"""


_CBA_BUDGET = 10_000


def q_crawl_budget_allocation(spark, sf):
    """Largest-remainder (Hamilton) apportionment of a fixed crawl budget
    across hosts: each host gets base = B * pending div total fetch
    slots, and the B - sum(base) leftover slots go to the hosts with the
    largest remainders — the integer-exact proportional-fair scheduler a
    politeness-aware crawler runs every cycle (sum(alloc) == B exactly,
    no fractional slots, no rounding drift). Scale shape: the corpus is
    touched once (host rollup); everything after runs on the host-level
    relation. The extras rank is the only global order and leftover < B
    (a CONSTANT), so it uses the weighted_sample two-stage shape: local
    top-leftover per salt shard first, global rank over <= 16*leftover
    survivors — a host outside its shard's top-leftover is beaten by >=
    leftover hosts in that shard alone, so stage 1 cannot evict a
    winner. No single-reducer pass over all hosts anywhere."""
    from .queries import _pages_for_sf

    pages = _pages_for_sf(spark, sf)
    pend = (
        pages.select(url_host_col("url").alias("host"))
        .groupBy("host")
        .agg(F.count("*").alias("pending"))
    )
    tot = pend.agg(F.sum("pending").alias("total"))
    based = pend.crossJoin(F.broadcast(tot)).select(
        "host",
        "pending",
        F.expr(f"pending * {_CBA_BUDGET}L div total").alias("base"),
        F.expr(f"(pending * {_CBA_BUDGET}L) % total").alias("rem"),
    )
    lsc = based.agg(
        (F.lit(_CBA_BUDGET) - F.sum("base")).cast("bigint").alias("leftover")
    )
    salted = based.crossJoin(F.broadcast(lsc)).withColumn(
        "salt", _h60(F.col("host")) % 16
    )
    w_local = Window.partitionBy("salt").orderBy(F.desc("rem"), "host")
    cand = salted.withColumn("rl", F.row_number().over(w_local)).where(
        F.col("rl") <= F.col("leftover")
    )
    w_glob = Window.orderBy(F.desc("rem"), "host")
    extras = (
        cand.withColumn("rg", F.row_number().over(w_glob))
        .where(F.col("rg") <= F.col("leftover"))
        .select("host", F.lit(1).alias("extra"))
    )
    return (
        based.join(extras, "host", "left")
        .select(
            "host",
            F.col("pending").cast("bigint").alias("pending"),
            F.expr("base + coalesce(extra, 0)").cast("bigint").alias("alloc"),
        )
    )


ORACLE_CRAWL_BUDGET = f"""
WITH pend AS (
  SELECT regexp_extract(url, '^https?://([^/]+)', 1) AS host,
         count(*) AS pending
  {_PAGES_SRC}
  GROUP BY 1
), based AS (
  SELECT host, pending,
         pending * {_CBA_BUDGET} // t AS base,
         (pending * {_CBA_BUDGET}) % t AS rem
  FROM pend, (SELECT sum(pending) AS t FROM pend)
), lsc AS (
  SELECT {_CBA_BUDGET} - sum(base) AS leftover FROM based
)
SELECT host, CAST(pending AS BIGINT) AS pending,
       CAST(base + CASE WHEN row_number() OVER (ORDER BY rem DESC, host)
                          <= (SELECT leftover FROM lsc)
                   THEN 1 ELSE 0 END AS BIGINT) AS alloc
FROM based
"""


WEB_QUERIES_J: dict[str, QuerySpec] = {
    "simhash_band_pairs": QuerySpec(
        q_simhash_band_pairs, ORACLE_SIMHASH_BANDS
    ),
    "length_quantile_sketch": QuerySpec(
        q_length_quantile_sketch, ORACLE_LEN_QUANTILES
    ),
    "dsir_importance_weights": QuerySpec(
        q_dsir_importance_weights, ORACLE_DSIR
    ),
    "rendezvous_shard_assign": QuerySpec(
        q_rendezvous_shard_assign, ORACLE_RENDEZVOUS
    ),
    "pmi_bigrams": QuerySpec(q_pmi_bigrams, ORACLE_PMI),
    "crawl_budget_allocation": QuerySpec(
        q_crawl_budget_allocation, ORACLE_CRAWL_BUDGET
    ),
}
EXT_QUERIES.update(WEB_QUERIES_J)


# === webtext wave K (round 4, continued): SCD2 snapshot history,
# host-level minhash mirror detection, BFS crawl-depth labeling ===


def q_scd2_url_history(spark, sf):
    """SCD2 (slowly-changing-dimension type 2) url version history from
    crawl snapshots — the point-in-time twin of latest_snapshot_per_url:
    every url's capture stream collapses into validity intervals
    [valid_from, valid_to) that OPEN only when content actually changes
    (an unchanged re-crawl extends the current interval instead of
    minting a version — the consecutive-duplicate collapse every
    snapshot warehouse needs). The fixture table has one capture per
    url, so the query synthesizes the multi-snapshot input first (the
    latest_snapshot pattern): every third url gains a +1h re-crawl with
    CHANGED content and a +2h re-crawl with the SAME content as +1h —
    the +2h capture must NOT create a version. Content identity is
    md5(hex(html)) (hex first: DuckDB's md5 is VARCHAR-only, and hex is
    byte-exact in both engines). Plan shape: both windows partition on
    url — millions of tiny partitions, no skew at any scale — and the
    change filter runs BEFORE the second window, so version/interval
    assignment touches only rows that survive the collapse."""
    from .queries import _pages_for_sf

    pages = _pages_for_sf(spark, sf).select(
        "url", "warc_ts", F.md5(F.hex("html")).alias("ck")
    )
    page_no = url_page_no_col("url")
    changed = pages.where(page_no % 3 == 0).select(
        "url",
        (F.col("warc_ts") + F.expr("INTERVAL 1 HOUR")).alias("warc_ts"),
        F.concat(F.lit("changed#"), F.col("url")).alias("ck"),
    )
    unchanged = changed.select(
        "url",
        (F.col("warc_ts") + F.expr("INTERVAL 1 HOUR")).alias("warc_ts"),
        "ck",
    )
    snaps = pages.unionByName(changed).unionByName(unchanged)
    w = Window.partitionBy("url").orderBy("warc_ts")
    kept = (
        snaps.withColumn("prev_ck", F.lag("ck").over(w))
        .where(F.col("prev_ck").isNull() | (F.col("ck") != F.col("prev_ck")))
    )
    w2 = Window.partitionBy("url").orderBy("warc_ts")
    return (
        kept.select(
            "url",
            F.row_number().over(w2).cast("bigint").alias("version"),
            F.col("warc_ts").alias("valid_from"),
            F.lead("warc_ts").over(w2).alias("valid_to"),
            F.lead("warc_ts").over(w2).isNull().alias("is_current"),
        )
    )


ORACLE_SCD2 = f"""
WITH pages AS (
  SELECT url, warc_ts, md5(hex(html)) AS ck
  {_PAGES_SRC}
), changed AS (
  SELECT url, warc_ts + INTERVAL 1 HOUR AS warc_ts,
         'changed#' || url AS ck
  FROM pages
  WHERE TRY_CAST(regexp_extract(url, '([0-9]+)$', 1) AS BIGINT) % 3 = 0
), snaps AS (
  SELECT url, warc_ts, ck FROM pages
  UNION ALL SELECT url, warc_ts, ck FROM changed
  UNION ALL SELECT url, warc_ts + INTERVAL 1 HOUR, ck FROM changed
), kept AS (
  SELECT url, warc_ts FROM (
    SELECT url, warc_ts, ck,
           lag(ck) OVER (PARTITION BY url ORDER BY warc_ts) AS prev_ck
    FROM snaps
  ) WHERE prev_ck IS NULL OR ck <> prev_ck
)
SELECT url,
       CAST(row_number() OVER w AS BIGINT) AS version,
       warc_ts AS valid_from,
       lead(warc_ts) OVER w AS valid_to,
       lead(warc_ts) OVER w IS NULL AS is_current
FROM kept
WINDOW w AS (PARTITION BY url ORDER BY warc_ts)
"""


_MH_SEEDS = 8   # minhash seeds per source signature
_MH_BANDS = 4   # 2 seeds per band


def q_source_mirror_detect(spark, sf):
    """Mirror/parked-domain detection via GROUP-level minhash: each
    source (site) gets an 8-seed minhash signature over the union of its
    documents' token sets — min over a union is the min of mins, so the
    signature builds in ONE map-side-combinable agg (8 min() columns, no
    seed explode of the token stream) and merges across
    shards/partitions/days like every portable sketch in this repo.
    Banding (4 bands x 2 seeds, the minhash_dup_counts s-curve) makes
    candidate pairs meet only inside band buckets — never all-pairs over
    sources — and each candidate pair reports how many of its 8 seeds
    agree (n_sigs, the Jaccard estimate x8) plus how many bands matched.
    Features are word-2-gram shingles, not unigrams: the fixture's
    sources share a ~30-token generator vocabulary, so unigram
    signatures collide on ALL pairs (measured), while the ~700-shingle
    bigram sets spread n_sigs across the full 1..8 range. At web scale
    'source' is the registrable domain (~10^8 groups): the band explode
    is x4 of the GROUP-level relation, not the corpus."""
    docs = _t(spark, sf, "documents")
    toks = docs.select("source", F.split("text", " ").alias("toks")).select(
        "source", F.explode(_bigram_col("toks")).alias("tok")
    )
    sigs = toks.groupBy("source").agg(
        *[
            F.min(
                _h60(F.concat(F.lit(f"mh{s}#"), F.col("tok")))
            ).alias(f"s{s}")
            for s in range(_MH_SEEDS)
        ]
    )
    bands = sigs.select(
        "source",
        *[F.col(f"s{s}") for s in range(_MH_SEEDS)],
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            ":",
                            F.col(f"s{2 * b}").cast("string"),
                            F.col(f"s{2 * b + 1}").cast("string"),
                        ).alias("bkey"),
                    )
                    for b in range(_MH_BANDS)
                ]
            )
        ).alias("bk"),
    ).select(
        "source",
        *[F.col(f"s{s}") for s in range(_MH_SEEDS)],
        F.col("bk.band").alias("band"),
        F.col("bk.bkey").alias("bkey"),
    )
    a = bands.alias("a")
    b = bands.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"),
            F.col("b.source").alias("src_b"),
            *[F.col(f"a.s{s}").alias(f"as{s}") for s in range(_MH_SEEDS)],
            *[F.col(f"b.s{s}").alias(f"bs{s}") for s in range(_MH_SEEDS)],
        )
        .agg(F.countDistinct("a.band").alias("n_bands"))
    )
    n_sigs = sum(
        F.when(F.col(f"as{s}") == F.col(f"bs{s}"), 1).otherwise(0)
        for s in range(_MH_SEEDS)
    )
    return pairs.select(
        "src_a",
        "src_b",
        F.col("n_bands").cast("bigint").alias("n_bands"),
        n_sigs.cast("bigint").alias("n_sigs"),
    )


_MH_MIN_COLS = ",\n         ".join(
    "min({h}) AS s{s}".format(
        h=H60_SQL.format(x=f"'mh{s}#' || tok"), s=s
    )
    for s in range(_MH_SEEDS)
)
_MH_BAND_SELECTS = "\n  UNION ALL\n".join(
    f"  SELECT source, {', '.join(f's{s}' for s in range(_MH_SEEDS))},"
    f" {b} AS band,"
    f" CAST(s{2 * b} AS VARCHAR) || ':' || CAST(s{2 * b + 1} AS VARCHAR)"
    f" AS bkey FROM sigs"
    for b in range(_MH_BANDS)
)
_MH_NSIGS = " + ".join(
    f"CASE WHEN a.s{s} = b.s{s} THEN 1 ELSE 0 END"
    for s in range(_MH_SEEDS)
)

ORACLE_MIRROR = f"""
WITH toked AS (
  SELECT source, string_split(text, ' ') AS toks FROM documents
), toks AS (
  SELECT source, toks[i] || ' ' || toks[i + 1] AS tok
  FROM toked, unnest(generate_series(1, len(toks) - 1)) AS t(i)
), sigs AS (
  SELECT source,
         {_MH_MIN_COLS}
  FROM toks GROUP BY source
), bands AS (
{_MH_BAND_SELECTS}
)
SELECT a.source AS src_a, b.source AS src_b,
       CAST(count(DISTINCT a.band) AS BIGINT) AS n_bands,
       CAST({_MH_NSIGS} AS BIGINT) AS n_sigs
FROM bands a JOIN bands b
  ON a.band = b.band AND a.bkey = b.bkey AND a.source < b.source
GROUP BY a.source, b.source,
         {", ".join(f"a.s{s}" for s in range(_MH_SEEDS))},
         {", ".join(f"b.s{s}" for s in range(_MH_SEEDS))}
"""


_BFS_ITERS = 3
_BFS_SEEDS = ("host0.example", "host7.example")


def q_crawl_depth_bfs(spark, sf):
    """BFS crawl-depth labeling: minimum link-hops from a seed host set
    over the host link graph (the same deterministic edge synthesis as
    PageRank/HITS) — the signal a breadth-limited crawler uses to cut
    off at depth k and the classic 'distance from trusted seeds' spam
    feature (TrustRank's propagation skeleton). Each of the 3 iterations
    relaxes dist(h) = min(dist(h), min over in-edges dist(src)+1): one
    join + one agg over the O(hosts) graph per hop, localCheckpointed
    like CC/HITS so lineage and plan stay iteration-independent; the
    page-scale table is touched exactly once (edge aggregation). At
    10^12 pages the host graph is ~10^8 rows — every per-iteration
    shuffle is graph-sized, never corpus-sized. Hops ignore the edge
    weight w."""
    edges = _host_edges(spark, sf).localCheckpoint(eager=True)
    dist = (
        _hosts(edges)
        .where(F.col("host").isin(*_BFS_SEEDS))
        .select("host", F.lit(0).cast("bigint").alias("dist"))
        .localCheckpoint(eager=True)
    )
    for k in range(_BFS_ITERS):
        stepped = (
            edges.join(dist.withColumnRenamed("host", "src"), "src")
            .select(F.col("dst").alias("host"), (F.col("dist") + 1).alias("dist"))
        )
        dist = (
            dist.unionByName(stepped)
            .groupBy("host")
            .agg(F.min("dist").alias("dist"))
        )
        # checkpoint between hops (iteration-independent lineage, like
        # CC/HITS) but leave the LAST relaxation declarative so the
        # returned plan shows the per-hop join+min-agg shape
        if k < _BFS_ITERS - 1:
            dist = dist.localCheckpoint(eager=True)
    return dist.select("host", F.col("dist").cast("bigint").alias("dist"))


def _bfs_iter_cte(prev: str, cur: str) -> str:
    return f"""{cur} AS (
  SELECT host, min(dist) AS dist FROM (
    SELECT host, dist FROM {prev}
    UNION ALL
    SELECT e.dst AS host, p.dist + 1 AS dist
    FROM edges e JOIN {prev} p ON p.host = e.src
  ) GROUP BY host
)"""


_BFS_SEEDS_SQL = ", ".join(f"'{h}'" for h in _BFS_SEEDS)
_BFS_ITER_CTES = ",\n".join(
    _bfs_iter_cte(f"d{k}", f"d{k + 1}") for k in range(_BFS_ITERS)
)

ORACLE_BFS = f"""
WITH {_HOST_LINKS_SQL}, edges AS (
  SELECT DISTINCT src, dst FROM host_links
), nodes AS (
  SELECT src AS host FROM edges UNION SELECT dst FROM edges
), d0 AS (
  SELECT host, CAST(0 AS BIGINT) AS dist FROM nodes
  WHERE host IN ({_BFS_SEEDS_SQL})
),
{_BFS_ITER_CTES}
SELECT host, CAST(dist AS BIGINT) AS dist FROM d{_BFS_ITERS}
"""


WEB_QUERIES_K: dict[str, QuerySpec] = {
    "scd2_url_history": QuerySpec(q_scd2_url_history, ORACLE_SCD2),
    "source_mirror_detect": QuerySpec(
        q_source_mirror_detect, ORACLE_MIRROR
    ),
    "crawl_depth_bfs": QuerySpec(q_crawl_depth_bfs, ORACLE_BFS),
}
EXT_QUERIES.update(WEB_QUERIES_K)


# === webtext wave L (round 4, continued): GROUPING SETS, merkle-style
# partition checksums ===


_GROUPING_SETS_SQL_T = """
SELECT coalesce(lang, 'ALL') AS lang_g,
       coalesce(source, 'ALL') AS source_g,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM {table}
GROUP BY GROUPING SETS ((lang), (source), (lang, source), ())
"""

ORACLE_GROUPING_SETS = _GROUPING_SETS_SQL_T.format(table="documents")


def q_grouping_sets_panel(spark, sf):
    """GROUPING SETS traffic panel — the explicit-sets sibling of
    cube_lineitem/rollup_event_stats: per-language, per-source,
    per-(language, source), and grand-total doc counts in ONE pass.
    Catalyst plans all four groupings through a single Expand (each
    input row fans out once per set) feeding one partial+final
    HashAggregate — one corpus scan and one shuffle for the whole panel,
    where four separate GROUP BYs would scan and shuffle four times.
    NULL group keys from Expand are relabeled 'ALL' (the fixture's lang/
    source are never null, so the label is unambiguous). The SQL text is
    identical on both engines except the view name: the Spark side
    registers a QUERY-SCOPED view (gsp_documents) so a read-only query
    never clobbers a pre-existing session view named 'documents'."""
    _t(spark, sf, "documents").createOrReplaceTempView("gsp_documents")
    return spark.sql(_GROUPING_SETS_SQL_T.format(table="gsp_documents"))


_PCHK_BUCKETS = 64


def q_partition_checksums(spark, sf):
    """Merkle-style table fingerprint for cross-copy anti-entropy: the
    corpus is carved into 64 url-hash buckets and each bucket reports
    (n_rows, bit_xor of a per-row content key). Two table copies (a
    re-extraction, a replicated sink, a resumed run's output — the
    lineage/resume manifest's integrity twin) can be diffed by comparing
    64 rows instead of 10^12: any divergent row flips its bucket's xor.
    bit_xor is the one order-insensitive, overflow-free exact reducer —
    sum of 60-bit keys overflows BIGINT at ~10^0.9 rows/bucket at web
    scale, while xor is closed over 64 bits and merges map-side (partial
    xor per partition, final xor per bucket: the agg output is ≤64 rows
    at ANY corpus size). The content key hashes url + payload identity
    (md5 of hex — the scd2 convention for blob hashing in both
    engines)."""
    from .queries import _pages_for_sf

    pages = _pages_for_sf(spark, sf)
    keyed = pages.select(
        F.pmod(_h60(F.col("url")), F.lit(_PCHK_BUCKETS)).alias("bucket"),
        _h60(
            F.concat(F.col("url"), F.lit("#"), F.md5(F.hex("html")))
        ).alias("ck"),
    )
    return keyed.groupBy("bucket").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.expr("bit_xor(ck)").cast("bigint").alias("checksum"),
    ).select(F.col("bucket").cast("bigint").alias("bucket"), "n_rows",
             "checksum")


_PCHK_H_URL = H60_SQL.format(x="url")
_PCHK_H_CK = H60_SQL.format(x="url || '#' || md5(hex(html))")

ORACLE_PCHK = f"""
WITH keyed AS (
  SELECT {_PCHK_H_URL} % {_PCHK_BUCKETS} AS bucket,
         {_PCHK_H_CK} AS ck
  {_PAGES_SRC}
)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(bit_xor(ck) AS BIGINT) AS checksum
FROM keyed GROUP BY bucket
"""


WEB_QUERIES_L: dict[str, QuerySpec] = {
    "grouping_sets_panel": QuerySpec(
        q_grouping_sets_panel, ORACLE_GROUPING_SETS
    ),
    "partition_checksums": QuerySpec(q_partition_checksums, ORACLE_PCHK),
}
EXT_QUERIES.update(WEB_QUERIES_L)


# === webtext wave M (round 4, continued): point-in-time reads,
# deterministic epoch shuffle ===


_PIT_T = "2023-06-01 02:00:00"  # mid-range at every sf (captures start
# 2023-06-01 00:00 and spread forward ~7s/page)


def q_pit_snapshot_lookup(spark, sf):
    """Point-in-time (time-travel) read over the SCD2 url history: which
    version of each url was live at T — the consumer query every
    snapshot warehouse serves ('reproduce the corpus exactly as crawled
    on date X' is how training runs are made re-runnable). Because SCD2
    intervals are disjoint and half-open per url, the lookup is a pure
    FILTER over the history table (valid_from <= T < valid_to, with
    NULL valid_to = still current) — at most one row per url survives,
    NO window and NO join are added on top of the history build; a url
    first captured after T correctly vanishes from the snapshot. At
    production scale the history table is materialized once and every
    PIT read is this zero-shuffle predicate (plus parquet min/max
    pruning on valid_from when sorted at write time)."""
    t = F.lit(_PIT_T).cast("timestamp_ntz")
    hist = q_scd2_url_history(spark, sf)
    return hist.where(
        (F.col("valid_from") <= t)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > t))
    ).select("url", "version", "valid_from")


ORACLE_PIT = f"""
WITH hist AS ({ORACLE_SCD2})
SELECT url, version, valid_from
FROM hist
WHERE valid_from <= TIMESTAMP '{_PIT_T}'
  AND (valid_to IS NULL OR valid_to > TIMESTAMP '{_PIT_T}')
"""


_EP_SHARDS = 32
_EP_SALTS = 16
_EP_SEED = "ep1"


def q_epoch_shuffle_assign(spark, sf):
    """Deterministic epoch shuffle — the reproducible global permutation
    a training run needs (every re-run, every engine, every cluster size
    reads the same document order) WITHOUT a global sort: each doc hashes
    to a shard (pmod(h, 32)) and its position within the shard is an
    exact dense 0..n-1 rank computed by the bucketed-prefix-sum pattern
    (token_shard_packing's shape): independent hash bits pick a salt
    sub-bucket, a 512-row (shard, salt) count table — broadcast — gives
    each sub-bucket its starting offset, and a row_number window over
    (shard, salt) ranks only 1/512th of the corpus per reducer. Adding
    salt bits scales the reducer bound with the cluster; the permutation
    is a pure function of (seed, doc_id), so epoch 2 is a seed change,
    not a data move."""
    docs = _t(spark, sf, "documents")
    keyed = docs.select(
        "doc_id",
        _h60(
            F.concat(F.lit(f"{_EP_SEED}#"), F.col("doc_id").cast("string"))
        ).alias("h"),
    ).select(
        "doc_id",
        "h",
        F.pmod(F.col("h"), F.lit(_EP_SHARDS)).alias("shard"),
        F.pmod(F.expr(f"h div {_EP_SHARDS}"), F.lit(_EP_SALTS)).alias(
            "salt"
        ),
    )
    counts = keyed.groupBy("shard", "salt").agg(F.count("*").alias("c"))
    w_off = (
        Window.partitionBy("shard")
        .orderBy("salt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.withColumn(
        "off", F.coalesce(F.sum("c").over(w_off), F.lit(0))
    ).select("shard", "salt", "off")
    w_local = Window.partitionBy("shard", "salt").orderBy("h", "doc_id")
    return (
        keyed.withColumn("rl", F.row_number().over(w_local))
        .join(F.broadcast(offsets), ["shard", "salt"])
        .select(
            "doc_id",
            F.col("shard").cast("bigint").alias("shard"),
            (F.col("off") + F.col("rl") - 1).cast("bigint").alias("pos"),
        )
    )


_EP_H = H60_SQL.format(x=f"'{_EP_SEED}#' || CAST(doc_id AS VARCHAR)")

ORACLE_EPOCH = f"""
WITH keyed AS (
  SELECT doc_id, {_EP_H} AS h,
         {_EP_H} % {_EP_SHARDS} AS shard,
         ({_EP_H} // {_EP_SHARDS}) % {_EP_SALTS} AS salt
  FROM documents
), counts AS (
  SELECT shard, salt, count(*) AS c FROM keyed GROUP BY 1, 2
), offsets AS (
  SELECT shard, salt,
         coalesce(sum(c) OVER (PARTITION BY shard ORDER BY salt
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING), 0) AS off
  FROM counts
)
SELECT k.doc_id, CAST(k.shard AS BIGINT) AS shard,
       CAST(o.off + row_number() OVER (PARTITION BY k.shard, k.salt
                                       ORDER BY k.h, k.doc_id) - 1
            AS BIGINT) AS pos
FROM keyed k JOIN offsets o ON o.shard = k.shard AND o.salt = k.salt
"""


WEB_QUERIES_M: dict[str, QuerySpec] = {
    "pit_snapshot_lookup": QuerySpec(q_pit_snapshot_lookup, ORACLE_PIT),
    "epoch_shuffle_assign": QuerySpec(
        q_epoch_shuffle_assign, ORACLE_EPOCH
    ),
}
EXT_QUERIES.update(WEB_QUERIES_M)


def q_session_window_stats(spark, sf):
    """The BUILT-IN session-window operator (F.session_window) on the
    batch path — the declarative form of user_sessions' lag/cumsum and
    the batch twin of streaming/session_window.py (same function, same
    gap; stream==batch proven in tests/test_streaming_lineage.py
    alongside the custom applyInPandasWithState sessionizer). The DuckDB
    oracle mirrors Spark's INCLUSIVE gap boundary with the classic
    lag/cumsum rewrite: an event at exactly last+gap still EXTENDS the
    session (measured at sf0.1 — the fixture contains exactly one
    1800s-apart pair and Spark merges it), so a new session starts only
    when ts - prev > gap. The value sum is integer-exact
    (sum of floor(value*1000)) so float summation order can never shift
    the hash. Plan shape: one Exchange on user_id; the session merge is
    the engine's sort-based window coalescing within each user partition
    — per-user partitions are tiny at any corpus size."""
    from ..streaming.session_window import session_window_stats

    ev = _t(spark, sf, "events")
    return session_window_stats(ev)


ORACLE_SESSION_WINDOW = """
WITH lagd AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR date_diff('second', lag(ts) OVER w, ts) > 1800
              THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id, ts, value,
         sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM lagd
)
SELECT user_id, min(ts) AS session_start, max(ts) AS session_last,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT)
         AS sum_value_milli
FROM sess GROUP BY user_id, sid
"""


WEB_QUERIES_N: dict[str, QuerySpec] = {
    "session_window_stats": QuerySpec(
        q_session_window_stats, ORACLE_SESSION_WINDOW
    ),
}
EXT_QUERIES.update(WEB_QUERIES_N)


# === webtext wave O (round 4, continued): content-defined chunking,
# registrable domains, triangle counting ===


_CDC_MOD = 8  # expected chunk length in tokens (boundary prob 1/8)


def q_cdc_chunk_dedup(spark, sf):
    """Content-defined chunking dedup (Rabin/FastCDC-style boundaries,
    the dedup-storage trick applied to text): a token CLOSES a chunk
    when h60(token) % 8 == 0, so chunk boundaries are a function of
    CONTENT, not position — prepend one word to a document and every
    fixed-width chunk shifts (chunk_dedup_docs' 8-gram hashes all
    change) while CDC chunks realign at the first boundary and the rest
    dedup unchanged. That shift-resistance is why backup/dedup systems
    use CDC; for web corpora it catches boilerplate that moved by an
    inserted banner. Plan shape: posexplode → per-doc cumsum window
    (per-doc partitions — tiny at any scale) → per-(doc, chunk) rebuild
    via sort_array(collect_list) — the sentence-dedup reassembly idiom —
    → md5 → one distinct-agg per language. Summary output is
    languages-sized."""
    docs = _t(spark, sf, "documents")
    toks = docs.select(
        "doc_id",
        "lang",
        F.posexplode(F.split("text", " ")).alias("pos", "tok"),
    ).withColumn(
        "brk", (_h60(F.col("tok")) % _CDC_MOD == 0).cast("int")
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    chunked = toks.withColumn(
        "chunk_id", F.coalesce(F.sum("brk").over(w), F.lit(0))
    )
    chunks = (
        chunked.groupBy("doc_id", "lang", "chunk_id")
        .agg(
            F.md5(
                F.concat_ws(
                    " ",
                    F.expr(
                        "transform(sort_array(collect_list(struct(pos, tok))),"
                        " s -> s.tok)"
                    ),
                )
            ).alias("h"),
            F.count("*").alias("n_toks"),
        )
    )
    return (
        chunks.groupBy("lang")
        .agg(
            F.count("*").alias("n_chunks"),
            F.countDistinct("h").alias("n_distinct"),
            F.sum("n_toks").alias("n_toks"),
        )
        .select(
            "lang",
            F.col("n_chunks").cast("bigint").alias("n_chunks"),
            F.col("n_distinct").cast("bigint").alias("n_distinct"),
            F.expr("(n_chunks - n_distinct) * 10000 div n_chunks")
            .cast("bigint")
            .alias("dup_pct_x100"),
            F.expr("n_toks * 10 div n_chunks").cast("bigint").alias(
                "avg_len_x10"
            ),
        )
    )


_CDC_H_TOK = H60_SQL.format(x="tok")

ORACLE_CDC = f"""
WITH toks AS (
  SELECT doc_id, lang, i - 1 AS pos, toks[i] AS tok,
         CASE WHEN {_CDC_H_TOK.replace("md5(tok)", "md5(toks[i])")}
                   % {_CDC_MOD} = 0 THEN 1 ELSE 0 END AS brk
  FROM (SELECT doc_id, lang, string_split(text, ' ') AS toks
        FROM documents),
       unnest(generate_series(1, len(toks))) AS t(i)
), chunked AS (
  SELECT doc_id, lang, pos, tok,
         coalesce(sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING), 0) AS chunk_id
  FROM toks
), chunks AS (
  SELECT doc_id, lang, chunk_id,
         md5(string_agg(tok, ' ' ORDER BY pos)) AS h,
         count(*) AS n_toks
  FROM chunked GROUP BY doc_id, lang, chunk_id
)
SELECT lang, CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(count(DISTINCT h) AS BIGINT) AS n_distinct,
       CAST((count(*) - count(DISTINCT h)) * 10000 // count(*) AS BIGINT)
         AS dup_pct_x100,
       CAST(sum(n_toks) * 10 // count(*) AS BIGINT) AS avg_len_x10
FROM chunks GROUP BY lang
"""


_PSL_SUFFIXES = [("example", 1), ("org.example", 2)]


def q_etld1_registrable(spark, sf):
    """Registrable-domain (eTLD+1) extraction via a BROADCAST
    public-suffix table with longest-match — how politeness, domain
    caps, and mirror grouping key hosts in production (psl is ~9k rules;
    'a.b.co.uk' must group under 'b.co.uk', not 'co.uk'). The fixture's
    hosts are flat, so the query first synthesizes the hard cases (the
    latest_snapshot pattern): every 3rd page's host gains a 'cdn.'
    subdomain (same registrable domain) and every 5th moves under the
    multi-label suffix 'org.example'. Longest-match is two LEFT joins
    against the broadcast suffix table (last-1-label and last-2-label
    candidates; the longer match wins by CASE) — per-row native label
    slicing, no explode of the label list, and the suffix table is
    broadcast at any corpus size because the psl is constant-sized. The
    rollup keys on the registrable domain."""
    from .queries import _pages_for_sf

    pages = _pages_for_sf(spark, sf)
    base = pages.select(
        url_host_col("url").alias("host0"),
        url_page_id_col("url").alias("i"),
    )
    host = (
        F.when(
            F.col("i") % 5 == 0,
            F.regexp_replace("host0", r"\.example$", ".org.example"),
        )
        .otherwise(F.col("host0"))
    )
    host = F.when(F.col("i") % 3 == 0, F.concat(F.lit("cdn."), host)) \
        .otherwise(host)
    hosts = base.select(host.alias("host"))
    labels = hosts.withColumn("ls", F.split("host", r"\."))
    cands = labels.select(
        "host",
        F.expr("concat_ws('.', slice(ls, size(ls), 1))").alias("c1"),
        F.expr(
            "CASE WHEN size(ls) >= 2 THEN"
            " concat_ws('.', slice(ls, size(ls) - 1, 2)) END"
        ).alias("c2"),
        F.col("ls"),
    )
    suf = spark.createDataFrame(_PSL_SUFFIXES, "suffix string, nlabels int")
    s1 = suf.select(F.col("suffix").alias("c1"),
                    F.lit(1).alias("m1"))
    s2 = suf.select(F.col("suffix").alias("c2"),
                    F.lit(1).alias("m2"))
    matched = (
        cands.join(F.broadcast(s2), "c2", "left")
        .join(F.broadcast(s1), "c1", "left")
        .select(
            "host",
            F.expr(
                "CASE WHEN m2 = 1 AND size(ls) >= 3 THEN"
                " concat_ws('.', slice(ls, size(ls) - 2, 3))"
                " WHEN m2 = 1 THEN concat_ws('.', ls)"
                " WHEN m1 = 1 AND size(ls) >= 2 THEN"
                " concat_ws('.', slice(ls, size(ls) - 1, 2))"
                " ELSE host END"
            ).alias("reg_domain"),
        )
    )
    return matched.groupBy("reg_domain").agg(
        F.count("*").cast("bigint").alias("n_urls"),
        F.countDistinct("host").cast("bigint").alias("n_hosts"),
    )


_PSL_VALUES = ", ".join(f"('{s}', {n})" for s, n in _PSL_SUFFIXES)

ORACLE_ETLD1 = f"""
WITH base AS (
  SELECT regexp_extract(url, '^https?://([^/]+)', 1) AS host0,
         TRY_CAST(regexp_extract(url, '([0-9]+)(\\.pdf)?$', 1) AS BIGINT)
           AS i
  {_PAGES_SRC}
), hosted AS (
  SELECT CASE WHEN i % 3 = 0 THEN 'cdn.' ELSE '' END ||
         CASE WHEN i % 5 = 0
              THEN regexp_replace(host0, '\\.example$', '.org.example')
              ELSE host0 END AS host
  FROM base
), cands AS (
  SELECT host, string_split(host, '.') AS ls,
         ls[len(ls)] AS c1,
         CASE WHEN len(ls) >= 2
              THEN ls[len(ls) - 1] || '.' || ls[len(ls)] END AS c2
  FROM hosted
), suf(suffix, nlabels) AS (VALUES {_PSL_VALUES}),
matched AS (
  SELECT c.host,
         CASE WHEN s2.suffix IS NOT NULL AND len(c.ls) >= 3
              THEN c.ls[len(c.ls) - 2] || '.' || c.c2
              WHEN s2.suffix IS NOT NULL THEN c.host
              WHEN s1.suffix IS NOT NULL AND len(c.ls) >= 2
              THEN c.c2
              ELSE c.host END AS reg_domain
  FROM cands c
  LEFT JOIN suf s2 ON s2.suffix = c.c2
  LEFT JOIN suf s1 ON s1.suffix = c.c1
)
SELECT reg_domain, CAST(count(*) AS BIGINT) AS n_urls,
       CAST(count(DISTINCT host) AS BIGINT) AS n_hosts
FROM matched GROUP BY reg_domain
"""


def q_host_triangle_count(spark, sf):
    """Triangle counting on the host link graph with the degree-ordered
    node-iterator orientation (Schank-Wagner / Latapy): undirected edges
    are oriented low-degree → high-degree, so every triangle is counted
    exactly once and — the scale property — the join fan-out per vertex
    is bounded by its ORIENTED out-degree, O(sqrt(m)) on any graph (a
    celebrity host with 10^6 in-links contributes only its out-oriented
    wedges, never the 10^12 pairs of its neighbors). Two joins over the
    O(hosts) edge relation: wedges = e1(a,b) ⋈ e2(b,c), closed by an
    edge-set semi-join on (a,c). Pages are touched once (edge agg);
    triangle density is the classic spam-farm / link-ring signal."""
    und = _host_edges(spark, sf).select(
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
    ).distinct()
    deg = (
        und.select(F.col("a").alias("v"))
        .unionByName(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("deg"))
    )
    ranked = (
        und.join(deg.withColumnRenamed("v", "a")
                 .withColumnRenamed("deg", "da"), "a")
        .join(deg.withColumnRenamed("v", "b")
              .withColumnRenamed("deg", "db"), "b")
    )
    oriented = ranked.select(
        F.when(
            (F.col("da") < F.col("db"))
            | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))),
            F.struct(F.col("a").alias("u"), F.col("b").alias("w")),
        )
        .otherwise(F.struct(F.col("b").alias("u"), F.col("a").alias("w")))
        .alias("e")
    ).select(F.col("e.u").alias("u"), F.col("e.w").alias("w"))
    wedges = (
        oriented.alias("e1")
        .join(
            oriented.alias("e2"),
            F.col("e1.w") == F.col("e2.u"),
        )
        .select(
            F.col("e1.u").alias("x"),
            F.col("e1.w").alias("y"),
            F.col("e2.w").alias("z"),
        )
    )
    closed = wedges.join(
        oriented.select(F.col("u").alias("x"), F.col("w").alias("z")),
        ["x", "z"],
        "left_semi",
    )
    return closed.agg(F.count("*").cast("bigint").alias("n_triangles"))


ORACLE_TRIANGLES = f"""
WITH {_HOST_LINKS_SQL}, und AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM host_links
), deg AS (
  SELECT v, count(*) AS deg FROM (
    SELECT a AS v FROM und UNION ALL SELECT b FROM und
  ) GROUP BY v
), oriented AS (
  SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND a < b)
              THEN a ELSE b END AS u,
         CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND a < b)
              THEN b ELSE a END AS w
  FROM und JOIN deg da ON da.v = und.a JOIN deg db ON db.v = und.b
)
SELECT CAST(count(*) AS BIGINT) AS n_triangles
FROM oriented e1
JOIN oriented e2 ON e2.u = e1.w
WHERE EXISTS (SELECT 1 FROM oriented e3
              WHERE e3.u = e1.u AND e3.w = e2.w)
"""


WEB_QUERIES_O: dict[str, QuerySpec] = {
    "cdc_chunk_dedup": QuerySpec(q_cdc_chunk_dedup, ORACLE_CDC),
    "etld1_registrable": QuerySpec(q_etld1_registrable, ORACLE_ETLD1),
    "host_triangle_count": QuerySpec(
        q_host_triangle_count, ORACLE_TRIANGLES
    ),
}
EXT_QUERIES.update(WEB_QUERIES_O)


# === webtext wave P (round 4, continued): robust stats from the count
# table, Z-order layout keys ===


_TRIM_PCT = 5  # trim 5% from each tail


def q_trimmed_mean_length(spark, sf):
    """Exact 5%-trimmed mean of document length per language — the
    robust location statistic (outlier-immune, unlike the plain mean a
    single 100 MB scrape error drags) computed WITHOUT sorting the
    corpus: the third use of the bounded value-count table pattern
    (after length_outliers' exact percent_rank and the quantile
    sketch). counts per (lang, n_chars) are bounded by DISTINCT lengths,
    not corpus size; a running cumsum over that table tells each value
    how many of its copies fall inside the trim window
    [k, n-k), k = n*5 div 100, via pure interval arithmetic
    (kept = min(cum, n-k) - max(cum-c, k), clamped); the trimmed mean is
    an integer-exact ratio ×100. No per-language sort of documents
    exists anywhere in the plan."""
    docs = _t(spark, sf, "documents")
    counts = (
        docs.groupBy("lang", "n_chars").agg(F.count("*").alias("c"))
    )
    w_cum = Window.partitionBy("lang").orderBy("n_chars")
    w_tot = Window.partitionBy("lang")
    cum = (
        counts.withColumn("cum", F.sum("c").over(w_cum))
        .withColumn("n", F.sum("c").over(w_tot))
        .withColumn("k", F.expr(f"n * {_TRIM_PCT} div 100"))
    )
    kept = cum.select(
        "lang",
        "n_chars",
        "n",
        "k",
        F.expr(
            "greatest(0L, least(cum, n - k) - greatest(cum - c, k))"
        ).alias("kept"),
    )
    return (
        kept.groupBy("lang")
        .agg(
            F.max("n").alias("n_docs"),
            F.max("k").alias("k_trim"),
            F.sum("kept").alias("kept_n"),
            F.sum(F.expr("n_chars * kept")).alias("kept_sum"),
        )
        .select(
            "lang",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("k_trim").cast("bigint").alias("k_trim"),
            F.col("kept_n").cast("bigint").alias("kept_n"),
            F.expr("kept_sum * 100 div kept_n").cast("bigint").alias(
                "trimmed_mean_x100"
            ),
        )
    )


ORACLE_TRIMMED_MEAN = f"""
WITH counts AS (
  SELECT lang, n_chars, count(*) AS c FROM documents GROUP BY 1, 2
), cum AS (
  SELECT lang, n_chars, c,
         sum(c) OVER (PARTITION BY lang ORDER BY n_chars) AS cum,
         sum(c) OVER (PARTITION BY lang) AS n
  FROM counts
), kept AS (
  SELECT lang, n_chars, n, n * {_TRIM_PCT} // 100 AS k,
         greatest(0, least(cum, n - n * {_TRIM_PCT} // 100)
                     - greatest(cum - c, n * {_TRIM_PCT} // 100)) AS kept
  FROM cum
)
SELECT lang, CAST(max(n) AS BIGINT) AS n_docs,
       CAST(max(k) AS BIGINT) AS k_trim,
       CAST(sum(kept) AS BIGINT) AS kept_n,
       CAST(sum(n_chars * kept) * 100 // sum(kept) AS BIGINT)
         AS trimmed_mean_x100
FROM kept GROUP BY lang
"""


_MORTON_BITS = 16


def _morton_interleave_sql(a: str, b: str) -> str:
    """Bit-interleave two 16-bit values (a's bits at even positions) as a
    sum of shifted masked bits — pure integer codegen, identical text in
    Spark SQL and DuckDB."""
    terms = []
    for i in range(_MORTON_BITS):
        terms.append(f"((({a}) >> {i}) & 1) * {1 << (2 * i)}")
        terms.append(f"((({b}) >> {i}) & 1) * {1 << (2 * i + 1)}")
    return " + ".join(terms)


def q_morton_layout_keys(spark, sf):
    """Z-order (Morton) layout keys for two-dimensional data skipping —
    the multi-column generalization of the SURT 1-d sort: interleaving
    the bits of (host-hash, capture-minute) gives a single sort key
    under which BOTH a host-range scan and a time-range scan touch
    O(range) contiguous key blocks, so parquet min/max pruning works for
    either predicate from ONE layout (the Delta/Iceberg OPTIMIZE ZORDER
    rationale, reimplemented as a pure column expression). The
    interleave is 32 mask-shift-multiply terms inside one codegen span —
    no UDF, engine-identical text in both SQL dialects; the query
    reports per-key-block occupancy (top 12 bits) to show the key space
    spreads hosts and time jointly. At write time the table would be
    repartitionByRange(morton_key) — the SURT layout path with this key
    swapped in."""
    from .queries import _pages_for_sf

    pages = _pages_for_sf(spark, sf)
    dims = pages.select(
        (F.pmod(_h60(url_host_col("url")),
                F.lit(1 << _MORTON_BITS))).alias("hx"),
        F.pmod(
            F.floor(
                F.expr(
                    "timestampdiff(MINUTE,"
                    " TIMESTAMP_NTZ '2023-06-01 00:00:00', warc_ts)"
                )
            ),
            F.lit(1 << _MORTON_BITS),
        ).alias("tx"),
    )
    keyed = dims.select(
        F.expr(_morton_interleave_sql("hx", "tx")).alias("mkey")
    )
    return (
        keyed.select(F.expr("mkey div 1048576").alias("block"))
        .groupBy("block")
        .agg(F.count("*").cast("bigint").alias("n_rows"))
        .select(F.col("block").cast("bigint").alias("block"), "n_rows")
    )


_MORTON_HX = (
    H60_SQL.format(x="regexp_extract(url, '^https?://([^/]+)', 1)")
    + f" % {1 << _MORTON_BITS}"
)
_MORTON_TX = (
    "CAST(floor(date_diff('minute', TIMESTAMP '2023-06-01 00:00:00',"
    f" warc_ts)) AS BIGINT) % {1 << _MORTON_BITS}"
)

ORACLE_MORTON = f"""
WITH dims AS (
  SELECT {_MORTON_HX} AS hx, {_MORTON_TX} AS tx
  {_PAGES_SRC}
), keyed AS (
  SELECT {_morton_interleave_sql("hx", "tx")} AS mkey FROM dims
)
SELECT CAST(mkey // 1048576 AS BIGINT) AS block,
       CAST(count(*) AS BIGINT) AS n_rows
FROM keyed GROUP BY 1
"""


WEB_QUERIES_P: dict[str, QuerySpec] = {
    "trimmed_mean_length": QuerySpec(
        q_trimmed_mean_length, ORACLE_TRIMMED_MEAN
    ),
    "morton_layout_keys": QuerySpec(q_morton_layout_keys, ORACLE_MORTON),
}
EXT_QUERIES.update(WEB_QUERIES_P)


# === webtext wave Q (round 4, continued): evaluation metrics — the
# category every production pipeline reports but few query engines
# treat as first-class ===


def q_ivf_recall_at_k(spark, sf):
    """Recall@10 of the IVF index against the brute-force ground truth —
    THE metric every ANN system reports (how much accuracy the nprobe=4
    shortcut trades for its 2× candidate-set reduction). Composes the
    two existing ANN paths: q_ann_topk_cosine (exact, one corpus scan,
    TakeOrderedAndProject) is the truth set, q_ivf_topk (probes 4 of 8
    partitions) the approximation; recall = |truth ∩ approx| / k as an
    integer percentage. Both sides are k-row relations, so the eval join
    costs nothing beyond the searches themselves — at production scale
    this runs over a HELD-OUT query sample and the same composition
    shape aggregates per-query recalls."""
    from .queries import q_ann_topk_cosine, q_ivf_topk

    truth = q_ann_topk_cosine(spark, sf).select("vec_id")
    approx = q_ivf_topk(spark, sf).select("vec_id")
    inter = truth.join(approx, "vec_id")
    return inter.agg(F.count("*").alias("n_overlap")).select(
        F.lit(10).cast("bigint").alias("k"),
        F.col("n_overlap").cast("bigint").alias("n_overlap"),
        F.expr("n_overlap * 100 div 10").cast("bigint").alias(
            "recall_pct"
        ),
    )


def _oracle_ivf_recall() -> str:
    from .queries import ORACLE_ANN, ORACLE_IVF

    return f"""
WITH truth AS ({ORACLE_ANN}), approx AS ({ORACLE_IVF})
SELECT CAST(10 AS BIGINT) AS k,
       CAST(count(*) AS BIGINT) AS n_overlap,
       CAST(count(*) * 100 // 10 AS BIGINT) AS recall_pct
FROM truth JOIN approx USING (vec_id)
"""


def q_lang_id_confusion(spark, sf):
    """Confusion matrix of the stopword lang-id heuristic against the
    labeled lang column — the evaluation table a model-driven pipeline
    ships next to every classifier (precision/recall per class fall out
    of these cells; the unit test derives them). The prediction rule is
    the integer cross-multiplied form of lang_id_heuristic's threshold
    (en if stopword_count * 100 >= token_count * 5) so no float division
    or rounding enters the hash. One pass over the exploded token
    stream (doc-keyed conditional agg), then a cells-sized rollup —
    the confusion matrix is |classes|² rows at any corpus size."""
    from .queries import STOPS

    docs = _t(spark, sf, "documents")
    toks = docs.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("tok")
    )
    per_doc = toks.groupBy("doc_id", "lang").agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("tok").isin(*STOPS), 1).otherwise(0)).alias(
            "stops"
        ),
    )
    pred = per_doc.withColumn(
        "predicted_lang",
        F.when(F.expr("stops * 100 >= n * 5"), F.lit("en")).otherwise(
            F.lit("unknown")
        ),
    )
    return pred.groupBy("lang", "predicted_lang").agg(
        F.count("*").cast("bigint").alias("n_docs")
    )


def _oracle_lang_confusion() -> str:
    from .queries import _STOPS_SQL

    return f"""
WITH per_doc AS (
  SELECT doc_id, lang, count(*) AS n,
         sum(CASE WHEN tok IN ({_STOPS_SQL}) THEN 1 ELSE 0 END) AS stops
  FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
        FROM documents)
  GROUP BY doc_id, lang
)
SELECT lang,
       CASE WHEN stops * 100 >= n * 5 THEN 'en' ELSE 'unknown' END
         AS predicted_lang,
       CAST(count(*) AS BIGINT) AS n_docs
FROM per_doc GROUP BY 1, 2
"""


WEB_QUERIES_Q: dict[str, QuerySpec] = {
    "ivf_recall_at_k": QuerySpec(q_ivf_recall_at_k, _oracle_ivf_recall()),
    "lang_id_confusion": QuerySpec(
        q_lang_id_confusion, _oracle_lang_confusion()
    ),
}
EXT_QUERIES.update(WEB_QUERIES_Q)


# === webtext wave R (round 4, continued): unpivot/melt, outer-explode
# null preservation ===


def q_unpivot_doc_stats(spark, sf):
    """Wide→long reshape via the native unpivot (melt) operator — the
    inverse of lang_source_pivot and the export shape metrics dashboards
    ingest (one (entity, metric, value) row per cell). Spark's
    DataFrame.unpivot compiles to a single Expand over the aggregated
    wide relation (one output row per id×metric, NO join, NO union of N
    selects — a UNION ALL form would re-scan the input per metric).
    The wide input here is a per-language stats panel, so the Expand
    multiplies a languages-sized relation; metrics are integer-exact
    (counts, sums, the trimmed-mean discipline)."""
    docs = _t(spark, sf, "documents")
    wide = docs.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
        F.max("n_chars").cast("bigint").alias("max_chars"),
        F.countDistinct("source").cast("bigint").alias("n_sources"),
    )
    return wide.unpivot(
        ids=["lang"],
        values=["n_docs", "sum_chars", "max_chars", "n_sources"],
        variableColumnName="metric",
        valueColumnName="value",
    )


ORACLE_UNPIVOT = """
WITH wide AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         CAST(max(n_chars) AS BIGINT) AS max_chars,
         CAST(count(DISTINCT source) AS BIGINT) AS n_sources
  FROM documents GROUP BY lang
)
SELECT lang, metric, value
FROM wide
UNPIVOT (value FOR metric IN (n_docs, sum_chars, max_chars, n_sources))
"""


def q_outer_explode_audit(spark, sf):
    """explode_outer null-preservation semantics, pinned: a plain
    explode DROPS rows whose array is empty or NULL — at corpus scale
    that silently deletes every document the tokenizer produced nothing
    for, and the loss is invisible downstream (counts just come up
    short). The audit synthesizes the hazard (every 7th doc's token
    array is emptied — the latest_snapshot in-query synthesis pattern),
    runs the OUTER explode, and proves conservation: every doc
    contributes ≥1 row, empty docs surface as an explicit NULL token
    row, and the per-language doc counts reconcile exactly with the
    source table. The inner/outer delta is the per-language count of
    silently-droppable docs — the number a pipeline should alert on."""
    docs = _t(spark, sf, "documents")
    toked = docs.select(
        "doc_id",
        "lang",
        F.expr(
            "CASE WHEN doc_id % 7 = 0 THEN CAST(array() AS array<string>)"
            " ELSE split(text, ' ') END"
        ).alias("toks"),
    )
    exploded = toked.select(
        "doc_id", "lang", F.explode_outer("toks").alias("tok")
    )
    return (
        exploded.groupBy("lang")
        .agg(
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("tok").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_empty_docs"),
            F.count("tok").cast("bigint").alias("n_tokens"),
        )
    )


ORACLE_OUTER_EXPLODE = """
WITH toked AS (
  SELECT doc_id, lang,
         CASE WHEN doc_id % 7 = 0 THEN []
              ELSE string_split(text, ' ') END AS toks
  FROM documents
), exploded AS (
  SELECT doc_id, lang, u.tok
  FROM toked LEFT JOIN LATERAL unnest(toks) AS u(tok) ON true
)
SELECT lang, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_empty_docs,
       CAST(count(tok) AS BIGINT) AS n_tokens
FROM exploded GROUP BY lang
"""


WEB_QUERIES_R: dict[str, QuerySpec] = {
    "unpivot_doc_stats": QuerySpec(q_unpivot_doc_stats, ORACLE_UNPIVOT),
    "outer_explode_audit": QuerySpec(
        q_outer_explode_audit, ORACLE_OUTER_EXPLODE
    ),
}
EXT_QUERIES.update(WEB_QUERIES_R)


# === webtext wave U (round 4, capstone): the curation funnel ===


def q_curation_funnel(spark, sf):
    """The curation funnel — per-language survival counts through the
    sequential gates every training-data team tracks (the single
    relation that answers 'where did my corpus go?'): length bounds
    (Gopher-style 50..100k chars), quality (stopword ratio ≥ 2%, the
    lang-id threshold reused as a quality floor), exact dedup
    (first-occurrence keeper by content hash — min doc_id per
    md5(lower(text)), the exact_dedup_keeper rule). Gates are CUMULATIVE
    (a doc must pass all earlier stages to be counted at a later one),
    matching how a real pipeline stacks filters, so the columns are
    monotonically non-increasing (pinned by test). Plan shape: stage
    flags are one pass of codegen + one token-keyed agg for the
    stopword count; the dedup keeper is one content-hash agg whose
    FIRST-over-survivors semantics reuses the min-keyed join-back
    pattern; the funnel itself is a languages-sized rollup."""
    docs = _t(spark, sf, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    from .queries import STOPS

    tstats = toks.groupBy("doc_id").agg(
        F.count("*").alias("n_toks"),
        F.sum(F.when(F.col("tok").isin(*STOPS), 1).otherwise(0)).alias(
            "stops"
        ),
    )
    staged = (
        docs.join(tstats, "doc_id")
        .withColumn(
            "pass_len",
            (F.col("n_chars") >= 50) & (F.col("n_chars") <= 100_000),
        )
        .withColumn(
            "pass_quality",
            F.col("pass_len") & F.expr("stops * 100 >= n_toks * 2"),
        )
        .withColumn("ck", F.md5(F.lower("text")))
    )
    keepers = (
        staged.where(F.col("pass_quality"))
        .groupBy("ck")
        .agg(F.min("doc_id").alias("keeper_id"))
    )
    s, k = staged.alias("s"), keepers.alias("k")
    final = s.join(
        k,
        (F.col("k.ck") == F.col("s.ck"))
        & (F.col("k.keeper_id") == F.col("s.doc_id")),
        "left",
    ).withColumn("pass_dedup", F.col("keeper_id").isNotNull())
    return final.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_total"),
        F.sum(F.col("pass_len").cast("int")).cast("bigint").alias(
            "n_after_length"
        ),
        F.sum(F.col("pass_quality").cast("int")).cast("bigint").alias(
            "n_after_quality"
        ),
        F.sum(F.col("pass_dedup").cast("int")).cast("bigint").alias(
            "n_after_dedup"
        ),
    )


def _oracle_funnel() -> str:
    from .queries import _STOPS_SQL

    return f"""
WITH tstats AS (
  SELECT doc_id, count(*) AS n_toks,
         sum(CASE WHEN tok IN ({_STOPS_SQL}) THEN 1 ELSE 0 END) AS stops
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents)
  GROUP BY doc_id
), staged AS (
  SELECT d.doc_id, d.lang, md5(lower(d.text)) AS ck,
         d.n_chars BETWEEN 50 AND 100000 AS pass_len,
         (d.n_chars BETWEEN 50 AND 100000)
           AND t.stops * 100 >= t.n_toks * 2 AS pass_quality
  FROM documents d JOIN tstats t USING (doc_id)
), keepers AS (
  SELECT ck, min(doc_id) AS keeper_id FROM staged
  WHERE pass_quality GROUP BY ck
)
SELECT s.lang, CAST(count(*) AS BIGINT) AS n_total,
       CAST(sum(CASE WHEN s.pass_len THEN 1 ELSE 0 END) AS BIGINT)
         AS n_after_length,
       CAST(sum(CASE WHEN s.pass_quality THEN 1 ELSE 0 END) AS BIGINT)
         AS n_after_quality,
       CAST(sum(CASE WHEN k.keeper_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_after_dedup
FROM staged s
LEFT JOIN keepers k ON k.ck = s.ck AND k.keeper_id = s.doc_id
GROUP BY s.lang
"""


WEB_QUERIES_U: dict[str, QuerySpec] = {
    "curation_funnel": QuerySpec(q_curation_funnel, _oracle_funnel()),
}
EXT_QUERIES.update(WEB_QUERIES_U)


# === webtext wave V (round 5): driver-verify the custom Python DataSource,
# and the nprobe/recall tuning sweep every IVF deployment publishes ===


_PGP_N = 2000
_PGP_SEED = 42


def q_pages_gen_probe(spark, sf):
    """Aggregate probe THROUGH the custom Python DataSource
    (sources/pygen.py, `spark.read.format("pages_gen")`) — the one
    connector surface that previously had only pytest evidence; this row
    makes the driver exercise the full Spark 4 DataSource machinery
    (schema() -> partitions() -> parallel read()) end to end. Per-lang
    page counts, distinct hosts, total payload bytes and min url over
    n=2000 generated pages across 8 range partitions. Deliberately
    sf-independent (the source is synthetic; same idiom as
    multimodal_image_features): the verified property is that the
    connector's parallel, re-readable generation matches the
    construction spec exactly — the oracle re-derives every expected
    cell from the pure `_row(seed, i)` function WITHOUT going through
    Spark, so a partition-boundary bug, a dropped/duplicated range, or
    a schema drift in the reader all hash-mismatch."""
    from ..sources import pygen

    pygen.register(spark)
    df = (
        spark.read.format(pygen.FORMAT_NAME)
        .option("n", _PGP_N)
        .option("seed", _PGP_SEED)
        .option("numPartitions", 8)
        .load()
    )
    host = url_host_col("url")
    return df.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_pages"),
        F.countDistinct(host).cast("bigint").alias("n_hosts"),
        F.sum(F.length("html")).cast("bigint").alias("sum_html_bytes"),
        F.min("url").alias("min_url"),
    )


def _oracle_pages_gen() -> str:
    """Construction-spec oracle: replay the generator's pure row function
    in plain Python (no Spark, no connector) and emit the expected
    per-lang aggregate as literal VALUES."""
    from ..sources.pygen import _row

    acc: dict[str, dict] = {}
    for i in range(_PGP_N):
        url, _ts, html, lang = _row(_PGP_SEED, i)
        a = acc.setdefault(
            lang, {"n": 0, "hosts": set(), "b": 0, "min_url": url}
        )
        a["n"] += 1
        a["hosts"].add(url.split("/")[2])
        a["b"] += len(html)
        a["min_url"] = min(a["min_url"], url)
    rows = ",\n  ".join(
        f"('{lang}', CAST({a['n']} AS BIGINT), CAST({len(a['hosts'])} AS BIGINT),"
        f" CAST({a['b']} AS BIGINT), '{a['min_url']}')"
        for lang, a in sorted(acc.items())
    )
    return (
        "SELECT * FROM (VALUES\n  " + rows +
        ") t(lang, n_pages, n_hosts, sum_html_bytes, min_url)"
    )


_NPROBE_SWEEP = (1, 2, 4, 8)


def q_ivf_nprobe_sweep(spark, sf):
    """The nprobe/recall tuning curve — the table every IVF deployment
    publishes before picking its operating point (recall@10 vs fraction
    of the corpus probed). Composes ivf_recall_at_k over nprobe ∈
    {1,2,4,8} against ONE index and ONE brute-force truth set, in one
    lazy plan: every probed vector is scored once, meets the sweep values
    in an explode filtered on ``probe_rank < nprobe``, and one
    ``row_number`` window per nprobe keeps its top 10 (four separate
    searches re-scan and re-score the corpus). nprobe=8 probes every
    partition, so its recall is 100% by construction (pinned in pytest
    along with monotonicity in nprobe). At 10^12 vectors the same shape
    runs over a held-out query sample with the assignment table
    materialized partition-pruned (IvfIndex.materialize)."""
    from ..operators.similarity import IvfIndex, dot
    from .queries import q_ann_topk_cosine

    emb = _t(spark, sf, "embeddings")
    q = emb.where(F.col("vec_id") == 0).select(F.col("embedding").alias("qvec"))
    idx = IvfIndex(emb, n_centroids=8)
    sweep = F.lit(list(_NPROBE_SWEEP)).cast("array<bigint>")
    probed = (
        idx.assigned.join(F.broadcast(idx.probes(q)), "centroid_id")
        .select("vec_id", "probe_rank",
                dot("embedding", "qvec").alias("similarity"),
                F.explode(sweep).alias("nprobe"))
        .where(F.col("probe_rank") < F.col("nprobe"))
    )
    top = Window.partitionBy("nprobe").orderBy(
        F.desc("similarity"), F.asc("vec_id")
    )
    truth = q_ann_topk_cosine(spark, sf).select("vec_id")
    # every sweep point keeps its row: the query is vector 0, which ranks
    # first in the truth and in its own best probe (unit vectors)
    return (
        probed.withColumn("rk", F.row_number().over(top))
        .where(F.col("rk") <= 10)
        .join(F.broadcast(truth), "vec_id")
        .groupBy("nprobe")
        .agg(F.count("*").alias("n_overlap"))
        .select(
            "nprobe",
            F.lit(10).cast("bigint").alias("k"),
            "n_overlap",
            F.expr("n_overlap * 100 div 10").alias("recall_pct"),
        )
    )


def _oracle_nprobe_sweep() -> str:
    from .queries import ORACLE_ANN, ORACLE_IVF

    probe_limit = "ORDER BY d DESC, cid ASC LIMIT 4"
    assert ORACLE_IVF.count(probe_limit) == 1, "IVF probe LIMIT moved"
    parts = []
    for p in _NPROBE_SWEEP:
        ivf = ORACLE_IVF.replace(
            probe_limit, f"ORDER BY d DESC, cid ASC LIMIT {p}"
        )
        parts.append(f"""
SELECT CAST({p} AS BIGINT) AS nprobe, CAST(10 AS BIGINT) AS k,
       CAST(count(*) AS BIGINT) AS n_overlap,
       CAST(count(*) * 100 // 10 AS BIGINT) AS recall_pct
FROM ({ivf}) approx JOIN truth USING (vec_id)""")
    return (
        f"WITH truth AS ({ORACLE_ANN})\n" + "\nUNION ALL\n".join(parts)
    )


WEB_QUERIES_V: dict[str, QuerySpec] = {
    "pages_gen_probe": QuerySpec(q_pages_gen_probe, _oracle_pages_gen()),
    "ivf_nprobe_sweep": QuerySpec(
        q_ivf_nprobe_sweep, _oracle_nprobe_sweep()
    ),
}
EXT_QUERIES.update(WEB_QUERIES_V)


# === webtext wave W (round 5): operationalize the round-5 measurements —
# the simhash hot-bucket mitigation as a first-class operator, and the
# outer interval join driven through the driver gate ===


_HSB_CAP = 40  # hot-bucket threshold; mean occupancy at sf0.01 is ~31


def q_simhash_hot_bucket_split(spark, sf):
    """The hot-bucket mitigation the round-5 production-tune measurement
    showed is mandatory (tests/test_webtext_v.py::TestSimhashProductionTune:
    natural-language simhash bands are skewed — the hottest bucket held 9%
    of a 19.6k-doc corpus and raw banding admitted 12.95% of all-pairs;
    capping hot buckets took it to 1.48%). This query IS the mitigation,
    per band: buckets over _HSB_CAP are split by extending the band key
    with the NEXT band's 4 bits (deterministic on the signature — the
    band-bit-extension fallback; Manku et al. WWW'07 use the same idea as
    permuted tables over sorted fingerprint blocks). Reports, per band,
    exact integers: bucket count, hot count, max occupancy before/after
    the split, and candidate pairs before/after. All aggregates — the
    pair sets are COUNTED via sum C(occ,2), never materialized, so the
    query is linear in the corpus and the oracle needs no doc_id cap.
    The split is ONE level: a hot bucket's sub-buckets are reported as
    they fall, and a sub-bucket still over _HSB_CAP is not split again
    (max_occ_after shows how hot the hottest one stays)."""
    from .queries import q_simhash16

    sig = q_simhash16(spark, sf)
    banded = sig.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, 3), b -> struct("
                "cast(b as int) as band,"
                " (simhash div shiftleft(1L, b * 4)) % 16 as bval,"
                " (simhash div shiftleft(1L, ((b + 1) % 4) * 4)) % 16"
                " as ext))"
            )
        ).alias("bk"),
    ).select("bk.band", "bk.bval", "bk.ext")
    # sub-bucket occupancy (band, bval, ext), then bucket rollup — two
    # map-side-combinable aggregations, no joins
    occ2 = banded.groupBy("band", "bval", "ext").agg(
        F.count("*").alias("c")
    )
    occ1 = occ2.groupBy("band", "bval").agg(
        F.sum("c").alias("occ"),
        F.sum(F.expr("c * (c - 1) div 2")).alias("cand_sub"),
        F.max("c").alias("max_sub"),
    )
    hot = F.col("occ") > _HSB_CAP
    return occ1.groupBy("band").agg(
        F.count("*").cast("bigint").alias("n_buckets"),
        F.sum(hot.cast("bigint")).cast("bigint").alias("n_hot"),
        F.max("occ").cast("bigint").alias("max_occ_before"),
        F.max(F.when(hot, F.col("max_sub")).otherwise(F.col("occ")))
        .cast("bigint").alias("max_occ_after"),
        F.sum(F.expr("occ * (occ - 1) div 2")).cast("bigint")
        .alias("cand_before"),
        F.sum(
            F.when(hot, F.col("cand_sub"))
            .otherwise(F.expr("occ * (occ - 1) div 2"))
        ).cast("bigint").alias("cand_after"),
    )


ORACLE_HOT_BUCKET_SPLIT = f"""
WITH tc AS (
  SELECT doc_id, tok, count(*) AS c, {H60_SQL.format(x="tok")} AS h
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents)
  GROUP BY doc_id, tok
), bits AS (
  SELECT CAST(range AS INT) AS bit, CAST(power(2, range) AS BIGINT) AS p
  FROM range(16)
), per_bit AS (
  SELECT doc_id, bit, p, sum(c * (((h // p) % 2) * 2 - 1)) AS s
  FROM tc CROSS JOIN bits GROUP BY doc_id, bit, p
), sig AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN s >= 0 THEN p ELSE 0 END) AS BIGINT) AS simhash
  FROM per_bit GROUP BY doc_id
), banded AS (
  SELECT band,
         (simhash // (CAST(1 AS BIGINT) << (band * 4))) % 16 AS bval,
         (simhash // (CAST(1 AS BIGINT) << (((band + 1) % 4) * 4))) % 16
           AS ext
  FROM sig CROSS JOIN (SELECT CAST(range AS INT) AS band FROM range(4))
), occ2 AS (
  SELECT band, bval, ext, count(*) AS c FROM banded GROUP BY band, bval, ext
), occ1 AS (
  SELECT band, bval, sum(c) AS occ, sum(c * (c - 1) // 2) AS cand_sub,
         max(c) AS max_sub
  FROM occ2 GROUP BY band, bval
)
SELECT band,
       CAST(count(*) AS BIGINT) AS n_buckets,
       CAST(sum(CASE WHEN occ > {_HSB_CAP} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_hot,
       CAST(max(occ) AS BIGINT) AS max_occ_before,
       CAST(max(CASE WHEN occ > {_HSB_CAP} THEN max_sub ELSE occ END)
            AS BIGINT) AS max_occ_after,
       CAST(sum(occ * (occ - 1) // 2) AS BIGINT) AS cand_before,
       CAST(sum(CASE WHEN occ > {_HSB_CAP} THEN cand_sub
                ELSE occ * (occ - 1) // 2 END) AS BIGINT) AS cand_after
FROM occ1 GROUP BY band
"""


def q_error_context_outer(spark, sf):
    """Per-error context panel through the LEFT-OUTER interval join
    (streaming/stream_join.py::interval_join_outer — the r5 operator):
    for every error event, the count and time span of same-user NON-error
    events inside [err_ts, err_ts + 10 min). Errors with no context emit
    once with n_ctx=0 and null timestamps — the rows only the outer
    variant can produce; the driver's hash check therefore verifies the
    null-extension semantics, not just the matched pairs. Batch and
    stream share the one implementation (same function, same condition);
    the batch plan is an equality join on user_id with the interval as a
    range predicate — shuffle on user_id, state bounded by the window on
    streams."""
    from ..streaming.stream_join import interval_join_outer

    ev = _t(spark, sf, "events")
    errors = ev.where(F.col("event_type") == "error")
    ctx = ev.where(F.col("event_type") != "error")
    joined = interval_join_outer(errors, ctx)
    return joined.groupBy("err_id").agg(
        F.count("evt_id").cast("bigint").alias("n_ctx"),
        F.min("evt_ts").alias("first_ctx_ts"),
        F.max("evt_ts").alias("last_ctx_ts"),
    )


ORACLE_ERROR_CONTEXT_OUTER = """
SELECT e.event_id AS err_id,
       CAST(count(c.event_id) AS BIGINT) AS n_ctx,
       min(c.ts) AS first_ctx_ts,
       max(c.ts) AS last_ctx_ts
FROM events e
LEFT JOIN events c
  ON c.user_id = e.user_id
 AND c.event_type <> 'error'
 AND c.ts >= e.ts
 AND c.ts < e.ts + INTERVAL 10 MINUTE
WHERE e.event_type = 'error'
GROUP BY e.event_id
"""


WEB_QUERIES_W: dict[str, QuerySpec] = {
    "simhash_hot_bucket_split": QuerySpec(
        q_simhash_hot_bucket_split, ORACLE_HOT_BUCKET_SPLIT
    ),
    "error_context_outer": QuerySpec(
        q_error_context_outer, ORACLE_ERROR_CONTEXT_OUTER
    ),
}
EXT_QUERIES.update(WEB_QUERIES_W)


# === webtext wave X (round 5): dedup-tuning eval (the LSH s-curve checked
# empirically, the dedup twin of ivf_recall_at_k) and crawl mix-shift ===


_MLR_MAXDOC = 150   # truth is quadratic-ish; same cap as ngram_jaccard_pairs


def q_minhash_lsh_recall(spark, sf):
    """Empirical LSH s-curve check — the dedup twin of ivf_recall_at_k:
    recall AND precision of MinHash-LSH candidate generation against the
    EXACT token-Jaccard truth set (J >= 1/2 over doc_id < 150, the same
    oracle-cost cap as ngram_jaccard_pairs), for both banding extremes
    of the 4-hash signature:

    - and4 (1 band x 4 rows, the minhash_dup_counts config): a pair is a
      candidate only if the FULL signature collides — collision prob
      s^4, so high precision / low recall;
    - or4 (4 bands x 1 row): a pair is a candidate if ANY single hash
      collides — 1-(1-s)^4, high recall / low precision.

    Per config: truth size, candidate count, hits, recall and precision
    in integer BASIS POINTS (x*10000 div y — no floats anywhere; the
    J >= 1/2 test is the cross-multiplication 3*i >= na+nb). Publishing
    this table per corpus slice is how a production dedup picks its
    (bands, rows) operating point before paying the full pair pass; at
    10^12 docs the truth set comes from a sampled slice exactly like
    this capped one. Scale shape: truth is an inverted-index self-join
    (token-key, never all-pairs); each config is one self-join on its
    banding key; the eval joins are candidate-set-sized. The whole
    table is one lazy plan: no count runs until the caller's action."""
    from .queries import q_minhash_signatures

    docs = _t(spark, sf, "documents").where(F.col("doc_id") < _MLR_MAXDOC)
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).distinct()
    sizes = toks.groupBy("doc_id").agg(F.count("*").alias("n"))
    a, b = toks.alias("a"), toks.alias("b")
    inter = (
        a.join(b, (F.col("a.tok") == F.col("b.tok"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("da"),
                 F.col("b.doc_id").alias("db"))
        .agg(F.count("*").alias("i"))
    )
    truth = (
        inter.join(sizes.select(F.col("doc_id").alias("da"),
                                F.col("n").alias("na")), "da")
        .join(sizes.select(F.col("doc_id").alias("db"),
                           F.col("n").alias("nb")), "db")
        .where(F.col("i") * 3 >= F.col("na") + F.col("nb"))
        .select("da", "db")
    )

    sig = q_minhash_signatures(spark, sf).where(
        F.col("doc_id") < _MLR_MAXDOC
    )
    sa, sb = sig.alias("sa"), sig.alias("sb")
    cand_and = (
        sa.join(sb, (F.col("sa.m0") == F.col("sb.m0"))
                & (F.col("sa.m1") == F.col("sb.m1"))
                & (F.col("sa.m2") == F.col("sb.m2"))
                & (F.col("sa.m3") == F.col("sb.m3"))
                & (F.col("sa.doc_id") < F.col("sb.doc_id")))
        .select(F.col("sa.doc_id").alias("da"),
                F.col("sb.doc_id").alias("db"))
    )
    banded = sig.select(
        "doc_id",
        F.explode(F.expr(
            "map(0, m0, 1, m1, 2, m2, 3, m3)"
        )).alias("band", "val"),
    )
    ba, bb = banded.alias("ba"), banded.alias("bb")
    cand_or = (
        ba.join(bb, (F.col("ba.band") == F.col("bb.band"))
                & (F.col("ba.val") == F.col("bb.val"))
                & (F.col("ba.doc_id") < F.col("bb.doc_id")))
        .select(F.col("ba.doc_id").alias("da"),
                F.col("bb.doc_id").alias("db"))
        .distinct()
    )

    # a global aggregate emits exactly one row even over an empty input,
    # so a config with no candidates still reports, with zero counts
    hits = truth.withColumn("hit", F.lit(1))

    def eval_config(name, cand):
        return cand.join(hits, ["da", "db"], "left").agg(
            F.lit(name).alias("config"),
            F.count("*").alias("n_cand"),
            F.count("hit").alias("n_hit"),
        )

    out = (
        eval_config("and4", cand_and)
        .unionByName(eval_config("or4", cand_or))
        .crossJoin(truth.agg(F.count("*").alias("n_truth")))
    )
    return out.select(
        "config", "n_truth", "n_cand", "n_hit",
        F.expr("n_hit * 10000 div nullif(n_truth, 0)").cast("bigint")
        .alias("recall_bp"),
        F.expr("n_hit * 10000 div nullif(n_cand, 0)").cast("bigint")
        .alias("precision_bp"),
    )


ORACLE_MLR = f"""
WITH toks AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
  FROM documents WHERE doc_id < {_MLR_MAXDOC}
), sizes AS (
  SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
  FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), truth AS (
  SELECT da, db FROM inter
  JOIN sizes xa ON xa.doc_id = da JOIN sizes xb ON xb.doc_id = db
  WHERE i * 3 >= xa.n + xb.n
), sig AS (
  SELECT doc_id,
         min({H60_SQL.format(x="tok || '#0'")}) AS m0,
         min({H60_SQL.format(x="tok || '#1'")}) AS m1,
         min({H60_SQL.format(x="tok || '#2'")}) AS m2,
         min({H60_SQL.format(x="tok || '#3'")}) AS m3
  FROM toks GROUP BY doc_id
), cand_and AS (
  SELECT a.doc_id AS da, b.doc_id AS db FROM sig a JOIN sig b
    ON a.m0 = b.m0 AND a.m1 = b.m1 AND a.m2 = b.m2 AND a.m3 = b.m3
   AND a.doc_id < b.doc_id
), banded AS (
  SELECT doc_id, band,
         CASE band WHEN 0 THEN m0 WHEN 1 THEN m1
                   WHEN 2 THEN m2 ELSE m3 END AS val
  FROM sig CROSS JOIN (SELECT CAST(range AS INT) AS band FROM range(4))
), cand_or AS (
  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db FROM banded a
  JOIN banded b ON a.band = b.band AND a.val = b.val
               AND a.doc_id < b.doc_id
), stats AS (
  SELECT 'and4' AS config,
         (SELECT count(*) FROM truth) AS n_truth,
         (SELECT count(*) FROM cand_and) AS n_cand,
         (SELECT count(*) FROM cand_and JOIN truth USING (da, db))
           AS n_hit
  UNION ALL
  SELECT 'or4',
         (SELECT count(*) FROM truth),
         (SELECT count(*) FROM cand_or),
         (SELECT count(*) FROM cand_or JOIN truth USING (da, db))
)
SELECT config, CAST(n_truth AS BIGINT) AS n_truth,
       CAST(n_cand AS BIGINT) AS n_cand, CAST(n_hit AS BIGINT) AS n_hit,
       CAST(n_hit * 10000 // nullif(n_truth, 0) AS BIGINT) AS recall_bp,
       CAST(n_hit * 10000 // nullif(n_cand, 0) AS BIGINT) AS precision_bp
FROM stats
"""


def q_host_mix_shift(spark, sf):
    """Crawl mix-shift panel: how the per-host share of the corpus moved
    between two crawl snapshots (the same deterministic A/B synthesis as
    crawl_diff: every 7th url vanishes, every 11th gains a '/new' child
    — content changes don't move the MIX, so the %5 rewrite is
    irrelevant here). Shares in integer BASIS POINTS of each snapshot's
    total (count * 10000 div total — exact, no floats), full-outer on
    host so appearing/vanishing hosts report. The top-20-by-|delta|
    ordering is deterministic (tiebreak on host). This is the
    distribution-drift alarm every recrawl pipeline runs before
    retraining: a host whose share doubled is a crawler bug or a spam
    flood long before any quality scorer notices. Scale: two host-keyed
    aggs (50-row relations here, |hosts|-sized at 10^12 docs), the
    totals are single-row broadcasts."""
    from .queries import _pages_for_sf

    pages = _pages_for_sf(spark, sf).select("url")
    page_no = url_page_no_col("url")
    crawl_b = pages.where(page_no % 7 != 0).unionByName(
        pages.where(page_no % 11 == 0).select(
            F.concat(F.col("url"), F.lit("/new")).alias("url")
        )
    )
    host = url_host_col("url")

    def host_counts(df, col):
        return df.select(host.alias("host")).groupBy("host").agg(
            F.count("*").alias(col)
        )

    ca = host_counts(pages, "n_a")
    cb = host_counts(crawl_b, "n_b")
    j = ca.join(cb, "host", "full_outer").select(
        "host",
        F.coalesce("n_a", F.lit(0)).alias("n_a"),
        F.coalesce("n_b", F.lit(0)).alias("n_b"),
    )
    # totals as a broadcast 1-row cross join, NOT an unpartitioned
    # window (which would route the whole host relation to one task —
    # harmless at 50 hosts, a real stall at a web-scale host list)
    totals = j.agg(
        F.sum("n_a").alias("ta"), F.sum("n_b").alias("tb")
    )
    j = j.crossJoin(F.broadcast(totals)).select(
        "host",
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.expr("n_a * 10000 div ta").cast("bigint").alias("share_a_bp"),
        F.expr("n_b * 10000 div tb").cast("bigint").alias("share_b_bp"),
        F.expr("n_b * 10000 div tb - n_a * 10000 div ta")
        .cast("bigint").alias("delta_bp"),
    )
    return j.orderBy(
        F.abs(F.col("delta_bp")).desc(), F.col("host").asc()
    ).limit(20)


ORACLE_HOST_MIX_SHIFT = f"""
WITH pages AS (
  SELECT url {_PAGES_SRC}
), crawl_b AS (
  SELECT url FROM pages
  WHERE TRY_CAST(regexp_extract(url, '([0-9]+)$', 1) AS BIGINT) % 7 <> 0
  UNION ALL
  SELECT url || '/new' FROM pages
  WHERE TRY_CAST(regexp_extract(url, '([0-9]+)$', 1) AS BIGINT) % 11 = 0
), ca AS (
  SELECT regexp_extract(url, '^https?://([^/]+)', 1) AS host,
         count(*) AS n_a
  FROM pages GROUP BY 1
), cb AS (
  SELECT regexp_extract(url, '^https?://([^/]+)', 1) AS host,
         count(*) AS n_b
  FROM crawl_b GROUP BY 1
), j AS (
  SELECT coalesce(ca.host, cb.host) AS host,
         coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b
  FROM ca FULL OUTER JOIN cb ON ca.host = cb.host
), tot AS (
  SELECT sum(n_a) AS ta, sum(n_b) AS tb FROM j
)
SELECT host, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       CAST(n_a * 10000 // ta AS BIGINT) AS share_a_bp,
       CAST(n_b * 10000 // tb AS BIGINT) AS share_b_bp,
       CAST(n_b * 10000 // tb - n_a * 10000 // ta AS BIGINT) AS delta_bp
FROM j CROSS JOIN tot
ORDER BY abs(n_b * 10000 // tb - n_a * 10000 // ta) DESC, host ASC
LIMIT 20
"""


WEB_QUERIES_X: dict[str, QuerySpec] = {
    "minhash_lsh_recall": QuerySpec(q_minhash_lsh_recall, ORACLE_MLR),
    "host_mix_shift": QuerySpec(q_host_mix_shift, ORACLE_HOST_MIX_SHIFT),
}
EXT_QUERIES.update(WEB_QUERIES_X)


# self-register: when this module is imported FIRST, queries.py's
# _load_ext() skips (this module was mid-initialization); registering here
# covers that path, and re-updating is idempotent on the other path
QUERIES.update(EXT_QUERIES)
