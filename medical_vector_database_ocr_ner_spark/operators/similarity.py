"""Similarity search over an embedding column (array<float>).

- ``brute_force_topk``: exact dot-product top-k, entirely JVM-side
  (``dot`` → TakeOrderedAndProject). The correctness baseline, and the
  one exact top-k: ``plans.pipeline.search_topk`` ranks a whole table
  through it and ``IvfIndex.search`` its probed candidates.
- ``IvfIndex``: inverted-file ANN as lazy plans — a one-row codebook of
  deterministic centroids, a map-side assignment and a probe ranking
  against a one-row query relation; searches score only ``nprobe``
  centroids' vectors. The 100 TB path: the scan prunes to
  nprobe/n_centroids of the corpus. No collect, no cache.

Vectors are assumed unit-normalized (build_embeddings guarantees it), so
dot product == cosine similarity."""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import functions as F

if TYPE_CHECKING:
    from pyspark.sql import Column, DataFrame


def dot_sql(a: str, b: str) -> str:
    """The SQL text of ``dot``; ``a`` and ``b`` are SQL array expressions."""
    return (f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * "
            "CAST(y AS DOUBLE)), 0.0D, (acc, v) -> acc + v)")


def vec_sql(q: list[float]) -> str:
    """A literal vector as ONE string literal cast to ``ARRAY<DOUBLE>``
    (``[]`` is an empty array: ``split('', ',')`` would be ``['']``)."""
    if not len(q):
        return "CAST(array() AS ARRAY<DOUBLE>)"
    body = ",".join(repr(float(x)) for x in q)
    return f"CAST(split('{body}', ',') AS ARRAY<DOUBLE>)"


def dot(a: str, b: str) -> "Column":
    """JVM-side dot product of two SQL array expressions (column names, a
    lambda field such as ``c.cvec``, a ``vec_sql`` literal), parsed once
    by ``F.expr``: both sides cast to double, summed as a left fold from
    0.0D over zip_with, which pads with nulls, so unequal lengths score null.

    The one definition every vector score in the package uses. The left
    fold matches the DuckDB oracles' sequential list_reduce bit-for-bit,
    which a pairwise/SIMD summation would not. A literal vector is ONE
    string literal of exact ``repr(float)`` values that ConstantFolding
    turns back into a literal array: the Column-lambda form cost ~130 ms
    of py4j round trips per 384-dim vector, and ``array(<repr>D, ...)``
    ~38 ms of parsing. Round 3, at 20k rows × 384 dims: a flat 384-term
    ``vec[i] * q_i`` add chain overflows the driver stack as Column nodes,
    and even SQL-parsed it runs 3× SLOWER (the oversized expression kicks
    the Project out of whole-stage codegen into an interpreted fallback
    that is worse than the HOF machinery)."""
    return F.expr(dot_sql(a, b))


def brute_force_topk(
    emb: "DataFrame", query_vec: str, k: int = 10,
    vec_col: str = "embedding", id_col: str = "vec_id",
    extra_cols: list[str] | None = None,
) -> "DataFrame":
    """Exact top-k: distributed TakeOrderedAndProject, no global sort.
    ``query_vec`` is a SQL array expression: a ``vec_sql`` literal or a
    column of ``emb``. ``extra_cols`` ride along after ``similarity``
    (J3 hydration)."""
    return (
        emb.select(
            F.col(id_col),
            dot(vec_col, query_vec).alias("similarity"),
            *[F.col(c) for c in (extra_cols or [])],
        )
        .orderBy(F.desc("similarity"), F.asc(id_col))
        .limit(k)
    )


def batch_topk(
    emb: "DataFrame", queries: "DataFrame", k: int = 10,
    vec_col: str = "embedding", id_col: str = "vec_id",
    query_id_col: str = "query_id", query_vec_col: str = "qvec",
) -> "DataFrame":
    """Top-k for a BATCH of query vectors (SURVEY §2.3 J5 batch variant):
    broadcast the (small) query set, score every embeddings partition
    JVM-side against all queries at once, then per-query window rank.

    One pass over the embeddings table regardless of query count — the
    shape that amortizes scan cost when serving many searches.

    Skew (VERDICT r1 item 3): a single window on query_id would put each
    query's FULL corpus scores on one reducer — at 10^12 rows that one
    partition is the job. Instead rank in two stages: first within
    (query_id, input-partition-id) — cardinality n_queries × n_partitions,
    every group bounded by corpus/n_partitions rows — keep k per group,
    then a final window on query_id over only n_partitions × k candidates
    per query. No reducer ever holds more than max(corpus/n_partitions,
    n_partitions × k) rows for one query.

    Ranking uses the similarity rounded to 6 decimals with an id
    tie-break so results are deterministic and engine-portable (the
    two-stage rank is exact for row_number ordering: the global top-k of
    a partitioned union is the top-k of the per-partition top-k's)."""
    from pyspark.sql.window import Window

    scored = emb.crossJoin(F.broadcast(queries)).select(
        F.col(query_id_col),
        F.col(id_col),
        F.spark_partition_id().alias("_pid"),
        F.round(dot(vec_col, query_vec_col), 6).alias("similarity"),
    )
    order = [F.desc("similarity"), F.asc(id_col)]
    w_pre = Window.partitionBy(query_id_col, "_pid").orderBy(*order)
    candidates = (
        scored.withColumn("rk", F.row_number().over(w_pre))
        .where(F.col("rk") <= k)
        .drop("rk", "_pid")
    )
    w = Window.partitionBy(query_id_col).orderBy(*order)
    return (
        candidates.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .drop("rk")
    )


class IvfIndex:
    """Inverted-file index as three lazy plans, with no driver state:

    - ``codebook``: ONE row, ``cents: array<struct<cid, cvec>>``, the
      first ``n_centroids`` vectors by id (deterministic centroids);
    - ``assigned``: every vector with its best centroid (``centroid_id``),
      one argmax column expression against the broadcast codebook;
    - ``probes(query)``: every centroid ranked against the query vector.

    ``search`` scores only the vectors of the ``nprobe`` best centroids.
    Nothing is collected or cached: each action plans codebook,
    assignment and probes together. At 10^12 vectors the assignment is a
    map-side pass, and once ``materialize`` has written it partitioned by
    ``centroid_id`` a search reads nprobe/n_centroids of the files."""

    def __init__(
        self, emb: "DataFrame", n_centroids: int = 16,
        vec_col: str = "embedding", id_col: str = "vec_id",
    ) -> None:
        self.vec_col, self.id_col = vec_col, id_col
        # centroids as broadcast DATA, not literal expressions: a literal
        # CASE/array encoding puts n_centroids × dim nodes in the plan tree
        # (≈400k at 1024×384); a 1-row relation keeps the plan O(1)
        self.codebook = emb.orderBy(id_col).limit(n_centroids).agg(
            F.collect_list(F.struct(
                F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec"),
            )).alias("cents")
        )
        # map-side argmax: BroadcastNestedLoopJoin with a single build row
        # adds one column and multiplies nothing, then per-row
        # transform+array_max picks the best centroid (ties → lowest cid).
        # No shuffle; one pass; scales to any n_centroids × dim. The
        # coalesce makes centroid_id non-nullable: a join on a nullable
        # key infers isnotnull(centroid_id), which the optimizer pushes
        # into this join as a condition that computes the argmax twice
        best = F.expr(
            "array_max(transform(cents, c -> named_struct("
            f"'score', {dot_sql(vec_col, 'c.cvec')}, 'ncid', -c.cid)))"
        )
        self.assigned = emb.join(F.broadcast(self.codebook)).select(
            id_col, vec_col,
            F.coalesce(-best["ncid"], F.lit(-1)).alias("centroid_id"),
        )

    def materialize(self, path: str) -> None:
        """Write the assignment table partitioned by ``centroid_id`` and
        re-point the index at the read-back: ``search``'s join on the
        partition column then prunes the scan at run time (a dynamic
        pruning filter that reuses the probes' broadcast) — at 10^12
        vectors only nprobe/n_centroids of the files are ever read. AQE
        drops that filter when a cached relation feeds the probes (the
        codebook's source or the query), so those stay uncached."""
        self.assigned.write.mode("overwrite").partitionBy(
            "centroid_id"
        ).parquet(path)
        self.assigned = self.assigned.sparkSession.read.parquet(path)

    def probes(self, query: "DataFrame") -> "DataFrame":
        """Every centroid ranked against the ``qvec`` of the one-row
        ``query``: ``probe_rank`` 0 is the best dot, ties go to the lowest
        cid; ``qvec`` rides along for the candidates' scores."""
        ranked = F.expr(
            "posexplode(sort_array(transform(cents, c -> named_struct("
            f"'nd', -{dot_sql('qvec', 'c.cvec')}, 'cid', c.cid))))"
        )
        return self.codebook.crossJoin(query.select("qvec")).select(
            ranked.alias("probe_rank", "p"), "qvec",
        ).select("probe_rank", F.col("p.cid").alias("centroid_id"), "qvec")

    def search(self, query: "DataFrame", k: int = 10, nprobe: int = 4) -> "DataFrame":
        """Top-k of the vectors assigned to the ``nprobe`` best centroids
        for the one-row ``query`` relation (column ``qvec``)."""
        probed = self.probes(query).where(F.col("probe_rank") < nprobe)
        candidates = self.assigned.join(
            F.broadcast(probed.drop("probe_rank")), "centroid_id"
        )
        return brute_force_topk(candidates, "qvec", k, self.vec_col, self.id_col)
