"""Similarity search over an embedding column (array<float>).

- ``brute_force_topk``: exact dot-product top-k, entirely JVM-side
  (``dot`` → TakeOrderedAndProject). The correctness baseline.
- ``IvfIndex``: inverted-file ANN — deterministic centroids, one-shuffle
  partition assignment, searches probe only ``nprobe`` partitions. The
  100 TB path: the scan prunes to nprobe/n_centroids of the corpus.

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


def dot_lit(vec_col: str, query_vec: list[float]) -> "Column":
    """``dot`` of a vector column against a literal query vector."""
    return dot(vec_col, vec_sql(query_vec))


def brute_force_topk(
    emb: "DataFrame", query_vec: list[float], k: int = 10,
    vec_col: str = "embedding", id_col: str = "vec_id",
) -> "DataFrame":
    """Exact top-k: distributed TakeOrderedAndProject, no global sort."""
    return (
        emb.select(F.col(id_col), dot_lit(vec_col, query_vec).alias("similarity"))
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
    """Inverted-file index: deterministic seed centroids (first n vectors
    by id), optionally refined by ``train_iters`` rounds of DataFrame
    Lloyd's k-means; every vector assigned to its best centroid once (one
    argmax column expression), stored partitioned by centroid. Queries
    score only nprobe centroid partitions.

    Training is fully distributed and deterministic: each round is one
    assignment pass (pure column expression — no Python) plus one
    per-(centroid, dimension) mean aggregation; only the k×dim centroid
    matrix ever reaches the driver.

    At 10^12 vectors: assignment is a map-side pass; the search reads
    nprobe/n_centroids of the data — partition pruning does the rest when
    the assignment table is written partitioned by ``centroid_id``."""

    def __init__(
        self, emb: "DataFrame", n_centroids: int = 16,
        vec_col: str = "embedding", id_col: str = "vec_id",
        train_iters: int = 0,
    ) -> None:
        self.vec_col, self.id_col = vec_col, id_col
        self.n_centroids = n_centroids
        self.centroids = [
            (int(i), [float(x) for x in v])
            for i, v in (
                emb.orderBy(id_col).limit(n_centroids)
                .select(id_col, vec_col).collect()
            )
        ]
        for _ in range(train_iters):
            self.centroids = self._lloyd_round(emb)
        self.assigned = self._assign(emb).cache()

    _MEAN_SCALE = 1_000_000  # quantization for order-independent means

    def _lloyd_round(self, emb: "DataFrame") -> list[tuple[int, list[float]]]:
        """One Lloyd's iteration: assign every vector to its best current
        centroid, then recompute each centroid as the per-dimension mean
        of its members (empty clusters keep their old centroid).

        The mean is computed over 1e-6-quantized values as an INTEGER sum:
        integer addition is associative/commutative, so the result is
        bit-identical regardless of partition count or shuffle-fetch order
        — a float avg() would drift in the last bits across runs and break
        the determinism this index guarantees. (Unit-norm components and
        long arithmetic keep the sum far from overflow below ~10^12 rows
        per cluster.)"""
        assigned = self._assign(emb)
        scale = float(self._MEAN_SCALE)
        means = (
            assigned.select(
                "centroid_id",
                F.posexplode(F.col(self.vec_col)).alias("dim", "x"),
            )
            .groupBy("centroid_id", "dim")
            .agg(
                (
                    F.sum(
                        F.round(F.col("x").cast("double") * scale).cast("long")
                    )
                    / (F.count("*") * scale)
                ).alias("m")
            )
            .collect()
        )
        by_cid: dict[int, dict[int, float]] = {}
        for r in means:
            by_cid.setdefault(int(r["centroid_id"]), {})[int(r["dim"])] = float(r["m"])
        out = []
        for cid, old in self.centroids:
            dims = by_cid.get(cid)
            if dims:
                out.append((cid, [dims[i] for i in range(len(old))]))
            else:
                out.append((cid, old))
        return out

    def _centroid_df(self, spark) -> "DataFrame":
        """ONE row holding array<struct<cid,cvec>> — centroids as broadcast
        DATA, not literal expressions. A literal CASE/array encoding puts
        n_centroids × dim nodes in the plan tree (≈400k at 1024×384 —
        Catalyst analysis blows up long before execution); a 1-row broadcast
        relation keeps the plan O(1) no matter the codebook size."""
        rows = [([(int(cid), [float(x) for x in cvec])
                  for cid, cvec in self.centroids],)]
        return spark.createDataFrame(
            rows, "cents: array<struct<cid: int, cvec: array<double>>>"
        )

    def _assign(self, emb: "DataFrame") -> "DataFrame":
        """Map-side argmax assignment via a broadcast join against the
        1-row centroid table: BroadcastNestedLoopJoin with a single build
        row adds one column and multiplies nothing, then per-row
        transform+array_max picks the best centroid (ties → lowest cid,
        matching the previous sequential-fold semantics). No shuffle; one
        pass; scales to any n_centroids × dim."""
        joined = emb.join(F.broadcast(self._centroid_df(emb.sparkSession)))
        best = F.expr(
            "array_max(transform(cents, c -> named_struct("
            f"'score', {dot_sql(self.vec_col, 'c.cvec')}, 'ncid', -c.cid)))"
        )
        return joined.select(
            self.id_col, self.vec_col,
            (-best["ncid"]).alias("centroid_id"),
        )

    def materialize(self, path: str) -> None:
        """Write the assignment table partitioned by ``centroid_id`` and
        re-point the index at the read-back: ``search``'s ``isin`` filter
        on the partition column then resolves as parquet PARTITION PRUNING
        (PartitionFilters in the scan) — at 10^12 vectors only
        nprobe/n_centroids of the files are ever listed, opened, or read."""
        spark = self.assigned.sparkSession
        self.assigned.write.mode("overwrite").partitionBy(
            "centroid_id"
        ).parquet(path)
        # release the cached in-memory assignment (id + full vectors):
        # the parquet read-back replaces it, and an orphaned reference
        # would pin corpus-sized blocks in executor storage for the
        # session lifetime
        self.assigned.unpersist()
        self.assigned = spark.read.parquet(path)

    def search(self, query_vec: list[float], k: int = 10, nprobe: int = 4) -> "DataFrame":
        scored_centroids = sorted(
            self.centroids,
            key=lambda c: -sum(a * b for a, b in zip(c[1], query_vec)),
        )
        probe_ids = [cid for cid, _ in scored_centroids[:nprobe]]
        candidates = self.assigned.where(F.col("centroid_id").isin(probe_ids))
        return (
            candidates.select(
                self.id_col,
                dot_lit(self.vec_col, query_vec).alias("similarity"),
            )
            .orderBy(F.desc("similarity"), F.asc(self.id_col))
            .limit(k)
        )

    def recall_at_k(self, emb: "DataFrame", query_vec: list[float],
                    k: int = 10, nprobe: int = 4) -> float:
        exact = {r[self.id_col] for r in brute_force_topk(
            emb, query_vec, k, self.vec_col, self.id_col).collect()}
        approx = {r[self.id_col] for r in self.search(query_vec, k, nprobe).collect()}
        return len(exact & approx) / max(len(exact), 1)
