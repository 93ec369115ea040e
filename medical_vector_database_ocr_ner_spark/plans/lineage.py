"""Per-partition checkpointed lineage + resume-without-recompute
(north_rule; SURVEY.md §4.2 item 3).

The unit of lineage is a url-hash BUCKET (``pmod(xxhash64(url), n_buckets)``)
— stable under any input partitioning, uniform under host skew. A run:

1. reads the manifest (parquet) of completed buckets;
2. anti-joins pages against completed buckets → only unfinished work runs;
3. extracts, writes documents partitioned by bucket with DYNAMIC partition
   overwrite (a re-run of a half-written bucket atomically replaces it —
   idempotent, no dup rows);
4. appends one manifest row per completed bucket with extraction metrics
   (n_docs, n_ok, n_err, url range, wall-clock ms).

Resume = rerun the same call: completed buckets are skipped entirely (zero
recompute), failed/missing buckets re-run. At 10^12 rows the manifest is
n_buckets rows — trivially small."""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from ..functions.columns import url_salt_col

MANIFEST_SCHEMA = (
    "bucket int, n_docs long, n_ok long, n_err long, "
    "url_min string, url_max string, wall_ms long, run_id string"
)


def read_manifest(spark, manifest_dir: str):
    if os.path.exists(manifest_dir) and any(
        not f.startswith((".", "_")) for f in os.listdir(manifest_dir)
    ):
        return spark.read.parquet(manifest_dir)
    return spark.createDataFrame([], MANIFEST_SCHEMA)


def completed_buckets(spark, manifest_dir: str):
    return read_manifest(spark, manifest_dir).select("bucket").distinct()


def run_with_lineage(
    spark,
    pages,
    out_dir: str,
    n_buckets: int = 64,
    run_id: str = "r0",
) -> dict:
    """Execute the extraction DAG with bucket-level lineage.

    Returns {"processed_buckets": int, "skipped_buckets": int}."""
    from ..operators.extraction import extract_documents

    docs_dir = os.path.join(out_dir, "documents")
    manifest_dir = os.path.join(out_dir, "manifest")

    pages_b = pages.withColumn("bucket", url_salt_col(F.col("url"), n_buckets).cast("int"))
    done = completed_buckets(spark, manifest_dir)
    n_done = done.count()

    todo = pages_b.join(F.broadcast(done), "bucket", "left_anti")
    if todo.isEmpty():
        return {"processed_buckets": 0, "skipped_buckets": n_done}

    t0 = time.time()
    # one shuffle keyed on url (uniform), n_buckets wide; the bucket column
    # is recomputed after extraction purely as the output-partition /
    # lineage key
    docs = extract_documents(todo, num_partitions=n_buckets).withColumn(
        "bucket", url_salt_col(F.col("url"), n_buckets).cast("int")
    )
    docs = docs.cache()

    # idempotent per-bucket output: dynamic partition overwrite replaces
    # exactly the buckets this run touched
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    docs.write.mode("overwrite").partitionBy("bucket").parquet(docs_dir)

    wall_ms = int((time.time() - t0) * 1000)
    metrics = docs.groupBy("bucket").agg(
        F.count("*").alias("n_docs"),
        F.count_if(F.col("status") == "completed").alias("n_ok"),
        F.count_if(F.col("status") == "failed").alias("n_err"),
        F.min("url").alias("url_min"),
        F.max("url").alias("url_max"),
        F.lit(wall_ms).alias("wall_ms"),
        F.lit(run_id).alias("run_id"),
    )
    # materialize metrics BEFORE touching the manifest: its lineage reads the
    # manifest (via `done`), so writing first and recounting after would
    # re-plan against the updated manifest and see an empty todo
    metrics = metrics.cache()
    n_proc = metrics.count()
    # manifest write is the commit point: it happens strictly AFTER the data
    # write, so a crash in between leaves the bucket uncommitted → re-run
    # overwrites it cleanly
    metrics.write.mode("append").parquet(manifest_dir)
    metrics.unpersist()
    docs.unpersist()
    return {"processed_buckets": n_proc, "skipped_buckets": n_done}


def read_documents(spark, out_dir: str):
    return spark.read.parquet(os.path.join(out_dir, "documents"))
