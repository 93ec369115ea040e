"""ST4 — incremental ingest: the upload→process→index path
(reference app/api/routes.py:46-157) as a Structured Streaming job.

``foreachBatch`` reuses the EXACT batch DAG (operators.extraction +
plans.pipeline) per micro-batch, and performs the content-hash-keyed
embedding upsert — the streaming form of the reference's embedding cache
(vector_service.py:293-319): a hash already present in the sink is never
re-embedded.

Each micro-batch appends one embeddings file per non-empty partition of
``build_embeddings``' ``vec_id`` dedup, which runs at ``stage_width`` (4×
the default parallelism): on local[4], the 200-page test table's single
micro-batch writes 16 files (196 vectors), and a re-ingest whose every
hash is already present writes one empty file. A long-running ingest
therefore accretes small files; ``sources/compact.py`` (``compact_dir``)
bin-packs the directory back to a target file size."""

from __future__ import annotations

import os

from pyspark.sql import functions as F


def incremental_ingest(
    spark,
    pages_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
):
    """Stream pages parquet → extraction DAG → documents + embeddings sinks.
    availableNow drains everything currently present, then stops (the batch
    replay mode); without it the same query tails the directory forever."""
    from ..operators.extraction import extract_documents
    from ..plans.pipeline import build_embeddings

    docs_dir = os.path.join(out_dir, "documents")
    emb_dir = os.path.join(out_dir, "embeddings")

    reader = spark.readStream.schema(
        "url string, warc_ts timestamp, html binary, text string, lang string"
    ).format("parquet")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.load(pages_dir)

    def process_batch(batch_df, batch_id: int) -> None:
        docs = extract_documents(batch_df).cache()
        try:
            docs.write.mode("append").parquet(docs_dir)
            emb = build_embeddings(docs)
            # content-hash upsert: drop hashes already in the sink
            # (idempotent re-ingest; the scalable analog of the TTL cache)
            if os.path.exists(emb_dir) and any(
                f.endswith(".parquet") for f in os.listdir(emb_dir)
            ):
                # subtract_by_key: the corpus-sized sink is scanned
                # map-side, never shuffled per micro-batch (a plain
                # left_anti would shuffle both sides on vec_id)
                from ..operators.skewjoin import subtract_by_key

                existing = spark.read.parquet(emb_dir).select("vec_id")
                emb = subtract_by_key(emb, existing, "vec_id")
            emb.write.mode("append").parquet(emb_dir)
        finally:
            docs.unpersist()

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
