"""Streaming deduplication within a watermark horizon.

The batch pipeline dedups embeddings by content hash in its embedding
pass (``operators.extraction.embed_unique``); the streaming form can't keep
every hash ever seen in state — at 10^12 documents that state is the
corpus. ``dropDuplicatesWithinWatermark`` bounds state to the watermark
horizon: a re-crawl of the same page arriving within the horizon is
dropped in-flight, anything older is evicted from state and handled by
the idempotent content-hash upsert at the sink (streaming/ingest.py) —
the same two-tier shape as the reference's TTL embedding cache backed by
the persistent vector store (vector_service.py:41-42, 293-319).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions import columns as FX


def dedup_pages_stream(stream, watermark: str = "2 hours"):
    """pages stream → content-hash-keyed stream with in-horizon duplicates
    dropped. State is bounded: one hash per distinct payload seen within
    the watermark, evicted as event time advances."""
    hashed = stream.withColumn("content_hash", FX.content_hash_col(F.col("html")))
    return hashed.withWatermark("warc_ts", watermark).dropDuplicatesWithinWatermark(
        ["content_hash"]
    )


def run_dedup_stream(spark, pages_dir: str, out_dir: str, checkpoint_dir: str):
    """Drain everything currently in pages_dir through the streaming dedup
    into a parquet sink (availableNow: batch-replay mode)."""
    stream = (
        spark.readStream.schema(
            "url string, warc_ts timestamp, html binary, text string, lang string"
        )
        .format("parquet")
        .load(pages_dir)
    )
    deduped = dedup_pages_stream(stream).select("url", "warc_ts", "content_hash")
    return (
        deduped.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
