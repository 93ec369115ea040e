"""Streaming crawl-frontier builder: the continuous form of the batch
outlink-frontier query (plans/queries_ext.q_outlink_frontier), which
builds its candidates with this module's ``outlink_candidates``.

As crawled pages stream in, every same-site ``<a href>`` is resolved to
an absolute url, gated by the shared URL filter rule (the zeroth curation
tier — functions/columns.url_filter_rule_col, single-sourced with the
batch gate so admission policy cannot drift), deduplicated, and appended
to a frontier sink holding urls discovered but never fetched.

State is bounded the same two-tier way as streaming/dedup.py:
``dropDuplicatesWithinWatermark`` on the candidate url bounds in-flight
state to the watermark horizon (at 10^12 pages the set of ALL seen urls
cannot live in streaming state), while cross-batch/cross-run idempotence
comes from the sink-side anti-join in ``foreachBatch`` — re-ingesting the
same pages appends nothing. The batch analog of the sink anti-join is
exactly q_outlink_frontier's LeftAnti; the approximate probe-side analog
is bloom_url_seen's broadcast bit set.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from ..functions.columns import url_filter_rule_col, url_host_col

PAGES_SCHEMA_DDL = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


def outlink_candidates(stream):
    """pages → (host, out_url, warc_ts) candidates: same-site hrefs
    resolved absolute, inadmissible urls dropped by the shared gate rule.
    Works on a stream or a batch DataFrame alike. All native expressions —
    explode, regexp, CASE — so a stream's per-batch plan is one codegen
    span over the micro-batch scan."""
    htmlish = stream.where(F.expr("startswith(html, X'3C')"))
    out = (
        htmlish.select(
            url_host_col(F.col("url")).alias("host"),
            F.col("warc_ts"),
            F.explode(
                F.expr(
                    "regexp_extract_all(cast(html as string),"
                    " '<a href=\"([^\"]+)\"', 1)"
                )
            ).alias("href"),
        )
        .where(F.col("href").startswith("/"))
        .select(
            "host",
            "warc_ts",
            F.concat(F.lit("https://"), F.col("host"), F.col("href")).alias(
                "out_url"
            ),
        )
    )
    return out.where(url_filter_rule_col(F.col("out_url")) == "pass")


def frontier_stream(stream, watermark: str = "2 hours"):
    """Candidate stream with in-horizon duplicates dropped. One state row
    per distinct candidate url seen within the watermark, evicted as event
    time advances — never the full seen-url set."""
    return (
        outlink_candidates(stream)
        .withWatermark("warc_ts", watermark)
        .dropDuplicatesWithinWatermark(["out_url"])
    )


def run_frontier_stream(
    spark,
    pages_dir: str,
    frontier_dir: str,
    checkpoint_dir: str,
    crawled_dir: str | None = None,
    max_files_per_trigger: int | None = None,
):
    """Drain pages_dir through the frontier builder into a parquet sink
    (availableNow: batch-replay mode). Each micro-batch anti-joins against
    (a) the frontier already emitted and (b) the crawled pages' own urls,
    so the sink only ever gains genuinely new, never-fetched urls and
    re-running over the same input is a no-op."""
    reader = spark.readStream.schema(PAGES_SCHEMA_DDL).format("parquet")
    if max_files_per_trigger:
        reader = reader.option(
            "maxFilesPerTrigger", str(max_files_per_trigger)
        )
    stream = reader.load(pages_dir)

    def subtract_seen(fresh, seen):
        # operators.skewjoin.subtract_by_key: sink scanned map-side, never
        # shuffled per batch; bucket the sink on url-hash to prune further
        from ..operators.skewjoin import subtract_by_key

        return subtract_by_key(fresh, seen, "out_url")

    def emit_batch(batch_df, batch_id: int) -> None:
        fresh = batch_df.select("host", "out_url").dropDuplicates(["out_url"])
        # Probe the sink by attempting the read (AnalysisException on a
        # missing/empty sink) rather than os.path — works for any Hadoop
        # filesystem (hdfs://, s3a://), not just driver-local paths.
        # Ordering note: the sink is READ here and APPENDED below in the
        # same micro-batch; this is safe because spark.read.parquet lists
        # the sink's files eagerly at read time, so this batch's own
        # append is never visible to its own dedup scan.
        try:
            seen = spark.read.parquet(frontier_dir).select("out_url")
        except AnalysisException:
            seen = None
        if seen is not None:
            fresh = subtract_seen(fresh, seen)
        if crawled_dir is not None:
            fresh = subtract_seen(
                fresh,
                spark.read.parquet(crawled_dir).select(
                    F.col("url").alias("out_url")
                ),
            )
        fresh.write.mode("append").parquet(frontier_dir)

    return (
        frontier_stream(stream)
        .writeStream.foreachBatch(emit_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
