"""Arrow-batched Python stages: ``map_rows`` and the passes built on it.

Design for 100 TB (SURVEY.md §3.3/§4.2):

- Cheap native predicates run BEFORE these stages (Catalyst can't reorder
  across Python UDFs, so ordering is structural in the pipeline builder).
- ``map_rows`` is the one ``mapInPandas`` of the package: a per-row
  Python function over a few columns, with the other schema fields
  passed through. Every batch Python pass runs through it: extraction,
  the embedding stage (``embed_unique``), the multimodal decoders and
  frame sampler, pdf page expansion (``_pdf_pages_row``) and relational
  NER's raw candidates. A 1→N pass returns an array column that the
  caller explodes in the JVM (SURVEY.md §2.9: no Python UDTFs). Extraction is ONE such pass doing
  html→text→spans that DROPS the html bytes in its output — payload
  bytes cross the JVM↔Python Arrow boundary exactly once and never
  shuffle after it.
- ``map_rows`` owns the partition lifecycle: model state resolves once per
  partition before the first batch (worker-cached for named factories,
  mirroring the reference's lru_cache model singletons,
  app/services/vector_service.py:46-52), and the worker's archive finders
  drop after the last batch (core/models.py); this is the package's one
  purge site.
- ``embed_unique`` is the embedding stage: the dedup on ``vec_id`` and
  the embedding in one ``map_rows`` pass (``_embed_first_row`` keeps
  per-partition state of the keys seen), so neither holds a Tungsten
  page.
- Per-row failures become ``status='failed'`` + error_message rows, the
  quarantine side-output of reference scripts/batch_process.py:115-126.

The package's only other Python sites are ``functions/json_guard``'s
masked scalar UDF and the two ``applyInPandasWithState`` sessionizers of
``streaming/`` (tests/test_map_rows.py pins the set).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

import numpy as np
import pandas as pd

from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, DoubleType, FloatType, IntegerType, StringType, StructField,
    StructType, TimestampType,
)

if TYPE_CHECKING:
    from pyspark.sql import DataFrame

ENTITY_TYPE = StructType(
    [
        StructField("text", StringType()),
        StructField("entity_type", StringType()),
        StructField("start", IntegerType()),
        StructField("end", IntegerType()),
        StructField("confidence", DoubleType()),
    ]
)

# output of the single extraction pass (html bytes intentionally absent)
DOCUMENT_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("lang", StringType()),
        StructField("kind", StringType()),
        StructField("extracted_text", StringType()),
        StructField("ocr_confidence", DoubleType()),
        StructField("entities", ArrayType(ENTITY_TYPE)),
        StructField("status", StringType()),
        StructField("error_message", StringType()),
    ]
)

PAGE_TYPE = StructType(
    [StructField("page_text", StringType()), StructField("confidence", DoubleType())]
)


def stage_width(spark) -> int:
    """Partition count of a CPU-bound Python stage: 4× the default
    parallelism. Per-document cost is skewed (PDFs, giant pages), so
    several small waves balance far better than one task per core
    (measured: +50% throughput at 32 cores vs 1×; see BENCH.md). The
    extraction stage and the embedding stage both run this wide."""
    return 4 * spark.sparkContext.defaultParallelism


def map_rows(df: "DataFrame", schema: StructType, reads, row, init) -> "DataFrame":
    """Run ``row`` once per row of ``df`` in ONE ``mapInPandas`` pass.

    ``init()`` runs once per partition, before the first batch, and its
    result is the ``state`` of every ``row(state, *values)`` call, where
    ``values`` are the row's ``reads`` columns. Fields of ``schema`` that
    are columns of ``df`` pass through untouched; ``row`` returns the other
    fields as one tuple in schema order. After the last batch the worker's
    archive finders are dropped (core/models.py), when every import the
    task needed has already been made."""
    passed = [f.name for f in schema if f.name in df.columns]
    computed = [f.name for f in schema if f.name not in passed]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..core.models import drop_archive_finders

        state = init()
        for batch in batches:
            rows = [row(state, *vals) for vals in zip(*(batch[c] for c in reads))]
            cols = list(zip(*rows)) or [()] * len(computed)
            out = dict(zip(computed, map(list, cols)))
            yield pd.DataFrame(
                {n: batch[n] if n in passed else out[n] for n in schema.names}
            )
        drop_archive_finders()

    return df.mapInPandas(run, schema=schema)


def _extract_row(models, kind: str, html: bytes | None, reject_reason: str | None):
    """(extracted_text, ocr_confidence, entities, status, error)."""
    from ..core import mean_confidence, word_confidence

    if reject_reason is not None:
        return None, None, None, "failed", reject_reason
    try:
        if kind == "html":
            text = models.html(html or b"")
            words = text.split()
            conf = mean_confidence([word_confidence(w) for w in words])
        elif kind in ("pdf", "image"):
            # pdf → N pages joined; image → the single-page OCR result
            # (reference's flagship input: extract_text_from_image,
            # ocr_service.py:124-146; routed by process_document :193-208)
            pages = models.ocr(html or b"")
            text = "\n".join(p[0] for p in pages)
            confs = [p[1] for p in pages]
            conf = sum(confs) / len(confs) if confs else 0.0
        else:
            return None, None, None, "failed", f"unsupported payload kind: {kind}"
        if not text:
            return None, None, None, "failed", "no content extracted"
        entities = models.ner(text)
        return text, float(conf), entities, "completed", None
    except Exception as exc:  # quarantine, never kill the partition
        return None, None, None, "failed", f"{type(exc).__name__}: {exc}"[:1000]


def _embed_first_row(state, key, text: str | None):
    """(embedding,): the seam's float32 vector of ``text`` for the first
    row of ``key`` in the partition, None for every later row."""
    models, seen = state
    if key in seen:
        return (None,)
    seen.add(key)
    return (np.asarray(models.embed(text or ""), dtype=np.float32),)


def embed_unique(
    df: "DataFrame", key: str, text: str, seam=None
) -> "DataFrame":
    """The first row of each ``key`` in its partition, with ``embedding``
    (the seam's float32 vector of ``text``) appended: one ``map_rows``
    pass of ``_embed_first_row`` that embeds only a key's first row, then
    a filter on the embedding. ``df`` must be hash-partitioned on ``key``,
    so all rows of a key meet in one partition; the row kept is the one
    ``dropDuplicates([key])`` keeps over that partitioning, the key's
    first in partition order.

    Neither step takes Tungsten memory. ``dropDuplicates`` sorts each
    partition for its aggregate, and a scalar pandas UDF buffers its
    input rows in a row queue. Each takes one page per task: 64 MB with
    the package's 8g heap, however few rows the task holds. At 4
    concurrent tasks that was 512 MB of humongous arrays, still in the
    old generation after the stage, and G1 grew the heap around them by
    a different amount each run (BENCH.md, round 11). Here the other
    columns pass through untouched, and the seam resolves once per
    partition."""
    from ..core.models import DEFAULT_SEAM

    schema = StructType(
        [*df.schema.fields, StructField("embedding", ArrayType(FloatType()))]
    )
    return map_rows(
        df, schema, (key, text), _embed_first_row,
        lambda: ((seam or DEFAULT_SEAM).resolve(), set()),
    ).where(F.col("embedding").isNotNull())


def _pdf_pages_row(_, payload: bytes | None):
    """(pages,): a pdf payload's pages as (page_text, confidence) structs,
    the array ``q_pdf_page_explode`` explodes into one row per page."""
    from ..core import ocr_pdf_pages

    return ([{"page_text": t, "confidence": float(c)}
             for t, c in ocr_pdf_pages(payload or b"")],)


def extract_documents(
    pages: "DataFrame", num_partitions: int | None = None, models=None,
) -> "DataFrame":
    """Full extraction DAG: pages → documents (FIXTURES.md §2 schema).

    ``models``: an optional core.models.ModelSeam swapping the real
    OCR/NER/HTML models into the Python stage (factories initialize once
    per worker — see core/models.py for the tesseract/spaCy drop-in).
    ``num_partitions``: the url-hash partition count of the Python stage
    (default ``stage_width``).

    Stage order is deliberate (SURVEY.md §4.2), and the whole DAG is ONE
    scan of the input (a quarantine-side union would scan twice — 2× IO at
    100 TB):
      1. native predicates (size cap, malicious url, executable magic)
         computed in codegen into a ``reject_reason`` column; rejected rows'
         payload bytes are nulled out so they never shuffle;
      2. native payload routing (kind column);
      3. url-hash repartition to defeat host skew BEFORE the expensive
         Python stage (AQE cannot rebalance a map-only stage);
      4. one ``map_rows`` pass of ``_extract_row`` (surviving html crosses
         Arrow exactly once, is dropped on output; rejects pass straight
         through as status='failed' quarantine rows — never silently
         dropped);
      5. native post-compute: content_hash, entity_count, quality flags,
         metadata map.
    """
    from ..core.models import DEFAULT_SEAM
    from ..functions import columns as FX

    pages = pages.select("url", "warc_ts", "html", "lang")

    reject_reason = (
        F.when(~FX.size_ok_col(F.col("html")), "payload exceeds size cap")
        .when(FX.is_malicious_url_col(F.col("url")), "malicious url pattern")
        .when(FX.is_executable_col(F.col("html")), "executable content signature")
        .otherwise(F.lit(None).cast("string"))
    )
    routed = pages.withColumn("reject_reason", reject_reason).select(
        "url",
        "warc_ts",
        "lang",
        F.when(F.col("reject_reason").isNull(), FX.payload_kind_col(F.col("html")))
        .otherwise(F.lit("rejected"))
        .alias("kind"),
        # rejected payloads carry no bytes into the shuffle / Python stage
        F.when(F.col("reject_reason").isNull(), F.col("html")).alias("html"),
        "reject_reason",
    )

    if num_partitions is None:
        num_partitions = stage_width(routed.sparkSession)
    # hash-repartition on the FULL url: every row is hashed independently,
    # so host-level skew cannot survive. (Partitioning on a precomputed
    # pmod(xxhash64(url), N) salt column is WORSE: Spark re-hashes the N
    # salt values, whose collisions leave ~40% of partitions empty and
    # others doubled — measured in tests/test_skew.)
    routed = routed.repartition(num_partitions, F.col("url"))

    docs = map_rows(
        routed, DOCUMENT_SCHEMA, ("kind", "html", "reject_reason"),
        _extract_row, (models or DEFAULT_SEAM).resolve,
    )

    return docs.select(
        "url",
        "warc_ts",
        "lang",
        "kind",
        "extracted_text",
        "ocr_confidence",
        "entities",
        F.when(F.col("entities").isNotNull(), F.size("entities"))
        .otherwise(F.lit(0))
        .alias("entity_count"),
        FX.content_hash_col(F.col("extracted_text")).alias("content_hash"),
        "status",
        "error_message",
        FX.special_char_ratio_col(F.col("extracted_text")).alias("special_char_ratio"),
        FX.digit_ratio_col(F.col("extracted_text")).alias("digit_ratio"),
        FX.has_ocr_errors_col(F.col("extracted_text")).alias("has_ocr_errors"),
        F.create_map(F.lit("lang"), F.col("lang")).alias("metadata"),
    )
