"""Arrow-batched extraction operators (the only places Python executes).

Design for 100 TB (SURVEY.md §3.3/§4.2):

- Cheap native predicates run BEFORE these stages (Catalyst can't reorder
  across Python UDFs, so ordering is structural in the pipeline builder).
- ``map_rows`` is the one ``mapInPandas`` of the package (the multimodal
  decoders run through it too): a per-row Python function over a few
  columns, with the other schema fields passed through. Extraction is ONE
  such pass doing html→text→spans that DROPS the html bytes in its output
  — payload bytes cross the JVM↔Python Arrow boundary exactly once and
  never shuffle after it.
- ``map_rows`` owns the partition lifecycle: model state resolves once per
  partition before the first batch (worker-cached for named factories,
  mirroring the reference's lru_cache model singletons,
  app/services/vector_service.py:46-52), and the worker's archive finders
  drop after the last batch (core/models.py).
- Per-row failures become ``status='failed'`` + error_message rows, the
  quarantine side-output of reference scripts/batch_process.py:115-126.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

import pandas as pd

from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
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


def make_embed_udf(seam=None):
    """Seam-aware X5 embedding UDF. A scalar pandas UDF body runs once per
    Arrow BATCH, so the seam resolves through a closure cell: unnamed
    factories (closures/partials) initialize at most once per task, named
    factories once per worker via core/models.py's cache — never per
    batch. This stage has no end-of-task hook, so ``resolve()`` itself
    drops the archive finders (core/models.py).

    Hot path is vectorized: each document's vector stays a float32 numpy
    array and Arrow converts the whole batch — never ``[float(x) for x in
    vec]`` (384 boxed Python floats per doc on the bench's hottest
    path)."""
    import numpy as np

    cell: dict = {}

    def _embed(texts: pd.Series) -> pd.Series:
        if "m" not in cell:
            from ..core.models import DEFAULT_SEAM

            cell["m"] = (seam or DEFAULT_SEAM).resolve()
        models = cell["m"]
        # asarray is a no-op for the built-in embed (already float32
        # ndarray); real-model seams returning list[float] get one bulk
        # numpy conversion instead of 384 per-element float() calls
        return pd.Series(
            [np.asarray(models.embed(t or ""), dtype=np.float32) for t in texts]
        )

    return pandas_udf(ArrayType(FloatType()))(_embed)


@pandas_udf(ArrayType(PAGE_TYPE))
def pdf_pages_udf(payloads: pd.Series) -> pd.Series:
    """X2 page expansion: pdf binary → array of (page_text, confidence);
    explode() downstream makes this the UDTF-shaped 1→N map."""
    from ..core import ocr_pdf_pages

    return payloads.map(
        lambda b: [
            {"page_text": t, "confidence": float(c)} for t, c in ocr_pdf_pages(b or b"")
        ]
    )


def extract_documents(
    pages: "DataFrame", num_partitions: int | None = None, models=None,
) -> "DataFrame":
    """Full extraction DAG: pages → documents (FIXTURES.md §2 schema).

    ``models``: an optional core.models.ModelSeam swapping the real
    OCR/NER/HTML models into the Python stage (factories initialize once
    per worker — see core/models.py for the tesseract/spaCy drop-in).
    ``num_partitions``: the url-hash partition count of the Python stage
    (default 4× the default parallelism).

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
        # 4× cores: per-document cost is skewed (PDFs, giant pages), so
        # several small waves balance far better than one task per core
        # (measured: +50% throughput at 32 cores vs 1×; see BENCH.md)
        num_partitions = 4 * routed.sparkSession.sparkContext.defaultParallelism
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
