"""End-to-end DataFrame plans: embedding sink, top-k search, stats.

These are the Spark re-expressions of the reference's three entry points
(SURVEY.md §3): upload/extract (operators.extraction.extract_documents),
GET /search (search_topk), GET /stats (corpus_stats).
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import functions as F

from ..functions import columns as FX
from ..operators.extraction import make_embed_udf
from ..operators.similarity import dot_lit

if TYPE_CHECKING:
    from pyspark.sql import DataFrame


def build_embeddings(
    documents: "DataFrame", carry_cols: list[str] | None = None,
    models=None,
) -> "DataFrame":
    """documents → embeddings table (FIXTURES.md §3).

    Scale shape (SURVEY.md §4.2 #4): the reference's per-text embedding
    cache (vector_service.py:293-319) becomes dedup-before-compute —
    ``dropDuplicates(content_hash)`` guarantees each distinct document text
    embeds exactly once, which is strictly more scalable than a TTL cache.
    The sink is keyed by content hash (north_star bulk write).

    carry_cols: extra document columns to ride along (one value per
    content hash). When the search result needs hydration and the
    documents DataFrame is itself an unmaterialized extraction plan,
    carrying the columns here keeps extraction to ONE pass — a
    hydration join back against the same plan would recompute the whole
    UDF stage for the second branch.

    models: optional core.models.ModelSeam — swaps a real embedding model
    into the Arrow-batched stage (initialized once per worker for named
    factories; see core/models.py)."""
    completed = documents.where(F.col("status") == "completed")

    doc_text = FX.document_text_col(
        F.col("extracted_text"), F.col("entities"), F.col("metadata")
    )

    # per-doc entity-type histogram (A3) as a pure expression
    distinct_types = F.array_distinct(
        F.transform(F.col("entities"), lambda e: e["entity_type"])
    )
    entity_types = F.map_from_entries(
        F.transform(
            distinct_types,
            lambda t: F.struct(
                t.alias("key"),
                F.size(
                    F.filter(F.col("entities"), lambda e: e["entity_type"] == t)
                ).alias("value"),
            ),
        )
    )

    unique = (
        completed.select(
            F.col("content_hash").alias("vec_id"),
            doc_text.alias("doc_text"),
            entity_types.alias("entity_types"),
            *[F.col(c) for c in (carry_cols or [])],
        )
        .dropDuplicates(["vec_id"])
    )
    return unique.withColumn(
        "embedding", make_embed_udf(models)(F.col("doc_text"))
    )


def search_topk(
    embeddings: "DataFrame",
    query_text: str,
    k: int = 10,
    documents: "DataFrame | None" = None,
    extra_cols: list[str] | None = None,
) -> "DataFrame":
    """§3.2 search plan: embed the query once on the driver, score every
    stored vector JVM-side, distributed top-k (TakeOrderedAndProject — no
    global sort), optionally hydrate against the documents table (J3).

    similarity = dot product; vectors are unit-normalized at build time so
    this equals cosine, matching the reference's ``1 - distance``
    (vector_service.py:134) up to ChromaDB's metric convention."""
    from ..core import embed_text

    qvec = [float(x) for x in embed_text(query_text)]
    scored = embeddings.select(
        "vec_id",
        dot_lit("embedding", qvec).alias("similarity"),
        *[F.col(c) for c in (extra_cols or [])],
    )
    topk = scored.orderBy(F.desc("similarity"), F.asc("vec_id")).limit(k)
    if documents is not None:
        docs = documents.select(
            F.col("content_hash").alias("vec_id"), "url", "extracted_text", "entity_count"
        ).dropDuplicates(["vec_id"])
        topk = topk.join(docs, "vec_id", "left").orderBy(
            F.desc("similarity"), F.asc("vec_id")
        )
    return topk


def search_by_entities(
    embeddings: "DataFrame",
    entity_texts: list[str],
    k: int = 10,
    documents: "DataFrame | None" = None,
    extra_cols: list[str] | None = None,
) -> "DataFrame":
    """Entity-driven search (reference document_service.py:181-206,
    vector_service.py:166-181): the query text is the space-joined entity
    texts, then the exact §3.2 search plan. Kept as a named operator so
    the reference's API surface maps one-to-one."""
    return search_topk(
        embeddings, " ".join(entity_texts), k, documents=documents,
        extra_cols=extra_cols,
    )


def entity_type_histogram(documents: "DataFrame") -> "DataFrame":
    """A4: corpus entity-type histogram over the nested spans."""
    return (
        documents.select(F.explode("entities").alias("e"))
        .groupBy(F.col("e.entity_type").alias("entity_type"))
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("entity_type"))
    )


def corpus_stats(documents: "DataFrame") -> "DataFrame":
    """A5 stats panel as one multi-aggregate (single shuffle-free partial +
    final agg): totals, completed/failed, entities, confidence."""
    return documents.agg(
        F.count("*").alias("total_documents"),
        F.count_if(F.col("status") == "completed").alias("completed"),
        F.count_if(F.col("status") == "failed").alias("failed"),
        F.sum("entity_count").alias("total_entities"),
        F.avg(F.when(F.col("status") == "completed", F.col("ocr_confidence"))).alias(
            "avg_ocr_confidence"
        ),
        F.avg(F.length("extracted_text")).alias("avg_text_length"),
    )
