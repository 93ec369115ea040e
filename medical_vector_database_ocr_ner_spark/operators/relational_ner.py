"""NER as RELATIONAL dataflow (SURVEY.md U1/U2/J1): the reference's
union → first-wins dedup → label-map → sort pipeline
(app/services/ner_service.py:50-124) expressed as DataFrame operators over
an exploded span relation, instead of fused inside one UDF.

The fused form (the ``entities`` column of ``extract_documents`` in
operators/extraction.py) is the hot path — per-doc work, zero shuffles. This relational form exists because (a) it IS the
reference's dataflow made visible to Catalyst, (b) the label map lives in
DATA (broadcast dim table) not code, and (c) tests prove both forms emit
identical spans — the equivalence the byte-parity contract rides on."""

from __future__ import annotations

from typing import TYPE_CHECKING

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType, DoubleType, IntegerType, StringType, StructField, StructType,
)
from pyspark.sql.window import Window

if TYPE_CHECKING:
    from pyspark.sql import DataFrame

RAW_CANDIDATE_TYPE = StructType(
    [
        StructField("text", StringType()),
        StructField("label", StringType()),
        StructField("start", IntegerType()),
        StructField("end", IntegerType()),
        StructField("confidence", DoubleType()),
        StructField("source", StringType()),
        StructField("emit_order", IntegerType()),
    ]
)

SOURCE_PRIORITY = {"general": 0, "medical": 1, "transformer": 2}


@pandas_udf(ArrayType(RAW_CANDIDATE_TYPE))
def raw_candidates_udf(texts: pd.Series) -> pd.Series:
    """U1: the three extractors' concatenated raw candidates with source tag
    and emission order (the dedup tie-breaker)."""
    from ..core.ner import raw_entity_candidates

    def run(t):
        if not t:
            return []
        return [
            {**c, "emit_order": i} for i, c in enumerate(raw_entity_candidates(t))
        ]

    return texts.map(run)


def label_map_df(spark) -> "DataFrame":
    """J1: the 25-entry label-mapping table as a broadcastable dim
    (reference ner_service.py:140-174 as DATA)."""
    from ..core.ner import LABEL_MAP

    return spark.createDataFrame(
        [(k, v) for k, v in LABEL_MAP.items()], "label string, entity_type string"
    )


def extract_entities_relational(
    docs: "DataFrame", text_col: str = "extracted_text", key_col: str = "url"
) -> "DataFrame":
    """Exploded span relation with the reference's exact semantics:

    1. explode raw candidates (U1 union, already priority-ordered)
    2. first-wins dedup on (doc, text, start, end) via row_number ordered by
       emission order — deterministic, unlike dropDuplicates (U2)
    3. inner broadcast join against the label map — drops unmapped (J1)
    4. per-doc order by (start, emit_order) = the stable start sort (T1)

    Returns (key, text, entity_type, start, end, confidence, rank)."""
    spark = docs.sparkSession
    cands = docs.select(
        F.col(key_col).alias("doc_key"),
        F.explode(raw_candidates_udf(F.col(text_col))).alias("c"),
    ).select("doc_key", "c.*")

    w_dedup = Window.partitionBy("doc_key", "text", "start", "end").orderBy(
        "emit_order"
    )
    deduped = (
        cands.withColumn("rn", F.row_number().over(w_dedup))
        .where(F.col("rn") == 1)
        .drop("rn")
    )

    mapped = deduped.join(F.broadcast(label_map_df(spark)), "label", "inner")

    w_sort = Window.partitionBy("doc_key").orderBy("start", "emit_order")
    return mapped.select(
        F.col("doc_key").alias(key_col),
        "text", "entity_type", "start", "end", "confidence",
        F.row_number().over(w_sort).alias("rank"),
    )


def entities_to_nested(flat: "DataFrame", key_col: str = "url") -> "DataFrame":
    """Re-nest the exploded relation into the documents-table shape
    (array ordered by rank — byte-comparable against the fused UDF)."""
    return flat.groupBy(key_col).agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct("rank", "text", "entity_type", "start", "end", "confidence")
                )
            ),
            lambda s: F.struct(
                s["text"].alias("text"),
                s["entity_type"].alias("entity_type"),
                s["start"].alias("start"),
                s["end"].alias("end"),
                s["confidence"].alias("confidence"),
            ),
        ).alias("entities")
    )
