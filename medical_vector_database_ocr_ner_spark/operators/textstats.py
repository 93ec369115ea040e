"""Text-analysis operators for training-data pipelines: language ID,
quality scoring, token counting, fingerprinting. All native column
expressions / single-shuffle aggregations — no Python in the hot path."""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import functions as F

from .dedup import word_shingles, h60

if TYPE_CHECKING:
    from pyspark.sql import Column, DataFrame

# function-word profiles (n-gram/function-word language ID heuristic)
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "was", "for", "with", "is", "a", "on"),
    "de": ("der", "die", "das", "und", "ist", "mit", "für", "von", "ein", "nicht"),
    "fr": ("le", "la", "les", "et", "est", "pour", "avec", "une", "des", "dans"),
}


def lang_scores(text_col) -> "Column":
    """Struct of per-language function-word hit ratios."""
    toks = F.split(F.lower(text_col), " ")
    n = F.greatest(F.size(toks), F.lit(1))
    fields = []
    for lang, words in LANG_PROFILES.items():
        hits = F.size(F.filter(toks, lambda t: t.isin(*words)))
        fields.append((hits / n).alias(lang))
    return F.struct(*fields)


def lang_id(df: "DataFrame", text_col: str = "extracted_text") -> "DataFrame":
    """Adds lang_scores struct + predicted_lang (argmax, 'unknown' when no
    profile scores above 2%)."""
    scored = df.withColumn("lang_scores", lang_scores(F.col(text_col)))
    best = None
    for lang in LANG_PROFILES:
        cand = F.struct(
            F.col("lang_scores")[lang].alias("score"), F.lit(lang).alias("lang")
        )
        best = cand if best is None else F.when(
            cand["score"] > best["score"], cand
        ).otherwise(best)
    return scored.withColumn(
        "predicted_lang",
        F.when(best["score"] >= 0.02, best["lang"]).otherwise(F.lit("unknown")),
    )


def quality_features(df: "DataFrame", text_col: str = "extracted_text") -> "DataFrame":
    """Per-doc quality features (length, punct/digit ratios, stopword ratio,
    mean word length) + composite score in [0,1]. Pure expressions."""
    t = F.col(text_col)
    toks = F.split(t, r"\s+")
    n_toks = F.greatest(F.size(toks), F.lit(1))
    length = F.greatest(F.length(t), F.lit(1))
    stop_ratio = F.size(
        F.filter(toks, lambda x: F.lower(x).isin(*LANG_PROFILES["en"]))
    ) / n_toks
    special = F.regexp_count(t, F.lit(r"[^a-zA-Z0-9\s]")) / length
    digits = F.regexp_count(t, F.lit(r"[0-9]")) / length
    mean_word_len = length / n_toks
    score = (
        0.3 * F.least(F.size(toks) / 100.0, F.lit(1.0))
        + 0.3 * (1.0 - F.least(special * 3, F.lit(1.0)))
        + 0.2 * (1.0 - F.least(digits * 2, F.lit(1.0)))
        + 0.2 * F.least(stop_ratio * 5, F.lit(1.0))
    )
    return df.select(
        "*",
        F.size(toks).alias("n_tokens"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(special, 6).alias("special_ratio"),
        F.round(digits, 6).alias("digit_ratio"),
        F.round(mean_word_len, 6).alias("mean_word_len"),
        F.round(score, 6).alias("quality_score"),
    )


def token_stats(df: "DataFrame", text_col: str, id_col: str) -> "DataFrame":
    """Whitespace tokens, distinct tokens, BPE-ish subword estimate
    (≈ non-space chars / 4, the usual chars-per-token heuristic)."""
    t = F.col(text_col)
    return df.select(
        F.col(id_col),
        F.size(F.split(t, r"\s+")).alias("n_tokens"),
        F.size(F.array_distinct(F.split(t, r"\s+"))).alias("n_distinct_tokens"),
        F.ceil(F.length(F.regexp_replace(t, r"\s", "")) / 4).alias("n_subwords_est"),
    )


def shingle_fingerprint(
    df: "DataFrame", text_col: str, id_col: str, shingle_n: int = 3
) -> "DataFrame":
    """1-permutation minhash over word shingles — a stable 60-bit document
    fingerprint (winnowing-lite)."""
    sh = word_shingles(df, text_col, id_col, shingle_n)
    return (
        sh.groupBy("_id")
        .agg(F.min(h60(F.col("shingle"))).alias("fingerprint"))
        .withColumnRenamed("_id", id_col)
    )
