"""Deep-structure JSON validation with a quarantine split (C17).

Behavioral spec: reference app/api/middleware.py:197-301
(validate_request_body + validate_json_structure). The reference walks the
parsed document depth-first and raises on the FIRST violation:

- body > 10 MB                     → "Request body too large"
- unparseable                      → "Invalid JSON format"
- node deeper than max_depth (10)  → "JSON structure too deep"
- dict with > 100 keys             → "JSON object too large"
- non-string key                   → "JSON keys must be strings"
- key longer than 100 chars        → "JSON key too long"
- key in a suspicious set (ci)     → "Suspicious JSON key: <key>"
- list with > 1000 items           → "JSON array too large"
- string longer than 10000 chars   → "JSON string too long"
- string matching an XSS-ish regex → "JSON contains suspicious content"
- |number| > 1e15                  → "Numeric value too large"
- any other type                   → "Unsupported JSON type: <type>"

This module reproduces that recursion exactly (same strings, same
first-violation DFS order, dict order = document order) as a plain Python
function, then lifts it into an Arrow-batched pandas UDF — the right
shape for a structurally-recursive check no Catalyst expression can
express. ``split_quarantine`` is the operator: one pass computes the
verdict column (``validate_json_tiered``: rows the native tier settles
never reach the recursion); valid rows flow on, violating rows land in a
quarantine DataFrame carrying the error. Both outputs derive from one
cached scan — no per-row Python outside the Arrow batches, no driver
collect.
"""

from __future__ import annotations

import json
import re
from contextlib import contextmanager
from typing import TYPE_CHECKING, Any

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

if TYPE_CHECKING:
    from pyspark.sql import DataFrame

MAX_BODY_BYTES = 10 * 1024 * 1024
MAX_DEPTH = 10
MAX_DICT_KEYS = 100
MAX_KEY_LEN = 100
MAX_LIST_LEN = 1000
MAX_STR_LEN = 10_000
MAX_ABS_NUMBER = 1e15

# middleware.py:246-254 — compared case-insensitively
SUSPICIOUS_KEYS = frozenset(
    k.lower()
    for k in (
        "__proto__", "constructor", "prototype", "eval",
        "Function", "setTimeout", "setInterval",
    )
)

# middleware.py:277-284 — each searched case-insensitively; the pattern
# list is single-sourced in core.validation (shared with the search-query
# and UA guards)
from ..core.validation import DANGEROUS_CONTENT_PATTERNS

SUSPICIOUS_PATTERNS = [
    re.compile(p, re.IGNORECASE) for p in DANGEROUS_CONTENT_PATTERNS
]


def validate_json_value(
    data: Any, max_depth: int = MAX_DEPTH, current_depth: int = 0
) -> str | None:
    """First violation (reference error string) in DFS order, else None."""
    if current_depth > max_depth:
        return "JSON structure too deep"
    if isinstance(data, dict):
        if len(data) > MAX_DICT_KEYS:
            return "JSON object too large"
        for key, value in data.items():
            if not isinstance(key, str):
                return "JSON keys must be strings"
            if len(key) > MAX_KEY_LEN:
                return "JSON key too long"
            if key.lower() in SUSPICIOUS_KEYS:
                return f"Suspicious JSON key: {key}"
            err = validate_json_value(value, max_depth, current_depth + 1)
            if err is not None:
                return err
    elif isinstance(data, list):
        if len(data) > MAX_LIST_LEN:
            return "JSON array too large"
        for item in data:
            err = validate_json_value(item, max_depth, current_depth + 1)
            if err is not None:
                return err
    elif isinstance(data, str):
        if len(data) > MAX_STR_LEN:
            return "JSON string too long"
        for pattern in SUSPICIOUS_PATTERNS:
            if pattern.search(data):
                return "JSON contains suspicious content"
    elif isinstance(data, bool):
        pass
    elif isinstance(data, (int, float)):
        if abs(data) > MAX_ABS_NUMBER:
            return "Numeric value too large"
    elif data is None:
        pass
    else:  # pragma: no cover - json.loads never yields other types
        return f"Unsupported JSON type: {type(data)}"
    return None


def validate_json_text(text: str | None) -> str | None:
    """Reference validate_request_body order: size gate → parse → walk."""
    if text is None:
        return None  # absent body: reference skips validation
    if len(text.encode("utf-8", errors="surrogatepass")) > MAX_BODY_BYTES:
        return "Request body too large"
    try:
        data = json.loads(text)
    except (json.JSONDecodeError, UnicodeDecodeError):
        return "Invalid JSON format"
    return validate_json_value(data)


@F.pandas_udf(StringType())
def json_violation_udf(texts: pd.Series) -> pd.Series:
    """Arrow-batched lift of validate_json_text (null = valid).

    The package's one scalar pandas UDF, kept on purpose: it is evaluated
    inside ``validate_json_tiered``'s ``when`` over a masked column, so
    only the payloads the native tier left unsettled cross to Python (the
    settled ones cross as nulls) and the rest of the row stays in the
    JVM. A ``map_rows`` pass (operators/extraction.py) would ship every
    pass-through column of the caller's frame to the worker and back."""
    return texts.map(validate_json_text, na_action="ignore")


# --- tiered validation: settle natively, recurse only when needed ----------
# A payload is settled-VALID by the declarative tier only when every check
# the recursive walk would run is provably clean from native expressions:
# parseable, root is an object, flat (brace counting — strings containing
# braces route to the UDF, conservatively), ≤10000 chars (bounds every
# string value), key count/length/suspicion via json_object_keys, no
# XSS-ish content anywhere in the raw text, and no numeric token that
# could exceed 1e15 (16+ digit runs or exponent notation route to the
# UDF). Settled-INVALID covers only the two verdicts no earlier check can
# preempt in the reference's first-violation DFS order: the byte-size gate
# and parse failure. Everything else keeps its exact first-violation
# semantics by going through the recursive Arrow UDF.

_BIG_NUMBER_RE = "[0-9]{16,}|[eE][+-]?[0-9]"


def _tier_cols(json_col: str):
    """(settled, native_error) column pair for the declarative tier."""
    js = F.col(json_col)
    ks = F.json_object_keys(js)
    too_big = F.octet_length(js) > MAX_BODY_BYTES
    parses = F.try_parse_json(js).isNotNull()
    keys_sql = ",".join(f"'{k}'" for k in sorted(SUSPICIOUS_KEYS))
    flat_clean_object = (
        js.rlike(r"^\s*\{")
        & (F.length(js) - F.length(F.replace(js, F.lit("{"), F.lit(""))) == 1)
        & ~js.contains("[")
        & (F.length(js) <= MAX_STR_LEN)
        & (F.size(ks) <= MAX_DICT_KEYS)
        & (
            F.coalesce(
                F.expr(f"array_max(transform(json_object_keys({json_col}),"
                       f" x -> length(x)))") <= MAX_KEY_LEN,
                F.lit(True),  # empty object: no keys to be too long
            )
        )
        & ~F.expr(
            f"exists(json_object_keys({json_col}), x -> lower(x) IN ({keys_sql}))"
        )
        & ~js.rlike("(?i)(" + "|".join(DANGEROUS_CONTENT_PATTERNS) + ")")
        & ~js.rlike(_BIG_NUMBER_RE)
    )
    settled = (
        js.isNull() | too_big | ~parses | flat_clean_object
    )
    native_error = (
        F.when(js.isNull(), F.lit(None).cast("string"))
        .when(too_big, F.lit("Request body too large"))
        .when(~parses, F.lit("Invalid JSON format"))
        .otherwise(F.lit(None).cast("string"))
    )
    return settled, native_error


def validate_json_tiered(
    df: "DataFrame", json_col: str, error_col: str = "json_error",
    settled_col: str | None = None,
) -> "DataFrame":
    """Adds ``error_col`` with EXACTLY json_violation_udf's semantics, but
    rows the declarative tier settles cost no Python recursion: their
    payload is nulled before the UDF boundary (validate_json_text(None)
    short-circuits), so the Arrow transfer carries nulls and the workers
    only walk genuinely ambiguous payloads. Pass ``settled_col`` to also
    keep the tier flag — that is the measurement hook for what fraction
    of a corpus the native tier handles (PLANS.md: 100% of the 100k
    sf0.1 events.props rows settle natively, 0 verdict mismatches vs the
    pure-UDF path; the hostile probes route to the UDF as designed)."""
    settled, native_error = _tier_cols(json_col)
    masked = F.when(settled, F.lit(None)).otherwise(F.col(json_col))
    out = df.withColumn(
        error_col,
        F.when(settled, native_error).otherwise(json_violation_udf(masked)),
    )
    if settled_col is not None:
        out = out.withColumn(settled_col, settled)
    return out


def split_quarantine(
    df: "DataFrame", json_col: str, error_col: str = "json_error",
) -> tuple["DataFrame", "DataFrame"]:
    """(valid_rows, quarantined_rows): one judged plan, two filters.

    Spark has NO cross-action plan reuse: if the caller runs separate
    actions on both outputs (write valid, write quarantine), the
    validation UDF re-executes for each — 2× the Python-worker cost at
    100 TB. Either consume both outputs from a single action (e.g.
    partitionBy(error IS NULL) write) or use
    :func:`split_quarantine_cached`, which persists the judged frame for
    the duration of a ``with`` block and unpersists it on exit.
    Quarantined rows carry the reference's exact error string in
    ``error_col``.
    """
    judged = validate_json_tiered(df, json_col, error_col)
    valid = judged.where(F.col(error_col).isNull()).drop(error_col)
    quarantined = judged.where(F.col(error_col).isNotNull())
    return valid, quarantined


@contextmanager
def split_quarantine_cached(
    df: "DataFrame", json_col: str, error_col: str = "json_error",
):
    """Like :func:`split_quarantine`, but the judged frame is persisted so
    the validation UDF runs once across actions on both outputs; the cache
    is released when the block exits (the corpus-sized judged frame must
    not pin executor storage for the session)."""
    judged = validate_json_tiered(df, json_col, error_col).cache()
    try:
        yield (
            judged.where(F.col(error_col).isNull()).drop(error_col),
            judged.where(F.col(error_col).isNotNull()),
        )
    finally:
        judged.unpersist()
