"""Native Spark column-expression library (JVM-side, codegen-friendly).

Everything here is a pure ``Column`` expression — no Python UDFs — so
Catalyst can push these below shuffles, prune columns, and keep them inside
WholeStageCodegen. These are the cheap predicates that MUST run before the
expensive Arrow/pandas extraction stages (SURVEY.md §4.2 "UDF barrier
ordering").
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MAX_PAYLOAD_BYTES = 50 * 1024 * 1024  # reference app/config.py:35

# binary prefixes; reference app/utils/validation.py:113-118
_EXEC_PREFIXES_HEX = ("4D5A", "7F454C46", "FEEDFACE", "CEFAEDFE")


def is_executable_col(html: Column) -> Column:
    """Magic-byte executable check as a pure expression (F4)."""
    head8 = F.upper(F.hex(F.substring(html, 1, 4)))
    cond = F.lit(False)
    for sig in _EXEC_PREFIXES_HEX:
        cond = cond | head8.startswith(sig)
    return cond


def payload_kind_col(html: Column) -> Column:
    """Route payloads natively: empty/executable/pdf/image/html/other (F3).

    Mirrors core.validation.sniff_payload_kind closely enough for routing;
    the authoritative per-row classification for goldens is the core fn.
    """
    head4 = F.upper(F.hex(F.substring(html, 1, 4)))
    head3 = F.upper(F.hex(F.substring(html, 1, 3)))
    # doctype sniff via a lazy binary→string cast: unlike decode(), the cast
    # never validates, so hostile non-UTF8 bytes can't abort the scan (they
    # simply fail every ASCII prefix match and fall through to 'other').
    # Leading whitespace is stripped with a regex, NOT ltrim: Spark ltrim
    # removes only spaces while the core twin's lstrip removes \n/\t too —
    # parity requires the same definition of whitespace.
    head_txt = F.lower(
        F.regexp_replace(F.substring(html, 1, 256).cast("string"), r"^\s+", "")
    )
    return (
        F.when(F.length(html) == 0, F.lit("empty"))
        .when(is_executable_col(html), F.lit("executable"))
        .when(head4 == "25504446", F.lit("pdf"))  # %PDF
        .when(
            (head4 == "89504E47") | (head3 == "FFD8FF") | (head4 == "47494638"),
            F.lit("image"),
        )
        .when(
            head_txt.startswith("<!doctype html")
            | head_txt.startswith("<html")
            | head_txt.startswith("<head")
            | head_txt.startswith("<body")
            # HTML fragments (<div>, <p>, <?xml …) — any leading tag-like
            # token, mirroring core.validation.sniff_payload_kind
            | head_txt.rlike("^<[a-z!?]"),
            F.lit("html"),
        )
        .otherwise(F.lit("other"))
    )


def is_malicious_url_col(url: Column) -> Column:
    """F5: regex blacklist (reference validation.py:85-103 semantics)."""
    return url.rlike(r"(?i)(\.\./|\.\.\\|<script|javascript:|data:text/html)")


def size_ok_col(html: Column) -> Column:
    """F2: payload size cap."""
    return F.length(html) <= F.lit(MAX_PAYLOAD_BYTES)


def content_hash_col(text: Column) -> Column:
    """C10: sha-256 content hash (hex) — the embedding sink key."""
    return F.sha2(text.cast("string"), 256)


def special_char_ratio_col(text: Column) -> Column:
    """A11: reference validation.py:346-348."""
    return F.when(
        F.length(text) > 0,
        F.regexp_count(text, F.lit(r"[^a-zA-Z0-9\s]")) / F.length(text),
    ).otherwise(F.lit(0.0))


def digit_ratio_col(text: Column) -> Column:
    """A11: reference validation.py:350-353."""
    return F.when(
        F.length(text) > 0,
        F.regexp_count(text, F.lit(r"\d")) / F.length(text),
    ).otherwise(F.lit(0.0))


def has_ocr_errors_col(text: Column) -> Column:
    """reference validation.py:330-336 families."""
    return (
        text.rlike(r"[0O]{3,}")
        | text.rlike(r"[1lI]{3,}")
        | text.rlike(r"[5S]{3,}")
        | text.rlike(r"[8B]{3,}")
    )


def strip_control_chars_col(text: Column) -> Column:
    """C9 strip form (reference document.py:177-188)."""
    return F.regexp_replace(text, r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]", "")


def normalize_text_col(text: Column) -> Column:
    """C2: lower → non-word→space → ws-collapse → trim (text_utils.py:40-62).

    NOTE: Java regex \\w == [a-zA-Z0-9_] (ASCII) while Python's is unicode;
    identical on the ASCII fixture corpus — unicode-exact normalization goes
    through the pandas-UDF path (core.normalize_text).
    """
    t = F.lower(text)
    t = F.regexp_replace(t, r"[^\w\s]", " ")
    t = F.regexp_replace(t, r"\s+", " ")
    return F.trim(t)


def document_text_col(text: Column, entities: Column, metadata: Column) -> Column:
    """C15: embedding-text assembly as a pure expression, byte-exact to
    core.embedding.create_document_text / reference vector_service.py:321-349:
    text ⊕ " " ⊕ "ent (TYPE)"-list ⊕ " " ⊕ "k: v" per metadata entry.
    Empty parts are omitted entirely (no stray separators)."""
    ent_part = F.array_join(
        F.transform(
            entities,
            lambda e: F.concat(e["text"], F.lit(" ("), e["entity_type"], F.lit(")")),
        ),
        " ",
    )
    meta_part = F.array_join(
        F.transform(
            F.map_entries(metadata),
            lambda kv: F.concat(kv["key"], F.lit(": "), kv["value"]),
        ),
        " ",
    )
    parts = F.array(
        F.when((text.isNotNull()) & (F.length(text) > 0), text),
        F.when((entities.isNotNull()) & (F.size(entities) > 0), ent_part),
        F.when((metadata.isNotNull()) & (F.size(metadata) > 0), meta_part),
    )
    return F.array_join(F.filter(parts, lambda p: p.isNotNull()), " ")


def entity_count_ok_col(entities: Column, entity_count: Column) -> Column:
    """Cross-field invariant entity_count == len(entities)
    (reference document.py:212-220)."""
    return F.size(entities) == entity_count


def filter_entities_by_confidence(entities: Column, threshold: float = 0.7) -> Column:
    """F6 on the nested array via higher-order filter."""
    return F.filter(entities, lambda e: e["confidence"] >= F.lit(threshold))


def medical_entities_col(entities: Column) -> Column:
    """F8: medical-type subset (ner_service.py:206-222)."""
    return F.filter(
        entities,
        lambda e: e["entity_type"].isin(
            "MEDICATION", "PROCEDURE", "DIAGNOSIS", "BODY_PART"
        ),
    )


def url_salt_col(url: Column, num_buckets: int) -> Column:
    """Salted url-hash bucket for skew-defeating repartition (north_rule):
    hosts are heavily skewed, so we shuffle on a uniform hash of the FULL
    url, never on host."""
    return F.pmod(F.xxhash64(url), F.lit(num_buckets))


def format_file_size_col(size_bytes: Column) -> Column:
    """C11 human-readable file size (reference file_utils.py:188-206):
    '0B' for zero, else repeated /1024 up to TB with one decimal — as a
    native CASE ladder (no loop needed: the unit is just the magnitude
    bracket). Rounding: Python's f'{x:.1f}' (the reference) and C printf
    round exact dyadic ties half-to-EVEN (2.25 KiB → '2.2KB'), while
    Java's %.1f alone rounds HALF_UP — so the value is bround()-ed
    (banker's rounding) to 1 decimal FIRST and %.1f then only formats an
    already-rounded value. Byte-for-byte with the reference on all
    integer inputs, ties included."""
    b = size_bytes.cast("double")
    kib, mib, gib, tib = 1024.0, 1024.0**2, 1024.0**3, 1024.0**4

    def fmt(value, unit):
        return F.format_string(f"%.1f{unit}", F.bround(value, 1))

    return (
        F.when(size_bytes == 0, F.lit("0B"))
        .when(b < kib, fmt(b, "B"))
        .when(b < mib, fmt(b / kib, "KB"))
        .when(b < gib, fmt(b / mib, "MB"))
        .when(b < tib, fmt(b / gib, "GB"))
        .otherwise(fmt(b / tib, "TB"))
    )


def redact_map_col(map_col: Column) -> Column:
    """Sensitive-key redaction for a MAP<string,string> column (reference
    middleware.py:304-328 semantics on the flat map case): values whose
    KEY contains any sensitive substring (case-insensitive) become
    '[REDACTED]'. Native transform_values — no Python; nested payloads go
    through core.validation.sanitize_response_data instead. The substring
    list is single-sourced from core.validation so this column fn, the
    recursive mirror, and the props_redacted oracle can't drift."""
    from ..core.validation import SENSITIVE_KEY_SUBSTRINGS

    def _redact(k, v):
        cond = None
        for s in sorted(SENSITIVE_KEY_SUBSTRINGS):
            c = F.lower(k).contains(s)
            cond = c if cond is None else (cond | c)
        return F.when(cond, F.lit("[REDACTED]")).otherwise(v)

    return F.transform_values(map_col, _redact)


def url_host_col(url: Column | str) -> Column:
    """The host of an http(s) url: everything between the scheme and the
    first '/', or '' when the url has no http(s) scheme. The one Spark
    definition every crawl query keys its per-host work on."""
    return F.regexp_extract(url, r"^https?://([^/]+)", 1)


def url_page_no_col(url: Column | str) -> Column:
    """The url's trailing digits as a bigint, NULL when it has none.
    try_cast, because a url without a digit suffix (e.g. a ".pdf" one)
    extracts '', which a plain cast under ANSI fails with
    CAST_INVALID_INPUT instead of yielding the NULL that filters it out."""
    return F.regexp_extract(url, r"([0-9]+)$", 1).try_cast("bigint")


def url_page_id_col(url: Column | str) -> Column:
    """The url's page id as a bigint: its trailing digits, before an
    optional ".pdf" suffix, so a pdf page keeps the id of its html
    sibling; NULL when it has none (try_cast, as in url_page_no_col)."""
    return F.regexp_extract(url, r"([0-9]+)(\.pdf)?$", 1).try_cast("bigint")


def url_filter_rule_col(url: Column) -> Column:
    """First-failing-rule classification for a url (or 'pass') — the
    zeroth, bytes-free tier of the curation funnel (C4/CCNet both gate on
    the url before any fetch/decode). The batch gate query
    (plans/queries_ext.q_url_filter_gate) and the frontier admission of
    streaming/frontier.outlink_candidates, which the batch
    q_outlink_frontier also runs, call this one definition. The DuckDB
    oracles carry their own mirror (queries_ext._url_rule_sql), so the
    oracle check still compares two independent texts. Pure codegen CASE
    over one string column."""
    path = F.regexp_extract(url, r"^https?://[^/]+(/.*)?$", 1)
    return (
        F.when(~url.rlike(r"^https?://"), F.lit("bad_scheme"))
        .when(F.length(url) > 80, F.lit("url_too_long"))
        .when(url.contains("?"), F.lit("has_query"))
        .when(path.rlike(r"^/(bin|cgi-bin)/"), F.lit("binary_route"))
        .when(
            path.rlike(r"\.(exe|zip|jpg|jpeg|png|gif|css|js)$"),
            F.lit("banned_ext"),
        )
        .when(F.size(F.split(path, "/")) - 1 > 4, F.lit("path_too_deep"))
        .otherwise(F.lit("pass"))
    )
