"""Payload sniffing and data-quality validators.

Parity targets: reference app/utils/validation.py (file security 27-127,
sanitization 134-158, OCR/NER quality 256-365).
"""

from __future__ import annotations

import re

from .textops import strip_control_chars

# reference validation.py:113-118
EXECUTABLE_SIGNATURES: tuple[bytes, ...] = (
    b"MZ",  # Windows PE
    b"\x7fELF",  # Linux ELF
    b"\xfe\xed\xfa\xce",  # Mach-O
    b"\xce\xfa\xed\xfe",  # Mach-O (reverse)
)

# magic-byte prefixes for payload routing (HTML vs PDF branch vs reject)
MAGIC_SIGNATURES: dict[str, tuple[bytes, ...]] = {
    "pdf": (b"%PDF",),
    "png": (b"\x89PNG",),
    "jpeg": (b"\xff\xd8\xff",),
    "gif": (b"GIF8",),
    "executable": EXECUTABLE_SIGNATURES,
}

_MALICIOUS_URL_RE = re.compile(
    r"(\.\./|\.\.\\|<script|javascript:|data:text/html)", re.IGNORECASE
)  # semantics of reference validation.py:85-103 filename blacklist

_OCR_ERROR_RES = [  # reference validation.py:330-336
    re.compile(r"[0O]{3,}"),
    re.compile(r"[1lI]{3,}"),
    re.compile(r"[5S]{3,}"),
    re.compile(r"[8B]{3,}"),
]

_SPECIAL_RE = re.compile(r"[^a-zA-Z0-9\s]")
_DIGIT_RE = re.compile(r"\d")


def is_executable_payload(data: bytes) -> bool:
    """reference validation.py:106-127 (header-prefix check)."""
    header = data[:1024]
    return any(header.startswith(sig) for sig in EXECUTABLE_SIGNATURES)


def sniff_payload_kind(data: bytes) -> str:
    """Route a binary payload: html / pdf / image / executable / other."""
    if not data:
        return "empty"
    for kind, sigs in MAGIC_SIGNATURES.items():
        if any(data[:1024].startswith(sig) for sig in sigs):
            return "image" if kind in ("png", "jpeg", "gif") else kind
    head = data[:256].lstrip()[:64].lower()
    if head.startswith((b"<!doctype html", b"<html", b"<head", b"<body")):
        return "html"
    # HTML fragments are common in real crawls (<div>, <p>, <article>, …);
    # any leading tag-like token routes to the html branch — magic-byte
    # kinds (pdf/image/executable) were already claimed above
    if head[:1] == b"<" and (head[1:2].isalpha() or head[1:2] in (b"!", b"?")):
        return "html"
    return "other"


def is_malicious_url(url: str) -> bool:
    return bool(_MALICIOUS_URL_RE.search(url or ""))


def sanitize_string(s: str, max_length: int = 1000) -> str:
    """Control-char strip + length clamp (reference validation.py:134-158)."""
    if not s:
        return ""
    s = strip_control_chars(s)
    return s[:max_length].strip()


def has_common_ocr_errors(text: str) -> bool:
    """reference validation.py:328-341."""
    return any(rx.search(text) for rx in _OCR_ERROR_RES)


def special_char_ratio(text: str) -> float:
    """reference validation.py:346-348."""
    return len(_SPECIAL_RE.findall(text)) / len(text) if text else 0.0


def digit_ratio(text: str) -> float:
    """reference validation.py:350-353."""
    return len(_DIGIT_RE.findall(text)) / len(text) if text else 0.0


def max_word_freq_ratio(text: str) -> float:
    """Max single-word share of all words; reference validation.py:356-364
    applies it only when the doc has > 10 words."""
    words = text.split()
    if not words:
        return 0.0
    freq: dict[str, int] = {}
    for w in words:
        freq[w] = freq.get(w, 0) + 1
    return max(freq.values()) / len(words)


def is_gibberish(text: str) -> bool:
    """reference validation.py:343-365: special-char ratio > 0.3, digit
    ratio > 0.5, or (>10 words and max word freq > 30%)."""
    if special_char_ratio(text) > 0.3:
        return True
    if digit_ratio(text) > 0.5:
        return True
    words = text.split()
    if len(words) > 10 and max_word_freq_ratio(text) > 0.3:
        return True
    return False


# reference app/api/middleware.py:304-328 — response-data redaction
SENSITIVE_KEY_SUBSTRINGS = (
    "password", "token", "secret", "key", "api_key",
    "private", "internal", "debug", "error_details",
)


def sanitize_response_data(data):
    """Recursive sensitive-key redaction (middleware.py:304-328, exact
    semantics): any dict key CONTAINING a sensitive substring
    (case-insensitive) has its value replaced by '[REDACTED]'; nested
    dicts recurse; dicts inside lists recurse; everything else passes
    through. Non-dict input returns unchanged.

    Mirror-faithful INCLUDING the reference's blind spot: a dict nested
    inside a list inside a list is NOT walked (the list branch only
    recurses into direct dict items), so [[{"password": ...}]] survives —
    exactly as middleware.py:323-324 behaves. Strict full-depth walking
    belongs to functions/json_guard.py (C17), which rejects rather than
    rewrites."""
    if not isinstance(data, dict):
        return data
    sanitized = {}
    for key, value in data.items():
        is_sensitive = any(
            s in key.lower() for s in SENSITIVE_KEY_SUBSTRINGS
        )
        if is_sensitive:
            sanitized[key] = "[REDACTED]"
        elif isinstance(value, dict):
            sanitized[key] = sanitize_response_data(value)
        elif isinstance(value, list):
            sanitized[key] = [
                sanitize_response_data(item) if isinstance(item, dict)
                else item
                for item in value
            ]
        else:
            sanitized[key] = value
    return sanitized


# SINGLE SOURCE for the XSS-ish content patterns shared by four guards:
# search-query validation (validation.py:177-184), JSON string values
# (middleware.py:277-284), the User-Agent check (middleware.py:185-190,
# the 4-pattern prefix), and the declarative quarantine query's regex.
# functions/json_guard.py and plans/queries_ext.py import from here so
# the lists can never drift (round-2 review finding).
DANGEROUS_CONTENT_PATTERNS = (
    r"<script", r"javascript:", r"data:", r"vbscript:",
    r"onload=", r"onerror=",
)

# reference validation.py:161-190 — search-input guards. The reference
# raises ValidationError; ValueError is this package's analog (no web
# framework here). Distinct from this module's sanitize_string, which
# TRUNCATES for the quarantine pipeline: the reference's search path
# REJECTS over-long input instead, and the mirror keeps that behavior.
_DANGEROUS_QUERY_RES = [
    re.compile(p, re.IGNORECASE) for p in DANGEROUS_CONTENT_PATTERNS
]


def validate_search_query(query: str) -> str:
    """Exact mirror: empty check → control-char strip + trim → length
    REJECT over 500 → dangerous-pattern reject → sanitized query."""
    if not query or not query.strip():
        raise ValueError("Search query cannot be empty")
    sanitized = _sanitize_raising(query, 500)
    for rx in _DANGEROUS_QUERY_RES:
        if rx.search(sanitized):
            raise ValueError(
                "Search query contains potentially dangerous content"
            )
    return sanitized


def validate_search_parameters(
    query: str, n_results: int, max_results: int = 100
) -> tuple[bool, list[str]]:
    """Exact mirror of reference validation.py:422-444: collected errors,
    never raises."""
    errors = []
    if not query or not query.strip():
        errors.append("Search query cannot be empty")
    if n_results < 1:
        errors.append("Number of results must be at least 1")
    elif n_results > max_results:
        errors.append(
            f"Number of results too high: {n_results} (max: {max_results})"
        )
    return len(errors) == 0, errors


def _sanitize_raising(s: str, max_length: int) -> str:
    """Reference sanitize_string (validation.py:134-158): strips control
    chars and whitespace but REJECTS over-long input (unlike this
    module's truncating sanitize_string, which serves the quarantine
    pipeline)."""
    out = strip_control_chars(s).strip()
    if len(out) > max_length:
        raise ValueError(
            f"String too long: {len(out)} characters (max: {max_length})"
        )
    return out


def _validate_list(value_list: list) -> list:
    """reference validation.py:237-251: ≤100 items, scalar items only,
    strings sanitized at 500."""
    if len(value_list) > 100:
        raise ValueError("List too long")
    validated = []
    for item in value_list:
        if isinstance(item, (str, int, float, bool)):
            if isinstance(item, str):
                validated.append(_sanitize_raising(item, 500))
            else:
                validated.append(item)
        else:
            raise ValueError(f"Unsupported list item type: {type(item)}")
    return validated


def validate_metadata(metadata):
    """Ingest-side metadata sanitizer, exact mirror of reference
    validation.py:193-235: None passes through; keys must be ≤100-char
    strings; string values sanitized at 1000 (REJECT over-long); lists
    via _validate_list; nested dicts recurse; other types reject. The
    reject-style counterpart is functions/json_guard.py (C17)."""
    if metadata is None:
        return None
    if not isinstance(metadata, dict):
        raise ValueError("Metadata must be a dictionary")
    validated = {}
    for key, value in metadata.items():
        if not isinstance(key, str):
            raise ValueError("Metadata keys must be strings")
        if len(key) > 100:
            raise ValueError("Metadata key too long")
        if isinstance(value, (str, int, float, bool)):
            if isinstance(value, str):
                validated[key] = _sanitize_raising(value, 1000)
            else:
                validated[key] = value
        elif isinstance(value, list):
            validated[key] = _validate_list(value)
        elif isinstance(value, dict):
            validated[key] = validate_metadata(value)
        else:
            raise ValueError(f"Unsupported metadata value type: {type(value)}")
    return validated


_DOC_ID_RE = re.compile(r"^[a-zA-Z0-9_-]+$")


def validate_doc_id(v: str) -> str:
    """reference models/document.py:166-175: non-empty, [A-Za-z0-9_-]+."""
    if not v or not v.strip():
        raise ValueError("Document ID cannot be empty")
    if not _DOC_ID_RE.match(v):
        raise ValueError("Document ID contains invalid characters")
    return v.strip()


# middleware.py:185-190 declares exactly the first four content patterns
_SUSPICIOUS_UA_RES = [
    re.compile(p, re.IGNORECASE) for p in DANGEROUS_CONTENT_PATTERNS[:4]
]


def is_suspicious_user_agent(user_agent: str) -> bool:
    """reference middleware.py:185-195: XSS-ish patterns in the UA header
    (the request-layer sibling of the malicious-url predicate)."""
    return any(rx.search(user_agent or "") for rx in _SUSPICIOUS_UA_RES)


def validate_user_agent(user_agent: str) -> str:
    """reference middleware.py:179-193 in full: length gate first (UA >
    500 chars rejected before any pattern scan), then the 4-pattern
    suspicion check. Raises like the reference's ValidationError paths."""
    ua = user_agent or ""
    if len(ua) > 500:
        raise ValueError("User-Agent header too long")
    if is_suspicious_user_agent(ua):
        raise ValueError("Suspicious User-Agent header")
    return ua


_FORWARDED_IP_RE = re.compile(r"^[\d\.]+$")


def validate_forwarded_header(header: str, value: str) -> str:
    """reference middleware.py:163-176: x-forwarded-for / x-real-ip must
    look like a dotted-numeric address; other suspicious headers
    (x-forwarded-host, x-originating-ip) pass through unchecked there."""
    if header.lower() in ("x-forwarded-for", "x-real-ip"):
        if not _FORWARDED_IP_RE.match(value or ""):
            raise ValueError(f"Invalid {header} value")
    return value
