"""Offset-bearing regex span extractors.

These are the reference's typed pattern families (app/utils/text_utils.py:
117-271), kept semantically identical — same patterns, same flags, same
ordering of results (per-family scan order, concatenation across families),
same dedup behavior (medical terms: set-dedup; phones: duplicates kept).

Offsets index into the exact string passed in (the post-extraction
``extracted_text``), matching where the reference feeds raw OCR text to its
extractors (app/services/document_service.py:76-90).
"""

from __future__ import annotations

import re
from typing import Any

# --- medical-term families (reference text_utils.py:130-137) ---------------
MEDICAL_TERM_PATTERNS: list[str] = [
    r"\b[A-Z][a-z]+(?:\s+[A-Z][a-z]+)*\b",  # capitalized runs
    r"\b\d+(?:\.\d+)?\s*(?:mg|ml|g|kg|mcg|units?)\b",  # dosages
    r"\b(?:patient|doctor|nurse|hospital|clinic|medical|treatment|diagnosis"
    r"|symptom|condition|disease|infection|injury|surgery|procedure"
    r"|medication|drug|prescription|dose|dosage|tablet|capsule|injection"
    r"|iv|oral|topical)\b",
    r"\b(?:heart|lung|liver|kidney|brain|stomach|intestine|muscle|bone"
    r"|blood|nerve|artery|vein|joint|spine|skull|chest|abdomen|pelvis"
    r"|limb|hand|foot|eye|ear|nose|mouth|throat)\b",
    r"\b(?:hypertension|diabetes|cancer|arthritis|asthma|pneumonia"
    r"|bronchitis|hepatitis|nephritis|carditis|gastritis|colitis"
    r"|dermatitis|meningitis|encephalitis)\b",
]

# --- typed numeric families (reference text_utils.py:164-174) --------------
NUMBER_PATTERNS: list[tuple[str, str]] = [
    (r"\b(\d+(?:\.\d+)?)\s*(mg|ml|g|kg|mcg|units?)\b", "dosage"),
    (r"\b(\d+(?:\.\d+)?)\s*(years?|months?|weeks?|days?|hours?|minutes?)\b", "duration"),
    (r"\b(\d+(?:\.\d+)?)\s*(dollars?|cents?|usd|eur|gbp)\b", "money"),
    (r"\b(\d{1,2}):(\d{2})\s*(am|pm)?\b", "time"),
    (r"\b(\d{1,2})/(\d{1,2})/(\d{2,4})\b", "date"),
    (r"\b(\d+(?:\.\d+)?)\s*(percent|%)\b", "percentage"),
    (r"\b(\d+(?:\.\d+)?)\s*(temperature|temp|fahrenheit|f|celsius|c)\b", "temperature"),
    (r"\b(\d+(?:\.\d+)?)\s*(pounds?|lbs?|kilograms?|kg)\b", "weight"),
    (r"\b(\d+(?:\.\d+)?)\s*(inches?|in|centimeters?|cm|meters?|m)\b", "measurement"),
]

# --- date families (reference text_utils.py:207-213) -----------------------
# The reference's patterns, rewritten to match the same spans faster (see
# core/ner.py): a leading ``\b\d`` is ``\d(?<!\w\d)`` with the first
# quantifier reduced by one, so ``re`` can skip to a digit in C, and the
# month alternation is trie-factored (no month is a prefix of another).
_MONTHS = (
    "a(?:pril|ugust)|december|february|j(?:anuary|u(?:ly|ne))|ma(?:rch|y)"
    "|november|october|september"
)
DATE_PATTERNS: list[tuple[str, str]] = [
    (r"(\d(?<!\w\d)\d?)/(\d{1,2})/(\d{2,4})\b", "MM/DD/YYYY"),
    (r"(\d(?<!\w\d)\d?)-(\d{1,2})-(\d{2,4})\b", "MM-DD-YYYY"),
    (r"(\d(?<!\w\d)\d{3})-(\d{1,2})-(\d{1,2})\b", "YYYY-MM-DD"),
    (r"\b(" + _MONTHS + r")\s+(\d{1,2}),?\s+(\d{4})\b", "Month DD, YYYY"),
    (r"(\d(?<!\w\d)\d?)\s+(" + _MONTHS + r")\s+(\d{4})\b", "DD Month YYYY"),
]

EMAIL_PATTERN = r"\b[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Z|a-z]{2,}\b"

PHONE_PATTERNS: list[str] = [
    r"\b\d{3}-\d{3}-\d{4}\b",
    r"\b\(\d{3}\)\s*\d{3}-\d{4}\b",
    r"\b\d{3}\.\d{3}\.\d{4}\b",
    r"\b\d{10}\b",
    r"\b\+\d{1,3}\s*\d{3}\s*\d{3}\s*\d{4}\b",
]

_MEDICAL_TERM_RES = [re.compile(p, re.IGNORECASE) for p in MEDICAL_TERM_PATTERNS]
_NUMBER_RES = [(re.compile(p, re.IGNORECASE), t) for p, t in NUMBER_PATTERNS]
_DATE_RES = [(re.compile(p, re.IGNORECASE), f) for p, f in DATE_PATTERNS]
_EMAIL_RE = re.compile(EMAIL_PATTERN)
_PHONE_RES = [re.compile(p) for p in PHONE_PATTERNS]


def extract_medical_terms(text: str) -> list[str]:
    """Union of 5 pattern families, set-deduped, sorted for determinism.

    Parity note: the reference returns ``list(set(...))`` (text_utils.py:145)
    whose ORDER is nondeterministic across python runs; we sort so goldens are
    stable. Set membership is identical.
    """
    if not text:
        return []
    terms: set[str] = set()
    for rx in _MEDICAL_TERM_RES:
        terms.update(rx.findall(text))
    return sorted(terms)


def extract_numbers(text: str) -> list[dict[str, Any]]:
    """Typed numeric spans with offsets (text_utils.py:148-188)."""
    if not text:
        return []
    out: list[dict[str, Any]] = []
    for rx, number_type in _NUMBER_RES:
        for m in rx.finditer(text):
            groups = m.groups()
            out.append(
                {
                    "value": m.group(1),
                    "unit": m.group(2) if len(groups) > 1 else None,
                    "type": number_type,
                    "start": m.start(),
                    "end": m.end(),
                    "full_match": m.group(0),
                }
            )
    return out


def extract_dates(text: str) -> list[dict[str, Any]]:
    """Dated spans with format tag + offsets (text_utils.py:191-226)."""
    if not text:
        return []
    out: list[dict[str, Any]] = []
    for rx, fmt in _DATE_RES:
        for m in rx.finditer(text):
            out.append(
                {
                    "date": m.group(0),
                    "format": fmt,
                    "start": m.start(),
                    "end": m.end(),
                    "groups": list(m.groups()),
                }
            )
    return out


def extract_emails(text: str) -> list[str]:
    """text_utils.py:229-243."""
    if not text:
        return []
    return _EMAIL_RE.findall(text)


def extract_phone_numbers(text: str) -> list[str]:
    """Concatenation across 5 patterns, duplicates KEPT (text_utils.py:246-271)."""
    if not text:
        return []
    out: list[str] = []
    for rx in _PHONE_RES:
        out.extend(rx.findall(text))
    return out
