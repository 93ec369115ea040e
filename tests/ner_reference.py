"""Reference NER for the differential tests of ``core.ner`` and the date
patterns.

This is ``core/ner.py`` as the package had it before its matchers were
anchored on literals, trie-factored and given a linear ORG scanner. It is
kept here verbatim as the oracle, with the ``DATE_PATTERNS`` strings it
imported from ``core/extractors.py`` copied in, together with
``extract_dates`` over those strings. ``core.extract_entities``,
``core.raw_entity_candidates`` and ``core.extract_dates`` must return what
these functions return for every input on which they do not raise (the
gazetteer lookup here raises ``KeyError`` on non-ASCII case variants that
IGNORECASE matches, such as ``ſ``, ``K`` and ``İ``).

The module docstring it had:

Deterministic rule/gazetteer NER.

The reference (app/services/ner_service.py:50-128) unions spans from three
models — spaCy general (confidence 0.8), medical spaCy (0.85), and a
transformer scored ≥ threshold 0.7 — then dedupes first-wins on
(text, start, end), maps raw labels through a 25-entry table dropping
unmapped labels, and sorts by start offset.

Model outputs are nondeterministic/download-dependent, so this from-scratch
engine replaces them with three DETERMINISTIC extractors that reproduce the
same *dataflow semantics* (union order, default confidences, score
threshold, first-wins dedup, label map, drop-unmapped, stable start sort).
Goldens are exact by construction.
"""

from __future__ import annotations

import hashlib
import re
from collections import Counter
from typing import Any, Optional

# core/extractors.py date families as they were (reference text_utils.py:207-213)
_MONTHS = (
    "january|february|march|april|may|june|july|august|september|october"
    "|november|december"
)
DATE_PATTERNS: list[tuple[str, str]] = [
    (r"\b(\d{1,2})/(\d{1,2})/(\d{2,4})\b", "MM/DD/YYYY"),
    (r"\b(\d{1,2})-(\d{1,2})-(\d{2,4})\b", "MM-DD-YYYY"),
    (r"\b(\d{4})-(\d{1,2})-(\d{1,2})\b", "YYYY-MM-DD"),
    (r"\b(" + _MONTHS + r")\s+(\d{1,2}),?\s+(\d{4})\b", "Month DD, YYYY"),
    (r"\b(\d{1,2})\s+(" + _MONTHS + r")\s+(\d{4})\b", "DD Month YYYY"),
]

ENTITY_TYPES = (
    "MEDICATION", "PROCEDURE", "DIAGNOSIS", "BODY_PART", "ORGANIZATION",
    "PERSON", "DATE", "MONEY", "LOCATION", "QUANTITY",
)  # reference app/models/document.py:20-31

MEDICAL_ENTITY_TYPES = frozenset(
    {"MEDICATION", "PROCEDURE", "DIAGNOSIS", "BODY_PART"}
)  # reference app/services/ner_service.py:216-221

CONFIDENCE_THRESHOLD = 0.7  # reference app/config.py:32

# Raw-label → canonical type map; unmapped labels (e.g. CARDINAL) are
# dropped. Semantics of reference ner_service.py:130-176.
LABEL_MAP: dict[str, str] = {
    "PERSON": "PERSON",
    "ORG": "ORGANIZATION",
    "GPE": "LOCATION",
    "DATE": "DATE",
    "MONEY": "MONEY",
    "QUANTITY": "QUANTITY",
    "DISEASE": "DIAGNOSIS",
    "CONDITION": "DIAGNOSIS",
    "SYMPTOM": "DIAGNOSIS",
    "MEDICATION": "MEDICATION",
    "DRUG": "MEDICATION",
    "PROCEDURE": "PROCEDURE",
    "TREATMENT": "PROCEDURE",
    "BODY_PART": "BODY_PART",
    "ANATOMY": "BODY_PART",
    "CHEMICAL": "MEDICATION",
    "DISEASE_OR_SYNDROME": "DIAGNOSIS",
    "SIGN_OR_SYMPTOM": "DIAGNOSIS",
    "ANATOMICAL_SITE": "BODY_PART",
    "MEDICAL_DEVICE": "PROCEDURE",
    "HOSPITAL": "ORGANIZATION",
    "CLINIC": "ORGANIZATION",
    "DOCTOR": "PERSON",
    "PATIENT": "PERSON",
    "NURSE": "PERSON",
}


def map_label(label: str) -> Optional[str]:
    return LABEL_MAP.get(label.upper())


# ---------------------------------------------------------------------------
# Extractor 1 — "general" (spaCy analog, fixed confidence 0.8)
# ---------------------------------------------------------------------------

_PERSON_RE = re.compile(
    r"\b(?:Dr|Mr|Mrs|Ms|Prof)\.?\s+([A-Z][a-z]+(?:\s+[A-Z][a-z]+)?)"
)
_PATIENT_RE = re.compile(r"\bPatient\s+([A-Z][a-z]+\s+[A-Z][a-z]+)\b")
_ORG_RE = re.compile(
    r"\b([A-Z][a-z]+(?:\s+[A-Z][a-z]+)*\s+"
    r"(?:Hospital|Clinic|Center|Centre|University|Laborator(?:y|ies)|Institute"
    r"|Inc|Corp|Ltd))\b"
)
_GPE_TERMS = (
    "Boston", "Chicago", "New York", "London", "Paris", "Berlin", "Tokyo",
    "Germany", "France", "Canada", "Texas", "California", "Springfield",
)
_GPE_RE = re.compile(r"\b(" + "|".join(_GPE_TERMS) + r")\b")
_DATE_RES = [re.compile(p, re.IGNORECASE) for p, _ in DATE_PATTERNS]
_MONEY_RES = [
    re.compile(r"\$\d+(?:,\d{3})*(?:\.\d+)?"),
    re.compile(r"\b\d+(?:\.\d+)?\s*(?:dollars?|cents?|usd|eur|gbp)\b", re.IGNORECASE),
]
_QUANTITY_RE = re.compile(
    r"\b\d+(?:\.\d+)?\s*(?:mg|ml|g|kg|mcg|units?|mmHg|bpm|lbs?|pounds?|cm|mm)\b"
)
_CARDINAL_RE = re.compile(r"(?<![\d./:-])\b\d{1,4}\b(?![\d./:-])")


def _general_candidates(text: str) -> list[dict[str, Any]]:
    """spaCy-general analog: PERSON/ORG/GPE/DATE/MONEY/QUANTITY/CARDINAL.

    CARDINAL is emitted but unmapped in LABEL_MAP, reproducing the
    reference's drop-unmapped path for spaCy labels like CARDINAL/NORP.
    Emission order is deterministic: rule order, then scan order.
    """
    cands: list[dict[str, Any]] = []

    def add(label: str, s: int, e: int, txt: str) -> None:
        cands.append(
            {"text": txt, "label": label, "start": s, "end": e, "confidence": 0.8}
        )

    taken: list[tuple[int, int]] = []

    def overlaps(s: int, e: int) -> bool:
        return any(s < te and ts < e for ts, te in taken)

    for rx, label, group in (
        (_PERSON_RE, "PERSON", 1),
        (_PATIENT_RE, "PERSON", 1),
        (_ORG_RE, "ORG", 1),
        (_GPE_RE, "GPE", 1),
    ):
        for m in rx.finditer(text):
            s, e = m.start(group), m.end(group)
            if not overlaps(s, e):
                add(label, s, e, m.group(group))
                taken.append((s, e))
    for rx in _DATE_RES:
        for m in rx.finditer(text):
            if not overlaps(m.start(), m.end()):
                add("DATE", m.start(), m.end(), m.group(0))
                taken.append((m.start(), m.end()))
    for rx in _MONEY_RES:
        for m in rx.finditer(text):
            if not overlaps(m.start(), m.end()):
                add("MONEY", m.start(), m.end(), m.group(0))
                taken.append((m.start(), m.end()))
    for m in _QUANTITY_RE.finditer(text):
        if not overlaps(m.start(), m.end()):
            add("QUANTITY", m.start(), m.end(), m.group(0))
            taken.append((m.start(), m.end()))
    for m in _CARDINAL_RE.finditer(text):
        if not overlaps(m.start(), m.end()):
            add("CARDINAL", m.start(), m.end(), m.group(0))
            taken.append((m.start(), m.end()))
    return cands


# ---------------------------------------------------------------------------
# Extractor 2 — "medical" gazetteer (medical-spaCy analog, confidence 0.85)
# ---------------------------------------------------------------------------

MEDICAL_GAZETTEER: dict[str, str] = {
    # term (lowercase) -> raw label
    "diabetes mellitus": "DISEASE",
    "diabetes": "DISEASE",
    "hypertension": "DISEASE",
    "cancer": "DISEASE",
    "arthritis": "DISEASE",
    "asthma": "DISEASE",
    "pneumonia": "DISEASE",
    "bronchitis": "DISEASE",
    "hepatitis": "DISEASE",
    "influenza": "DISEASE",
    "migraine": "DISEASE",
    "anemia": "DISEASE",
    "pain": "SYMPTOM",
    "fever": "SYMPTOM",
    "cough": "SYMPTOM",
    "nausea": "SYMPTOM",
    "fatigue": "SYMPTOM",
    "metformin": "MEDICATION",
    "aspirin": "MEDICATION",
    "ibuprofen": "MEDICATION",
    "insulin": "MEDICATION",
    "lisinopril": "MEDICATION",
    "atorvastatin": "MEDICATION",
    "amoxicillin": "MEDICATION",
    "acetaminophen": "MEDICATION",
    "warfarin": "MEDICATION",
    "omeprazole": "MEDICATION",
    "prednisone": "MEDICATION",
    "surgery": "PROCEDURE",
    "biopsy": "PROCEDURE",
    "x-ray": "PROCEDURE",
    "mri": "PROCEDURE",
    "ct scan": "PROCEDURE",
    "dialysis": "PROCEDURE",
    "chemotherapy": "PROCEDURE",
    "vaccination": "PROCEDURE",
    "endoscopy": "PROCEDURE",
    "blood pressure": "ANATOMY",
    "heart rate": "ANATOMY",
    "heart": "BODY_PART",
    "lung": "BODY_PART",
    "liver": "BODY_PART",
    "kidney": "BODY_PART",
    "brain": "BODY_PART",
    "stomach": "BODY_PART",
    "blood": "BODY_PART",
    "bone": "BODY_PART",
    "muscle": "BODY_PART",
    "chest": "BODY_PART",
    "abdomen": "BODY_PART",
    "spine": "BODY_PART",
}

# longest-first so "diabetes mellitus" beats "diabetes" (spaCy ents are
# non-overlapping; we reproduce that within this extractor)
_MEDICAL_TERMS_SORTED = sorted(MEDICAL_GAZETTEER, key=lambda t: (-len(t), t))
_MEDICAL_RE = re.compile(
    r"\b(" + "|".join(re.escape(t) for t in _MEDICAL_TERMS_SORTED) + r")\b",
    re.IGNORECASE,
)


def _medical_candidates(text: str) -> list[dict[str, Any]]:
    cands: list[dict[str, Any]] = []
    for m in _MEDICAL_RE.finditer(text):
        raw = m.group(1)
        cands.append(
            {
                "text": raw,
                "label": MEDICAL_GAZETTEER[raw.lower()],
                "start": m.start(1),
                "end": m.end(1),
                "confidence": 0.85,
            }
        )
    return cands


# ---------------------------------------------------------------------------
# Extractor 3 — "transformer" analog (hash-derived score, threshold 0.7)
# ---------------------------------------------------------------------------

_CHEMICAL_RE = re.compile(r"\b[A-Z][a-z]{3,}(?:in|ine|ol|ide|ate|one)\b")


def _score_word(word: str) -> float:
    """Deterministic pseudo-score in [0.50, 0.99] from a stable hash."""
    digest = hashlib.sha256(word.lower().encode("utf-8")).digest()
    return 0.5 + (int.from_bytes(digest[:4], "big") % 50) / 100.0


def _transformer_candidates(
    text: str, threshold: float = CONFIDENCE_THRESHOLD
) -> list[dict[str, Any]]:
    """Scored CHEMICAL spans kept iff score >= threshold
    (reference ner_service.py:90-100)."""
    cands: list[dict[str, Any]] = []
    for m in _CHEMICAL_RE.finditer(text):
        score = _score_word(m.group(0))
        if score >= threshold:
            cands.append(
                {
                    "text": m.group(0),
                    "label": "CHEMICAL",
                    "start": m.start(),
                    "end": m.end(),
                    "confidence": score,
                }
            )
    return cands


# ---------------------------------------------------------------------------
# Union → dedup → label-map → sort (the reference's exact dataflow)
# ---------------------------------------------------------------------------

def raw_entity_candidates(text: str) -> list[dict[str, Any]]:
    """Concatenation in source order: general, medical, transformer
    (reference ner_service.py:67-100). A ``source`` tag is attached for the
    DataFrame-level union/dedup operators (SURVEY.md U1/U2)."""
    out = []
    for source, cands in (
        ("general", _general_candidates(text)),
        ("medical", _medical_candidates(text)),
        ("transformer", _transformer_candidates(text)),
    ):
        for c in cands:
            c = dict(c)
            c["source"] = source
            out.append(c)
    return out


def extract_entities(text: str) -> list[dict[str, Any]]:
    """Full per-document NER: union → first-wins dedup on (text,start,end)
    → label map (drop unmapped) → stable sort by start.

    Parity: reference app/services/ner_service.py:50-124.
    Returns dicts with keys (text, entity_type, start, end, confidence).
    """
    if not text:
        return []
    seen: set[tuple[str, int, int]] = set()
    entities: list[dict[str, Any]] = []
    for cand in raw_entity_candidates(text):
        key = (cand["text"], cand["start"], cand["end"])
        if key in seen:
            continue
        seen.add(key)
        etype = map_label(cand["label"])
        if etype is None:
            continue
        entities.append(
            {
                "text": cand["text"],
                "entity_type": etype,
                "start": cand["start"],
                "end": cand["end"],
                "confidence": cand["confidence"],
            }
        )
    entities.sort(key=lambda e: e["start"])  # stable: ties keep union order
    return entities


def entity_statistics(entities: list[dict[str, Any]]) -> dict[str, int]:
    """Per-type histogram (reference ner_service.py:178-192)."""
    return dict(Counter(e["entity_type"] for e in entities))


def filter_by_confidence(
    entities: list[dict[str, Any]], threshold: float = CONFIDENCE_THRESHOLD
) -> list[dict[str, Any]]:
    """reference ner_service.py:194-204."""
    return [e for e in entities if e["confidence"] >= threshold]


def medical_entities(entities: list[dict[str, Any]]) -> list[dict[str, Any]]:
    """reference ner_service.py:206-222."""
    return [e for e in entities if e["entity_type"] in MEDICAL_ENTITY_TYPES]


def validate_entity(e: dict[str, Any]) -> bool:
    """reference ner_service.py:224-240."""
    return (
        len(e["text"].strip()) > 0
        and e["start"] >= 0
        and e["end"] > e["start"]
        and 0 <= e["confidence"] <= 1
    )


# core/extractors.py extract_dates over the patterns above
_EXTRACTOR_DATE_RES = [(re.compile(p, re.IGNORECASE), f) for p, f in DATE_PATTERNS]


def extract_dates(text: str) -> list[dict[str, Any]]:
    """Dated spans with format tag + offsets (text_utils.py:191-226)."""
    if not text:
        return []
    out: list[dict[str, Any]] = []
    for rx, fmt in _EXTRACTOR_DATE_RES:
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
