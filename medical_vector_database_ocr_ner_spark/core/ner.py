r"""Deterministic rule/gazetteer NER.

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

Every rule is written so that ``finditer`` yields the match sequence of
the reference's plain pattern while ``re`` skips to candidate positions in
C, and no rule costs more than linear time:

- A case-sensitive rule is anchored on its first character. A leading
  ``\b`` before a word character becomes a fixed-width lookbehind behind
  it: ``\b\d{1,2}`` is ``\d(?<!\w\d)\d?`` (the first quantifier loses
  one), ``\b[A-Z]`` is ``[A-Z](?<!\w[A-Z])`` and ``\bPatient`` is
  ``Patient(?<!\wPatient)``. The pattern then starts with a literal or a
  character set, which ``re`` searches for without entering the matcher.
- The IGNORECASE alternations (the gazetteer, the month names) keep their
  leading ``\b`` (behind the first character it measured slower under
  IGNORECASE) and are trie-factored. The plain alternation was sorted
  longest-first so that "diabetes mellitus" beats "diabetes". In the trie
  a term that extends another is a greedy optional branch, so it is tried
  before the shorter term; the terms are ASCII, so at each node at most
  one child can match, and the first term that matches is still the
  longest one.
- ORG is matched only at the head of a run of capitalised words; a failed
  head skips its run (see ``_org_matches``).
- Spans claimed by the general extractor are kept as sorted disjoint
  ``(starts, ends)`` lists, so an overlap test is one ``bisect``.

Candidates flow as ``(text, label, start, end, confidence)`` tuples;
``raw_entity_candidates`` turns them into dicts for the relational form.
"""

from __future__ import annotations

import hashlib
import re
from bisect import bisect_right
from collections import Counter
from operator import itemgetter
from typing import Any, Iterator, Optional

from .extractors import DATE_PATTERNS

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

# (text, label, start, end, confidence): the candidate tuple every extractor
# emits
Candidate = tuple[str, str, int, int, float]


def _anchored(literal: str) -> str:
    r"""``\b`` + ``literal`` (which starts with a word character) as the
    literal followed by a lookbehind that rejects a word character before
    it."""
    lit = re.escape(literal)
    return lit + r"(?<!\w" + lit + ")"


_TITLES = ("Dr", "Mr", "Mrs", "Ms", "Prof")
_PERSON_RE = re.compile(
    "(?:" + "|".join(map(_anchored, _TITLES)) + r")\.?\s+"
    r"([A-Z][a-z]+(?:\s+[A-Z][a-z]+)?)"
)
_PATIENT_RE = re.compile(_anchored("Patient") + r"\s+([A-Z][a-z]+\s+[A-Z][a-z]+)\b")
_ORG_RE = re.compile(
    r"\b([A-Z][a-z]+(?:\s+[A-Z][a-z]+)*\s+"
    r"(?:Hospital|Clinic|Center|Centre|University|Laborator(?:y|ies)|Institute"
    r"|Inc|Corp|Ltd))\b"
)
# a run of capitalised words, from a word where a match of _ORG_RE can start
_CAP_RUN_RE = re.compile(r"[A-Z](?<!\w[A-Z])[a-z]+(?:\s+[A-Z][a-z]+)*")
_GPE_TERMS = (
    "Boston", "Chicago", "New York", "London", "Paris", "Berlin", "Tokyo",
    "Germany", "France", "Canada", "Texas", "California", "Springfield",
)
_GPE_RE = re.compile("(" + "|".join(map(_anchored, _GPE_TERMS)) + r")\b")
_DATE_RES = [re.compile(p, re.IGNORECASE) for p, _ in DATE_PATTERNS]
_MONEY_RES = [
    re.compile(r"\$\d+(?:,\d{3})*(?:\.\d+)?"),
    re.compile(
        r"\d(?<!\w\d)\d*(?:\.\d+)?\s*(?:dollars?|cents?|usd|eur|gbp)\b",
        re.IGNORECASE,
    ),
]
_QUANTITY_RE = re.compile(
    r"\d(?<!\w\d)\d*(?:\.\d+)?\s*"
    r"(?:mg|ml|g|kg|mcg|units?|mmHg|bpm|lbs?|pounds?|cm|mm)\b"
)
# (?<![\d./:-])\b\d{1,4}: one lookbehind for both, \d being a word character
_CARDINAL_RE = re.compile(r"\d(?<![\w./:-]\d)\d{0,3}\b(?![\d./:-])")


def _org_matches(text: str) -> Iterator[re.Match[str]]:
    """``_ORG_RE.finditer(text)`` in linear time.

    Every match starts at a capitalised word with no word character before
    it, and lies inside the run of capitalised words that follows (words
    ``[A-Z][a-z]+`` joined by whitespace). The regex is tried only at the
    first such word at or after the scan position. If it fails there, it
    fails at every later word of the run too, since the run from a later
    word is a tail of this one and holds no suffix term this one lacks, so
    the scan resumes at the end of the run. After a match it resumes at the
    match end, as ``finditer`` does."""
    pos = 0
    while (run := _CAP_RUN_RE.search(text, pos)) is not None:
        m = _ORG_RE.match(text, run.start())
        if m is None:
            pos = run.end()
        else:
            yield m
            pos = m.end()


def _general_candidates(text: str) -> list[Candidate]:
    """spaCy-general analog: PERSON/ORG/GPE/DATE/MONEY/QUANTITY/CARDINAL.

    CARDINAL is emitted but unmapped in LABEL_MAP, reproducing the
    reference's drop-unmapped path for spaCy labels like CARDINAL/NORP.
    Emission order is deterministic: rule order, then scan order. A span is
    emitted only if it overlaps no span emitted before it.
    """
    cands: list[Candidate] = []
    starts: list[int] = []  # claimed spans: sorted, disjoint
    ends: list[int] = []

    def claim(label: str, s: int, e: int, txt: str) -> None:
        i = bisect_right(ends, s)  # the first claimed span ending after s
        if i == len(starts) or e <= starts[i]:
            starts.insert(i, s)
            ends.insert(i, e)
            cands.append((txt, label, s, e, 0.8))

    for matches, label in (
        (_PERSON_RE.finditer(text), "PERSON"),
        (_PATIENT_RE.finditer(text), "PERSON"),
        (_org_matches(text), "ORG"),
        (_GPE_RE.finditer(text), "GPE"),
    ):
        for m in matches:
            claim(label, m.start(1), m.end(1), m[1])
    for rxs, label in (
        (_DATE_RES, "DATE"),
        (_MONEY_RES, "MONEY"),
        ((_QUANTITY_RE,), "QUANTITY"),
        ((_CARDINAL_RE,), "CARDINAL"),
    ):
        for rx in rxs:
            for m in rx.finditer(text):
                claim(label, m.start(), m.end(), m[0])
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



def _trie(terms) -> str:
    """An alternation matching the same terms as ``"|".join(longest-first
    terms)``, factored into a trie: a term that extends another is a greedy
    optional branch, tried before the term it extends."""
    root: dict = {}
    for term in terms:
        node = root
        for ch in term:
            node = node.setdefault(ch, {})
        node[""] = {}  # a term ends here

    def render(node: dict) -> str:
        alts = [re.escape(ch) + render(child) for ch, child in sorted(node.items()) if ch]
        if not alts:
            return ""
        body = alts[0] if len(alts) == 1 else "(?:" + "|".join(alts) + ")"
        if "" not in node:
            return body
        return ("(?:" + body + ")" if len(alts) == 1 else body) + "?"

    return render(root)


# spaCy ents are non-overlapping; within this extractor the longest term
# wins ("diabetes mellitus" over "diabetes"), which the trie reproduces
_MEDICAL_RE = re.compile(r"\b(" + _trie(MEDICAL_GAZETTEER) + r")\b", re.IGNORECASE)


def _gazetteer_label(term: str) -> str:
    """Raw label of the gazetteer term that ``_MEDICAL_RE`` matched as
    ``term``. That is ``term.lower()``, unless IGNORECASE matched a
    non-ASCII case variant (``ſ`` for s, the Kelvin sign for k, ``İ`` or
    ``ı`` for i); ``re`` itself then tells which term it was."""
    label = MEDICAL_GAZETTEER.get(term.lower())
    if label is None:
        label = next(
            v for t, v in MEDICAL_GAZETTEER.items()
            if re.fullmatch(re.escape(t), term, re.IGNORECASE)
        )
    return label


def _medical_candidates(text: str) -> list[Candidate]:
    return [
        (m[1], _gazetteer_label(m[1]), m.start(1), m.end(1), 0.85)
        for m in _MEDICAL_RE.finditer(text)
    ]


# ---------------------------------------------------------------------------
# Extractor 3 — "transformer" analog (hash-derived score, threshold 0.7)
# ---------------------------------------------------------------------------

_CHEMICAL_RE = re.compile(r"[A-Z](?<!\w[A-Z])[a-z]{3,}(?:in|ine|ol|ide|ate|one)\b")


def _score_word(word: str) -> float:
    """Deterministic pseudo-score in [0.50, 0.99] from a stable hash."""
    digest = hashlib.sha256(word.lower().encode("utf-8")).digest()
    return 0.5 + (int.from_bytes(digest[:4], "big") % 50) / 100.0


def _transformer_candidates(
    text: str, threshold: float = CONFIDENCE_THRESHOLD
) -> list[Candidate]:
    """Scored CHEMICAL spans kept iff score >= threshold
    (reference ner_service.py:90-100)."""
    cands: list[Candidate] = []
    for m in _CHEMICAL_RE.finditer(text):
        score = _score_word(m[0])
        if score >= threshold:
            cands.append((m[0], "CHEMICAL", m.start(), m.end(), score))
    return cands


# ---------------------------------------------------------------------------
# Union → dedup → label-map → sort (the reference's exact dataflow)
# ---------------------------------------------------------------------------

_SOURCES = (
    ("general", _general_candidates),
    ("medical", _medical_candidates),
    ("transformer", _transformer_candidates),
)


def raw_entity_candidates(text: str) -> list[dict[str, Any]]:
    """Concatenation in source order: general, medical, transformer
    (reference ner_service.py:67-100). A ``source`` tag is attached for the
    DataFrame-level union/dedup operators (SURVEY.md U1/U2)."""
    return [
        {"text": t, "label": label, "start": s, "end": e, "confidence": c,
         "source": source}
        for source, candidates in _SOURCES
        for t, label, s, e, c in candidates(text)
    ]


_START = itemgetter(2)


def extract_entities(text: str) -> list[dict[str, Any]]:
    """Full per-document NER: union → first-wins dedup on (text,start,end)
    → label map (drop unmapped) → stable sort by start.

    Parity: reference app/services/ner_service.py:50-124.
    Returns dicts with keys (text, entity_type, start, end, confidence).
    """
    if not text:
        return []
    seen: set[tuple[str, int, int]] = set()
    kept: list[Candidate] = []
    for _, candidates in _SOURCES:
        for t, label, s, e, c in candidates(text):
            key = (t, s, e)
            if key in seen:
                continue
            seen.add(key)
            etype = map_label(label)
            if etype is not None:
                kept.append((t, etype, s, e, c))
    kept.sort(key=_START)  # stable: ties keep union order
    return [
        {"text": t, "entity_type": etype, "start": s, "end": e, "confidence": c}
        for t, etype, s, e, c in kept
    ]


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
