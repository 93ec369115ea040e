"""The NER matchers and the date patterns against their oracle.

``tests/ner_reference.py`` keeps the plain patterns the package used before
its rules were anchored on literals, trie-factored and given a linear ORG
scanner. Every rule must yield the same match sequence (spans, groups and
group spans), and ``extract_entities``, ``raw_entity_candidates`` and
``extract_dates`` must return what the reference returns, on generated
adversarial text and on every text of a seeded pages table. Inputs on
which the reference raises (its gazetteer lookup on a non-ASCII case
variant) are covered by ``TestGazetteerCaseVariants`` instead."""

import pyarrow.parquet as pq
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from medical_vector_database_ocr_ner_spark import core
from medical_vector_database_ocr_ner_spark.core import extractors, ner
from tests import ner_reference as ref

# rule name -> (the package's match iterator, the reference pattern)
RULES = {
    "PERSON": (ner._PERSON_RE.finditer, ref._PERSON_RE),
    "PATIENT": (ner._PATIENT_RE.finditer, ref._PATIENT_RE),
    "ORG": (ner._org_matches, ref._ORG_RE),
    "GPE": (ner._GPE_RE.finditer, ref._GPE_RE),
    "MONEY$": (ner._MONEY_RES[0].finditer, ref._MONEY_RES[0]),
    "MONEY": (ner._MONEY_RES[1].finditer, ref._MONEY_RES[1]),
    "QUANTITY": (ner._QUANTITY_RE.finditer, ref._QUANTITY_RE),
    "CARDINAL": (ner._CARDINAL_RE.finditer, ref._CARDINAL_RE),
    "MEDICAL": (ner._MEDICAL_RE.finditer, ref._MEDICAL_RE),
    "CHEMICAL": (ner._CHEMICAL_RE.finditer, ref._CHEMICAL_RE),
    **{
        f"DATE {fmt}": (rx.finditer, ref_rx)
        for rx, ref_rx, (_, fmt) in zip(ner._DATE_RES, ref._DATE_RES, ref.DATE_PATTERNS)
    },
}

# tokens that abut into every shape the rules care about: digits and the
# punctuation around numbers, Unicode whitespace, capitalised words, ORG
# suffixes and near-misses, titles, places, months, units, gazetteer terms
# in mixed case and with the non-ASCII letters IGNORECASE folds ('ſ', the
# Kelvin sign, 'İ', 'ı'), and word characters that are not ASCII letters
TOKENS = [
    "0", "1", "7", "12", "31", "123", "2021", "12345", "3.5", "1,000",
    "12/03/2020", "5-6-77", "2021-03-04", "1/2/3",
    "$", ".", "/", ":", "-", ",", " ", "  ", "\t", "\n", "\xa0", "\u2003",
    "\u3000", "\u2028", "\x0b", "\x1c", "_", "é", "café", "Éa", "x", "a", "A",
    "Aa", "John", "Smith", "Mary", "City", "General", "St", "Of", "of",
    "Hospital", "Clinic", "Center", "Centre", "University", "Laboratory",
    "Laboratories", "Institute", "Inc", "Corp", "Ltd", "Hospitals",
    "Clinic2", "Inco", "Laborator", "HospitalX", "Hospital_", "Corpé",
    "Dr", "Mr", "Mrs", "Ms", "Prof", "Patient", "patient", "Patients",
    "Boston", "New York", "New", "York", "Paris", "Texas", "Springfields",
    "January", "march", "MAY", "Sept", "june", "JULY", "Augusts", "ſeptember",
    "mg", "ml", "g", "kg", "mcg", "unit", "units", "mmHg", "bpm", "lbs",
    "pounds", "cm", "mm", "dollars", "cent", "USD", "eur", "GBP",
    "Diabetes", "diabetes mellitus", "DIABETES Mellitus", "heart",
    "Heart rate", "hearts", "x-ray", "X-Ray", "ct scan", "CT  scan",
    "blood pressure", "bloods", "mri", "MRI", "insulin", "surgery", "pain",
    "ſurgery", "aſthma", "\u212aidney", "İnsulin", "lıver", "spıne",
    "Aspirin", "Metformin", "Heparine", "Tylenol", "Chloride", "Sulfate",
    "Cortisone", "Abcdin", "Xyzine",
]
texts = st.lists(st.sampled_from(TOKENS), max_size=40).map("".join)


def _matches(matches):
    return [
        (m.span(), m.groups(), [m.span(g) for g in range(1, len(m.groups()) + 1)])
        for m in matches
    ]


def _assert_rules_agree(text):
    for name, (finditer, ref_rx) in RULES.items():
        assert _matches(finditer(text)) == _matches(ref_rx.finditer(text)), name


def _assert_pipeline_agrees(text):
    assert extractors.extract_dates(text) == ref.extract_dates(text)
    try:
        want = ref.extract_entities(text)
    except KeyError:
        return
    assert core.extract_entities(text) == want
    assert core.raw_entity_candidates(text) == ref.raw_entity_candidates(text)


class TestDifferentialOracle:
    @settings(max_examples=1500, deadline=None)
    @given(texts)
    def test_rules(self, text):
        _assert_rules_agree(text)

    @settings(max_examples=800, deadline=None)
    @given(texts)
    def test_pipeline(self, text):
        _assert_pipeline_agrees(text)

    @settings(max_examples=300, deadline=None)
    @given(st.text(max_size=200))
    def test_any_text(self, text):
        _assert_rules_agree(text)
        _assert_pipeline_agrees(text)

    def test_fixtures(self):
        for text in (
            "Dr. John Smith, Mrs Mary Jones and Patient Ann Lee at City General "
            "Hospital in New York on 12/03/2020, March 3, 2021 and 5 june 2022: "
            "$1,250.50, 20 dollars, 5 mg metformin, diabetes mellitus, 72 bpm.",
            "Hospital " + "Aa " * 50 + "Clinic",
            "1 " * 50,
            "Aa Hospital Bb Clinic Cc. Dd-Ee Institute",
            # a word character before each rule's first character
            "x12/03/2020 a12-3-45 b2021-03-04 c5 june 2022 _5 June 2022 d5 mg "
            "e20 dollars f72 éBoston xNew York xDr. Ann Lee xPatient Ann Lee "
            "_Ann Lee Clinic éAspirin 1.5 :7 -3 /4 7. x9",
        ):
            _assert_rules_agree(text)
            _assert_pipeline_agrees(text)

    def test_every_text_of_a_seeded_table(self, tmp_path):
        """What ``extract_documents`` feeds NER (main content, OCR text) and
        the decoded payload itself, for every row."""
        from medical_vector_database_ocr_ner_spark.sources.pages import (
            generate_pages_parquet,
        )

        path = generate_pages_parquet(str(tmp_path / "pages"), 2000, seed=7)
        n_texts = 0
        for payload in pq.read_table(path, columns=["html"]).column("html").to_pylist():
            kind = core.sniff_payload_kind(payload)
            inputs = [payload.decode("utf-8", errors="replace")]
            if kind == "html":
                inputs.append(core.extract_main_content(payload))
            elif kind in ("pdf", "image"):
                inputs.append("\n".join(p[0] for p in core.ocr_payload_pages(payload)))
            for text in inputs:
                _assert_rules_agree(text)
                _assert_pipeline_agrees(text)
                n_texts += 1
        assert n_texts > 3500


class TestGazetteerCaseVariants:
    """IGNORECASE matches a gazetteer term written with a non-ASCII letter
    it folds onto the term's letter. Where ``lower()`` does not give the
    term back ('ſ', 'İ', 'ı'), the reference raised ``KeyError``, which
    quarantined the page."""

    @pytest.mark.parametrize(
        "text, term, label",
        [
            ("the ſurgery today", "ſurgery", "PROCEDURE"),
            ("aſthma and ASTHMA", "aſthma", "DIAGNOSIS"),
            ("left \u212aidney", "\u212aidney", "BODY_PART"),
            ("İnsulin 10 units", "İnsulin", "MEDICATION"),
            ("fatty lıver", "lıver", "BODY_PART"),
            ("DİABETES MELLİTUS type 2", "DİABETES MELLİTUS", "DIAGNOSIS"),
        ],
    )
    def test_label_from_the_matched_term(self, text, term, label):
        got = core.extract_entities(text)
        ents = [e for e in got if e["text"] == term]
        assert len(ents) == 1
        e = ents[0]
        assert e["entity_type"] == label
        assert text[e["start"]:e["end"]] == term
        assert e["confidence"] == 0.85
        if term.lower() in ner.MEDICAL_GAZETTEER:  # the Kelvin sign lowers to k
            assert got == ref.extract_entities(text)
        else:
            with pytest.raises(KeyError):
                ref.extract_entities(text)

    def test_page_is_not_quarantined(self):
        from medical_vector_database_ocr_ner_spark.core.models import DEFAULT_SEAM
        from medical_vector_database_ocr_ner_spark.operators.extraction import (
            _extract_row,
        )

        html = ("<p>After the ſurgery the patient received İnsulin twice a "
                "day for the \u212aidney.</p>").encode()
        text, _, entities, status, error = _extract_row(
            DEFAULT_SEAM.resolve(), "html", html, None)
        assert (status, error) == ("completed", None)
        assert {e["text"] for e in entities} >= {"ſurgery", "İnsulin", "\u212aidney"}
