"""Deterministic PDF/OCR branch.

The reference OCRs images and 300-dpi PDF page renders with tesseract
(app/services/ocr_service.py:42-122) and averages positive per-word
confidences (ocr_service.py:180-191). Tesseract and image/PDF codecs are not
available in this environment, so the engine ships a DETERMINISTIC stand-in
with the same dataflow shape:

- a synthetic "PDF" container (``%PDF`` magic + page texts separated by a
  page marker) produced by the fixtures generator;
- ``ocr_pdf_pages``: page expansion (1 doc → N pages, the reference's
  convert_from_path analog) + per-page (text, confidence) where each word's
  confidence is a stable hash of the word in [-1, 99] — mirroring
  pytesseract's ``image_to_data`` conf column including its -1 non-word
  boxes — and the page confidence is mean(conf for conf > 0)/100, 0.0 when
  no positive confidences (exact reference math, ocr_service.py:188-191).

A real tesseract backend can be swapped in behind the same function
signatures; the Spark plumbing (binary column → pandas UDF → page explode)
is identical either way.
"""

from __future__ import annotations

import functools
import hashlib

PDF_MAGIC = b"%PDF-1.7\n%synthetic\n"
PAGE_MARKER = b"\n%%PAGE%%\n"


def fake_pdf_bytes(pages: list[str]) -> bytes:
    """Assemble the synthetic PDF container used by the fixtures generator."""
    body = PAGE_MARKER.join(p.encode("utf-8") for p in pages)
    return PDF_MAGIC + body + b"\n%%EOF"


@functools.lru_cache(maxsize=1 << 16)
def word_confidence(word: str) -> int:
    """Stable per-word confidence in [-1, 99] (tesseract conf analog).
    Memoised per worker process: a crawl's vocabulary is small next to its
    word count, and the bounded cache keeps a hostile vocabulary from
    growing memory."""
    digest = hashlib.blake2b(word.encode("utf-8"), digest_size=4).digest()
    return int.from_bytes(digest, "big") % 101 - 1


def mean_confidence(confidences: list[int]) -> float:
    """mean(conf for conf > 0)/100, else 0.0 — exact reference math
    (ocr_service.py:188-191)."""
    positive = [c for c in confidences if c > 0]
    return (sum(positive) / len(positive)) / 100.0 if positive else 0.0


def ocr_page(page_text: str) -> tuple[str, float]:
    """Per-page OCR stand-in: text passes through; confidence from words."""
    words = page_text.split()
    return page_text, mean_confidence([word_confidence(w) for w in words])


def ocr_pdf_pages(data: bytes) -> list[tuple[str, float]]:
    """1 PDF payload → N (page_text, confidence) rows (UDTF-shaped page
    expansion, reference ocr_service.py:75-122). Non-PDF payloads → []."""
    if not data.startswith(b"%PDF"):
        return []
    body = data
    if body.startswith(PDF_MAGIC):
        body = body[len(PDF_MAGIC):]
    if body.endswith(b"\n%%EOF"):
        body = body[: -len(b"\n%%EOF")]
    pages = body.split(PAGE_MARKER)
    return [ocr_page(p.decode("utf-8", errors="replace")) for p in pages]


# Synthetic image container: PNG magic + a tEXt-style marker + utf-8 text.
# Stands in for a scanned-page image exactly like the %PDF container above
# stands in for a real PDF; a real tesseract backend swaps in behind the
# same signature (ModelSeam.ocr_factory).
PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
IMAGE_TEXT_MARKER = b"tEXtocr\x00"
_IMAGE_MAGICS = (PNG_MAGIC[:4], b"\xff\xd8\xff", b"GIF8")


def fake_png_bytes(text: str) -> bytes:
    """Assemble the synthetic image container used by the fixtures
    generator (the scan of one printed page)."""
    return PNG_MAGIC + IMAGE_TEXT_MARKER + text.encode("utf-8")


def ocr_image(data: bytes) -> list[tuple[str, float]]:
    """Single-page image OCR stand-in: the reference's primary input path
    (extract_text_from_image, ocr_service.py:124-146 — preprocess →
    image_to_data → words + positive-mean confidence; .jpg/.jpeg/.png/
    .tiff/.bmp whitelist at ocr_service.py:193-208). Same per-word
    confidence math as the PDF branch. Non-image payloads → []; real image
    bytes without embedded fixture text OCR to empty (quarantined upstream
    as 'no content extracted', mirroring the reference's no-readable-text
    error path)."""
    if not any(data.startswith(m) for m in _IMAGE_MAGICS):
        return []
    body = data
    if body.startswith(PNG_MAGIC):
        body = body[len(PNG_MAGIC):]
    if body.startswith(IMAGE_TEXT_MARKER):
        return [ocr_page(body[len(IMAGE_TEXT_MARKER):].decode("utf-8", errors="replace"))]
    return [("", 0.0)]


def ocr_payload_pages(data: bytes) -> list[tuple[str, float]]:
    """Default seam OCR callable: route a binary payload to PDF page
    expansion or single-page image OCR by magic bytes (the reference
    routes by file extension, ocr_service.py:193-208 / 75-122)."""
    if data.startswith(b"%PDF"):
        return ocr_pdf_pages(data)
    return ocr_image(data)
