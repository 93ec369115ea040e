"""Real-model injection seam for the extraction UDF stages (X1/X3/X5).

The reference binds heavy models as process singletons — tesseract via
pytesseract (app/services/ocr_service.py:42-73), spaCy / HF pipelines
(app/services/ner_service.py:22-48), SentenceTransformer
(app/services/vector_service.py:46-52). This repo ships deterministic
stand-ins so golden tests are reproducible without those binaries
(SURVEY.md §5.1/§7.0), but a production user must be able to swap the real
models into the Arrow-batched stages WITHOUT re-plumbing any Spark code.

``ModelSeam`` is that injection point: a picklable bundle of zero-arg
FACTORIES, one per model stage. Each factory is called lazily inside the
Python worker — never on the driver, so model weights are loaded where
they run — and at most once per worker process for named (module-level)
factories, once per partition otherwise:

    seam = ModelSeam(
        ocr_factory=load_tesseract,        # () -> (pdf_bytes -> [(text, conf)])
        ner_factory=load_spacy,            # () -> (text -> [entity dicts])
        embed_factory=load_st_model,       # () -> (text -> [float] * dim)
        html_factory=None,                 # keep the built-in DOM classifier
    )
    docs = extract_documents(pages, models=seam)
    docs = docs.withColumn("embedding", make_embed_udf(seam)(F.col("extracted_text")))

Factory contract:
- ocr_factory() -> Callable[[bytes], list[tuple[str, float]]]   (page, conf)
- ner_factory() -> Callable[[str], list[dict]]   (text/entity_type/start/end/confidence)
- embed_factory() -> Callable[[str], list[float]]
- html_factory() -> Callable[[bytes], str]

Factories must be picklable (top-level functions / functools.partial of
top-level functions). A module-level factory is cached per worker process
under its qualified name, so Spark's worker reuse amortizes model load
across ALL tasks the worker ever runs — the Spark-side equivalent of the
reference's lru_cache singletons.

``drop_archive_finders()`` is a fixed-cost cut for every Python task that
follows in the worker. Each PySpark task starts with
``importlib.invalidate_caches()`` (``setup_spark_files`` in
``pyspark/worker_util.py``), and on CPython 3.11 that makes every
``zipimporter`` in ``sys.path_importer_cache`` re-read its archive's whole
central directory at once. A local Spark 4.1 worker holds 16 of them:
``pyspark.zip`` and its package directories (12 × 9–11 ms, 1,328
entries), the ``spark-core`` jar on the worker path (2 × 31–36 ms, 5,359
entries) and py4j. That is about 170–260 ms per task before any document
is read; on a 4-core host a 10-row identity task ran ~280 ms. With the
finders dropped, the next task's invalidation has no archive to re-read,
and the same task runs ~70 ms. The purge runs in two places:

- ``operators.extraction.map_rows`` runs it after a partition's last
  batch, when the task has made every import it needs. Its stages
  (extraction, the multimodal decoders) leave the next task nothing to
  re-read.
- ``resolve()`` ends with it, for ``make_embed_udf``: a scalar pandas UDF
  has no end-of-task hook. Purging that early is not enough alone: the
  lazy imports of a worker's first task rebuild a few finders after it
  (``pyspark.zip``, the ``spark-core`` jar, py4j), and the worker's next
  task re-reads them (~40–50 ms).

The purge can go once workers no longer import from archives, or once
the interpreter re-reads an invalidated archive lazily.
"""

from __future__ import annotations

import sys
import zipimport
from dataclasses import dataclass
from typing import Any, Callable, Optional

# per-worker-process cache: qualified factory name -> initialized model fn.
# Lives in the Python worker after the closure is deserialized; reused
# across tasks because Spark reuses workers (spark.python.worker.reuse).
_WORKER_CACHE: dict[str, Any] = {}


def _cache_key(factory: Callable[[], Any]) -> str | None:
    mod = getattr(factory, "__module__", None)
    qual = getattr(factory, "__qualname__", None)
    if not mod or not qual or "<lambda>" in qual or "<locals>" in qual:
        return None  # unnamed/local factory: no stable cross-task identity
    return f"{mod}.{qual}"


def resolve_factory(factory: Optional[Callable[[], Any]], default: Any) -> Any:
    """Initialize a model factory at most once per worker (named factories)
    or once per call-site/partition (local factories); None -> default."""
    if factory is None:
        return default
    key = _cache_key(factory)
    if key is None:
        return factory()
    if key not in _WORKER_CACHE:
        _WORKER_CACHE[key] = factory()
    return _WORKER_CACHE[key]


def drop_archive_finders() -> int:
    """Delete every ``zipimporter`` from ``sys.path_importer_cache``;
    returns how many were deleted (0 on a second call).

    Deleting an entry is the import system's documented way to force the
    path entry to be found again: a later import that walks that entry
    builds a new ``zipimporter`` from ``zipimport``'s directory cache, so
    imports from the archive keep working without a re-read. What this
    saves is the eager re-read that ``importlib.invalidate_caches()``
    makes every cached ``zipimporter`` do on CPython 3.11, once per
    PySpark task (module docstring)."""
    cache = sys.path_importer_cache
    stale = [p for p, f in list(cache.items()) if isinstance(f, zipimport.zipimporter)]
    for path in stale:
        cache.pop(path, None)
    return len(stale)


@dataclass(frozen=True)
class ModelSeam:
    """Picklable bundle of model factories; None fields keep the built-in
    deterministic stand-ins from core (ocr.py / ner.py / embedding.py /
    html_extract.py)."""

    ocr_factory: Optional[Callable[[], Callable]] = None
    ner_factory: Optional[Callable[[], Callable]] = None
    embed_factory: Optional[Callable[[], Callable]] = None
    html_factory: Optional[Callable[[], Callable]] = None

    def resolve(self) -> "ResolvedModels":
        """Call inside the worker, once per partition: returns the
        initialized model functions (worker-cached where possible), then
        drops the worker's archive finders (``drop_archive_finders``; see
        the module docstring for why ``map_rows`` drops them again)."""
        from . import (
            embed_text, extract_entities, extract_main_content,
            ocr_payload_pages,
        )

        models = ResolvedModels(
            # default OCR handles BOTH pdf containers (page expansion) and
            # image containers (single page) — reference process_document
            # routes the same way (ocr_service.py:193-208)
            ocr=resolve_factory(self.ocr_factory, ocr_payload_pages),
            ner=resolve_factory(self.ner_factory, extract_entities),
            embed=resolve_factory(self.embed_factory, embed_text),
            html=resolve_factory(self.html_factory, extract_main_content),
        )
        drop_archive_finders()
        return models


@dataclass
class ResolvedModels:
    ocr: Callable
    ner: Callable
    embed: Callable
    html: Callable


DEFAULT_SEAM = ModelSeam()
