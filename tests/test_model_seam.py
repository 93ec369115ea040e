"""Real-model injection seam (VERDICT r1 item 6): swapping a heavy model
into the Arrow-batched stages must initialize it once per partition (local
factories) / once per worker (named factories) — never per batch or row."""

import functools
import os

from pyspark.sql import functions as F


def _make_counting_ner_factory(path):
    """Builds a CLOSURE factory (cloudpickle ships closures by value, so
    workers need no importable test module). The factory stands in for a
    heavy model load (spaCy/HF): records each initialization, then returns
    a fast fake NER callable. Being a closure it has no stable qualified
    name → the seam resolves it per partition, which is what we count."""

    def factory():
        with open(path, "a") as f:
            f.write("init\n")

        def fake_ner(text):
            return [{
                "text": "FAKE", "entity_type": "FAKE",
                "start": 0, "end": 4, "confidence": 1.0,
            }]

        return fake_ner

    return factory


def _named_factory():
    _named_factory.calls = getattr(_named_factory, "calls", 0) + 1
    return lambda text: []


class TestResolveCaching:
    def test_named_factory_cached_per_process(self):
        from medical_vector_database_ocr_ner_spark.core.models import (
            _WORKER_CACHE, resolve_factory,
        )

        _WORKER_CACHE.clear()
        _named_factory.calls = 0
        a = resolve_factory(_named_factory, None)
        b = resolve_factory(_named_factory, None)
        assert a is b
        assert _named_factory.calls == 1

    def test_unnamed_factory_not_worker_cached(self):
        from medical_vector_database_ocr_ner_spark.core.models import (
            _cache_key,
        )

        assert _cache_key(lambda: None) is None
        assert _cache_key(functools.partial(_named_factory)) is None
        assert _cache_key(_make_counting_ner_factory("x")) is None  # closure
        assert _cache_key(_named_factory) is not None

    def test_none_gives_default(self):
        from medical_vector_database_ocr_ner_spark.core import extract_entities
        from medical_vector_database_ocr_ner_spark.core.models import (
            resolve_factory,
        )

        assert resolve_factory(None, extract_entities) is extract_entities


class TestSeamInExtraction:
    def test_fake_model_once_per_partition(self, spark, tmp_path):
        from medical_vector_database_ocr_ner_spark.core.models import ModelSeam
        from medical_vector_database_ocr_ner_spark.operators.extraction import (
            extract_documents,
        )

        marker = tmp_path / "inits.log"
        seam = ModelSeam(ner_factory=_make_counting_ner_factory(str(marker)))
        rows = [
            (f"https://h{i}.example/p", None,
             f"<html><body><p>patient text number {i} with enough words to "
             f"pass the extractor threshold for real</p></body></html>".encode(),
             "en")
            for i in range(40)
        ]
        pages = spark.createDataFrame(
            rows, "url string, warc_ts timestamp, html binary, lang string"
        )
        old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "5")
        try:
            docs = extract_documents(
                pages, num_partitions=2, models=seam
            ).collect()
        finally:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)

        ok = [r for r in docs if r["status"] == "completed"]
        assert len(ok) == 40
        # the injected model actually ran (every row got the fake span)
        assert all(
            e["entity_type"] == "FAKE" for r in ok for e in r["entities"]
        )
        # heavy init once per PARTITION (2), not per batch (40/5=8 per the
        # forced Arrow batch size) and not per row (40)
        inits = marker.read_text().count("init")
        assert inits == 2, f"expected 2 partition inits, saw {inits}"

    def test_seam_embed_udf(self, spark):
        from medical_vector_database_ocr_ner_spark.core.models import ModelSeam
        from medical_vector_database_ocr_ner_spark.operators.extraction import (
            make_embed_udf,
        )

        def embed_factory():
            return lambda t: [float(len(t))]

        seam = ModelSeam(embed_factory=embed_factory)
        df = spark.createDataFrame([("abc",), ("de",)], "t string")
        out = df.select(make_embed_udf(seam)(F.col("t")).alias("v")).collect()
        assert [r["v"] for r in out] == [[3.0], [2.0]]

    def test_default_seam_unchanged(self, spark):
        """No seam → identical output to the pre-seam golden behavior."""
        from medical_vector_database_ocr_ner_spark.core import (
            extract_entities, extract_main_content,
        )
        from medical_vector_database_ocr_ner_spark.operators.extraction import (
            extract_documents,
        )

        html = (b"<html><body><p>Patient was given 500 mg aspirin on "
                b"2023-05-01 by the attending physician.</p></body></html>")
        pages = spark.createDataFrame(
            [("https://x.example/p", None, html, "en")],
            "url string, warc_ts timestamp, html binary, lang string",
        )
        row = extract_documents(pages, num_partitions=1).collect()[0]
        want_text = extract_main_content(html)
        assert row["extracted_text"] == want_text
        want_ents = extract_entities(want_text)
        got_ents = [
            {"text": e["text"], "entity_type": e["entity_type"],
             "start": e["start"], "end": e["end"],
             "confidence": e["confidence"]}
            for e in row["entities"]
        ]
        assert got_ents == want_ents


class TestMultimodalDecoderSeam:
    def test_custom_image_decoder(self, spark):
        """Real-codec seam on the multimodal stage: a swapped decoder runs
        instead of the built-in, same quarantine contract."""
        from medical_vector_database_ocr_ner_spark.operators.multimodal import (
            fake_image_bytes, image_features,
        )

        def decoder_factory():
            def decode(payload):
                if not payload.startswith(b"CUST"):
                    raise NotImplementedError("not my format")
                return {"width": 11, "height": 22, "channels": 1}
            return decode

        rows = [
            ("a", "image", b"CUST" + b"\x00" * 16, ("u", None)),
            ("b", "image", fake_image_bytes(4, 4), ("u", None)),  # rejected now
        ]
        media = spark.createDataFrame(
            rows,
            "media_id string, kind string, payload binary, "
            "meta struct<source_url: string, fetched_at: timestamp>",
        )
        got = {r["media_id"]: r for r in
               image_features(media, decoder_factory).collect()}
        assert got["a"]["width"] == 11 and got["a"]["error"] is None
        assert got["b"]["width"] is None and "not my format" in got["b"]["error"]


class TestSeamEndToEnd:
    """VERDICT r2 item 6: the once-per-worker amortization must hold in the
    REAL pages→documents→embeddings DAG, not just the unit seam — a heavy
    (slow-init) named factory swapped into both UDF stages at sf0.01 scale
    initializes at most once per Python worker while the outputs stay
    byte-identical to the default-seam run."""

    def test_heavy_fake_amortized_across_full_dag(self, spark, tmp_path):
        from medical_vector_database_ocr_ner_spark.core import testing as hvy
        from medical_vector_database_ocr_ner_spark.core.models import ModelSeam
        from medical_vector_database_ocr_ner_spark.operators.extraction import (
            extract_documents,
        )
        from medical_vector_database_ocr_ner_spark.plans.pipeline import (
            build_embeddings,
        )
        from medical_vector_database_ocr_ner_spark.sources.pages import pages_path

        pages = spark.read.parquet(pages_path(2000))  # sf0.01 pages table
        n_parts = 16  # many more partitions than workers
        seam = ModelSeam(
            ner_factory=hvy.heavy_fake_ner_factory,
            embed_factory=hvy.heavy_fake_embed_factory,
        )

        marker = tmp_path / "inits.log"
        with open(hvy.POINTER_PATH, "w") as f:
            f.write(str(marker))
        try:
            docs = extract_documents(pages, num_partitions=n_parts, models=seam)
            emb = build_embeddings(docs, models=seam)
            got = {r["vec_id"]: r["embedding"] for r in emb.collect()}
        finally:
            os.remove(hvy.POINTER_PATH)

        # byte-identical to the default-seam pipeline
        want_docs = extract_documents(pages, num_partitions=n_parts)
        want = {
            r["vec_id"]: r["embedding"]
            for r in build_embeddings(want_docs).collect()
        }
        assert got == want
        assert len(got) > 1000  # sf0.01: ~2k pages, most extract

        inits = marker.read_text().splitlines()
        by_stage = {}
        for line in inits:
            tag, pid = line.split(":")
            by_stage.setdefault(tag, set()).add(pid)
        # local[4] → ≤4 reused Python workers per stage (allow 2x slack
        # for worker respawn); FAR below the 16 partitions either stage ran
        n_workers = 4
        for tag, pids in by_stage.items():
            stage_inits = sum(1 for ln in inits if ln.startswith(tag + ":"))
            assert stage_inits <= 2 * n_workers, (
                f"{tag}: {stage_inits} inits — heavy init not amortized"
            )
            assert stage_inits < n_parts
        assert set(by_stage) == {"ner", "embed"}


class TestRealCodecBranch:
    """VERDICT r4 #4: prove a REAL codec slots into the multimodal stage
    the way ModelSeam proved real tesseract slots into OCR — by driving
    _decode_image's actual PIL code path (via a worker-installed fake
    PIL), with quarantine semantics and the physical plan unchanged."""

    MEDIA_DDL = ("media_id string, kind string, payload binary, "
                 "meta struct<source_url: string, fetched_at: timestamp>")

    @staticmethod
    def _factory():
        from medical_vector_database_ocr_ner_spark.core.testing import (
            fake_pil_decoder_factory,
        )

        return fake_pil_decoder_factory

    def _media(self, spark):
        import struct

        real = b"REAL" + struct.pack("<III", 640, 480, 3)
        from medical_vector_database_ocr_ner_spark.operators.multimodal import (
            fake_image_bytes,
        )

        rows = [
            ("pil_ok", "image", real, ("u", None)),
            # SIMG header: the built-in decodes it, but through the PIL
            # branch Image.open rejects it -> quarantine, job survives
            ("pil_rej", "image", fake_image_bytes(4, 4), ("u", None)),
            ("skip", "audio", b"SAUDxxxx", ("u", None)),
        ]
        return spark.createDataFrame(rows, self.MEDIA_DDL)

    def test_real_pil_branch_via_worker_fake_pil(self, spark):
        from medical_vector_database_ocr_ner_spark.operators.multimodal import (
            image_features,
        )

        media = self._media(spark)
        got = {r["media_id"]: r for r in
               image_features(media, self._factory()).collect()}
        assert set(got) == {"pil_ok", "pil_rej"}  # audio filtered out
        ok = got["pil_ok"]
        assert (ok["width"], ok["height"], ok["channels"]) == (640, 480, 3)
        assert ok["error"] is None
        rej = got["pil_rej"]
        assert rej["width"] is None
        assert "undecodable" in rej["error"]

    def test_fake_pil_shadows_then_restores_installed_pil(self):
        """The fake must win even where a PIL is already importable, and
        hand the runtime its own modules back after each call."""
        import struct
        import sys
        import types

        def _refuse(fp):
            raise OSError("installed PIL reached")

        real_image = types.ModuleType("PIL.Image")
        real_image.open = _refuse
        real = types.ModuleType("PIL")
        real.Image = real_image
        names = ("PIL", "PIL.Image")
        saved = {n: sys.modules.get(n) for n in names}
        sys.modules.update({"PIL": real, "PIL.Image": real_image})
        try:
            decode = self._factory()()
            got = decode(b"REAL" + struct.pack("<III", 7, 5, 4))
            assert got == {"width": 7, "height": 5, "channels": 4}
            assert sys.modules["PIL"] is real
            assert sys.modules["PIL.Image"] is real_image
            for n in names:
                sys.modules.pop(n)
            decode(b"REAL" + struct.pack("<III", 1, 1, 1))
            assert not any(n in sys.modules for n in names)
        finally:
            for n, mod in saved.items():
                if mod is None:
                    sys.modules.pop(n, None)
                else:
                    sys.modules[n] = mod

    def test_plan_shape_invariant_under_decoder_swap(self, spark):
        """Swapping the codec must not change the physical plan — the
        seam is a worker-side function pointer, not a plan rewrite."""
        import re

        from medical_vector_database_ocr_ner_spark.operators.multimodal import (
            image_features,
        )

        media = self._media(spark)

        def shape(df):
            plan = df._jdf.queryExecution().executedPlan().toString()
            # keep operator names only; strip expr ids / object hashes
            return [re.split(r"[ (]", ln.strip("*+- "))[0]
                    for ln in plan.splitlines()
                    if ln.strip("*+- ") and not ln.startswith("   ")]

        assert shape(image_features(media)) == shape(
            image_features(media, self._factory())
        )


def _zip_finders():
    import sys
    import zipimport

    return [p for p, f in sys.path_importer_cache.items()
            if isinstance(f, zipimport.zipimporter)]


class TestArchiveFinders:
    """``ModelSeam.resolve()`` drops the worker's ``zipimporter`` finders
    so the next task's ``importlib.invalidate_caches()`` re-reads no
    archive (core/models.py module docstring)."""

    def test_drop_keeps_archive_importable(self, tmp_path, monkeypatch):
        import sys
        import zipfile
        import zipimport

        from medical_vector_database_ocr_ner_spark.core.models import (
            drop_archive_finders,
        )

        archive = tmp_path / "zarch.zip"
        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("zarch_pkg/__init__.py", "")
            z.writestr("zarch_pkg/first.py", "VALUE = 1\n")
            z.writestr("zarch_pkg/second.py", "VALUE = 2\n")
        monkeypatch.syspath_prepend(str(archive))
        try:
            import zarch_pkg.first

            assert zarch_pkg.first.VALUE == 1
            assert str(archive) in _zip_finders()
            listing = zipimport._zip_directory_cache[str(archive)]

            assert drop_archive_finders() >= 1
            assert _zip_finders() == []
            before = dict(sys.path_importer_cache)
            assert drop_archive_finders() == 0
            assert sys.path_importer_cache == before

            import zarch_pkg.second

            assert zarch_pkg.second.VALUE == 2
            # the rebuilt finder reuses the listing: no re-read
            assert zipimport._zip_directory_cache[str(archive)] is listing
        finally:
            for name in [m for m in sys.modules if m.startswith("zarch_pkg")]:
                del sys.modules[name]
            for path in [p for p in sys.path_importer_cache
                         if p.startswith(str(archive))]:
                del sys.path_importer_cache[path]

    def test_later_task_in_worker_starts_without_archive_finder(self, spark):
        """Each task of a seam-aware extraction pass reports, from a local
        (per-partition) html factory, its worker pid, a timestamp and the
        zip finders it started with. A worker's first task may still
        start with finders; ``map_rows`` drops them after the task's last
        batch, once the task's lazy imports are made, so the check covers
        every task that follows an earlier task of this test in the same
        worker."""
        from medical_vector_database_ocr_ner_spark.core.models import ModelSeam
        from medical_vector_database_ocr_ner_spark.operators.extraction import (
            extract_documents,
        )

        def html_factory():
            import os
            import sys
            import time
            import zipimport

            zips = sum(isinstance(f, zipimport.zipimporter)
                       for f in sys.path_importer_cache.values())
            stamp = f"{os.getpid()} {time.time_ns()} {zips}"
            return lambda payload: stamp

        n = 24
        pages = spark.range(n, numPartitions=n).select(
            F.format_string("https://h%d.example/p", "id").alias("url"),
            F.lit(None).cast("timestamp").alias("warc_ts"),
            F.lit("<html><body><p>x</p></body></html>").cast("binary")
            .alias("html"),
            F.lit("en").alias("lang"),
        )
        seam = ModelSeam(html_factory=html_factory)
        tasks = []
        for _ in range(2):
            docs = extract_documents(pages, num_partitions=n, models=seam)
            tasks += [tuple(map(int, r["extracted_text"].split()))
                      for r in docs.select("extracted_text").collect()]
        assert len(tasks) == 2 * n

        later = []
        for pid in {t[0] for t in tasks}:
            # the rows of one task share its stamp
            runs = sorted({t[1:] for t in tasks if t[0] == pid})
            later += [zips for _, zips in runs[1:]]
        # two passes over 24 url-hash partitions on local[4]: unless every
        # non-empty task gets a worker of its own, one worker runs two
        assert later, "no worker ran two tasks of this test"
        assert later == [0] * len(later)
