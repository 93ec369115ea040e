"""Heavy-fake model factories for exercising the ModelSeam end to end.

The real models (tesseract / spaCy / sentence-transformers — reference
ocr_service.py:42-73, ner_service.py:22-48, vector_service.py:46-52) are
absent in this environment, so these factories simulate the COST SHAPE of
a real model swap: a slow one-time initialization (weight load) followed
by fast per-call inference that delegates to the deterministic stand-ins,
keeping outputs byte-identical to the default pipeline.

They are module-level NAMED functions on purpose: cloudpickle ships them
by reference, so core.models' _WORKER_CACHE keys them by qualified name
and each Python worker process initializes them at most once — the
property the end-to-end seam test asserts.

Worker-side channel: a named factory takes no arguments and env vars set
after the JVM forked don't reach Python workers, so the init marker path
travels through a fixed pointer file (POINTER_PATH). Tests write the
actual marker path there; each factory init appends its worker pid to the
marker. Driver-only tooling — never imported by the pipeline itself.
"""

from __future__ import annotations

import os
import time

POINTER_PATH = "/tmp/mvdb_seam_marker_pointer.txt"
HEAVY_INIT_SECONDS = 0.75


def _record_init(tag: str) -> None:
    time.sleep(HEAVY_INIT_SECONDS)  # stand-in for a multi-second weight load
    try:
        with open(POINTER_PATH) as f:
            marker = f.read().strip()
    except OSError:
        return
    if marker:
        with open(marker, "a") as f:
            f.write(f"{tag}:{os.getpid()}\n")


def heavy_fake_ner_factory():
    """Slow-init NER factory; inference = the deterministic stand-in, so
    documents match the default-seam goldens exactly."""
    from . import extract_entities

    _record_init("ner")
    return extract_entities


def heavy_fake_embed_factory():
    """Slow-init embedding factory; inference = the deterministic
    stand-in embedder."""
    from . import embed_text

    _record_init("embed")
    return embed_text


def fake_pil_decoder_factory():
    """Hand back a decoder that installs a minimal fake PIL into the
    WORKER's sys.modules AROUND each call to multimodal's own
    _decode_image — so seam tests exercise the REAL `from PIL import
    Image` branch (Image.open / .width / .height / .getbands), not a
    bypass decoder, WITHOUT leaking the fake into the reused Python
    worker (spark.python.worker.reuse keeps workers alive across tests;
    a leaked fake PIL would hijack every later _decode_image call).
    Payload format: b'REAL' + <w,h,c> little-endian uint32 triple;
    anything else makes Image.open raise, which _decode_image converts
    to its quarantine NotImplementedError.

    Module-level => picklable by reference => worker-cached once per
    worker (models.resolve_factory), exactly like a real `import PIL`
    factory would be."""
    import struct
    import sys
    import types

    class _FakeImg:
        def __init__(self, w, h, c):
            self.width, self.height, self._c = w, h, c

        def getbands(self):
            return tuple("RGBA"[:self._c])

    def _open(fp):
        data = fp.read()
        if data[:4] != b"REAL":
            raise OSError("cannot identify image file")
        w, h, c = struct.unpack("<III", data[4:16])
        return _FakeImg(w, h, c)

    image_mod = types.ModuleType("PIL.Image")
    image_mod.open = _open
    pil = types.ModuleType("PIL")
    pil.Image = image_mod

    from ..operators.multimodal import _decode_image

    fake = {"PIL": pil, "PIL.Image": image_mod}

    def decode(payload):
        # always shadow: a runtime that ships a real PIL must still take
        # the fake, and gets its own modules back afterwards
        saved = {name: sys.modules.get(name) for name in fake}
        sys.modules.update(fake)
        try:
            return _decode_image(payload)
        finally:
            for name, mod in saved.items():
                if mod is None:
                    sys.modules.pop(name, None)
                else:
                    sys.modules[name] = mod

    return decode


def seeded_embed_factory():
    """An embedding model unrelated to the built-in stand-in: each text
    maps to a unit vector drawn from a generator seeded by its crc32, so
    equal texts get equal vectors and different texts nearly orthogonal
    ones. A table built with it ranks a query right only if the query is
    embedded by the same model."""
    import zlib

    import numpy as np

    from .embedding import EMBEDDING_DIM

    def embed(text):
        v = np.random.default_rng(zlib.crc32(text.encode())).standard_normal(
            EMBEDDING_DIM
        )
        return v / np.linalg.norm(v)

    return embed
