"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

The Spark-side plumbing (schema, batch shape, the ``map_rows`` stage of
operators/extraction.py, partitioning) is real and tested; the actual codec work is stubbed —
image/audio libraries are not in this container. Each decode fn first
tries the real library (PIL/soundfile) and otherwise:

- for the synthetic fixture formats (deterministic headers produced by
  ``fake_image_bytes``/``fake_audio_bytes``) parses the header fields, so
  tests exercise real values end-to-end;
- for anything else raises NotImplementedError, which the operator
  converts into an ``error`` column (quarantine row), never a job failure.
"""

from __future__ import annotations

import struct
from functools import partial

from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, BinaryType, DoubleType, IntegerType, LongType, StringType,
    StructField, StructType, TimestampType,
)

from ..core.models import resolve_factory
from .extraction import map_rows

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", StringType()),
        StructField("kind", StringType()),  # image | audio | video
        StructField("payload", BinaryType()),
        StructField("meta", StructType([
            StructField("source_url", StringType()),
            StructField("fetched_at", TimestampType()),
        ])),
    ]
)

_IMG_MAGIC = b"SIMG"
_AUD_MAGIC = b"SAUD"


def fake_image_bytes(width: int, height: int, channels: int = 3) -> bytes:
    """Deterministic synthetic image container: magic + w/h/c header +
    (w*h*c) pseudo-pixel bytes."""
    header = _IMG_MAGIC + struct.pack("<III", width, height, channels)
    n = width * height * channels
    body = bytes((i * 31 + 7) % 256 for i in range(min(n, 4096)))
    return header + body


def fake_audio_bytes(sample_rate: int, n_samples: int) -> bytes:
    header = _AUD_MAGIC + struct.pack("<II", sample_rate, n_samples)
    return header + bytes((i * 17 + 3) % 256 for i in range(min(n_samples, 4096)))


def _decode_image(payload: bytes) -> dict:
    try:  # real path, if the codec library exists in the runtime
        from PIL import Image  # noqa: F401
        import io

        img = Image.open(io.BytesIO(payload))
        return {"width": img.width, "height": img.height,
                "channels": len(img.getbands())}
    except ImportError:
        pass
    except Exception:
        raise NotImplementedError("undecodable image payload")
    if payload[:4] == _IMG_MAGIC:
        w, h, c = struct.unpack("<III", payload[4:16])
        return {"width": w, "height": h, "channels": c}
    raise NotImplementedError("image decode requires PIL (not in container)")


def _decode_audio(payload: bytes) -> dict:
    if payload[:4] == _AUD_MAGIC:
        sr, n = struct.unpack("<II", payload[4:12])
        return {"sample_rate": sr, "n_samples": n,
                "duration_s": n / sr if sr else 0.0}
    raise NotImplementedError("audio decode requires soundfile (not in container)")


IMAGE_FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("channels", IntegerType()),
        StructField("n_bytes", LongType()),
        StructField("error", StringType()),
    ]
)


def image_features(media, decoder_factory=None):
    """Image decode/feature stage, one ``map_rows`` pass of ``_image_row``:
    payload bytes cross Arrow once, per-row failures quarantine into the
    error column.

    ``decoder_factory``: optional zero-arg factory returning a
    ``bytes -> {"width","height","channels"}`` callable — the real-codec
    seam. ``map_rows`` resolves it once per partition through
    ``core.models.resolve_factory``, which calls a module-level factory
    once per worker and any other factory once per partition; default
    keeps the built-in header/PIL decode. Real-codec recipe (runs once per Python worker;
    the plan shape is identical to the stand-in's — pinned by
    tests/test_model_seam.py::test_real_pil_branch_via_worker_fake_pil)::

        def load_pil():                    # module-level => worker-cached
            import io
            from PIL import Image
            def decode(payload):
                img = Image.open(io.BytesIO(payload))
                return {"width": img.width, "height": img.height,
                        "channels": len(img.getbands())}
            return decode

        feats = image_features(media, decoder_factory=load_pil)

    Undecodable payloads keep the same contract either way: the decoder
    raises, the row lands in quarantine with null dims + an ``error``
    string, the job never fails."""
    return map_rows(
        media.where(F.col("kind") == "image").select("media_id", "payload"),
        IMAGE_FEATURES_SCHEMA, ("payload",), _image_row,
        partial(resolve_factory, decoder_factory, _decode_image),
    )


def _image_row(decode, payload: bytes | None):
    """(width, height, channels, n_bytes, error) of one image payload."""
    payload = payload or b""
    try:
        f = decode(payload)
        return f["width"], f["height"], f["channels"], len(payload), None
    except Exception as exc:
        return None, None, None, len(payload), f"{type(exc).__name__}: {exc}"[:500]


FRAME_SCHEMA = StructType([
    StructField("media_id", StringType()),
    StructField("frames", ArrayType(StructType([
        StructField("frame_idx", IntegerType()),
        StructField("offset_bytes", LongType()),
        StructField("frame", BinaryType()),
    ]))),
])


def frame_sample(media, every_n_bytes: int = 1024, max_frames: int = 8):
    """Video frame sampling stand-in: 1 payload → N frame chunks, one
    ``map_rows`` array column exploded downstream (the same plumbing a
    real keyframe sampler needs)."""
    return map_rows(
        media.where(F.col("kind") == "video").select("media_id", "payload"),
        FRAME_SCHEMA, ("payload",), _frames_row,
        lambda: (every_n_bytes, max_frames),
    ).select("media_id", F.explode("frames").alias("f")).select(
        "media_id", "f.frame_idx", "f.offset_bytes", "f.frame"
    )


def _frames_row(params, payload: bytes | None):
    """(frames,): the first 64 bytes at every ``every_n_bytes`` offset of
    one payload, at most ``max_frames`` of them."""
    every_n_bytes, max_frames = params
    p = payload or b""
    frames = []
    for i in range(max_frames):
        off = i * every_n_bytes
        if off >= len(p):
            break
        frames.append({"frame_idx": i, "offset_bytes": off,
                       "frame": p[off:off + 64]})
    return (frames,)


AUDIO_FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", StringType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_samples", LongType()),
        StructField("duration_s", DoubleType()),
        StructField("error", StringType()),
    ]
)


def audio_features(media, decoder_factory=None):
    """Same real-codec seam as image_features: ``decoder_factory() ->
    (bytes -> {"sample_rate","n_samples","duration_s"})``, e.g. a factory
    importing soundfile/librosa once per worker."""
    return map_rows(
        media.where(F.col("kind") == "audio").select("media_id", "payload"),
        AUDIO_FEATURES_SCHEMA, ("payload",), _audio_row,
        partial(resolve_factory, decoder_factory, _decode_audio),
    )


def _audio_row(decode, payload: bytes | None):
    """(sample_rate, n_samples, duration_s, error) of one audio payload."""
    try:
        f = decode(payload or b"")
        return f["sample_rate"], f["n_samples"], float(f["duration_s"]), None
    except Exception as exc:
        return None, None, None, f"{type(exc).__name__}: {exc}"[:500]
