"""Deterministic hash-based text embeddings + embedding-text assembly.

The reference embeds with SentenceTransformer('all-MiniLM-L6-v2') → 384-dim
(app/services/vector_service.py:46-52,311). Model downloads are unavailable
and nondeterministic across versions, so this engine uses a deterministic
feature-hashing embedding of the same shape: per unique token, a fixed
pseudo-random Gaussian vector seeded from a stable hash; document vector =
count-weighted token-vector sum, L2-normalized. A real model is pluggable at
the operator layer (same UDF signature).
"""

from __future__ import annotations

import hashlib

import numpy as np

EMBEDDING_DIM = 384  # matches all-MiniLM-L6-v2 actual dim (vector_service.py:50)

_token_cache: dict[str, np.ndarray] = {}
_TOKEN_CACHE_MAX = 200_000


def _token_vector(token: str) -> np.ndarray:
    vec = _token_cache.get(token)
    if vec is None:
        seed = int.from_bytes(
            hashlib.blake2b(token.encode("utf-8"), digest_size=4).digest(), "big"
        )
        vec = np.random.RandomState(seed).standard_normal(EMBEDDING_DIM)
        if len(_token_cache) < _TOKEN_CACHE_MAX:
            _token_cache[token] = vec
    return vec


def embed_text(text: str) -> np.ndarray:
    """Deterministic embedding: sum of hashed token vectors, L2-normalized.
    Empty/whitespace text → zero vector (never NaN)."""
    tokens = text.lower().split()
    if not tokens:
        return np.zeros(EMBEDDING_DIM, dtype=np.float32)
    acc = np.zeros(EMBEDDING_DIM, dtype=np.float64)
    for tok in tokens:
        acc += _token_vector(tok)
    norm = float(np.linalg.norm(acc))
    if norm > 0:
        acc /= norm
    return acc.astype(np.float32)


def cosine_similarity(a: np.ndarray, b: np.ndarray) -> float:
    na, nb = float(np.linalg.norm(a)), float(np.linalg.norm(b))
    if na == 0.0 or nb == 0.0:
        return 0.0
    return float(np.dot(a, b) / (na * nb))


def create_document_text(
    extracted_text: str | None,
    entities: list[dict] | None,
    metadata: dict[str, str] | None,
) -> str:
    """Assemble the embedding input string EXACTLY as the reference does
    (app/services/vector_service.py:321-349): text ⊕ "ent (TYPE)" list
    space-joined ⊕ "k: v" per metadata pair, all space-joined. Feeds the
    content hash, so byte-exactness matters."""
    parts: list[str] = []
    if extracted_text:
        parts.append(extracted_text)
    if entities:
        parts.append(
            " ".join(f"{e['text']} ({e['entity_type']})" for e in entities)
        )
    if metadata:
        for key, value in metadata.items():
            parts.append(f"{key}: {value}")
    return " ".join(parts)
