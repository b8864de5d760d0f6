"""Deterministic hash-based text embeddings (hermetic stand-in for the
reference's OpenAI ``embed_documents`` call, /root/reference/modules/
tools.py:85-121: batched embedding, float32 cast, fixed dimension).

Feature hashing of token uni+bigrams with a stable FNV-1a hash (never
Python's ``hash()`` — PYTHONHASHSEED-independent), signed hashing trick,
L2-normalized float32 output. Same text ⇒ same vector on every worker,
every partitioning, every run.
"""

from __future__ import annotations

import numpy as np

DIM = 64  # matches the driver `embeddings` fixture dimension

_FNV_OFFSET = 0xCBF29CE484222325
_FNV_PRIME = 0x100000001B3
_MASK = 0xFFFFFFFFFFFFFFFF


def fnv1a64(data: bytes) -> int:
    h = _FNV_OFFSET
    for b in data:
        h = ((h ^ b) * _FNV_PRIME) & _MASK
    return h


def _tokens(text: str) -> list[str]:
    return text.lower().split()


def embed_text(text: str, dim: int = DIM) -> np.ndarray:
    """Unit-norm float32 vector; zero vector for empty text."""
    vec = np.zeros(dim, dtype=np.float64)
    toks = _tokens(text)
    grams = toks + [a + " " + b for a, b in zip(toks, toks[1:])]
    for g in grams:
        h = fnv1a64(g.encode("utf-8"))
        idx = h % dim
        sign = 1.0 if (h >> 63) & 1 else -1.0
        vec[idx] += sign
    norm = float(np.linalg.norm(vec))
    if norm > 0:
        vec /= norm
    return vec.astype(np.float32)


def embed_batch(texts: list[str], dim: int = DIM) -> np.ndarray:
    """Vectorized-ish batch embed: (n, dim) float32."""
    out = np.zeros((len(texts), dim), dtype=np.float32)
    for i, t in enumerate(texts):
        out[i] = embed_text(t, dim)
    return out
