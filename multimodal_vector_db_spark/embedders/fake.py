"""Deterministic fake embedder — the hermetic test double for CLIP/CLAP
(SURVEY.md §5: "a deterministic fake embedder (hash-to-vector) replacing
CLIP/CLAP so E2E flows run hermetically").

``embed(text, space)`` = md5(space:text) seeds a Gaussian draw →
L2-normalize. Same (text, space) → same vector, forever, everywhere —
including inside fixture generators, so fake-embedded corpora are
oracle-reproducible.

The two spaces ('clip', 'clap') are *incompatible by construction*,
mirroring the reference's dual-encoder rule (``README.md:36``,
``audio_embedder.py:14-17``): the same text hashes to unrelated vectors
per space, so cross-space similarity is meaningless noise — exactly the
property the engine's space-checking must defend against.
"""

from __future__ import annotations

import hashlib
import threading

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

DEFAULT_DIM = 64

#: one generator per thread, re-seeded per call: ``seed()`` restores
#: exactly the state ``RandomState(seed)`` starts in (cached Gaussian
#: included), so the draws are bit-identical, while constructing a new
#: ``RandomState`` costs most of a call (≈170 of ≈200 µs at 512-d)
_local = threading.local()


def fake_embed_numpy(text: str, space: str = "clip", dim: int = DEFAULT_DIM) -> np.ndarray:
    """Driver-side single-item form (reference: ``BaseEmbedder.embed``)."""
    seed = int.from_bytes(
        hashlib.md5(f"{space}:{text}".encode()).digest()[:4], "big"
    )
    rng = getattr(_local, "rng", None)
    if rng is None:
        rng = _local.rng = np.random.RandomState()
    rng.seed(seed)
    v = rng.normal(size=dim).astype(np.float32)
    v /= np.linalg.norm(v)
    return v


def fake_embed_udf(space: str = "clip", dim: int = DEFAULT_DIM):
    """Arrow-batched pandas UDF form (reference: ``batch_embed``).

    Mirrors the executor-side model-singleton pattern (M7): state is the
    (space, dim) closure; no per-batch model reload.
    """

    @F.pandas_udf(T.ArrayType(T.FloatType()))
    def _embed(texts: pd.Series) -> pd.Series:
        return texts.map(
            lambda t: fake_embed_numpy(t, space, dim).tolist()
        )

    return _embed


def fake_embed(col: Column | str, space: str = "clip", dim: int = DEFAULT_DIM) -> Column:
    col = F.col(col) if isinstance(col, str) else col
    return fake_embed_udf(space, dim)(col)
