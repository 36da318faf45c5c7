"""Seeded inputs for the benchmark: corpora, query streams, op schedules.

Everything here is a pure function of ``--seed`` (numpy ``default_rng``),
so two runs with the same seed see the same corpus, the same queries and
the same operation order. Nothing here imports the engine.
"""

from __future__ import annotations

import hashlib

import numpy as np

DIM = 512

#: the reference corpus make-up (44,444 rows; README.md:16-22 of the
#: reference): image / video / audio / text
REF_SPLIT = (("image", 31_783), ("video", 7_010), ("audio", 2_000), ("text", 3_651))
REF_ROWS = sum(n for _, n in REF_SPLIT)

#: embedding space of each modality (the engine's SPACE_OF, restated)
SPACE = {"image": "clip", "video": "clip", "text": "clip", "audio": "clap"}

_WORDS = (
    "dog cat bird horse river ocean wave beach forest mountain snow city "
    "street night light music guitar piano drum song voice dance people "
    "child game ball field space star planet moon rocket sky cloud rain "
    "storm fire smoke car train plane boat bridge tower house garden "
    "flower tree leaf grass stone sand desert road market food fruit "
    "coffee table chair book paper screen phone robot machine engine"
).split()


def scaled_split(rows: int):
    """The reference's modality shares at ``rows`` rows (at 44,444 rows
    this is ``REF_SPLIT`` itself)."""
    return tuple((m, round(n * rows / REF_ROWS)) for m, n in REF_SPLIT)


def phrase(rng: np.random.Generator) -> str:
    n = int(rng.integers(4, 10))
    return " ".join(_WORDS[i] for i in rng.integers(0, len(_WORDS), n))


def embed_text(text: str, space: str, dim: int = DIM) -> np.ndarray:
    """The hermetic text embedder's specification, restated: md5 of
    ``"space:text"`` seeds a Gaussian draw that is L2-normalized in
    float32. The checkers use this to know what vector a text query or
    an ingested row must have, without calling the engine."""
    seed = int.from_bytes(hashlib.md5(f"{space}:{text}".encode()).digest()[:4], "big")
    v = np.random.RandomState(seed).normal(size=dim).astype(np.float32)
    v /= np.linalg.norm(v)
    return v


def make_corpus(seed: int, split, n_clusters: int = 128) -> dict:
    """A clustered, L2-normalized, fp16-round-tripped corpus with the
    given ``(modality, rows)`` split. Rows are a planted cluster
    centroid plus Gaussian noise, so top-k neighbourhoods are real
    clusters rather than a uniform sphere. Returns columns as numpy
    arrays (``emb`` is float32, as stored)."""
    rng = np.random.default_rng(seed)
    mods = np.concatenate([np.full(n, m, dtype=object) for m, n in split])
    rng.shuffle(mods)
    n = len(mods)
    cent = rng.standard_normal((n_clusters, DIM)).astype(np.float32)
    cent /= np.linalg.norm(cent, axis=1, keepdims=True)
    label = rng.integers(0, n_clusters, n)
    emb = np.empty((n, DIM), dtype=np.float32)
    for lo in range(0, n, 8192):
        hi = min(n, lo + 8192)
        block = cent[label[lo:hi]] + 0.06 * rng.standard_normal(
            (hi - lo, DIM), dtype=np.float32
        )
        block /= np.linalg.norm(block, axis=1, keepdims=True)
        emb[lo:hi] = block.astype(np.float16).astype(np.float32)
    return {
        "id": np.arange(n, dtype=np.int64),
        "modality": mods,
        "space": np.array([SPACE[m] for m in mods], dtype=object),
        "emb": emb,
        "content": [phrase(rng) for _ in range(n)],
    }


def write_parquet(corpus: dict, path: str) -> None:
    """Write a corpus in the engine's items schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = len(corpus["id"])
    emb = pa.FixedSizeListArray.from_arrays(
        pa.array(corpus["emb"].ravel()), DIM
    ).cast(pa.list_(pa.float32()))
    table = pa.table(
        {
            "id": pa.array(corpus["id"]),
            "modality": pa.array(corpus["modality"].tolist(), pa.string()),
            "space": pa.array(corpus["space"].tolist(), pa.string()),
            "embedding": emb,
            "dim": pa.array(np.full(n, DIM, dtype=np.int32)),
            "deleted": pa.array(np.zeros(n, dtype=bool)),
            "content": pa.array(corpus["content"], pa.string()),
            "display_name": pa.array([f"item_{i}" for i in range(n)], pa.string()),
        }
    )
    pq.write_table(table, path, row_group_size=8192)


def near_query(rng: np.random.Generator, emb: np.ndarray, rows=None) -> list[float]:
    """A vector query near a random corpus row (one of ``rows`` when
    given), so it lands in a real cluster; L2-normalized, as the float64
    list a caller would pass."""
    pick = rng.integers(0, len(emb) if rows is None else len(rows))
    q = emb[int(pick if rows is None else rows[pick])].astype(np.float64)
    q = q + 0.03 * rng.standard_normal(DIM)
    return (q / np.linalg.norm(q)).tolist()


if __name__ == "__main__":
    # python3 corpus.py SEED ROWS OUT.parquet: write the corpus of a run
    import sys

    seed, rows, out = int(sys.argv[1]), int(sys.argv[2]), sys.argv[3]
    write_parquet(make_corpus(seed, scaled_split(rows)), out)
