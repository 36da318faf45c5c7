"""MMR rerank tests (``reranker.py`` semantics, golden hand-computed
cases — SURVEY.md §5 layer 2 style)."""

from __future__ import annotations

import random

from multimodal_vector_db_spark.operators.rerank import (
    _cosine,
    mmr_rerank,
    rerank,
)


def _cands():
    # two tight clusters on orthogonal axes + one outlier
    return [
        {"id": 0, "sim": 0.95, "embedding": [1.0, 0.0, 0.0]},
        {"id": 1, "sim": 0.94, "embedding": [0.999, 0.01, 0.0]},
        {"id": 2, "sim": 0.60, "embedding": [0.0, 1.0, 0.0]},
        {"id": 3, "sim": 0.50, "embedding": [0.0, 0.0, 1.0]},
    ]


def test_identity_strategy_preserves_order():
    out = rerank(_cands(), strategy="distance", top_k=3)
    assert [r["id"] for r in out] == [0, 1, 2]


def test_unknown_strategy_is_identity():
    """reranker.py:47-50: unknown strategy falls back to distance."""
    out = rerank(_cands(), strategy="bogus", top_k=2)
    assert [r["id"] for r in out] == [0, 1]


def test_mmr_promotes_diversity():
    """λ=0.5: after picking id 0, the near-duplicate id 1 scores
    0.5*0.94 - 0.5*~1.0 < id 2's 0.5*0.60 - 0.5*0.0."""
    out = mmr_rerank(_cands(), top_k=3, lambda_param=0.5)
    assert [r["id"] for r in out] == [0, 2, 3]


def test_mmr_high_lambda_tracks_relevance():
    """λ→1 degenerates to pure relevance order."""
    out = mmr_rerank(_cands(), top_k=3, lambda_param=0.999)
    assert [r["id"] for r in out] == [0, 1, 2]


def test_missing_embedding_returns_input_truncated():
    """reranker.py:70-77: no embedding → unchanged (truncated) input."""
    cands = [{"id": 0, "sim": 0.9}, {"id": 1, "sim": 0.8}]
    out = mmr_rerank(cands, top_k=1)
    assert [r["id"] for r in out] == [0]


def test_empty_input():
    assert mmr_rerank([], top_k=5) == []
    assert rerank([], strategy="diversity", top_k=5) == []


def _greedy_on_cosine(cands, top_k, lam):
    """Plain greedy MMR over the ``_cosine`` spec: every step recomputes
    each remaining candidate's max similarity to the whole selected set
    and takes the first max."""
    left = list(range(len(cands)))
    sel = [max(left, key=lambda i: (cands[i]["sim"], -i))]
    left.remove(sel[0])
    while left and len(sel) < top_k:
        vals = [
            lam * cands[i]["sim"]
            - (1 - lam) * max(
                _cosine(cands[i]["embedding"], cands[j]["embedding"])
                for j in sel
            )
            for i in left
        ]
        sel.append(left.pop(vals.index(max(vals))))
    return [cands[i]["id"] for i in sel]


def test_mmr_matches_plain_greedy_on_cosine_spec():
    """On seeded random candidate sets the vectorized MMR picks the
    same ids, in the same order, as the plain greedy on ``_cosine``."""
    for seed in range(30):
        rng = random.Random(seed)
        n = rng.randint(1, 50)
        d = rng.choice([2, 8, 64])
        cands = [
            {"id": 100 + i, "sim": rng.uniform(-1, 1),
             "embedding": [rng.gauss(0, 1) for _ in range(d)]}
            for i in range(n)
        ]
        for lam in (0.5, 0.7):
            top_k = rng.randint(1, n + 2)
            got = [c["id"] for c in mmr_rerank(cands, top_k, lam)]
            assert got == _greedy_on_cosine(cands, top_k, lam), (seed, lam)
