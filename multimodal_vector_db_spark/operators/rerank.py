"""Result reranking (R1/R2): strategy dispatch + MMR diversity rerank.

Reference semantics (``reranker.py``):
- strategies: 'distance' (identity), 'diversity' (MMR λ=0.5),
  'combined' (MMR λ=0.7); unknown strategy → identity; always truncate
  to top_k afterwards (``reranker.py:17-50``).
- MMR (``reranker.py:52-117``): greedy — seed with the best-by-score
  candidate, then repeatedly pick
  ``argmax λ·rel(d) − (1−λ)·max_{s∈sel} sim(d, s)``;
  candidates lacking an embedding → input returned unchanged
  (``reranker.py:70-77``).

MMR is inherently a small-N sequential greedy loop, so it runs
driver-side over the collected top-N (N ≲ a few hundred) — the
candidate *generation* is the distributed part. The N×N candidate
cosine matrix is computed once with numpy; each greedy step is then one
vectorized argmax and one running-max update. Deterministic given its
input: ties broken by candidate order (first max, the reference's
``np.argmax`` semantics).
"""

from __future__ import annotations

import math

import numpy as np

Row = dict


def _cosine(a: list[float], b: list[float]) -> float:
    """reranker.py:135-138 — epsilon-guarded cosine.

    The REFERENCE SPECIFICATION of the similarity :func:`mmr_rerank`
    computes in bulk: on seeded random candidate sets the greedy picks
    the same ids as a plain greedy over this function
    (tests/test_rerank.py)."""
    dot = sum(x * y for x, y in zip(a, b))
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(x * x for x in b))
    return dot / (na * nb + 1e-8)


def mmr_rerank(
    candidates: list[Row],
    top_k: int,
    lambda_param: float = 0.5,
    score_key: str = "sim",
    embedding_key: str = "embedding",
) -> list[Row]:
    """Maximal Marginal Relevance over an ordered candidate list."""
    if not candidates:
        return []
    if any(embedding_key not in c or c[embedding_key] is None for c in candidates):
        return candidates[:top_k]  # reranker.py:70-77

    rel = np.array([c[score_key] for c in candidates], dtype=np.float64)
    emb = np.array([c[embedding_key] for c in candidates], dtype=np.float64)
    norms = np.sqrt(np.einsum("ij,ij->i", emb, emb))
    cos = (emb @ emb.T) / (np.outer(norms, norms) + 1e-8)
    # seed: best by relevance score (first max)
    pick = int(np.argmax(rel))
    picked = [pick]
    # running max-similarity to the selected set: it only grows by the
    # one item appended each round, so one row of `cos` per round
    max_sim = cos[pick].copy()
    taken = np.zeros(len(candidates), dtype=bool)
    taken[pick] = True
    while len(picked) < min(top_k, len(candidates)):
        val = lambda_param * rel - (1.0 - lambda_param) * max_sim
        val[taken] = -np.inf
        pick = int(np.argmax(val))  # first max wins
        picked.append(pick)
        taken[pick] = True
        np.maximum(max_sim, cos[pick], out=max_sim)
    return [candidates[i] for i in picked]


def rerank(
    candidates: list[Row],
    strategy: str = "distance",
    top_k: int | None = None,
    score_key: str = "sim",
    embedding_key: str = "embedding",
) -> list[Row]:
    """R1 dispatch (``reranker.py:17-50``)."""
    top_k = top_k if top_k is not None else len(candidates)
    if strategy == "diversity":
        out = mmr_rerank(candidates, top_k, 0.5, score_key, embedding_key)
    elif strategy == "combined":
        out = mmr_rerank(candidates, top_k, 0.7, score_key, embedding_key)
    else:  # 'distance' or unknown → identity order
        out = list(candidates)
    return out[:top_k]
