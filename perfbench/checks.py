"""Independent checkers for the engine's results.

Each checker recomputes what the engine promises from the benchmark's
own copy of the live corpus, with plain numpy, and returns a list of
error strings (empty = accepted). None of them imports the engine.

Floating point: the engine scores with BLAS or a Spark double fold, the
checkers with a numpy matvec, so the same dot product can differ in the
last bits. Scores are compared with ``TOL``; ranks are checked by
"every row scoring clearly above the k-th returned score is returned",
which is exact whenever the top-k is not decided by a near-tie.

``python3 perfbench/checks.py`` runs :func:`selftest`, which feeds
every checker a correct result and corrupted ones (a swapped rank, a
dropped id, a perturbed score, ...) and fails unless each corruption is
rejected.
"""

from __future__ import annotations

import numpy as np

TOL = 1e-6


class LiveCorpus:
    """The benchmark's own copy of the corpus the engine serves:
    appended on ingest, tombstoned on remove."""

    def __init__(self, ids, emb, modality, space, content, capacity: int = 0):
        n = len(ids)
        cap = n + capacity
        self.n = n
        self.ids = np.empty(cap, dtype=np.int64)
        self.ids[:n] = ids
        self.emb = np.empty((cap, emb.shape[1]), dtype=np.float64)
        self.emb[:n] = emb
        self.modality = np.empty(cap, dtype=object)
        self.modality[:n] = modality
        self.space = np.empty(cap, dtype=object)
        self.space[:n] = space
        self.live = np.zeros(cap, dtype=bool)
        self.live[:n] = True
        self.content = list(content)
        self.removed: set[int] = set()
        self.next_id = int(ids.max()) + 1 if n else 0

    def ingest(self, rows: list[tuple[str, str, np.ndarray]]) -> list[int]:
        """rows = [(content, modality, float32 vector)]; returns the ids
        the engine must assign (contiguous, after every id so far)."""
        new_ids = []
        for content, modality, vec in rows:
            i = self.n
            self.ids[i] = self.next_id
            self.emb[i] = vec
            self.modality[i] = modality
            self.space[i] = "clap" if modality == "audio" else "clip"
            self.live[i] = True
            self.content.append(content)
            new_ids.append(self.next_id)
            self.next_id += 1
            self.n += 1
        return new_ids

    def remove(self, ids: list[int]) -> None:
        drop = np.isin(self.ids[: self.n], np.asarray(ids, dtype=np.int64))
        self.live[: self.n][drop] = False
        self.removed.update(int(i) for i in ids)

    def pool(self, space: str = "clip", modality: str | None = None):
        """Row indices a search in ``space`` (optionally filtered to
        ``modality``) scores."""
        sel = self.live[: self.n] & (self.space[: self.n] == space)
        if modality is not None:
            sel &= self.modality[: self.n] == modality
        return np.nonzero(sel)[0]

    def scores(self, q, rows) -> np.ndarray:
        """Exact dot products of ``q`` (one vector, or a matrix of
        column vectors) with the pool ``rows``. Scores every row and
        then selects, so no copy of the corpus matrix is made."""
        return (self.emb[: self.n] @ np.asarray(q, dtype=np.float64))[rows]


def brute_topk(ids: np.ndarray, scores: np.ndarray, k: int) -> list[int]:
    """Exact top-k ids by (score desc, id asc) — a full lexsort."""
    order = np.lexsort((ids, -scores))[:k]
    return [int(ids[i]) for i in order]


def _lookup(pool_ids, pool_scores, ids):
    """Exact scores of ``ids`` in the pool (``pool_ids`` ascending), or
    None when some id is not in the pool."""
    pos = np.searchsorted(pool_ids, ids)
    pos = np.minimum(pos, len(pool_ids) - 1)
    if len(pool_ids) == 0 or not (pool_ids[pos] == ids).all():
        return None
    return pool_scores[pos]


def _order_errors(ids, sims, ex, what: str) -> list[str]:
    errs = []
    for a in range(len(ids) - 1):
        b = a + 1
        if ex is not None and ex[a] < ex[b] - TOL:
            errs.append(f"{what} rank {a} (id {ids[a]}) scores below rank {b}")
        elif sims[a] < sims[b] or (sims[a] == sims[b] and ids[a] > ids[b]):
            errs.append(f"{what} ranks {a},{b} out of (sim desc, id asc) order")
    return errs


def _scored(result, pool_ids, pool_scores, what: str):
    """Shared part of the top-k and IVF checks: ids distinct and in
    the searched pool, each sim equal to the exact dot product."""
    ids = np.array([int(i) for i, _ in result], dtype=np.int64)
    sims = np.array([float(s) for _, s in result])
    errs = []
    if len(set(ids.tolist())) != len(ids):
        errs.append(f"{what} repeated ids {ids.tolist()}")
    ex = _lookup(pool_ids, pool_scores, ids)
    if ex is None:
        errs.append(f"{what} returned ids outside the searched corpus")
        return ids, sims, None, errs
    for i, s, e in zip(ids, sims, ex):
        if abs(s - e) > TOL:
            errs.append(f"{what} id {i} sim {s!r} != exact {e!r}")
    errs += _order_errors(ids, sims, ex, what)
    return ids, sims, ex, errs


def check_topk(result, pool_ids, pool_scores, k, removed=frozenset()) -> list[str]:
    """``result`` = [(id, sim)] as returned; ``pool_ids`` ascending with
    their exact ``pool_scores``. Accepts iff it is the exact top-k of
    the pool by (sim desc, id asc), up to ``TOL`` near-ties."""
    want = min(k, len(pool_ids))
    errs = [] if len(result) == want else [
        f"returned {len(result)} rows, expected {want}"
    ]
    gone = {int(i) for i, _ in result} & removed
    if gone:
        errs.append(f"removed ids returned {sorted(gone)}")
    ids, _, ex, more = _scored(result, pool_ids, pool_scores, "top-k")
    errs += more
    if ex is not None and len(ex) and len(result) == want:
        above = pool_ids[pool_scores > ex.min() + TOL]
        missing = np.setdiff1d(above, ids)
        if len(missing):
            errs.append(f"missing ids that score above the k-th: {missing[:5].tolist()}")
    return errs


def reference_mmr(cands, top_k: int, lam: float) -> list[int]:
    """MMR from its definition: seed with the best-scored candidate
    (first on ties), then repeatedly take the candidate maximizing
    ``lam * sim - (1 - lam) * max cosine(candidate, selected)``, first
    on ties. ``cands`` = [(id, sim, vector)] in candidate order;
    cosine = dot / (|a| |b| + 1e-8)."""
    if not cands:
        return []
    V = np.array([c[2] for c in cands], dtype=np.float64)
    rel = np.array([c[1] for c in cands], dtype=np.float64)
    nrm = np.sqrt((V * V).sum(axis=1))
    cos = (V @ V.T) / (nrm[:, None] * nrm[None, :] + 1e-8)
    sel = [int(np.argmax(rel))]
    left = [i for i in range(len(cands)) if i != sel[0]]
    while left and len(sel) < top_k:
        val = lam * rel[left] - (1 - lam) * cos[np.ix_(left, sel)].max(axis=1)
        sel.append(left.pop(int(np.argmax(val))))
    return [int(cands[i][0]) for i in sel]


def check_mmr(result_ids, cands, top_k: int, lam: float = 0.5) -> list[str]:
    """Accepts iff each pick is an MMR argmax over the remaining
    candidates, up to ``TOL`` (a near-tie may go either way; the check
    then follows the engine's pick)."""
    errs = []
    by_id = {int(c[0]): i for i, c in enumerate(cands)}
    if len(result_ids) != min(top_k, len(cands)):
        return [f"MMR returned {len(result_ids)} rows, expected {min(top_k, len(cands))}"]
    if any(int(i) not in by_id for i in result_ids):
        return [f"MMR returned an id outside its candidates: {result_ids}"]
    V = np.array([c[2] for c in cands], dtype=np.float64)
    rel = np.array([c[1] for c in cands], dtype=np.float64)
    nrm = np.sqrt((V * V).sum(axis=1))
    cos = (V @ V.T) / (nrm[:, None] * nrm[None, :] + 1e-8)
    sel: list[int] = []
    left = list(range(len(cands)))
    for step, rid in enumerate(result_ids):
        if sel:
            val = lam * rel[left] - (1 - lam) * cos[np.ix_(left, sel)].max(axis=1)
        else:
            val = rel[left]
        pick = by_id[int(rid)]
        if pick not in left:
            return [f"MMR repeats id {rid}"]
        if val[left.index(pick)] < val.max() - TOL:
            errs.append(
                f"MMR step {step} picked id {rid}; id {cands[left[int(np.argmax(val))]][0]} scores higher"
            )
            return errs
        sel.append(pick)
        left.remove(pick)
    return errs


def check_ivf(result, pool_ids, pool_scores, k) -> list[str]:
    """What the IVF route promises per query: each sim equals the exact
    dot product, rows are ordered (sim desc, id asc), ids are distinct.
    (Recall against the exact top-k is a run-level floor, see
    :func:`recall_at_k`.)"""
    errs = [] if 0 < len(result) <= k else [f"IVF returned {len(result)} rows for k={k}"]
    return errs + _scored(result, pool_ids, pool_scores, "IVF")[3]


def recall_at_k(got: list[list[int]], truth: list[list[int]]) -> float:
    hit = sum(len(set(g) & set(t)) for g, t in zip(got, truth))
    return hit / max(1, sum(len(t) for t in truth))


def selftest() -> list[str]:
    """Every checker must accept a correct result and reject each
    corruption. Returns the failures (empty = all good)."""
    rng = np.random.default_rng(7)
    n, d, k = 300, 16, 10
    emb = rng.standard_normal((n, d))
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    ids = np.arange(n, dtype=np.int64) * 3
    q = emb[5] + 0.1 * rng.standard_normal(d)
    s = emb @ q
    top = brute_topk(ids, s, k)
    exact = dict(zip(ids.tolist(), s.tolist()))
    good = [(i, exact[i]) for i in top]
    ivf = ids, s
    fails = []

    def expect(name, errs, ok):
        if bool(errs) == ok:
            fails.append(f"{name}: {'rejected' if ok else 'accepted'} ({errs[:1]})")

    expect("topk correct", check_topk(good, ids, s, k), True)
    swapped = list(good)
    swapped[0], swapped[3] = swapped[3], swapped[0]
    expect("topk swapped rank", check_topk(swapped, ids, s, k), False)
    expect("topk dropped id", check_topk(good[:-1], ids, s, k), False)
    replaced = good[:-1] + [(top[-1] + 1, good[-1][1])]
    expect("topk foreign id", check_topk(replaced, ids, s, k), False)
    wrong_kth = good[:-1] + [(brute_topk(ids, s, k + 5)[-1], None)]
    wrong_kth[-1] = (wrong_kth[-1][0], exact[wrong_kth[-1][0]])
    expect("topk skipped a winner", check_topk(wrong_kth, ids, s, k), False)
    perturbed = list(good)
    perturbed[2] = (perturbed[2][0], perturbed[2][1] + 1e-3)
    expect("topk perturbed score", check_topk(perturbed, ids, s, k), False)
    expect("topk repeated id", check_topk(good[:-1] + [good[0]], ids, s, k), False)
    expect(
        "topk removed id",
        check_topk(good, ids, s, k, removed=frozenset({good[4][0]})),
        False,
    )

    cand_ids = brute_topk(ids, s, 40)
    pos = {int(v): i for i, v in enumerate(ids)}
    cands = [(i, exact[i], emb[pos[i]]) for i in cand_ids]
    ref = reference_mmr(cands, k, 0.5)
    expect("mmr correct", check_mmr(ref, cands, k), True)
    expect("mmr plain top-k", check_mmr(cand_ids[:k], cands, k), False)
    sw = list(ref)
    sw[1], sw[2] = sw[2], sw[1]
    expect("mmr swapped rank", check_mmr(sw, cands, k), False)
    expect("mmr dropped id", check_mmr(ref[:-1], cands, k), False)

    expect("ivf correct", check_ivf(good, *ivf, k), True)
    expect("ivf swapped rank", check_ivf(swapped, *ivf, k), False)
    expect("ivf perturbed score", check_ivf(perturbed, *ivf, k), False)
    expect("ivf repeated id", check_ivf(good[:-1] + [good[0]], *ivf, k), False)
    if recall_at_k([top[:-1] + [top[-1] + 1]], [top]) >= 1.0:
        fails.append("recall: a dropped id did not lower recall")

    live = LiveCorpus(ids, emb, np.array(["text"] * n, dtype=object),
                      np.array(["clip"] * n, dtype=object), [""] * n, capacity=4)
    new = live.ingest([("x", "text", emb[0].astype(np.float32))])
    if new != [int(ids.max()) + 1]:
        fails.append(f"live corpus: ingest minted {new}")
    live.remove(new)
    if int(new[0]) in live.ids[live.pool()].tolist():
        fails.append("live corpus: a removed id stays searchable")
    return fails


if __name__ == "__main__":
    import sys

    failures = selftest()
    for f in failures:
        print("FAIL", f)
    print("selftest:", "ok" if not failures else f"{len(failures)} failures")
    sys.exit(1 if failures else 0)
