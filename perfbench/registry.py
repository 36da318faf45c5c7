"""Registry pass of the traced run: Spark batch vector queries from
``__spark_entry__.queries()`` over seeded tables, timed layer by layer
and checked against their DuckDB oracles.

The tables (``embeddings``, ``documents``) are generated here from the
seed, with the shape of the read-only ``sf0.01`` test tables (500 × 64
unit vectors in 10 labelled clusters; 500 word-salad documents with
planted near and exact duplicates). They are written to a directory
named ``sf0.01`` so the queries pick the committed ``sf0.01`` index
fixtures, which their oracles read too.
"""

from __future__ import annotations

import hashlib
import math
import sys
import time
from decimal import ROUND_HALF_UP, Decimal
from pathlib import Path

import numpy as np

QUERIES = (
    "knn_single", "knn_batch", "knn_blocked_batch", "ivf_blocked_knn",
    "ann_ivf_knn", "cross_modal_routed", "mmr_rerank", "metrics_eval",
    "pq_encode_decode", "dedup_simhash", "dedup_minhash_lsh",
    "near_dup_embedding", "multimodal_features",
)
#: checked by recomputing each pair's Jaccard, not by its oracle
JACCARD_CHECKED = "dedup_minhash_lsh"
LAYERS = ("build_ms", "optimize_ms", "plan_ms", "execute_ms", "jobs", "tasks")

N_ROWS, DIM, N_LABELS = 500, 64, 10
_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window data column order join small customer query "
    "big filter group vector stream"
).split()
_LANGS = (("en", 0.44), ("zh", 0.14), ("es", 0.14), ("de", 0.14), ("fr", 0.14))


def make_tables(seed: int, sf_dir: Path) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed + 7919)
    sf_dir.mkdir(parents=True, exist_ok=True)
    cent = rng.standard_normal((N_LABELS, DIM))
    label = rng.integers(0, N_LABELS, N_ROWS)
    emb = cent[label] + 0.5 * rng.standard_normal((N_ROWS, DIM))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(N_ROWS, dtype=np.int64)),
        "embedding": pa.array([list(map(float, v)) for v in emb], pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    }), str(sf_dir / "embeddings.parquet"))

    texts: list[str] = []
    for i in range(N_ROWS):
        r = rng.random()
        if i >= 20 and r < 0.03:  # exact duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))])
        elif i >= 20 and r < 0.12:  # near duplicate: a few words changed
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), 1 + len(words) // 25):
                words[int(j)] = _WORDS[int(rng.integers(0, len(_WORDS)))]
            texts.append(" ".join(words))
        else:
            n = int(rng.integers(8, 90))
            texts.append(" ".join(_WORDS[int(k)] for k in rng.integers(0, len(_WORDS), n)))
    langs = rng.choice([lang for lang, _ in _LANGS], N_ROWS, p=[p for _, p in _LANGS])
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(N_ROWS, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs.tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(N_ROWS)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), str(sf_dir / "documents.parquet"))


# -- independent checks ---------------------------------------------------


def canon(value) -> str:
    """Canonical text of one cell, the same for Spark and DuckDB rows."""
    if value is None:
        return "NULL"
    if isinstance(value, float):
        return "NaN" if math.isnan(value) else repr(value)
    if isinstance(value, bool):
        return str(value).lower()
    if isinstance(value, (list, tuple)):
        return "[" + ",".join(canon(v) for v in value) + "]"
    if hasattr(value, "isoformat"):
        return value.isoformat()
    return str(value)


def table_hash(cols: list[str], rows) -> str:
    """Order-insensitive hash of a result: cells in column-name order,
    rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    h = hashlib.sha256()
    for line in sorted("|".join(canon(r[i]) for i in order) for r in rows):
        h.update(line.encode() + b"\n")
    return h.hexdigest()


def check_oracle(name, cols, rows, ocols, orows) -> list[str]:
    if sorted(cols) != sorted(ocols):
        return [f"{name}: columns {cols} != oracle {ocols}"]
    if len(rows) != len(orows):
        return [f"{name}: {len(rows)} rows != oracle {len(orows)}"]
    oi = [ocols.index(c) for c in cols]
    orows = [tuple(r[i] for i in oi) for r in orows]
    if table_hash(cols, rows) != table_hash(cols, orows):
        return [f"{name}: row hash differs from the oracle's"]
    return []


def shingles(text: str) -> frozenset[str]:
    """Distinct word bigrams of the lowercased, whitespace-split text."""
    t = text.lower().split()
    return frozenset(f"{a} {b}" for a, b in zip(t, t[1:]))


def round_half_up(x: float, places: int) -> float:
    """SQL ``round``: the double's exact value, halves away from zero."""
    q = Decimal(1).scaleb(-places)
    return float(Decimal(x).quantize(q, rounding=ROUND_HALF_UP))


def check_minhash(pairs, texts: dict[int, str]) -> list[str]:
    """``pairs`` = [(id_a, id_b, jaccard)]: each pair ordered
    (id_a < id_b), of known docs, listed once, with jaccard equal to the
    exact shingle Jaccard (rounded to 6 places); and every two docs
    with the same non-empty shingle set (which share every MinHash band)
    are among the pairs."""
    errs, seen = [], set()
    sh = {i: shingles(t) for i, t in texts.items()}
    for a, b, j in pairs:
        if not a < b:
            errs.append(f"minhash pair ({a}, {b}) is not ordered")
        if (a, b) in seen:
            errs.append(f"minhash pair ({a}, {b}) repeated")
        seen.add((a, b))
        if a not in sh or b not in sh:
            errs.append(f"minhash pair ({a}, {b}) names an unknown doc")
            continue
        exact = round_half_up(len(sh[a] & sh[b]) / len(sh[a] | sh[b]), 6)
        if j != exact:
            errs.append(f"minhash pair ({a}, {b}) jaccard {j!r} != exact {exact!r}")
    groups: dict[frozenset, list[int]] = {}
    for i in sorted(sh):
        if sh[i]:
            groups.setdefault(sh[i], []).append(i)
    for ids in groups.values():
        for x in range(len(ids)):
            for y in ids[x + 1:]:
                if (ids[x], y) not in seen:
                    errs.append(f"identical docs {ids[x]}, {y} not paired")
    return errs[:10]


def selftest() -> list[str]:
    fails = []
    rows = [(1, 0.5, "a"), (2, 0.25, "b"), (3, None, "c")]
    cols = ["id", "s", "t"]
    if check_oracle("q", cols, rows, cols, list(reversed(rows))):
        fails.append("oracle: a reordered result was rejected")
    if not check_oracle("q", cols, rows[:-1], cols, rows):
        fails.append("oracle: a dropped row was accepted")
    if not check_oracle("q", cols, [(1, 0.5000001, "a")] + rows[1:], cols, rows):
        fails.append("oracle: a perturbed value was accepted")
    texts = {0: "a b c d", 1: "a b c e", 2: "a b c d", 3: "x y z"}
    if round_half_up(0.0703125, 6) != 0.070313:
        fails.append("round_half_up: a half was not rounded up")
    j01 = round_half_up(2 / 4, 6)
    good = [(0, 1, j01), (0, 2, 1.0), (1, 2, j01)]
    if check_minhash(good, texts):
        fails.append(f"minhash: a correct result was rejected {check_minhash(good, texts)}")
    for bad, why in (
        ([(1, 0, j01), (0, 2, 1.0)], "an unordered pair"),
        (good + [(0, 1, j01)], "a repeated pair"),
        ([(0, 1, 0.6), (0, 2, 1.0)], "a perturbed jaccard"),
        ([(0, 1, j01)], "a dropped identical pair"),
    ):
        if not check_minhash(bad, texts):
            fails.append(f"minhash: {why} was accepted")
    return fails


# -- the pass -------------------------------------------------------------


def check(spark, sf_dir: Path) -> list[str]:
    """Collect every query and compare it with its oracle in DuckDB
    (``dedup_minhash_lsh``: with :func:`check_minhash`)."""
    import duckdb
    import pyarrow.parquet as pq

    import __spark_entry__ as entry

    reg, oracles = entry.queries(), entry.oracle_sql()
    con = duckdb.connect()
    for t in ("embeddings", "documents"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir / t}.parquet')")
    docs = pq.read_table(str(sf_dir / "documents.parquet")).to_pydict()
    texts = dict(zip(docs["doc_id"], docs["text"]))
    errs: list[str] = []
    for name in QUERIES:
        df = reg[name](spark, str(sf_dir))
        rows = [tuple(r) for r in df.collect()]
        if name == JACCARD_CHECKED:
            errs += check_minhash(rows, texts)
            continue
        cur = con.execute(oracles[name])
        ocols = [d[0] for d in cur.description]
        errs += check_oracle(name, df.columns, rows, ocols, cur.fetchall())
    con.close()
    return errs


def timed_pass(spark, sf_dir: Path, work_of) -> tuple[dict[str, float], int]:
    """One pass over the queries, each forced with a noop sink: Python
    build, analyze+optimize, physical planning and execution timed
    apart, and the Spark jobs and tasks of the execution counted
    through a job group. Returns ({"<query>.<layer>": value}, failed)."""
    import __spark_entry__ as entry

    reg = entry.queries()
    sc = spark.sparkContext
    out: dict[str, float] = {}
    failed = 0
    for name in QUERIES:
        try:
            t0 = time.perf_counter()
            df = reg[name](spark, str(sf_dir))
            t1 = time.perf_counter()
            qe = df._jdf.queryExecution()
            qe.optimizedPlan()
            t2 = time.perf_counter()
            qe.executedPlan()
            t3 = time.perf_counter()
            sc.setJobGroup(f"reg-{name}", name)
            df.write.format("noop").mode("overwrite").save()
            t4 = time.perf_counter()
        except Exception as e:  # counted, not fatal
            print(f"FAILED registry {name}: {type(e).__name__}: {e}", file=sys.stderr)
            failed += 1
            continue
        jobs, _, tasks = work_of(sc, f"reg-{name}")
        out.update({
            f"{name}.build_ms": (t1 - t0) * 1e3,
            f"{name}.optimize_ms": (t2 - t1) * 1e3,
            f"{name}.plan_ms": (t3 - t2) * 1e3,
            f"{name}.execute_ms": (t4 - t3) * 1e3,
            f"{name}.jobs": jobs,
            f"{name}.tasks": tasks,
        })
    return out, failed


if __name__ == "__main__":
    failures = selftest()
    for f in failures:
        print("FAIL", f)
    print("registry selftest:", "ok" if not failures else f"{len(failures)} failures")
    sys.exit(1 if failures else 0)
