"""Benchmark for the multimodal vector engine.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Runs one workload from a seed in this fresh process, drives the engine
only through its public calls (``MultiModalSearchEngine``; the traced
``serve_spark`` run also ``__spark_entry__.queries()``), checks every
result with the independent checkers in ``checks.py`` and
``registry.py``, and prints one
JSON object as the last line of stdout:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` wraps the layers (``tracing.py``)
and reports the per-layer metrics. See README.md for the workloads.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from pathlib import Path  # noqa: E402

import numpy as np  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import checks  # noqa: E402
import corpus as C  # noqa: E402
import registry  # noqa: E402
from tracing import Tracer, install, spark_work  # noqa: E402

K = 10
BATCH = 64
INGEST_ROWS = 16
IVF_FLOOR = 0.9


def round_ops(writes: int) -> tuple[str, ...]:
    """One round: ``writes`` ingests, four reads, as many removes (of
    the batches just ingested, oldest first), two more reads. Every read
    kind once, plain search twice (a text query for a row just
    ingested, and a vector query) — the fewest ops that give every
    end-to-end metric a sample and make each read meet the round's
    writes (read-your-writes, then removed ids gone). The reads after
    the removes are the two largest: the JVM stays busy for a while
    after a remove returns, which slows a 5 ms read timed in its wake
    (see README.md)."""
    return (
        ("ingest",) * writes + ("text", "search", "ivf", "mmr")
        + ("remove",) * writes + ("filtered", "batch")
    )


#: serve: the reference corpus, resident in the driver cache (default
#: 256 MiB budget). serve_spark: a corpus just over a 12 MiB cache, so
#: every read runs Spark jobs and the IVF route is fitted at set-up.
#: ``rounds``: timed rounds per 10 s of ``--seconds``. A run does a
#: fixed number of rounds, not "until the clock runs out", so every
#: run does the same ops against the same corpus history.
#: ``writes``: ingest/remove pairs per round. One round of Spark reads
#: takes ~12 s on a 4-vCPU host, so serve_spark gets one round per
#: run, and 8 pairs in it give its write medians 8 samples; the
#: buffered ingests are flushed into the corpus plan together at the
#: next read, so the 8 pairs add one union to the plan, as one would.
WORKLOADS = {
    "serve": {
        "rows": C.REF_ROWS,
        "budget": 256 * 1024 * 1024,
        "ann": False,
        "rounds": 12,
        "writes": 1,
    },
    "serve_spark": {
        "rows": 4000,
        "budget": 12 * 1024 * 1024,
        "ann": True,
        "rounds": 1,
        "writes": 8,
    },
}
OPS = ("search", "filtered", "mmr", "ivf", "batch", "ingest", "remove")
ROUTES = ("exact-local", "exact-hof", "exact-blocked", "ivf")


def p50(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def vm_mb(pid, key: str) -> float:
    """A ``VmRSS``/``VmHWM`` line of /proc/<pid>/status, in MB."""
    try:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith(key + ":"):
                return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


class Client:
    """One closed-loop client: issues an op, checks its result against
    the live-corpus model, records the op wall."""

    def __init__(self, engine, live, rng, ivf_route, tracer=None, sc=None):
        self.engine = engine
        self.ivf_route = ivf_route
        self.live = live
        self.rng = rng
        self.tracer = tracer
        self.sc = sc
        self.batches: list[list[int]] = []  # ingested, not yet removed
        # vector queries start near rows of the seeded corpus, never near
        # an ingested row: those are random text vectors in an otherwise
        # empty region, whose true top-10 spreads over many IVF cells
        # (one such query had recall@10 0.55 at nprobe 8 of 32)
        self.seeded = live.emb[: live.n]
        self.errors: list[str] = []
        self.failed = 0
        self.attempted = 0
        self.walls: dict[str, list[float]] = {op: [] for op in OPS}
        self.routes: dict[str, int] = dict.fromkeys(ROUTES, 0)
        self.ivf_got: list[list[int]] = []
        self.ivf_truth: list[list[int]] = []
        self.ops: list[dict] = []  # traced: one record per op
        self.n_op = 0

    # -- one op --------------------------------------------------------
    def run(self, kind: str, record: bool) -> None:
        call, check = getattr(self, "_" + kind)()
        op = "search" if kind == "text" else kind
        self.attempted += record
        root = None
        if self.tracer is not None:
            self.tracer.op_id = self.n_op
            self.sc.setJobGroup(f"op{self.n_op}", op)
            root = self.tracer.begin(op)
        t0 = time.perf_counter()
        try:
            out = call()
        except Exception as e:  # an op that raises is counted, not fatal
            if root is not None:
                self.tracer.end(root)
            self.failed += record
            print(f"FAILED {op}: {type(e).__name__}: {e}", file=sys.stderr)
            self.n_op += 1
            return
        wall = time.perf_counter() - t0
        if root is not None:
            self.tracer.end(root)
        route = (self.engine.last_route or {}).get("route")
        if record:
            self.walls[op].append(wall)
            if op not in ("ingest", "remove") and route in self.routes:
                self.routes[route] += 1
            if self.tracer is not None:
                jobs, stages, tasks = spark_work(self.sc, f"op{self.n_op}")
                self.ops.append({"op": op, "op_id": self.n_op, "root": root,
                                 "jobs": jobs, "stages": stages, "tasks": tasks})
        for e in check(out, route):
            self.errors.append(f"{op}: {e}")
        self.n_op += 1

    # -- op builders: each returns (call, check) -----------------------
    def _pool(self, modality=None):
        rows = self.live.pool("clip", modality)
        return rows, self.live.ids[rows]

    def _topk_check(self, q, modality=None, k=K):
        def check(out, route):
            rows, ids = self._pool(modality)
            res = [(r["id"], r["sim"]) for r in out]
            errs = checks.check_topk(
                res, ids, self.live.scores(q, rows), k, self.live.removed
            )
            if modality and any(r["modality"] != modality for r in out):
                errs.append(f"filter {modality} returned other modalities")
            return errs

        return check

    def _text(self):
        # a text query for a row ingested this round (read-your-writes),
        # embedded by the engine's embed_fn
        batch = self.batches[-1]
        target = batch[self.n_op % len(batch)]
        text = self.live.content[int(np.searchsorted(self.live.ids[: self.live.n], target))]
        q = C.embed_text(text, "clip")
        base = self._topk_check(q)

        def check(out, route):
            errs = base(out, route)
            if target not in [r["id"] for r in out]:
                errs.append(f"ingested id {target} not found by its own text")
            return errs

        return (lambda: self.engine.search(text, k=K)), check

    def _search(self):
        q = C.near_query(self.rng, self.seeded)
        return (lambda: self.engine.search(q, k=K)), self._topk_check(q)

    def _filtered(self):
        rows, _ = self._pool("image")
        q = C.near_query(self.rng, self.live.emb, rows)
        return (
            lambda: self.engine.search(q, k=K, filter_content_type="image"),
            self._topk_check(q, "image"),
        )

    def _mmr(self):
        q = C.near_query(self.rng, self.seeded)
        fetch_n = max(K * 4, 20)

        def check(out, route):
            rows, ids = self._pool()
            s = self.live.scores(q, rows)
            top = np.lexsort((ids, -s))[:fetch_n]
            cands = [(int(ids[i]), float(s[i]), self.live.emb[rows[i]]) for i in top]
            errs = checks.check_mmr([r["id"] for r in out], cands, K)
            exact = dict((c[0], c[1]) for c in cands)
            for r in out:
                if abs(r["sim"] - exact.get(r["id"], np.inf)) > checks.TOL:
                    errs.append(f"MMR id {r['id']} sim {r['sim']!r} is not its exact score")
            return errs

        return (lambda: self.engine.search(q, k=K, strategy="diversity")), check

    def _ivf(self):
        q = C.near_query(self.rng, self.seeded)

        def check(out, route):
            if route != "ivf":  # the planner chose exact: it must be exact
                return self._topk_check(q)(out, route)
            rows, ids = self._pool()
            s = self.live.scores(q, rows)
            res = [(r["id"], r["sim"]) for r in out]
            self.ivf_got.append([r["id"] for r in out])
            self.ivf_truth.append(checks.brute_topk(ids, s, K))
            return checks.check_ivf(res, ids, s, K)

        return (
            lambda: self.engine.search(
                q, k=K, recall_floor=IVF_FLOOR, route=self.ivf_route
            ),
            check,
        )

    def _batch(self):
        qs = [C.near_query(self.rng, self.seeded) for _ in range(BATCH)]

        def check(out, route):
            if sorted(out) != list(range(BATCH)):
                return [f"batch answered queries {sorted(out)[:5]}..."]
            rows, ids = self._pool()
            S = self.live.scores(np.asarray(qs).T, rows)
            errs = []
            for j in range(BATCH):
                res = [(r["id"], r["sim"]) for r in out[j]]
                errs += checks.check_topk(res, ids, S[:, j], K, self.live.removed)
            return errs

        return (lambda: self.engine.search_batch(qs, k=K)), check

    def _ingest(self):
        texts = [C.phrase(self.rng) for _ in range(INGEST_ROWS)]
        rows = [{"content": t, "modality": "text"} for t in texts]

        def check(out, route):
            self.batches.append(self.live.ingest(
                [(t, "text", C.embed_text(t, "clip")) for t in texts]
            ))
            return []

        return (lambda: self.engine.batch_ingest(rows)), check

    def _remove(self):
        ids = self.batches.pop(0)

        def check(out, route):
            self.live.remove(ids)
            return []

        return (lambda: self.engine.remove(ids)), check


def start_spark(work: Path):
    from multimodal_vector_db_spark.session import get_spark

    tmp = work / "tmp"
    return get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(tmp),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms1g",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait until its JVM has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def host_probe(spark) -> dict[str, float]:
    """A fixed numpy GEMM and a fixed trivial Spark job, so host drift
    can be told apart from program change."""
    a = np.random.default_rng(0).standard_normal((256, 512))
    b = np.random.default_rng(1).standard_normal((512, 512))
    gemm = []
    for _ in range(30):
        t0 = time.perf_counter()
        a @ b
        gemm.append((time.perf_counter() - t0) * 1e3)
    job = []
    for _ in range(5):
        t0 = time.perf_counter()
        spark.range(1000).count()
        job.append((time.perf_counter() - t0) * 1e3)
    return {"host.gemm_ms": p50(gemm), "host.spark_job_ms": p50(job)}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    wl = WORKLOADS[args.workload]

    sys.path.insert(0, str(ROOT))
    try:
        from multimodal_vector_db_spark.embedders.fake import fake_embed_numpy
        from multimodal_vector_db_spark.engine import MultiModalSearchEngine
    except ImportError as e:
        print(f"perfbench: the engine package is not importable: {e}", file=sys.stderr)
        return 2
    fails = checks.selftest() + registry.selftest()
    if fails:
        print(f"perfbench: checker self-test failed: {fails}", file=sys.stderr)
        return 3

    work = HERE / ".work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    work.mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    # every file Spark, the JVM and Python's tempfile write lands in `work`
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    tempfile.tempdir = str(tmp)
    # the heap is fixed at 1 GB (-Xms1g below): a heap that grows from
    # the JVM's default initial size made peak RSS vary run to run
    os.environ["SPARK_DRIVER_MEMORY"] = "1g"
    setup: dict[str, float] = {}
    spark = None
    try:
        t = time.perf_counter()
        spark = start_spark(work)
        sc = spark.sparkContext
        jvm_pid = getattr(getattr(sc._gateway, "proc", None), "pid", None)
        setup["setup.session_s"] = time.perf_counter() - t

        t = time.perf_counter()
        rng = np.random.default_rng(args.seed)
        path = str(work / "corpus.parquet")
        # the parquet is written by a child process, so its encoding
        # peak stays out of this process's RSS high-water mark
        subprocess.run(
            [sys.executable, str(HERE / "corpus.py"), str(args.seed), str(wl["rows"]), path],
            check=True,
        )
        corp = C.make_corpus(args.seed, C.scaled_split(wl["rows"]))
        live = checks.LiveCorpus(
            corp["id"], corp["emb"], corp["modality"], corp["space"],
            corp["content"], capacity=INGEST_ROWS * 4096,
        )
        del corp
        setup["setup.inputs_s"] = time.perf_counter() - t
        # the harness's own resident size (mostly the checkers' float64
        # copy of the corpus), subtracted from peak_rss_mb
        harness_mb = vm_mb("self", "VmRSS")

        tracer = Tracer() if args.trace else None
        if tracer is not None:
            install(tracer)

        def embed(text: str, space: str) -> list[float]:
            return fake_embed_numpy(text, space, C.DIM).tolist()

        t = time.perf_counter()
        engine = MultiModalSearchEngine(
            spark,
            spark.read.parquet(path),
            dim=C.DIM,
            embed_fn=tracer.wrap(embed, "embed") if tracer else embed,
            local_exact_budget_bytes=wl["budget"],
        )
        client = Client(
            engine, live, rng, "ivf" if wl["ann"] else "auto", tracer, sc
        )
        client.run("search", record=False)  # loads the driver cache, if it fits
        setup["setup.cache_load_s"] = time.perf_counter() - t

        t = time.perf_counter()
        if wl["ann"]:
            engine.build_ann_index("clip", n_clusters=32, calibrate=False)
        setup["setup.build_ann_index_s"] = time.perf_counter() - t

        ops = round_ops(wl["writes"])
        for op in ops:  # warm-up: one untimed round
            client.run(op, record=False)
        setup_s = time.perf_counter() - T_START

        for _ in range(max(1, round(wl["rounds"] * args.seconds / 10))):
            for op in ops:
                client.run(op, record=True)

        if client.ivf_truth:
            rec = checks.recall_at_k(client.ivf_got, client.ivf_truth)
            if rec < IVF_FLOOR:
                client.errors.append(f"IVF recall@{K} {rec:.3f} < floor {IVF_FLOOR}")
        busy = sum(sum(ws) for ws in client.walls.values())
        ops_per_s = (client.attempted - client.failed) / busy
        ms = {op: [w * 1e3 for w in ws] for op, ws in client.walls.items()}
        if args.trace:
            setup["setup.harness_rss_mb"] = harness_mb
            metrics = layer_metrics(client, tracer, setup, spark, ops_per_s)
            metrics.update(registry_metrics(
                client, tracer, spark, work, args.seed, run=wl["ann"]
            ))
            (HERE / ".out").mkdir(exist_ok=True)
            tracer.dump(
                str(HERE / ".out" / f"trace-{args.workload}-{args.seed}.json"),
                client.ops,
            )
        else:
            e2e = {
                "setup_s": (setup_s, "s"),
                "ops_per_s": (ops_per_s, "1/s"),
                "peak_rss_mb": (
                    resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
                    - harness_mb + vm_mb(jvm_pid, "VmHWM"),
                    "MB",
                ),
                "search_ms_p50": (p50(ms["search"]), "ms"),
                "filtered_ms_p50": (p50(ms["filtered"]), "ms"),
                "mmr_ms_p50": (p50(ms["mmr"]), "ms"),
                "ivf_ms_p50": (p50(ms["ivf"]), "ms"),
                "batch_ms_per_query": (p50(ms["batch"]) / BATCH, "ms"),
                "ingest_ms_p50": (p50(ms["ingest"]), "ms"),
            }
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    print("perfbench: setup " + ", ".join(f"{k} {v:.2f}" for k, v in setup.items())
          + "; op ms " + ", ".join(
              f"{op} " + "/".join(f"{w * 1e3:.0f}" for w in ws)
              for op, ws in client.walls.items()
          ), file=sys.stderr)
    for e in client.errors[:20]:
        print("CHECK", e, file=sys.stderr)
    print(json.dumps({
        "correct": not client.errors,
        "attempted": client.attempted,
        "failed": client.failed,
        "metrics": metrics,
    }))
    return 0


def registry_metrics(client: Client, tracer: Tracer, spark, work: Path, seed: int, run: bool) -> dict:
    """The registry layers (``registry.py``): measured in the traced run
    of the Spark-side workload, after the serving ops; 0 elsewhere. The
    checked pass runs first and also warms the queries; the second pass
    is timed. Its queries count as attempted operations."""
    out = dict.fromkeys(
        (f"{q}.{layer}" for q in registry.QUERIES for layer in registry.LAYERS), 0.0
    )
    if run:
        tracer.op_id = -1  # spans from here on belong to no serving op
        sf_dir = work / "registry" / "sf0.01"
        registry.make_tables(seed, sf_dir)
        client.errors += registry.check(spark, sf_dir)
        timed, failed = registry.timed_pass(spark, sf_dir, spark_work)
        out.update(timed)
        client.attempted += len(registry.QUERIES)
        client.failed += failed
    return {
        k: {"value": v, "unit": "count" if k.endswith(("jobs", "tasks")) else "ms"}
        for k, v in out.items()
    }


def layer_metrics(client: Client, tracer: Tracer, setup: dict, spark, ops_per_s) -> dict:
    """Per-layer metrics of a traced run (see README.md for the map to
    the end-to-end metric each should move)."""
    out: dict[str, tuple[float, str]] = {}
    by_op: dict[str, list[dict]] = {op: [] for op in OPS}
    for rec in client.ops:
        by_op[rec["op"]].append(rec)
    timed_ops = {rec["op_id"] for rec in client.ops}
    out["embed_ms_p50"] = (p50(tracer.durations_ms("embed", timed_ops)), "ms")
    out["topk_ms_p50"] = (p50(tracer.durations_ms("topk", timed_ops)), "ms")
    mmr_ops = {r["op_id"] for r in by_op["mmr"]}
    out["mmr_rerank_ms_p50"] = (p50(tracer.durations_ms("rerank", mmr_ops)), "ms")
    collect: dict[int, float] = {}
    for name, s, e, _, op in tracer.spans:
        if name == "collect":
            collect[op] = collect.get(op, 0.0) + (e - s) * 1e3
    for op, recs in by_op.items():
        roots = [r["root"] for r in recs]
        out[f"engine_self_ms_p50.{op}"] = (p50(tracer.self_ms(roots)), "ms")
        if op in ("ingest", "remove"):  # job-free on both workloads
            continue
        out[f"spark_collect_ms_p50.{op}"] = (
            p50([collect.get(r["op_id"], 0.0) for r in recs]), "ms"
        )
        for key in ("jobs", "stages", "tasks"):
            out[f"spark_{key}.{op}"] = (p50([r[key] for r in recs]), "count")
    for route, n in client.routes.items():
        out["route." + route.replace("-", "_")] = (n, "count")
    for k, v in setup.items():
        out[k] = (v, "MB" if k.endswith("_mb") else "s")
    for k, v in host_probe(spark).items():
        out[k] = (v, "ms")
    n_ops = max(1, len(client.ops))
    spans_per_op = sum(1 for s in tracer.spans if s[4] in timed_ops) / n_ops
    out["trace.ops_per_s"] = (ops_per_s, "1/s")
    out["trace.spans_per_op"] = (spans_per_op, "count")
    out["trace.overhead_ms_per_op"] = (
        spans_per_op * tracer.per_span_cost_ms(), "ms"
    )
    return {k: {"value": v, "unit": u} for k, (v, u) in out.items()}


if __name__ == "__main__":
    sys.exit(main())
