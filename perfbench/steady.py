"""Steadiness command: runs each workload many times in fresh processes,
interleaved across workloads, and prints each end-to-end metric's
median, quartiles and spread (interquartile range over median) next to
its bound from BENCHMARK.json.

    python3 perfbench/steady.py --runs 10 [--workloads serve serve_spark]
                                [--traced 1] [--seed-base 100] [--out FILE]
                                [--compare EARLIER_OUT_FILE]

``--traced N`` adds N traced runs per workload and reports the tracing
overhead: how much lower the traced run's throughput
(``trace.ops_per_s``) is than the untraced median ``ops_per_s``.
``--compare`` reads the ``--out`` file of an earlier set and prints, per
metric, how far this set's median moved from that set's, against the
bound (positive = worse).
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    wall = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.exit(f"{workload} seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
    res = json.loads(lines[-1])
    res["wall_s"] = wall
    return res


def main() -> None:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", nargs="*", default=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--seed-base", type=int, default=100)
    ap.add_argument("--traced", type=int, default=0)
    ap.add_argument("--out")
    ap.add_argument("--compare")
    args = ap.parse_args()

    results: dict[str, list[dict]] = {w: [] for w in args.workloads}
    traced: dict[str, list[dict]] = {w: [] for w in args.workloads}
    for i in range(args.runs):
        for w in args.workloads:
            r = run_once(w, args.seed_base + i, args.seconds, 0)
            results[w].append(r)
            print(f"# {w} seed {args.seed_base + i}: {r['wall_s']:.1f} s, "
                  f"correct={r['correct']} attempted={r['attempted']} failed={r['failed']}",
                  file=sys.stderr)
    for i in range(args.traced):
        for w in args.workloads:
            traced[w].append(run_once(w, args.seed_base + i, args.seconds, 1))

    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    report: dict = {}
    for w, runs in results.items():
        print(f"\n{w}: {len(runs)} runs, wall median {statistics.median(r['wall_s'] for r in runs):.1f} s, "
              f"max {max(r['wall_s'] for r in runs):.1f} s, "
              f"all correct: {all(r['correct'] for r in runs)}, "
              f"failed share: {sorted({r['failed'] / r['attempted'] for r in runs})}")
        print(f"  {'metric':<22}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}{'bound':>7}")
        report[w] = {}
        for name, bound in bounds.items():
            vals = [r["metrics"][name]["value"] for r in runs]
            q1, med, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (vals[0],) * 3
            spread = (q3 - q1) / med if med else float("inf")
            flag = "" if spread <= bound / 3 else ("  > bound/3" if spread <= bound else "  > BOUND")
            print(f"  {name:<22}{med:>12.4g}{q1:>12.4g}{q3:>12.4g}{spread:>9.3f}{bound:>7.2f}{flag}")
            report[w][name] = {"median": med, "q1": q1, "q3": q3, "spread": spread, "values": vals}
        if traced[w]:
            untraced = statistics.median(r["metrics"]["ops_per_s"]["value"] for r in runs)
            t = statistics.median(r["metrics"]["trace.ops_per_s"]["value"] for r in traced[w])
            report[w]["trace_overhead"] = 1 - t / untraced
            print(f"  tracing overhead: traced ops_per_s {t:.4g} vs untraced {untraced:.4g} "
                  f"({100 * (1 - t / untraced):+.1f}%)")
    if args.compare:
        better = {m["name"]: m["better"] for m in spec["end_to_end"]}
        earlier = json.loads(Path(args.compare).read_text())
        print("\nmedian change against", args.compare, "(positive = worse)")
        for w in report:
            for name, bound in bounds.items():
                a, b = earlier[w][name]["median"], report[w][name]["median"]
                worse = (b - a) / a if better[name] == "lower" else (a - b) / a
                flag = "" if worse <= bound else "  > BOUND"
                print(f"  {w:<12}{name:<22}{a:>12.4g}{b:>12.4g}{worse:>+9.3f}{bound:>7.2f}{flag}")
    if args.out:
        Path(args.out).write_text(json.dumps(report, indent=1))


if __name__ == "__main__":
    main()
