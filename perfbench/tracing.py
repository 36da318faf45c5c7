"""In-memory span tracer for the traced run (``--trace 1``).

Spans are recorded around calls into each layer's public functions by
wrapping them from here — the engine itself is not changed:

- ``embed``      the engine's ``embed_fn`` hook (embedders);
- ``topk``       ``operators.knn.topk_rows_1d`` / ``topk_rows_2d``;
- ``rerank``     ``operators.rerank.rerank`` as the engine calls it;
- ``collect``    ``DataFrame.collect`` / ``DataFrame.first`` (driver
                 side of every Spark action the facade runs).

Each span is ``(name, start, end, parent, op_id)``; the op span is the
root. Self time of an op = its wall minus its direct children. Spark
work per op is read back from the status tracker through one job group
per op. The spans are written out as JSON when the run ends.
"""

from __future__ import annotations

import functools
import json
import time


class Tracer:
    def __init__(self):
        self.spans: list[tuple[str, float, float, int, int]] = []
        self._stack: list[int] = []
        self.op_id = -1

    def begin(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else -1
        self.spans.append((name, time.perf_counter(), 0.0, parent, self.op_id))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        return idx

    def end(self, idx: int) -> None:
        self._stack.pop()
        name, t0, _, parent, op = self.spans[idx]
        self.spans[idx] = (name, t0, time.perf_counter(), parent, op)

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            idx = self.begin(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self.end(idx)

        return traced

    def self_ms(self, roots: list[int]) -> list[float]:
        """Wall minus direct children, for each root span index."""
        child = dict.fromkeys(roots, 0.0)
        for _, s, e, p, _ in self.spans:
            if p in child:
                child[p] += e - s
        return [
            (self.spans[i][2] - self.spans[i][1] - child[i]) * 1e3 for i in roots
        ]

    def durations_ms(self, name: str, op_ids=None) -> list[float]:
        return [
            (e - s) * 1e3
            for n, s, e, _, op in self.spans
            if n == name and (op_ids is None or op in op_ids)
        ]

    def per_span_cost_ms(self, reps: int = 20000) -> float:
        """Cost of recording one nested span, measured on a scratch
        tracer (begin + end + the wrapper call)."""
        scratch = Tracer()
        f = scratch.wrap(lambda: None, "probe")
        t0 = time.perf_counter()
        for _ in range(reps):
            f()
        return (time.perf_counter() - t0) * 1e3 / reps

    def dump(self, path: str, ops: list[dict]) -> None:
        with open(path, "w") as fh:
            json.dump(
                {
                    "fields": ["name", "start", "end", "parent", "op_id"],
                    "spans": self.spans,
                    "ops": ops,
                },
                fh,
            )


def install(tracer: Tracer) -> None:
    """Wrap the layers' public functions, process-wide."""
    from pyspark.sql.classic.dataframe import DataFrame

    from multimodal_vector_db_spark import engine
    from multimodal_vector_db_spark.operators import knn

    knn.topk_rows_1d = tracer.wrap(knn.topk_rows_1d, "topk")
    knn.topk_rows_2d = tracer.wrap(knn.topk_rows_2d, "topk")
    engine.rerank = tracer.wrap(engine.rerank, "rerank")
    DataFrame.collect = tracer.wrap(DataFrame.collect, "collect")
    DataFrame.first = tracer.wrap(DataFrame.first, "collect")


def spark_work(sc, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) the status tracker saw under a job group."""
    st = sc.statusTracker()
    jobs = stages = tasks = 0
    for jid in st.getJobIdsForGroup(group):
        info = st.getJobInfo(jid)
        if info is None:
            continue
        jobs += 1
        for sid in info.stageIds:
            si = st.getStageInfo(sid)
            if si is not None:
                stages += 1
                tasks += si.numTasks
    return jobs, stages, tasks
