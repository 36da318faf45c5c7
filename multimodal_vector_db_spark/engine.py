"""MultiModalSearchEngine — the engine facade (SURVEY.md §3.2), a thin
layer over (a) the embedder UDF registry, (b) the items DataFrame,
(c) the kNN query builders.

Mirrors ``src/retrieval/search_engine.py``'s surface:
``search(query, query_type, k, filter_content_type)``,
``ingest_content`` / ``batch_ingest``, ``save`` / ``load``,
``get_stats`` — with two deliberate fixes over the reference:

- the metric is cosine everywhere (the reference's engine constructs an
  L2 index while its build scripts use cosine — ``search_engine.py:41-45``
  vs ``build_all_indices.py:49`` — equivalent ranking on normalized
  vectors but inconsistent reported scores; we standardize);
- space-correctness is *enforced*: an audio (CLAP-space) query is only
  ever scored against CLAP-space rows, CLIP queries against CLIP rows
  (``README.md:36``) — the reference gets this only implicitly via
  post-hoc modality routing.
"""

from __future__ import annotations

import dataclasses
import functools
import threading
from typing import Any, Callable

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from multimodal_vector_db_spark.embedders.fake import fake_embed_numpy
from multimodal_vector_db_spark.operators import knn
from multimodal_vector_db_spark.operators.rerank import rerank
from multimodal_vector_db_spark.sources.corpus import (
    active,
    space_for_modality,
)
from multimodal_vector_db_spark.sources.storage import CorpusStorage

#: modality → embedding space (README.md:36)
SPACE_OF = {"image": "clip", "video": "clip", "text": "clip", "audio": "clap"}

#: the torch-free audio CONTENT space (WHT sequency signatures) —
#: distinct from "clap" (the env-gated learned space): rows ingested by
#: :meth:`MultiModalSearchEngine.ingest_audio_content` and queries from
#: :meth:`MultiModalSearchEngine.search_audio_content` live here, and
#: the space-correctness rule keeps them from ever scoring against
#: CLIP/CLAP rows
AUDIO_SIG_SPACE = "audio_sig"

#: default nprobe fractions the per-index recall calibration measures —
#: ONE definition shared by build_ann_index and attach_ann_index so
#: built and attached indexes always get the same measured contract
_CALIBRATION_FRACTIONS = (0.0625, 0.125, 0.25, 0.5)

#: canonical items schema (batch_ingest and the SQL view agree on this)
_ITEMS_SCHEMA = (
    "id long, modality string, space string, "
    "embedding array<float>, dim int, deleted boolean, "
    "content string, display_name string"
)


@functools.lru_cache(maxsize=16)  # keyed by the module's DDL constants
def _arrow_schema(ddl: str):
    """The Spark ``StructType`` and Arrow schema of a DDL schema string."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    struct = _parse_datatype_string(ddl)
    return struct, to_arrow_schema(struct)


def _arrow_frame(spark: SparkSession, rows: list, ddl: str) -> DataFrame:
    """A DataFrame of driver-side ``rows`` (tuples in ``ddl`` column
    order), sent to the JVM as one Arrow table, which Spark keeps as a
    ``LocalRelation``. ``createDataFrame(rows, ddl)`` would parallelize
    a pickled Python RDD instead, which every later action over the
    frame runs again as Python worker tasks. Same schema and values."""
    import pyarrow as pa

    struct, schema = _arrow_schema(ddl)
    cols = zip(*rows) if rows else ([] for _ in schema)
    table = pa.table(
        [pa.array(c, f.type) for c, f in zip(cols, schema)], schema=schema
    )
    return spark.createDataFrame(table, struct)


def _serialized_mutation(fn):
    """Serialize corpus MUTATIONS (round 12): two concurrent writers
    racing through ``_next_id`` would mint the same ids, tear the
    epoch counter, and interleave cache-tail appends. Searches never
    take this lock (the read side is replace-not-mutate snapshots plus
    the admission gate), so serving concurrency is unaffected — only
    writers queue. Bulk ingests hold it across their Spark work, so a
    concurrent interactive ingest waits behind a bulk load — correct
    over fast for writers."""

    @functools.wraps(fn)
    def wrapper(self, *args, **kwargs):
        with self._mutation_lock:
            return fn(self, *args, **kwargs)

    return wrapper


#: payload keys of a resident row (``_ITEMS_SCHEMA`` minus the vector
#: and its width) — what ``batch_ingest`` appends to a resident block
_PAYLOAD_COLS = ("id", "modality", "space", "deleted", "content", "display_name")

#: estimated fixed driver-side bytes per resident row beyond the
#: measured string payload (id/flags + Python dict/object overhead)
_ROW_OVERHEAD_BYTES = 64


def _payload_bytes(payload: dict[str, Any]) -> int:
    """Estimated resident bytes of one payload dict — the per-row twin
    of the build-time footprint agg (string octet lengths + overhead)."""
    return _ROW_OVERHEAD_BYTES + sum(
        len(v.encode("utf-8")) for v in payload.values() if isinstance(v, str)
    )


def _rows_bytes(payload: list[dict[str, Any]], dim: int) -> int:
    """Estimated resident bytes of rows: payload plus float64 vectors."""
    return sum(map(_payload_bytes, payload)) + len(payload) * dim * 8


def _capacity(n: int) -> int:
    """Backing-buffer rows for a resident block of ``n`` live rows.
    Geometric headroom, so appends (the first one after a remove too)
    land in place and a copy happens only on growth — amortized
    O(rows appended). The unused tail is never written, so its pages
    are never faulted in: headroom costs address space, not RSS."""
    return int(n * 1.5) + 8


@dataclasses.dataclass(frozen=True)
class _ResidentBlock:
    """One space's rows held on the driver for the micro-path:
    ``ids`` / float64 ``emb`` / ``modality`` are the first ``len(ids)``
    rows of backing buffers with append capacity (``bufs``),
    ``payload`` the row dicts, ``live`` the rows' live flags (None when
    every row is live), ``bytes`` the estimated resident footprint of
    the LIVE rows, ``epoch`` the corpus epoch it reflects.
    Replace-not-mutate: :meth:`extend` and :meth:`without` return a new
    block and never write a row or flag an existing block can see, so
    a concurrent reader keeps a consistent view. Fields also read by
    key (``block["ids"]``)."""

    epoch: int
    ids: np.ndarray
    emb: np.ndarray
    modality: np.ndarray
    payload: list
    bytes: int
    bufs: tuple
    live: np.ndarray | None = None

    def __getitem__(self, key: str) -> Any:
        return getattr(self, key)

    @property
    def n_live(self) -> int:
        if self.live is None:
            return len(self.ids)
        return int(np.count_nonzero(self.live))

    def rows(self, modality: str | None = None) -> np.ndarray | None:
        """Indices of the live rows (of ``modality`` when given), or
        None when that is every row — the selection a scorer applies
        to the rows of ``S``."""
        if modality is None:
            return None if self.live is None else np.nonzero(self.live)[0]
        hit = self.modality == modality
        if self.live is not None:
            hit &= self.live
        return np.nonzero(hit)[0]

    @classmethod
    def _over(
        cls, epoch, bufs, n, payload, nbytes, live=None
    ) -> "_ResidentBlock":
        return cls(epoch, *(b[:n] for b in bufs), payload, nbytes, bufs, live)

    @classmethod
    def build(
        cls, epoch, ids, emb, modality, payload, nbytes, rows=None, cap=0
    ) -> "_ResidentBlock":
        """A block over the columns' ``rows`` (all when None), copied
        into fresh buffers of at least ``cap`` rows with headroom."""
        n = len(ids) if rows is None else len(rows)
        cap = max(cap, _capacity(n))
        bufs = (
            np.empty(cap, np.int64),
            np.empty((cap, emb.shape[1]), np.float64),
            np.empty(cap, object),
        )
        for buf, col in zip(bufs, (ids, emb, modality)):
            if rows is None:
                buf[:n] = col
            else:  # gather straight into the buffer, no temporary
                np.take(col, rows, axis=0, out=buf[:n], mode="clip")
        return cls._over(epoch, bufs, n, payload, nbytes)

    def _compact(self, epoch, nbytes, cap=0) -> "_ResidentBlock":
        """The live rows alone, copied into fresh buffers."""
        keep = self.rows()
        return self.build(
            epoch, self.ids, self.emb, self.modality,
            self.payload if keep is None else [self.payload[i] for i in keep],
            nbytes, rows=keep, cap=cap,
        )

    def restamp(self, epoch: int) -> "_ResidentBlock":
        return dataclasses.replace(self, epoch=epoch)

    def extend(self, epoch, ids, emb, modality, payload, nbytes):
        """Append rows in the buffers' spare tail (readers' views end
        before it); grow by copying only when the tail is full, and
        then leave the removed rows behind."""
        n, m = len(self.ids), len(ids)
        block = self
        if n + m > len(self.bufs[0]):
            block = self._compact(epoch, 0, cap=_capacity(self.n_live + m))
            n = len(block.ids)
        for buf, col in zip(block.bufs, (ids, emb, modality)):
            buf[n : n + m] = col
        live = (
            None
            if block.live is None
            else np.concatenate([block.live, np.ones(m, bool)])
        )
        return self._over(
            epoch, block.bufs, n + m, block.payload + payload, nbytes, live
        )

    def without(self, epoch: int, drop, dim: int) -> "_ResidentBlock":
        """The block minus the rows whose id is in ``drop``: the same
        buffers under a new live mask, so no row is copied. The removed
        rows are dropped physically once they outnumber the append
        headroom rule (more rows held than ``_capacity`` of the live
        ones)."""
        hit = np.isin(self.ids, np.asarray(drop, dtype=np.int64))
        if self.live is not None:
            hit &= self.live
        if not hit.any():
            return self.restamp(epoch)
        gone = [self.payload[i] for i in np.nonzero(hit)[0]]
        out = dataclasses.replace(
            self,
            epoch=epoch,
            bytes=self.bytes - _rows_bytes(gone, dim),
            live=~hit if self.live is None else self.live & ~hit,
        )
        if len(out.ids) > _capacity(out.n_live):
            return out._compact(epoch, out.bytes)
        return out


@dataclasses.dataclass(frozen=True)
class _Route:
    """One search's routing decision — see ``MultiModalSearchEngine._route``."""

    route: str  # exact-local | exact-hof | exact-blocked | ivf
    reason: str
    nprobe: int | None = None
    extras: dict = dataclasses.field(default_factory=dict)
    block: _ResidentBlock | None = None  # what an exact-local route serves


class MultiModalSearchEngine:
    #: corpus_rows × dim above which BATCH scoring routes through the
    #: blocked BLAS form. Measured crossover (local[32], this box): at
    #: 0.13M cells the codegen'd window form wins a 64-query batch
    #: (6.2 vs 8.3 ms/query); at 2.05M cells blocked wins 2.2×
    #: (SCALE_PROBE knn_batch_64q 1.19 s vs knn_blocked_64q 0.54 s);
    #: at 22.7M cells it wins 21× (204 vs 9.6 ms/query, BENCH
    #: ref_scale). Single-query dispatch uses 8× this (see
    #: ``_single_threshold``): with only one query the window/HOF plan
    #: has no per-pair blow-up to amortize away, while mapInPandas pays
    #: ~0.25 s fixed Python-worker/Arrow cost — measured HOF still 2.6×
    #: faster at 1.28M cells (0.17 vs 0.43 s) with blocked first
    #: winning at 22.7M cells (536 vs 620 ms facade wall).
    BLOCKED_THRESHOLD_CELLS = 2_000_000

    #: share of the index the appended rows must reach before the
    #: cumulative drift latch applies (see ``cum_drift_threshold``)
    CUM_DRIFT_MASS_FRACTION = 0.25

    def __init__(
        self,
        spark: SparkSession,
        items: DataFrame | None = None,
        dim: int = 64,
        embed_fn: Callable[[str, str], list[float]] | None = None,
        blocked_threshold_cells: int | None = None,
        drift_threshold: float = 4.0,
        ann_auto_append: bool = True,
        local_exact_budget_bytes: int = 256 * 1024 * 1024,
        recalibration_fraction: float = 0.25,
        cum_drift_threshold: float | None = None,
        defer_recalibration: bool = False,
        local_max_concurrency: int = 16,
    ):
        self.spark = spark
        self.dim = dim
        # pluggable text embedder (space-aware); default = hermetic fake
        self._embed = embed_fn or (
            lambda text, space: fake_embed_numpy(text, space, dim).tolist()
        )
        # interactive write buffers (round 12): rows appended by
        # batch_ingest as schema-ordered tuples, and ids tombstoned by
        # remove, flushed into the DataFrame LAZILY — one Arrow-built
        # frame + union, then one `deleted` projection, before the
        # next Spark-path read instead of one plan step per call. A
        # write is then a pure driver-side append (the reference's
        # add_vectors is an in-process append and mark_deleted sets a
        # flag, vector_index.py:94-103 and :212-222). `self.items` is
        # a property whose getter flushes, so every Spark-path
        # consumer sees every buffered row and tombstone.
        self._pending: list[tuple] = []
        self._tombstones: set[int] = set()
        self._pending_lock = threading.Lock()
        #: serializes corpus mutations (see ``_serialized_mutation``);
        #: RLock so a mutator may call another (ingest_content →
        #: batch_ingest) without deadlocking. Ordering: this lock is
        #: strictly OUTER to ``_pending_lock``.
        self._mutation_lock = threading.RLock()
        self._items_df: DataFrame | None = None
        self.items = items
        self.blocked_threshold_cells = (
            self.BLOCKED_THRESHOLD_CELLS
            if blocked_threshold_cells is None
            else blocked_threshold_cells
        )
        # row count for the scorer dispatch: maintained incrementally by
        # the ingest paths (no count job per search); None = unknown →
        # computed once lazily (parquet metadata count) and cached.
        # Soft deletes don't decrement — an upper bound only ever errs
        # toward the faster scorer.
        self._n_rows: int | None = 0 if items is None else None
        # per-SPACE row counts for the ANN coverage/drift check —
        # ingesting into an unrelated space must not flag another
        # space's index as stale. Same lazy contract as _n_rows.
        self._n_rows_by_space: dict[str, int] | None = (
            {} if items is None else None
        )
        # highest assigned item id, maintained incrementally by the
        # ingest paths so the interactive batch_ingest is JOB-FREE (no
        # max-id agg per call — round 11, the ingest/search-alternation
        # cost contract). None = unknown → one agg, then cached.
        self._max_id: int | None = -1 if items is None else None
        # write-buffer flushes since the last lineage compaction —
        # every flush stacks a union (buffered ingests) and a project
        # (buffered tombstones) on `items`, so a long ingest/remove
        # stream read in between would grow Catalyst's plan depth
        # without bound (planning cost per later Spark action ∝ chain
        # length). Every _COMPACT_EVERY flushes the chain is cut with a
        # LAZY localCheckpoint (no job — the job-free write contract
        # holds; the checkpoint materializes with the next Spark
        # action, which was going to execute the chain anyway).
        self._mutations_since_compact = 0
        # per-space IVF coarse index for the auto route (build_ann_index)
        self._ann: dict[str, dict] = {}
        #: appended-batch cohesion ratio above which an IVF index is
        #: flagged drifted and the auto route falls back to exact until
        #: rebuild (see :meth:`append_to_ann_index`)
        self.drift_threshold = drift_threshold
        #: when True (default), the auto route transparently absorbs
        #: post-build ingests into the index via
        #: :meth:`append_to_ann_index` instead of disabling IVF — the
        #: reference serves ingest-then-search from ONE mutable index
        #: (``search_engine.py:81-131`` + ``:174-223``), and a rebuild
        #: per ingest is the one thing a 100 TB deployment cannot do
        self.ann_auto_append = ann_auto_append
        #: serializes index MUTATION (append/attach/build bookkeeping)
        #: across the concurrent callers the facade advertises — the
        #: read path never blocks on it; only maintenance does
        self._ann_lock = threading.Lock()
        #: the last search's routing decision — the planner log surface
        #: (route, reason, and the IVF parameters when taken)
        self.last_route: dict[str, Any] | None = None
        #: estimated resident corpus bytes — float64 vector mass (the
        #: matrix actually held resident: rows × dim × 8 B, round 12)
        #: PLUS measured payload string bytes (round 11; vector mass
        #: alone admitted fat-payload corpora whose collect pulled
        #: gigabytes of content strings to the driver) — below which
        #: single/batch searches are served from a DRIVER-RESIDENT
        #: copy of the space's corpus with the SAME blocked-BLAS
        #: kernel and tie-break as the Spark exact path (round 10 —
        #: closes the one >2×-vs-baseline metric, the ~0.5 s per-job
        #: scheduling floor Spark local mode puts under every single
        #: interactive query; the reference's hnswlib search is a
        #: single in-process call, ``search_images.py:42-59``).
        #: 0 disables the micro-path.
        self.local_exact_budget_bytes = local_exact_budget_bytes
        #: spaces measured over budget, keyed by the epoch of the
        #: verdict — repeated searches at one epoch skip the footprint
        #: agg instead of re-measuring (any mutation bumps the epoch)
        self._local_over_budget: dict[str, int] = {}
        #: per-space driver cache for the micro-path: space →
        #: _ResidentBlock; stale once the corpus epoch moves past the
        #: block's own
        self._local_cache: dict[str, _ResidentBlock] = {}
        #: derived cross-space structures for the compare micro-path
        #: (concatenated ids, per-modality selections) — same epoch
        #: contract as _local_cache
        self._compare_cache: dict[str, Any] | None = None
        #: corpus mutation epoch — bumped by every path that reassigns
        #: ``self.items`` (ingest, bulk ingest, remove, audio ingest) so
        #: driver caches can invalidate without comparing DataFrames
        self._epoch = 0
        #: appended-rows fraction of the calibrated corpus above which
        #: the route re-runs calibration before trusting the stored
        #: curve (round 10 — a curve measured on the build-time corpus
        #: with ground truth that excludes appended rows goes stale)
        self.recalibration_fraction = recalibration_fraction
        #: when True, a search whose consulted calibration curve has
        #: gone stale serves EXACT (with ``calibration_deferred`` on
        #: ``last_route``) instead of absorbing a full recalibration
        #: sweep on the hot path — the deployment shape where a
        #: scheduled :meth:`maintain` owns all measured upkeep (round
        #: 11). Default False: lazy hot-path refresh, with its wall
        #: cost surfaced as ``last_route["calibration_sec"]``.
        self.defer_recalibration = defer_recalibration
        #: admission gate for the micro-path (round 11): at most this
        #: many micro-path calls execute concurrently; excess callers
        #: BLOCK on the semaphore (releasing the GIL) instead of
        #: joining the runnable-thread convoy. The measured bottleneck
        #: past ~16 callers is not BLAS (clamped to 1 thread/call) but
        #: GIL-held result assembly — 64 runnable threads thrash GIL
        #: ownership and HALVE aggregate qps vs 16; parking the excess
        #: keeps throughput flat at any caller count.
        if local_max_concurrency < 1:
            raise ValueError("local_max_concurrency must be >= 1")
        self._local_gate = threading.BoundedSemaphore(local_max_concurrency)
        #: CUMULATIVE drift latch (round 10): per-batch `drift` only
        #: sees the latest batch, so many batches each marginally below
        #: ``drift_threshold`` never latch even when the appended mass
        #: collectively no longer fits the fitted cells. Once appended
        #: rows exceed ``CUM_DRIFT_MASS_FRACTION`` of the index, the
        #: appended-mass-weighted mean ratio is ALSO checked against
        #: this tighter threshold (default: halfway between perfect fit
        #: and the per-batch limit — a large mass is held to a stricter
        #: standard than a single small batch).
        self.cum_drift_threshold = (
            1.0 + (drift_threshold - 1.0) / 2.0
            if cum_drift_threshold is None
            else cum_drift_threshold
        )

    #: interactive mutations between lazy lineage compactions
    _COMPACT_EVERY = 64

    def _maybe_compact_lineage(self) -> None:
        """Cut the items plan chain after a run of write-buffer
        flushes (see ``_mutations_since_compact``). Lazy: no Spark
        job here; the truncation is realized by whichever action runs
        next. (On a multi-node cluster prefer a checkpoint dir for
        executor-loss durability; local mode has no such loss mode —
        same note as batch_ingest_df's eager checkpoint.)"""
        self._mutations_since_compact += 1
        if self._mutations_since_compact >= self._COMPACT_EVERY:
            self._transform_items(
                lambda df: (
                    df.localCheckpoint(eager=False)
                    if df is not None
                    else None
                )
            )
            self._mutations_since_compact = 0

    @property
    def items(self) -> DataFrame | None:
        """The corpus DataFrame. Reading it FLUSHES the interactive
        write buffers first (see :meth:`_flush_pending`), so every
        Spark-path consumer — searches over an over-budget space,
        save(), the SQL view, external callers — observes a corpus
        that includes every ingested row and honors every remove. The
        micro-path deliberately bypasses this getter while its cache
        is valid (the buffered writes were applied to the cache when
        they were made), which keeps an interactive ingest/remove/
        search alternation free of Spark calls."""
        self._flush_pending()
        return self._items_df

    @items.setter
    def items(self, df: DataFrame | None) -> None:
        # wholesale corpus replace: buffered rows and tombstones belong
        # to the corpus being replaced and go with it (internal
        # mutations go through _transform_items, which flushes; only
        # an external replace lands here, where dropping the old
        # corpus's buffered writes is the point)
        with self._pending_lock:
            self._pending = []
            self._tombstones = set()
            self._items_df = df

    def _flush_pending(self) -> None:
        """Apply the buffered interactive writes to the DataFrame: the
        buffered rows as ONE Arrow-built frame (a JVM-local
        ``LocalRelation``, so later reads run no Python tasks for it)
        unioned in, then every buffered tombstone as ONE ``deleted``
        projection. Job-free (both are lazy plan steps); one flush
        absorbs ANY number of buffered ``batch_ingest`` and ``remove``
        calls, so the plan chain grows per flush, not per write — the
        lineage compaction counter advances here for the same
        reason."""
        with self._pending_lock:
            flushed = self._flush_pending_locked()
        if flushed:
            self._maybe_compact_lineage()

    def _flush_pending_locked(self) -> bool:
        """Flush body; caller holds ``_pending_lock``. Returns whether
        the plan grew."""
        data, self._pending = self._pending, []
        dead, self._tombstones = self._tombstones, set()
        df = self._items_df
        if data:
            new = _arrow_frame(self.spark, data, _ITEMS_SCHEMA)
            df = (
                new
                if df is None
                else df.unionByName(new, allowMissingColumns=True)
            )
        if dead and df is not None:
            # one SQL predicate over int ids: one JVM call however many
            # ids (``isin`` sends each id as its own literal)
            hit = F.expr(f"id IN ({', '.join(map(str, sorted(dead)))})")
            df = df.withColumn(
                "deleted",
                F.when(hit, F.lit(True)).otherwise(F.col("deleted")),
            )
        grew = df is not self._items_df
        self._items_df = df
        return grew

    def _transform_items(self, fn) -> None:
        """Atomically replace the corpus DataFrame with ``fn(current)``.
        Every INTERNAL mutation that is not a buffered write (bulk
        union-append, lineage checkpoint) must go through here rather
        than ``self.items = self.items...``: the getter-then-setter
        form has a lost-update race — a concurrent ``batch_ingest`` or
        ``remove`` buffering between the getter's flush and the setter
        (which clears the buffers on external replace) would silently
        drop its write from the Spark-side corpus. Here the flush, the
        transform, and the assignment all happen under the buffer lock
        — writes buffered mid-transform stay buffered and ride the next
        flush. ``fn`` only builds lazy plans (no Spark job
        runs under the lock)."""
        with self._pending_lock:
            self._flush_pending_locked()
            self._items_df = fn(self._items_df)

    def _corpus_absent(self) -> bool:
        """True when there is no corpus at all — neither a DataFrame
        nor buffered interactive rows. The flush-free twin of
        ``self.items is None`` for the micro-path's hot checks."""
        return self._items_df is None and not self._pending

    # -- ingestion (search_engine.py:81-172) ---------------------------
    def _next_id(self) -> int:
        """Next free item id — from the incrementally maintained
        counter when known (no Spark job), else one max-id agg whose
        result is cached."""
        if self._max_id is None:
            m = (
                self.items.agg(F.max("id").alias("m")).first()["m"]
                if self.items is not None
                else None
            )
            # explicit None check: `m or -1` would misread a legitimate
            # max id of 0 as empty and restart ids at 0
            self._max_id = -1 if m is None else int(m)
        return self._max_id + 1

    @_serialized_mutation
    def batch_ingest(self, rows: list[dict[str, Any]]) -> None:
        """Append (content, modality) records; embeds into the right
        space and stamps id/space/deleted columns. Spark-free on the
        driver (round 12): ids come from the maintained counter, the
        rows land in the interactive buffer (``_pending``) — flushed
        into the DataFrame lazily before the next Spark-path read —
        and valid micro-path caches are EXTENDED in place, so a steady
        ingest/search alternation never pays the per-call
        createDataFrame py4j floor (~80 ms) the round-11 profile
        measured, let alone a corpus re-collect."""
        start_id = self._next_id()
        data = []
        for i, r in enumerate(rows):
            modality = r.get("modality", "text")
            space = SPACE_OF[modality]
            data.append(
                (
                    start_id + i,
                    modality,
                    space,
                    self._embed(r["content"], space),
                    self.dim,
                    False,
                    r["content"],
                    r.get("display_name", f"item_{start_id + i}"),
                )
            )
        with self._pending_lock:
            self._pending.extend(data)
            # a buffered tombstone for an id minted only now named no
            # row when it was made, so it must not hide the new row
            self._tombstones.difference_update(
                range(start_id, start_id + len(rows))
            )
        prev_epoch = self._epoch
        self._epoch += 1
        self._max_id = start_id + len(rows) - 1
        if self._n_rows is not None:
            self._n_rows += len(rows)
        for r in rows:
            self._bump_space(SPACE_OF[r.get("modality", "text")], 1)
        self._local_cache_extend(prev_epoch, data)

    def ingest_content(self, content: str, modality: str = "text", **meta) -> None:
        self.batch_ingest([{"content": content, "modality": modality, **meta}])

    @_serialized_mutation
    def batch_ingest_df(
        self,
        df: DataFrame,
        content_col: str = "content",
        modality_col: str = "modality",
        display_name_col: str | None = None,
        embed_udf: Callable[[Column, str], Column] | None = None,
    ) -> None:
        """Bulk ingestion — the distributed twin of :meth:`batch_ingest`
        (reference ``search_engine.py:81-172``). Embedding runs on the
        EXECUTORS via the Arrow-batched pandas UDF (``embedders/fake.py``
        — the same hash-seeded generator as the driver path, so vectors
        are bit-identical), and ids are assigned contiguously with a
        two-phase prefix sum over partition counts — no driver-side
        Python loop, no global single-partition window. Use this above
        ~10⁴ rows; ``batch_ingest`` is the interactive list-of-dicts
        path.

        ``embed_udf(col, space) -> Column`` overrides the embedder for
        engines constructed with a custom ``embed_fn`` (the default fake
        UDF would not match it); ``embedders/real.py`` provides the
        CLIP/CLAP-backed equivalent.
        """
        from pyspark.sql import Window

        from multimodal_vector_db_spark.embedders.fake import fake_embed

        ef = embed_udf or (
            lambda col, space: fake_embed(col, space=space, dim=self.dim)
        )
        start_id = self._next_id()

        # pin the partition layout: the pid-count job and the id-assign
        # job must observe the SAME partitioning (AQE may otherwise
        # re-plan the scan between actions). __mono captures the
        # within-partition INPUT order off the same pinned blocks, so
        # duplicate (content, modality) rows in one partition still get
        # bit-stable relative ids across runs (the window below orders
        # on it)
        src = df.withColumn("__pid", F.spark_partition_id()).withColumn(
            "__mono", F.monotonically_increasing_id()
        ).persist()
        # one job answers both questions: per-pid counts (the id prefix
        # sum) grouped alongside modality, whose SPACE_OF image gives
        # the per-space increments the ANN coverage check tracks
        counts: dict[int, int] = {}
        space_delta: dict[str, int] = {}
        for r in (
            src.groupBy("__pid", modality_col)
            .agg(F.count("*").alias("cnt"))
            .collect()
        ):
            counts[r["__pid"]] = counts.get(r["__pid"], 0) + r["cnt"]
            sp = SPACE_OF.get(r[modality_col], "clip")
            space_delta[sp] = space_delta.get(sp, 0) + r["cnt"]
        running, offsets = 0, []
        for pid in sorted(counts):
            offsets.append((pid, running))
            running += counts[pid]
        off_df = F.broadcast(
            _arrow_frame(self.spark, offsets, "__pid int, __off long")
        )
        # within-partition row numbers: the window key is __pid itself,
        # so each shuffle group is exactly one input partition — a
        # balanced exchange, never a global sort into one task. Ordered
        # by the captured input position — total (no duplicate-content
        # ties), so ids are deterministic row-for-row
        w = Window.partitionBy("__pid").orderBy(F.col("__mono"))
        space = F.coalesce(
            F.create_map(
                *[F.lit(x) for kv in SPACE_OF.items() for x in kv]
            )[F.col(modality_col)],
            F.lit("clip"),
        )
        display = (
            F.col(display_name_col)
            if display_name_col is not None
            else F.concat(
                F.lit("item_"), F.col("__new_id").cast("string")
            )
        )
        try:
            new = (
                src.join(off_df, on="__pid")
                .withColumn("__rn", F.row_number().over(w) - 1)
                .withColumn(
                    "__new_id", F.lit(start_id) + F.col("__off") + F.col("__rn")
                )
                .withColumn("__space", space)
                .select(
                    F.col("__new_id").alias("id"),
                    F.col(modality_col).alias("modality"),
                    F.col("__space").alias("space"),
                    F.when(
                        F.col("__space") == "clap",
                        ef(F.col(content_col), "clap"),
                    )
                    .otherwise(ef(F.col(content_col), "clip"))
                    .alias("embedding"),
                    F.lit(self.dim).alias("dim"),
                    F.lit(False).alias("deleted"),
                    F.col(content_col).alias("content"),
                    display.alias("display_name"),
                )
            )
            # Materialize NOW and truncate lineage: ids derived from the
            # pinned partition layout are frozen into the checkpointed
            # blocks, so `src`'s cache can be released immediately —
            # repeated bulk ingests no longer accumulate pinned blocks
            # for the session lifetime. (Eager embedding also matches the
            # reference's ingest-time embedding semantics,
            # search_engine.py:81-172. On a multi-node cluster prefer
            # `spark.sparkContext.setCheckpointDir` + `.checkpoint()` for
            # executor-loss durability; local mode has no such loss mode.)
            new = new.localCheckpoint(eager=True)
        finally:
            src.unpersist()
        self._transform_items(
            lambda cur: (
                new
                if cur is None
                else cur.unionByName(new, allowMissingColumns=True)
            )
        )
        self._epoch += 1
        self._max_id = start_id + running - 1
        if self._n_rows is not None:
            self._n_rows += running  # total of the partition counts
        for sp, n in space_delta.items():
            self._bump_space(sp, n)

    @_serialized_mutation
    def remove(self, ids: list[int]) -> None:
        """Soft delete — and unlike the reference's write-only tombstone
        (vector_index.py:212-222), every search honors it. Spark-free
        like :meth:`batch_ingest`: the ids join the tombstone buffer
        (``_tombstones``), which reaches the DataFrame as one
        ``deleted`` projection at the next Spark-path read, and valid
        micro-path blocks mask the rows out without copying the
        matrix. Ids that name no row are a no-op, on an engine with no
        corpus too."""
        ids = [int(i) for i in ids]
        with self._pending_lock:
            self._tombstones.update(ids)
        prev_epoch = self._epoch
        self._epoch += 1
        for space, block in list(self._local_cache.items()):
            if block.epoch == prev_epoch:  # stale ones rebuild lazily
                self._local_cache[space] = block.without(
                    self._epoch, ids, self.dim
                )

    # -- ANN route (SURVEY §4's deferred planner rule, rounds 8-9) ------
    def build_ann_index(
        self,
        space: str = "clip",
        n_clusters: int | None = None,
        seed: int = 42,
        calibrate: bool = True,
        calibration_queries: int = 64,
        calibration_k: int = 10,
        calibration_fractions: tuple[float, ...] | None = None,
        calibration_filters: tuple[str, ...] = (),
    ) -> dict:
        """Fit the IVF coarse index the ``route="auto"`` planner can
        choose: MLlib KMeans over the CURRENT live rows of ``space``
        (sqrt(N) cells by default — the scan-fraction scaling the
        ref-scale bench family uses), assignment kept as a slim
        ``(id, cluster_id)`` frame joined back at query time so
        tombstones and predicates keep working unchanged. Returns the
        build stats.

        **Per-index recall calibration** (round 9, on by default): the
        module used to pin a recall_floor→nprobe-fraction map measured
        on THIS repo's bench corpora — an unseen corpus with a
        different cluster balance could get materially less recall
        than the declared floor. Now the build samples
        ``calibration_queries`` corpus rows (deterministic xxhash64
        order), runs them through the exact path AND the IVF path at
        each ``calibration_fractions`` point, and stores the MEASURED
        recall@``calibration_k`` curve (self-hits excluded on both
        sides) plus the measured per-query wall costs in the index
        manifest. The planner then routes from the measured curve: the
        cheapest point whose measured recall meets the caller's floor,
        and exact when no point does — the floor is honored on the
        corpus actually being served, not on a corpus the module
        author benchmarked. The timing pair also powers the
        measured-cost exact-vs-IVF crossover (see :meth:`_route`).
        Calibration cost is ~(1 + |fractions|) bounded batch jobs —
        small next to the KMeans fit (measured in BENCH
        ``ann_calibration`` section).

        Rows ingested AFTER the build are absorbed by
        :meth:`append_to_ann_index` (auto-invoked by the route when
        ``ann_auto_append``); a drifted append disables the IVF route
        until rebuild."""
        import math

        from multimodal_vector_db_spark.operators.ann import (
            ivf_fit_assign,
        )

        if calibration_filters and not calibrate:
            raise ValueError(
                "build_ann_index: calibration_filters requires "
                "calibrate=True — a filter curve is a measurement; "
                "without it filtered searches would silently keep the "
                "exact fallback"
            )
        corpus = active(self.items).where(F.col("space") == space)
        n = corpus.count()
        if n_clusters is None:
            n_clusters = max(2, int(math.isqrt(n)))
        assigned, centroids, cost = ivf_fit_assign(
            corpus.select("id", "embedding"),
            n_clusters=n_clusters,
            seed=seed,
            return_cost=True,
        )
        info: dict[str, Any] = {
            "assign": assigned.select("id", "cluster_id").localCheckpoint(
                eager=True
            ),
            "centroids": centroids,
            "rows_at_build": self._space_rows(space),
            # build-time cohesion baseline for the drift check: mean
            # squared row→centroid distance (KMeans trainingCost / N)
            "mean_sq_dist": cost / max(n, 1),
            "appended_rows": 0,
            "drift": None,
            "cum_appended_sq": 0.0,
            "cum_drift": None,
            "drifted": False,
            "calibration": None,
            "filter_calibrations": {},
        }
        if calibrate and n > 0:
            self._run_calibration(
                corpus,
                info,
                calibration_queries,
                calibration_k,
                calibration_fractions,
            )
            # measured FILTERED-ANN (round 10): the unfiltered curve is
            # honest only unfiltered — a selective content-type filter
            # concentrates the true top-k into cells nprobe may skip,
            # which is why filtered searches routed exact. For each
            # declared filter value the index measures a SEPARATE
            # recall/cost curve on the FILTERED corpus (exact ground
            # truth and IVF candidates both filter-restricted, exactly
            # as serving applies the predicate), and the route honors a
            # floor under that filter from ITS curve. Filters not
            # declared here keep the exact fallback.
            for m in calibration_filters:
                self.calibrate_filter(
                    space,
                    m,
                    calibration_queries=calibration_queries,
                    calibration_k=calibration_k,
                    calibration_fractions=calibration_fractions,
                    _info=info,
                )
        self._ann[space] = info
        return {
            "space": space,
            "n_clusters": n_clusters,
            "rows": n,
            "calibration": info["calibration"],
            "filter_calibrations": sorted(info["filter_calibrations"]),
        }

    def calibrate_filter(
        self,
        space: str,
        modality: str,
        calibration_queries: int = 64,
        calibration_k: int = 10,
        calibration_fractions: tuple[float, ...] | None = None,
        _info: dict | None = None,
    ) -> dict | None:
        """Measure (or refresh) THIS index's recall/cost curve under a
        ``filter_content_type=modality`` predicate — the curve
        :meth:`search`'s route consults for filtered searches with a
        declared floor (see :meth:`build_ann_index`). Ground truth and
        IVF candidates are both restricted to the filtered rows, the
        exact shape the serving path executes. Returns the measured
        curve (also stored on the index), or None when the filter
        matches no live rows — in which case any previously stored
        curve is PURGED (it referenced rows that no longer exist, and
        the route must fall back to exact, not serve from it).

        Direct calls serialize on the index-maintenance lock like
        every other mutation; internal callers already under it (or
        pre-publication, in :meth:`build_ann_index`) pass ``_info``."""
        if _info is None:
            # the info dict is re-fetched INSIDE the lock: build/attach/
            # maintain publish a fresh info dict (without holding the
            # lock), so an info captured before acquisition could be the
            # replaced, dead one — the measured curve would be written
            # into a dict no route ever reads again
            with self._ann_lock:
                info = self._ann.get(space)
                if info is None:
                    raise ValueError(
                        f"calibrate_filter: no ANN index for space "
                        f"{space!r}; call build_ann_index first"
                    )
                return self.calibrate_filter(
                    space,
                    modality,
                    calibration_queries,
                    calibration_k,
                    calibration_fractions,
                    _info=info,
                )
        info = _info
        corpus = active(self.items).where(
            (F.col("space") == space) & (F.col("modality") == modality)
        )
        if corpus.limit(1).count() == 0:
            info.get("filter_calibrations", {}).pop(modality, None)
            return None
        curve = self._calibrate_ann(
            corpus.select("id", "embedding"),
            info,
            n_queries=calibration_queries,
            k=calibration_k,
            fractions=(
                _CALIBRATION_FRACTIONS
                if calibration_fractions is None
                else calibration_fractions
            ),
        )
        # staleness marker: the SPACE row count at measurement time —
        # a cheap proxy (the true filtered count would cost a count
        # job per route check); the curve refreshes when the space
        # grows past recalibration_fraction, independent of whether a
        # main curve exists
        curve["space_rows_at_calibration"] = self._space_rows(space)
        info.setdefault("filter_calibrations", {})[modality] = curve
        return curve

    @staticmethod
    def _curve_for(info: dict, filter_key: str | None) -> dict | None:
        """The calibration curve a plan/gate should read: the filter's
        own measured curve when one is requested, else the main one —
        ONE definition so the planner and the cost gate can never read
        different curves."""
        if filter_key is not None:
            return info.get("filter_calibrations", {}).get(filter_key)
        return info.get("calibration")

    def _run_calibration(
        self,
        corpus: DataFrame,
        info: dict,
        n_queries: int,
        k: int,
        fractions: tuple[float, ...] | None,
    ) -> None:
        """Shared calibration entry for built AND attached indexes —
        one definition so both get the identical measured contract."""
        info["calibration"] = self._calibrate_ann(
            corpus.select("id", "embedding"),
            info,
            n_queries=n_queries,
            k=k,
            fractions=(
                _CALIBRATION_FRACTIONS if fractions is None else fractions
            ),
        )

    def _main_curve_stale(self, space: str, info: dict) -> bool:
        # a curve with NO rows_at_calibration marker (manifests saved
        # before round 10, reloaded via load()) counts as stale the
        # moment the space has any rows — the same semantics as
        # _stale_filter_keys' missing-marker default; treating it as
        # never-stale would pin a pre-marker curve forever no matter
        # how much the corpus grows
        cal = info.get("calibration")
        return bool(
            cal
            and cal.get("points")
            and self._space_rows(space)
            > (cal.get("rows_at_calibration") or 0)
            * (1.0 + self.recalibration_fraction)
        )

    def _stale_filter_keys(self, space: str, info: dict) -> list[str]:
        """Filter curves whose space-rows staleness marker has been
        outgrown — checked INDEPENDENTLY of the main curve (an index
        built with calibrate=False but a calibrated filter must still
        refresh that filter; curves persisted before the marker
        existed count as stale once the space grows at all)."""
        rows = self._space_rows(space)
        return [
            m
            for m, fcal in info.get("filter_calibrations", {}).items()
            if rows
            > fcal.get("space_rows_at_calibration", 0)
            * (1.0 + self.recalibration_fraction)
        ]

    def _maybe_recalibrate(self, space: str, info: dict) -> float | None:
        """Refresh STALE calibration curves: when the live corpus of
        ``space`` has outgrown a curve's measured row count by more
        than ``recalibration_fraction``, re-run the same measured
        recall/cost calibration on the CURRENT corpus (so appended
        rows are eligible as sampled queries and present in the exact
        ground truth) at the same n_queries/k/fractions as the stored
        curve. The main curve and each FILTER curve are checked
        independently (each carries its own measurement marker).
        Serialized on the index-maintenance lock; the staleness checks
        repeat inside it so concurrent searches refresh once. NOTE the
        refresh runs lazily on the serving path (unless
        ``defer_recalibration`` routes stale-curve searches exact and
        leaves this to :meth:`maintain`) — its cost is surfaced on
        ``last_route["calibration_sec"]`` when it does run inline.
        Returns the total measured calibration wall seconds, or None
        when nothing was stale."""
        if not (
            self._main_curve_stale(space, info)
            or self._stale_filter_keys(space, info)
        ):
            return None
        with self._ann_lock:
            total = 0.0
            did = False
            if self._main_curve_stale(space, info):
                cal = info["calibration"]
                corpus = active(self.items).where(
                    F.col("space") == space
                )
                self._run_calibration(
                    corpus,
                    info,
                    cal.get("n_queries", 64),
                    cal.get("k", 10),
                    tuple(p["fraction"] for p in cal["points"]) or None,
                )
                total += info["calibration"].get("calibration_sec", 0.0)
                did = True
            for m in self._stale_filter_keys(space, info):
                fcal = info["filter_calibrations"][m]
                curve = self.calibrate_filter(
                    space,
                    m,
                    calibration_queries=fcal.get("n_queries", 64),
                    calibration_k=fcal.get("k", 10),
                    calibration_fractions=(
                        tuple(p["fraction"] for p in fcal["points"])
                        or None
                    ),
                    _info=info,
                )
                if curve is not None:
                    total += curve.get("calibration_sec", 0.0)
                did = True
            return total if did else None

    def _calibrate_ann(
        self,
        corpus: DataFrame,
        info: dict,
        n_queries: int,
        k: int,
        fractions: tuple[float, ...],
    ) -> dict:
        """Measure THIS index's recall/cost curve (see
        :meth:`build_ann_index`). Queries are corpus rows picked by a
        deterministic xxhash64 top-N (one bounded TakeOrdered collect —
        no full-id collect, scale-safe); BOTH sides are ranked top-k
        lists after each query's self-hit is dropped (fetched at k+1),
        so neither a guaranteed self-cell hit nor an extra surviving
        candidate can inflate the measured recall.

        Costs are measured at TWO depths: the batch walls (all
        ``n_queries`` through one job — what ``search_batch`` pays
        per query) and single-query walls (one query per job — what a
        lone ``search`` pays; the batch numbers misprice it in both
        directions: the exact batch amortizes the corpus scan over
        every query while the IVF batch probes the UNION of all
        queries' cells)."""
        import math
        import time

        from multimodal_vector_db_spark.operators.ann import (
            ivf_search_blocked,
        )
        from multimodal_vector_db_spark.operators.knn import (
            knn_join_blocked,
        )

        t_start = time.time()
        qrows = (
            corpus.select("id", "embedding")
            .orderBy(F.xxhash64(F.col("id")), F.col("id"))
            .limit(n_queries)
            .collect()
        )
        queries = [
            (i, [float(x) for x in r["embedding"]])
            for i, r in enumerate(qrows)
        ]
        self_id = {i: r["id"] for i, r in enumerate(qrows)}
        def _topk_after_self(rows) -> dict[int, list[int]]:
            out: dict[int, list[int]] = {i: [] for i, _ in queries}
            for r in sorted(
                rows, key=lambda r: (r["query_id"], -r["sim"], r["id"])
            ):
                qi = r["query_id"]
                if r["id"] != self_id[qi] and len(out[qi]) < k:
                    out[qi].append(r["id"])
            return out

        def _median_wall_ms(fn, samples: int = 3) -> float:
            # single-query walls are one small job each — dominated by
            # scheduling jitter on small corpora, so the dispatch they
            # feed (the exact-vs-IVF cost gate) takes the median of 3
            # instead of trusting one sample (batch walls already
            # amortize over n_queries and stay single-sample)
            walls = []
            for _ in range(samples):
                t0 = time.time()
                fn()
                walls.append((time.time() - t0) * 1000.0)
            walls.sort()
            return walls[len(walls) // 2]

        slim = corpus.select("id", "embedding").persist()
        assigned = slim.join(info["assign"], "id").persist()
        q_one = queries[:1]
        try:
            n_rows = slim.count()
            t0 = time.time()
            exact_rows = knn_join_blocked(slim, queries, k=k + 1).collect()
            exact_ms = (time.time() - t0) * 1000.0 / max(len(queries), 1)
            truth = _topk_after_self(exact_rows)
            exact_ms_single = _median_wall_ms(
                lambda: knn_join_blocked(slim, q_one, k=k + 1).collect()
            )
            n_cells = len(info["centroids"])
            points = []
            for frac in sorted(fractions):
                nprobe = max(1, math.ceil(frac * n_cells))
                t0 = time.time()
                got_rows = ivf_search_blocked(
                    assigned,
                    queries,
                    info["centroids"],
                    k=k + 1,
                    nprobe=nprobe,
                    probe_metric="l2",
                ).collect()
                ivf_ms = (time.time() - t0) * 1000.0 / max(len(queries), 1)
                ivf_ms_single = _median_wall_ms(
                    lambda: ivf_search_blocked(
                        assigned,
                        q_one,
                        info["centroids"],
                        k=k + 1,
                        nprobe=nprobe,
                        probe_metric="l2",
                    ).collect()
                )
                got = _topk_after_self(got_rows)
                recs = [
                    len(set(got[qi]) & set(t)) / len(t)
                    for qi, t in truth.items()
                    if t
                ]
                points.append(
                    {
                        "fraction": frac,
                        "nprobe": nprobe,
                        "recall": (
                            sum(recs) / len(recs) if recs else 1.0
                        ),
                        "ms_per_q": ivf_ms,
                        "ms_single": ivf_ms_single,
                    }
                )
        finally:
            slim.unpersist()
            assigned.unpersist()
        return {
            "points": points,  # ascending fraction
            "exact_ms_per_q": exact_ms,
            "exact_ms_single": exact_ms_single,
            "k": k,
            "n_queries": len(queries),
            # which corpus rows served as calibration queries — the
            # staleness test's evidence that a RE-calibration's ground
            # truth covers appended ids (they enter the xxhash64 sample)
            "query_ids": sorted(self_id.values()),
            # corpus size the curve was measured on; the route
            # re-calibrates when the live corpus outgrows this by
            # ``recalibration_fraction`` (round 10)
            "rows_at_calibration": n_rows,
            "calibration_sec": round(time.time() - t_start, 3),
        }

    def attach_ann_index(
        self,
        space: str,
        path: str,
        calibrate: bool = True,
        calibration_queries: int = 64,
        calibration_k: int = 10,
        calibration_fractions: tuple[float, ...] | None = None,
    ) -> dict:
        """Serve from an IVF index that lives ON DISK — the artifact
        :func:`~multimodal_vector_db_spark.operators.ann.build_ivf_index`
        writes and ``streaming.vector_refresh_stream`` maintains
        incrementally. This closes the remaining loop between the
        batch/streaming index machinery and the serving front door: a
        pipeline can build + refresh the index out-of-band (cluster
        jobs, a streaming query) and any engine attaches it in O(1)
        build work.

        The attached ``(id, cluster_id)`` assignment is a SNAPSHOT of
        the files present at attach time (re-attach to pick up later
        stream appends); ids must be item ids of ``space``'s rows.
        Rows of the space NOT covered by the artifact are absorbed by
        the normal auto-append path. The drift baseline is computed
        from the artifact itself (one bounded agg: mean squared
        distance of assigned rows to their centroids); calibration
        runs exactly as in :meth:`build_ann_index` so the recall-floor
        contract is measured on THIS corpus, not assumed from the
        builder's."""
        from multimodal_vector_db_spark.operators.ann import (
            open_ivf_index,
        )

        assigned, centroids = open_ivf_index(self.spark, path)
        assign = assigned.select("id", "cluster_id")
        corpus = active(self.items).where(F.col("space") == space)
        # drift baseline from the artifact: |x - c|^2 per covered row,
        # centroids joined as a BROADCAST frame (a literal centroid
        # matrix would plan O(n_clusters x dim) expression nodes — the
        # same blow-up nearest_centroid hits past ~16 cells)
        covered = corpus.select("id", "embedding").join(assign, "id")
        cdf = F.broadcast(
            _arrow_frame(
                self.spark,
                [(i, [float(v) for v in c]) for i, c in enumerate(centroids)],
                "cluster_id int, __centroid array<double>",
            )
        )
        sq = F.aggregate(
            F.zip_with(
                F.col("embedding").cast("array<double>"),
                F.col("__centroid"),
                lambda x, c: (x - c) * (x - c),
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        stats = covered.join(cdf, "cluster_id").select(sq.alias("sq")).agg(
            F.count("*").alias("n"), F.sum("sq").alias("s")
        ).first()
        n_cov = stats["n"]
        if n_cov == 0:
            # fail fast on an id-domain mismatch: silently attaching a
            # zero-coverage artifact would yield a 0.0 drift baseline,
            # and the first auto-append would then latch the index
            # drifted with a nonsensical ratio
            raise ValueError(
                f"attach_ann_index: artifact at {path!r} covers no "
                f"active rows of space {space!r} — its ids do not "
                "match the corpus item ids"
            )
        info: dict[str, Any] = {
            "assign": assign.localCheckpoint(eager=True),
            "centroids": centroids,
            # covered rows only: uncovered ones go through auto-append,
            # which compares its batch against this baseline
            "rows_at_build": n_cov,
            "mean_sq_dist": (stats["s"] or 0.0) / max(n_cov, 1),
            "appended_rows": 0,
            "drift": None,
            "cum_appended_sq": 0.0,
            "cum_drift": None,
            "drifted": False,
            "calibration": None,
            "filter_calibrations": {},
        }
        self._ann[space] = info
        if self._space_rows(space) != n_cov:
            # absorb rows the artifact predates (and measure their drift)
            self.append_to_ann_index(space)
        if calibrate:
            self._run_calibration(
                corpus,
                info,
                calibration_queries,
                calibration_k,
                calibration_fractions,
            )
        return {
            "space": space,
            "n_clusters": len(centroids),
            "rows": n_cov,
            "appended": info["appended_rows"],
            "calibration": info["calibration"],
        }

    def append_to_ann_index(self, space: str = "clip") -> dict:
        """Incremental IVF maintenance at the facade (round 9 — the
        reference serves ingest-then-search from ONE mutable index,
        ``search_engine.py:81-131`` + ``:174-223``; our batch layer
        already had ``ann.py:ivf_append`` and the streaming refresh,
        this wires the same move into the serving front door): rows of
        ``space`` added since the build/last append are assigned to
        the EXISTING centroids — the same L2 rule MLlib KMeans used,
        so boundary rows land where a rebuild would put them — and
        merged into the assignment frame; the covered-row count
        updates so the auto route keeps choosing IVF.

        **Drift contract**: each appended batch's mean squared
        centroid distance is compared to the build-time baseline
        (KMeans trainingCost / N), and (round 10) the
        appended-mass-weighted CUMULATIVE ratio is checked against the
        tighter ``cum_drift_threshold`` once appended rows exceed
        ``CUM_DRIFT_MASS_FRACTION`` of the index — a stream of batches
        each marginally under the per-batch limit can collectively
        stop fitting the cells, and the per-batch statistic alone
        never sees that. A ratio above ``drift_threshold``
        means the new rows don't live in the fitted cell structure —
        nprobe'd recall on them is unknowable — so the index is
        flagged ``drifted`` and the auto route falls back to exact
        until :meth:`build_ann_index` re-fits. Appends stay cheap:
        one blocked assignment pass over only the NEW rows plus a
        slim-id anti-join to find them (the only age-dependent term —
        asymptotically linear in the id column like the replay
        guard's legacy tier, measured FLAT on this box: SCALE_PROBE
        ``ann_append_vs_index_age``); the rebuild trigger is the
        measured drift, not every ingest."""
        from multimodal_vector_db_spark.operators.ann import (
            ivf_assign_blocked,
        )

        info = self._ann.get(space)
        if info is None:
            raise ValueError(
                f"append_to_ann_index: no ANN index for space {space!r}; "
                "call build_ann_index first"
            )
        # mutation is serialized: without the lock two concurrent
        # searches that both observe stale coverage would anti-join
        # against the SAME old assignment and union the new rows twice
        # (duplicate candidates in every later IVF top-k)
        with self._ann_lock:
            info = self._ann[space]
            if info["drifted"]:
                # a drifted index is frozen until rebuild/attach:
                # merging more rows (however cohesive) cannot restore
                # the fitted-cell contract, and overwriting `drift`
                # would make the logged reason contradict the latch
                return {
                    "space": space,
                    "appended": 0,
                    "drift": info["drift"],
                    "drifted": True,
                }
            # SNAPSHOT the coverage target BEFORE capturing the corpus:
            # a concurrent batch_ingest landing between the corpus
            # capture and the bookkeeping below bumps _space_rows, and
            # reading the counter at the END would mark those rows
            # covered without ever assigning them — silently missing
            # from every later IVF top-k. With the snapshot, rows
            # ingested mid-append still read as uncovered on the next
            # route pass and get their own append.
            target = self._space_rows(space)
            if target == info["rows_at_build"]:
                # another caller already absorbed this ingest
                return {
                    "space": space,
                    "appended": 0,
                    "drift": info["drift"],
                    "drifted": False,
                }
            corpus = active(self.items).where(F.col("space") == space)
            new_rows = corpus.select("id", "embedding").join(
                info["assign"].select("id"), "id", "left_anti"
            )
            assigned_new = ivf_assign_blocked(
                new_rows, info["centroids"], metric="l2", dist_col="__sq"
            ).localCheckpoint(eager=True)
            stats = assigned_new.agg(
                F.count("*").alias("n"), F.sum("__sq").alias("sq")
            ).first()
            n_new = stats["n"]
            if n_new:
                batch_mean = stats["sq"] / n_new
                base = max(info["mean_sq_dist"], 1e-12)
                info["drift"] = batch_mean / base
                info["assign"] = (
                    info["assign"]
                    .unionByName(assigned_new.select("id", "cluster_id"))
                    .localCheckpoint(eager=True)
                )
                info["appended_rows"] += n_new
                # cumulative (appended-mass-weighted) drift alongside
                # the per-batch one: a stream of batches each marginally
                # under the threshold still latches once the appended
                # mass is a material share of the index AND its weighted
                # mean ratio exceeds the tighter cumulative threshold
                info["cum_appended_sq"] = (
                    info.get("cum_appended_sq", 0.0) + stats["sq"]
                )
                info["cum_drift"] = (
                    info["cum_appended_sq"] / info["appended_rows"]
                ) / base
                if info["drift"] > self.drift_threshold:
                    info["drifted"] = True
                elif (
                    info["appended_rows"]
                    >= self.CUM_DRIFT_MASS_FRACTION * max(target, 1)
                    and info["cum_drift"] > self.cum_drift_threshold
                ):
                    info["drifted"] = True
            info["rows_at_build"] = target
            return {
                "space": space,
                "appended": n_new,
                "drift": info["drift"],
                "cum_drift": info.get("cum_drift"),
                "drifted": info["drifted"],
            }

    def maintain(
        self, space: str = "clip", rebuild_on_drift: bool = False
    ) -> dict:
        """One housekeeping entry point for an index's background
        upkeep — what a scheduled job (or a streaming trigger's
        foreachBatch tail) calls so the SERVING path never pays
        maintenance latency: absorb uncovered rows
        (:meth:`append_to_ann_index`), refresh a stale calibration
        curve (:meth:`_maybe_recalibrate`'s contract), and — when
        ``rebuild_on_drift`` — re-fit a drift-latched index with
        :meth:`build_ann_index` instead of leaving it frozen on the
        exact fallback. The auto route performs the first two lazily
        on the hot path anyway; calling this off-path moves that work
        to the maintainer, which is the 100 TB deployment shape
        (reference: the mutable index is maintained by its ingest
        path, ``search_engine.py:81-131``; ours separates serve from
        maintain). Returns what happened:
        ``{appended, drift, drifted, recalibrated, rebuilt}``."""
        info = self._ann.get(space)
        if info is None:
            raise ValueError(
                f"maintain: no ANN index for space {space!r}; call "
                "build_ann_index first"
            )
        st = self.append_to_ann_index(space)
        rebuilt = False
        if info["drifted"] and rebuild_on_drift:
            cal = info.get("calibration")
            old_filters = dict(info.get("filter_calibrations", {}))
            # n_clusters re-derives from the CURRENT corpus (sqrt(N) —
            # the build default): a rebuild exists because the corpus
            # outgrew the fitted structure, so pinning the old cell
            # count would freeze the scan fraction at the old scale
            self.build_ann_index(
                space,
                calibrate=cal is not None,
                calibration_queries=(
                    cal.get("n_queries", 64) if cal else 64
                ),
                calibration_k=cal.get("k", 10) if cal else 10,
                calibration_fractions=(
                    tuple(p["fraction"] for p in cal["points"]) or None
                    if cal and cal.get("points")
                    else None
                ),
            )
            info = self._ann[space]
            # re-measure every previously calibrated filter against the
            # re-fit cells — a rebuild must not silently demote filtered
            # searches back to the exact fallback
            for m, fcal in old_filters.items():
                self.calibrate_filter(
                    space,
                    m,
                    calibration_queries=fcal.get("n_queries", 64),
                    calibration_k=fcal.get("k", 10),
                    calibration_fractions=(
                        tuple(p["fraction"] for p in fcal["points"])
                        or None
                    ),
                )
            rebuilt = True
        recal_sec = self._maybe_recalibrate(space, info)
        # clear the deferred-serve telemetry: maintain() just performed
        # the upkeep the deferrals were waiting on (round 12 — the
        # counter exists so operators can alert on a deployment that
        # never calls this; see _route's deferred branch)
        deferred_cleared = info.pop("n_deferred_serves", 0)
        info.pop("deferred_since", None)
        return {
            "space": space,
            "appended": st["appended"],
            "drift": info["drift"],
            "drifted": info["drifted"],
            "recalibrated": recal_sec is not None,
            "calibration_sec": recal_sec,
            "rebuilt": rebuilt,
            "deferred_serves_cleared": deferred_cleared,
        }

    #: UNCALIBRATED fallback (``build_ann_index(calibrate=False)``):
    #: recall_floor → fraction of cells probed, from the repo's own
    #: measured curves (bench_detail ivf_nprobe_curve_*, 44k/16×/64×):
    #: 1/8 of cells gave R@10 ≥ 0.95 on clustered (planted) data but
    #: only ~0.8 on the hard mixture, so floors above 0.8 may NOT map
    #: to the 1/8 point (round-8's map let a 0.9 floor ride it); 1/4
    #: gave ≥ 0.95 on the mixture; tighter floors get 1/2. These are
    #: this box's corpora — a calibrated index routes from ITS OWN
    #: measured curve instead (the honest per-corpus contract).
    _NPROBE_FRACTION = ((0.8, 0.125), (0.95, 0.25), (1.0, 0.5))

    def _ivf_plan(
        self,
        space: str,
        recall_floor: float,
        batch: bool = False,
        filter_key: str | None = None,
    ) -> tuple[int | None, float | None, str]:
        """Pick nprobe for a declared floor: from the index's own
        measured calibration curve when present (cheapest point whose
        measured recall meets the floor; ``None`` if no point does —
        the caller must go exact), else from the module-level
        ``_NPROBE_FRACTION`` fallback. With ``filter_key`` the plan
        reads the FILTERED curve measured by :meth:`calibrate_filter`
        (the caller guarantees one exists). The returned cost estimate
        is depth-matched: batch callers get the batch-amortized wall,
        single callers the single-query wall (falling back to the
        batch number for calibrations persisted before round 9).
        Returns ``(nprobe | None, measured_ivf_ms | None, why)``."""
        import math

        info = self._ann[space]
        cal = self._curve_for(info, filter_key)
        if cal and cal.get("points"):  # empty points → fraction map

            def _est(p: dict) -> float:
                return (
                    p["ms_per_q"]
                    if batch
                    else p.get("ms_single", p["ms_per_q"])
                )

            tag = (
                f"calibrated[filter={filter_key}]"
                if filter_key is not None
                else "calibrated"
            )
            ok = [p for p in cal["points"] if p["recall"] >= recall_floor]
            if ok:
                # CHEAPEST measured point meeting the floor — by the
                # depth-matched wall, not the first ascending fraction:
                # measured ms need not be monotone in fraction (job
                # overhead dominates small nprobe deltas), so
                # first-qualifying could pick a slower probe. Fraction
                # tie-breaks equal walls toward fewer cells.
                p = min(ok, key=lambda p: (_est(p), p["fraction"]))
                return (
                    p["nprobe"],
                    _est(p),
                    (
                        f"{tag}: frac={p['fraction']} measured "
                        f"R@{cal['k']}={p['recall']:.3f} >= floor"
                    ),
                )
            best = max(p["recall"] for p in cal["points"])
            return (
                None,
                None,
                (
                    f"{tag} curve max R@{cal['k']}={best:.3f} < "
                    f"floor {recall_floor}"
                ),
            )
        if filter_key is not None:
            # no measured curve under this filter — the fraction-map
            # fallback was never measured filtered, so it cannot
            # honor the floor here
            return (
                None,
                None,
                f"no measured curve for filter={filter_key!r}",
            )
        n_cells = len(info["centroids"])
        for bound, frac in self._NPROBE_FRACTION:
            if recall_floor <= bound:
                return (
                    max(1, math.ceil(frac * n_cells)),
                    None,
                    f"uncalibrated fraction map ({frac})",
                )
        return n_cells, None, "uncalibrated (probe all cells)"

    def _route(
        self,
        space: str,
        recall_floor: float,
        route: str,
        scorer: str = "auto",
        approximate: bool = False,
        filter_key: str | None = None,
        has_predicate: bool = False,
        batch: bool = False,
    ) -> _Route:
        """The ONE route decision for :meth:`search` and
        :meth:`search_batch`, recorded on ``last_route`` here and only
        here. The driver-resident block is checked FIRST: when the
        space fits ``local_exact_budget_bytes`` and the call is
        expressible driver-side (``scorer="auto"``, route not forced to
        IVF, no Column predicate, not the binary tier) the route is
        ``exact-local`` — exact, so it honors any floor, and it never
        runs index upkeep (auto-append, recalibration). Otherwise
        :meth:`_plan_ann` decides exact vs IVF and the exact scorer
        follows the size×dim dispatch (the batch threshold for
        batches, 8× it for single queries — ``_single_threshold``)."""
        block = None
        if (
            scorer == "auto"
            and route != "ivf"
            and not approximate
            and not has_predicate
        ):
            block = self._local_corpus(space)
        if block is not None:
            mb = block.bytes / (1024 * 1024)
            d = _Route(
                "exact-local",
                f"{space!r} corpus {block.n_live} rows × dim {self.dim}: "
                f"~{mb:.1f} MB estimated resident footprint (vectors "
                "+ payload strings) within local_exact_budget — driver-"
                "resident exact scan (same BLAS kernel + tie-break as "
                "the blocked scorer, no per-job scheduling floor; "
                "exact, so any recall floor is honored)",
                block=block,
            )
        else:
            threshold = (
                self.blocked_threshold_cells
                if batch
                else self._single_threshold()
            )
            nprobe, why, extras = self._plan_ann(
                space, recall_floor, route, scorer, approximate,
                filter_key, has_predicate, batch, threshold,
            )
            if nprobe is not None:
                extras = {
                    "nprobe": nprobe,
                    "n_clusters": len(self._ann[space]["centroids"]),
                    **extras,
                }
                d = _Route("ivf", why, nprobe, extras)
            else:
                blocked = scorer == "blocked" or (
                    scorer == "auto"
                    and not approximate  # shortlist already capped it
                    and self._corpus_rows() * self.dim >= threshold
                )
                d = _Route(
                    "exact-blocked" if blocked else "exact-hof", why,
                    extras=extras,
                )
        self.last_route = {
            "route": d.route,
            "reason": d.reason,
            "recall_floor": recall_floor,
            **d.extras,
        }
        return d

    def _plan_ann(
        self,
        space: str,
        recall_floor: float,
        route: str,
        scorer: str,
        approximate: bool,
        filter_key: str | None,
        has_predicate: bool,
        batch: bool,
        threshold_cells: int,
    ) -> tuple[int | None, str, dict[str, Any]]:
        """The exact-vs-IVF planner: IVF iff the caller declared slack
        (recall_floor < 1), an index covering the current corpus
        exists (post-build ingests are absorbed by auto-append), the
        index can MEET the floor on its measured curve, and IVF is the
        measured-cheaper path (calibrated timings; the size×dim
        ``threshold_cells`` as the uncalibrated fallback). An explicit
        exact ``scorer`` wins over the approximate route —
        ``scorer="blocked"``/``"hof"`` is the documented exact-parity
        surface and must never silently return approximate results.
        Returns (nprobe — None for exact, reason, extras) — the reason
        is logged on ``last_route`` either way, with any per-decision
        annotations (calibration cost/deferral) in the returned
        ``extras`` dict. Extras are a RETURN value, not instance state:
        the facade serves concurrent searches, and a shared mutable
        attribute would let two calls cross-contaminate each other's
        ``last_route`` annotations."""
        extras: dict[str, Any] = {}
        if route == "ivf":
            if scorer != "auto":
                # an explicit scorer is the documented EXACT-parity
                # surface ("must never silently return approximate
                # results") — combining it with a forced approximate
                # route is a contradiction we refuse rather than
                # silently resolving either way
                raise ValueError(
                    f'route="ivf" conflicts with explicit scorer='
                    f"{scorer!r}: an explicit scorer forces the exact "
                    "path; drop one of the two arguments"
                )
            if self._ann.get(space) is None:
                raise ValueError(
                    f'route="ivf" requires build_ann_index(space='
                    f"{space!r}) — no ANN index exists for this space"
                )
            # plan from the filtered curve when one was measured — a
            # forced route must still probe at the depth the FILTERED
            # measurement says the floor needs
            fk = (
                filter_key
                if self._curve_for(self._ann[space], filter_key)
                is not None
                else None
            )
            nprobe, _ms, _why = self._ivf_plan(
                space, recall_floor, filter_key=fk
            )
            if nprobe is None:
                # forced route is honored; probe every cell (exhaustive
                # IVF) rather than silently under-delivering the floor
                nprobe = len(self._ann[space]["centroids"])
            return nprobe, "forced", extras
        if route != "auto":
            return None, "forced-exact", extras
        if scorer != "auto":
            return (
                None,
                f"explicit scorer={scorer!r} forces the exact path "
                "(exact-parity surface wins over route)",
                extras,
            )
        if approximate:
            return None, "binary-shortlist requested", extras
        if has_predicate:
            # arbitrary-Column-predicate honesty: recall under a
            # predicate the engine cannot enumerate is unmeasurable, so
            # the declared floor is only honorable exactly. The
            # reference over-fetches k*10 for the same reason
            # (vector_index.py:129); our exact path pushes the
            # predicate below the scan instead. (A content-type filter
            # CAN route IVF — from its own measured curve; see below.)
            return None, (
                "explicit Column predicate present — recall under an "
                "arbitrary predicate is unmeasured, so the exact path "
                "honors the floor"
            ), extras
        if recall_floor >= 1.0:
            return None, "recall_floor=1.0 requires exact", extras
        info = self._ann.get(space)
        if info is None:
            return None, f"no ANN index for space {space!r}", extras

        def _drift_reason() -> str:
            return (
                f"embedding drift {info['drift']:.2f}x exceeds "
                f"threshold {self.drift_threshold}; rebuild to re-enable"
            )

        if info["drifted"]:
            return None, _drift_reason(), extras
        # Coverage maintenance and calibration staleness run BEFORE the
        # floor/cost gates (round-10 review fix): a STALE curve can fail
        # the floor or cost gate in exactly the situations a refresh
        # would reverse — e.g. a curve measured at N rows whose recall
        # just missed the floor pins the route to a full scan of the
        # now-10×-grown corpus forever, and a stale (small-corpus)
        # exact_ms under-prices the exact scan precisely when the corpus
        # has grown most. The gates must therefore see a curve measured
        # on the corpus being served.
        if self._space_rows(space) != info["rows_at_build"]:
            if self.ann_auto_append:
                self.append_to_ann_index(space)
                if info["drifted"]:  # this append latched it
                    return None, _drift_reason(), extras
            else:
                return None, (
                    "corpus changed since ANN build "
                    f"({info['rows_at_build']} -> "
                    f"{self._space_rows(space)} rows in {space!r}); "
                    "append_to_ann_index or rebuild to re-enable"
                ), extras
        # once the live corpus has outgrown the calibrated one by
        # recalibration_fraction, refresh the measured curve on the
        # CURRENT corpus (appended ids enter the xxhash64 query sample
        # and the exact ground truth). With defer_recalibration the
        # hot path never absorbs that sweep: if the curve THIS query
        # consults is stale, serve exact + flag and leave the refresh
        # to maintain(); other curves' staleness is the maintainer's
        # business either way.
        if self.defer_recalibration:
            stale_here = (
                filter_key in self._stale_filter_keys(space, info)
                if filter_key is not None
                else self._main_curve_stale(space, info)
            )
            if stale_here:
                import time

                # operational visibility (round 12): with deferral on,
                # NOTHING refreshes until maintain() runs — a
                # deployment that forgets to schedule it serves exact
                # forever (correct, silently slower). Count every
                # deferred serve and stamp when deferral began so an
                # operator can alert on last_route/maintain() output.
                info["n_deferred_serves"] = (
                    info.get("n_deferred_serves", 0) + 1
                )
                info.setdefault("deferred_since", time.time())
                extras["calibration_deferred"] = True
                extras["n_deferred_serves"] = info["n_deferred_serves"]
                extras["deferred_since"] = info["deferred_since"]
                return None, (
                    "calibration curve stale (corpus outgrew it by > "
                    f"{self.recalibration_fraction:.0%}); recalibration "
                    "deferred to maintain() — exact serves and honors "
                    "the floor"
                ), extras
            prefix = ""
        else:
            recal_sec = self._maybe_recalibrate(space, info)
            prefix = "recalibrated; " if recal_sec is not None else ""
            if recal_sec is not None:
                extras["calibration_sec"] = round(recal_sec, 3)
        if filter_key is not None and filter_key not in info.get(
            "filter_calibrations", {}
        ):
            # filtered-ANN honesty: the unfiltered curve holds only
            # unfiltered (a selective filter concentrates the true
            # top-k into cells nprobe may skip). A filter with its OWN
            # measured curve (build_ann_index(calibration_filters=…) /
            # calibrate_filter) routes from it below; others stay exact.
            return None, (
                f"content-type filter {filter_key!r} has no measured "
                "calibration curve — calibrate_filter() to enable "
                "filtered IVF; exact honors the floor"
            ), extras
        nprobe, ivf_ms, plan_why = self._ivf_plan(
            space, recall_floor, batch=batch, filter_key=filter_key
        )
        if nprobe is None:
            return None, (
                f"{prefix}{plan_why} — exact honors the floor"
            ), extras
        cal = self._curve_for(info, filter_key)
        why_cost = ""
        if cal is not None and ivf_ms is not None:
            # measured-cost crossover: both sides timed on THIS corpus
            # at the MATCHING depth (batch-amortized vs single-query
            # walls) — the dispatch moves with dim, cluster count and
            # corpus size instead of a module constant
            exact_ms = (
                cal["exact_ms_per_q"]
                if batch
                else cal.get("exact_ms_single", cal["exact_ms_per_q"])
            )
            depth = "batch" if batch else "single-query"
            if ivf_ms >= exact_ms:
                return None, (
                    f"{prefix}measured cost ({depth}): ivf {ivf_ms:.2f}"
                    f" >= exact {exact_ms:.2f} ms — exact is the "
                    "cheaper way to honor the floor"
                ), extras
            why_cost = (
                f"; measured {depth} ivf {ivf_ms:.2f} < exact "
                f"{exact_ms:.2f} ms"
            )
        elif self._space_rows(space) * self.dim < threshold_cells:
            return None, "below size threshold — exact scan is cheap", extras
        return nprobe, f"auto ({prefix}{plan_why}{why_cost})", extras

    # -- search (search_engine.py:174-223) -----------------------------
    def search(
        self,
        query: str | list[float],
        query_type: str = "text",
        k: int = 10,
        filter_content_type: str | None = None,
        query_space: str | None = None,
        strategy: str = "distance",
        predicate: Column | None = None,
        approximate: bool = False,
        shortlist: int = 200,
        scorer: str = "auto",
        route: str = "auto",
        recall_floor: float = 1.0,
    ) -> list[dict[str, Any]]:
        """Top-k search. Text queries embed into ``query_space``
        (default: the space implied by ``filter_content_type``, else
        clip). Only same-space rows are scored — cross-space similarity
        is refused by construction.

        **Driver-resident micro-path** (round 10, checked FIRST): when
        the space's vector mass fits ``local_exact_budget_bytes`` and
        the call is expressible driver-side (``scorer="auto"``, route
        not forced to IVF, no Column ``predicate``, not the binary
        tier), the search is served exactly from an epoch-invalidated
        in-process corpus copy — same kernel + tie-break as the
        blocked scorer, no Spark job (``last_route.route ==
        "exact-local"``). Everything below describes the over-budget
        Spark paths.

        **Exact-vs-IVF planner** (rounds 8-9 — SURVEY §4's deferred
        rule): ``recall_floor`` declares the quality contract. At the
        default 1.0 the search is always exact. A floor < 1.0 lets
        ``route="auto"`` pick the IVF index built by
        :meth:`build_ann_index`: nprobe comes from the index's OWN
        build-time calibration curve (cheapest measured point whose
        recall meets the floor; exact when none does), IVF is taken
        only when it also MEASURED cheaper than the exact scan
        (uncalibrated indexes fall back to ``_NPROBE_FRACTION`` + the
        size×dim threshold), and post-build ingests are absorbed by
        :meth:`append_to_ann_index` (auto-invoked; measured embedding
        drift above ``drift_threshold`` → exact until rebuild).
        ``route="ivf"``/``"exact"`` force a path; an explicit
        ``scorer=`` forces exact (the parity surface wins over the
        approximate route). Every call records its decision on
        ``self.last_route``.

        **Scorer dispatch** (``scorer="auto"``, the default): when
        ``corpus_rows × dim`` exceeds 8× ``blocked_threshold_cells``
        (the single-query crossover sits ~8× above the batch one —
        measurements at ``BLOCKED_THRESHOLD_CELLS``),
        scoring routes through the blocked BLAS scorer
        (:func:`~multimodal_vector_db_spark.operators.knn.knn_search_blocked`
        — per-partition matmul + local top-k, ``TakeOrdered`` over
        ``partitions × k`` candidates), with payload columns re-fetched
        by a pushed ``id IN (...)`` point-lookup over a column-pruned
        corpus scan. Below the threshold the codegen'd HOF-dot plan of
        :func:`~multimodal_vector_db_spark.operators.knn.knn_search`
        wins (no Arrow round-trip). The reference's search is *always*
        its fast path (``vector_index.py:131`` hnswlib); ours is too —
        at its 44k × 512-d scale the HOF form measures 214 ms/query vs
        ~5 ms blocked (BENCH ref_scale). ``scorer="hof"`` /
        ``"blocked"`` force a path (parity tests; both return identical
        winner sets — scores differ only in fp accumulation order).

        ``approximate=True`` routes through the binary sign-bit tier
        (the engine's analogue of the reference's always-approximate
        hnswlib search): a 16-byte/vector Hamming scan shortlists
        ``shortlist`` candidates, the exact dot reranks only those.
        Quality is a measured recall contract, not a hope — see
        ``knn_binary_rerank_recall10`` in the bench output."""
        space = query_space or SPACE_OF.get(filter_content_type or "text", "clip")
        qvec = (
            self._embed(query, space) if isinstance(query, str) else query
        )
        diversity = strategy not in (None, "distance")
        fetch_n = max(k * 4, 20) if diversity else k
        d = self._route(
            space,
            recall_floor,
            route,
            scorer,
            approximate=approximate,
            filter_key=filter_content_type,
            has_predicate=predicate is not None,
        )
        if d.block is not None:
            rows = self._local_topk(
                d.block, [qvec], fetch_n, filter_content_type, diversity
            )[0]
            return rerank(rows, strategy=strategy, top_k=k)
        corpus = self._space_corpus(space, filter_content_type)
        if predicate is not None:
            corpus = corpus.filter(predicate)
        if approximate:
            corpus = self._binary_shortlist(corpus, qvec, shortlist)
        if d.route == "exact-hof":
            # diversity reranking needs the candidates' vectors: carry
            # the embedding column THROUGH the top-k as a payload column
            # (the same single-plan shape as q_mmr_rerank) instead of a
            # second re-fetch job — one Spark action per search
            payload = [
                c for c in corpus.columns if c not in ("embedding", "dim")
            ]
            if diversity:
                payload.append("embedding")
            top = knn.knn_search(corpus, qvec, k=fetch_n, payload_cols=payload)
            rows = [r.asDict() for r in top.collect()]
        else:
            # Two small actions, each the cheapest possible shape: the
            # scoring pass over a TWO-column scan (blocked: a
            # ``TakeOrderedAndProject`` over ``partitions × k`` local
            # winners), then the payload point-lookup of
            # :meth:`_with_payload`. (A single-plan broadcast-join
            # variant measured WORSE here: the final orderBy added
            # range-partitioning sample jobs — 4 full corpus scans per
            # search instead of these 2 passes.)
            pairs = (
                self._ivf_pairs(corpus, space, [qvec], fetch_n, d.nprobe)
                if d.route == "ivf"
                else [
                    (0, r["id"], r["sim"])
                    for r in knn.knn_search_blocked(
                        corpus, qvec, k=fetch_n
                    ).collect()
                ]
            )
            rows = self._with_payload(corpus, pairs, 1, diversity)[0]
        return rerank(rows, strategy=strategy, top_k=k)

    def search_batch(
        self,
        queries: list[str | list[float]],
        k: int = 10,
        query_type: str = "text",
        filter_content_type: str | None = None,
        query_space: str | None = None,
        scorer: str = "auto",
        route: str = "auto",
        recall_floor: float = 1.0,
    ) -> dict[int, list[dict[str, Any]]]:
        """Batch top-k search — the facade twin of the reference's
        ``VectorIndex.batch_search`` (``vector_index.py:162-210``), and
        the shape Spark actually serves well: one job amortizes
        scheduling/scan cost over every query (the reference's
        sequential per-query loop cannot amortize at all; see the
        ``facade_batch_ms_per_query`` ref-scale bench row).

        Same scorer dispatch as :meth:`search`: above the size×dim
        threshold, ``knn_join_blocked`` (per-partition BLAS, shuffle
        bounded by ``partitions × k × |queries|``); below it, the
        codegen'd broadcast-join form. Payload is point-fetched for the
        union of winner ids with one pushed ``IN`` predicate. Returns
        ``{query_index: [row dicts ranked by sim]}``."""
        space = query_space or SPACE_OF.get(filter_content_type or "text", "clip")
        qvecs = [
            self._embed(q, space) if isinstance(q, str) else q
            for q in queries
        ]
        # the batch form is where IVF pays most (one pruned job
        # amortizes over every query); with many queries the blocked/IVF
        # crossover arrives earlier, so the route uses the BATCH size
        # threshold, not the 8× single-query one
        d = self._route(
            space,
            recall_floor,
            route,
            scorer,
            filter_key=filter_content_type,
            batch=True,
        )
        if d.block is not None:
            return dict(
                enumerate(
                    self._local_topk(d.block, qvecs, k, filter_content_type)
                )
            )
        corpus = self._space_corpus(space, filter_content_type)
        if d.route == "ivf":
            pairs = self._ivf_pairs(corpus, space, qvecs, k, d.nprobe)
        else:
            qs = [(i, [float(x) for x in v]) for i, v in enumerate(qvecs)]
            if d.route == "exact-blocked":
                # vectors ride the task closure — no query-DF collect job
                scored = knn.knn_join_blocked(corpus, qs, k=k)
            else:
                qdf = _arrow_frame(
                    self.spark, qs, "query_id long, q_emb array<double>"
                )
                scored = knn.knn_join(corpus, qdf, k=k)
            pairs = [
                (r["query_id"], r["id"], r["sim"])
                for r in sorted(
                    scored.select("query_id", "id", "sim", "rank").collect(),
                    key=lambda r: (r["query_id"], r["rank"]),
                )
            ]
        return self._with_payload(corpus, pairs, len(qvecs))

    # -- content-based audio search (search_audio.py UX, torch-free) ----
    @_serialized_mutation
    def ingest_audio_content(
        self,
        media: DataFrame,
        id_col: str = "doc_id",
        content_col: str = "content",
        n_samples: int = 64,
        n_bands: int = 16,
        display_name_col: str | None = None,
    ) -> None:
        """Corpus-side embed for content-based audio retrieval: each
        ``(id, WAV-or-FLAC bytes)`` row is decoded through the REAL
        codecs on the executors, Walsh-Hadamard sequency-band
        fingerprinted (integer-exact), converted to a relative-energy
        L2-normalized signature, and appended to the items table in the
        dedicated ``audio_sig`` space. This is the reference's
        ``build_audio_index.py`` flow with the CLAP forward replaced by
        the deterministic real-DSP front-end — the same arithmetic
        :meth:`search_audio_content` runs on the query clip, so query
        and corpus live in one space. One ``mapInPandas`` decode pass,
        no driver loop; ids are the caller's (they must not collide
        with existing item ids)."""
        from multimodal_vector_db_spark.functions.vector import (
            l2_normalize,
        )
        from multimodal_vector_db_spark.multimodal.pipeline import (
            audio_sequency_features,
        )

        feats = audio_sequency_features(
            media,
            n_samples=n_samples,
            n_bands=n_bands,
            id_col=id_col,
            content_col=content_col,
        )
        rel = F.transform(
            F.col("bands"),
            lambda b: F.coalesce(
                F.try_divide(
                    b.cast("double"), F.col("total").cast("double")
                ),
                F.lit(0.0),
            ),
        )
        display = (
            media.select(
                F.col(id_col).alias("__did"),
                F.col(display_name_col).alias("__dname"),
            )
            if display_name_col is not None
            else None
        )
        new = feats.select(
            F.col(id_col).cast("long").alias("id"),
            F.lit("audio").alias("modality"),
            F.lit(AUDIO_SIG_SPACE).alias("space"),
            l2_normalize(rel).cast("array<float>").alias("embedding"),
            F.lit(n_bands).alias("dim"),
            F.lit(False).alias("deleted"),
            F.lit(None).cast("string").alias("content"),
            F.concat(F.lit("audio_"), F.col(id_col).cast("string")).alias(
                "display_name"
            ),
        )
        if display is not None:
            new = (
                new.join(display, new["id"] == display["__did"], "left")
                .withColumn(
                    "display_name",
                    F.coalesce(F.col("__dname"), F.col("display_name")),
                )
                .drop("__did", "__dname")
            )
        n_new = None
        if self._n_rows is not None or self._n_rows_by_space is not None:
            new = new.localCheckpoint(eager=True)
            n_new = new.count()
        self._transform_items(
            lambda cur: (
                new
                if cur is None
                else cur.unionByName(new, allowMissingColumns=True)
            )
        )
        self._epoch += 1
        # ids here are the CALLER's (doc ids) — the maintained max-id
        # counter no longer covers them; recompute lazily on next use
        self._max_id = None
        if n_new is not None:
            if self._n_rows is not None:
                self._n_rows += n_new
            self._bump_space(AUDIO_SIG_SPACE, n_new)

    def search_audio_content(
        self,
        content: bytes,
        k: int = 10,
        predicate: Column | None = None,
        scorer: str = "auto",
        n_samples: int = 64,
        n_bands: int = 16,
    ) -> list[dict[str, Any]]:
        """Query-by-audio through the facade — the reference's
        ``search_audio.py`` UX, torch-free: embed the raw WAV/FLAC
        query clip driver-side with
        :func:`~multimodal_vector_db_spark.multimodal.pipeline.
        audio_signature_vector` (the single-clip twin of the corpus
        operator — identical integer WHT arithmetic) and run the
        standard space-correct top-k against the ``audio_sig`` rows
        ingested by :meth:`ingest_audio_content`. All :meth:`search`
        machinery applies (scorer dispatch, predicates, payload
        fetch)."""
        from multimodal_vector_db_spark.multimodal.pipeline import (
            audio_signature_vector,
        )

        qvec = audio_signature_vector(
            bytes(content), n_samples=n_samples, n_bands=n_bands
        )
        return self.search(
            qvec,
            k=k,
            query_space=AUDIO_SIG_SPACE,
            predicate=predicate,
            scorer=scorer,
        )

    # -- driver-resident exact micro-path (round 10) --------------------
    _row_payload_bytes = staticmethod(_payload_bytes)

    def _local_cache_extend(
        self, prev_epoch: int, data: list[tuple]
    ) -> None:
        """Absorb freshly ingested rows into still-valid resident blocks
        (round 11 — the epoch-rebuild cost contract): under a steady
        trickle of interactive ingests interleaved with searches, the
        pre-round-11 engine re-collected the whole space on every
        search. The appended rows hold the SAME values a rebuild would
        collect (embeddings pass through the float32 cast DataFrame
        storage applies, so arrays stay bit-identical — parity-tested),
        the footprint estimate grows by the same arithmetic as the
        build-time agg, and a block outgrowing the budget is dropped
        with an over-budget verdict. Stale blocks are left alone (they
        rebuild lazily); valid blocks of spaces this ingest did not
        touch are restamped, since their rows did not change.

        ``data`` rows are ``_ITEMS_SCHEMA``-ordered tuples
        (id, modality, space, embedding, dim, deleted, content,
        display_name) — exactly what :meth:`batch_ingest` builds."""
        if self.local_exact_budget_bytes <= 0 or not data:
            return
        by_space: dict[str, list[tuple]] = {}
        for t in data:
            by_space.setdefault(t[2], []).append(t)
        for space, block in list(self._local_cache.items()):
            if block.epoch != prev_epoch:
                continue
            ts = by_space.get(space)
            if ts is None:
                self._local_cache[space] = block.restamp(self._epoch)
                continue
            if block.payload and set(block.payload[0]) != set(_PAYLOAD_COLS):
                # payload schema drifted from the canonical columns
                # (e.g. a corpus loaded with extra columns) — leave the
                # block stale and let the rebuild path re-collect
                continue
            payload = [
                dict(zip(_PAYLOAD_COLS, (t[0], t[1], t[2], *t[5:])))
                for t in ts
            ]
            nbytes = block.bytes + _rows_bytes(payload, self.dim)
            if nbytes > self.local_exact_budget_bytes:
                self._local_cache.pop(space, None)
                self._local_over_budget[space] = self._epoch
                continue
            self._local_cache[space] = block.extend(
                self._epoch,
                [t[0] for t in ts],
                # DataFrame storage truncates the driver-side float64
                # embeddings to float32; a rebuild collects those values
                np.asarray([t[3] for t in ts], dtype=np.float32),
                [t[1] for t in ts],
                payload,
                nbytes,
            )

    def _local_corpus(self, space: str) -> _ResidentBlock | None:
        """The micro-path's resident block of ``space``'s LIVE rows —
        the one place a block is built from the corpus. Returns None
        when disabled (``local_exact_budget_bytes=0``) or when the
        space's estimated TOTAL resident footprint — vector mass (rows
        × dim × 8 B, the float64 matrix actually held) PLUS the
        measured payload string bytes (one column-pruned
        ``sum(octet_length(...))`` agg, run before anything is
        collected) — exceeds the budget; above it the Spark paths serve
        (the cache is the small-corpus latency fix, not a general
        execution mode — at 100 TB every space is far past the budget
        and nothing changes). Gating on vector mass alone would let a
        fat-payload corpus (say 100k × 50 KB documents: ~205 MB of
        vectors, ~5 GB of content strings) collect gigabytes to the
        driver — the reference holds full metadata in process
        (``vector_index.py:24``), a flaw this tier must not inherit.
        An over-budget verdict is remembered per epoch so repeated
        searches don't re-run the footprint agg.

        The block comes from ONE Arrow collect: the vectors arrive as
        one flat float32 buffer that is widened into the float64
        matrix (exact, the blocked scorer's cast), with no per-row
        Python objects for the vector values. Payload values are
        Arrow's Python conversions — the same values a Row collect
        gives for the items schema's string/integer/boolean columns;
        an extra timestamp, map or struct column would come back
        tz-aware, as pairs, or as a dict.

        Keyed on the corpus mutation epoch: every ingest/remove bumps
        ``_epoch``; valid blocks are maintained in place by those
        mutations, and any other change rebuilds on the next call (one
        collect — the cost of a single Spark-path search, amortized
        over every call until then). The epoch is snapshotted BEFORE
        the collect: a concurrent ingest mid-build leaves the block
        stamped stale, never new-epoch-with-old-rows."""
        budget = self.local_exact_budget_bytes
        if budget <= 0 or self._corpus_absent():
            return None
        if self._space_rows(space) * self.dim * 8 > budget:
            return None
        block = self._local_cache.get(space)
        if block is not None and block.epoch == self._epoch:
            return block
        if self._local_over_budget.get(space) == self._epoch:
            return None
        epoch = self._epoch
        corpus = active(self.items).where(F.col("space") == space)
        pay_cols = [
            c for c in corpus.columns if c not in ("embedding", "dim")
        ]
        # payload footprint BEFORE the collect (see docstring): string
        # columns measured exactly, everything else a per-row constant
        size_expr = F.lit(0).cast("long")
        for c, t in corpus.dtypes:
            if c in pay_cols and t == "string":
                size_expr = size_expr + F.coalesce(
                    F.octet_length(F.col(c)).cast("long"), F.lit(0)
                )
        stats = corpus.agg(
            F.count("*").alias("n"), F.sum(size_expr).alias("s")
        ).first()
        # the vector term re-derives from the agg's LIVE row count:
        # _space_rows is a tombstone-inclusive upper bound (fine for
        # the cheap pre-filter above), but the admitted footprint must
        # match what the collect actually holds — and stay equal to the
        # incrementally maintained estimate (parity-tested). 8 B/elem:
        # the RESIDENT matrix is float64, so the vector term equals
        # the block's emb.nbytes
        total_bytes = (
            stats["n"] * (self.dim * 8 + _ROW_OVERHEAD_BYTES)
            + (stats["s"] or 0)
        )
        if total_bytes > budget:
            self._local_over_budget[space] = epoch
            return None
        t = corpus.select("embedding", *pay_cols).toArrow()
        n = t.num_rows
        block = _ResidentBlock.build(
            epoch,
            t.column("id").to_numpy(),
            (
                t.column("embedding").combine_chunks().flatten()
                .to_numpy(zero_copy_only=False).reshape(n, -1)
                if n
                else np.zeros((0, self.dim))
            ),
            t.column("modality").to_numpy(),
            t.select(pay_cols).to_pylist(),
            total_bytes,
        )
        self._local_cache[space] = block
        return block

    def _admit(self) -> threading.BoundedSemaphore:
        """The micro-path's admission gate, entered as ``with
        self._admit():`` around all resident-block scoring: at most
        ``local_max_concurrency`` calls score at once, and excess
        callers park on the semaphore (releasing the GIL) instead of
        joining the runnable-thread convoy — see ``_local_gate``."""
        return self._local_gate

    def _local_topk(
        self,
        block: _ResidentBlock,
        qvecs: list[list[float]],
        k: int,
        modality: str | None = None,
        embedding: bool = False,
    ) -> list[list[dict[str, Any]]]:
        """The micro-path's one scoring kernel, for single (a batch of
        one) and batch searches: ``S = emb @ Q.T`` over the whole block,
        the content-type filter restricts the ROWS of ``S`` (scores are
        gathered, never matrix rows), then the blocked scorers' exact
        ``(sim desc, id asc)`` selection per query — ``topk_rows_1d`` /
        ``topk_rows_2d`` are literally those scorers' kernels, so the
        results match the Spark exact path (parity-tested). A 1-row
        ``Q`` gives the GEMV result bit-for-bit. Returns one ranked
        list of payload row dicts (plus ``sim``, plus ``embedding``
        when asked) per query. The reference's most common user path
        is ONE interactive query (``search_images.py:42-59``), where
        Spark local mode's per-job scheduling floor (~0.5 s) is 40×
        the actual scoring work at 44k × 512-d."""
        from multimodal_vector_db_spark.functions.blasctl import (
            gemm_section,
        )

        out: list[list[dict[str, Any]]] = [[] for _ in qvecs]
        with self._admit():
            sel = block.rows(modality)
            ids = block.ids if sel is None else block.ids[sel]
            if not len(ids):
                return out
            with gemm_section():
                S = block.emb @ np.asarray(qvecs, dtype=np.float64).T
            if sel is not None:
                S = S[sel]
            kk = min(k, len(ids))
            top = (
                knn.topk_rows_1d(S[:, 0], ids, kk)[:, None]
                if len(qvecs) == 1
                else knn.topk_rows_2d(S, ids, kk)
            )
            for j, rows in enumerate(out):
                for t in top[:, j]:
                    src = t if sel is None else sel[t]
                    r = dict(block.payload[src])
                    r["sim"] = float(S[t, j])
                    if embedding:
                        r["embedding"] = block.emb[src].tolist()
                    rows.append(r)
        return out

    def _compare_local(
        self, qs: list[dict[str, list[float]]], k_per_modality: int
    ) -> dict[int, list[dict[str, Any]]] | None:
        """Driver-resident dual-space scoring for the three compare
        entry points — the §3.3 signature query is a SINGLE interactive
        call in the reference (``search_cross_modal.py:107-173``), so it
        gets the same micro-path as :meth:`search`. Every space's live
        rows must collectively fit the byte budget (all spaces are
        scored); each row scores against ITS space's query vector
        (absent spaces fall back to clip — the HOF form's ``otherwise``
        branch), then exact top-k per (query, modality) with the
        blocked kernel's tie-break. Returns ``{query_index: [row dicts
        in _COMPARE_SCHEMA order, ranked per modality]}`` and logs the
        route, or None when over budget / disabled."""
        from multimodal_vector_db_spark.functions.blasctl import (
            gemm_section,
        )

        budget = self.local_exact_budget_bytes
        if budget <= 0 or self._corpus_absent():
            return None
        self._space_rows("clip")  # materialize the per-space map
        spaces = sorted(
            s for s, n in self._n_rows_by_space.items() if n > 0
        )
        if sum(self._n_rows_by_space[s] for s in spaces) * self.dim * 8 > budget:
            return None
        blocks = {}
        for s in spaces:
            b = self._local_corpus(s)
            # a space at a different width (e.g. audio_sig WHT
            # signatures) cannot score against the engine-dim query
            # vectors — defer to the Spark paths' handling
            if b is None or (len(b.ids) and b.emb.shape[1] != self.dim):
                return None
            blocks[s] = b
        if sum(b.bytes for b in blocks.values()) > budget:
            # every space fits individually but not together — the
            # compare path holds ALL of them resident at once
            return None
        self.last_route = {
            "route": "exact-local",
            "reason": (
                "all spaces within local_exact_budget — driver-resident "
                "dual-space scoring"
            ),
        }
        out: dict[int, list[dict[str, Any]]] = {i: [] for i in range(len(qs))}
        live = [s for s in spaces if blocks[s].n_live]
        if not live:
            return out
        with self._admit():
            # per-epoch derived structures (concatenated ids,
            # per-modality row selections, row→(space, local index)
            # maps): building these costs ~n Python-object ops, so they
            # are computed ONCE per corpus epoch, not per call. Validity
            # is keyed on the EPOCHS OF THE BLOCKS it was built from, not
            # on self._epoch: a block snapshots its epoch BEFORE its
            # collect (an ingest landing mid-collect leaves it stamped
            # stale), so a structure stamped with the then-current
            # global epoch could match self._epoch while the blocks it
            # indexes into have since been rebuilt — misaligned
            # group_sel/ids_cat over fresh matrices. Block epochs
            # strictly increase across rebuilds, so equality here proves
            # cc was derived from exactly these blocks.
            epochs = {s: blocks[s].epoch for s in spaces}
            cc = self._compare_cache
            if (
                cc is None
                or cc["spaces"] != spaces
                or cc["cache_epochs"] != epochs
            ):
                mods = np.concatenate([blocks[s].modality for s in live])
                # removed rows a block still holds belong to no group
                alive = np.concatenate(
                    [
                        np.ones(len(blocks[s].ids), bool)
                        if blocks[s].live is None
                        else blocks[s].live
                        for s in live
                    ]
                )
                # None-safe ordering: a null modality is its own group
                # (the Spark window form partitions it too); it sorts last
                groups = sorted(
                    set(mods[alive].tolist()), key=lambda g: (g is None, g)
                )
                cc = self._compare_cache = {
                    "cache_epochs": epochs,
                    "spaces": spaces,
                    "ids_cat": np.concatenate([blocks[s].ids for s in live]),
                    "sp_idx": np.concatenate(
                        [np.full(len(blocks[s].ids), i) for i, s in enumerate(live)]
                    ),
                    "row_idx": np.concatenate(
                        [np.arange(len(blocks[s].ids)) for s in live]
                    ),
                    "groups": groups,
                    "group_sel": {
                        g: np.nonzero((mods == g) & alive)[0]
                        for g in groups
                    },
                }
            # one GEMM per space scores EVERY query at once, then exact
            # per-(query, modality) top-k
            with gemm_section():
                S = np.concatenate(
                    [
                        blocks[s].emb
                        @ np.array(
                            [q.get(s, q["clip"]) for q in qs],
                            dtype=np.float64,
                        ).T
                        for s in live
                    ],
                    axis=0,
                )  # (n, nq)
            for g in cc["groups"]:
                sel = cc["group_sel"][g]
                Sg, ids_g = S[sel], cc["ids_cat"][sel]
                kk = min(k_per_modality, len(sel))
                for qi, rows in out.items():
                    top = knn.topk_rows_1d(Sg[:, qi], ids_g, kk)
                    for rank, t in enumerate(top, start=1):
                        src = sel[t]
                        pay = blocks[live[cc["sp_idx"][src]]].payload[
                            cc["row_idx"][src]
                        ]
                        rows.append(
                            {
                                "modality": g,
                                "space": pay["space"],
                                "id": int(ids_g[t]),
                                "display_name": pay["display_name"],
                                "sim": float(Sg[t, qi]),
                                "rank": rank,
                            }
                        )
        return out

    def _space_corpus(self, space: str, modality: str | None) -> DataFrame:
        """Live rows of ``space``, restricted to a content type if given."""
        corpus = active(self.items).where(F.col("space") == space)
        if modality is not None:
            corpus = corpus.where(F.col("modality") == modality)
        return corpus

    def _ivf_pairs(
        self,
        corpus: DataFrame,
        space: str,
        qvecs: list[list[float]],
        k: int,
        nprobe: int,
    ) -> list[tuple[int, int, float]]:
        """IVF top-``k`` per query as ``(query_index, id, sim)`` ranked by
        (query, sim desc, id asc). The slim ``(id, cluster_id)``
        assignment is joined back to ``corpus`` so tombstones and
        filters applied to it hold; MLlib-fitted centroids are probed
        by the SAME l2 rule."""
        from multimodal_vector_db_spark.operators.ann import (
            ivf_search_blocked,
        )

        info = self._ann[space]
        rows = ivf_search_blocked(
            corpus.select("id", "embedding").join(info["assign"], "id"),
            [(i, [float(x) for x in v]) for i, v in enumerate(qvecs)],
            info["centroids"],
            k=k,
            nprobe=nprobe,
            probe_metric="l2",
        ).collect()
        return sorted(
            ((r["query_id"], r["id"], r["sim"]) for r in rows),
            key=lambda p: (p[0], -p[2], p[1]),
        )

    def _with_payload(
        self,
        corpus: DataFrame,
        pairs: list[tuple[int, int, float]],
        n_queries: int,
        embedding: bool = False,
    ) -> dict[int, list[dict[str, Any]]]:
        """Attach payload columns (plus the vector when ``embedding``) to
        ranked ``(query_index, id, sim)`` winners with ONE point-lookup
        of the union of winner ids (:meth:`_fetch_payload`) — the
        exact-blocked and IVF scorers return ids and sims only."""
        pay = [
            c for c in corpus.columns if c not in ("embedding", "dim", "id")
        ]
        if embedding:
            pay.append("embedding")
        fetched = self._fetch_payload(
            corpus, sorted({i for _, i, _ in pairs}), pay
        )
        out: dict[int, list[dict[str, Any]]] = {
            q: [] for q in range(n_queries)
        }
        for q, i, sim in pairs:
            if i in fetched:
                out[q].append({**fetched[i], "sim": sim})
        return out

    def _fetch_payload(
        self, corpus: DataFrame, ids: list[int], pay: list[str]
    ) -> dict[int, dict[str, Any]]:
        """Point-lookup of payload columns for a winner-id set, as a
        {id: row dict}. ≤128 ids: a LITERAL ``id IN (...)`` predicate —
        statically pushed to the parquet scan (row-group min-max
        pruning). Above that, a literal IN list makes Catalyst plan
        O(|ids|) expression nodes (measured erratic multi-second
        planning at 2,560 literals), so the fetch switches to a
        broadcast hash join against the tiny id frame — O(1) plan size,
        one map-side scan."""
        if len(ids) > 128:
            ids_df = _arrow_frame(self.spark, [(i,) for i in ids], "id long")
            fetch_df = corpus.select("id", *pay).join(
                F.broadcast(ids_df), "id"
            )
        else:
            fetch_df = corpus.select("id", *pay).where(
                F.col("id").isin(ids)
            )
        return {r["id"]: r.asDict() for r in fetch_df.collect()}

    def _corpus_rows(self) -> int:
        """Cached row count for the scorer dispatch; counts once
        (parquet metadata-backed for loaded corpora) when unknown."""
        if self._n_rows is None:
            self._n_rows = self.items.count() if self.items is not None else 0
        return self._n_rows

    def _space_rows(self, space: str) -> int:
        """Cached PER-SPACE row count — the ANN coverage/drift check
        compares this, not the global total, so ingesting into an
        unrelated space (e.g. ``ingest_audio_content`` → 'audio_sig')
        never flags another space's index as stale. Maintained
        incrementally by every ingest path; computed once (one
        groupBy-count job) for corpora loaded from disk.

        The same job also rides ``max(id)`` (round 12): every search
        routes through here, so by the time the first interactive
        ingest needs ``_next_id`` the max-id counter is usually
        already primed — without this the first ingest after loading a
        corpus paid a dedicated ~1.2 s agg job
        (``facade_ingest_first_cycle_ms``)."""
        if self._n_rows_by_space is None:
            rows = (
                self.items.groupBy("space")
                .agg(
                    F.count("*").alias("n"), F.max("id").alias("m")
                )
                .collect()
                if self.items is not None
                else []
            )
            self._n_rows_by_space = {r["space"]: r["n"] for r in rows}
            if self._max_id is None:
                ms = [r["m"] for r in rows if r["m"] is not None]
                self._max_id = max(ms) if ms else -1
        return self._n_rows_by_space.get(space, 0)

    def _bump_space(self, space: str, n: int) -> None:
        if self._n_rows_by_space is not None:
            self._n_rows_by_space[space] = (
                self._n_rows_by_space.get(space, 0) + n
            )

    def _single_threshold(self) -> int:
        """Single-query dispatch threshold: 8× the batch one (see
        ``BLOCKED_THRESHOLD_CELLS`` for the measurements behind both).
        Derived, so a caller-supplied ``blocked_threshold_cells``
        scales both dispatches consistently."""
        return self.blocked_threshold_cells * 8

    def _binary_shortlist(
        self, corpus: DataFrame, qvec: list[float], shortlist: int
    ) -> DataFrame:
        """Hamming-distance candidate filter over packed sign bits —
        integer ops over 2 BIGINTs per row, the cheapest possible first
        pass; survivors keep their full rows for the exact rerank."""
        from multimodal_vector_db_spark.functions.vector import (
            sign_bits_word,
        )

        half = self.dim // 2
        q = F.array(*[F.lit(float(x)) for x in qvec])
        q1 = sign_bits_word(q, 1, half)
        q2 = sign_bits_word(q, half + 1, self.dim - half)
        hamming = F.bit_count(
            sign_bits_word("embedding", 1, half).bitwiseXOR(q1)
        ) + F.bit_count(
            sign_bits_word("embedding", half + 1, self.dim - half).bitwiseXOR(
                q2
            )
        )
        return (
            corpus.withColumn("__hamming", hamming)
            .orderBy(F.col("__hamming").asc(), F.col("id").asc())
            .limit(shortlist)
            .drop("__hamming")
        )

    #: result schema of compare_modalities (both scorer paths)
    _COMPARE_SCHEMA = (
        "modality string, space string, id long, "
        "display_name string, sim double, rank int"
    )

    def compare_modalities(
        self, query: str, k_per_modality: int = 3, scorer: str = "auto"
    ) -> DataFrame:
        """§3.3 signature query (reference
        ``search_cross_modal.py:107-173``): dual-space scoring routed by
        modality + per-modality top-k (no 10k over-fetch).

        **Scorer dispatch** — the same contract as :meth:`search`: above
        the single-query size×dim threshold the whole-corpus scoring
        runs as one blocked BLAS pass
        (:func:`~multimodal_vector_db_spark.operators.knn.dual_space_topk_blocked`
        — per-partition matmul per space, local top-k per modality,
        ranking window over only ``partitions × modalities × k``
        candidates) with payload re-fetched by a pushed ``id IN``
        point-lookup; below it, the codegen'd single-plan HOF form wins
        (no Arrow round-trip). ``scorer="hof"``/``"blocked"`` force a
        path — both return the same winner sets (scores differ only in
        fp accumulation order; parity-tested)."""
        q = self._dual(query)
        rows = (
            self._compare_local([q], k_per_modality)
            if scorer == "auto"
            else None
        )
        if rows is None and (
            scorer == "blocked"
            or (
                scorer == "auto"
                and self._corpus_rows() * self.dim >= self._single_threshold()
            )
        ):
            rows = self._compare_blocked([q], k_per_modality)
        if rows is not None:
            return _arrow_frame(
                self.spark,
                [tuple(r.values()) for r in rows[0]],
                self._COMPARE_SCHEMA,
            )
        from pyspark.sql import Window

        lit = lambda v: F.array(*[F.lit(float(x)) for x in v])  # noqa: E731
        from multimodal_vector_db_spark.functions.vector import dot

        scored = active(self.items).withColumn(
            "sim",
            F.when(
                F.col("space") == "clap", dot(F.col("embedding"), lit(q["clap"]))
            ).otherwise(dot(F.col("embedding"), lit(q["clip"]))),
        )
        w = Window.partitionBy("modality").orderBy(
            F.col("sim").desc(), F.col("id").asc()
        )
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k_per_modality)
            .select("modality", "space", "id", "display_name", "sim", "rank")
        )

    def compare_modalities_rows(
        self, query: str, k_per_modality: int = 3
    ) -> list[dict[str, Any]]:
        """Single-call interactive form of :meth:`compare_modalities`
        — returns ranked row dicts (the :meth:`search` convention)
        instead of a DataFrame (round 11). The DataFrame contract
        makes every single call pay one ``createDataFrame`` + collect
        materialization (~250 ms in local mode) even when the scoring
        itself runs ~3 ms on the micro-path; the reference's
        cross-modal compare is an interactive CLI call
        (``search_cross_modal.py:107-173``), so it gets the
        rows-returning path like ``search()`` does. Same rows, order
        and sims as the DataFrame form (parity-tested); keep
        :meth:`compare_modalities` for relational composition. Over
        budget this falls back to collecting the Spark plan."""
        local = self._compare_local([self._dual(query)], k_per_modality)
        if local is not None:
            return local[0]
        out = [
            r.asDict()
            for r in self.compare_modalities(query, k_per_modality)
            .orderBy("modality", "rank")
            .collect()
        ]
        # over-budget fallback must describe ITSELF on last_route (the
        # micro-path branch does) — without this, the diagnostic would
        # still show a previous call's route (round-12 review fix).
        # compare_modalities may have set a Spark-route entry; override
        # with the rows-form identity either way.
        self.last_route = {
            "route": "spark-compare",
            "reason": (
                "spaces exceed local_exact_budget together — rows form "
                "served by collecting the Spark compare plan"
            ),
        }
        return out

    def compare_modalities_batch(
        self, queries: list[str], k_per_modality: int = 3
    ) -> dict[int, list[dict[str, Any]]]:
        """Batch twin of :meth:`compare_modalities` — one blocked BLAS
        job scores EVERY query against the whole corpus with per-space
        routing (the shape that amortizes job-scheduling cost the way
        :meth:`search_batch` does; the reference's
        ``compare_modalities`` loops per query). Always the blocked
        scorer: with B queries the matmul batches to (n × B) per space
        and the HOF form would plan B scoring columns. Returns
        ``{query_index: [row dicts ranked per modality]}``."""
        qs = [self._dual(q) for q in queries]
        # driver-resident micro-path first (one GEMM per space scores
        # every query) — same contract as compare_modalities
        local = self._compare_local(qs, k_per_modality)
        return (
            local
            if local is not None
            else self._compare_blocked(qs, k_per_modality)
        )

    def _dual(self, query: str) -> dict[str, list[float]]:
        """A text query embedded into both learned spaces."""
        return {
            "clip": self._embed(query, "clip"),
            "clap": self._embed(query, "clap"),
        }

    def _compare_blocked(
        self, qs: list[dict[str, list[float]]], k_per_modality: int
    ) -> dict[int, list[dict[str, Any]]]:
        """The Spark blocked form of dual-space scoring: one
        :func:`~multimodal_vector_db_spark.operators.knn.dual_space_topk_blocked`
        job scores every query (per-partition matmul per space, local
        top-k per modality, ranking window over only ``partitions ×
        modalities × k`` candidates), then payload is re-fetched by a
        pushed ``id IN`` point-lookup. Same return shape as
        :meth:`_compare_local`."""
        corpus = active(self.items)
        winners = knn.dual_space_topk_blocked(
            corpus, list(enumerate(qs)), k=k_per_modality
        ).collect()
        fetched = self._fetch_payload(
            corpus, sorted({r["id"] for r in winners}), ["space", "display_name"]
        )
        out: dict[int, list[dict[str, Any]]] = {i: [] for i in range(len(qs))}
        for r in sorted(
            winners,
            key=lambda r: (
                r["query_id"], r["group"] is None, r["group"], r["rank"]
            ),
        ):
            if r["id"] in fetched:
                out[r["query_id"]].append(
                    {
                        "modality": r["group"],
                        "space": fetched[r["id"]]["space"],
                        "id": r["id"],
                        "display_name": fetched[r["id"]]["display_name"],
                        "sim": r["sim"],
                        "rank": r["rank"],
                    }
                )
        return out

    # -- persistence (search_engine.py:225-258) ------------------------
    def save(self, base_path: str, name: str = "items") -> None:
        """Persist the corpus AND the ANN serving state. The reference
        persists its index structure alongside the data
        (``vector_index.py:224-252`` saves the HNSW graph +
        metadata); round 9 gives the facade the same property — each
        built space's slim ``(id, cluster_id)`` assignment goes to
        parquet and its centroids / drift baseline / CALIBRATION curve
        to the index manifest, so a reloaded engine routes IVF with
        the same measured contract without re-running KMeans or
        calibration."""
        storage = CorpusStorage(base_path)
        storage.save_index(
            self.items,
            name,
            manifest={"dim": self.dim, "metric": "cosine"},
            partition_by=["modality"],
        )
        for space, info in self._ann.items():
            storage.save_index(
                info["assign"],
                f"{name}_ann_{space}",
                manifest={
                    k: info[k]
                    for k in (
                        "centroids",
                        "rows_at_build",
                        "mean_sq_dist",
                        "appended_rows",
                        "drift",
                        "cum_appended_sq",
                        "cum_drift",
                        "drifted",
                        "calibration",
                        "filter_calibrations",
                    )
                },
            )
        storage.save_config(
            {
                "dim": self.dim,
                "metric": "cosine",
                "ann_spaces": sorted(self._ann),
            }
        )

    @classmethod
    def load(
        cls, spark: SparkSession, base_path: str, name: str = "items"
    ) -> "MultiModalSearchEngine":
        storage = CorpusStorage(base_path)
        df, manifest = storage.load_index(spark, name)
        eng = cls(spark, items=df, dim=manifest.get("dim", 64))
        for space in storage.load_config().get("ann_spaces", []):
            assign, ann_manifest = storage.load_index(
                spark, f"{name}_ann_{space}"
            )
            eng._ann[space] = {
                "assign": assign.select("id", "cluster_id"),
                **{
                    k: ann_manifest[k]
                    for k in (
                        "centroids",
                        "rows_at_build",
                        "mean_sq_dist",
                        "appended_rows",
                        "drift",
                        "drifted",
                        "calibration",
                    )
                },
                # round-10 keys, defaulted for manifests saved earlier
                "cum_appended_sq": ann_manifest.get(
                    "cum_appended_sq", 0.0
                ),
                "cum_drift": ann_manifest.get("cum_drift"),
                "filter_calibrations": ann_manifest.get(
                    "filter_calibrations", {}
                )
                or {},
            }
        return eng

    def save_matryoshka(
        self, base_path: str, dims: list[int], name: str = "items"
    ) -> dict[int, str]:
        """Materialize the Matryoshka index family — the engine surface
        of the reference's ``build_matryoshka_indices.py:55-91`` (one
        index per truncation dim): per-dim tables of prefix-truncated,
        re-normalized vectors, written once at save time so a
        reduced-dimension engine scans reduced-dimension data. Records
        ``full_dim`` in each manifest so :meth:`load_matryoshka` can
        truncate QUERY embeddings from the full-width embedder (the
        reference's semantics: queries are truncated model outputs, not
        natively small embeddings)."""
        storage = CorpusStorage(base_path)
        return storage.build_matryoshka_tables(
            active(self.items),
            name,
            dims,
            manifest={"metric": "cosine", "full_dim": self.dim},
            partition_by=["modality"],
        )

    @classmethod
    def load_matryoshka(
        cls,
        spark: SparkSession,
        base_path: str,
        dim: int,
        name: str = "items",
        full_embed_fn: Callable[[str, str], list[float]] | None = None,
    ) -> "MultiModalSearchEngine":
        """Open one member of a :meth:`save_matryoshka` family as a
        fully functional engine at reduced dimension: corpus scans read
        the materialized d-dim table, and text queries embed at
        ``full_dim`` then truncate+renormalize — matching how the
        corpus side was built (``projection.py:196-220`` semantics).
        All search paths (HOF, blocked dispatch, batch) work unchanged;
        only the per-row byte and multiply cost shrink by
        ``dim/full_dim``."""
        storage = CorpusStorage(base_path)
        df, manifest = storage.load_index(spark, f"{name}_d{dim}")
        full_dim = int(manifest["full_dim"])
        full = full_embed_fn or (
            lambda text, space: fake_embed_numpy(
                text, space, full_dim
            ).tolist()
        )

        def embed(text: str, space: str) -> list[float]:
            v = np.asarray(full(text, space), dtype=np.float64)[:dim]
            n = float(np.linalg.norm(v))
            return (v / n).tolist() if n > 0 else v.tolist()

        return cls(spark, items=df, dim=dim, embed_fn=embed)

    # -- stats (A12, vector_index.py:279-291) --------------------------
    def get_stats(self) -> dict[str, Any]:
        counts = {
            r["modality"]: r["n"]
            for r in active(self.items)
            .groupBy("modality")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        return {
            "total_vectors": sum(counts.values()),
            "by_modality": counts,
            "dimension": self.dim,
            "metric": "cosine",
        }

    def sql(self, query: str) -> DataFrame:
        """Drive the engine with plain SQL: the live (non-deleted)
        corpus is exposed as the view ``items`` and the vector SQL
        functions (``vec_dot``, ``vec_normalize``, …) are installed —
        see :mod:`multimodal_vector_db_spark.sql` for the dialect
        notes. Example::

            eng.sql(\"\"\"
                SELECT id, display_name,
                       vec_dot(CAST(embedding AS ARRAY<DOUBLE>),
                               vec_normalize(ARRAY(...))) AS sim
                FROM items WHERE modality = 'image'
                ORDER BY sim DESC LIMIT 10
            \"\"\")
        """
        from multimodal_vector_db_spark.sql import register_functions

        if self.items is None:
            # fresh engine: expose an EMPTY items view with the canonical
            # schema rather than raising AttributeError — SQL exploration
            # (DESCRIBE items, SELECT ... WHERE false) works pre-ingest
            empty = _arrow_frame(self.spark, [], _ITEMS_SCHEMA)
            empty.createOrReplaceTempView("items")
        else:
            active(self.items).createOrReplaceTempView("items")
        register_functions(self.spark)
        return self.spark.sql(query)
