"""Round-13 driver-floor optimizations: the per-session scan-relation
cache (queries/_core.scan_parquet) and the partition-count memo in
ensure_parallelism. Both cache PLAN METADATA only — every action still
reads the parquet data files — so the tests pin (a) identity reuse,
(b) correct invalidation when the underlying table changes, and
(c) unchanged planning behavior."""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from multimodal_vector_db_spark.operators.util import ensure_parallelism
from multimodal_vector_db_spark.queries._core import scan_parquet

SF_DIR = "/root/testdata/sf0.001"


def test_scan_parquet_reuses_relation(spark):
    a = scan_parquet(spark, f"{SF_DIR}/documents.parquet")
    b = scan_parquet(spark, f"{SF_DIR}/documents.parquet")
    assert a is b  # same plan object: no re-listing, no re-inference
    # and it is a live, queryable scan
    assert a.count() == spark.read.parquet(
        f"{SF_DIR}/documents.parquet"
    ).count()


def test_scan_parquet_invalidates_on_rewrite(spark, tmp_path):
    p = str(tmp_path / "t.parquet")
    spark.range(0, 10).write.mode("overwrite").parquet(p)
    df1 = scan_parquet(spark, p)
    assert df1.count() == 10
    # rewrite with different contents; ensure the directory mtime moves
    # even on coarse-granularity filesystems
    time.sleep(0.05)
    spark.range(0, 25).write.mode("overwrite").parquet(p)
    os.utime(p)
    df2 = scan_parquet(spark, p)
    assert df2 is not df1
    assert df2.count() == 25


def test_ensure_parallelism_memo_matches_plan(spark):
    df = spark.range(0, 100).select(F.col("id"))
    n_true = df.rdd.getNumPartitions()
    out1 = ensure_parallelism(df, min_partitions=n_true + 4)
    # memoized second call takes the cached-count path, same decision
    out2 = ensure_parallelism(df, min_partitions=n_true + 4)
    assert df._mvdb_num_partitions == n_true
    assert out1.rdd.getNumPartitions() == n_true + 4
    assert out2.rdd.getNumPartitions() == n_true + 4
    # already-parallel input passes through untouched (no shuffle added)
    wide = df.repartition(n_true + 4)
    assert ensure_parallelism(wide, min_partitions=2) is wide


def test_expr_cache_is_lru_bounded(monkeypatch, spark):
    """The Column-factory memo evicts least-recently-used entries at
    its bound: building more distinct ``dot()`` Columns than the bound
    keeps it at the bound, a repeated build returns the identical
    object, and a hit refreshes an entry's recency."""
    from collections import OrderedDict

    from multimodal_vector_db_spark.functions import _cache
    from multimodal_vector_db_spark.functions.vector import dot

    monkeypatch.setattr(_cache, "_CACHE", OrderedDict())
    monkeypatch.setattr(_cache, "CACHE_MAX_ENTRIES", 8)

    def q(i):
        return F.array(*[F.lit(float(i + j)) for j in range(4)])

    first = dot("embedding", q(0))
    assert dot("embedding", q(0)) is first
    built = {}
    for i in range(1, 20):
        built[i] = dot("embedding", q(i))
        dot("embedding", q(0))  # a hit keeps the first entry recent
        assert len(_cache._CACHE) <= 8
    assert len(_cache._CACHE) == 8
    assert dot("embedding", q(0)) is first
    # entry 1 was least recently used, so it was evicted and rebuilds
    one = dot("embedding", q(1))
    assert one is not built[1]
    assert dot("embedding", q(1)) is one
    assert len(_cache._CACHE) == 8
