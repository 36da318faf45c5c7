"""Plan-quality regression tests: the physical-plan properties that make
the operators scale are asserted here, so a refactor that silently adds
a shuffle, loses a pushdown, or drops a broadcast fails CI — not the
100 TB run.

These mirror SURVEY.md §4's requirements: predicate pushdown to the
parquet scan, column pruning (ReadSchema), broadcast of the small join
side, partial (map-side) aggregation, and a shuffle-free single-query
kNN ending in TakeOrderedAndProject.
"""

from __future__ import annotations

import contextlib
import io
import re

import pytest

from multimodal_vector_db_spark import queries as Q

SF_DIR = "/root/testdata/sf0.001"


def plan_of(spark, name: str) -> str:
    df = Q.REGISTRY[name](spark, SF_DIR)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_knn_single_is_shuffle_free_topk(spark):
    # scan → project(dot) → TakeOrderedAndProject: no Exchange at all —
    # the whole query is one embarrassingly-parallel pass + driver top-k
    p = plan_of(spark, "knn_single")
    assert "TakeOrderedAndProject" in p
    assert "Exchange" not in p


def test_knn_filtered_pushes_predicate_to_scan(spark):
    # the metadata predicate must reach the parquet reader (P3: no k×10
    # over-fetch — the filter applies BEFORE ranking, at the scan)
    p = plan_of(spark, "knn_filtered")
    pushed = re.findall(r"PushedFilters: \[[^\]]*\]", p)
    assert any("EqualTo(label,3)" in f for f in pushed), pushed


def test_knn_batch_broadcasts_queries(spark):
    # corpus never shuffles: the (small) query side is broadcast and the
    # only exchange is the per-query top-k window
    p = plan_of(spark, "knn_batch")
    assert "BroadcastNestedLoopJoin" in p
    assert p.count("Exchange hashpartitioning") <= 1


def test_tpch_q1_prunes_columns_and_preaggregates(spark):
    p = plan_of(spark, "tpch_q1")
    schemas = re.findall(r"ReadSchema: [^\n]*", p)
    assert schemas and "l_orderkey" not in schemas[0]  # pruned
    assert "l_comment" not in schemas[0] if "l_comment" in schemas[0] else True
    # partial + final aggregation (map-side combine before the shuffle)
    assert p.count("HashAggregate") >= 2
    pushed = re.findall(r"PushedFilters: \[[^\]]*\]", p)
    assert any("l_shipdate" in f for f in pushed), pushed


def test_tpch_q3_broadcasts_dimensions(spark):
    p = plan_of(spark, "tpch_q3")
    assert "BroadcastHashJoin" in p
    pushed = re.findall(r"PushedFilters: \[[^\]]*\]", p)
    assert any("EqualTo(c_mktsegment,BUILDING)" in f for f in pushed), pushed


def test_tpch_q7_broadcasts_both_nation_arms(spark):
    # supplier⋈nation and customer⋈nation arms broadcast (nation
    # pre-filtered to the two names); the only shuffle pair is
    # lineitem⋈orders + the final aggregation
    p = plan_of(spark, "tpch_q7")
    assert p.count("BroadcastHashJoin") >= 3  # s⋈n, c⋈n, li⋈arms
    pushed = re.findall(r"PushedFilters: \[[^\]]*\]", p)
    assert any("l_shipdate" in f for f in pushed), pushed


def test_tpch_q8_single_fact_shuffle(spark):
    # all dimension arms broadcast; conditional-aggregate market share
    # is ONE aggregation pass (partial + final), not two subqueries
    p = plan_of(spark, "tpch_q8")
    assert p.count("BroadcastHashJoin") >= 4
    pushed = re.findall(r"PushedFilters: \[[^\]]*\]", p)
    assert any("EqualTo(p_type,ECONOMY)" in f for f in pushed), pushed
    assert any("o_orderdate" in f for f in pushed), pushed


def test_tpch_q9_pushes_name_filter_to_part_scan(spark):
    p = plan_of(spark, "tpch_q9")
    pushed = re.findall(r"PushedFilters: \[[^\]]*\]", p)
    assert any("StringContains(p_name,red)" in f for f in pushed), pushed
    assert "BroadcastHashJoin" in p


def test_tpch_q12_is_one_conditional_aggregation_pass(spark):
    # both priority counts come from ONE partial+final aggregation over
    # the joined stream — no second scan of either fact table
    p = plan_of(spark, "tpch_q12")
    assert p.count("HashAggregate") >= 2  # partial + final
    locs = re.findall(r"Location: [^\n]*?(\w+)\.parquet", p)
    assert locs.count("lineitem") == 1 and locs.count("orders") == 1, locs
    pushed = re.findall(r"PushedFilters: \[[^\]]*\]", p)
    assert any("l_shipdate" in f for f in pushed), pushed


def test_tpch_q15_preaggregates_before_rank(spark):
    # revenue partial-aggregates map-side; the argmax window runs over
    # the |suppliers|-row aggregate, and the 1-row winner broadcasts
    p = plan_of(spark, "tpch_q15")
    assert p.count("HashAggregate") >= 2
    assert "Window" in p
    assert "BroadcastHashJoin" in p


def test_tpch_q17_broadcasts_decorrelated_thresholds(spark):
    # the per-part AVG subquery decorrelates to a broadcast of
    # |filtered parts| threshold rows — the probe lineitem never shuffles
    p = plan_of(spark, "tpch_q17")
    assert "BroadcastHashJoin" in p
    pushed = re.findall(r"PushedFilters: \[[^\]]*\]", p)
    assert any("EqualTo(p_brand,Brand#3)" in f for f in pushed), pushed


def test_tpch_q22_anti_join_and_scalar_threshold(spark):
    # NOT EXISTS lowers to a LeftAnti join; the scalar AVG threshold is
    # a 1-row broadcast (never a collected driver constant)
    p = plan_of(spark, "tpch_q22")
    assert "LeftAnti" in p
    assert "Broadcast" in p
    pushed = re.findall(r"PushedFilters: \[[^\]]*\]", p)
    assert any("o_orderdate" in f for f in pushed), pushed


def test_filter_project_pushdown(spark):
    p = plan_of(spark, "filter_project")
    pushed = re.findall(r"PushedFilters: \[[^\]]*\]", p)
    assert any(
        "EqualTo(l_returnflag,R)" in f and "GreaterThan(l_quantity,40" in f
        for f in pushed
    ), pushed


def test_anti_and_semi_joins_use_broadcast(spark):
    # existence joins against filtered small sides must broadcast
    for name in ("anti_join", "semi_join"):
        p = plan_of(spark, name)
        assert "Broadcast" in p, name


def test_partitioned_layout_prunes_files(spark, tmp_path):
    # hive-partitioned corpus (the per-modality-index layout, SURVEY §4
    # "partition-per-modality indexes, 6.74× speedup"): WHERE label=3
    # must land in PartitionFilters — file-level pruning, not a row
    # filter over the full scan
    import contextlib
    import io

    from pyspark.sql import functions as F

    src = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    path = str(tmp_path / "emb_by_label.parquet")
    src.repartition(2, "label").write.partitionBy("label").parquet(path)

    df = (
        spark.read.parquet(path)
        .where(F.col("label") == 3)
        .select("vec_id", "embedding")
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    assert re.search(r"PartitionFilters: \[[^\]]*label[^\]]*3[^\]]*\]", p), p
    n_all = src.count()
    n_pruned = df.count()
    assert 0 < n_pruned < n_all


def test_pq_adc_knn_is_shuffle_free_topk(spark):
    # PQ-ADC search: encode + lookup-table distance are one codegen'd
    # projection; top-k is TakeOrderedAndProject — NO exchange anywhere
    # (the 32×-compressed analogue of the shuffle-free exact kNN)
    p = plan_of(spark, "pq_adc_knn")
    assert "TakeOrderedAndProject" in p
    assert "Exchange" not in p


def test_cube_is_single_expand_single_aggregate_pass(spark):
    # CUBE must compile to ONE Expand + one partial/final hash-agg pair
    # (a single scan), never one scan per grouping set
    p = plan_of(spark, "cube_lang_source")
    assert len(re.findall(r"\(\d+\) Expand", p)) == 1, p
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1


def test_window_family_is_one_window_operator(spark):
    # all seven analytic functions share the same window spec, so
    # Catalyst must plan exactly ONE Window operator over ONE shuffle
    p = plan_of(spark, "window_family")
    assert len(re.findall(r"\(\d+\) Window", p)) == 1, p
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1, p


def test_tfidf_broadcasts_vocabulary(spark):
    # the document-frequency (vocab-sized) table joins back via
    # broadcast — the corpus-sized tf table must not shuffle for it
    p = plan_of(spark, "tfidf_top_terms")
    assert "BroadcastHashJoin" in p


def test_weekly_deltas_windows_post_aggregate(spark):
    # the lag window must run over the tiny weekly aggregate, meaning
    # partial aggregation happens below the window's exchange
    p = plan_of(spark, "weekly_deltas")
    assert "HashAggregate" in p
    assert len(re.findall(r"\(\d+\) Window", p)) == 1


def test_training_pipeline_shuffle_budget(spark):
    # the composed curation pipeline must stay at <= 8 exchanges
    # (fingerprint agg + semi-join, gram join both sides, final agg,
    # and the round-6 source-reputation stage's three: per-source agg
    # over the quality scan + the two singleton-rollup hops over the
    # TINY source table) — a regression here means a corpus-sized
    # stage stopped pipelining into the scan
    p = plan_of(spark, "training_data_pipeline")
    assert len(re.findall(r"\(\d+\) Exchange", p)) <= 8, p


def test_binary_rerank_window_carries_no_vectors(spark):
    """The Hamming shortlist window must move only (query_id, id,
    hamming[, rank]) — shuffling the float vectors through it was
    measured 4× slower. Vectors re-enter via broadcast gather joins."""
    p = plan_of(spark, "binary_rerank_knn")
    # formatted mode lists each Exchange's columns in its detail block
    exchanges = re.findall(
        r"\(\d+\) Exchange\nInput \[\d+\]: \[([^\]]*)\]", p
    )
    assert exchanges, p
    for cols in exchanges:
        assert "embedding" not in cols and "q_emb" not in cols, cols
    # gather side is broadcast, never shuffled
    assert p.count("BroadcastHashJoin") >= 2 or (
        "BroadcastHashJoin" in p and "BroadcastNestedLoopJoin" in p
    ), p


def test_shard_packing_offset_window_is_the_only_global_one(spark):
    """Two-phase prefix sum: the per-bucket windows are hash-partitioned
    (parallel); exactly one window runs single-partition, and it sees
    only the n_buckets-row offsets side (joined back broadcast)."""
    p = plan_of(spark, "shard_packing")
    # the big windows are partitioned by the bucket column
    assert re.search(r"Arguments: hashpartitioning\(__b", p), p
    # exactly one global (SinglePartition) exchange: the offsets window
    assert p.count("Arguments: SinglePartition") == 1, p
    assert "BroadcastHashJoin" in p, p


def _explain(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_knn_search_blocked_is_shuffle_free(spark):
    """The blocked single-query scorer must stay a map-only pass:
    two-column scan → mapInPandas local top-k → TakeOrderedAndProject.
    No Exchange — the global top-k merges ≤ partitions×k driver-side."""
    from pyspark.sql import functions as F

    from multimodal_vector_db_spark.operators.knn import knn_search_blocked

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    corpus = emb.select(F.col("vec_id").alias("id"), "embedding")
    q = [0.1] * 64
    p = _explain(knn_search_blocked(corpus, q, k=10))
    assert "TakeOrderedAndProject" in p
    assert "Exchange" not in p
    # the scoring scan reads ONLY (id, embedding)
    m = re.search(r"ReadSchema: struct<([^>]*)", p)
    assert m and set(
        c.split(":")[0] for c in m.group(1).split(",")
    ) <= {"vec_id", "embedding"}, p


def test_blocked_payload_fetch_pushes_in_filter(spark):
    """engine.search's blocked path re-fetches payload with a literal
    id IN (...) predicate — it must reach the parquet scan as a pushed
    filter over a pruned (no-vector) ReadSchema."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    fetch = docs.select("vec_id", "label").where(
        F.col("vec_id").isin([1, 5, 9])
    )
    p = _explain(fetch)
    assert re.search(r"PushedFilters: \[.*[Ii]n\(vec_id", p), p
    m = re.search(r"ReadSchema: struct<([^>]*)", p)
    assert m and "embedding" not in m.group(1), p


def test_int_in_predicate_pushes_to_scan(spark):
    """The one-expression integer ``IN`` predicate (the engine's payload
    fetch and tombstones, the IVF probe filters) plans the same pushed
    scan filter as ``isin``."""
    from multimodal_vector_db_spark.functions.layout import int_in

    docs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    fetch = docs.select("vec_id", "label").where(int_in("vec_id", [1, 5, 9]))
    p = _explain(fetch)
    assert re.search(r"PushedFilters: \[.*[Ii]n\(vec_id", p), p
    m = re.search(r"ReadSchema: struct<([^>]*)", p)
    assert m and "embedding" not in m.group(1), p
