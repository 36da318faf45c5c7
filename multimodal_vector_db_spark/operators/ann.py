"""Approximate nearest neighbor accelerators.

The reference's HNSW graph (``vector_index.py:33-65``) is a
single-process access method with no distributed analogue; the idiomatic
Spark replacements (SURVEY.md §4) prune the *corpus scan* instead of
walking a graph:

- **Hyperplane LSH** (:func:`add_hyperplane_buckets`): sign-pattern of
  dot products against a fixed set of hyperplanes → bucket id column.
  Search joins query↔corpus on bucket equality, so the per-query
  candidate set is corpus/2^H in expectation. With the bucket as a
  *partition column* of the materialized corpus, Catalyst turns this
  into partition pruning — the reference's "6.74× from per-modality
  indexes" effect, generalized.
- **IVF** (:func:`ivf_fit` / :func:`ivf_search`): MLlib KMeans
  centroids, each row assigned to its nearest centroid; a query scans
  only the ``nprobe`` nearest clusters. The Spark analogue of
  coarse-quantizer pruning in FAISS-style IVF indexes.

Both paths are *opt-in accelerators*: the default exact kNN
(``operators/knn.py``) is the correctness baseline, and recall of the
ANN paths against it is measured in ``tests/test_ann.py`` (the
reference's own validation standard — recall against brute force, not
hash equality).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from multimodal_vector_db_spark.functions.layout import int_in
from multimodal_vector_db_spark.functions.vector import dot
from multimodal_vector_db_spark.operators.knn import (
    top_k_per_group,
    topk_rows_1d,
    topk_rows_2d,
)


def hyperplane_bucket(
    vector_col: Column, hyperplanes: list[list[float]]
) -> Column:
    """Bucket id = Σ 2^i · [v · h_i ≥ 0] — a pure, deterministic Column
    expression (bit-exact in any engine given the same hyperplanes)."""
    bucket = F.lit(0).cast("long")
    for i, h in enumerate(hyperplanes):
        lit_h = F.array(*[F.lit(float(x)) for x in h])
        bucket = bucket + F.when(
            dot(vector_col, lit_h) >= 0, F.lit(2**i)
        ).otherwise(F.lit(0)).cast("long")
    return bucket


def add_hyperplane_buckets(
    corpus: DataFrame,
    hyperplanes: list[list[float]],
    vector_col: str = "embedding",
    bucket_col: str = "bucket",
) -> DataFrame:
    return corpus.withColumn(
        bucket_col, hyperplane_bucket(F.col(vector_col), hyperplanes)
    )


def lsh_bucket_knn(
    corpus: DataFrame,
    queries: DataFrame,
    hyperplanes: list[list[float]],
    k: int,
    query_id_col: str = "query_id",
    query_vector_col: str = "q_emb",
    id_col: str = "id",
    vector_col: str = "embedding",
) -> DataFrame:
    """ANN top-k: score only corpus rows in the query's LSH bucket.

    Plan: both sides get a bucket column; equi-join on bucket (hash
    shuffle on a small int key — or pure partition pruning if the
    corpus is stored partitioned by bucket) → per-query ranking window
    over the ~corpus/2^H candidates."""
    c = add_hyperplane_buckets(
        corpus.select(F.col(id_col).alias("id"), F.col(vector_col).alias("__emb")),
        hyperplanes,
        "__emb",
    )
    q = add_hyperplane_buckets(
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(query_vector_col).alias("__q"),
        ),
        hyperplanes,
        "__q",
    )
    scored = c.join(q, on="bucket").select(
        "query_id", "id", dot(F.col("__emb"), F.col("__q")).alias("sim")
    )
    return top_k_per_group(scored, ["query_id"], k)


def ivf_fit(
    corpus: DataFrame,
    n_clusters: int,
    vector_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 10,
):
    """Fit IVF coarse centroids with MLlib KMeans (10 iterations — the
    reference's own k-means budget, quantization.py:28-57). Returns the
    centroids as plain python lists — small enough to broadcast into
    pure-expression assignment, keeping search JVM-side.

    The feature frame is cached for the fit: KMeans rescans its input
    every iteration, so an uncached lineage would re-run the upstream
    pipeline max_iter times."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = corpus.select(
        array_to_vector(F.col(vector_col).cast("array<double>")).alias(
            "features"
        )
    ).persist()
    try:
        model = KMeans(k=n_clusters, seed=seed, maxIter=max_iter).fit(feats)
        return [c.tolist() for c in model.clusterCenters()]
    finally:
        feats.unpersist()


def ivf_fit_assign(
    corpus: DataFrame,
    n_clusters: int,
    vector_col: str = "embedding",
    cluster_col: str = "cluster_id",
    seed: int = 42,
    max_iter: int = 10,
    return_cost: bool = False,
):
    """Fit IVF centroids AND assign every row in one pass, using the
    fitted MLlib model's JVM-vectorized ``transform`` for assignment.

    Prefer this over ``ivf_fit`` + ``ivf_assign`` for larger cluster
    counts: :func:`nearest_centroid` embeds the centroids as literal
    expressions — fine for ≤16 clusters, but the plan grows
    O(n_clusters × dim) nodes and analysis/codegen dominates beyond
    (measured: 64 clusters × 64 dims made the assignment write ~10×
    slower than the KMeans fit itself). Returns ``(assigned_df,
    centroids)``; the assigned frame keeps the input columns plus
    ``cluster_col``. With ``return_cost=True``, also returns the fit's
    training cost (MLlib's sum of squared row→centroid distances) as a
    third element — the build-time cohesion baseline the engine's
    embedding-drift check compares appended batches against."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = corpus.withColumn(
        "__features",
        array_to_vector(F.col(vector_col).cast("array<double>")),
    ).persist()
    model = KMeans(
        k=n_clusters,
        seed=seed,
        maxIter=max_iter,
        featuresCol="__features",
        predictionCol=cluster_col,
    ).fit(feats)
    assigned = model.transform(feats).drop("__features")
    centroids = [c.tolist() for c in model.clusterCenters()]
    cost = float(model.summary.trainingCost) if return_cost else None
    # The cache earned its keep during the fit's max_iter passes; drop
    # it now rather than leak — the later assignment materialization
    # re-reads the (cheap) input lineage once.
    feats.unpersist(blocking=False)
    if return_cost:
        return assigned, centroids, cost
    return assigned, centroids


def nearest_centroid(
    vector_col: Column,
    centroids: list[list[float]],
    metric: str = "dot",
) -> Column:
    """Index of the nearest centroid as a pure expression over the
    broadcast list. ``metric="dot"`` = max dot product (ties → higher
    cid, matching array_max); ``metric="l2"`` = min Euclidean distance
    (ties → higher cid), the MLlib-KMeans assignment rule — use it for
    centroids that came from :func:`ivf_fit_assign`/
    :func:`build_ivf_index` so appends agree with the build."""
    if metric == "l2":
        from multimodal_vector_db_spark.functions.vector import l2_distance

        pairs = F.array(
            *[
                F.struct(
                    (
                        -l2_distance(
                            vector_col,
                            F.array(*[F.lit(float(x)) for x in c]),
                        )
                    ).alias("sim"),
                    F.lit(i).alias("cid"),
                )
                for i, c in enumerate(centroids)
            ]
        )
        return F.array_max(pairs)["cid"]
    pairs = F.array(
        *[
            F.struct(
                dot(vector_col, F.array(*[F.lit(float(x)) for x in c])).alias(
                    "sim"
                ),
                F.lit(i).alias("cid"),
            )
            for i, c in enumerate(centroids)
        ]
    )
    return F.array_max(pairs)["cid"]


def top_centroids(
    vector_col: Column, centroids: list[list[float]], nprobe: int
) -> Column:
    """Array of the nprobe highest-dot centroid ids for a query vector."""
    pairs = F.array(
        *[
            F.struct(
                dot(vector_col, F.array(*[F.lit(float(x)) for x in c])).alias(
                    "sim"
                ),
                F.lit(i).alias("cid"),
            )
            for i, c in enumerate(centroids)
        ]
    )
    return F.transform(
        F.slice(F.reverse(F.array_sort(pairs)), 1, nprobe), lambda s: s["cid"]
    )


def ivf_assign(
    corpus: DataFrame,
    centroids: list[list[float]],
    vector_col: str = "embedding",
    cluster_col: str = "cluster_id",
    metric: str = "dot",
) -> DataFrame:
    """Assign every row its coarse cluster. At scale, write the corpus
    ``partitionBy(cluster_col)`` so nprobe search becomes partition
    pruning at the parquet scan. ``metric`` must match how the
    centroids were produced (see :func:`nearest_centroid`)."""
    return corpus.withColumn(
        cluster_col, nearest_centroid(F.col(vector_col), centroids, metric)
    )


def ivf_assign_blocked(
    corpus: DataFrame,
    centroids: list[list[float]],
    vector_col: str = "embedding",
    cluster_col: str = "cluster_id",
    metric: str = "dot",
    dist_col: str | None = None,
) -> DataFrame:
    """BLAS twin of :func:`ivf_assign` — same RULE (max-dot / min-L2,
    ties → HIGHER cid), built for centroid counts where the expression
    tree goes superlinear: :func:`nearest_centroid` is an O(k·d)
    literal tree evaluated interpretively per row, while this is one
    ``mapInPandas`` matmul per Arrow batch against the broadcast
    centroid matrix (vector_refresh_stream's probe measured throughput
    plateauing on the expression form as SemDeDup-style k∝N growth
    kicked in). Rule parity with :func:`ivf_assign` (including exact
    ties) is pinned in tests/test_ann.py.

    ``dist_col``: when set, a second output column carries each row's
    proximity to its assigned centroid — SQUARED L2 distance under
    ``metric="l2"`` (the engine drift-check statistic), negated dot
    under ``metric="dot"`` (lower = closer on both conventions).

    Blocked-family float caveat (same as ``semantic_dedup_blocked``,
    whose assignment stage this is): BLAS accumulation order differs
    from the sequential fold, and the L2 path uses the expanded
    ``|v|² − 2v·c + |c|²`` form — scores within ~1 ulp of a tie can
    assign differently than the expression form. Discrete outputs on
    real data are unaffected in practice (planted ties are exact);
    the ORACLE-checked queries keep the expression path."""
    import numpy as np

    from pyspark.sql import types as T

    C = np.asarray(centroids, dtype=np.float64)  # (k, d)
    nc = C.shape[0]
    use_l2 = metric == "l2"
    c_sq = (C * C).sum(axis=1)
    fields = [f for f in corpus.schema.fields]
    extra = [T.StructField(cluster_col, T.IntegerType())]
    if dist_col is not None:
        extra.append(T.StructField(dist_col, T.DoubleType()))
    out_schema = T.StructType(fields + extra)

    def assign(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.vstack(pdf[vector_col].to_numpy()).astype(np.float64)
            S = V @ C.T
            if use_l2:
                prox = (
                    (V * V).sum(axis=1)[:, None] - 2.0 * S + c_sq[None, :]
                )
                # ties → HIGHER cid: argmin over the reversed axis
                cid = (nc - 1) - np.argmin(prox[:, ::-1], axis=1)
            else:
                cid = (nc - 1) - np.argmax(S[:, ::-1], axis=1)
            out = pdf.copy()
            out[cluster_col] = cid.astype("int32")
            if dist_col is not None:
                if use_l2:
                    d = prox[np.arange(len(cid)), cid]
                    # the expanded |v|²−2v·c+|c|² form can dip ~1 ulp
                    # below 0
                    out[dist_col] = np.maximum(d, 0.0)
                else:
                    out[dist_col] = -S[np.arange(len(cid)), cid]
            yield out

    return corpus.mapInPandas(assign, schema=out_schema)


def ivf_search(
    assigned_corpus: DataFrame,
    queries: DataFrame | list[tuple[int, list[float]]],
    centroids: list[list[float]],
    k: int,
    nprobe: int,
    query_id_col: str = "query_id",
    query_vector_col: str = "q_emb",
    id_col: str = "id",
    vector_col: str = "embedding",
    cluster_col: str = "cluster_id",
    probe_metric: str = "dot",
    probe_rank_impl: str = "exact",
) -> DataFrame:
    """IVF ANN search: per query, scan only the nprobe nearest clusters.

    ``probe_metric``: how query-to-centroid proximity is ranked when
    choosing the nprobe cells. ``"dot"`` matches
    :func:`nearest_centroid` / :func:`ivf_assign` corpora; use
    ``"l2"`` for corpora assigned by :func:`ivf_fit_assign` (MLlib
    KMeans assigns by Euclidean distance, and with unnormalized
    centroids argmin-L2 ≠ argmax-dot — probing must use the same
    metric the assignment used or boundary cells are probed wrongly).

    The probe side ranks centroids via a broadcast centroid TABLE
    (cross join + window), not literal array expressions: embedding the
    centroids as literals made the plan tree O(n_clusters × dim) nodes,
    and per-run analysis/codegen dominated the actual search (measured
    ~7× the query time at bench scale). Ranking semantics are identical
    to :func:`top_centroids`: sim DESC, ties to the HIGHER cid.

    The corpus join is an equi-join on cluster_id with the (tiny)
    exploded query×probe side broadcast — shuffle bounded by candidate
    rows; over a corpus partitioned by cluster_id the probe prunes at
    the file level.

    ``queries`` may also be a list of ``(query_id, vector)`` tuples —
    the serving path, mirroring :func:`ivf_adc_search`: the probe
    ranking then happens driver-side (|q|·n_clusters dots, micro-
    seconds) and the whole search is a single broadcast-join stage over
    the pruned scan, with no probe-side shuffle in the plan."""
    from pyspark.sql import Window

    spark = assigned_corpus.sparkSession
    if isinstance(queries, list):
        if probe_rank_impl == "blas":
            # Vectorized probe ranking: one numpy matmul replaces the
            # per-(query, centroid) Python loops — at 512-d × 128
            # centroids × 256 queries the exact path is ~17M interpreted
            # float ops (~10 s of pure driver time PER SEARCH), the
            # matmul is ~10 ms. FP accumulation order differs from the
            # sequential fold, so a pair of exactly-tied centroids could
            # rank differently — use "exact" (the default) where results
            # must replay an oracle bit-for-bit; "blas" for serving and
            # benchmarks. Tie-break matches exact: proximity first,
            # HIGHER cid wins ties (lexsort on (-cid) secondary).
            import numpy as np

            from multimodal_vector_db_spark.functions.blasctl import (
                gemm_section,
            )

            C = np.asarray(centroids, dtype=np.float64)  # (nc, d)
            Qm = np.asarray([v for _, v in queries], dtype=np.float64)
            # driver-side GEMM: section-wrapped so concurrent facade
            # callers compose under the two-regime BLAS clamp
            with gemm_section():
                if probe_metric == "l2":
                    prox = (
                        (Qm * Qm).sum(axis=1)[:, None]
                        - 2.0 * (Qm @ C.T)
                        + (C * C).sum(axis=1)[None, :]
                    )  # smaller = closer
                else:
                    prox = -(Qm @ C.T)  # higher dot = closer
            nc = C.shape[0]
            cids = np.arange(nc)
            # per query: order by (prox asc, cid desc)
            order = np.lexsort(
                (np.broadcast_to(-cids, prox.shape), prox), axis=1
            )[:, :nprobe]
            probe_rows = [
                (qid, [float(x) for x in qvec], int(cid))
                for (qid, qvec), row in zip(queries, order)
                for cid in row
            ]
            q = spark.createDataFrame(
                probe_rows,
                f"query_id long, __q array<double>, {cluster_col} int",
            )
            c = assigned_corpus.select(
                F.col(id_col).alias("id"),
                F.col(vector_col).alias("__emb"),
                F.col(cluster_col),
            )
            scored = c.join(F.broadcast(q), on=cluster_col).select(
                "query_id",
                "id",
                dot(F.col("__emb"), F.col("__q")).alias("sim"),
            )
            return top_k_per_group(scored, ["query_id"], k)
        probe_rows = []
        for qid, qvec in queries:
            if probe_metric == "l2":
                sims = sorted(
                    (
                        (
                            sum((a - b) ** 2 for a, b in zip(qvec, c)),
                            cid,
                        )
                        for cid, c in enumerate(centroids)
                    ),
                    key=lambda t: (t[0], -t[1]),
                )
            else:
                sims = sorted(
                    (
                        (_py_dot(qvec, c), cid)
                        for cid, c in enumerate(centroids)
                    ),
                    key=lambda t: (-t[0], -t[1]),
                )
            for _, cid in sims[:nprobe]:
                probe_rows.append((qid, [float(x) for x in qvec], cid))
        q = spark.createDataFrame(
            probe_rows, f"query_id long, __q array<double>, {cluster_col} int"
        )
        c = assigned_corpus.select(
            F.col(id_col).alias("id"),
            F.col(vector_col).alias("__emb"),
            F.col(cluster_col),
        )
        scored = c.join(F.broadcast(q), on=cluster_col).select(
            "query_id", "id", dot(F.col("__emb"), F.col("__q")).alias("sim")
        )
        return top_k_per_group(scored, ["query_id"], k)
    cent = F.broadcast(
        spark.createDataFrame(
            [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
            f"{cluster_col} int, __cv array<double>",
        )
    )
    if probe_metric == "l2":
        from multimodal_vector_db_spark.functions.vector import l2_distance

        proximity = l2_distance(F.col("__q"), F.col("__cv"))
        probe_w = Window.partitionBy("query_id").orderBy(
            F.col("__csim").asc(), F.col(cluster_col).desc()
        )
    else:
        proximity = dot(F.col("__q"), F.col("__cv"))
        probe_w = Window.partitionBy("query_id").orderBy(
            F.col("__csim").desc(), F.col(cluster_col).desc()
        )
    q = (
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(query_vector_col).alias("__q"),
        )
        .crossJoin(cent)
        .withColumn("__csim", proximity)
        .withColumn("__crn", F.row_number().over(probe_w))
        .where(F.col("__crn") <= nprobe)
        .select("query_id", "__q", cluster_col)
    )
    c = assigned_corpus.select(
        F.col(id_col).alias("id"),
        F.col(vector_col).alias("__emb"),
        F.col(cluster_col),
    )
    scored = c.join(F.broadcast(q), on=cluster_col).select(
        "query_id", "id", dot(F.col("__emb"), F.col("__q")).alias("sim")
    )
    return top_k_per_group(scored, ["query_id"], k)


def ivf_adc_build(
    corpus: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    id_col: str = "id",
    vector_col: str = "embedding",
) -> DataFrame:
    """IVFADC index build (Jégou et al. TPAMI 2011 §V): coarse-quantize
    every vector to its nearest centroid, then PQ-encode the RESIDUAL
    ``v − centroid`` (residuals have far lower energy than raw vectors,
    so the same codebook budget quantizes them much more accurately).

    Output: ``(id, cluster_id, pq_codes)`` — the entire index is
    ``n_sub`` bytes + one small int per row, built by a single
    shuffle-free codegen'd projection over the corpus scan. At scale,
    write it ``partitionBy(cluster_id)`` so probes prune at the scan.
    """
    from multimodal_vector_db_spark.operators.quantization import (
        pq_encode_codes,
    )

    cent_lookup = F.array(
        *[F.array(*[F.lit(float(x)) for x in c]) for c in centroids]
    )
    assigned = corpus.select(
        F.col(id_col).alias("id"),
        F.col(vector_col).alias("__emb"),
        nearest_centroid(F.col(vector_col), centroids).alias("cluster_id"),
    )
    resid = F.zip_with(
        F.col("__emb"),
        F.element_at(cent_lookup, F.col("cluster_id").cast("int") + 1),
        lambda x, c: x.cast("double") - c,
    )
    return assigned.select(
        "id",
        "cluster_id",
        pq_encode_codes(resid, codebooks).alias("pq_codes"),
    )


def _py_dot(a: list[float], b: list[float]) -> float:
    # left-to-right fold, bit-identical to functions.vector.dot and the
    # DuckDB list_dot_product over the same doubles
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + float(x) * float(y)
    return acc


def ivf_adc_search(
    index: DataFrame,
    queries: list[tuple[int, list[float]]],
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    k: int,
    nprobe: int,
) -> DataFrame:
    """IVFADC search: probe the ``nprobe`` nearest coarse cells per
    query, score candidates by asymmetric distance over the RESIDUAL
    lookup table for that (query, cell) pair.

    The per-cell LUT is the residual-PQ subtlety: the query residual
    ``q − centroid_c`` differs per probed cell, so each (query, cell)
    gets its own ``n_sub × n_codes`` table. Tables are built
    driver-side (|queries|·nprobe·n_sub·n_codes doubles — KBs) and
    shipped as one broadcast row per (query, cell); the scan side then
    pays ``n_sub`` array lookups + a fixed-order fold per candidate
    row — no shuffle before the final per-query top-k window over
    candidate rows only.

    Probing and distances are deterministic: centroid ranking breaks
    ties to the HIGHER cluster id (matching :func:`nearest_centroid`'s
    array_max), distances are rounded to 6 decimals before ranking,
    ranks break ties to the lower id.
    """
    n_sub = len(codebooks)
    probe_rows = []
    for qid, qvec in queries:
        sims = sorted(
            ((_py_dot(qvec, c), cid) for cid, c in enumerate(centroids)),
            key=lambda t: (-t[0], -t[1]),
        )
        for _, cid in sims[:nprobe]:
            q_resid = [float(x) - float(c) for x, c in zip(qvec, centroids[cid])]
            from multimodal_vector_db_spark.operators.quantization import (
                adc_distance_table,
            )

            probe_rows.append((qid, cid, adc_distance_table(q_resid, codebooks)))
    spark = index.sparkSession
    probes = spark.createDataFrame(
        probe_rows, "query_id long, cluster_id int, lut array<array<double>>"
    )
    cand = index.join(
        F.broadcast(probes),
        index["cluster_id"] == probes["cluster_id"],
    ).drop(probes["cluster_id"])
    dist: Column | None = None
    for s in range(n_sub):
        term = F.element_at(
            F.element_at(F.col("lut"), s + 1),
            F.element_at(F.col("pq_codes"), s + 1).cast("int") + 1,
        )
        dist = term if dist is None else dist + term
    scored = cand.select(
        "query_id", "id", F.round(dist, 6).alias("adc_dist")
    )
    return top_k_per_group(
        scored, ["query_id"], k, order_col="adc_dist", ascending=True
    )


def ivf_adc_search_blocked(
    index: DataFrame,
    queries: list[tuple[int, list[float]]],
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    k: int,
    nprobe: int,
    id_col: str = "id",
    codes_col: str = "pq_codes",
    cluster_col: str = "cluster_id",
) -> DataFrame:
    """IVFADC serving at scale — the blocked twin of
    :func:`ivf_adc_search`, the Faiss-IVFPQ shape: the index scan
    carries only ``n_sub`` bytes + a cluster id per row, probes prune
    the scan to ``nprobe`` cells, and each Arrow batch scores its
    candidates with one vectorized LUT gather per (query, cell) —
    ``D = Σ_s LUT[s, code_s]`` as a single numpy fancy-index + row
    sum, no per-row expression tree. Each batch emits only its local
    top-k per probing query, so the shuffle is bounded by
    ``touched_partitions × k × |queries|`` — at 100 TB the network
    moves winner stubs, never codes.

    Same determinism contract as the joined form: probe ranking by
    (dot desc, cid desc), distances rounded to 6dp before ranking,
    ranks tie-break to the lower id — so the discrete
    ``(query_id, id, rank)`` output hash-matches the same oracle on
    tie-free data. Returns ``(query_id, id, adc_dist, rank)``.
    """
    import numpy as np

    from pyspark.sql import Window
    from pyspark.sql import types as T

    from multimodal_vector_db_spark.operators.quantization import (
        adc_distance_table,
    )

    from multimodal_vector_db_spark.functions.blasctl import gemm_section

    C = np.asarray(centroids, dtype=np.float64)
    nc = C.shape[0]
    qids = np.asarray([qid for qid, _ in queries], dtype=np.int64)
    Qm = np.asarray([v for _, v in queries], dtype=np.float64)
    # driver-side GEMM: section-wrapped so concurrent facade callers
    # compose under the two-regime BLAS clamp (functions/blasctl.py)
    with gemm_section():
        prox = -(Qm @ C.T)
    order = np.lexsort(
        (np.broadcast_to(-np.arange(nc), prox.shape), prox), axis=1
    )[:, :nprobe]
    n_sub = len(codebooks)
    luts: dict[tuple[int, int], np.ndarray] = {}
    cluster_to_q: dict[int, list[int]] = {}
    for qi, row in enumerate(order):
        for cid in row:
            cid = int(cid)
            cluster_to_q.setdefault(cid, []).append(qi)
            q_resid = (Qm[qi] - C[cid]).tolist()
            luts[(qi, cid)] = np.asarray(
                adc_distance_table(q_resid, codebooks), dtype=np.float64
            )
    probed = sorted(cluster_to_q)

    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("id", T.LongType()),
            T.StructField("adc_dist", T.DoubleType()),
        ]
    )
    sub_idx = np.arange(n_sub)

    def score(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            for cid, grp in pdf.groupby(cluster_col):
                qidx = cluster_to_q.get(int(cid))
                if not qidx:
                    continue
                codes = np.vstack(grp[codes_col].to_numpy()).astype(
                    np.int64
                )  # (rows, n_sub)
                ids = grp[id_col].to_numpy()
                kk = min(k, len(ids))
                for qi in qidx:
                    lut = luts[(qi, int(cid))]
                    D = np.round(
                        lut[sub_idx[None, :], codes].sum(axis=1), 6
                    )
                    top = topk_rows_1d(D, ids, kk, ascending=True)
                    yield pd.DataFrame(
                        {
                            "query_id": np.full(kk, qids[qi]),
                            "id": ids[top],
                            "adc_dist": D[top],
                        }
                    )

    pruned = index.where(int_in(cluster_col, probed)).select(
        id_col, codes_col, cluster_col
    )
    local = pruned.mapInPandas(score, schema=out_schema)
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("id").asc()
    )
    return local.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def lsh_multiprobe_knn(
    corpus: DataFrame,
    queries: DataFrame,
    hyperplanes: list[list[float]],
    k: int,
    n_probes: int = 3,
    query_id_col: str = "query_id",
    query_vector_col: str = "q_emb",
    id_col: str = "id",
    vector_col: str = "embedding",
) -> DataFrame:
    """Multiprobe hyperplane LSH (Lv et al., VLDB 2007, single-bit
    flips): each query searches its own bucket PLUS the ``n_probes-1``
    buckets reached by flipping the hyperplane bits with the smallest
    |margin| — the bits most likely to disagree for true neighbors.
    The standard recall knob at fixed index cost: recall rises with
    n_probes while the scanned fraction stays n_probes/2^H, and the
    corpus layout (one partition per bucket) is untouched.

    Deterministic: margins are bit-exact dot products; flip order ties
    break on the hyperplane index. Probe buckets are distinct by
    construction (each flips a different bit), so candidates never
    duplicate and no dedup pass is needed.
    """
    c = add_hyperplane_buckets(
        corpus.select(
            F.col(id_col).alias("id"), F.col(vector_col).alias("__emb")
        ),
        hyperplanes,
        "__emb",
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vector_col).alias("__q"),
    )
    margins = [
        dot(F.col("__q"), F.array(*[F.lit(float(x)) for x in h]))
        for h in hyperplanes
    ]
    base = hyperplane_bucket(F.col("__q"), hyperplanes)
    pairs = F.array(
        *[
            F.struct(F.abs(m).alias("a"), F.lit(i).alias("i"))
            for i, m in enumerate(margins)
        ]
    )
    flip_bits = F.slice(
        F.transform(F.array_sort(pairs), lambda s: s["i"]),
        1,
        n_probes - 1,
    )
    probe_arr = F.concat(
        F.array(base),
        F.transform(
            flip_bits,
            lambda i: base.bitwiseXOR(
                F.call_function(
                    "shiftleft", F.lit(1).cast("long"), i.cast("int")
                )
            ),
        ),
    )
    probes = q.select(
        "query_id", "__q", F.explode(probe_arr).alias("bucket")
    )
    scored = c.join(probes, on="bucket").select(
        "query_id", "id", dot(F.col("__emb"), F.col("__q")).alias("sim")
    )
    return top_k_per_group(scored, ["query_id"], k)


def ivf_search_blocked(
    assigned_corpus: DataFrame,
    queries: list[tuple[int, list[float]]],
    centroids: list[list[float]],
    k: int,
    nprobe: int,
    id_col: str = "id",
    vector_col: str = "embedding",
    cluster_col: str = "cluster_id",
    probe_metric: str = "dot",
) -> DataFrame:
    """IVF batch serving at scale: BLAS scoring, zero candidate-row
    duplication — the 100 TB shape of :func:`ivf_search`'s serving path.
    ``probe_metric`` defaults to ``"dot"`` — the SAME default as
    :func:`ivf_search` — so swapping one function for the other probes
    identical cells without extra keywords.

    :func:`ivf_search` joins the probe table to the corpus, which
    materializes one (candidate × query) row PER PAIR — each dragging a
    full d-dim array copy — and scores it with the interpreted
    higher-order-function dot (no codegen for HOFs). At 44k × 512-d ×
    256 queries that is ~4.5M rows × 4 KB of duplicated vectors and
    ~45 s of interpreted eval; measured here, this form does the same
    search in ~1.5 s. Mechanics:

    1. probe ranking driver-side with one numpy matmul (the
       ``probe_rank_impl="blas"`` path);
    2. the corpus scan is pruned to probed clusters
       (``cluster_id IN (...)`` — partition pruning over the
       hive layout, a literal filter so it prunes statically);
    3. ``mapInPandas`` scores each Arrow batch grouped by cluster:
       ``X_cluster @ Q_probing.T`` (one BLAS call per (batch, cluster)),
       emitting only each batch's local top-k per query — shuffle
       bounded by ``touched_partitions × k × |queries|``;
    4. one global top-k window over those candidates.

    The query matrix rides the task closure (|q| × d float64 — ~1 MB at
    256 × 512; broadcast, not per-row). Scores are float64 BLAS, so this
    path is validated by recall against :func:`ivf_search` /
    :func:`knn_join` (the ANN standard), not hash equality — same
    contract as :func:`~multimodal_vector_db_spark.operators.knn.knn_join_blocked`.
    """
    import numpy as np

    from pyspark.sql import Window
    from pyspark.sql import types as T

    from multimodal_vector_db_spark.functions.blasctl import gemm_section

    C = np.asarray(centroids, dtype=np.float64)
    qids = np.asarray([qid for qid, _ in queries], dtype=np.int64)
    Qm = np.asarray([v for _, v in queries], dtype=np.float64)
    # driver-side GEMM: section-wrapped so concurrent facade callers
    # compose under the two-regime BLAS clamp (functions/blasctl.py)
    with gemm_section():
        if probe_metric == "l2":
            prox = (
                (Qm * Qm).sum(axis=1)[:, None]
                - 2.0 * (Qm @ C.T)
                + (C * C).sum(axis=1)[None, :]
            )
        else:
            prox = -(Qm @ C.T)
    nc = C.shape[0]
    order = np.lexsort(
        (np.broadcast_to(-np.arange(nc), prox.shape), prox), axis=1
    )[:, :nprobe]
    # cluster -> indices (into Qm) of the queries probing it
    cluster_to_q: dict[int, list[int]] = {}
    for qi, row in enumerate(order):
        for cid in row:
            cluster_to_q.setdefault(int(cid), []).append(qi)
    probed = sorted(cluster_to_q)

    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("id", T.LongType()),
            T.StructField("sim", T.DoubleType()),
        ]
    )

    def score(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            for cid, grp in pdf.groupby(cluster_col):
                qidx = cluster_to_q.get(int(cid))
                if not qidx:
                    continue
                X = np.vstack(grp[vector_col].to_numpy()).astype(np.float64)
                ids = grp[id_col].to_numpy()
                S = X @ Qm[qidx].T  # (rows, nq_probing)
                kk = min(k, len(grp))
                o = topk_rows_2d(S, ids, kk)
                yield pd.DataFrame(
                    {
                        "query_id": np.repeat(
                            qids[qidx][None, :], kk, axis=0
                        ).ravel(),
                        "id": ids[o].ravel(),
                        "sim": np.take_along_axis(S, o, axis=0).ravel(),
                    }
                )

    pruned = assigned_corpus.where(int_in(cluster_col, probed)).select(
        id_col, vector_col, cluster_col
    )
    local = pruned.mapInPandas(score, schema=out_schema)
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("id").asc()
    )
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .drop("rank")
    )


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    n_clusters: int,
    id_col: str = "id",
    vector_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 10,
    batch_id_layout: bool = False,
) -> list[list[float]]:
    """Materialize an IVF index as a storage artifact — the engine's
    ``build_all_indices.py``: fit coarse centroids (MLlib KMeans), write
    the corpus hive-partitioned by ``cluster_id`` (one file per cluster
    partition, so nprobe search prunes whole files), persist the
    centroids as ``<path>.centroids.json``. Build once, query many —
    the same amortization as the reference's HNSW build.

    ``batch_id_layout=True`` adds ``batch_id`` as the INNER partition
    level (build rows stamped ``batch_id=-1``) — the layout
    ``streaming.vector_refresh_stream`` auto-detects for its
    replaceWhere-style idempotent replay (each microbatch owns its
    ``cluster_id=*/batch_id=N`` dirs; no index-wide id guard).
    ``cluster_id`` stays the outer level, so nprobe partition pruning
    is identical in both layouts.

    Returns the centroids (also saved) for immediate searching."""
    import json as _json

    assigned, centroids = ivf_fit_assign(
        corpus.select(F.col(id_col).alias("id"), F.col(vector_col).alias("embedding")),
        n_clusters=n_clusters,
        seed=seed,
        max_iter=max_iter,
    )
    if batch_id_layout:
        assigned.withColumn(
            "batch_id", F.lit(-1).cast("long")
        ).repartition("cluster_id").write.mode("overwrite").partitionBy(
            "cluster_id", "batch_id"
        ).parquet(path)
    else:
        assigned.repartition("cluster_id").write.mode(
            "overwrite"
        ).partitionBy("cluster_id").parquet(path)
    with open(path + ".centroids.json", "w") as f:
        _json.dump(centroids, f)
    return centroids


def open_ivf_index(spark, path: str):
    """Open a :func:`build_ivf_index` artifact: returns
    ``(assigned_corpus, centroids)`` ready for :func:`ivf_search`."""
    import json as _json

    with open(path + ".centroids.json") as f:
        centroids = _json.load(f)
    return spark.read.parquet(path), centroids


def build_lsh_index(
    corpus: DataFrame,
    path: str,
    hyperplanes: list[list[float]],
    id_col: str = "id",
    vector_col: str = "embedding",
) -> None:
    """Materialize a hyperplane-LSH index: bucket every row, write the
    corpus hive-partitioned by ``bucket`` and persist the hyperplanes
    as ``<path>.hyperplanes.json``. A (multi)probe search over the
    opened index is partition pruning at the scan — the LSH sibling of
    :func:`build_ivf_index`."""
    import json as _json

    bucketed = add_hyperplane_buckets(
        corpus.select(
            F.col(id_col).alias("id"), F.col(vector_col).alias("embedding")
        ),
        hyperplanes,
        "embedding",
    )
    bucketed.repartition("bucket").write.mode("overwrite").partitionBy(
        "bucket"
    ).parquet(path)
    with open(path + ".hyperplanes.json", "w") as f:
        _json.dump(hyperplanes, f)


def open_lsh_index(spark, path: str):
    """Open a :func:`build_lsh_index` artifact: returns
    ``(bucketed_corpus, hyperplanes)`` ready for
    :func:`lsh_bucket_knn` / :func:`lsh_multiprobe_knn` (pass the
    corpus WITHOUT re-bucketing — the stored bucket column is used by
    the join and prunes partitions)."""
    import json as _json

    with open(path + ".hyperplanes.json") as f:
        hyperplanes = _json.load(f)
    return spark.read.parquet(path), hyperplanes


def ivf_append(
    spark,
    path: str,
    new_vectors: DataFrame,
    id_col: str = "id",
    vector_col: str = "embedding",
) -> None:
    """Incremental IVF maintenance — the reference's ``add_vectors``
    (``vector_index.py:94-103``) at the index level: assign new rows to
    the EXISTING centroids (broadcast expression, no refit) and append
    them into the hive partitions. Centroids drift as the corpus grows;
    monitor with the `embedding_drift` query and rebuild via
    :func:`build_ivf_index` when per-cell cohesion degrades — the same
    build-vs-maintain trade every IVF deployment makes."""
    import json as _json

    with open(path + ".centroids.json") as f:
        centroids = _json.load(f)
    # L2 assignment: build_ivf_index centroids come from MLlib KMeans,
    # which assigns by Euclidean distance — appends must use the same
    # rule or boundary cells land in different partitions than a
    # rebuild would put them
    assigned = ivf_assign(
        new_vectors.select(
            F.col(id_col).alias("id"), F.col(vector_col).alias("embedding")
        ),
        centroids,
        metric="l2",
    )
    assigned.repartition("cluster_id").write.mode("append").partitionBy(
        "cluster_id"
    ).parquet(path)
