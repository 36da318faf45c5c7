"""Engine facade tests mirroring the reference's E2E suite
(``tests/test_search_engine.py``) with the deterministic fake embedder
instead of real CLIP/CLAP (SURVEY.md §5 layer 3)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from multimodal_vector_db_spark.embedders.fake import fake_embed_numpy
from multimodal_vector_db_spark.engine import (
    MultiModalSearchEngine,
    _payload_bytes,
)


@pytest.fixture(scope="module")
def engine(spark):
    eng = MultiModalSearchEngine(spark, dim=32)
    eng.batch_ingest(
        [
            {"content": "a cat playing with a toy", "modality": "text"},
            {"content": "a dog running in a park", "modality": "text"},
            {"content": "a photo of a cat", "modality": "image"},
            {"content": "a photo of a mountain", "modality": "image"},
            {"content": "sound of a dog barking", "modality": "audio"},
            {"content": "sound of rain falling", "modality": "audio"},
        ]
    )
    return eng


def test_self_search_exact_hit(engine):
    """test_search_engine.py:51-79: searching with an item's own content
    returns that item with similarity ≈ 1."""
    out = engine.search("a cat playing with a toy", k=1)
    assert out[0]["content"] == "a cat playing with a toy"
    assert out[0]["sim"] == pytest.approx(1.0, abs=1e-5)


def test_content_type_filter(engine):
    """test_search_engine.py:112-136: filter returns only that modality."""
    out = engine.search("a photo of a cat", filter_content_type="image", k=5)
    assert len(out) == 2
    assert all(r["modality"] == "image" for r in out)


def test_space_isolation(engine):
    """Cross-space similarity is refused: a CLIP query never scores
    CLAP rows (README.md:36 dual-encoder rule)."""
    out = engine.search("sound of a dog barking", query_space="clip", k=10)
    assert all(r["space"] == "clip" for r in out)
    out_clap = engine.search(
        "sound of a dog barking", filter_content_type="audio", k=10
    )
    assert all(r["space"] == "clap" for r in out_clap)
    assert out_clap[0]["content"] == "sound of a dog barking"
    assert out_clap[0]["sim"] == pytest.approx(1.0, abs=1e-5)


def test_soft_delete_honored(engine, spark):
    eng = MultiModalSearchEngine(spark, dim=32)
    eng.batch_ingest(
        [{"content": f"item number {i}", "modality": "text"} for i in range(5)]
    )
    target = eng.search("item number 3", k=1)[0]
    eng.remove([target["id"]])
    after = eng.search("item number 3", k=5)
    assert all(r["id"] != target["id"] for r in after)


def test_ingest_count_and_stats(engine):
    """test_search_engine.py:138-154 batch ingest + A12 stats."""
    stats = engine.get_stats()
    assert stats["total_vectors"] == 6
    assert stats["by_modality"] == {"text": 2, "image": 2, "audio": 2}
    assert stats["metric"] == "cosine"


def test_save_load_round_trip(engine, tmp_path):
    """test_search_engine.py:156-181 + S8/S9: partitioned parquet +
    manifest round-trip preserves search results."""
    base = str(tmp_path / "warehouse")
    engine.save(base)
    loaded = MultiModalSearchEngine.load(engine.spark, base)
    a = engine.search("a photo of a cat", k=3)
    b = loaded.search("a photo of a cat", k=3)
    assert [(r["id"], r["sim"]) for r in a] == [(r["id"], r["sim"]) for r in b]


def test_compare_modalities_single_plan(engine):
    """§3.3: per-modality top-k with space-correct routing."""
    out = engine.compare_modalities("a cat", k_per_modality=2).collect()
    by_mod = {}
    for r in out:
        by_mod.setdefault(r["modality"], []).append(r)
    assert set(by_mod) == {"text", "image", "audio"}
    for mod, rows in by_mod.items():
        assert len(rows) == 2
        expected_space = "clap" if mod == "audio" else "clip"
        assert all(r["space"] == expected_space for r in rows)


def test_fake_embedder_properties():
    """Determinism + unit norm + space separation (test_embedders.py
    analogue)."""
    import numpy as np

    a = fake_embed_numpy("hello", "clip")
    b = fake_embed_numpy("hello", "clip")
    c = fake_embed_numpy("hello", "clap")
    assert np.array_equal(a, b)
    assert abs(float(np.linalg.norm(a)) - 1.0) < 1e-6
    # different space → unrelated vector
    assert abs(float(a @ c)) < 0.5


def _fresh_generator_embed(text, space, dim):
    """The fake embedder's spec: a NEW RandomState per call."""
    import hashlib

    import numpy as np

    seed = int.from_bytes(
        hashlib.md5(f"{space}:{text}".encode()).digest()[:4], "big"
    )
    v = np.random.RandomState(seed).normal(size=dim).astype(np.float32)
    v /= np.linalg.norm(v)
    return v


def test_fake_embedder_reseeding_is_bit_identical():
    """The embedder re-seeds one generator per thread instead of
    constructing one per call; every vector must equal the fresh
    generator's bit for bit, across texts, spaces and widths (odd
    widths included: the Gaussian draw caches its second value)."""
    import random

    import numpy as np

    rng = random.Random(20)
    texts = [f"seeded text {rng.getrandbits(40)}" for _ in range(150)]
    texts += ["", "ünïcode ✓", "x" * 500]
    for t in texts:
        for space in ("clip", "clap"):
            for dim in (7, 8, 64, 512):
                assert np.array_equal(
                    fake_embed_numpy(t, space, dim),
                    _fresh_generator_embed(t, space, dim),
                ), (t, space, dim)


def test_fake_embedder_threads_match_single_thread():
    """Threads embedding concurrently each re-seed their own
    generator, so they get the single-threaded vectors (more threads
    than cores, with a short switch interval so seeds and draws of
    different threads interleave)."""
    import sys
    import threading

    import numpy as np

    texts = [f"thread text {i}" for i in range(200)]
    want = [fake_embed_numpy(t, "clip", 64) for t in texts]
    got: dict[int, list] = {}
    n = 8
    start = threading.Barrier(n)

    def work(w: int) -> None:
        start.wait()
        got[w] = [fake_embed_numpy(t, "clip", 64) for t in texts]

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        ts = [threading.Thread(target=work, args=(w,)) for w in range(n)]
        [t.start() for t in ts]
        [t.join(timeout=60) for t in ts]
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in ts)
    for w in range(n):
        assert all(np.array_equal(a, b) for a, b in zip(got[w], want)), w


def test_approximate_search_matches_exact_when_shortlist_covers(spark):
    """approximate=True with shortlist >= corpus must return exactly
    the exact path's results (the shortlist is a pure candidate
    filter); with a tight shortlist it still finds most of the top-k."""
    eng = MultiModalSearchEngine(spark, dim=64)
    eng.batch_ingest(
        [{"content": f"item number {i} text", "modality": "text"} for i in range(60)]
    )
    exact = eng.search("item twenty", k=5)
    approx_full = eng.search("item twenty", k=5, approximate=True, shortlist=100)
    assert [r["id"] for r in approx_full] == [r["id"] for r in exact]

    approx_tight = eng.search("item twenty", k=5, approximate=True, shortlist=15)
    overlap = len(
        {r["id"] for r in approx_tight} & {r["id"] for r in exact}
    )
    assert overlap >= 2, overlap


def test_diversity_search_is_single_job(spark):
    """The diversity strategy must carry embeddings THROUGH the top-k as
    payload (one Spark job), not re-fetch them with a second isin()
    action — asserted via the scheduler's job counter."""
    # budget 0 pins the Spark path — the micro-path (tested separately)
    # serves this corpus with ZERO jobs once warm, which is not the
    # plan under test here
    eng = MultiModalSearchEngine(spark, dim=32,
                                 local_exact_budget_bytes=0)
    eng.batch_ingest(
        [{"content": f"doc {i} about topic {i % 3}", "modality": "text"}
         for i in range(30)]
    )
    tracker = spark.sparkContext.statusTracker()

    sc = spark.sparkContext
    sc.setJobGroup("diversity_probe", "diversity search job count")
    out = eng.search("doc 7 about topic 1", k=5, strategy="diversity")
    jobs = len(tracker.getJobIdsForGroup("diversity_probe") or [])
    sc.setJobGroup(None, None)

    assert len(out) == 5
    assert all(r.get("embedding") is not None for r in out)
    # one collect == one job (a second embedding re-fetch would add one)
    assert jobs == 1, f"diversity search ran {jobs} jobs, expected 1"

    # micro-path twin: warm cache serves the same query with NO job
    warm = MultiModalSearchEngine(spark, dim=32)
    warm.batch_ingest(
        [{"content": f"doc {i} about topic {i % 3}", "modality": "text"}
         for i in range(30)]
    )
    warm.search("doc 1 about topic 1", k=2)  # builds the cache
    sc.setJobGroup("diversity_probe_local", "micro-path job count")
    out2 = warm.search("doc 7 about topic 1", k=5, strategy="diversity")
    jobs2 = len(tracker.getJobIdsForGroup("diversity_probe_local") or [])
    sc.setJobGroup(None, None)
    assert warm.last_route["route"] == "exact-local"
    assert [r["id"] for r in out2] == [r["id"] for r in out]
    assert jobs2 == 0, f"warm micro-path ran {jobs2} jobs, expected 0"


def test_bulk_ingest_df_matches_driver_path(spark):
    """batch_ingest_df (distributed UDF embedding + prefix-sum ids) must
    produce bit-identical vectors to the driver-side batch_ingest for
    the same (content, modality) rows — 10^4 rows through the UDF."""
    import pandas as pd

    n = 10_000
    rows = [
        {"content": f"bulk document number {i}",
         "modality": ("text", "image", "audio")[i % 3]}
        for i in range(n)
    ]
    src = spark.createDataFrame(pd.DataFrame(rows)).repartition(8)

    eng = MultiModalSearchEngine(spark, dim=32)
    eng.batch_ingest_df(src)
    got = {
        (r["content"], r["modality"]): (r["space"], r["embedding"])
        for r in eng.items.collect()
    }
    assert len(got) == n
    # ids are contiguous 0..n-1
    ids = sorted(r["id"] for r in eng.items.select("id").collect())
    assert ids == list(range(n))

    # spot-check bit-identity against the driver-side embedder on a
    # deterministic sample (full 10^4 driver-side loop would be slow)
    for i in range(0, n, 997):
        content = f"bulk document number {i}"
        modality = ("text", "image", "audio")[i % 3]
        space, emb = got[(content, modality)]
        expected = fake_embed_numpy(content, space, 32).tolist()
        assert emb == expected, (content, modality)

    # appending more rows continues the id sequence
    eng.batch_ingest_df(
        spark.createDataFrame(
            [("extra doc", "text")], "content string, modality string"
        )
    )
    assert eng.items.count() == n + 1
    assert eng.items.agg(F.max("id")).first()[0] == n


def test_bulk_ingest_df_searchable(spark):
    """Rows ingested via the bulk path are immediately searchable with
    self-similarity 1 (same contract as the driver path)."""
    eng = MultiModalSearchEngine(spark, dim=32)
    eng.batch_ingest_df(
        spark.createDataFrame(
            [(f"needle number {i}", "text") for i in range(50)],
            "content string, modality string",
        )
    )
    out = eng.search("needle number 7", k=1)
    assert out[0]["content"] == "needle number 7"
    assert out[0]["sim"] == pytest.approx(1.0, abs=1e-5)


def test_engine_sql_surface(spark):
    """eng.sql(): the corpus is queryable as the `items` view with the
    vector SQL functions installed; soft-deleted rows are excluded."""
    eng = MultiModalSearchEngine(spark, dim=32)
    eng.batch_ingest(
        [{"content": f"sql item {i}", "modality": "text"} for i in range(10)]
    )
    eng.remove([3])
    out = eng.sql(
        "SELECT COUNT(*) AS n, MAX(vec_norm(CAST(embedding AS ARRAY<DOUBLE>))) AS mx "
        "FROM items"
    ).first()
    assert out["n"] == 9
    assert abs(out["mx"] - 1.0) < 1e-5


def test_search_scorer_dispatch_parity(spark):
    """scorer='blocked' (the >threshold path: BLAS scoring + broadcast
    payload re-fetch) must return the same ids/payload as scorer='hof',
    for both plain and diversity strategies."""
    eng = MultiModalSearchEngine(spark, dim=32)
    eng.batch_ingest(
        [{"content": f"dispatch doc {i} topic {i % 5}", "modality": "text"}
         for i in range(80)]
    )
    hof = eng.search("dispatch doc 7 topic 2", k=5, scorer="hof")
    blk = eng.search("dispatch doc 7 topic 2", k=5, scorer="blocked")
    assert [r["id"] for r in hof] == [r["id"] for r in blk]
    assert [r["content"] for r in hof] == [r["content"] for r in blk]
    for a, b in zip(hof, blk):
        assert a["sim"] == pytest.approx(b["sim"], abs=1e-9)

    div_h = eng.search("dispatch doc 7 topic 2", k=5, strategy="diversity",
                       scorer="hof")
    div_b = eng.search("dispatch doc 7 topic 2", k=5, strategy="diversity",
                       scorer="blocked")
    assert [r["id"] for r in div_h] == [r["id"] for r in div_b]
    # the blocked diversity path re-fetched real embeddings
    assert all(r.get("embedding") is not None for r in div_b)


def test_search_auto_dispatch_threshold(spark):
    """auto dispatch: a tiny threshold forces the blocked scorer and
    results are unchanged; the default threshold keeps small corpora on
    the HOF plan (cells well under 10^6)."""
    eng = MultiModalSearchEngine(spark, dim=32, blocked_threshold_cells=1,
                                 local_exact_budget_bytes=0)
    eng.batch_ingest(
        [{"content": f"auto item {i}", "modality": "text"} for i in range(40)]
    )
    assert eng._corpus_rows() == 40
    auto = eng.search("auto item 3", k=4)          # routed blocked
    hof = eng.search("auto item 3", k=4, scorer="hof")
    assert [r["id"] for r in auto] == [r["id"] for r in hof]


def test_matryoshka_save_load_search(spark, tmp_path):
    """save_matryoshka writes one table per truncation dim; the loaded
    reduced-dim engine searches it with truncated+renormalized QUERY
    embeddings and must exactly match a hand-built truncation of the
    full corpus (slice_renormalize on both sides — the reference's
    build_matryoshka_indices + reduced-dim search semantics)."""
    from multimodal_vector_db_spark.functions.vector import (
        slice_renormalize,
    )
    from multimodal_vector_db_spark.operators.knn import knn_search
    from multimodal_vector_db_spark.sources.corpus import active

    eng = MultiModalSearchEngine(spark, dim=32)
    eng.batch_ingest(
        [{"content": f"matryoshka doc {i} topic {i % 6}",
          "modality": "text"} for i in range(60)]
    )
    base = str(tmp_path / "wh_mat")
    names = eng.save_matryoshka(base, dims=[8, 16])
    assert names == {8: "items_d8", 16: "items_d16"}

    small = MultiModalSearchEngine.load_matryoshka(spark, base, dim=16)
    assert small.dim == 16
    got = small.search("matryoshka doc 3", k=5)
    assert all(len(r) for r in got)
    row = small.items.first()
    assert len(row["embedding"]) == 16 and row["dim"] == 16

    # hand-built expectation: truncate corpus AND query with the same
    # slice_renormalize semantics, rank by fold dot
    import numpy as np

    q_full = np.asarray(
        fake_embed_numpy("matryoshka doc 3", "clip", 32), dtype=np.float64
    )[:16]
    q = (q_full / np.linalg.norm(q_full)).tolist()
    want_corpus = active(eng.items).select(
        "id", slice_renormalize("embedding", 16).alias("embedding")
    )
    want = [r["id"] for r in knn_search(want_corpus, q, k=5).collect()]
    assert [r["id"] for r in got] == want


def test_bulk_ingest_ids_deterministic_with_duplicate_contents(spark):
    """batch_ingest_df id assignment must be bit-stable across runs
    even when one partition holds duplicate (content, modality) rows —
    the window orders on captured input position, a total order."""
    import pandas as pd

    def make_src():
        return spark.createDataFrame(pd.DataFrame(
            [{"content": f"dup doc {i % 7}", "modality": "text",
              "tag": i} for i in range(100)]
        )).repartition(4).drop("tag")

    runs = []
    for _ in range(2):
        eng = MultiModalSearchEngine(spark, dim=16)
        eng.batch_ingest_df(make_src())
        runs.append(sorted(
            (r["id"], r["content"]) for r in eng.items.collect()
        ))
    assert runs[0] == runs[1]
    assert len({i for i, _ in runs[0]}) == 100  # contiguous unique ids


def test_compare_modalities_scorer_parity(spark):
    """compare_modalities scorer='blocked' (dual_space_topk_blocked +
    pushed payload re-fetch) must return the same per-modality winner
    sets, payload, and schema as the HOF single-plan form."""
    eng = MultiModalSearchEngine(spark, dim=32)
    eng.batch_ingest(
        [
            {"content": f"cmp doc {i} topic {i % 4}",
             "modality": ["text", "image", "audio"][i % 3]}
            for i in range(90)
        ]
    )
    hof = eng.compare_modalities("cmp doc 7", k_per_modality=3,
                                 scorer="hof")
    blk = eng.compare_modalities("cmp doc 7", k_per_modality=3,
                                 scorer="blocked")
    assert hof.columns == blk.columns
    key = lambda r: (r["modality"], r["rank"])  # noqa: E731
    h = sorted(hof.collect(), key=key)
    b = sorted(blk.collect(), key=key)
    assert [(r["modality"], r["rank"], r["id"], r["space"],
             r["display_name"]) for r in h] == [
        (r["modality"], r["rank"], r["id"], r["space"], r["display_name"])
        for r in b
    ]
    for x, y in zip(h, b):
        assert x["sim"] == pytest.approx(y["sim"], abs=1e-9)
    # space routing survives the blocked path
    assert all(
        r["space"] == ("clap" if r["modality"] == "audio" else "clip")
        for r in b
    )


def test_compare_modalities_auto_dispatch(spark):
    """A tiny threshold routes compare_modalities through the blocked
    scorer with unchanged results; batch form agrees with per-query
    calls."""
    eng = MultiModalSearchEngine(spark, dim=32, blocked_threshold_cells=1)
    eng.batch_ingest(
        [
            {"content": f"auto cmp {i}",
             "modality": ["text", "image", "audio"][i % 3]}
            for i in range(45)
        ]
    )
    auto = eng.compare_modalities("auto cmp 5", k_per_modality=2)  # blocked
    hof = eng.compare_modalities("auto cmp 5", k_per_modality=2,
                                 scorer="hof")
    key = lambda r: (r["modality"], r["rank"])  # noqa: E731
    assert [(r["modality"], r["rank"], r["id"])
            for r in sorted(auto.collect(), key=key)] == [
        (r["modality"], r["rank"], r["id"])
        for r in sorted(hof.collect(), key=key)
    ]
    batch = eng.compare_modalities_batch(
        ["auto cmp 5", "auto cmp 11"], k_per_modality=2
    )
    single0 = sorted(auto.collect(), key=key)
    assert [(r["modality"], r["rank"], r["id"]) for r in batch[0]] == [
        (r["modality"], r["rank"], r["id"]) for r in single0
    ]
    single1 = sorted(
        eng.compare_modalities("auto cmp 11", k_per_modality=2).collect(),
        key=key,
    )
    assert [(r["modality"], r["rank"], r["id"]) for r in batch[1]] == [
        (r["modality"], r["rank"], r["id"]) for r in single1
    ]


def test_sql_on_fresh_engine(spark):
    """eng.sql() before any ingest exposes an EMPTY items view with the
    canonical schema instead of raising."""
    eng = MultiModalSearchEngine(spark, dim=32)
    out = eng.sql("SELECT COUNT(*) AS n FROM items").first()
    assert out["n"] == 0
    cols = eng.sql("SELECT * FROM items").columns
    assert cols == ["id", "modality", "space", "embedding", "dim",
                    "deleted", "content", "display_name"]


def test_bulk_ingest_releases_source_cache(spark):
    """batch_ingest_df must not leave the raw source pinned in executor
    memory: after ingest the only surviving storage is the checkpointed
    items block (≤ +1 persistent RDD per ingest)."""
    import pandas as pd

    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    eng = MultiModalSearchEngine(spark, dim=32)
    for round_ in range(2):
        src = spark.createDataFrame(pd.DataFrame(
            [{"content": f"cache probe {round_}-{i}", "modality": "text"}
             for i in range(200)]
        )).repartition(4)
        eng.batch_ingest_df(src)
    after = jsc.getPersistentRDDs().size()
    assert after - before <= 2, (before, after)
    assert eng.items.count() == 400
    ids = [r["id"] for r in eng.items.select("id").collect()]
    assert sorted(ids) == list(range(400))


def test_search_batch_matches_search(spark):
    """search_batch must return, per query, the same ranked ids as
    repeated single search() calls — on both scorer paths."""
    eng = MultiModalSearchEngine(spark, dim=32)
    eng.batch_ingest(
        [{"content": f"batch doc {i} group {i % 7}", "modality": "text"}
         for i in range(90)]
    )
    qs = ["batch doc 3 group 3", "batch doc 50 group 1"]
    for scorer in ("hof", "blocked"):
        batched = eng.search_batch(qs, k=5, scorer=scorer)
        for qi, qtext in enumerate(qs):
            single = eng.search(qtext, k=5, scorer=scorer)
            assert [r["id"] for r in batched[qi]] == [
                r["id"] for r in single
            ], (scorer, qi)
            assert all(
                r["content"] is not None for r in batched[qi]
            )


def test_search_by_audio_content_through_facade(spark):
    """M5-shape parity without torch: an audio corpus embedded with the
    distributed sequency front-end, a raw WAV query embedded with the
    driver-side single-clip twin, searched through the engine facade —
    the query clip's own group ranks first (the reference's
    query-by-audio flow, audio_embedder.py:199-250 + 327-352, with the
    CLAP forward replaced by the deterministic signature)."""
    from pyspark.sql import functions as F

    from multimodal_vector_db_spark.engine import MultiModalSearchEngine
    from multimodal_vector_db_spark.functions.vector import l2_normalize
    from multimodal_vector_db_spark.multimodal.pipeline import (
        audio_sequency_features,
        audio_signature_vector,
    )
    from multimodal_vector_db_spark.queries.m12_curation4 import _afp_media

    docs = spark.range(80).select(F.col("id").alias("doc_id"))
    media = _afp_media(docs)
    feats = audio_sequency_features(media)
    rel = F.transform(
        F.col("bands"),
        lambda b: F.coalesce(
            F.try_divide(b.cast("double"), F.col("total").cast("double")),
            F.lit(0.0),
        ),
    )
    items = feats.select(
        F.col("doc_id").alias("id"),
        F.lit("audio").alias("modality"),
        F.lit("audio_sig").alias("space"),
        l2_normalize(rel).alias("embedding"),
        F.lit(16).alias("dim"),
        F.lit(False).alias("deleted"),
        F.concat(F.lit("clip "), F.col("doc_id")).alias("content"),
        F.concat(F.lit("clip_"), F.col("doc_id")).alias("display_name"),
    )
    eng = MultiModalSearchEngine(spark, items=items, dim=16)

    # the query is clip 45's RAW BYTES, embedded driver-side
    qbytes = media.where(F.col("doc_id") == 45).first()["content"]
    qvec = audio_signature_vector(bytes(qbytes))
    hits = eng.search(qvec, k=3, query_space="audio_sig")
    ids = [h["id"] for h in hits]
    assert ids[0] == 45  # exact self match (identical arithmetic)
    # the nearest non-self neighbour is the clip's only group mate
    # (80 docs / 40 groups = 2 clips per group)
    assert ids[1] == 5, ids


def test_search_audio_content_facade_method(spark):
    """Round-8 facade closure: ingest raw audio bytes through
    engine.ingest_audio_content (distributed decode -> sequency
    signature, dedicated 'audio_sig' space) and retrieve with
    engine.search_audio_content(raw bytes) — the reference's
    search_audio.py UX with zero manual vector plumbing. The query
    clip's own id ranks first and its only group mate second; text
    rows in the same engine are never scored (space correctness)."""
    from pyspark.sql import functions as F

    from multimodal_vector_db_spark.engine import MultiModalSearchEngine
    from multimodal_vector_db_spark.queries.m12_curation4 import _afp_media

    eng = MultiModalSearchEngine(spark, dim=16)
    # a mixed engine: some text rows first (must not leak into results)
    eng.batch_ingest(
        [{"content": f"text doc {i}", "modality": "text"} for i in range(5)]
    )
    docs = spark.range(80).select((F.col("id") + 1000).alias("doc_id"))
    media = _afp_media(docs)
    eng.ingest_audio_content(media)
    assert eng.get_stats()["by_modality"]["audio"] == 80

    qbytes = bytes(media.where(F.col("doc_id") == 1045).first()["content"])
    hits = eng.search_audio_content(qbytes, k=3)
    ids = [h["id"] for h in hits]
    assert ids[0] == 1045  # self match
    # 80 docs over mod-40 facet groups -> exactly one group mate
    assert ids[1] == 1005, ids
    assert all(h["modality"] == "audio" for h in hits)

    # predicate pushes into the same plan: exclude the self id
    hits2 = eng.search_audio_content(
        qbytes, k=2, predicate=F.col("id") != 1045
    )
    assert [h["id"] for h in hits2][0] == 1005


def test_auto_route_exact_vs_ivf_planner(spark):
    """Round-8 stretch: the SURVEY-§4 planner rule as an engine
    heuristic. recall_floor=1.0 -> always exact; a declared floor with
    a covering ANN index and a big-enough corpus -> IVF with nprobe
    from the measured recall contract; corpus drift after the build ->
    exact with the reason logged. Self-queries stay rank-1 on the IVF
    route (the query's nearest centroid IS its assigned cell)."""
    from pyspark.sql import functions as F

    from multimodal_vector_db_spark.engine import MultiModalSearchEngine

    # tiny threshold so 120 rows x 16 dims counts as "big": the
    # single-query threshold is 8x this = 80 cells < 1920.
    # ann_auto_append=False: this test pins the DISABLED-maintenance
    # fallback; the append path has its own tests below.
    eng = MultiModalSearchEngine(spark, dim=16, blocked_threshold_cells=10,
                                 ann_auto_append=False,
                                 local_exact_budget_bytes=0)
    eng.batch_ingest(
        [{"content": f"planner doc {i}", "modality": "text"}
         for i in range(120)]
    )

    # 1. default floor -> exact, with the reason recorded
    eng.search("planner doc 7", k=3)
    assert eng.last_route["route"] == "exact-blocked"
    assert "recall_floor=1.0" in eng.last_route["reason"]

    # 2. declared slack but no index yet -> exact, reason says so
    eng.search("planner doc 7", k=3, recall_floor=0.95)
    assert eng.last_route["route"].startswith("exact")
    assert "no ANN index" in eng.last_route["reason"]

    # 3. build the index -> auto picks IVF at the conservative point
    # (calibrate=False pins the fixed fraction-map fallback; the
    # calibrated route has its own tests below)
    stats = eng.build_ann_index(space="clip", n_clusters=8,
                                calibrate=False)
    assert stats["n_clusters"] == 8
    qvec = eng.items.where(F.col("id") == 42).first()["embedding"]
    hits = eng.search([float(x) for x in qvec], k=3, recall_floor=0.95)
    assert eng.last_route["route"] == "ivf"
    assert eng.last_route["nprobe"] == 2  # ceil(0.25 * 8)
    assert hits[0]["id"] == 42  # self-query rank-1 on the IVF route
    # a 0.9 floor is NOT honored by the 1/8 point on non-clustered
    # data (measured ~0.8 on the mixture regime) — it must map to the
    # conservative point; only floors <= 0.8 get the cheap one
    eng.search([float(x) for x in qvec], k=3, recall_floor=0.9)
    assert eng.last_route["nprobe"] == 2  # ceil(0.25 * 8)
    eng.search([float(x) for x in qvec], k=3, recall_floor=0.8)
    assert eng.last_route["nprobe"] == 1  # ceil(0.125 * 8)

    # 4. tombstones hold on the IVF route (predicate path shared)
    eng.remove([42])
    hits = eng.search([float(x) for x in qvec], k=3, recall_floor=0.95)
    assert eng.last_route["route"] == "ivf"
    assert all(h["id"] != 42 for h in hits)

    # 5. corpus change with auto-append DISABLED -> exact + the reason
    eng.ingest_content("late arrival", modality="text")
    eng.search("late arrival", k=3, recall_floor=0.95)
    assert eng.last_route["route"].startswith("exact")
    assert "corpus changed" in eng.last_route["reason"]
    assert "append_to_ann_index" in eng.last_route["reason"]
    # forced ivf still runs (documented: covers build-time rows only)
    hits = eng.search("planner doc 7", k=3, recall_floor=0.95, route="ivf")
    assert eng.last_route["route"] == "ivf"
    assert len(hits) > 0


def test_auto_route_batch_ivf(spark):
    """Batch planner: search_batch with a declared recall floor routes
    the WHOLE batch through one cell-pruned IVF job (the path where
    pruning pays most) and self-queries stay rank-1; exact floor keeps
    the exact path; results carry payload like the exact form."""
    from pyspark.sql import functions as F

    from multimodal_vector_db_spark.engine import MultiModalSearchEngine

    eng = MultiModalSearchEngine(spark, dim=16, blocked_threshold_cells=10,
                                 local_exact_budget_bytes=0)
    eng.batch_ingest(
        [{"content": f"batch planner doc {i}", "modality": "text"}
         for i in range(120)]
    )
    eng.build_ann_index(space="clip", n_clusters=8, calibrate=False)
    qrows = (
        eng.items.where(F.col("id").isin([3, 77]))
        .orderBy("id")
        .select("id", "embedding")
        .collect()
    )
    qvecs = [[float(x) for x in r["embedding"]] for r in qrows]

    out = eng.search_batch(qvecs, k=3, recall_floor=0.95)
    assert eng.last_route["route"] == "ivf"
    assert eng.last_route["nprobe"] == 2
    assert out[0][0]["id"] == 3 and out[1][0]["id"] == 77
    assert out[0][0]["content"] is not None  # payload fetched

    eng.search_batch(qvecs, k=3)  # default floor -> exact
    assert eng.last_route["route"].startswith("exact")


# ---------------------------------------------------------------------------
# round 9: incremental IVF maintenance + per-index calibration + cost gate
# ---------------------------------------------------------------------------


def test_forced_ivf_without_index_raises(spark):
    """route='ivf' with no built index must fail with a meaningful
    ValueError, not a bare KeyError deep in the IVF path."""
    eng = MultiModalSearchEngine(spark, dim=16)
    eng.batch_ingest(
        [{"content": f"doc {i}", "modality": "text"} for i in range(10)]
    )
    with pytest.raises(ValueError, match="build_ann_index"):
        eng.search("doc 3", k=3, route="ivf")


def test_scorer_override_forces_exact(spark):
    """An explicit scorer= is the documented exact-parity surface: it
    must win over route='auto' + recall_floor<1 (never silently return
    approximate results), with the override logged as the reason."""
    eng = MultiModalSearchEngine(spark, dim=16, blocked_threshold_cells=10,
                                 local_exact_budget_bytes=0)
    eng.batch_ingest(
        [{"content": f"sc doc {i}", "modality": "text"} for i in range(120)]
    )
    eng.build_ann_index(space="clip", n_clusters=8, calibrate=False)
    # sanity: without the override this floor routes IVF
    eng.search("sc doc 7", k=3, recall_floor=0.95)
    assert eng.last_route["route"] == "ivf"
    exact = eng.search("sc doc 7", k=3, scorer="blocked", recall_floor=0.95)
    assert eng.last_route["route"] == "exact-blocked"
    assert "scorer" in eng.last_route["reason"]
    want = eng.search("sc doc 7", k=3, scorer="blocked")  # floor 1.0
    assert [r["id"] for r in exact] == [r["id"] for r in want]
    # batch form honors the same contract
    eng.search_batch(["sc doc 7"], k=3, scorer="hof", recall_floor=0.95)
    assert eng.last_route["route"] == "exact-hof"
    assert "scorer" in eng.last_route["reason"]


def test_append_keeps_ivf_route_and_ranks(spark):
    """Round-9 headline: ingest after build no longer disables the IVF
    route — the auto route transparently appends the new rows to the
    existing cells (same L2 rule as the build), the appended rows are
    retrievable at their true ranks, and the coverage counter updates
    so no further appends run until the next ingest."""
    eng = MultiModalSearchEngine(spark, dim=16, blocked_threshold_cells=10,
                                 local_exact_budget_bytes=0)
    eng.batch_ingest(
        [{"content": f"base doc {i}", "modality": "text"}
         for i in range(120)]
    )
    eng.build_ann_index(space="clip", n_clusters=8, calibrate=False)
    eng.batch_ingest(
        [{"content": f"appended doc {i}", "modality": "text"}
         for i in range(10)]
    )
    # self-query of an APPENDED row: auto route must stay IVF and the
    # appended row must be rank-1 (its assigned cell is its nearest)
    qvec = [float(x) for x in
            eng.items.where(F.col("id") == 125).first()["embedding"]]
    hits = eng.search(qvec, k=3, recall_floor=0.95)
    assert eng.last_route["route"] == "ivf"
    assert hits[0]["id"] == 125
    info = eng._ann["clip"]
    assert info["appended_rows"] == 10
    assert info["drifted"] is False
    assert info["drift"] is not None and info["drift"] < 4.0
    # coverage counter updated: a second search triggers NO new append
    eng.search(qvec, k=3, recall_floor=0.95)
    assert eng._ann["clip"]["appended_rows"] == 10
    assert eng.last_route["route"] == "ivf"
    # batch route also stays IVF and returns the appended row
    out = eng.search_batch([qvec], k=3, recall_floor=0.95)
    assert eng.last_route["route"] == "ivf"
    assert out[0][0]["id"] == 125


def test_append_drift_threshold_forces_exact(spark):
    """Appended rows from a SHIFTED distribution (mean squared centroid
    distance >> the build-time baseline) flag the index drifted: the
    auto route falls back to exact with the measured ratio in the
    reason, until a rebuild re-fits the cells."""
    import numpy as np

    def embed(text, space):
        v = fake_embed_numpy(text, space, 16).astype(np.float64)
        if text.startswith("far"):
            v = v * 10.0  # off-manifold: ~100x the build cohesion
        return v.tolist()

    eng = MultiModalSearchEngine(
        spark, dim=16, blocked_threshold_cells=10, embed_fn=embed,
        local_exact_budget_bytes=0
    )
    eng.batch_ingest(
        [{"content": f"near doc {i}", "modality": "text"}
         for i in range(120)]
    )
    eng.build_ann_index(space="clip", n_clusters=8, calibrate=False)
    eng.batch_ingest(
        [{"content": f"far doc {i}", "modality": "text"} for i in range(8)]
    )
    eng.search("near doc 7", k=3, recall_floor=0.95)
    assert eng.last_route["route"].startswith("exact")
    assert "drift" in eng.last_route["reason"]
    info = eng._ann["clip"]
    assert info["drifted"] is True and info["drift"] > 4.0
    # rebuild re-fits on everything -> IVF usable again
    eng.build_ann_index(space="clip", n_clusters=8, calibrate=False)
    eng.search("near doc 7", k=3, recall_floor=0.95)
    assert eng.last_route["route"] == "ivf"


def test_unrelated_space_ingest_keeps_index_fresh(spark):
    """Ingesting into a DIFFERENT space (audio_sig) must not flag the
    clip index as stale: the coverage check is per-space row counts,
    not the global total."""
    from multimodal_vector_db_spark.queries.m12_curation4 import _afp_media

    eng = MultiModalSearchEngine(spark, dim=16, blocked_threshold_cells=10,
                                 local_exact_budget_bytes=0)
    eng.batch_ingest(
        [{"content": f"clip doc {i}", "modality": "text"}
         for i in range(120)]
    )
    eng.build_ann_index(space="clip", n_clusters=8, calibrate=False)
    docs = spark.range(20).select((F.col("id") + 5000).alias("doc_id"))
    eng.ingest_audio_content(_afp_media(docs))
    eng.search("clip doc 7", k=3, recall_floor=0.95)
    assert eng.last_route["route"] == "ivf"
    assert eng._ann["clip"]["appended_rows"] == 0  # nothing to absorb


def test_calibration_on_skewed_corpus_honors_floor(spark):
    """Per-index recall calibration (round 9): one tight mega-cluster —
    dot-product neighbors barely correlate with the fitted Voronoi
    cells, so the old module-pinned 1/8-of-cells point measures WAY
    under a 0.9 floor on this corpus. The calibrated planner must (a)
    measure that, and (b) route at a point whose MEASURED recall meets
    the floor instead."""
    import numpy as np

    rng = np.random.RandomState(7)
    n, d = 256, 16
    c = np.zeros(d)
    c[0] = 1.0
    X = c[None, :] + 0.01 * rng.randn(n, d)  # one mega-cluster
    rows = [
        (i, "text", "clip", [float(x) for x in X[i]], d, False,
         f"mega {i}", f"item_{i}")
        for i in range(n)
    ]
    items = spark.createDataFrame(
        rows,
        "id long, modality string, space string, embedding array<float>, "
        "dim int, deleted boolean, content string, display_name string",
    )
    eng = MultiModalSearchEngine(spark, items=items, dim=d,
                                 local_exact_budget_bytes=0)
    stats = eng.build_ann_index(
        space="clip",
        n_clusters=8,
        calibration_queries=32,
        calibration_fractions=(0.125, 0.25, 0.5, 1.0),
    )
    cal = stats["calibration"]
    assert cal is not None and len(cal["points"]) == 4
    by_frac = {p["fraction"]: p for p in cal["points"]}
    # the pinned 1/8 point misses the floor on this geometry...
    assert by_frac[0.125]["recall"] < 0.9, by_frac
    # ...but some measured point meets it (1.0 always does)
    meeting = [p for p in cal["points"] if p["recall"] >= 0.9]
    assert meeting
    chosen = meeting[0]  # points ascend by fraction -> cheapest first
    # neutralize the measured-cost gate (timing noise on a tiny corpus)
    # so the routing decision under test is the RECALL selection
    eng._ann["clip"]["calibration"]["exact_ms_per_q"] = 1e9
    eng._ann["clip"]["calibration"]["exact_ms_single"] = 1e9
    qvec = [float(x) for x in X[17]]
    hits = eng.search(qvec, k=5, recall_floor=0.9)
    assert eng.last_route["route"] == "ivf"
    assert eng.last_route["nprobe"] == chosen["nprobe"]
    assert "calibrated" in eng.last_route["reason"]
    # quality spot-check vs the exact path (note: under dot on this
    # NON-normalized blob the query's own row need not rank first —
    # rows with a larger mean-direction component outscore it, so the
    # honest check is overlap with exact, not a self-hit)
    exact = eng.search(qvec, k=5, scorer="blocked")
    overlap = {h["id"] for h in hits} & {h["id"] for h in exact}
    assert len(overlap) >= 3, (hits, exact)
    # an unmeetable floor falls back to exact with the measured ceiling
    eng._ann["clip"]["calibration"]["points"] = [
        p for p in cal["points"] if p["recall"] < 0.999
    ]
    if eng._ann["clip"]["calibration"]["points"]:
        eng.search(qvec, k=5, recall_floor=0.9999)
        assert eng.last_route["route"].startswith("exact")
        assert "calibrated curve max" in eng.last_route["reason"]


def test_measured_cost_gate_both_sides(spark):
    """The exact-vs-IVF crossover comes from the calibration's measured
    per-query costs, not a size constant: injected timings flip the
    auto route deterministically in both directions."""
    eng = MultiModalSearchEngine(spark, dim=16, local_exact_budget_bytes=0)
    eng.batch_ingest(
        [{"content": f"cost doc {i}", "modality": "text"}
         for i in range(120)]
    )
    eng.build_ann_index(space="clip", n_clusters=8, calibration_queries=16)
    cal = eng._ann["clip"]["calibration"]
    assert cal["exact_ms_per_q"] > 0
    assert cal["calibration_sec"] > 0

    assert cal["exact_ms_single"] > 0  # single-query walls measured too
    assert all("ms_single" in p for p in cal["points"])

    # side 1: IVF measured slower than exact -> exact, reason says so
    # (both depths injected: search uses the single-query walls,
    # search_batch the batch-amortized ones)
    for p in cal["points"]:
        p["recall"] = 1.0
        p["ms_per_q"] = 50.0
        p["ms_single"] = 50.0
    cal["exact_ms_per_q"] = 1.0
    cal["exact_ms_single"] = 1.0
    eng.search("cost doc 7", k=3, recall_floor=0.9)
    assert eng.last_route["route"].startswith("exact")
    assert "measured cost" in eng.last_route["reason"]
    eng.search_batch(["cost doc 7"], k=3, recall_floor=0.9)
    assert eng.last_route["route"].startswith("exact")
    assert "batch" in eng.last_route["reason"]

    # side 2: IVF measured cheaper -> IVF at the calibrated point
    cal["exact_ms_per_q"] = 500.0
    cal["exact_ms_single"] = 500.0
    eng.search("cost doc 7", k=3, recall_floor=0.9)
    assert eng.last_route["route"] == "ivf"
    assert eng.last_route["nprobe"] == cal["points"][0]["nprobe"]
    # depth divergence: batch says IVF wins, single says exact wins —
    # each call shape follows ITS OWN measured wall
    cal["exact_ms_single"] = 1.0
    eng.search("cost doc 7", k=3, recall_floor=0.9)
    assert eng.last_route["route"].startswith("exact")
    eng.search_batch(["cost doc 7"], k=3, recall_floor=0.9)
    assert eng.last_route["route"] == "ivf"


def test_ann_state_survives_save_load(spark, tmp_path):
    """Round-9 persistence parity: the reference saves its index
    structure with the data (vector_index.py:224-252); the facade must
    too — a reloaded engine routes IVF from the SAME calibrated
    contract (centroids, assignment, measured curve, drift baseline)
    without re-running KMeans or calibration."""
    eng = MultiModalSearchEngine(spark, dim=16, local_exact_budget_bytes=0)
    eng.batch_ingest(
        [{"content": f"persist doc {i}", "modality": "text"}
         for i in range(150)]
    )
    eng.build_ann_index(space="clip", n_clusters=8,
                        calibration_queries=16)
    # force a deterministic route: curve honors any floor, IVF cheaper
    cal = eng._ann["clip"]["calibration"]
    for p in cal["points"]:
        p["recall"] = 1.0
        p["ms_per_q"] = 1.0
        p["ms_single"] = 1.0
    cal["exact_ms_per_q"] = 99.0
    cal["exact_ms_single"] = 99.0

    base = str(tmp_path / "wh_ann")
    eng.save(base)
    loaded = MultiModalSearchEngine.load(spark, base)
    loaded.local_exact_budget_bytes = 0  # pin the Spark IVF route
    assert "clip" in loaded._ann
    info = loaded._ann["clip"]
    assert info["centroids"] == eng._ann["clip"]["centroids"]
    assert info["calibration"]["points"][0]["ms_per_q"] == 1.0
    assert info["drifted"] is False

    hits = loaded.search("persist doc 7", k=3, recall_floor=0.9)
    assert loaded.last_route["route"] == "ivf"
    assert (loaded.last_route["nprobe"]
            == info["calibration"]["points"][0]["nprobe"])
    assert hits[0]["content"] == "persist doc 7"

    # post-load ingest still auto-appends into the restored index
    loaded.batch_ingest(
        [{"content": "persist late", "modality": "text"}]
    )
    loaded.search("persist late", k=3, recall_floor=0.9)
    assert loaded.last_route["route"] == "ivf"
    assert loaded._ann["clip"]["appended_rows"] == 1


def test_attach_disk_ivf_index(spark, tmp_path):
    """attach_ann_index: the engine serves from an IVF artifact built
    (and stream-maintained) OUT-OF-BAND by ann.build_ivf_index — the
    remaining serving-loop closure. Rows the artifact predates are
    absorbed by auto-append at attach time; the drift baseline comes
    from the artifact itself; routing works immediately."""
    from multimodal_vector_db_spark.operators.ann import build_ivf_index
    from multimodal_vector_db_spark.sources.corpus import active

    eng = MultiModalSearchEngine(spark, dim=16, blocked_threshold_cells=10,
                                 local_exact_budget_bytes=0)
    eng.batch_ingest(
        [{"content": f"attach doc {i}", "modality": "text"}
         for i in range(100)]
    )
    path = str(tmp_path / "ivf_artifact")
    build_ivf_index(
        active(eng.items).where(F.col("space") == "clip")
        .select("id", "embedding"),
        path,
        n_clusters=8,
    )
    # the artifact now predates these rows
    eng.batch_ingest(
        [{"content": f"post-artifact doc {i}", "modality": "text"}
         for i in range(30)]
    )
    stats = eng.attach_ann_index("clip", path, calibrate=False)
    assert stats["n_clusters"] == 8
    assert stats["rows"] == 100          # covered by the artifact
    assert stats["appended"] == 30       # absorbed at attach
    info = eng._ann["clip"]
    assert info["drifted"] is False and info["drift"] < 4.0
    assert info["mean_sq_dist"] > 0

    # route immediately: self-query of a POST-ARTIFACT row stays rank-1
    qvec = [float(x) for x in
            eng.items.where(F.col("id") == 115).first()["embedding"]]
    hits = eng.search(qvec, k=3, recall_floor=0.95)
    assert eng.last_route["route"] == "ivf"
    assert hits[0]["id"] == 115

    # attach with calibration produces the measured contract too
    stats2 = eng.attach_ann_index("clip", path, calibration_queries=8)
    assert stats2["calibration"] is not None
    assert len(stats2["calibration"]["points"]) == 4


def test_filtered_search_forces_exact_route(spark):
    """Filtered-ANN honesty: an arbitrary Column predicate (recall
    unmeasurable) and a content-type filter WITHOUT a measured filter
    curve both route EXACT under a declared floor (a selective filter
    concentrates the true top-k into cells nprobe may skip) — forced
    route='ivf' still obeys the caller. Filters WITH a measured curve
    route IVF; see test_filtered_calibration_routes_ivf."""
    eng = MultiModalSearchEngine(spark, dim=16, blocked_threshold_cells=10,
                                 local_exact_budget_bytes=0)
    eng.batch_ingest(
        [{"content": f"filt doc {i}", "modality": ["text", "image"][i % 2]}
         for i in range(120)]
    )
    eng.build_ann_index(space="clip", n_clusters=8, calibrate=False)
    # unfiltered: IVF as before
    eng.search("filt doc 7", k=3, recall_floor=0.95)
    assert eng.last_route["route"] == "ivf"
    # predicate -> exact with the honesty reason
    hits = eng.search("filt doc 7", k=3, recall_floor=0.95,
                      predicate=F.col("id") < 60)
    assert eng.last_route["route"].startswith("exact")
    assert "unmeasured" in eng.last_route["reason"]
    assert all(h["id"] < 60 for h in hits)
    # modality filter with NO measured filter curve -> exact too
    eng.search("filt doc 7", k=3, recall_floor=0.95,
               filter_content_type="image")
    assert eng.last_route["route"].startswith("exact")
    assert "no measured calibration" in eng.last_route["reason"]
    # batch form honors it
    eng.search_batch(["filt doc 7"], k=3, recall_floor=0.95,
                     filter_content_type="image")
    assert eng.last_route["route"].startswith("exact")
    # forced ivf is still the caller's choice
    eng.search("filt doc 7", k=3, route="ivf", recall_floor=0.95,
               predicate=F.col("id") < 60)
    assert eng.last_route["route"] == "ivf"


def test_concurrent_searches_append_once(spark):
    """Maintenance is serialized: N concurrent searches observing the
    same stale coverage must absorb the ingest exactly once — no
    duplicate (id, cluster_id) assignments (which would duplicate
    candidates in every later IVF top-k)."""
    import threading

    eng = MultiModalSearchEngine(spark, dim=16, blocked_threshold_cells=10,
                                 local_exact_budget_bytes=0)
    eng.batch_ingest(
        [{"content": f"conc doc {i}", "modality": "text"}
         for i in range(120)]
    )
    eng.build_ann_index(space="clip", n_clusters=8, calibrate=False)
    eng.batch_ingest(
        [{"content": f"conc late {i}", "modality": "text"}
         for i in range(10)]
    )
    errs = []

    def go():
        try:
            eng.search("conc doc 3", k=3, recall_floor=0.95)
        except Exception as e:  # pragma: no cover - surfaced below
            errs.append(e)

    threads = [threading.Thread(target=go) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs
    info = eng._ann["clip"]
    assert info["appended_rows"] == 10
    n = info["assign"].count()
    nd = info["assign"].select("id").distinct().count()
    assert n == nd == 130, (n, nd)


def test_drifted_index_is_frozen(spark):
    """Once drifted, appends are no-ops (merging cohesive rows cannot
    restore the fitted-cell contract, and overwriting `drift` would
    make the logged reason contradict the latch) until a rebuild."""
    import numpy as np

    def embed(text, space):
        v = fake_embed_numpy(text, space, 16).astype(np.float64)
        return (v * 10.0).tolist() if text.startswith("far") else v.tolist()

    eng = MultiModalSearchEngine(
        spark, dim=16, blocked_threshold_cells=10, embed_fn=embed,
        local_exact_budget_bytes=0
    )
    eng.batch_ingest(
        [{"content": f"frz doc {i}", "modality": "text"} for i in range(120)]
    )
    eng.build_ann_index(space="clip", n_clusters=8, calibrate=False)
    eng.batch_ingest([{"content": "far away", "modality": "text"}])
    out = eng.append_to_ann_index("clip")
    assert out["drifted"] is True
    drift0 = eng._ann["clip"]["drift"]
    # a later cohesive ingest: append is a frozen no-op, drift unchanged
    eng.batch_ingest([{"content": "frz cohesive", "modality": "text"}])
    out2 = eng.append_to_ann_index("clip")
    assert out2 == {"space": "clip", "appended": 0, "drift": drift0,
                    "drifted": True}
    eng.search("frz doc 3", k=3, recall_floor=0.95)
    assert eng.last_route["route"].startswith("exact")
    assert f"{drift0:.2f}" in eng.last_route["reason"]


# -- round 10: driver-resident exact micro-path ------------------------

def test_local_micro_path_parity(spark):
    """The driver-resident micro-path must return the SAME ids, payload
    and (approx) sims as the Spark blocked scorer — same BLAS kernel,
    same (sim desc, id asc) tie-break — for plain, filtered, diversity
    and batch searches."""
    eng = MultiModalSearchEngine(spark, dim=32)
    eng.batch_ingest(
        [{"content": f"micro doc {i} topic {i % 5}",
          "modality": ["text", "image"][i % 2]}
         for i in range(90)]
    )
    local = eng.search("micro doc 7 topic 2", k=5)
    assert eng.last_route["route"] == "exact-local"
    spk = eng.search("micro doc 7 topic 2", k=5, scorer="blocked")
    assert eng.last_route["route"] == "exact-blocked"
    assert [r["id"] for r in local] == [r["id"] for r in spk]
    assert [r["content"] for r in local] == [r["content"] for r in spk]
    for a, b in zip(local, spk):
        assert a["sim"] == pytest.approx(b["sim"], abs=1e-12)
    assert sorted(local[0]) == sorted(spk[0])  # same payload keys

    # content-type filter applied via the cached modality mask
    fl = eng.search("micro doc 7 topic 2", k=5, filter_content_type="image")
    assert eng.last_route["route"] == "exact-local"
    fs = eng.search("micro doc 7 topic 2", k=5, filter_content_type="image",
                    scorer="blocked")
    assert [r["id"] for r in fl] == [r["id"] for r in fs]
    assert all(r["modality"] == "image" for r in fl)

    # diversity rerank sees real embeddings on the local path too
    dl = eng.search("micro doc 7 topic 2", k=5, strategy="diversity")
    assert eng.last_route["route"] == "exact-local"
    ds = eng.search("micro doc 7 topic 2", k=5, strategy="diversity",
                    scorer="blocked")
    assert [r["id"] for r in dl] == [r["id"] for r in ds]

    # batch twin vs the Spark blocked batch path
    qs = ["micro doc 3 topic 3", "micro doc 11 topic 1"]
    bl = eng.search_batch(qs, k=4)
    assert eng.last_route["route"] == "exact-local"
    bs = eng.search_batch(qs, k=4, scorer="blocked")
    for i in range(len(qs)):
        assert [r["id"] for r in bl[i]] == [r["id"] for r in bs[i]]
        for a, b in zip(bl[i], bs[i]):
            assert a["sim"] == pytest.approx(b["sim"], abs=1e-12)


def test_local_micro_path_invalidation_and_budget(spark):
    """Cache lifecycle: ingest and remove bump the corpus epoch so the
    next local search rebuilds (new rows retrievable, tombstones
    honored); a space over the byte budget never routes local."""
    eng = MultiModalSearchEngine(spark, dim=16)
    eng.batch_ingest(
        [{"content": f"inv doc {i}", "modality": "text"} for i in range(40)]
    )
    hits = eng.search("inv doc 3", k=3)
    assert eng.last_route["route"] == "exact-local"
    victim = hits[0]["id"]
    eng.remove([victim])
    hits2 = eng.search("inv doc 3", k=3)
    assert eng.last_route["route"] == "exact-local"
    assert all(r["id"] != victim for r in hits2)
    eng.ingest_content("inv late arrival", modality="text")
    hits3 = eng.search("inv late arrival", k=3)
    assert hits3[0]["content"] == "inv late arrival"

    # byte budget: 40 rows x 16 dims x 4B = 2560 B > 1 B budget
    tiny = MultiModalSearchEngine(spark, dim=16,
                                  local_exact_budget_bytes=1)
    tiny.batch_ingest(
        [{"content": f"big doc {i}", "modality": "text"} for i in range(40)]
    )
    tiny.search("big doc 3", k=3)
    assert eng.last_route["route"] == "exact-local"  # unchanged engine
    assert tiny.last_route["route"].startswith("exact-")
    assert tiny.last_route["route"] != "exact-local"


def test_forced_ivf_with_explicit_scorer_raises(spark):
    """route='ivf' (forced approximate) + an explicit exact scorer is a
    contradiction: the engine refuses instead of silently picking one
    (the scorer= docstring promises exact-parity results)."""
    eng = MultiModalSearchEngine(spark, dim=16, blocked_threshold_cells=10,
                                 local_exact_budget_bytes=0)
    eng.batch_ingest(
        [{"content": f"conf doc {i}", "modality": "text"}
         for i in range(60)]
    )
    eng.build_ann_index(space="clip", n_clusters=4, calibrate=False)
    with pytest.raises(ValueError, match="conflicts with explicit scorer"):
        eng.search("conf doc 1", k=3, route="ivf", scorer="blocked")
    with pytest.raises(ValueError, match="conflicts with explicit scorer"):
        eng.search_batch(["conf doc 1"], k=3, route="ivf", scorer="hof")


# -- round 10: ANN maintenance hardening --------------------------------

def test_cumulative_drift_latches_where_per_batch_does_not(spark):
    """Many appended batches each marginally under drift_threshold must
    still latch the index once their collective mass is material and
    its weighted mean ratio exceeds the tighter cumulative threshold —
    the per-batch statistic alone never fires here."""
    import numpy as np

    def embed(text, space):
        v = fake_embed_numpy(text, space, 16).astype(np.float64)
        if text.startswith("mid"):
            v = v * 1.8  # ~3.2x the build cohesion: below the per-batch
        return v.tolist()  # limit (4.0), above the cumulative 2.5

    eng = MultiModalSearchEngine(
        spark, dim=16, blocked_threshold_cells=10, embed_fn=embed,
        local_exact_budget_bytes=0,
    )
    assert eng.cum_drift_threshold == 2.5  # derived from drift_threshold
    eng.batch_ingest(
        [{"content": f"cum doc {i}", "modality": "text"}
         for i in range(120)]
    )
    eng.build_ann_index(space="clip", n_clusters=8, calibrate=False)
    info = eng._ann["clip"]
    latched_at = None
    for b in range(5):
        eng.batch_ingest(
            [{"content": f"mid doc {b}-{i}", "modality": "text"}
             for i in range(12)]
        )
        eng.search(f"cum doc {b}", k=3, recall_floor=0.95)
        # per-batch ratio stays under the per-batch limit throughout
        assert info["drift"] is not None
        assert info["drift"] < eng.drift_threshold
        if info["drifted"]:
            latched_at = b
            break
    assert latched_at is not None, (
        "cumulative drift never latched: "
        f"drift={info['drift']}, cum={info.get('cum_drift')}"
    )
    assert latched_at >= 1  # a single small batch must NOT latch
    assert info["cum_drift"] > eng.cum_drift_threshold
    assert eng.last_route["route"].startswith("exact")


def test_append_snapshot_survives_concurrent_ingest(spark):
    """The ingest-vs-append race (round-10 fix): the coverage target is
    snapshotted BEFORE the corpus capture, so rows ingested mid-append
    still read as uncovered afterwards and get their own append — never
    silently marked covered without an assignment. Simulated
    deterministically: _space_rows reports 12 extra rows (a concurrent
    batch_ingest) from the moment the append starts."""
    eng = MultiModalSearchEngine(spark, dim=16, blocked_threshold_cells=10,
                                 local_exact_budget_bytes=0)
    eng.batch_ingest(
        [{"content": f"race doc {i}", "modality": "text"}
         for i in range(100)]
    )
    eng.build_ann_index(space="clip", n_clusters=8, calibrate=False)
    eng.batch_ingest(
        [{"content": f"race late {i}", "modality": "text"}
         for i in range(10)]
    )  # 110 real rows, 10 uncovered

    real_space_rows = eng._space_rows
    calls = {"n": 0}

    def racing_space_rows(space):
        calls["n"] += 1
        # after the first read (the snapshot), a concurrent ingest has
        # landed: the counter now reports 12 more rows than the corpus
        # the append captured
        bump = 12 if calls["n"] > 1 else 0
        return real_space_rows(space) + bump

    eng._space_rows = racing_space_rows
    out = eng.append_to_ann_index("clip")
    eng._space_rows = real_space_rows
    assert out["appended"] == 10
    # rows_at_build must equal the SNAPSHOT (110), not the racing
    # counter's 122 — the 12 phantom rows stay uncovered
    assert eng._ann["clip"]["rows_at_build"] == 110


def test_ivf_plan_picks_cheapest_measured_point(spark):
    """_ivf_plan must take min() over qualifying points by the
    depth-matched measured wall — a synthetic NON-monotone curve where
    a larger fraction measured cheaper must win over the first
    ascending-fraction qualifier."""
    eng = MultiModalSearchEngine(spark, dim=16, blocked_threshold_cells=10,
                                 local_exact_budget_bytes=0)
    eng.batch_ingest(
        [{"content": f"plan doc {i}", "modality": "text"}
         for i in range(60)]
    )
    eng.build_ann_index(space="clip", n_clusters=8, calibrate=False)
    eng._ann["clip"]["calibration"] = {
        "points": [
            {"fraction": 0.125, "nprobe": 1, "recall": 0.96,
             "ms_per_q": 5.0, "ms_single": 9.0},
            {"fraction": 0.25, "nprobe": 2, "recall": 0.97,
             "ms_per_q": 3.0, "ms_single": 4.0},  # cheapest measured
            {"fraction": 0.5, "nprobe": 4, "recall": 0.99,
             "ms_per_q": 6.0, "ms_single": 8.0},
        ],
        "exact_ms_per_q": 50.0, "exact_ms_single": 50.0,
        "k": 10, "n_queries": 8, "rows_at_calibration": 60,
        "query_ids": [], "calibration_sec": 0.0,
    }
    nprobe, ms, why = eng._ivf_plan("clip", 0.95, batch=True)
    assert (nprobe, ms) == (2, 3.0)
    nprobe, ms, why = eng._ivf_plan("clip", 0.95, batch=False)
    assert (nprobe, ms) == (2, 4.0)
    # floor only the last point meets -> that point, not the cheapest
    nprobe, _, _ = eng._ivf_plan("clip", 0.98, batch=True)
    assert nprobe == 4


def test_stale_calibration_recalibrates_with_appended_ground_truth(spark):
    """Once appended rows exceed RECALIBRATION_FRACTION of the
    calibrated corpus, the route re-runs calibration on the CURRENT
    corpus: the reason logs it, rows_at_calibration moves to the new
    count, and appended ids are eligible as sampled calibration
    queries (the ground truth no longer excludes them)."""
    eng = MultiModalSearchEngine(spark, dim=16, blocked_threshold_cells=10,
                                 local_exact_budget_bytes=0)
    eng.batch_ingest(
        [{"content": f"stale doc {i}", "modality": "text"}
         for i in range(120)]
    )
    eng.build_ann_index(space="clip", n_clusters=8,
                        calibration_queries=16)
    cal0 = eng._ann["clip"]["calibration"]
    assert cal0["rows_at_calibration"] == 120
    # make the stored (stale) curve permissive so the gates pass and
    # the route actually reaches the staleness check
    for p in cal0["points"]:
        p["recall"] = 1.0
        p["ms_per_q"] = 1.0
        p["ms_single"] = 1.0
    cal0["exact_ms_per_q"] = 99.0
    cal0["exact_ms_single"] = 99.0

    # 60 appended rows = 50% > the 25% recalibration fraction
    eng.batch_ingest(
        [{"content": f"stale late {i}", "modality": "text"}
         for i in range(60)]
    )
    eng.search("stale doc 7", k=3, recall_floor=0.5)
    assert "recalibrated" in eng.last_route["reason"]
    cal1 = eng._ann["clip"]["calibration"]
    assert cal1 is not cal0
    assert cal1["rows_at_calibration"] == 180
    # appended ids (120..179) entered the xxhash64 query sample
    assert any(qid >= 120 for qid in cal1["query_ids"])
    # and the trigger is one-shot: the next search must not re-run it
    eng.search("stale doc 8", k=3, recall_floor=0.5)
    assert eng._ann["clip"]["calibration"] is cal1


def test_compare_modalities_local_parity(spark):
    """compare_modalities / _batch on the micro-path must match the
    Spark blocked parity surface row for row (ids, spaces, ranks,
    approx sims) — and the route log shows exact-local."""
    eng = MultiModalSearchEngine(spark, dim=32)
    eng.batch_ingest(
        [
            {"content": f"cl doc {i} topic {i % 4}",
             "modality": ["text", "image", "audio"][i % 3]}
            for i in range(90)
        ]
    )
    loc = eng.compare_modalities("cl doc 7", k_per_modality=3)
    assert eng.last_route["route"] == "exact-local"
    blk = eng.compare_modalities("cl doc 7", k_per_modality=3,
                                 scorer="blocked")
    key = lambda r: (r["modality"], r["rank"])  # noqa: E731
    L = sorted(loc.collect(), key=key)
    B = sorted(blk.collect(), key=key)
    assert [(r["modality"], r["rank"], r["id"], r["space"],
             r["display_name"]) for r in L] == [
        (r["modality"], r["rank"], r["id"], r["space"], r["display_name"])
        for r in B
    ]
    for x, y in zip(L, B):
        assert x["sim"] == pytest.approx(y["sim"], abs=1e-12)
    batch = eng.compare_modalities_batch(
        ["cl doc 7", "cl doc 11"], k_per_modality=3
    )
    assert eng.last_route["route"] == "exact-local"
    assert [(r["modality"], r["rank"], r["id"]) for r in batch[0]] == [
        (r["modality"], r["rank"], r["id"]) for r in L
    ]


def test_stale_floor_failing_curve_still_recalibrates(spark):
    """Round-10 review fix: a STALE curve that fails the floor (or the
    cost gate) must not pin the route to exact forever — coverage
    maintenance and recalibration run BEFORE the gates, so the gates
    judge a curve measured on the corpus being served."""
    eng = MultiModalSearchEngine(spark, dim=16, blocked_threshold_cells=10,
                                 local_exact_budget_bytes=0)
    eng.batch_ingest(
        [{"content": f"sfl doc {i}", "modality": "text"}
         for i in range(120)]
    )
    eng.build_ann_index(space="clip", n_clusters=8,
                        calibration_queries=16)
    cal0 = eng._ann["clip"]["calibration"]
    # poison the stored curve so every point FAILS any floor — the
    # pre-fix code returned exact at the floor gate and never reached
    # the staleness check
    for p in cal0["points"]:
        p["recall"] = 0.0
    eng.batch_ingest(
        [{"content": f"sfl late {i}", "modality": "text"}
         for i in range(60)]
    )
    eng.search("sfl doc 7", k=3, recall_floor=0.5)
    assert "recalibrated" in eng.last_route["reason"], eng.last_route
    cal1 = eng._ann["clip"]["calibration"]
    assert cal1 is not cal0
    assert cal1["rows_at_calibration"] == 180


def test_maintain_housekeeping_entry(spark):
    """engine.maintain(): absorbs uncovered rows, refreshes a stale
    curve, and (opt-in) rebuilds a drift-latched index — so a
    scheduled maintainer keeps the serving path maintenance-free."""
    import numpy as np

    def embed(text, space):
        v = fake_embed_numpy(text, space, 16).astype(np.float64)
        if text.startswith("far"):
            v = v * 10.0
        return v.tolist()

    eng = MultiModalSearchEngine(
        spark, dim=16, blocked_threshold_cells=10, embed_fn=embed,
        local_exact_budget_bytes=0,
    )
    eng.batch_ingest(
        [{"content": f"mnt doc {i}", "modality": "text"}
         for i in range(120)]
    )
    eng.build_ann_index(space="clip", n_clusters=8,
                        calibration_queries=16)
    # plain upkeep: absorb a cohesive ingest, nothing else to do
    eng.batch_ingest(
        [{"content": f"mnt doc late {i}", "modality": "text"}
         for i in range(10)]
    )
    st = eng.maintain("clip")
    assert st["appended"] == 10 and not st["drifted"] and not st["rebuilt"]

    # stale curve: grow past RECALIBRATION_FRACTION, maintain refreshes
    eng.batch_ingest(
        [{"content": f"mnt doc more {i}", "modality": "text"}
         for i in range(60)]
    )
    st = eng.maintain("clip")
    assert st["recalibrated"] is True
    assert (
        eng._ann["clip"]["calibration"]["rows_at_calibration"] == 190
    )

    # drift latch + rebuild_on_drift re-fits and re-enables the route
    eng.batch_ingest(
        [{"content": f"far doc {i}", "modality": "text"}
         for i in range(12)]
    )
    st = eng.maintain("clip")  # absorbs the drifted batch, latches
    assert st["drifted"] is True and st["rebuilt"] is False
    st = eng.maintain("clip", rebuild_on_drift=True)
    assert st["rebuilt"] is True and st["drifted"] is False
    assert eng._ann["clip"]["calibration"] is not None
    # self-query one of the off-manifold rows: its self-dot (norm^2 =
    # 100) dominates every cross dot, so rank-1 is robust on the
    # re-fit index regardless of route
    qvec = [float(x) for x in
            eng.items.where(F.col("id") == 190).first()["embedding"]]
    hits = eng.search(qvec, k=3, recall_floor=0.5)
    assert hits[0]["id"] == 190  # post-rebuild self-query rank-1

    with pytest.raises(ValueError, match="no ANN index"):
        eng.maintain("clap")


def test_filtered_calibration_routes_ivf(spark):
    """Measured filtered-ANN (round 10): a content-type filter with its
    OWN calibration curve (build_ann_index(calibration_filters=...) or
    calibrate_filter) routes IVF under a floor the filtered curve
    honors, returns the same winners as the exact filtered path, and
    survives save/load; filters without a curve keep the exact
    fallback."""
    eng = MultiModalSearchEngine(spark, dim=16, blocked_threshold_cells=10,
                                 local_exact_budget_bytes=0)
    eng.batch_ingest(
        [{"content": f"fcal doc {i}",
          "modality": ["text", "image", "audio"][i % 3]}
         for i in range(180)]
    )
    stats = eng.build_ann_index(
        space="clip", n_clusters=8, calibration_queries=16,
        calibration_filters=("image",),
    )
    assert stats["filter_calibrations"] == ["image"]
    info = eng._ann["clip"]
    fcal = info["filter_calibrations"]["image"]
    assert fcal["points"] and fcal["rows_at_calibration"] == 60

    # make routing deterministic: filtered curve honors any floor and
    # measures cheaper than the filtered exact scan
    for p in fcal["points"]:
        p["recall"] = 1.0
        p["ms_per_q"] = 1.0
        p["ms_single"] = 1.0
    fcal["exact_ms_per_q"] = 99.0
    fcal["exact_ms_single"] = 99.0

    # self-query an IMAGE row: its own cell is always probed, so the
    # self-hit is rank-1 on the filtered IVF route (the repo's standard
    # IVF assertion — approximate winners beyond that are recall-graded
    # by the measured curve itself, not hash-compared)
    qvec = [float(x) for x in
            eng.items.where(F.col("id") == 40).first()["embedding"]]
    hits = eng.search(qvec, k=3, recall_floor=0.9,
                      filter_content_type="image")
    assert eng.last_route["route"] == "ivf"
    assert "filter=image" in eng.last_route["reason"]
    assert all(h["modality"] == "image" for h in hits)
    assert hits[0]["id"] == 40

    # a same-space filter with no curve still falls back to exact
    # (audio would dispatch to the clap SPACE — a different index)
    eng.search("fcal doc 6", k=3, recall_floor=0.9,
               filter_content_type="text", query_space="clip")
    assert eng.last_route["route"].startswith("exact")
    assert "no measured calibration" in eng.last_route["reason"]

    # batch form routes from the same filtered curve
    eng.search_batch(["fcal doc 6"], k=3, recall_floor=0.9,
                     filter_content_type="image")
    assert eng.last_route["route"] == "ivf"


def test_filter_calibration_survives_save_load(spark, tmp_path):
    eng = MultiModalSearchEngine(spark, dim=16, blocked_threshold_cells=10,
                                 local_exact_budget_bytes=0)
    eng.batch_ingest(
        [{"content": f"fsl doc {i}", "modality": ["text", "image"][i % 2]}
         for i in range(120)]
    )
    eng.build_ann_index(space="clip", n_clusters=8,
                        calibration_queries=8,
                        calibration_filters=("image",))
    base = str(tmp_path / "wh_fcal")
    eng.save(base)
    loaded = MultiModalSearchEngine.load(spark, base)
    loaded.local_exact_budget_bytes = 0
    fcal = loaded._ann["clip"]["filter_calibrations"]["image"]
    assert fcal["points"]
    for p in fcal["points"]:
        p["recall"] = 1.0
        p["ms_per_q"] = 1.0
        p["ms_single"] = 1.0
    fcal["exact_ms_per_q"] = 99.0
    fcal["exact_ms_single"] = 99.0
    loaded.search("fsl doc 4", k=3, recall_floor=0.9,
                  filter_content_type="image")
    assert loaded.last_route["route"] == "ivf"
    assert "filter=image" in loaded.last_route["reason"]


def test_filter_curve_staleness_refreshes_independently(spark):
    """A filter curve refreshes when the SPACE outgrows its own
    measurement marker — independent of the main curve (and of
    whether one exists): the poisoned curve is replaced by a real
    re-measurement and the route logs the recalibration."""
    eng = MultiModalSearchEngine(spark, dim=16, blocked_threshold_cells=10,
                                 local_exact_budget_bytes=0)
    eng.batch_ingest(
        [{"content": f"fst doc {i}", "modality": ["text", "image"][i % 2]}
         for i in range(120)]
    )
    eng.build_ann_index(space="clip", n_clusters=8, calibrate=False)
    eng.calibrate_filter("clip", "image", calibration_queries=8)
    info = eng._ann["clip"]
    fcal0 = info["filter_calibrations"]["image"]
    assert fcal0["space_rows_at_calibration"] == 120
    # poison it so only a refresh can explain a changed object
    for p in fcal0["points"]:
        p["recall"] = 1.0
    # 50% growth > the 25% recalibration fraction (main curve ABSENT —
    # calibrate=False — so only the per-filter marker can trigger this)
    eng.batch_ingest(
        [{"content": f"fst late {i}", "modality": ["text", "image"][i % 2]}
         for i in range(60)]
    )
    eng.search("fst doc 4", k=3, recall_floor=0.5,
               filter_content_type="image")
    assert "recalibrated" in eng.last_route["reason"]
    fcal1 = info["filter_calibrations"]["image"]
    assert fcal1 is not fcal0
    assert fcal1["space_rows_at_calibration"] == 180


def test_maintain_rebuild_preserves_filter_curves(spark):
    """maintain(rebuild_on_drift=True) must re-measure previously
    calibrated filters against the re-fit cells — a rebuild must not
    silently demote filtered searches to the exact fallback."""
    eng = MultiModalSearchEngine(spark, dim=16, blocked_threshold_cells=10,
                                 local_exact_budget_bytes=0)
    eng.batch_ingest(
        [{"content": f"mrf doc {i}", "modality": ["text", "image"][i % 2]}
         for i in range(120)]
    )
    eng.build_ann_index(space="clip", n_clusters=8,
                        calibration_queries=8,
                        calibration_filters=("image",))
    eng._ann["clip"]["drifted"] = True  # simulate a latched index
    st = eng.maintain("clip", rebuild_on_drift=True)
    assert st["rebuilt"] is True and st["drifted"] is False
    info = eng._ann["clip"]
    assert "image" in info["filter_calibrations"]
    assert info["filter_calibrations"]["image"]["points"]
    # and the validation: filters demand a measured build
    with pytest.raises(ValueError, match="calibration_filters requires"):
        eng.build_ann_index(space="clip", calibrate=False,
                            calibration_filters=("image",))


# -- round 11: ADVICE fixes ---------------------------------------------

def test_compare_cache_survives_ingest_during_cache_build(spark,
                                                          monkeypatch):
    """ADVICE round 10 (medium): an ingest landing between the
    per-space cache builds and the derived compare-cache stamp left the
    derived structures (group_sel/ids_cat, pre-fix stamped with the
    then-current global epoch) aligned to the OLD matrices while the
    next call rebuilt the per-space caches — wrong ids or IndexError.
    The derived cache is now keyed on the epochs of the caches it was
    built from."""
    eng = MultiModalSearchEngine(spark, dim=32)
    eng.batch_ingest(
        [{"content": f"ccr doc {i}", "modality": ["text", "audio"][i % 2]}
         for i in range(40)]
    )
    # inject the race: right after the LAST space's cache is built
    # inside _compare_local_rows (spaces iterate sorted: clap, clip),
    # an ingest lands — so the derived structures are stamped after
    # the epoch moved
    orig = eng._local_corpus
    state = {"armed": True}

    def racy(space):
        c = orig(space)
        if state["armed"] and space == "clip":
            state["armed"] = False
            eng.ingest_content("ccr race arrival", modality="text")
        return c

    monkeypatch.setattr(eng, "_local_corpus", racy)
    eng.compare_modalities_batch(["ccr doc 3"], k_per_modality=2)
    # next call: per-space caches rebuild (stale-stamped) — the derived
    # structures must rebuild WITH them, see the new row, and stay
    # aligned with the fresh matrices
    out = eng.compare_modalities_batch(
        ["ccr race arrival"], k_per_modality=2
    )
    cc = eng._compare_cache
    assert len(cc["ids_cat"]) == sum(
        len(eng._local_cache[s]["ids"]) for s in cc["spaces"]
    ), "derived compare cache misaligned with per-space caches"
    text_hits = [r for r in out[0] if r["modality"] == "text"]
    assert text_hits[0]["sim"] == pytest.approx(1.0, abs=1e-5)
    assert text_hits[0]["id"] == 40  # the race-ingested row is served


def test_missing_staleness_marker_counts_as_stale(spark):
    """A main calibration curve with NO space_rows_at_calibration
    marker (manifests saved before the marker existed, reloaded via
    load()) must be treated as stale — the one rule every curve
    follows — so old curves refresh instead of being trusted
    forever."""
    eng = MultiModalSearchEngine(spark, dim=16, blocked_threshold_cells=10,
                                 local_exact_budget_bytes=0)
    eng.batch_ingest(
        [{"content": f"msm doc {i}", "modality": "text"}
         for i in range(80)]
    )
    eng.build_ann_index(space="clip", n_clusters=8, calibration_queries=8)
    info = eng._ann["clip"]
    assert eng._stale_curves("clip", info) == []
    del info["calibration"]["space_rows_at_calibration"]
    assert eng._stale_curves("clip", info) == [None]
    st = eng.maintain("clip")
    assert st["recalibrated"] is True
    assert info["calibration"]["space_rows_at_calibration"] == 80
    assert eng._stale_curves("clip", info) == []


def test_micro_path_budget_counts_payload_bytes(spark):
    """Round-11 gate fix: the micro-path budget counts the estimated
    TOTAL resident footprint (vector mass + measured payload string
    bytes), not vector mass alone — a small-row/fat-payload corpus
    that passes the vector gate must route to the Spark path instead
    of collecting megabytes of content strings to the driver."""
    budget = 64 * 1024  # 64 KiB
    fat = MultiModalSearchEngine(spark, dim=16,
                                 local_exact_budget_bytes=budget)
    # vector mass: 20 x 16 x 4 = 1,280 B << budget; payload: 20 x 8 KiB
    # of content = ~160 KiB >> budget
    fat.batch_ingest(
        [{"content": f"fat doc {i} " + "x" * 8192, "modality": "text"}
         for i in range(20)]
    )
    fat.search("fat doc 3", k=3)
    assert fat.last_route["route"] != "exact-local", fat.last_route
    assert fat._local_over_budget.get("clip") == fat._epoch
    assert "clip" not in fat._local_cache  # nothing was collected

    # same corpus shape, slim payload: well under budget -> micro-path,
    # and the route log names the gated quantity
    slim = MultiModalSearchEngine(spark, dim=16,
                                  local_exact_budget_bytes=budget)
    slim.batch_ingest(
        [{"content": f"slim doc {i}", "modality": "text"}
         for i in range(20)]
    )
    slim.search("slim doc 3", k=3)
    assert slim.last_route["route"] == "exact-local"
    assert "resident footprint" in slim.last_route["reason"]
    assert slim._local_cache["clip"]["bytes"] <= budget


def test_micro_path_ingest_search_alternation_is_collect_free(
    spark, monkeypatch
):
    """Round-11 epoch-rebuild cost contract: once the micro-path cache
    is built, alternating interactive ingest/remove/search cycles run
    entirely driver-side — batch_ingest extends the cache in place
    (job-free: ids come from the maintained counter), remove masks rows
    out of it, and no search re-collects the corpus."""
    import pyspark.sql

    eng = MultiModalSearchEngine(spark, dim=16)
    eng.batch_ingest(
        [{"content": f"alt doc {i}", "modality": "text"}
         for i in range(30)]
    )
    eng.search("alt doc 3", k=3)  # builds the cache (collects once)
    assert eng.last_route["route"] == "exact-local"

    def boom(self):
        raise AssertionError(
            "Spark collect ran during micro-path ingest/search "
            "alternation"
        )

    monkeypatch.setattr(pyspark.sql.DataFrame, "collect", boom)
    for i in range(3):
        eng.ingest_content(f"alt late {i}", modality="text")
        out = eng.search(f"alt late {i}", k=2)
        assert eng.last_route["route"] == "exact-local"
        assert out[0]["content"] == f"alt late {i}"
        assert out[0]["sim"] == pytest.approx(1.0, abs=1e-5)
    victim = out[0]["id"]
    eng.remove([victim])
    out2 = eng.search("alt late 2", k=5)
    assert all(r["id"] != victim for r in out2)
    monkeypatch.undo()

    # parity: the in-place-maintained block's live rows must be
    # bit-identical to a fresh rebuild of the same corpus
    _assert_matches_rebuild(eng, "clip")


def test_incremental_cache_extension_respects_budget(spark):
    """An in-place cache extension that pushes the space past the
    budget drops the cache (with an over-budget verdict) instead of
    growing an over-budget driver block."""
    eng = MultiModalSearchEngine(spark, dim=16,
                                 local_exact_budget_bytes=4096)
    eng.batch_ingest(
        [{"content": f"bud doc {i}", "modality": "text"}
         for i in range(10)]
    )
    eng.search("bud doc 1", k=2)
    assert eng.last_route["route"] == "exact-local"
    # one fat ingest blows the budget: cache must drop, search must
    # route Spark
    eng.ingest_content("bud fat " + "y" * 8192, modality="text")
    assert "clip" not in eng._local_cache
    eng.search("bud doc 1", k=2)
    assert eng.last_route["route"] != "exact-local"


def test_untouched_space_cache_survives_other_space_ingest(
    spark, monkeypatch
):
    """Ingesting into one space restamps (not rebuilds) the other
    spaces' valid caches — their corpora did not change."""
    import pyspark.sql

    eng = MultiModalSearchEngine(spark, dim=16)
    eng.batch_ingest(
        [{"content": f"sp doc {i}", "modality": ["text", "audio"][i % 2]}
         for i in range(20)]
    )
    eng.search("sp doc 2", k=2)                                # clip
    eng.search("sp doc 1", k=2, filter_content_type="audio")   # clap
    assert set(eng._local_cache) >= {"clip", "clap"}

    def boom(self):
        raise AssertionError("unchanged space was re-collected")

    monkeypatch.setattr(pyspark.sql.DataFrame, "collect", boom)
    eng.ingest_content("sp audio late", modality="audio")  # clap only
    out = eng.search("sp doc 2", k=2)  # clip cache must still serve
    assert eng.last_route["route"] == "exact-local"
    assert out[0]["content"] == "sp doc 2"


def test_compare_modalities_rows_parity(spark):
    """compare_modalities_rows (round 11): the rows-returning
    single-call form must match the DataFrame form row for row, serve
    from the micro-path when in budget, and fall back to the Spark
    plan (same rows) when over budget."""
    eng = MultiModalSearchEngine(spark, dim=32)
    eng.batch_ingest(
        [{"content": f"cmr doc {i}",
          "modality": ["text", "image", "audio"][i % 3]}
         for i in range(60)]
    )
    rows = eng.compare_modalities_rows("cmr doc 7", k_per_modality=3)
    assert eng.last_route["route"] == "exact-local"
    df_rows = sorted(
        eng.compare_modalities("cmr doc 7", k_per_modality=3).collect(),
        key=lambda r: (r["modality"], r["rank"]),
    )
    assert [(r["modality"], r["rank"], r["id"], r["space"],
             r["display_name"]) for r in rows] == [
        (r["modality"], r["rank"], r["id"], r["space"], r["display_name"])
        for r in df_rows
    ]
    for a, b in zip(rows, df_rows):
        assert a["sim"] == pytest.approx(b["sim"], abs=1e-12)

    # over-budget fallback returns the same rows through the Spark plan
    eng.local_exact_budget_bytes = 1
    spk = eng.compare_modalities_rows("cmr doc 7", k_per_modality=3)
    assert [(r["modality"], r["rank"], r["id"]) for r in spk] == [
        (r["modality"], r["rank"], r["id"]) for r in rows
    ]


def test_defer_recalibration_serves_exact_until_maintain(spark):
    """Round-11 recalibration cost contract: with
    defer_recalibration=True a search whose consulted curve went stale
    must NOT absorb the calibration sweep — it serves exact, flags
    calibration_deferred, and leaves the curve untouched; maintain()
    then refreshes it and searches stop deferring. Without deferral
    the inline refresh surfaces its wall cost as calibration_sec."""
    eng = MultiModalSearchEngine(spark, dim=16, blocked_threshold_cells=10,
                                 local_exact_budget_bytes=0,
                                 defer_recalibration=True)
    eng.batch_ingest(
        [{"content": f"dfr doc {i}", "modality": "text"}
         for i in range(120)]
    )
    eng.build_ann_index(space="clip", n_clusters=8, calibration_queries=8)
    cal0 = eng._ann["clip"]["calibration"]
    eng.batch_ingest(
        [{"content": f"dfr late {i}", "modality": "text"}
         for i in range(60)]  # 50% growth > 25% fraction
    )
    eng.search("dfr doc 7", k=3, recall_floor=0.5)
    assert eng.last_route["route"].startswith("exact")
    assert eng.last_route.get("calibration_deferred") is True
    assert "deferred to maintain" in eng.last_route["reason"]
    assert eng._ann["clip"]["calibration"] is cal0  # untouched

    st = eng.maintain("clip")
    assert st["recalibrated"] is True
    assert st["calibration_sec"] > 0
    eng.search("dfr doc 7", k=3, recall_floor=0.5)
    assert "calibration_deferred" not in eng.last_route
    assert eng._ann["clip"]["calibration"]["rows_at_calibration"] == 180

    # inline (default) path surfaces its cost on last_route
    lazy = MultiModalSearchEngine(spark, dim=16, blocked_threshold_cells=10,
                                  local_exact_budget_bytes=0)
    lazy.batch_ingest(
        [{"content": f"dfl doc {i}", "modality": "text"}
         for i in range(120)]
    )
    lazy.build_ann_index(space="clip", n_clusters=8, calibration_queries=8)
    lazy.batch_ingest(
        [{"content": f"dfl late {i}", "modality": "text"}
         for i in range(60)]
    )
    lazy.search("dfl doc 7", k=3, recall_floor=0.5)
    assert lazy.last_route.get("calibration_sec", 0) > 0
    # and the next search carries no leftover annotation
    lazy.search("dfl doc 7", k=3, recall_floor=0.5)
    assert "calibration_sec" not in lazy.last_route


def test_removed_rows_do_not_stale_the_main_curve(spark):
    """Every curve's staleness marker counts the space's rows the way
    the staleness check does (removed rows included). A main curve
    measured after removes is therefore fresh: searches with a floor
    below 1 do not re-run the calibration sweep, and with deferred
    recalibration they do not defer and maintain() has nothing to
    refresh."""
    eng = MultiModalSearchEngine(spark, dim=16, blocked_threshold_cells=10,
                                 local_exact_budget_bytes=0)
    eng.batch_ingest(
        [{"content": f"rml doc {i}", "modality": "text"}
         for i in range(200)]
    )
    eng.remove(list(range(0, 200, 3)))  # 67 removed, 133 live
    eng.build_ann_index(space="clip", n_clusters=8, calibration_queries=16)
    info = eng._ann["clip"]
    cal = info["calibration"]
    assert cal["rows_at_calibration"] == 133
    for i in range(3):
        eng.search(f"rml doc {3 * i + 1}", k=3, recall_floor=0.5)
        assert "calibration_sec" not in eng.last_route, eng.last_route
        assert "recalibrated" not in eng.last_route["reason"]
    assert info["calibration"] is cal

    eng.defer_recalibration = True
    eng.search("rml doc 4", k=3, recall_floor=0.5)
    assert "calibration_deferred" not in eng.last_route
    for _ in range(2):
        st = eng.maintain("clip")
        assert st["recalibrated"] is False, st
    assert info["calibration"] is cal
    assert cal["space_rows_at_calibration"] == 200


def test_main_and_filter_curves_refresh_in_one_pass(spark):
    """A main and a filter curve measured at the same row count grow
    stale together and one route pass re-measures both, each at its
    own settings; the reported calibration cost covers both."""
    eng = MultiModalSearchEngine(spark, dim=16, blocked_threshold_cells=10,
                                 local_exact_budget_bytes=0)
    eng.batch_ingest(
        [{"content": f"mfr doc {i}", "modality": ["text", "image"][i % 2]}
         for i in range(120)]
    )
    eng.build_ann_index(space="clip", n_clusters=8, calibration_queries=8,
                        calibration_fractions=(0.25, 0.5),
                        calibration_filters=("image",))
    info = eng._ann["clip"]
    cal0 = info["calibration"]
    fcal0 = info["filter_calibrations"]["image"]
    assert cal0["space_rows_at_calibration"] == 120
    assert fcal0["space_rows_at_calibration"] == 120
    eng.batch_ingest(
        [{"content": f"mfr late {i}", "modality": ["text", "image"][i % 2]}
         for i in range(60)]  # 50% growth > RECALIBRATION_FRACTION
    )
    assert eng._stale_curves("clip", info) == [None, "image"]
    eng.search("mfr doc 4", k=3, recall_floor=0.5)
    cal1 = info["calibration"]
    fcal1 = info["filter_calibrations"]["image"]
    assert cal1 is not cal0 and fcal1 is not fcal0
    assert cal1["space_rows_at_calibration"] == 180
    assert fcal1["space_rows_at_calibration"] == 180
    assert cal1["rows_at_calibration"] == 180
    assert fcal1["rows_at_calibration"] == 90
    for new, old in ((cal1, cal0), (fcal1, fcal0)):
        assert [p["fraction"] for p in new["points"]] == [0.25, 0.5]
        assert (new["n_queries"], new["k"]) == (old["n_queries"], old["k"])
    assert eng.last_route["calibration_sec"] == pytest.approx(
        cal1["calibration_sec"] + fcal1["calibration_sec"], abs=2e-3
    )
    assert eng._stale_curves("clip", info) == []


def test_corpus_rows_is_the_sum_of_space_counts(spark, tmp_path):
    """The dispatch's corpus row count is derived from the per-space
    counts, so on a loaded corpus the one groupBy job that fills them
    answers both: _corpus_rows() runs no job of its own, before or
    after a Spark-path search."""
    eng = MultiModalSearchEngine(spark, dim=8)
    eng.batch_ingest(
        [{"content": f"crs doc {i}", "modality": ["text", "audio"][i % 2]}
         for i in range(30)]
    )
    eng.remove([1, 2])
    assert eng._corpus_rows() == 30
    base = str(tmp_path / "wh_rows")
    eng.save(base)
    loaded = MultiModalSearchEngine.load(spark, base)
    loaded.local_exact_budget_bytes = 0
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def jobs(group, fn):
        sc.setJobGroup(group, "corpus row count")
        try:
            out = fn()
        finally:
            sc.setJobGroup(None, None)
        return out, len(tracker.getJobIdsForGroup(group) or [])

    n, n_jobs = jobs("rows_by_space", lambda: loaded._space_rows("clip"))
    assert n == 15 and n_jobs >= 1
    assert jobs("corpus_rows", loaded._corpus_rows) == (30, 0)
    loaded.search("crs doc 4", k=2)
    assert loaded.last_route["route"].startswith("exact-")
    assert jobs("corpus_rows_after", loaded._corpus_rows) == (30, 0)
    loaded.ingest_content("crs late", modality="audio")
    assert loaded._corpus_rows() == 31


def test_fetch_predicate_py4j_calls_do_not_grow_with_ids(
    spark, monkeypatch
):
    """The payload fetch's ``id IN (...)`` predicate is one SQL
    expression: building it costs the same py4j calls for 4 ids as for
    128 (``isin`` sends each id as its own literal), and it selects
    exactly the listed ids."""
    from multimodal_vector_db_spark.functions.layout import int_in

    client = spark.sparkContext._gateway._gateway_client
    real = client.send_command

    def calls(n):
        sent = []

        def counting(*a, **k):
            sent.append(1)
            return real(*a, **k)

        with monkeypatch.context() as m:
            m.setattr(client, "send_command", counting)
            int_in("id", list(range(n)))
        return len(sent)

    assert calls(4) == calls(40) == calls(128)
    df = spark.range(200)
    assert [r["id"] for r in df.where(int_in("id", [150, 3, 77])).collect()
            ] == [3, 77, 150]
    assert df.where(int_in("id", [])).count() == 0
    with pytest.raises(ValueError):
        int_in("id", ["1) OR (1 = 1"])


def test_blas_clamp_two_regime(spark):
    """blasctl (round 11): concurrent micro-path GEMM sections drop
    OpenBLAS to 1 thread per call (callers are the parallelism); a
    solo section restores the library default. Results are unchanged
    by the clamp (it only resizes the BLAS pool)."""
    import threading
    import time

    from multimodal_vector_db_spark.functions import blasctl

    if not blasctl.blas_control_available():
        pytest.skip("no runtime BLAS thread control in this build")
    default = blasctl.default_blas_threads()
    assert default and default >= 1

    inner = {}
    gate_in = threading.Barrier(3)

    def worker(name):
        with blasctl.gemm_section():
            gate_in.wait(timeout=30)  # all three inside concurrently
            with blasctl._lock:
                inner[name] = blasctl._current_regime
            gate_in.wait(timeout=30)

    ts = [threading.Thread(target=worker, args=(i,)) for i in range(3)]
    [t.start() for t in ts]
    [t.join() for t in ts]
    assert set(inner.values()) == {1}  # concurrent regime: 1 thread
    # sticky restore: a solo entrant INSIDE the burst window keeps the
    # concurrent regime (pool-thrash guard)...
    with blasctl.gemm_section():
        with blasctl._lock:
            solo_hot = blasctl._current_regime
    assert solo_hot == 1
    # ...and restores the library default once the burst has aged out
    time.sleep(blasctl._SOLO_RESTORE_AFTER_S + 0.1)
    with blasctl.gemm_section():
        with blasctl._lock:
            solo = blasctl._current_regime
    assert solo == default

    # end-to-end: concurrent micro-path searches return the same rows
    # as sequential ones
    eng = MultiModalSearchEngine(spark, dim=32)
    eng.batch_ingest(
        [{"content": f"blas doc {i}", "modality": "text"}
         for i in range(80)]
    )
    expected = eng.search("blas doc 7", k=5)
    results = {}

    def searcher(i):
        results[i] = eng.search("blas doc 7", k=5)

    ts = [threading.Thread(target=searcher, args=(i,)) for i in range(8)]
    [t.start() for t in ts]
    [t.join() for t in ts]
    for i in range(8):
        assert [(r["id"], r["sim"]) for r in results[i]] == [
            (r["id"], r["sim"]) for r in expected
        ]


def test_interactive_mutation_lineage_compaction(spark):
    """A long interactive ingest/remove stream must not grow the items
    plan without bound: every _COMPACT_EVERY mutations the lineage is
    cut with a LAZY localCheckpoint (no job — ingest stays job-free),
    so Catalyst plan depth stays bounded while rows and results are
    unchanged."""
    eng = MultiModalSearchEngine(spark, dim=8)
    for i in range(70):
        eng.ingest_content(f"lc doc {i}", modality="text")
    # round 12: interactive ingests BUFFER — no flush, no per-call
    # union, counter untouched until a Spark-path read
    assert eng._mutations_since_compact == 0
    assert len(eng._pending) == 70
    # the read flushes the whole run as ONE union
    plan = eng.items._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Union") <= 1, (
        f"buffered run not flushed as one union: "
        f"{plan.count('Union')} unions"
    )
    assert eng.items.count() == 70
    hits = eng.search("lc doc 67", k=1, scorer="blocked")  # Spark path
    assert hits[0]["content"] == "lc doc 67"

    # interleaved ingest/read streams grow one union per flush — the
    # compaction counter must still cut the chain every _COMPACT_EVERY
    # flushes so plan depth stays bounded
    eng.__dict__["_COMPACT_EVERY"] = 4
    eng._mutations_since_compact = 0
    for i in range(12):
        eng.ingest_content(f"lc tail {i}", modality="text")
        eng.items  # force a flush per ingest (a Spark-path reader)
    plan = eng.items._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Union") <= eng._COMPACT_EVERY, (
        f"lineage not compacted: {plan.count('Union')} unions"
    )
    assert eng.items.count() == 82


def test_local_admission_gate_caps_concurrency(spark, monkeypatch):
    """local_max_concurrency: at most N micro-path calls score
    concurrently inside ``_admit()``; excess callers park on the
    semaphore (releasing the GIL) — the measured fix for the 64-caller
    qps regression. The gate is always present."""
    import contextlib
    import threading
    import time as _time

    with pytest.raises(ValueError):
        MultiModalSearchEngine(spark, dim=16, local_max_concurrency=0)
    eng = MultiModalSearchEngine(spark, dim=16, local_max_concurrency=2)
    eng.batch_ingest(
        [{"content": f"gate doc {i}", "modality": "text"}
         for i in range(40)]
    )
    eng.search("gate doc 1", k=2)  # build cache

    state = {"active": 0, "peak": 0, "entered": 0}
    lock = threading.Lock()
    gate = eng._admit

    @contextlib.contextmanager
    def tracked():
        with gate():
            with lock:
                state["active"] += 1
                state["entered"] += 1
                state["peak"] = max(state["peak"], state["active"])
            _time.sleep(0.05)  # hold the section so overlap is observable
            try:
                yield
            finally:
                with lock:
                    state["active"] -= 1

    monkeypatch.setattr(eng, "_admit", tracked)
    threads = [
        threading.Thread(target=lambda: eng.search("gate doc 3", k=2))
        for _ in range(8)
    ]
    [t.start() for t in threads]
    [t.join() for t in threads]
    assert state["entered"] == 8, state  # every local search was gated
    assert state["peak"] <= 2, state


def test_local_paths_call_layer_hooks_by_module_attribute(spark, monkeypatch):
    """The benchmark's traced run wraps ``knn.topk_rows_1d`` /
    ``knn.topk_rows_2d`` and ``engine.rerank`` by module attribute, so
    the micro-path must look those names up when it is called, not bind
    them at import: each counting wrapper must see a call from a local
    plain, filtered, diversity and batch search."""
    from multimodal_vector_db_spark import engine as engine_mod
    from multimodal_vector_db_spark.operators import knn

    calls = {}
    for mod, name in ((knn, "topk_rows_1d"), (knn, "topk_rows_2d"),
                      (engine_mod, "rerank")):
        def counting(*a, _inner=getattr(mod, name), _name=name, **kw):
            calls[_name] = calls.get(_name, 0) + 1
            return _inner(*a, **kw)

        monkeypatch.setattr(mod, name, counting)
    eng = MultiModalSearchEngine(spark, dim=16)
    eng.batch_ingest(
        [{"content": f"hook doc {i}", "modality": ["text", "image"][i % 2]}
         for i in range(40)]
    )
    eng.search("hook doc 1", k=3)
    assert eng.last_route["route"] == "exact-local"
    eng.search("hook doc 2", k=3, filter_content_type="image")
    eng.search("hook doc 3", k=3, strategy="diversity")
    eng.search_batch(["hook doc 4", "hook doc 5"], k=3)
    assert eng.last_route["route"] == "exact-local"
    assert set(calls) == {"topk_rows_1d", "topk_rows_2d", "rerank"}, calls


def _live_rows(block):
    """A resident block's live rows, in the layout a rebuild holds."""
    import numpy as np

    keep = block.rows()
    if keep is None:
        keep = np.arange(len(block.ids))
    return {
        "ids": block.ids[keep],
        "emb": block.emb[keep],
        "modality": list(block.modality[keep]),
        "payload": [block.payload[i] for i in keep],
        "bytes": block.bytes,
    }


def _assert_matches_rebuild(eng, space, where=None):
    """The maintained block's live rows equal a fresh rebuild's rows,
    bit for bit, and so does the footprint estimate."""
    import numpy as np

    maintained = _live_rows(eng._local_cache[space])
    eng._local_cache.pop(space)
    rebuilt = eng._local_corpus(space)
    assert rebuilt.live is None
    rebuilt = _live_rows(rebuilt)
    assert np.array_equal(maintained["ids"], rebuilt["ids"]), (space, where)
    assert np.array_equal(maintained["emb"], rebuilt["emb"]), (space, where)
    for key in ("modality", "payload", "bytes"):
        assert maintained[key] == rebuilt[key], (space, where, key)


def test_remove_keeps_append_capacity(spark):
    """A remove masks rows out of the shared buffers instead of copying
    the kept ones, so it and the next interactive ingest both leave the
    resident matrix in place; the removed rows are left behind by the
    copy that growing the buffers makes anyway, or once they outnumber
    the append headroom."""
    import numpy as np

    from multimodal_vector_db_spark.engine import _capacity

    eng = MultiModalSearchEngine(spark, dim=16)
    eng.batch_ingest(
        [{"content": f"cap doc {i}", "modality": "text"} for i in range(40)]
    )
    eng.search("cap doc 1", k=2)  # build the resident block
    built = eng._local_cache["clip"]
    eng.remove([3, 7])
    before = eng._local_cache["clip"]
    assert np.shares_memory(built["emb"], before["emb"])
    eng.batch_ingest(
        [{"content": f"cap late {i}", "modality": "text"} for i in range(16)]
    )
    after = eng._local_cache["clip"]
    assert after["epoch"] == eng._epoch
    assert after.n_live == 40 - 2 + 16 and len(after.ids) == 40 + 16
    assert np.shares_memory(before["emb"], after["emb"])
    assert eng.search("cap late 5", k=1)[0]["content"] == "cap late 5"
    assert eng.last_route["route"] == "exact-local"
    _assert_matches_rebuild(eng, "clip")

    # growth past the buffers: the copy keeps only the live rows
    eng.search("cap doc 1", k=2)
    eng.remove([0, 1])
    cap = len(eng._local_cache["clip"].bufs[0])
    eng.batch_ingest(
        [{"content": f"cap grow {i}", "modality": "text"}
         for i in range(cap)]
    )
    grown = eng._local_cache["clip"]
    assert grown.live is None
    assert grown.n_live == 54 - 2 + cap
    _assert_matches_rebuild(eng, "clip", "growth")

    # removes past the headroom rule: the live rows are copied out
    eng.search("cap doc 1", k=2)
    block = eng._local_cache["clip"]
    n = len(block.ids)
    drop = [int(i) for i in block.ids[: n - (n - 8) * 2 // 3 + 1]]
    eng.remove(drop)
    compacted = eng._local_cache["clip"]
    assert n > _capacity(n - len(drop))
    assert compacted.live is None and len(compacted.ids) == n - len(drop)
    assert not np.shares_memory(block["emb"], compacted["emb"])
    _assert_matches_rebuild(eng, "clip", "compaction")


def test_incremental_cache_parity_under_random_mutation_sequences(spark):
    """Property: after ANY interleaving of interactive ingests and
    removes, the incrementally maintained cache is bit-identical to a
    fresh rebuild of the same corpus — ids, embeddings, modality,
    payload and the footprint estimate. Deterministic seed; three
    checkpoints along a 30-op sequence."""
    import random

    import numpy as np

    rng = random.Random(1711)
    eng = MultiModalSearchEngine(spark, dim=8)
    eng.batch_ingest(
        [{"content": f"seq doc {i}",
          "modality": ["text", "image", "audio"][i % 3]}
         for i in range(30)]
    )
    eng.search("seq doc 1", k=2)  # build clip cache
    eng.search("seq doc 2", k=2, filter_content_type="audio")  # clap
    live = list(range(30))
    next_content = 30
    for step in range(30):
        if live and rng.random() < 0.3:
            victim = live.pop(rng.randrange(len(live)))
            eng.remove([victim])
        else:
            n = rng.randint(1, 4)
            eng.batch_ingest(
                [{"content": f"seq doc {next_content + j}",
                  "modality": rng.choice(["text", "image", "audio"])}
                 for j in range(n)]
            )
            # ids are contiguous from the maintained counter
            live.extend(range(eng._max_id - n + 1, eng._max_id + 1))
            next_content += n
        if step % 10 == 9:
            for space in list(eng._local_cache):
                if eng._local_cache[space]["epoch"] != eng._epoch:
                    continue  # space untouched since a bulk path
                _assert_matches_rebuild(eng, space, step)

    # one remove that leaves more rows held than the headroom rule
    # allows: the block is compacted, and still matches a rebuild
    block = eng._local_cache["clip"]
    alive = [int(i) for i in _live_rows(block)["ids"]]
    eng.remove(alive[: len(alive) * 2 // 3])
    compacted = eng._local_cache["clip"]
    assert compacted.live is None
    assert not np.shares_memory(block["emb"], compacted["emb"])
    _assert_matches_rebuild(eng, "clip", "compaction")


def test_interactive_ingest_is_spark_free_and_flushes_before_read(
    spark, monkeypatch
):
    """Round-12 ingest cost contract: batch_ingest touches NO Spark
    API at all — not even createDataFrame (the ~80 ms py4j floor the
    round-11 profile measured per single-row ingest). Rows buffer
    driver-side, valid micro-path caches absorb them in place, and the
    buffer flushes into the DataFrame lazily before the next
    Spark-path read, so every Spark consumer still sees every row."""
    import pyspark.sql

    eng = MultiModalSearchEngine(spark, dim=16)
    eng.batch_ingest(
        [{"content": f"buf doc {i}", "modality": "text"}
         for i in range(20)]
    )
    eng.search("buf doc 3", k=2)  # builds the micro-path cache
    assert eng.last_route["route"] == "exact-local"

    def boom(self, *a, **k):
        raise AssertionError(
            "Spark was touched during interactive ingest/search"
        )

    monkeypatch.setattr(
        pyspark.sql.SparkSession, "createDataFrame", boom
    )
    monkeypatch.setattr(pyspark.sql.DataFrame, "collect", boom)
    for i in range(5):
        eng.ingest_content(f"buf late {i}", modality="text")
        out = eng.search(f"buf late {i}", k=1)
        assert out[0]["content"] == f"buf late {i}"
    assert len(eng._pending) == 5  # buffered, not flushed
    monkeypatch.undo()

    # flush-before-Spark-read: the property getter unions the buffer
    # in, so a Spark-path consumer sees all 25 rows
    assert eng.items.count() == 25
    assert not eng._pending
    assert (
        eng.items.where(F.col("content") == "buf late 4").count() == 1
    )

    # over-budget engine: buffered rows reach the Spark search path
    cold = MultiModalSearchEngine(spark, dim=16,
                                  local_exact_budget_bytes=0)
    cold.batch_ingest(
        [{"content": f"cold doc {i}", "modality": "text"}
         for i in range(8)]
    )
    out = cold.search("cold doc 5", k=1)
    assert out[0]["content"] == "cold doc 5"
    assert cold.last_route["route"].startswith("exact-")


def test_deferred_serve_counter_increments_and_clears(spark):
    """Round-12 maintain() scheduling guidance: every deferred serve
    increments a per-index counter surfaced on last_route (with the
    deferral start time), and maintain() clears it — the signal an
    operator alerts on when a deployment forgets to schedule
    maintain()."""
    eng = MultiModalSearchEngine(spark, dim=16, blocked_threshold_cells=10,
                                 local_exact_budget_bytes=0,
                                 defer_recalibration=True)
    eng.batch_ingest(
        [{"content": f"dsc doc {i}", "modality": "text"}
         for i in range(120)]
    )
    eng.build_ann_index(space="clip", n_clusters=8, calibration_queries=8)
    eng.batch_ingest(
        [{"content": f"dsc late {i}", "modality": "text"}
         for i in range(60)]  # 50% growth > 25% fraction -> stale
    )
    eng.search("dsc doc 7", k=3, recall_floor=0.5)
    assert eng.last_route["n_deferred_serves"] == 1
    t0 = eng.last_route["deferred_since"]
    eng.search("dsc doc 8", k=3, recall_floor=0.5)
    assert eng.last_route["n_deferred_serves"] == 2
    assert eng.last_route["deferred_since"] == t0  # start, not latest

    st = eng.maintain("clip")
    assert st["recalibrated"] is True
    assert st["deferred_serves_cleared"] == 2
    assert "n_deferred_serves" not in eng._ann["clip"]
    eng.search("dsc doc 7", k=3, recall_floor=0.5)
    assert "n_deferred_serves" not in eng.last_route
    # idle maintain reports zero cleared
    assert eng.maintain("clip")["deferred_serves_cleared"] == 0


def test_micro_path_footprint_counts_float64_resident_bytes(spark):
    """Round-12 gate-arithmetic fix: the admitted footprint's vector
    term must equal the cached block's ACTUAL resident matrix bytes
    (float64 — 8 B/elem), so local_exact_budget_bytes means what it
    says. The maintained estimate decomposes exactly into
    emb.nbytes + per-row payload estimates."""
    eng = MultiModalSearchEngine(spark, dim=16)
    eng.batch_ingest(
        [{"content": f"fp64 doc {i}", "modality": "text"}
         for i in range(30)]
    )
    eng.search("fp64 doc 3", k=2)
    cache = eng._local_cache["clip"]
    assert cache["emb"].dtype.itemsize == 8
    payload_est = sum(_payload_bytes(p) for p in cache["payload"])
    assert cache["bytes"] == cache["emb"].nbytes + payload_est

    # a budget sized between the float32 and float64 vector terms must
    # now REFUSE (the old 4 B arithmetic admitted it): 30 rows x 16 d
    # -> f32 term 1,920 B, f64 term 3,840 B; payload ~ 30 x ~75 B
    tight_budget = 2_000 + payload_est
    tight = MultiModalSearchEngine(
        spark, dim=16, local_exact_budget_bytes=tight_budget
    )
    tight.batch_ingest(
        [{"content": f"fp64 doc {i}", "modality": "text"}
         for i in range(30)]
    )
    tight.search("fp64 doc 3", k=2)
    assert tight.last_route["route"] != "exact-local"
    assert "clip" not in tight._local_cache


def test_compare_rows_over_budget_sets_spark_compare_route(spark):
    """Round-12 review fix: compare_modalities_rows' over-budget
    fallback must describe ITSELF on last_route instead of leaving a
    previous call's entry."""
    eng = MultiModalSearchEngine(spark, dim=16,
                                 local_exact_budget_bytes=0)
    eng.batch_ingest(
        [{"content": f"scr doc {i}",
          "modality": ["text", "audio"][i % 2]}
         for i in range(12)]
    )
    eng.last_route = {"route": "sentinel"}
    rows = eng.compare_modalities_rows("scr doc 3", k_per_modality=2)
    assert rows and {r["modality"] for r in rows} == {"text", "audio"}
    assert eng.last_route["route"] == "spark-compare"
    assert "over" in eng.last_route["reason"] or "exceed" in (
        eng.last_route["reason"]
    )


def test_blas_clamp_idle_restore_without_new_entrant():
    """Round-12 clamp-leak fix: after a concurrent burst the
    process-global 1-thread regime must NOT persist indefinitely —
    exiting the last section arms a deferred restore, so an unwrapped
    driver-side GEMM gets the library default back once the sticky
    window elapses, with NO new gemm_section entrant."""
    import time

    from multimodal_vector_db_spark.functions import blasctl

    if not blasctl.blas_control_available():
        pytest.skip("no OpenBLAS control surface in this build")
    default = blasctl.default_blas_threads()
    # a burst: two overlapping sections -> concurrent regime (1 thread)
    with blasctl.gemm_section():
        with blasctl.gemm_section():
            assert blasctl.current_blas_threads() == 1
    # immediately after the burst the clamp is still sticky…
    assert blasctl.current_blas_threads() == 1
    # …but the idle-restore timer puts the default back by itself
    deadline = time.time() + 5.0
    while (
        time.time() < deadline
        and blasctl.current_blas_threads() != default
    ):
        time.sleep(0.05)
    assert blasctl.current_blas_threads() == default


def test_internal_mutations_preserve_buffered_rows(spark):
    """Round-12 concurrency fix: every INTERNAL corpus mutation that
    is not a buffered write (bulk union-append, lineage checkpoint)
    goes through the atomic ``_transform_items`` — flush + transform +
    assign under the buffer lock, buffers never cleared. The previous
    ``self.items = self.items...`` form read the getter (flushing),
    built the plan, then hit the SETTER, which clears the pending
    buffer — a batch_ingest landing between the two lost its rows
    from the Spark-side corpus."""
    eng = MultiModalSearchEngine(spark, dim=16)
    eng.batch_ingest(
        [{"content": f"base {i}", "modality": "text"} for i in range(4)]
    )
    eng.search("base 0", k=1)  # cache built; buffer flushed by read

    # a row buffered (not yet flushed), then a remove: the remove is
    # buffered next to it, and both reach the corpus at the next read
    eng.ingest_content("pended survivor", modality="text")
    assert eng._pending
    eng.remove([0])
    assert eng._pending and eng._tombstones == {0}
    live = eng.items.where(~F.col("deleted"))
    assert live.where(F.col("content") == "pended survivor").count() == 1
    assert live.where(F.col("content") == "base 0").count() == 0

    # lineage compaction (every _COMPACT_EVERY mutations) is also a
    # transform — force it every mutation and stream rows through
    eng._mutations_since_compact = 0
    eng.__dict__["_COMPACT_EVERY"] = 1
    for i in range(3):
        eng.ingest_content(f"compacted {i}", modality="text")
    assert eng.items.where(
        F.col("content").startswith("compacted")
    ).count() == 3

    # external wholesale replace KEEPS the drop-buffer semantics: the
    # buffered tail belongs to the corpus being replaced
    eng.ingest_content("doomed row", modality="text")
    assert eng._pending
    eng.items = spark.createDataFrame([], eng.items.schema)
    assert not eng._pending
    assert eng.items.count() == 0


def test_first_ingest_after_search_needs_no_spark_job(
    spark, monkeypatch
):
    """Round 12: max(id) rides the _space_rows lazy-init agg that any
    search already pays, so the FIRST interactive ingest over a loaded
    corpus is as Spark-free as every later one (it used to pay a
    dedicated ~1.2 s max-id agg — bench's
    facade_ingest_first_cycle_ms)."""
    import pyspark.sql

    from multimodal_vector_db_spark.embedders.fake import (
        fake_embed_numpy,
    )

    rows = [
        (i, "text", "clip",
         [float(x) for x in fake_embed_numpy(f"seed {i}", "clip", 16)],
         16, False, f"seed {i}", f"doc_{i}")
        for i in range(30)
    ]
    items = spark.createDataFrame(
        rows,
        "id long, modality string, space string, "
        "embedding array<float>, dim int, deleted boolean, "
        "content string, display_name string",
    )
    eng = MultiModalSearchEngine(spark, items=items, dim=16)
    eng.search("seed 3", k=2)  # primes cache + space rows (+ max id)
    assert eng.last_route["route"] == "exact-local"
    assert eng._max_id == 29  # primed by the ride-along agg

    def boom(self, *a, **k):
        raise AssertionError("Spark touched during first ingest")

    monkeypatch.setattr(
        pyspark.sql.SparkSession, "createDataFrame", boom
    )
    monkeypatch.setattr(pyspark.sql.DataFrame, "collect", boom)
    eng.ingest_content("first interactive doc", modality="text")
    out = eng.search("first interactive doc", k=1)
    assert out[0]["content"] == "first interactive doc"
    assert out[0]["id"] == 30


def test_concurrent_writers_mint_unique_ids(spark):
    """Round 12: corpus mutations are serialized by _mutation_lock —
    two interactive writers racing through _next_id used to be able to
    mint the same ids and tear the epoch/cache-tail state. N threads
    ingest concurrently while M threads search; every id is unique,
    every row lands, and the post-storm corpus matches."""
    import threading

    eng = MultiModalSearchEngine(spark, dim=16)
    eng.batch_ingest(
        [{"content": f"seed {i}", "modality": "text"} for i in range(8)]
    )
    eng.search("seed 1", k=2)  # build the cache

    N_W, PER_W, N_R = 4, 12, 3
    errs: list = []

    def writer(w: int) -> None:
        try:
            for i in range(PER_W):
                eng.ingest_content(f"w{w} doc {i}", modality="text")
        except Exception as e:  # pragma: no cover
            errs.append(e)

    def reader() -> None:
        try:
            for i in range(10):
                eng.search(f"seed {i % 8}", k=2)
        except Exception as e:  # pragma: no cover
            errs.append(e)

    ts = [threading.Thread(target=writer, args=(w,)) for w in range(N_W)]
    ts += [threading.Thread(target=reader) for _ in range(N_R)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs, errs
    total = 8 + N_W * PER_W
    ids = [r["id"] for r in eng.items.select("id").collect()]
    assert len(ids) == total
    assert len(set(ids)) == total  # no duplicate ids minted
    # the micro-path cache absorbed every row exactly once
    out = eng.search("w2 doc 7", k=1)
    assert out[0]["content"] == "w2 doc 7"


# -- interactive writes: buffered tombstones, Arrow-built flushes ------

def test_flushed_writes_reach_spark_as_local_relation(spark):
    """Buffered ingests reach Spark as one Arrow-built frame, which the
    JVM holds as a LocalRelation: no pickled Python RDD (LogicalRDD)
    that every later read of the corpus would run again as Python
    tasks. Buffered tombstones ride the same flush."""
    eng = MultiModalSearchEngine(spark, dim=8)
    eng.batch_ingest(
        [{"content": f"lr doc {i}", "modality": "text"} for i in range(12)]
    )
    assert eng.search("lr doc 3", k=1)[0]["content"] == "lr doc 3"
    eng.remove([2])
    eng.batch_ingest(
        [{"content": f"lr late {i}", "modality": "image"} for i in range(4)]
    )
    plan = eng.items._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in plan and "LogicalRDD" not in plan, plan
    live = eng.items.where(~F.col("deleted"))
    assert live.count() == 15
    assert live.where(F.col("id") == 2).count() == 0
    assert eng.items.schema.simpleString() == (
        "struct<id:bigint,modality:string,space:string,"
        "embedding:array<float>,dim:int,deleted:boolean,"
        "content:string,display_name:string>"
    )


def test_cached_remove_runs_no_spark_call_and_copies_no_row(
    spark, monkeypatch
):
    """On a cached engine a remove is driver-side only: no py4j call
    (the tombstones wait for the next Spark-path read) and no copy of
    the resident matrix (the new block masks the rows out of the same
    buffers)."""
    import numpy as np

    eng = MultiModalSearchEngine(spark, dim=8)
    eng.batch_ingest(
        [{"content": f"nc doc {i}", "modality": "text"} for i in range(40)]
    )
    eng.search("nc doc 1", k=2)  # builds the block, flushes the buffer
    before = eng._local_cache["clip"]
    client = spark.sparkContext._gateway._gateway_client
    sent = []
    real = client.send_command

    def counting(*a, **k):
        sent.append(1)
        return real(*a, **k)

    monkeypatch.setattr(client, "send_command", counting)
    eng.remove([3, 7, 11])
    assert sent == []
    eng.items  # the flush does talk to the JVM: the wrapper sees it
    assert sent
    monkeypatch.undo()
    after = eng._local_cache["clip"]
    assert after["epoch"] == eng._epoch
    assert np.shares_memory(before["emb"], after["emb"])
    assert after.n_live == 37 and len(after.ids) == 40
    assert all(r["id"] not in (3, 7, 11)
               for r in eng.search("nc doc 7", k=5))


def test_remove_without_corpus_is_noop(spark):
    """A remove on an engine with no corpus does nothing, like a
    remove of ids that name no row — including ids minted only by a
    later ingest."""
    eng = MultiModalSearchEngine(spark, dim=8)
    eng.remove([0, 1])
    assert eng.items is None

    eng = MultiModalSearchEngine(spark, dim=8)
    eng.remove([0, 1])
    eng.batch_ingest(
        [{"content": f"nr doc {i}", "modality": "text"} for i in range(3)]
    )
    assert eng.items.where(~F.col("deleted")).count() == 3
    assert eng.search("nr doc 1", k=1)[0]["id"] == 1
    assert eng.last_route["route"] == "exact-local"


def test_removed_rows_never_served_on_any_route(spark, tmp_path):
    """A removed id that would rank top-1 is never returned: not by a
    local plain, filtered, diversity, batch or compare call, nor by the
    Spark exact-hof, exact-blocked and IVF routes, sql() or save() —
    while its tombstone is still buffered and after it was flushed."""
    from multimodal_vector_db_spark.sources.corpus import active

    mods = ["text", "image"]
    eng = MultiModalSearchEngine(spark, dim=8)
    eng.batch_ingest(
        [{"content": f"rm doc {i}", "modality": mods[i % 2]}
         for i in range(48)]
    )
    eng.build_ann_index(space="clip", n_clusters=4, calibrate=False)

    def ids_of(rows):
        return {r["id"] for r in rows}

    def local(i):
        q = f"rm doc {i}"
        out = [
            eng.search(q, k=3),
            eng.search(q, k=3, filter_content_type=mods[i % 2]),
            eng.search(q, k=3, strategy="diversity"),
            eng.search_batch([q, "rm doc 0"], k=3)[0],
            eng.compare_modalities_rows(q, k_per_modality=3),
        ]
        assert eng.last_route["route"] == "exact-local"
        return set().union(*map(ids_of, out))

    def sql_ids(i):
        return {r["id"] for r in eng.sql("SELECT id FROM items").collect()}

    routes = {
        "exact-hof": lambda i: ids_of(
            eng.search(f"rm doc {i}", k=3, scorer="hof")),
        "exact-blocked": lambda i: ids_of(
            eng.search(f"rm doc {i}", k=3, scorer="blocked")),
        "ivf": lambda i: ids_of(
            eng.search(f"rm doc {i}", k=3, route="ivf",
                       recall_floor=0.95)),
    }
    # resident paths: tombstones stay buffered (no Spark read between)
    for v in (5, 6):
        assert local(v) >= {v}  # top-1 before the remove
        eng.remove([v])
        assert v in eng._tombstones
        assert v not in local(v)
        assert v in eng._tombstones
    # Spark paths: each route meets its own victim buffered, then flushed
    for v, (name, run) in zip((9, 12, 15), routes.items()):
        assert v in run(v), name
        assert eng.last_route["route"] == name
        eng.remove([v])
        assert v in eng._tombstones
        assert v not in run(v), name
        assert not eng._tombstones
        assert v not in run(v), name
    eng.remove([20])
    assert 20 not in sql_ids(20)
    assert 20 not in sql_ids(20)
    # a block rebuilt from the flushed corpus
    eng._local_cache.clear()
    for v in (5, 6, 9, 12, 15, 20):
        assert v not in local(v)
    # save() while one tombstone is still buffered
    eng.remove([21])
    eng.save(str(tmp_path / "rm"))
    loaded = MultiModalSearchEngine.load(spark, str(tmp_path / "rm"))
    kept = {r["id"] for r in active(loaded.items).select("id").collect()}
    assert kept == set(range(48)) - {5, 6, 9, 12, 15, 20, 21}
