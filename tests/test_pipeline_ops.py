"""Behavioral tests for the round-5 pipeline operators — semantics the
oracle compare can't express on its own (tombstone resurrection, rate
compliance, cascade invariants, ranking monotonicity)."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from realtime_voting_data_engineering_spark.operators import dedup as D
from realtime_voting_data_engineering_spark.operators import relational as R
from realtime_voting_data_engineering_spark.operators import search as SE
from realtime_voting_data_engineering_spark.sources.tables import load_table


def test_apply_changes_latest_tombstone_and_resurrection(spark):
    rows = [
        # key 1: update then delete → gone
        Row(k=1, seq=1, op="upsert", v=10.0),
        Row(k=1, seq=2, op="delete", v=None),
        # key 2: delete then update → resurrected with latest value
        Row(k=2, seq=1, op="delete", v=None),
        Row(k=2, seq=2, op="upsert", v=20.0),
        # key 3: plain upserts → latest wins
        Row(k=3, seq=1, op="upsert", v=1.0),
        Row(k=3, seq=2, op="upsert", v=2.0),
    ]
    df = spark.createDataFrame(rows)
    out = R.apply_changes_latest(
        df, ["k"], ["seq"], delete_predicate=F.col("op") == "delete"
    )
    got = {r.k: r.v for r in out.collect()}
    assert got == {2: 20.0, 3: 2.0}


def test_apply_changes_latest_seq_tiebreak(spark):
    rows = [
        Row(k=1, seq=1, sub=1, op="upsert", v=1.0),
        Row(k=1, seq=1, sub=2, op="upsert", v=2.0),
    ]
    out = R.apply_changes_latest(spark.createDataFrame(rows), ["k"], ["seq", "sub"])
    assert out.collect()[0].v == 2.0


def test_stratified_sample_rates_and_stability(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    rates = {"en": 0.1, "de": 0.6}
    out = R.stratified_sample(docs, "doc_id", "lang", rates, 0.0, salt="strat")
    counts = {r.lang: r.n for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    totals = {r.lang: r.n for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    # strata not in the rate map are dropped entirely
    assert set(counts) <= set(rates)
    # observed rate within a loose binomial band of the target
    for lang, rate in rates.items():
        obs = counts.get(lang, 0) / totals[lang]
        assert abs(obs - rate) < 0.15, (lang, obs, rate)
    # selection is a function of the key only: stable under repartition
    a = {r.doc_id for r in out.collect()}
    b = {r.doc_id for r in R.stratified_sample(
        docs.repartition(13), "doc_id", "lang", rates, 0.0, salt="strat"
    ).collect()}
    assert a == b


def test_incremental_dedup_batch_and_corpus_collisions(spark):
    incoming = spark.createDataFrame(
        [
            Row(doc_id=1, text="alpha beta"),
            Row(doc_id=2, text="Alpha   beta"),  # dup of 1 after normalization
            Row(doc_id=3, text="already known"),
            Row(doc_id=4, text="brand new"),
        ]
    )
    existing = spark.createDataFrame([Row(doc_id=99, text="ALREADY  known")])
    out = D.incremental_dedup(incoming, existing)
    assert {r.doc_id for r in out.collect()} == {1, 4}


def test_bm25_ranking_monotonic(spark):
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="spark spark merge query"),
            Row(doc_id=2, text="spark filler filler filler"),
            Row(doc_id=3, text="nothing relevant here"),
        ]
    )
    out = SE.bm25_topk(docs, ["spark", "merge", "query"], k=10)
    rows = out.collect()
    ids = [r.doc_id for r in rows]
    assert 3 not in ids  # zero-score docs filtered
    assert ids[0] == 1  # more matching terms & tf → higher score
    scores = [r.score for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_rollup_cascade_is_consistent(spark, sf_dir):
    from realtime_voting_data_engineering_spark.queries import REGISTRY

    out = REGISTRY["event_rollup_multires"].fn(spark, sf_dir)
    per_res = {
        r.resolution: (r.n, r.v)
        for r in out.groupBy("resolution")
        .agg(
            F.sum("n_events").alias("n"),
            F.round(F.sum("total_value"), 4).alias("v"),
        )
        .collect()
    }
    # every level preserves the global totals exactly (decimal cascade)
    assert per_res["hour"][0] == per_res["day"][0] == per_res["week"][0]
    assert per_res["hour"][1] == pytest.approx(per_res["day"][1], abs=1e-6)
    assert per_res["hour"][1] == pytest.approx(per_res["week"][1], abs=1e-6)


def test_stratified_sample_plan_is_shuffle_free(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    out = R.stratified_sample(docs, "doc_id", "lang", {"en": 0.5}, 0.0)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_bm25_plan_is_single_scan_no_join(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    out, proj = SE.bm25_topk_indexed(docs, ["spark", "merge"], k=5)
    try:
        plan = out._jdf.queryExecution().executedPlan().toString()
        # top-k must be a TakeOrdered, never a global sort
        assert "TakeOrderedAndProject" in plan
        # stats are inlined as literals off the persisted tf projection —
        # no join of any kind survives in the scoring plan
        assert "Join" not in plan
        # the scoring pass reads the persisted projection, not the corpus
        assert "InMemoryTableScan" in plan
    finally:
        proj.unpersist()
    # The convenience wrapper builds persist=False (it discards the
    # handle, so it must not create cache entries — r8 advice): its
    # scoring plan reads the corpus directly, no InMemoryTableScan.
    wrapped = SE.bm25_topk(docs, ["spark", "merge"], k=5)
    wplan = wrapped._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" not in wplan
    assert "TakeOrderedAndProject" in wplan and "Join" not in wplan


def test_pq_encode_reconstruction_and_determinism(spark, sf_dir):
    import numpy as np

    from realtime_voting_data_engineering_spark.operators import similarity as S

    emb = load_table(spark, sf_dir, "embeddings").limit(50)
    out = S.pq_encode(emb, dims=64, m=8, ksub=16)
    rows = {r.vec_id: r.pq_codes for r in out.collect()}
    # deterministic across runs/partitionings
    again = {
        r.vec_id: r.pq_codes
        for r in S.pq_encode(emb.repartition(7), dims=64, m=8, ksub=16).collect()
    }
    assert rows == again
    # every code row is 8 codes in [0, 16)
    for codes in rows.values():
        parts = [int(c) for c in codes.split(",")]
        assert len(parts) == 8 and all(0 <= c < 16 for c in parts)
    # reconstruction is nearest-centroid by L2, so the SOUND bound is on
    # L2: per subvector, ||v - c*||₂ ≤ ||v - c0||₂ for the fixed centroid
    # c0 (max-abs does NOT transfer — argmin-L2 can pick a centroid with
    # a larger single-coordinate error)
    cb = S.pq_codebooks(64, 8, 16)
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in emb.collect()}
    for vid, codes in rows.items():
        parts = [int(c) for c in codes.split(",")]
        recon = np.concatenate([cb[s, c] for s, c in enumerate(parts)])
        for s in range(8):
            sub = vecs[vid][s * 8 : (s + 1) * 8]
            err_l2 = np.linalg.norm(sub - recon[s * 8 : (s + 1) * 8])
            bound = np.linalg.norm(sub - cb[s, 0])
            assert err_l2 <= bound + 1e-12, (vid, s, err_l2, bound)


def test_rollup_cascade_reuses_hourly_exchange(spark, sf_dir):
    """The cascade's scale claim — raw events are shuffled ONCE — holds
    at runtime: AQE replaces the day/week branches' identical hourly
    exchanges with ReusedExchange nodes, so the executed plan computes
    the hourly aggregate a single time."""
    from realtime_voting_data_engineering_spark.queries import REGISTRY

    df = REGISTRY["event_rollup_multires"].fn(spark, sf_dir)
    df.collect()  # adaptive plan finalizes only after execution
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ReusedExchange") >= 2


def test_pq_adc_recall_vs_exact(spark, sf_dir):
    """ADC over 8-byte codes must carry real ranking signal: recall@5
    vs exact brute-force cosine ≥ 0.15 on the near-uniform corpus
    (measured 0.26 with the fixed md5 codebooks — the hard case; random
    guessing is ~0.01, and trained codebooks only improve this). The
    floor also guards the codebook/data scale match: mis-scaled
    codebooks (the ±1 range this started with) score exactly 0."""
    from realtime_voting_data_engineering_spark.operators import similarity as S

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).limit(10)
    exact = S.knn_brute_force(queries, emb, k=5)
    adc = S.knn_pq_adc(queries, emb, dims=64, m=8, ksub=16, k=5)
    truth = {}
    for r in exact.collect():
        truth.setdefault(r.query_id, set()).add(r.neighbor_id)
    got = {}
    for r in adc.collect():
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = sum(len(truth[q] & got.get(q, set())) for q in truth)
    total = sum(len(v) for v in truth.values())
    assert hits / total >= 0.15, f"ADC recall {hits}/{total}"


def test_pq_adc_fused_single_python_crossing(spark, sf_dir):
    """The float-input path encodes and scores in ONE fused Arrow kernel
    (r9): the r5-r8 shape chained two mapInPandas kernels, paying a
    second JVM↔Python crossing with CSV code strings on the wire — the
    attributed bulk of the knn_pq_adc panel drift. Exactly one
    MapInPandas node may appear in the plan."""
    from realtime_voting_data_engineering_spark.operators import similarity as S

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).limit(10)
    out = S.knn_pq_adc(queries, emb, dims=64, m=8, ksub=16, k=5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1, plan


def test_corpus_token_is_none_when_directory_listing_fails(monkeypatch, tmp_path):
    """os.walk swallows listing errors by default, which would turn an
    unreadable corpus directory into a stable-looking EMPTY token — a
    valid memo key that does not cover the content it claims to
    fingerprint (r9 review finding). Listing failures must propagate to
    the OSError handler and yield None (→ unmemoized build)."""
    import os

    from realtime_voting_data_engineering_spark import queries_pipeline as QP

    docs = tmp_path / "documents.parquet"
    docs.mkdir()
    (docs / "part-0.parquet").write_bytes(b"x")
    assert QP._corpus_token(str(tmp_path)) is not None  # healthy dir tokenizes

    real_walk = os.walk

    def failing_walk(path, onerror=None, **kw):
        if onerror is not None:
            onerror(OSError("permission denied (injected)"))
        return real_walk(path, onerror=onerror, **kw)

    monkeypatch.setattr(os, "walk", failing_walk)
    assert QP._corpus_token(str(tmp_path)) is None, (
        "listing failure produced a token instead of None"
    )


_COLLECTING_KERNELS = {
    "knn_quantized": lambda S, q, c: S.knn_quantized(q, c, k=3),
    "knn_ivf_fixed": lambda S, q, c: S.knn_ivf_fixed(
        q, c, dims=8, k=3, n_centroids=4, nprobe=4
    ),
    "knn_pq_adc": lambda S, q, c: S.knn_pq_adc(q, c, dims=8, m=2, ksub=4, k=3),
}


@pytest.mark.parametrize("kernel", sorted(_COLLECTING_KERNELS))
def test_colliding_query_ids_deterministic(spark, kernel):
    """Every kernel that collects its query set applies the one boundary
    rule of ``collect_query_matrix``: colliding query ids collapse to ONE
    query vector, the lexicographically least (the ``unique_by_id``
    rule), instead of ranking both vectors' neighbours under one
    query_id; a NULL-id query row yields nothing. So the output on the
    dirty query set, in either row order, equals the output on the
    deduplicated, NULL-free one. The duplicate vectors are not parallel:
    cosine cannot tell [0.2]*8 from [0.01]*8."""
    import numpy as np

    from realtime_voting_data_engineering_spark.operators import similarity as S

    run = _COLLECTING_KERNELS[kernel]
    rng = np.random.default_rng(7)
    vecs = rng.standard_normal((43, 8)).astype(np.float32).tolist()
    schema = "vec_id bigint, embedding array<float>"
    corpus = spark.createDataFrame(list(enumerate(vecs[:40])), schema)
    least, other = sorted(vecs[40:42])
    clean = [(1, least), (2, vecs[5])]
    dirty = [(1, other), (None, vecs[42]), (1, least), (2, vecs[5])]

    def ranked(rows):
        out = run(S, spark.createDataFrame(rows, schema), corpus).collect()
        return sorted(map(tuple, out), key=repr)

    want = ranked(clean)
    assert len(want) == 2 * 3, "the clean query set must fill both top-3s"
    assert ranked(dirty) == want
    assert ranked(dirty[::-1]) == want


def test_pq_adc_query_chunking_changes_no_bits(spark, monkeypatch):
    """The ADC kernel blocks the QUERY axis so per-batch peak memory is
    O(chunk × batch) instead of O(|Q| × batch) (ADVICE r9 #2). Blocking
    must be invisible in the output: force a chunk smaller than the
    query count and require row-identical results to the default (one
    block covers everything) — same scores, same top-k, same bits."""
    from realtime_voting_data_engineering_spark.operators import similarity as S

    corpus = spark.createDataFrame(
        [(i, [0.01 * i + 0.001 * (i % 3)] * 8) for i in range(30)],
        "vec_id bigint, embedding array<float>",
    )
    queries = spark.createDataFrame(
        [(100 + i, [0.05 * i] * 8) for i in range(7)],
        "vec_id bigint, embedding array<float>",
    )
    whole = sorted(
        map(tuple, S.knn_pq_adc(queries, corpus, dims=8, m=2, ksub=4, k=3).collect())
    )
    monkeypatch.setattr(S, "_QUERY_CHUNK", 2)  # 7 queries → 4 blocks
    chunked = sorted(
        map(tuple, S.knn_pq_adc(queries, corpus, dims=8, m=2, ksub=4, k=3).collect())
    )
    assert whole == chunked and len(whole) == 7 * 3


def test_pq_adc_rejects_mismatched_id_types(spark):
    """Mixed id dtypes make the kernels' numpy self-match compare
    vacuous (string vs int64 → everything 'unequal' → a vector scores
    against itself and wins its own top-k). The ADC kernel must refuse
    at plan time, loudly (ADVICE r9 #3)."""
    import pytest

    from realtime_voting_data_engineering_spark.operators import similarity as S

    corpus = spark.createDataFrame(
        [(i, [0.01 * i] * 8) for i in range(10)],
        "vec_id bigint, embedding array<float>",
    )
    str_queries = spark.createDataFrame(
        [("3", [0.03] * 8)], "vec_id string, embedding array<float>"
    )
    with pytest.raises(TypeError, match="id column .* type mismatch"):
        S.knn_pq_adc(str_queries, corpus, dims=8, m=2, ksub=4, k=3)
    # NARROWER-query integral mixes were always numerically correct
    # (numpy compares int32 vs int64 exactly, and the output query_id
    # upcasts exactly to the corpus's wider type) — the guard must not
    # break them (r10 review finding).
    int_queries = spark.createDataFrame(
        [(3, [0.03] * 8)], "vec_id int, embedding array<float>"
    )
    out = S.knn_pq_adc(int_queries, corpus, dims=8, m=2, ksub=4, k=3).collect()
    assert len(out) == 3 and all(r.neighbor_id != 3 for r in out)
    # WIDER-query integral mixes must refuse (ADVICE r10 #1): the
    # output query_id takes the corpus's narrower type and the session
    # leaves convertToArrowArraySafely=false, so pyarrow WRAPS an
    # out-of-range query id (int64 2^33+7 → int32 7) — a corrupted id
    # that can collide with a real one, silently.
    int_corpus = corpus.withColumn("vec_id", F.col("vec_id").cast("int"))
    wide_queries = spark.createDataFrame(
        [((1 << 33) + 7, [0.03] * 8)], "vec_id bigint, embedding array<float>"
    )
    with pytest.raises(TypeError, match="width mismatch"):
        S.knn_pq_adc(wide_queries, int_corpus, dims=8, m=2, ksub=4, k=3)


def test_apply_changes_latest_null_predicate_keeps_key(spark):
    """A malformed final change (delete predicate evaluates NULL) must
    KEEP the key — unknown is not a tombstone. Guards the coalesce in
    apply_changes_latest: a bare `~predicate` filter silently drops the
    NULL case."""
    rows = [
        Row(k=1, seq=1, op="upsert", v=1.0),
        Row(k=1, seq=2, op=None, v=2.0),  # malformed final change
    ]
    out = R.apply_changes_latest(
        spark.createDataFrame(rows),
        ["k"],
        ["seq"],
        delete_predicate=F.col("op") == "delete",
    )
    got = [(r.k, r.v) for r in out.collect()]
    assert got == [(1, 2.0)]


def test_cdc_oracle_null_event_type_matches_operator_semantics():
    """The cdc_latest_state ORACLE must share the operator's NULL
    contract (unknown is not a tombstone): a key whose final change has
    NULL event_type stays in the snapshot. Replays the registered SQL's
    WHERE clause in DuckDB on a planted NULL — guards against the bare
    `event_type <> 'error'` form, which silently drops the key."""
    import duckdb

    from realtime_voting_data_engineering_spark import queries as Q

    sql = Q.REGISTRY["cdc_latest_state"].oracle
    con = duckdb.connect()
    con.execute(
        """
        CREATE VIEW events AS
        SELECT * FROM (VALUES
          (1, TIMESTAMP '2024-01-01 00:00:00', 1, 'purchase', 1.0),
          (2, TIMESTAMP '2024-01-02 00:00:00', 1, NULL,       2.0),
          (3, TIMESTAMP '2024-01-01 00:00:00', 2, 'error',    3.0),
          (4, TIMESTAMP '2024-01-01 00:00:00', 3, 'view',     4.0)
        ) t(event_id, ts, user_id, event_type, value)
        """
    )
    got = {r[0]: r[2] for r in con.execute(sql).fetchall()}
    # user 1: final change NULL → kept; user 2: final 'error' → deleted.
    assert got == {1: None, 3: "view"}


def test_bm25_memo_invalidates_on_corpus_rewrite(spark, tmp_path):
    """The bm25_search_topk memo bakes corpus stats in as literals, so a
    (session, path) hit on a path whose CONTENTS changed would silently
    score against the old index (r7 review finding). The memo key
    carries a (mtime, size) content token: rewriting documents.parquet
    in place must yield a fresh index, and the stale entry's persisted
    projection is unpersisted on eviction."""
    import os
    import shutil
    import time

    import pyarrow.parquet as pq_  # noqa: N813 — avoid fixture clash

    from realtime_voting_data_engineering_spark import queries as Q
    from realtime_voting_data_engineering_spark.queries_pipeline import _BM25_MEMO

    src = "/root/testdata/sf0.001"
    work = str(tmp_path / "corpus")
    os.makedirs(work)
    for f in os.listdir(src):
        shutil.copy(os.path.join(src, f), os.path.join(work, f))
    fn = Q.REGISTRY["bm25_search_topk"].fn
    r1 = {(r.doc_id, r.score) for r in fn(spark, work).collect()}
    n_entries = sum(1 for k in _BM25_MEMO if k[1] == work)
    assert n_entries == 1
    t = pq_.read_table(os.path.join(work, "documents.parquet"))
    time.sleep(0.01)  # ensure a distinct mtime_ns on coarse filesystems
    pq_.write_table(t.slice(0, len(t) // 2), os.path.join(work, "documents.parquet"))
    r2 = {(r.doc_id, r.score) for r in fn(spark, work).collect()}
    assert r1 != r2, "memo served a stale index after the corpus rewrite"
    assert sum(1 for k in _BM25_MEMO if k[1] == work) == 1, "stale entry not evicted"
    # The REBUILT entry's projection must still be cached: stale-entry
    # eviction must happen BEFORE the rebuild, because a rebuild whose
    # persist plan-dedupes onto the stale cached projection would be
    # uncached again by an evict-AFTER ordering — leaving every later
    # serve re-scanning the corpus twice (r8-continuation review
    # finding, reproduced empirically before the ordering was restored).
    proj = next(v for k, v in _BM25_MEMO.items() if k[1] == work)[1]
    assert proj.storageLevel.useDisk or proj.storageLevel.useMemory, (
        "rebuilt index projection is not cached — eviction ran after "
        "the rebuild and unpersisted the shared cache entry"
    )


def test_bm25_memo_skips_unverifiable_corpus(spark, monkeypatch):
    """When the documents path can't be statted, `_corpus_token` returns
    None; using None as a stable key would make every rebuild collide on
    one entry and defeat content-change detection (r8 fix of r7 advice).
    The memo must instead build fresh WITHOUT storing an entry."""
    from realtime_voting_data_engineering_spark import queries as Q
    from realtime_voting_data_engineering_spark import queries_pipeline as QP

    assert QP._corpus_token("/nonexistent/dir/for/sure") is None
    monkeypatch.setattr(QP, "_corpus_token", lambda sf_dir: None)
    sf_dir = "/root/testdata/sf0.001"
    fn = Q.REGISTRY["bm25_search_topk"].fn
    before = sum(1 for k in QP._BM25_MEMO if k[1] == sf_dir)
    out = fn(spark, sf_dir)
    assert out.count() > 0
    after = sum(1 for k in QP._BM25_MEMO if k[1] == sf_dir)
    assert after == 0, "unverifiable-token build must not be memoized"
    assert before in (0, 1)  # pre-existing entries for the path are evicted


def test_bm25_memo_serves_partitioned_directory_corpus(spark, tmp_path):
    """r8 verdict #4: ``_corpus_token`` stat'ed nested directories as
    files, so any PARTITIONED documents layout (``lang=*/part-*``) raised
    OSError and silently degraded every call to build-fresh-unmemoized —
    exactly the corpus shape a production path would have. The token must
    recurse: the memo serves on a partitioned table, stays stable across
    calls, and invalidates when the nested layout changes."""
    import os
    import shutil

    from realtime_voting_data_engineering_spark import queries as Q
    from realtime_voting_data_engineering_spark import queries_pipeline as QP

    src = "/root/testdata/sf0.001"
    work = str(tmp_path / "corpus")
    os.makedirs(work)
    for f in os.listdir(src):
        if f != "documents.parquet":
            shutil.copy(os.path.join(src, f), os.path.join(work, f))
    docs_path = os.path.join(work, "documents.parquet")
    spark.read.parquet(os.path.join(src, "documents.parquet")).write.partitionBy(
        "lang"
    ).parquet(docs_path)
    token = QP._corpus_token(work)
    assert token is not None, "partitioned layout must be tokenizable (r8 bug)"
    assert len(token) > 1, "recursive walk must see the nested part files"
    fn = Q.REGISTRY["bm25_search_topk"].fn
    r1 = {(r.doc_id, r.score) for r in fn(spark, work).collect()}
    assert r1
    assert sum(1 for k in QP._BM25_MEMO if k[1] == work) == 1, (
        "partitioned corpus not memoized — token walk failed"
    )
    fn(spark, work)  # token stable across calls → same single entry serves
    assert sum(1 for k in QP._BM25_MEMO if k[1] == work) == 1
    # In-place layout change (drop one partition) → new token → rebuild.
    lang_dir = next(
        d for d in sorted(os.listdir(docs_path)) if d.startswith("lang=")
    )
    shutil.rmtree(os.path.join(docs_path, lang_dir))
    r2 = {(r.doc_id, r.score) for r in fn(spark, work).collect()}
    assert r1 != r2, "memo served a stale index after a partition rewrite"
    assert sum(1 for k in QP._BM25_MEMO if k[1] == work) == 1


def _persisted_rdd_count(spark) -> int:
    return int(spark.sparkContext._jsc.sc().getPersistentRDDs().size())


def test_bm25_wrapper_does_not_persist(spark, sf_dir):
    """r8 advice: the ``bm25_topk`` convenience wrapper discarded the
    projection handle while still persisting it — any direct caller
    (audit tools, ad-hoc use) leaked a session-lifetime DISK_ONLY cache
    entry it could never unpersist. The wrapper now builds
    ``persist=False``: correct results, zero new CacheManager entries."""
    from realtime_voting_data_engineering_spark.operators import search as SE
    from realtime_voting_data_engineering_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    before = _persisted_rdd_count(spark)
    out = SE.bm25_topk(docs, ["spark", "merge"], k=5).collect()
    assert len(out) > 0
    assert _persisted_rdd_count(spark) == before, (
        "bm25_topk wrapper persisted an unowned projection (leak)"
    )


def test_bm25_unverifiable_path_is_fresh_each_call(spark, tmp_path, monkeypatch):
    """r8 advice: the unverifiable-token path persisted a SALT-LESS plan,
    so a later call's identical analyzed plan deduped onto the first
    build's live cache entry — the 'build fresh' path actually served the
    FIRST build's rows (stale across content rewrites) and leaked one
    projection per path. persist=False closes both: no cache entry is
    created and every call scores the current corpus contents."""
    import os
    import shutil

    import pyarrow.parquet as pq_

    from realtime_voting_data_engineering_spark import queries as Q
    from realtime_voting_data_engineering_spark import queries_pipeline as QP

    src = "/root/testdata/sf0.001"
    work = str(tmp_path / "corpus")
    os.makedirs(work)
    for f in os.listdir(src):
        shutil.copy(os.path.join(src, f), os.path.join(work, f))
    monkeypatch.setattr(QP, "_corpus_token", lambda sf_dir: None)
    fn = Q.REGISTRY["bm25_search_topk"].fn
    before = _persisted_rdd_count(spark)
    r1 = {(r.doc_id, r.score) for r in fn(spark, work).collect()}
    assert _persisted_rdd_count(spark) == before, (
        "unverifiable-token build created a cache entry it can't invalidate"
    )
    doc_file = os.path.join(work, "documents.parquet")
    t = pq_.read_table(doc_file)
    pq_.write_table(t.slice(0, len(t) // 2), doc_file)
    r2 = {(r.doc_id, r.score) for r in fn(spark, work).collect()}
    assert r1 != r2, (
        "unmemoized path served stale rows — plan-dedupe onto a live "
        "cache entry (the r8 salt-less persist bug)"
    )


def test_bm25_memo_eviction_tolerates_dead_sessions():
    """Cap eviction walks entries across ALL sessions; a projection
    whose owning session was stopped raises from unpersist(). The
    helpers must classify dead sessions and swallow the raise (r7
    advice) so an unrelated later bm25 call can't crash."""
    from realtime_voting_data_engineering_spark import queries_pipeline as QP

    class DeadCtx:
        _jsc = None

    class DeadSession:
        sparkContext = DeadCtx()

    class NoCtx:
        @property
        def sparkContext(self):
            raise RuntimeError("session stopped")

    class LiveCtx:
        _jsc = object()

    class LiveSession:
        sparkContext = LiveCtx()

    assert QP._session_stopped(DeadSession())
    assert QP._session_stopped(NoCtx())
    assert not QP._session_stopped(LiveSession())

    class RaisingProjection:
        def unpersist(self):
            raise RuntimeError("py4j: SparkContext was shut down")

    QP._safe_unpersist(RaisingProjection())  # must not raise


def test_asof_self_join_matches_two_table_asof(spark, sf_dir):
    """The fused single-source as-of (r15, ``asof_self_join``) must be
    row-identical to the general two-table ``asof_join`` over the same
    predicate slices — including NULL-time purchases (kept, NULL
    attach), NULL-time clicks (excluded), and the (user, ts) pre-reduce
    total order."""
    from pyspark.sql import Window

    from realtime_voting_data_engineering_spark.sources.tables import load_events

    events = load_events(spark, sf_dir).select(
        "event_id", "user_id", "ts", "value", "event_type"
    )

    # General form: explicit click pre-reduce, two frames, union+window.
    w_click = Window.partitionBy("user_id", "ts").orderBy(
        F.col("event_id").desc(), F.col("value").desc_nulls_last()
    )
    clicks = (
        events.filter(F.col("event_type") == "click")
        .withColumn("__rn", F.row_number().over(w_click))
        .filter(F.col("__rn") == 1)
        .select(
            "user_id",
            "ts",
            F.col("event_id").alias("last_click_id"),
            F.col("value").alias("last_click_value"),
        )
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    general = R.asof_join(
        purchases,
        clicks,
        left_on="user_id",
        right_on="user_id",
        left_time="ts",
        right_time="ts",
        value_cols=["last_click_id", "last_click_value"],
    ).select("event_id", "user_id", "ts", "last_click_id", "last_click_value", "__asof_time")

    fused = R.asof_self_join(
        events,
        on="user_id",
        time_col="ts",
        left_pred=F.col("event_type") == "purchase",
        right_pred=F.col("event_type") == "click",
        attach={
            "last_click_id": F.col("event_id"),
            "last_click_value": F.col("value"),
        },
        right_tiebreak=[F.col("event_id").desc(), F.col("value").desc_nulls_last()],
    ).select("event_id", "user_id", "ts", "last_click_id", "last_click_value", "__asof_time")

    g = sorted(map(tuple, general.collect()))
    f = sorted(map(tuple, fused.collect()))
    assert len(g) > 0 and g == f


def test_asof_self_join_guards_and_overlap_semantics(spark):
    """r16 (ADVICE r15): (1) reserved temp/output names in the source
    frame are refused at PLAN time (a silent collision would corrupt the
    side filter or emit a duplicate-name output); (2) the documented
    overlap contract is pinned — a row matching BOTH predicates takes
    the RIGHT side (when-chain precedence) and is therefore absent from
    the left output, so callers must pass disjoint predicates."""
    import pytest

    rows = [
        (1, "u1", 10.0, "click"),
        (2, "u1", 20.0, "both"),   # matches both predicates below
        (3, "u1", 30.0, "purchase"),
    ]
    src = spark.createDataFrame(rows, "event_id long, user_id string, ts double, event_type string")

    # (1) reserved-name collision: loud plan-time refusal — including a
    # case-variant source column (Spark resolves case-insensitively by
    # default, so '__SIDE' would be silently replaced) and an attach
    # alias that duplicates a reserved name, a source column or another
    # alias.
    with pytest.raises(ValueError, match="__asof_time"):
        R.asof_self_join(
            src.withColumn("__asof_time", F.lit(1)),
            on="user_id",
            time_col="ts",
            left_pred=F.col("event_type") == "purchase",
            right_pred=F.col("event_type") == "click",
            attach={"click_id": F.col("event_id")},
        )
    with pytest.raises(ValueError, match="__side"):
        R.asof_self_join(
            src.withColumn("__SIDE", F.lit(1)),
            on="user_id",
            time_col="ts",
            left_pred=F.col("event_type") == "purchase",
            right_pred=F.col("event_type") == "click",
            attach={"click_id": F.col("event_id")},
        )
    for bad in ("__asof_time", "event_id", "EVENT_ID"):
        with pytest.raises(ValueError, match="attach alias"):
            R.asof_self_join(
                src,
                on="user_id",
                time_col="ts",
                left_pred=F.col("event_type") == "purchase",
                right_pred=F.col("event_type") == "click",
                attach={bad: F.col("event_id")},
            )
    # Two aliases equal up to case duplicate each other's output name.
    with pytest.raises(ValueError, match="attach alias"):
        R.asof_self_join(
            src,
            on="user_id",
            time_col="ts",
            left_pred=F.col("event_type") == "purchase",
            right_pred=F.col("event_type") == "click",
            attach={"Id": F.col("event_id"), "id": F.col("ts")},
        )

    # (2) overlap: event 2 satisfies both predicates -> treated as a
    # RIGHT row only. It must not appear as a left output row, and the
    # later purchase must attach it (it is the latest right row <= 30).
    out = R.asof_self_join(
        src,
        on="user_id",
        time_col="ts",
        left_pred=F.col("event_type").isin("purchase", "both"),
        right_pred=F.col("event_type").isin("click", "both"),
        attach={"click_id": F.col("event_id")},
    ).select("event_id", "click_id").collect()
    got = {r["event_id"]: r["click_id"] for r in out}
    assert got == {3: 2}, got
