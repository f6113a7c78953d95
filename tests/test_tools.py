"""Smoke coverage for the diagnostic tooling (tools/scale_probe.py):
the probe must keep running end to end as operators evolve — it is the
repo's measured-scaling evidence (SCALE.md "Round-6 measured scaling")."""

from __future__ import annotations

import json
import pathlib
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

from tools import audit_corpus, audit_env, scale_probe
from tools import run_audits as RA

SF_AUDIT = RA.SF_DIR


def _corpus_audit(spark, audit, workdir, only):
    """``audit``'s corpus sweep over ``only``; asserts every query ran and
    matched."""
    report = RA.Run(workdir=str(workdir), only=only).corpus_sweep(spark, audit)
    assert set(report) == set(only)
    bad = {n: r for n, r in report.items() if r["status"] != "match"}
    assert not bad, f"{audit.name}-audit regressions: {bad}"


def _run_audits(*argv, timeout):
    """``tools/run_audits.py`` in a subprocess; returns its exit code, the
    per-class JSON results it printed, and its stderr."""
    import subprocess

    r = subprocess.run(
        [sys.executable, str(pathlib.Path(RA.__file__)), *argv],
        capture_output=True, text=True, timeout=timeout,
    )
    return r.returncode, [json.loads(ln) for ln in r.stdout.splitlines()], r.stderr


def test_probe_runs_and_reports_all_ops(spark, sf_smoke):
    results = scale_probe.probe(sf_smoke, factors=[1, 2])
    ops = {r["op"] for r in results}
    assert {
        "q1_shape_agg",
        "q18_shape_semijoin",
        "minhash_pairs_lin",
        "cc_lin",
        "minhash_pairs_dupfarm",
        "cc_dupfarm",
    } <= ops
    # Replication grows the verified-pair universe roughly linearly in
    # the lin regime. NOT exact 2×: k=1 uses unsuffixed text while k≥2
    # suffixes every replica's tokens, so the two sides hash different
    # shingle universes and band collisions can differ incidentally
    # (r6 ADVICE #3) — pin the structural claim (no shrink, no blowup),
    # not the incidental equality.
    by = {(r["op"], r["k"]): r for r in results}
    r1 = by[("minhash_pairs_lin", 1)]["rows"]
    r2 = by[("minhash_pairs_lin", 2)]["rows"]
    assert r1 <= r2 <= 3 * max(r1, 1), (r1, r2)
    assert all(r["sec"] >= 0 for r in results)


def test_emb_probe_runs_and_reports_all_ops(spark, sf_smoke):
    """Embedding-family analogue (VERDICT r6 #7 measured-scaling
    standard): the probe must keep running, and the two regimes must
    stay structurally distinguishable — a dup farm's verbatim copies
    carry identical SRP signatures, so every exact-dup pair survives
    banding AND cosine-verifies at 1.0, while decorrelated (circularly
    shifted) replicas near-dup only incidentally."""
    results = scale_probe.probe_emb(sf_smoke, factors=[1, 2])
    ops = {r["op"] for r in results}
    assert {
        "srp_cands_lin",
        "srp_verify_lin",
        "srp_cands_dupfarm",
        "srp_verify_dupfarm",
        "uniq_boundary",
        "ivf_topk",
        "pq_encode",
        "knn_quantized",
    } <= ops
    by = {(r["op"], r["k"]): r for r in results}
    n_base = by[("pq_encode", 1)]["rows"]  # valid base vectors
    # k=2 dup farm: each base vector gains one verbatim copy → ≥ n_base
    # verified pairs (margin for zero-norm vectors, whose self-cosine
    # is NULL by the 0/0 contract and drops out of verify).
    assert by[("srp_verify_dupfarm", 2)]["rows"] >= 0.9 * n_base
    # lin regime: decorrelated replicas — near-dups stay a small
    # incidental set, nowhere near one-per-vector.
    assert by[("srp_verify_lin", 2)]["rows"] < 0.5 * n_base
    # PQ encode emits exactly one code row per valid vector.
    assert by[("pq_encode", 2)]["rows"] == 2 * n_base
    # The id-uniqueness boundary passes every distinct-id row through.
    assert by[("uniq_boundary", 2)]["rows"] == 2 * n_base
    # Fixed query set: top-k row count is |Q|·k, corpus-size-invariant.
    assert by[("ivf_topk", 1)]["rows"] == by[("ivf_topk", 2)]["rows"]
    assert all(r["sec"] >= 0 for r in results)


def test_null_audit_fixed_queries_stay_fixed(spark, tmp_path):
    """The r6 NULL-injection audit (run_audits.py --classes null) found seven
    operator/oracle divergences on NULL-poisoned data; all were fixed
    (as-of NULL key/time guards, explicit window NULL placement, json
    validity guard, funnel NULL-user filter, NULL-metadata frame plans,
    derived-vs-denormalized n_chars). Re-run exactly those seven on the
    poisoned corpus so the semantics can't regress silently — the clean
    corpus never exercises them."""
    fixed = [
        "activation_funnel",
        "asof_last_click",
        "event_window_suite",
        "media_frame_sample_plan",
        "parse_vote_payload",
        "quality_score_buckets",
        "running_revenue_per_customer",
    ]
    _corpus_audit(spark, audit_corpus.Null(), tmp_path, fixed)


def test_float_audit_fixed_queries_stay_fixed(spark, tmp_path):
    """The r7 non-finite-float audit (run_audits.py --classes float) found ten
    divergences in four classes: DuckDB hard-errors casting NaN to
    DECIMAL (decimal-sum oracles over events.value), interpolated
    percentiles disagree over NaN/Inf-bearing runs, Spark's ANSI
    tinyint cast kills the quantizer on a NaN component, and SRP
    banding splits on NaN signatures. All fixed (isfinite folds in the
    decimal/percentile contracts; finiteness joined the vector-validity
    boundary). Re-run the affected families on the poisoned corpus so
    the float semantics can't silently regress — the clean corpus never
    exercises them."""
    fixed = [
        "votes_per_candidate",
        "hourly_vote_counts",
        "salted_event_totals",
        "event_rollup_multires",
        "purchases_after_error",
        "value_quartiles_by_type",
        "approx_value_quartiles_check",
        "embedding_quantization",
        "knn_quantized",
        "knn_ann_srp",
        "embedding_near_dup_srp",
        "knn_cosine_topk",
    ]
    _corpus_audit(spark, audit_corpus.Float(), tmp_path, fixed)


def test_order_invariance_of_tie_sensitive_queries(spark, tmp_path):
    """Row-order + scan-parallelism invariance (r7, the order audit
    class): Spark on an md5-permuted corpus split into 4
    part files per table (a genuinely parallel multi-file scan — the
    driver corpus is single-file, so every other green row came from a
    SERIAL scan) must hash-equal the DuckDB oracle on the CLEAN
    single-file corpus — results are a function of the row SET, not the
    sequence or the file/task assignment. The full 98-query audit
    passed 98/98 at split=8; this pins the most tie-sensitive subset
    (window/top-k/argmax/pagination family) so a future non-total
    ordering can't slip back in."""
    pinned = [
        "leading_candidate",
        "latest_vote_per_user",
        "voter_pagination",
        "top_orders_per_priority",
        "event_window_suite",
        "asof_last_click",
        "cdc_latest_state",
        "canonical_docs_per_cluster",
        "per_group_doc_sample",
        "knn_cosine_topk",
        "winnow_overlap_topk",
    ]
    _corpus_audit(spark, audit_corpus.Order(split=4), tmp_path, pinned)


def test_every_query_survives_an_empty_corpus(spark, tmp_path_factory):
    """Empty feeds happen (a new partition, a filtered-out day, a fresh
    deployment): every registered query must plan and execute on 0-row
    tables instead of crashing. The r6 sweep found two driver-side
    crashes (bm25's NULL global stats, the quantized-kNN empty query
    matrix) — both fixed; this keeps the whole registry covered."""
    import os

    import pyarrow.parquet as pq

    from realtime_voting_data_engineering_spark import queries as Q

    src = "/root/testdata/sf0.001"
    out = str(tmp_path_factory.mktemp("empty_sf"))
    for fname in os.listdir(src):
        if fname.endswith(".parquet"):
            t = pq.read_table(os.path.join(src, fname))
            pq.write_table(t.slice(0, 0), os.path.join(out, fname))

    failures = {}
    for name, spec in Q.REGISTRY.items():
        try:
            spec.fn(spark, out).count()
        except Exception as exc:  # noqa: BLE001 — collecting, not masking
            failures[name] = f"{type(exc).__name__}: {exc}"
    assert not failures, f"queries crashing on an empty corpus: {failures}"


UNICODE_DOCS = [
    "The QUICK brown fox.",
    "İstanbul DİYARBAKIR ıssız İİİ lower test",   # dotted/dotless I
    "naïve café résumé Über STRASSE ß",
    "日本語のテキスト 中文文本 한국어 텍스트 the of and",
    "emoji 🎉🔥 mix 💯 the end",
    "combining é acute vs precomposed é equal?",
    "ΣΊΣΥΦΟΣ greek sigma ς σ",                    # final-sigma casing
    "𝔘𝔫𝔦𝔠𝔬𝔡𝔢 math bold 𝐀𝐁𝐂",
    ".,;:!? only punct !!!",
]


def test_text_family_agrees_on_unicode_corpus(spark, tmp_path_factory):
    """Unicode case mapping is ENGINE-DEPENDENT: Spark (Java) lowers İ to
    i+combining-dot and applies Greek final-sigma context, DuckDB
    (utf8proc) gives i and per-char σ — measured on this container. The
    r6 fix folds only ASCII case in the fingerprint normalization
    (text.normalized_text uses translate, not lower), which both engines
    compute bit-identically. This test appends case-adversarial docs to
    the corpus and re-checks every fingerprint-consuming oracle."""
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from realtime_voting_data_engineering_spark import queries as Q
    from tests.oracle_harness import compare_query

    src = "/root/testdata/sf0.001"
    out = str(tmp_path_factory.mktemp("unicode_sf"))
    tbl = pq.read_table(os.path.join(src, "documents.parquet"))
    n = len(UNICODE_DOCS)
    extra = pa.table(
        {
            "doc_id": pa.array(range(1_000_000, 1_000_000 + n), pa.int64()),
            "text": pa.array(UNICODE_DOCS, tbl.schema.field("text").type),
            "lang": pa.array(["xx"] * n, tbl.schema.field("lang").type),
            "source": pa.array(["unicode"] * n, tbl.schema.field("source").type),
            "n_chars": pa.array([len(t) for t in UNICODE_DOCS], pa.int64()),
        }
    )
    pq.write_table(
        pa.concat_tables([tbl.select(extra.column_names), extra]),
        os.path.join(out, "documents.parquet"),
    )
    for fname in os.listdir(src):
        if fname.endswith(".parquet") and fname != "documents.parquet":
            shutil.copy(os.path.join(src, fname), os.path.join(out, fname))

    for name in [
        "text_profile",
        "doc_fingerprint_clusters",
        "incremental_new_docs",
        "winnow_overlap_topk",
        "corpus_curation_pipeline",
        "minhash_lsh_dedup",
        "language_histogram",
    ]:
        spec = Q.REGISTRY[name]
        compare_query(spark, name, spec.fn, spec.oracle, out)


def test_tie_breaks_survive_duplicate_rows(spark, tmp_path_factory):
    """Duplicate-row audit (r6): append copies of ~5% of rows that keep
    every KEY and ORDERING column identical but perturb one payload
    column — any window/top-k/argmax whose declared order is not total
    tie-breaks nondeterministically and the two engines pick different
    rows. First run found four: the shingle and winnowing inverted
    indexes counted duplicated doc_id rows double (Jaccard > 1.0), and
    asof_last_click's max_by(value, event_id) pre-reduce was undefined
    for duplicated event_ids. All fixed (set-semantics indexes, a
    total-order pre-reduce); this re-checks those queries plus the
    tie-sensitive window family."""
    import hashlib
    import os

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from realtime_voting_data_engineering_spark import queries as Q
    from tests.oracle_harness import compare_query

    src = "/root/testdata/sf0.001"
    out = str(tmp_path_factory.mktemp("ties_sf"))
    perturb = {
        "events": ("value", 1000.0),
        "orders": ("o_totalprice", 5000.0),
        "lineitem": ("l_extendedprice", 7000.0),
        "documents": (None, None),
    }
    for fname in os.listdir(src):
        if not fname.endswith(".parquet"):
            continue
        tname = fname[: -len(".parquet")]
        tbl = pq.read_table(os.path.join(src, fname))
        if tname in perturb:
            n = len(tbl)
            idx = [
                i for i in range(n)
                if hashlib.md5(f"{tname}|{i}".encode()).digest()[0] < 13
            ]
            dup = tbl.take(pa.array(idx, pa.int64()))
            col, delta = perturb[tname]
            if col is not None and len(dup):
                j = dup.schema.get_field_index(col)
                dup = dup.set_column(
                    j, dup.schema.field(j), pc.add(dup.column(j), delta)
                )
            tbl = pa.concat_tables([tbl, dup])
        pq.write_table(tbl, os.path.join(out, fname))

    for name in [
        "asof_last_click",
        "minhash_lsh_dedup",
        "ngram_near_dup_pairs",
        "winnow_overlap_topk",
        "near_dup_clusters",
        "cdc_latest_state",
        "latest_vote_per_user",
        "running_revenue_per_customer",
        "top_orders_per_priority",
        "event_window_suite",
    ]:
        spec = Q.REGISTRY[name]
        compare_query(spark, name, spec.fn, spec.oracle, out)


def test_similarity_family_survives_duplicate_embeddings(spark, tmp_path_factory):
    """Duplicate-row audit, embedding side (VERDICT r6 #7): the text
    audit above perturbs payloads under duplicated keys; the embedding
    analogue is duplicated VECTORS under fresh ids — identical vectors
    land in the same SRP band, IVF cell, and PQ bucket as their
    original, and every pairwise score they produce is an EXACT tie, so
    any candidate generator that double-counts band collisions or any
    top-k whose ordering isn't total past the score column diverges
    between the engines here. ~5% of embeddings are cloned with
    vec_id + 1_000_000, and four RAGGED rows are appended — both
    engines must exclude them identically (the Spark dims gate vs
    ORACLE_VALID_VEC_DIMS, r7 review finding). Every embedding-family
    oracle must still hash-match DuckDB on the widened corpus."""
    import hashlib
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from realtime_voting_data_engineering_spark import queries as Q
    from tests.oracle_harness import compare_query

    src = "/root/testdata/sf0.001"
    out = str(tmp_path_factory.mktemp("dup_emb_sf"))
    for fname in os.listdir(src):
        if not fname.endswith(".parquet"):
            continue
        if fname != "embeddings.parquet":
            shutil.copy(os.path.join(src, fname), os.path.join(out, fname))
            continue
        tbl = pq.read_table(os.path.join(src, fname))
        idx = [
            i for i in range(len(tbl))
            if hashlib.md5(f"emb|{i}".encode()).digest()[0] < 13
        ]
        dup = tbl.take(pa.array(idx, pa.int64()))
        j = dup.schema.get_field_index("vec_id")
        dup = dup.set_column(
            j, dup.schema.field(j), pc.add(dup.column(j), 1_000_000)
        )
        # Four RAGGED rows: wrong-length vectors of all-finite floats.
        # The dims gate (valid_vectors(dims=64) / ORACLE_VALID_VEC_DIMS)
        # is the ONLY thing excluding them — without it Spark's
        # NULL-padding zip_with and DuckDB's NULL-skipping list_sum
        # score them differently and the hashes diverge.
        ragged = pa.table(
            {
                "vec_id": pa.array(
                    [2_000_001, 2_000_002, 2_000_003, 2_000_004],
                    pa.int64(),
                ),
                "embedding": pa.array(
                    [
                        [0.5] * 63,
                        [0.5] * 65,
                        [0.9, -0.9, 0.9],
                        [0.1] * 128,
                    ],
                    pa.list_(pa.float32()),
                ),
                "label": pa.array([0, 1, 0, 1], pa.int32()),
            }
        )
        combined = pa.concat_tables(
            [tbl, dup, ragged.cast(tbl.schema)], promote_options="none"
        )
        pq.write_table(combined, os.path.join(out, fname))

    for name in [
        "knn_cosine_topk",
        "knn_ann_srp",
        "knn_ivf_fixed",
        "knn_pq_adc",
        "knn_quantized",
        "embedding_near_dup_pairs",
        "embedding_near_dup_srp",
        "embedding_quantization",
        "embedding_pq_codes",
    ]:
        spec = Q.REGISTRY[name]
        compare_query(spark, name, spec.fn, spec.oracle, out)


def test_extreme_audit_fixed_queries_stay_fixed(spark, tmp_path):
    """The r7 extreme-value audit (run_audits.py --classes extreme) found four
    divergence classes on in-range-but-extreme values: (1) mod-sign —
    Spark pmod is non-negative, SQL % keeps the dividend sign, so
    negative extreme ids minted divergent buckets (pivot/cube/
    assignment oracles now mirror pmod); (2) unbounded event time — a
    year-38503 ts exploded the data-derived gap-fill grid (JVM death),
    crossed the Arrow→Python driver range (year>9999 ValueError), and
    hit the pre-Gregorian calendar divergence; all events.ts consumers
    now fold through the validity window (valid_event_ts + the ev CTE);
    (3) finite-but-out-of-decimal-domain values (1e308) killed the ANSI
    decimal cast — dec() and the value oracles are try_cast now;
    (4) colliding extreme ids turned per-id argmins into cross-row
    chimeras (PQ/IVF/SRP) and slipped negative ids under the knn
    query-set bound — the id-uniqueness boundary (unique_by_id + uniq
    CTEs) and the BETWEEN 0 AND 9 window close both. Re-run the worst
    representative of each class on the poisoned corpus so none can
    regress silently — the clean corpus never exercises them."""
    fixed = [
        # mod-sign
        "assigned_candidate_counts",
        "event_counts_pivot",
        "event_type_cube",
        # event-time window (incl. the JVM-killing grid)
        "hourly_gap_filled",
        "event_rollup_multires",
        "cdc_latest_state",
        "daily_activity_reconciliation",
        "user_sessions",
        "asof_last_click",
        "weekly_retention_cohorts",
        # decimal domain
        "votes_per_candidate",
        # id collisions / knn query window
        "embedding_pq_codes",
        "knn_ivf_fixed",
        "knn_ann_srp",
        "knn_cosine_topk",
    ]
    _corpus_audit(spark, audit_corpus.Extreme(), tmp_path, fixed)


def test_funnel_counts_users_whose_only_signups_are_garbage_time(
    spark, tmp_path_factory
):
    """r7 review finding (reproduced): a user whose ONLY stage-1 events
    carry out-of-window (NULL-folded) timestamps must NOT count as
    reaching 'signup' — Spark's count(t1) skips the NULL min, and the
    oracle's s1 CTE now guards ts IS NOT NULL to match. The generic
    audits missed it because no sampled user had ALL signups poisoned;
    this corpus manufactures exactly that user."""
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from realtime_voting_data_engineering_spark import queries as Q
    from tests.oracle_harness import compare_query

    src = "/root/testdata/sf0.001"
    out = str(tmp_path_factory.mktemp("garbage_signup_sf"))
    for fname in os.listdir(src):
        if not fname.endswith(".parquet"):
            continue
        if fname != "events.parquet":
            shutil.copy(os.path.join(src, fname), os.path.join(out, fname))
            continue
        tbl = pq.read_table(os.path.join(src, fname))
        # One fresh user whose ONLY signup sits far out of the validity
        # window (year 2150), plus an in-window view so the user exists
        # in later stages' scans.
        unit = tbl.schema.field("ts").type.unit
        mult = {"s": 1, "ms": 10**3, "us": 10**6, "ns": 10**9}[unit]
        extra = pa.table(
            {
                "event_id": pa.array([9_000_001, 9_000_002], pa.int64()),
                "ts": pa.array(
                    [5_680_000_000 * mult, 1_700_000_000 * mult], pa.int64()
                ).cast(tbl.schema.field("ts").type),
                "user_id": pa.array([777_777, 777_777], pa.int64()),
                "event_type": pa.array(["signup", "view"], pa.string()),
                "value": pa.array([1.0, 2.0], pa.float64()),
                "props": pa.array(["{}", "{}"], pa.string()),
            }
        ).cast(tbl.schema)
        pq.write_table(pa.concat_tables([tbl, extra]), os.path.join(out, fname))

    spec = Q.REGISTRY["activation_funnel"]
    compare_query(spark, "activation_funnel", spec.fn, spec.oracle, out)


def test_fuzz_audit_poison_is_a_row_set_preserving_pair(tmp_path):
    """The fuzz audit's corpus pair must be a TRUE invariance fixture:
    the Spark side (permuted + split) and the oracle side (single file)
    must contain the SAME row multiset, and the seed must actually
    inject the two classes this audit owns registry-wide — duplicate
    rows (hot-key skew included) and mutated cells. A silently-broken
    generator would green-light every query on effectively-clean data
    (the meta-testing rule the r7 harness review established)."""
    import os

    import pyarrow.parquet as pq

    spark_dir, oracle_dir = audit_corpus.Fuzz(7).prepare(SF_AUDIT, str(tmp_path))
    for fname in sorted(os.listdir(oracle_dir)):
        otbl = pq.read_table(os.path.join(oracle_dir, fname))
        spath = os.path.join(spark_dir, fname)
        stbl = (
            pq.read_table(spath)  # handles both file and part-dir layouts
        )
        assert len(otbl) == len(stbl), fname
        # Row-multiset equality via sorted canonical tuples. Timestamps
        # go through int64: the injected extremes (year ~38503) overflow
        # Python datetime in to_pylist.
        def canon(tbl):
            import pyarrow as pa

            cols = []
            for i in range(tbl.num_columns):
                col = tbl.column(i)
                if pa.types.is_timestamp(col.type):
                    col = col.cast(pa.int64())
                cols.append(col.to_pylist())
            return sorted(
                tuple(str(c[r]) for c in cols) for r in range(len(tbl))
            )

        assert canon(otbl) == canon(stbl), f"{fname}: row sets differ"

    ev = pq.read_table(os.path.join(oracle_dir, "events.parquet"))
    base = pq.read_table("/root/testdata/sf0.001/events.parquet")
    assert len(ev) > len(base), "duplicate-row injection produced nothing"
    assert ev.column("value").null_count > 0, "no NULLs injected"
    # Hot-key skew: some event_id must appear far more often than the
    # duplication multiplier alone (20-60x hot replication).
    import collections

    counts = collections.Counter(ev.column("event_id").to_pylist())
    assert counts.most_common(1)[0][1] >= 20, "hot-key skew missing"


def test_fuzz_audit_representative_queries_match_on_seeded_corpus(spark, tmp_path):
    """One seed, one representative query per family the fuzz audit's
    new adversary classes (verbatim duplicate rows at registry scope,
    text-content mutation) stress hardest: exact-dedup totality,
    fingerprint set-semantics, pagination under duplicated identical
    rows, grouped aggregates under hot-key skew, and a vector family
    under duplicated + ragged embeddings."""
    names = [
        "dedup_votes_exact",
        "doc_fingerprint_clusters",
        "voter_pagination",
        "votes_per_candidate",
        "knn_cosine_topk",
    ]
    _corpus_audit(spark, audit_corpus.Fuzz(11), tmp_path, names)


def test_split_audit_layout_is_degenerate_and_lossless(tmp_path):
    """The split audit's poisoner must actually produce the degenerate
    layout it documents (empty parts, a 1-row part, micro row groups)
    while preserving the exact row set — a silently single-part or
    row-dropping rewriter would reduce the audit to a plain re-run.
    ``prepare`` runs the class's sanity check on the layout it wrote."""
    out, oracle = audit_corpus.Split().prepare(SF_AUDIT, str(tmp_path))
    assert oracle == SF_AUDIT, "the oracle must read the original file"


def test_split_audit_representative_queries_match_on_degenerate_layout(spark, tmp_path):
    """One representative per execution shape the degenerate layout
    stresses hardest: a mapInPandas kernel path (knn_pq_adc), a
    stateful-iteration path (near_dup_clusters — now driver union-find
    over pairs from multi-part scans), a multi-join TPC-H query, a
    single-pass grouped aggregate, and the persisted-index search path
    whose memo keys on directory listings (bm25_search_topk)."""
    names = [
        "knn_pq_adc",
        "near_dup_clusters",
        "q5_revenue_by_nation",
        "votes_per_candidate",
        "bm25_search_topk",
    ]
    _corpus_audit(spark, audit_corpus.Split(), tmp_path, names)


def test_concurrency_memo_eviction_race_is_clean(spark, tmp_path):
    """Mini leg B2 of the concurrency audit class: 8 threads hammer the
    BM25 memo while a mutator thread rewrites the corpus mtime, so
    token churn forces evict+rebuild storms mid-flight. The pre-r8
    UNLOCKED memo reproducibly KeyError'd here (two threads both
    list-then-pop the same stale key); with _BM25_LOCK the storm must
    stay exception-free and every result hash-identical."""
    report: dict = {}
    audit_env.Concurrency.leg_b2(spark, SF_AUDIT, str(tmp_path), report)
    assert report["bm25_memo_eviction_race"]["status"] == "match", report


def test_concurrency_mixed_corpus_sql_views_no_cross_talk(spark):
    """Mini leg C: the SQL-API query alternates two corpora across 8
    concurrent threads on ONE session; every result must hash-match its
    OWN corpus's sequential reference. Pre-r8 an unlocked register-views
    then ``spark.sql`` window reproducibly served the OTHER corpus's
    tables (cross-talk through session-global view names); binding the
    table as a DataFrame argument leaves no shared name to race on."""
    report: dict = {}
    audit_env.Concurrency.leg_c(spark, SF_AUDIT, audit_env.Concurrency.sf_dir_b, report)
    assert report["sql_view_mixed_corpus"]["status"] == "match", report


def test_retry_audit_representative_queries_survive_task_failures():
    """Subset of the retry audit class (ninth adversary class): every
    scan task's FIRST attempt fails and is retried (local[8,4] +
    fail-once identity stage on load_table), and the oracle compares
    must still hash clean — recomputation determinism. Own process
    because the master string (task maxFailures) is launch-fixed; one
    representative per execution shape: TPC-H agg, as-of join,
    persisted-index BM25, mapInPandas PQ kernel, driver-union-find
    CC."""
    rc, results, err = _run_audits(
        "--classes", "retry", "--only",
        "q1_pricing_summary,asof_last_click,bm25_search_topk,"
        "knn_pq_adc,near_dup_clusters",
        timeout=600,
    )
    assert rc == 0, (results, err[-1500:])
    (res,) = results
    assert res["pass"] and res["audited"] == 5 and res["flagged"] == 0, res
    assert res["details"]["injected_failures"] > 0, res


def test_retry_audit_flags_a_query_that_bypasses_the_patched_load_table(
    spark, sf_smoke
):
    """The retry class's per-query anti-vacuity: a query whose job group
    shows no failed task attempt ran un-injected and must come out
    ``uninjected``, never ``match``. The stub reads parquet directly,
    bypassing the patched ``load_table``, so no task of it fails."""
    import os

    group = "audit:retry:stub"
    spark.sparkContext.setJobGroup(group, group)
    spark.read.parquet(os.path.join(sf_smoke, "region.parquet")).collect()
    entry = {"status": "match"}
    assert audit_env.retry_verdict(spark, group, entry) == 0
    assert entry["status"] == "uninjected", entry

    # Control: a stage that does fail its first attempt keeps the match.
    spark.sparkContext.setJobGroup("audit:retry:control", "control")
    try:
        audit_env.with_fail_once(spark.range(4)).collect()
    except Exception:  # noqa: BLE001 — local[N] has maxFailures=1: the job dies
        pass
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    entry = {"status": "match"}
    assert audit_env.retry_verdict(spark, "audit:retry:control", entry) > 0
    assert entry == {"status": "match"}


def test_spill_audit_representative_queries_survive_memory_pressure():
    """Subset of the spill audit class (tenth adversary class): heavy
    queries on a replicated corpus under a capped heap with the managed
    (spillable) pool squeezed must still match their oracles, and the
    run must actually spill (the class's anti-vacuity gate, read from
    the status store). Own process because the JVM heap is launch-fixed.
    The CERTIFIED config (16x / 900m / fraction 0.15) on a 5-query
    subset for test speed — smaller heaps sit too close to the
    unmanaged-allocation OOM edge the 16x/500m probe mapped (q18's AQE
    broadcast needs the headroom)."""
    rc, results, err = _run_audits(
        "--classes", "spill", "--only",
        "q1_pricing_summary,top_orders_per_priority,asof_last_click,"
        "minhash_lsh_dedup,text_profile",
        timeout=900,
    )
    assert rc == 0, (results, err[-1500:])
    (res,) = results
    assert res["pass"] and res["audited"] == 5 and res["flagged"] == 0, res
    assert res["details"]["disk_bytes_spilled"] > 0, res


def test_locale_audit_string_queries_match_under_turkish_jvm(tmp_path):
    """Subset of the locale audit class (eleventh adversary class): the
    string-processing queries must stay oracle-exact on a JVM whose
    default locale is tr_TR — the dotless-i locale that corrupts any
    case fold or collation consulting the default locale. The leg's own
    sanity gates run inside its process: JVM locale really tr_TR,
    default-vs-ROOT collators really disagree (the adversary has
    teeth), Spark ORDER BY stays binary."""
    names = [
        "text_profile",
        "doc_fingerprint_clusters",
        "bm25_search_topk",
        "top_words",
        "vote_share",
    ]
    rc, leg = RA.launch("locale", 0, RA.Run(workdir=str(tmp_path), only=names))
    assert rc == 0
    assert leg["env"]["jvm_locale"] == "tr_TR", leg["env"]
    assert set(leg["queries"]) == set(names)
    bad = {k: v for k, v in leg["queries"].items() if v["status"] != "match"}
    assert not bad, bad


def test_run_audits_pass_rule_reads_result_fields():
    """The runner classifies a class PASS only when its worker exited 0
    AND its structured result reports 0 flagged with every reported
    count non-zero. The inputs are the nine shapes the old stdout parser
    was pinned on: a class that flags but exits 0, or crashes before any
    result, must read as FAIL, never vacuously pass."""

    def res(audited, flagged, cross_checked=None, **details):
        return {"class": "x", "audited": audited, "cross_checked": cross_checked,
                "matched": audited - flagged, "flagged": flagged,
                "seconds": 1.0, "details": {"flags": {}, **details}}

    cases = {
        # (result, worker exit code, expected pass)
        "green": (res(6, 0), 0, True),
        # flags but exits 0 — the per-query classes' shape
        "flagged_exit0": (res(6, 1), 0, False),
        # exits 1 despite a clean-looking result
        "exit1": (res(1, 0), 1, False),
        # crashed before writing any result — must not vacuously pass
        "no_result": (None, 0, False),
        # fuzz shape: per-seed counts in details, the top-level total is
        # what the rule reads
        "fuzz_total": (res(196, 0, flagged_per_seed={1: 0, 2: 0}), 0, True),
        "fuzz_one_seed_flagged": (res(196, 1, flagged_per_seed={1: 1, 2: 0}), 0, False),
        # zero audited — a renamed query or emptily-intersecting --only
        # must not certify green vacuously (r9 review finding)
        "zero_audited": (res(0, 0), 0, False),
        # concurrency counts checks, not registry queries
        "checks_shape": (res(4, 0), 0, True),
        # tz/locale shape: a SECOND count (the cross-check leg) that can
        # go vacuous on its own while the first stays non-zero — every
        # reported count must be > 0 (r9 review finding #2)
        "tz_shape": (res(98, 0, cross_checked=16), 0, True),
        "tz_vacuous_crosscheck": (res(98, 0, cross_checked=0), 0, False),
    }
    for name, (result, rc, expected) in cases.items():
        assert RA.passed(result, rc) is expected, name


def test_cross_leg_invariance_flags_drift_and_missing_hashes():
    """The tz/locale cross-leg check: equal hashes pass; drift, a hash
    missing on either leg, an errored hash (even when both legs errored
    alike) and a query missing from leg B all flag."""
    run = RA.Run(workdir="/nonexistent", only=["q1_pricing_summary", "user_sessions",
                                               "order_date_parts", "activation_funnel",
                                               "asof_last_click"])
    a = {
        "q1_pricing_summary": {"status": "match", "spark_hash": "h1"},
        "user_sessions": {"status": "match", "spark_hash": "h2"},
        "order_date_parts": {"status": "match"},
        "activation_funnel": {"status": "match", "spark_hash": "error:X"},
        "asof_last_click": {"status": "match", "spark_hash": "h5"},
    }
    b = {
        "q1_pricing_summary": {"status": "match", "spark_hash": "h1"},
        "user_sessions": {"status": "match", "spark_hash": "DRIFT"},
        "order_date_parts": {"status": "match", "spark_hash": "h3"},
        "activation_funnel": {"status": "match", "spark_hash": "error:X"},
    }
    legs = [{"env": {}, "queries": a}, {"env": {}, "queries": b}]
    result = RA.invariance(audit_env.Tz(), legs, run)
    assert result["audited"] == 5 and result["cross_checked"] == 5
    assert set(result["details"]["flags"]) == {
        "user_sessions", "order_date_parts", "activation_funnel", "asof_last_click",
    }, result
    assert not RA.passed(result, 0)


def test_corpus_prepare_gives_each_run_its_own_dir(tmp_path):
    """Two preparations of one class in one process get distinct dirs,
    and the first stays readable after the second — a pytest pin and a
    manual sweep can no longer delete each other's live corpus."""
    import pyarrow.parquet as pq

    first, _ = audit_corpus.Null().prepare(SF_AUDIT, str(tmp_path))
    second, _ = audit_corpus.Null().prepare(SF_AUDIT, str(tmp_path))
    assert first != second
    for d in (first, second):
        assert pq.read_table(f"{d}/events.parquet").num_rows > 0


def test_scan_audit_zero_scan_detection(spark, sf_smoke, tmp_path, monkeypatch, capsys):
    """Detection-power probe for the scan gate's downward-drift check
    (ADVICE r9 #4): EXPECTED allowances are upper bounds, so before the
    baseline a query that silently stopped scanning a table it is known
    to read (renamed path, vacuously empty plan, lost branch) certified
    green. Four legs: agreeing baseline passes; a baseline claiming a
    table the query no longer scans flags; a MISSING baseline entry
    flags (forces regeneration on new registrations); a baseline from a
    different sf_dir skips the zero-check (AQE shapes compare
    like-for-like only) instead of false-flagging. Then the regeneration
    refusals, and the per-query JSON lines staying valid JSON when an
    error message carries a double quote."""
    import json as _json

    from tools import scan_audit

    base = tmp_path / "scan_baseline.json"
    monkeypatch.setattr(scan_audit, "BASELINE_PATH", str(base))

    def flagged() -> int:
        return scan_audit.sweep(sf_smoke, ["text_profile"])["flagged"]

    base.write_text(_json.dumps(
        {"sf_dir": sf_smoke, "counts": {"text_profile": {"documents": 1}}}
    ))
    assert flagged() == 0

    base.write_text(_json.dumps(
        {"sf_dir": sf_smoke,
         "counts": {"text_profile": {"documents": 1, "region": 1}}}
    ))
    assert flagged() == 1, "lost region scan not flagged"

    base.write_text(_json.dumps({"sf_dir": sf_smoke, "counts": {}}))
    assert flagged() == 1, "missing baseline entry not flagged"

    base.write_text(_json.dumps(
        {"sf_dir": "/nonexistent/elsewhere",
         "counts": {"text_profile": {"documents": 1, "region": 1}}}
    ))
    assert flagged() == 0, "sf-mismatched baseline must skip, not flag"

    # Regeneration must not launder drift (r10 review finding): with a
    # baseline claiming a scan the query has lost, the write has to
    # refuse AND leave the old baseline untouched.
    poisoned = _json.dumps(
        {"sf_dir": sf_smoke,
         "counts": {"text_profile": {"documents": 1, "region": 1}}}
    )
    base.write_text(poisoned)
    # Full-sweep regen would run all 98 queries; narrow the registry to
    # the one query under test (regen requires a full sweep by design).
    from realtime_voting_data_engineering_spark import queries as Q

    monkeypatch.setattr(
        Q, "REGISTRY", {"text_profile": Q.REGISTRY["text_profile"]}
    )
    assert scan_audit.write_baseline(sf_smoke) == 1, (
        "write-baseline did not refuse on drift"
    )
    assert base.read_text() == poisoned, "refused write still mutated baseline"

    # ...but ADVISORY flags must NOT block the write, or the documented
    # regen-after-registration workflow is circular: a new query's
    # missing baseline entry (and a removed query's stale entry) are
    # exactly what the write resolves (r10 review #2, finding 1).
    base.write_text(_json.dumps(
        {"sf_dir": sf_smoke,
         "counts": {"some_removed_query": {"documents": 1}}}
    ))
    assert scan_audit.write_baseline(sf_smoke) == 0, (
        "advisory flags blocked regeneration"
    )
    regen = _json.loads(base.read_text())
    assert set(regen["counts"]) == {"text_profile"}, regen
    assert regen["counts"]["text_profile"].get("documents") == 1

    # Cross-sf regen must be refused without force_sf_change: the sf
    # mismatch disables every drift check, so the overwrite would
    # launder a lost scan through the side door (r10 review #2,
    # finding 2).
    import pytest as _pytest

    with _pytest.raises(SystemExit):
        scan_audit.write_baseline(scan_audit.SF_DIR)
    assert _json.loads(base.read_text())["sf_dir"] == sf_smoke, (
        "cross-sf refusal still mutated the baseline"
    )

    # A query error whose message carries a double quote: the per-query
    # line is still one valid JSON object and the result flags it.
    def broken(spark_, sf_dir_):
        raise ValueError('column "votes" is ambiguous')

    import dataclasses

    spec = dataclasses.replace(Q.REGISTRY["text_profile"], fn=broken)
    monkeypatch.setattr(Q, "REGISTRY", {"broken": spec})
    capsys.readouterr()
    result = scan_audit.sweep(sf_smoke, ["broken"])
    lines = [_json.loads(ln) for ln in capsys.readouterr().out.splitlines()
             if ln.startswith("{")]
    assert lines[-1]["query"] == "broken" and '"votes"' in lines[-1]["detail"]
    assert result["flagged"] == 1 and '"votes"' in result["details"]["flags"]["broken"]
    _json.loads(_json.dumps(result))


def test_bench_assemble_output_failure_semantics(capsys):
    """bench.assemble_output encodes three failure-reads-as-good fixes
    from the r12 reviews; pin each direction so a refactor can't
    regress them: (1) the -1.0 sentinel of a failed query is excluded
    from the headline total (never subtracted — a broken query must not
    read as a speedup) and named in failed_queries; (2) a failed bm25
    emits a NULL thermometer (a -1.0 would satisfy the quiet ≤0.03
    rule); (3) bm25 absent from the panel warns loudly on stderr
    instead of a permanent silent null."""
    import bench

    load = (0.1, 0.2, 0.3)

    # Happy path: total sums everything, thermometer = bm25's timing,
    # steal-probe fields pass through (absent → null, never fabricated).
    out = bench.assemble_output(
        {"q1": 1.5, "bm25_search_topk": 0.03}, 50_000.0, 0.1, load, load,
        cpu_probe_before=0.2, cpu_probe_after=0.25,
    )
    assert out["value"] == 1.53
    assert out["failed_queries"] == []
    assert out["thermometer_bm25_sec"] == 0.03
    assert (out["cpu_probe_sec_before"], out["cpu_probe_sec_after"]) == (
        0.2, 0.25,
    )
    assert capsys.readouterr().err == ""
    # The probe itself returns a positive wall time.
    assert bench.cpu_probe(n=100_000) > 0

    # Steal accounting: pure arithmetic on /proc/stat samples; None
    # (off-Linux or zero elapsed) must pass through as null, never 0.0
    # (an unavailable measurement must not read as "measured quiet").
    assert bench.steal_pct((1000, 10), (2000, 110)) == 10.0
    assert bench.steal_pct(None, (2000, 110)) is None
    assert bench.steal_pct((1000, 10), None) is None
    assert bench.steal_pct((1000, 10), (1000, 10)) is None
    # Steal-counter regression (CPU hotplug / counter reset — r12
    # ADVICE #2): null, never a NEGATIVE percentage the >~2% triage
    # rule would silently read as quiet.
    assert bench.steal_pct((1000, 10), (2000, 5)) is None
    sample = bench.read_cpu_jiffies()
    assert sample is None or (sample[0] > 0 and sample[1] >= 0)
    # Parser contract (review findings): a cpu line WITHOUT a steal
    # field is unmeasurable → None, never a fabricated (total, 0) that
    # steal_pct would render as "measured 0.0% = quiet"; guest and
    # guest_nice (fields 9-10, already folded into user/nice by the
    # kernel) must not inflate the denominator.
    assert bench.parse_cpu_line("cpu 10 20 30 40 50 60 70 5") == (285, 5)
    assert (
        bench.parse_cpu_line("cpu 10 20 30 40 50 60 70 5 999 999")
        == (285, 5)
    )
    assert bench.parse_cpu_line("cpu 10 20 30 40 50 60 70") is None
    out = bench.assemble_output(
        {"q1": 1.5, "bm25_search_topk": 0.03}, 50_000.0, 0.1, load, load,
        cpu_steal_pct=8.8, cpu_steal_pct_streaming=1.2,
    )
    assert out["cpu_steal_pct"] == 8.8
    assert out["cpu_steal_pct_streaming"] == 1.2
    assert out["cpu_probe_sec_before"] is None

    # A failed query: excluded from the total (not subtracted), named.
    out = bench.assemble_output(
        {"q1": 1.5, "q2": -1.0, "bm25_search_topk": -1.0},
        None, 0.1, load, load,
    )
    assert out["value"] == 1.5
    assert out["failed_queries"] == ["bm25_search_topk", "q2"]
    assert out["thermometer_bm25_sec"] is None
    # Streaming failure (VERDICT r12 #1): null + explicit flag — the
    # one field left on the old -1.0 convention now matches the
    # null-for-unmeasurable contract. A naive "events/s band >=45k"
    # consumer gets a type error, not a clean false.
    assert out["streaming_events_per_sec"] is None
    assert out["streaming_failed"] is True
    # Legacy -1.0 from an older caller normalizes identically.
    legacy = bench.assemble_output(
        {"q1": 1.5, "bm25_search_topk": 0.03}, -1.0, 0.1, load, load,
    )
    assert legacy["streaming_events_per_sec"] is None
    assert legacy["streaming_failed"] is True
    # Healthy streaming: value passes through, flag is False.
    ok = bench.assemble_output(
        {"q1": 1.5, "bm25_search_topk": 0.03}, 50_000.0, 0.1, load, load,
    )
    assert ok["streaming_events_per_sec"] == 50_000.0
    assert ok["streaming_failed"] is False
    assert capsys.readouterr().err == ""

    # Panel drift: loud stderr warning, thermometer null.
    out = bench.assemble_output({"q1": 1.5}, 50_000.0, 0.1, load, load)
    assert out["thermometer_bm25_sec"] is None
    assert "bm25_search_topk missing" in capsys.readouterr().err


def test_bench_output_echoes_effective_core_count():
    """r16 (VERDICT r15 #2): the one-line JSON carries the effective
    core count — ``cpus`` (what session.default_parallelism resolved
    from $SPARK_GRAFT_CPUS) and ``spark_default_parallelism`` (what the
    live SparkContext reported) — so the driver's scaling probe can
    VERIFY the env took effect instead of inferring it from sf0.1
    timing ratios that legitimately sit near 1. Additions-only: absent
    values surface as null, never a fabricated count."""
    import bench

    load = (0.1, 0.2, 0.3)
    out = bench.assemble_output(
        {"q1": 1.5, "bm25_search_topk": 0.03}, 50_000.0, 0.1, load, load,
        cpus=8, spark_default_parallelism=8,
    )
    assert out["cpus"] == 8
    assert out["spark_default_parallelism"] == 8
    # Unsupplied (an older caller): null, never fabricated.
    legacy = bench.assemble_output(
        {"q1": 1.5, "bm25_search_topk": 0.03}, 50_000.0, 0.1, load, load,
    )
    assert legacy["cpus"] is None
    assert legacy["spark_default_parallelism"] is None
