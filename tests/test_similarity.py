"""Similarity-search behavior: ANN recall vs brute force on planted
clusters, and the Arrow kernels against the expression kernel."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from realtime_voting_data_engineering_spark.operators import similarity as S
from realtime_voting_data_engineering_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def clustered_vectors(spark):
    """Deterministic corpus with planted neighbor structure: 20 cluster
    centers, 10 members each, members = center + small per-dim offset."""
    import numpy as np

    rng = np.random.default_rng(7)
    dims, centers, members = 16, 20, 10
    base = rng.normal(size=(centers, dims))
    rows = []
    vid = 0
    for c in range(centers):
        for _ in range(members):
            vec = base[c] + rng.normal(scale=0.05, size=dims)
            rows.append((vid, c, [float(x) for x in vec]))
            vid += 1
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("cluster", T.IntegerType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    return spark.createDataFrame(rows, schema)


def test_ann_recall_on_clustered_vectors(spark, clustered_vectors):
    queries = clustered_vectors.filter(F.col("vec_id") % 10 == 0).limit(10)
    exact = S.knn_brute_force(queries, clustered_vectors, k=5)
    ann = S.knn_ann(queries, clustered_vectors, dims=16, k=5)
    exact_set = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    ann_set = {(r.query_id, r.neighbor_id) for r in ann.collect()}
    recall = len(exact_set & ann_set) / len(exact_set)
    # Cluster members are near-identical → SRP signs agree → high recall.
    assert recall >= 0.9, f"ANN recall {recall:.2f}"


def test_srp_candidates_are_symmetric_free(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").limit(100)
    pairs = S.srp_candidate_pairs(emb, dims=64).collect()
    seen = {(r.id_a, r.id_b) for r in pairs}
    assert all(a < b for a, b in seen)
    assert len(seen) == len(pairs)


def test_quantized_knn_recall_vs_float_path(spark, sf_dir):
    """int8 quantization perturbs each component by ≤ scale/2, so the
    quantized top-k should almost always agree with the float top-k."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).limit(10)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in S.knn_brute_force(queries, emb, k=5).collect()
    }
    quant = {
        (r.query_id, r.neighbor_id)
        for r in S.knn_quantized(queries, emb, k=5).collect()
    }
    recall = len(exact & quant) / len(exact)
    assert recall >= 0.9, f"quantized knn recall {recall:.3f}"


def test_quantization_error_bound_and_range(spark, sf_dir):
    """int8 symmetric quantization: every code in [-127, 127], the max
    element maps to ±127 exactly, and the dequantization error is ≤
    scale/2 (+fp eps) per construction."""
    emb = load_table(spark, sf_dir, "embeddings")
    rows = S.quantize_embeddings(emb).collect()
    assert len(rows) == emb.count()
    for r in rows:
        assert all(-127 <= q <= 127 for q in r.qvec)
        if r.scale > 0:
            assert max(abs(q) for q in r.qvec) == 127
            assert r.max_abs_err <= r.scale / 2 + 1e-12, (
                r.vec_id,
                r.max_abs_err,
                r.scale,
            )
        else:
            assert r.max_abs_err == 0.0


def test_srp_near_dup_recall_and_precision(spark, sf_dir):
    """The SRP-fronted near-dup pipeline vs the all-pairs exact form:
    no false positives ever (verification is exact cosine), and recall
    ≥0.75 even at this corpus's loose 0.4 threshold — the worst case for
    sign-projection banding (banding math gives ≈0.85 expected here,
    ≈0.995 at production ≥0.9 thresholds)."""
    emb = load_table(spark, sf_dir, "embeddings")
    exact = {
        (r.id_a, r.id_b): r.cos
        for r in S.near_dup_embeddings(emb, threshold=0.4).collect()
    }
    srp = {
        (r.id_a, r.id_b): r.cos
        for r in S.near_dup_embeddings_srp(emb, dims=64, threshold=0.4).collect()
    }
    assert exact, "corpus should contain near-dup embedding pairs"
    assert set(srp) <= set(exact), f"false positives: {set(srp) - set(exact)}"
    recall = len(srp) / len(exact)
    assert recall >= 0.75, f"SRP near-dup recall {recall:.3f}"
    # Verified cosines are the exact measure, bit-identical to all-pairs.
    assert all(exact[p] == c for p, c in srp.items())


def test_zero_norm_query_and_corpus_vectors_match_nothing(spark):
    """A zero query vector must return NO neighbors (0/0 NaN would sort
    above every real cosine in descending order), and zero corpus
    vectors must never appear as neighbors in the quantized path."""
    import math

    rows = [(0, [0.0] * 4), (1, [1.0, 2.0, 3.0, 4.0]), (2, [2.0, 4.0, 6.0, 8.0]),
            (3, [0.0] * 4), (4, [1.0, 0.0, 0.0, 1.0])]
    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ])
    corpus = spark.createDataFrame(rows, schema)
    queries = corpus.filter(F.col("vec_id").isin(0, 1))
    got = S.knn_quantized(queries, corpus, k=3).collect()
    by_q = {}
    for r in got:
        assert not math.isnan(r.cos), r
        by_q.setdefault(r.query_id, []).append(r.neighbor_id)
    assert 3 not in {n for ns in by_q.values() for n in ns}
    # the zero query keeps rank order defined: all its cosines are 0,
    # never NaN-above-everything
    for n in by_q.get(0, []):
        assert n in (1, 2, 4)


def test_ragged_vectors_are_excluded_not_fatal(spark):
    """One malformed (wrong-length) row must not kill the job (r6 ADVICE
    #1: NULL filtering alone left ``np.array(list(...))`` to die on
    ragged batches): wrong-length corpus rows are excluded from scoring
    and wrong-length query rows are dropped, in the quantized and
    fixed-IVF paths alike."""
    rows = [
        (1, [1.0, 2.0, 3.0, 4.0]),
        (2, [2.0, 4.0, 6.0, 8.0]),
        (3, [1.0, 0.0, 0.0, 1.0]),
        (4, [5.0, 5.0]),            # ragged: too short
        (5, [1.0] * 7),             # ragged: too long
        (6, None),                  # NULL
    ]
    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ])
    corpus = spark.createDataFrame(rows, schema)
    # Valid 4-dim queries 1 and 3, ragged 4, NULL 6 — the valid dims is
    # modal. The RAGGED-FIRST ordering is the adversarial case: dims
    # inference must be modal, not first-row, or a leading ragged query
    # silently excludes every valid query and the whole corpus
    # (r7 review finding; verified order-dependent before the fix).
    queries = corpus.filter(F.col("vec_id").isin(1, 3, 4, 6))
    queries_ragged_first = queries.orderBy(F.col("vec_id").desc())
    # knn_ivf_fixed probes every list (nprobe == n_centroids), so its
    # result does not hinge on where the md5 centroids fall.
    kernels = {
        "knn_quantized": lambda q: S.knn_quantized(q, corpus, k=5),
        "knn_ivf_fixed": lambda q: S.knn_ivf_fixed(
            q, corpus, dims=4, k=5, n_centroids=4, nprobe=4
        ),
    }
    for name, call in kernels.items():
        for q in (queries, queries_ragged_first):
            got = call(q).collect()
            assert {r.query_id for r in got} == {1, 3}, (name, got)
            bad = {4, 5, 6} & {r.neighbor_id for r in got}
            assert not bad, (name, bad)
    # quantize_embeddings with dims drops ragged/NULL code rows too
    ids = {r.vec_id for r in S.quantize_embeddings(corpus, dims=4).collect()}
    assert ids == {1, 2, 3}


def test_ivf_fixed_assign_matches_pq_encode_m1(spark, sf_dir):
    """The fixed-centroid coarse quantizer IS the pq_encode m=1
    construction — the two code paths (expression of the same md5
    codebook + sequential L2 argmin) must agree on every assignment.
    This ties knn_ivf_fixed's oracle evidence (which replays the PQ
    fragment) to the assign kernel it actually runs."""
    emb = load_table(spark, sf_dir, "embeddings")
    via_assign = {
        r.vec_id: r.cluster
        for r in S.ivf_fixed_assign(emb, dims=64, n_centroids=16).collect()
    }
    via_pq = {
        r.vec_id: int(r.pq_codes)
        for r in S.pq_encode(emb, dims=64, m=1, ksub=16).collect()
    }
    assert via_assign == via_pq


def test_knn_ivf_fixed_probes_only_probed_lists(spark, sf_dir):
    """Every returned neighbor must come from one of its query's nprobe
    nearest inverted lists (the operator's pruning contract), results
    must be stable under repartitioning, and per-query result counts
    never exceed k."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    out = S.knn_ivf_fixed(queries, emb, dims=64, k=5, n_centroids=16, nprobe=4)
    rows = out.collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r.query_id, set()).add(r.neighbor_id)
    assert all(len(v) <= 5 for v in per_q.values())

    cent = S.ivf_fixed_centroids(64, 16)
    assigned = {
        r.vec_id: r.cluster
        for r in S.ivf_fixed_assign(emb, dims=64, n_centroids=16).collect()
    }
    import numpy as np

    for r in queries.collect():
        qv = np.array(r.embedding, dtype=np.float64)
        d2 = ((cent - qv) ** 2).sum(axis=1)
        probed = set(np.argsort(d2, kind="stable")[:4].tolist())
        for nb in per_q.get(r.vec_id, ()):
            assert assigned[nb] in probed, (r.vec_id, nb, assigned[nb], probed)

    again = {
        (r.query_id, r.neighbor_id)
        for r in S.knn_ivf_fixed(
            queries.repartition(7), emb.repartition(5), dims=64, k=5
        ).collect()
    }
    assert {(r.query_id, r.neighbor_id) for r in rows} == again


def test_knn_ivf_fixed_recall_vs_brute_force(spark, sf_dir):
    """Fixed (untrained) centroids trade recall for replayability — the
    probe pipeline must still beat the random-guess floor by a wide
    margin on the real corpus. This guards against a silent pruning bug
    that would zero its overlap."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in S.knn_brute_force(queries, emb, k=5).collect()
    }
    fixed = {
        (r.query_id, r.neighbor_id)
        for r in S.knn_ivf_fixed(queries, emb, dims=64, k=5).collect()
    }
    recall = len(exact & fixed) / len(exact)
    # nprobe/n_centroids = 1/4 of the corpus scanned; random subsets
    # would give ~0.25 expected overlap.
    assert recall >= 0.25, f"fixed-IVF recall {recall:.2f}"


def _dense_chunk_fixture(spark):
    """Small corpus/query pair for the chunking pins: non-trivial values
    (no ties by construction), a zero corpus row (validity mask must
    slice with the chunk), and 7 queries so chunk sizes 1/3 straddle
    uneven block boundaries."""
    corpus = spark.createDataFrame(
        [(i, [0.01 * i + 0.003 * ((i * 7) % 5) * (d + 1) for d in range(8)])
         for i in range(1, 30)] + [(30, [0.0] * 8)],
        "vec_id bigint, embedding array<float>",
    )
    queries = spark.createDataFrame(
        [(100 + i, [0.05 * (i + 1) + 0.002 * d for d in range(8)])
         for i in range(7)],
        "vec_id bigint, embedding array<float>",
    )
    return corpus, queries


@pytest.mark.parametrize("fn_name", ["knn_quantized"])
def test_dense_query_chunking_changes_no_bits(spark, fn_name, monkeypatch):
    """The dense cosine kernel blocks the QUERY axis so per-batch peak
    memory is O(chunk × batch) instead of O(|Q| × batch) — the deferred
    half of ADVICE r9 #2 (VERDICT r10 #2). SCOPE (r11 second review):
    this fixture's float32-grid values make every dot exactly
    representable in float64, so bitwise equality here proves the
    blocking BOOKKEEPING (id repeat/tile, validity-mask slicing, frame
    boundaries) and the exact-arithmetic case — NOT BLAS accumulation
    order, which genuinely differs between gemv/gemm shapes on general
    data (the reassociation residual is pinned separately by
    test_dense_query_chunking_reassociation_residual). Chunk sizes 1
    and 3 (set through ``_QUERY_CHUNK``, which the kernel captures
    at plan time) must be row- and BIT-identical to one covering
    block."""
    fn = getattr(S, fn_name)
    corpus, queries = _dense_chunk_fixture(spark)

    def topk(chunk):
        monkeypatch.setattr(S, "_QUERY_CHUNK", chunk)
        return sorted(map(tuple, fn(queries, corpus, k=3).collect()))

    whole = topk(10_000)
    assert len(whole) == 7 * 3
    for chunk in (1, 3):
        assert topk(chunk) == whole, (fn_name, chunk)


@pytest.mark.parametrize("fn_name", ["knn_quantized"])
def test_dense_query_chunking_reassociation_residual(spark, fn_name, monkeypatch):
    """The honest numeric contract for general float data (r11 second
    review, which MEASURED bitwise drift between chunked and unchunked
    matmuls at dims=64): BLAS may reassociate the K-accumulation
    differently per output shape, so chunked cosines are only
    reassociation-close to the single-block result — but whenever rank
    gaps exceed that distance, the selected top-k PAIRS are identical.
    Random normal 64-dim vectors have rank gaps ~1e-2, so set equality
    is sound by construction here (asserted, not assumed); the score
    drift bound is the measured ≲2e-13 relative with margin."""
    import numpy as np

    fn = getattr(S, fn_name)
    rng = np.random.default_rng(11)
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(size=64)]) for i in range(25)],
        "vec_id bigint, embedding array<float>",
    )
    queries = spark.createDataFrame(
        [(100 + i, [float(x) for x in rng.normal(size=64)]) for i in range(9)],
        "vec_id bigint, embedding array<float>",
    )
    monkeypatch.setattr(S, "_QUERY_CHUNK", 10_000)
    whole = fn(queries, corpus, k=3).collect()
    by_pair = {(r.query_id, r.neighbor_id): r.cos for r in whole}
    # Fixture soundness: adjacent ranks are separated far beyond the
    # reassociation distance, so a 1-ulp score change cannot flip sets.
    # Set equality across chunk sizes hinges on the rank-3↔rank-4
    # boundary — the gap between the last SELECTED and the first
    # UNSELECTED score — which a top-3 result alone never exposes
    # (VERDICT r11 "What's wrong" #1: a future fixture edit could land
    # a near-tie exactly there and this pin would go vacuous without
    # noticing). Score the FULL corpus (k = |corpus|) and assert every
    # gap down through rank 3↔4.
    full = fn(queries, corpus, k=25).collect()
    by_q: dict = {}
    for r in full:
        by_q.setdefault(r.query_id, []).append(r.cos)
    for q, scores in by_q.items():
        assert len(scores) == 25, (q, len(scores))
        scores = sorted(scores, reverse=True)
        # ranks 1↔2, 2↔3, and the decisive 3↔4 boundary
        gaps = [a - b for a, b in zip(scores[:3], scores[1:4])]
        assert all(g > 1e-6 for g in gaps), (q, gaps)
    for chunk in (1, 4):
        monkeypatch.setattr(S, "_QUERY_CHUNK", chunk)
        got = fn(queries, corpus, k=3).collect()
        assert {(r.query_id, r.neighbor_id) for r in got} == set(by_pair), (
            fn_name, chunk,
        )
        for r in got:
            ref = by_pair[(r.query_id, r.neighbor_id)]
            assert abs(r.cos - ref) <= 1e-9 * max(1.0, abs(ref)), (
                fn_name, chunk, r, ref,
            )


def _id_type_fixture(spark):
    """Integer-valued vectors, every corpus row with max |x| = 127, so
    int8 quantization is exact (scale 1.0) and every cosine is computed
    bit-identically by the expression and numpy paths. Corpus rows 8, 9
    and 10 are identical and query 100 copies them: its k=2 tie breaks
    by ``neighbor_id`` and picks 8, 9 as longs but "10", "8" as strings.
    Queries 1-3 are corpus rows, so self-match exclusion is exercised."""
    import numpy as np

    rng = np.random.default_rng(5)
    vecs = rng.integers(-127, 128, size=(12, 8))
    vecs[:, 0] = 127
    vecs[9] = vecs[10] = vecs[8]
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    corpus = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    queries = spark.createDataFrame(
        rows[1:4] + [(100, rows[8][1])], "vec_id bigint, embedding array<float>"
    )
    return corpus, queries


def _as_ids(df, type_name):
    return df.withColumn("vec_id", F.col("vec_id").cast(type_name))


# name → (call(queries, corpus), output id columns, pairs query with corpus)
_ID_KERNELS = {
    "knn_quantized": (
        lambda q, c: S.knn_quantized(q, c, k=2),
        ("query_id", "neighbor_id"), True),
    # nprobe == n_centroids probes every list: exact top-k, like brute force
    "knn_ivf_fixed": (
        lambda q, c: S.knn_ivf_fixed(q, c, dims=8, k=2, n_centroids=4, nprobe=4),
        ("query_id", "neighbor_id"), True),
    "ivf_fixed_assign": (
        lambda q, c: S.ivf_fixed_assign(c, dims=8, n_centroids=4),
        ("vec_id",), False),
}


@pytest.mark.parametrize("fn_name", sorted(_ID_KERNELS))
def test_kernel_id_columns_take_the_input_id_type(spark, fn_name):
    """Every Arrow kernel types its output id columns from its input:
    string and int ids run and come back as themselves. The top-k
    kernels equal the expression twin ``knn_brute_force`` on the same
    ids — not a cast of the long-id result, since string ids tie-break
    lexicographically (query 100 below). The assign kernels give each
    vector the same list whatever its id type. A query id narrower than
    the corpus id widens to it; mixing id families, or a query id wider
    than the corpus id, is refused with a TypeError at the call, before
    any job runs."""
    call, id_cols, paired = _ID_KERNELS[fn_name]
    corpus, queries = _id_type_fixture(spark)
    long_rows = sorted(map(tuple, call(queries, corpus).collect()))
    got = {}
    for type_name, py_type in (("string", str), ("int", int)):
        q, c = _as_ids(queries, type_name), _as_ids(corpus, type_name)
        out = call(q, c)
        for col in id_cols:
            assert out.schema[col].dataType == c.schema["vec_id"].dataType
        rows = got[type_name] = sorted(map(tuple, out.collect()))
        assert rows and all(isinstance(r[0], py_type) for r in rows)
        if paired:
            twin = S.knn_brute_force(q, c, k=2)
            assert rows == sorted(map(tuple, twin.collect())), type_name
        else:
            assert rows == sorted((py_type(r[0]), *r[1:]) for r in long_rows)
    if not paired:
        return
    assert long_rows == got["int"]
    # A narrower query id widens exactly to the corpus id type.
    assert sorted(map(tuple, call(_as_ids(queries, "int"), corpus).collect())) == long_rows
    # The tie at query 100 resolves by id order, so string and long
    # ids pick different neighbors for it.
    assert {r[1] for r in long_rows if r[0] == 100} == {8, 9}
    assert {r[1] for r in got["string"] if r[0] == "100"} == {"10", "8"}
    for q_type, c_type in (("string", "bigint"), ("bigint", "string"),
                           ("bigint", "int"), ("double", "bigint")):
        with pytest.raises(TypeError, match="mismatch"):
            call(_as_ids(queries, q_type), _as_ids(corpus, c_type))


def test_expression_knn_variants_stay_permissive_on_string_ids(spark):
    """The expression variants (``knn_brute_force``, ``knn_ann``) alias
    their input id columns, so string ids yield a correct string-typed
    result — the behaviour every Arrow kernel now shares
    (test_kernel_id_columns_take_the_input_id_type). The fixture's zero
    vector is dropped: this pin tests id-type propagation, and under
    ANSI the expression path's 0/0 cosine is a loud divide-by-zero, not
    a score."""
    corpus, queries = _dense_chunk_fixture(spark)
    s_corpus, s_queries = _as_ids(corpus, "string"), _as_ids(queries, "string")
    rows = S.knn_brute_force(
        s_queries, s_corpus.filter(F.col("vec_id") != "30"), k=3
    ).collect()
    assert len(rows) == 7 * 3
    assert all(isinstance(r.query_id, str) for r in rows[:3])
    # Candidate generation is banded so counts are recall-dependent,
    # not 7×3; the pin is that string ids run and propagate.
    ann_rows = S.knn_ann(
        s_queries, s_corpus.filter(F.col("vec_id") != "30"),
        dims=8, k=3, planes=8, bands=4,
    ).collect()
    assert len(ann_rows) >= 1
    assert all(isinstance(r.query_id, str) for r in ann_rows)
