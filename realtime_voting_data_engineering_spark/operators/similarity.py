"""Similarity search over embedding columns (``array<float>``).

Two tiers, as a production vector pipeline would have:

- **Brute-force cosine top-k** — exact baseline. Expression-only dot
  product (``zip_with`` + ``aggregate`` fold, double precision) so the
  result is bit-replayable in SQL engines; O(|Q|·|C|) pairs, fine for
  bounded query sets and the verification tier.
- **Random-hyperplane LSH (SRP)** — the scale path: sign-projection
  signature buckets candidates; exact cosine re-ranks within buckets.
  Hyperplane components are derived deterministically from md5(plane,
  dim), so signatures are reproducible across runs/executors with no
  driver-side randomness or broadcast state.
- **mapInPandas kernels** — Arrow-batched numpy scorers for the
  compressed indexes (int8 quantized cosine, IVF assignment, PQ encode
  and ADC): the shape a GPU/BLAS-backed scorer takes at 100 TB
  (per-partition batch × closure-shipped query matrix).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, StructField, StructType

from realtime_voting_data_engineering_spark.operators.relational import top_k_per_group


def dot(a: Column, b: Column) -> Column:
    """Double-precision dot product as a sequential fold — deterministic
    and identical to an ordered-list SQL replay."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


#: DuckDB predicate mirroring ``valid_vectors`` (format with the column
#: name): non-NULL, and no NULL/NaN/±Inf component. Oracles over
#: embedding consumers MUST use this so both engines exclude the same
#: rows — see the finiteness note in ``valid_vectors``.
ORACLE_VALID_VEC = (
    "({col} IS NOT NULL AND len(list_filter({col}, "
    "x -> x IS NULL OR NOT isfinite(CAST(x AS DOUBLE)))) = 0)"
)

#: The dims-gated form: mirrors ``valid_vectors(..., dims=...)`` where
#: the Spark side ALSO excludes wrong-length vectors (quantized/SRP/IVF/
#: PQ paths). Without the length clause the two engines disagree on a
#: ragged row — DuckDB's list ops pad/skip and can still emit a partial
#: score where Spark excludes the row (r7 review finding).
ORACLE_VALID_VEC_DIMS = (
    "({col} IS NOT NULL AND len({col}) = {dims} AND len(list_filter({col}, "
    "x -> x IS NULL OR NOT isfinite(CAST(x AS DOUBLE)))) = 0)"
)


def valid_vectors(
    df: DataFrame, vec_col: str = "embedding", dims: int | None = None
) -> DataFrame:
    """Enforce the vector contract at the operator boundary: rows whose
    embedding is NULL, contains a NULL/NaN/±Inf component, or (when
    ``dims`` is known) has the wrong length are EXCLUDED from index
    build and search.

    At 100 TB malformed rows are a certainty, and the Arrow kernels
    (``np.array(list(col))`` batches, codebook matmuls) would otherwise
    throw on the first NULL — one bad row killing a 1000-executor job.
    FINITENESS is part of the contract since the r7 float audit
    (``tools/run_audits.py --classes float``): a NaN component makes every
    cosine NaN, and NaN sorts ABOVE every real score in descending top-k in
    BOTH engines — the poisoned row would win every ranking while
    hash-matching the oracle, i.e. semantically-garbage agreement; and
    the int8 quantization cast of a NaN code throws under ANSI mode
    (the default in the driver's vanilla Spark 4 session). Exclusion
    (not imputation) is the only semantics expressible identically in
    both engines (``ORACLE_VALID_VEC``)."""
    vec = F.col(vec_col)
    bad_component = lambda x: (  # noqa: E731 — local predicate
        x.isNull()
        | F.isnan(x.cast("double"))
        | (F.abs(x.cast("double")) == F.lit(float("inf")))
    )
    cond = vec.isNotNull() & ~F.exists(vec, bad_component)
    if dims is not None:
        cond = cond & (F.size(vec_col) == dims)
    return df.filter(cond)


def unique_by_id(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    dims: int | None = None,
) -> DataFrame:
    """Id-uniqueness boundary (r7 extreme audit): an index keyed by id
    (PQ code words, IVF inverted lists) must hold ONE entry per id, but
    corrupted upstream ids can collide — two different vectors under the
    same extreme id would let per-id argmins mix subspace codes from
    different rows into a chimera. Keep, per id, the lexicographically
    least VALID embedding (array compare is element-wise in both Spark
    and DuckDB; equal-length by the dims gate, no NaN by validity — a
    total, engine-portable rule). One exchange on the id — the honest
    price of an enforced key contract; a no-op pass-through when ids are
    unique, and Catalyst's exchange reuse shares the shuffle with any
    downstream keyed op.

    Tried and rejected (r8): a ``groupBy(id).agg(min(struct(vec, …)))``
    twin — partial-aggregable (map-side combine halves the shuffle at
    scale) and with a total tie-break even across non-vector columns
    (the window's tie between equal vectors under one id picks an
    arbitrary row — unobservable today because every consumer reads
    only (id, vec), which the order/retry audits certify). Measured at
    sf0.1 (2,000 vectors): 0.267 s vs 0.301 s standalone,
    indistinguishable end-to-end in knn_pq_adc (0.909 vs 0.863 min-of-4
    — local cost is per-stage scheduling, not data). Swap to the agg
    form if either (a) a consumer starts reading non-vector columns
    through this boundary, or (b) a real-cluster profile shows the
    shuffle dominating."""
    from pyspark.sql import Window

    df = valid_vectors(df, vec_col, dims)
    w = Window.partitionBy(id_col).orderBy(vec_col)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def collect_query_matrix(
    queries: DataFrame, id_col: str, vec_col: str, dims: int | None = None
):
    """The ONE driver-side query boundary of the collecting kernels
    (``knn_quantized``, ``knn_ivf_fixed``, ``knn_pq_adc``): collect the
    (small by contract) query set into numpy under one rule, in order:

    1. keep valid vectors (``valid_vectors``: non-NULL, finite);
    2. keep rows of length ``dims``; when ``dims`` is not given it is
       the MODAL length over all valid rows, ties broken toward the
       smaller dims — a single ragged row would turn
       ``np.array(list(...))`` into a dtype=object batch that kills the
       Arrow kernels, and taking the first row's length would make the
       result depend on row order (``tools/run_audits.py --classes
       order`` certifies against that);
    3. drop NULL ids — a NULL query id has no self-match to exclude and
       no key to rank under, so it yields no output in any kernel;
    4. keep one row per id: the lexicographically least vector, the
       ``unique_by_id`` rule — two vectors under one id would otherwise
       rank both vectors' neighbours under one ``query_id``;
    5. sort by id, so the matrix order is deterministic.

    Returns ``(q_ids, q_mat, dims)``: ``q_ids`` (n,), ``q_mat`` (n, dims)
    float64, with n possibly 0 (``dims`` is then None if it was not
    given and no valid row exists). Callers pass ``dims`` on to the
    corpus-side ``valid_vectors`` so corpus batches are rectangular
    too."""
    import numpy as np

    rows = valid_vectors(queries, vec_col, dims).select(id_col, vec_col).collect()
    if dims is None and rows:
        lengths = [len(r[1]) for r in rows]
        dims = max(set(lengths), key=lambda d: (lengths.count(d), -d))
    best: dict = {}
    for qid, vec in rows:
        if qid is not None and len(vec) == dims and (
            qid not in best or list(vec) < best[qid]
        ):
            best[qid] = list(vec)
    q_ids = sorted(best)
    q_mat = np.array([best[q] for q in q_ids], dtype=np.float64)
    return np.array(q_ids), q_mat.reshape(len(q_ids), dims or 0), dims


def _id_typed_schema(
    df: DataFrame, id_col: str, id_names: list[str], rest: str
) -> StructType:
    """Output schema of an Arrow kernel or a probe frame built from
    collected rows: the columns in ``id_names`` take the type of
    ``df[id_col]``, followed by the non-id columns in DDL ``rest``. Ids come out as the type they
    went in, as in ``knn_brute_force`` (aliases) and ``pq_encode``."""
    id_type = df.schema[id_col].dataType
    return StructType(
        [StructField(n, id_type) for n in id_names]
        + DataType.fromDDL(rest).fields
    )


def knn_brute_force(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int | None = None,
) -> DataFrame:
    """Exact top-k neighbors per query by cosine. The (small) query set
    is broadcast against the corpus — the corpus is scanned once, never
    shuffled; per-query top-k is a windowed row_number over |Q|·k rows.

    Pass ``dims`` when the corpus declares a dimensionality: a ragged
    vector's cosine is NULL under Spark's NULL-padding ``zip_with``
    fold but a REAL partial score under DuckDB's NULL-skipping
    ``list_sum`` — excluded-by-dims is the one semantics both engines
    express identically (r7 review finding).

    Output: (query_id, neighbor_id, cos) — self-matches excluded.
    """
    q = valid_vectors(queries, vec_col, dims).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    c = valid_vectors(corpus, vec_col, dims).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    pairs = c.crossJoin(F.broadcast(q)).filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        cosine(F.col("q_vec"), F.col("c_vec")).alias("cos"),
    )
    return top_k_per_group(
        scored,
        ["query_id"],
        [F.col("cos").desc(), F.col("neighbor_id")],
        k=k,
    )


def near_dup_embeddings(
    corpus: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs (id_a < id_b, cos ≥ threshold).
    All-pairs form — the verification tier; at scale run
    ``srp_candidate_pairs`` first and verify only candidates. ``dims``
    as in ``knn_brute_force`` (ragged-row engine divergence)."""
    corpus = valid_vectors(corpus, vec_col, dims)
    a = corpus.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = corpus.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    return pairs.select(
        "id_a",
        "id_b",
        F.round(cosine(F.col("va"), F.col("vb")), 6).alias("cos"),
    ).filter(F.col("cos") >= threshold)


def near_dup_embeddings_srp(
    corpus: DataFrame,
    dims: int,
    threshold: float = 0.4,
    planes: int = 32,
    bands: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    verify_parallelism: "int | None" = None,
) -> DataFrame:
    """SRP-fronted embedding near-dup: generate candidate pairs by
    sign-projection banding, then verify with exact cosine ONLY on the
    candidates — the scale path in front of ``near_dup_embeddings``'s
    all-pairs verification tier.

    Recall is governed by the banding math 1-(1-p^r)^b with
    p = 1-θ/π: at production near-dup thresholds (cos ≥ 0.9, p ≈ 0.86,
    r=4, b=8) recall is ≈0.995 with strong pruning; at a loose 0.4
    threshold on near-uniform vectors (p ≈ 0.63 — this corpus's worst
    case) the defaults still reach ≈0.85 recall, measured against the
    exact form in tests. Approximate only versus the ALL-PAIRS exact
    form — the pipeline itself is deterministic given the md5-derived
    hyperplanes (``srp_hyperplanes``), so the registered query
    (``embedding_near_dup_srp``) carries a full SRP-replay DuckDB
    oracle: banding, candidate join, and cosine verify all hash-match.

    ``verify_parallelism`` (r15): repartition the candidate PAIR LIST to
    this width before the vector-attach joins. The exact-cosine verify
    is the pipeline's compute-heavy stage (an interpreted per-element
    fold over 2×dims array elements per pair), but its input is a thin
    (id, id) list whose bytes are tiny — AQE's size-based partition
    coalescing therefore collapses the post-distinct stage to one or
    two tasks and the whole verify runs near-serial (measured: 5.1 →
    2.9 s at sf0.1 with the repartition). Callers set it when the
    corpus is provably in the tiny-input regime (the
    ``widen_small_scan`` gate); at scale the candidate list is
    data-sized, AQE keeps real parallelism on its own, and the extra
    exchange would be pure cost — leave None."""
    cands = srp_candidate_pairs(corpus, dims, planes, bands, id_col, vec_col)
    if verify_parallelism:
        cands = cands.repartition(verify_parallelism)
    a = corpus.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = corpus.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(cosine(F.col("va"), F.col("vb")), 6).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def quantize_embeddings(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int | None = None,
) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization — the standard 4×
    storage/bandwidth reduction before indexing at scale: scale =
    max|x|/127, q_i = round(x_i/scale) ∈ [-127, 127]. Returns
    (id, scale, qvec array<tinyint>, max_abs_err) where max_abs_err is
    the exact per-vector dequantization error (≤ scale/2 by
    construction — asserted in tests).

    Expression-only over staged projections (max-abs, scale, and qvec
    each computed once — see the CSE note on ``text_profile``); all
    arithmetic is IEEE double and round-half-away-from-zero in both
    Spark and DuckDB, so the oracle replays it bit-for-bit. All-zero
    vectors quantize to zeros with scale 0 and error 0. NULL vectors
    are excluded per the ``valid_vectors`` boundary contract (the
    expression form wouldn't crash on them, but emitting a NULL/empty
    code row for an invalid vector would poison the downstream index).
    Pass ``dims`` when known: a wrong-length code row is exactly as
    poisonous to an int8 index as a NULL one (a downstream Arrow kernel
    doing ``np.array(list(qvec))`` gets a ragged batch and dies — the
    r6 ADVICE gap), and only the length check can exclude it."""
    corpus = valid_vectors(corpus, vec_col, dims)
    vec = F.col(vec_col)
    scale = F.col("scale")
    staged = (
        corpus.select(F.col(id_col), vec)
        .withColumn(
            "__maxabs",
            F.array_max(F.transform(vec, lambda x: F.abs(x.cast("double")))),
        )
        .withColumn("scale", F.col("__maxabs") / F.lit(127.0))
        .withColumn(
            "qvec",
            F.when(
                F.col("__maxabs") == 0,
                F.transform(vec, lambda x: F.lit(0).cast("tinyint")),
            ).otherwise(
                F.transform(
                    vec,
                    lambda x: F.round(x.cast("double") / scale).cast("tinyint"),
                )
            ),
        )
        .withColumn(
            "max_abs_err",
            F.when(F.col("__maxabs") == 0, F.lit(0.0)).otherwise(
                F.array_max(
                    F.zip_with(
                        F.col("qvec"),
                        vec,
                        lambda q, x: F.abs(
                            q.cast("double") * scale - x.cast("double")
                        ),
                    )
                )
            ),
        )
    )
    return staged.select(id_col, "scale", "qvec", "max_abs_err")


def srp_hyperplanes(dims: int, planes: int):
    """Deterministic pseudo-random hyperplane matrix (planes, dims), each
    component in [-0.5, 0.5): md5('<plane>:<dim>') first 8 hex chars as a
    uniform 32-bit fraction. No RNG state, no broadcast variable — every
    executor derives the same planes from the closure constants."""
    import hashlib

    import numpy as np

    return np.array(
        [
            [
                int(hashlib.md5(f"{p}:{d}".encode()).hexdigest()[:8], 16)
                / float(2**32)
                - 0.5
                for d in range(dims)
            ]
            for p in range(planes)
        ],
        dtype=np.float64,
    )


def with_srp_signature(
    df: DataFrame,
    dims: int,
    planes: int = 16,
    vec_col: str = "embedding",
    out_col: str = "sig",
) -> DataFrame:
    """Append a sign-random-projection signature column: bit p =
    sign(v · h_p), packed into one long (planes ≤ 62). Arrow-batched
    numpy matmul per partition — no shuffle, no per-row Python. An
    expression-only variant (one term per plane×dim) breaks whole-stage
    codegen's 64 KB method limit past ~1k terms and falls back to
    interpreted eval ~16× slower, so the kernel is the scale path."""
    import numpy as np

    from pyspark.sql.types import LongType, StructField, StructType

    from realtime_voting_data_engineering_spark.session import (
        ensure_workers_can_import,
    )

    assert planes <= 62, "signature is packed into a signed 64-bit long"
    ensure_workers_can_import(df.sparkSession)
    df = valid_vectors(df, vec_col, dims)  # contract: invalid rows excluded
    h_mat = srp_hyperplanes(dims, planes)
    weights = (1 << np.arange(planes, dtype=np.int64))
    # StructType.add mutates in place — build a fresh schema instead.
    out_schema = StructType(
        list(df.schema.fields) + [StructField(out_col, LongType())]
    )

    def sign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.array(list(pdf[vec_col]), dtype=np.float64)
            bits = (x @ h_mat.T) > 0
            out = pdf.copy()
            out[out_col] = (bits * weights).sum(axis=1)
            yield out

    return df.mapInPandas(sign, schema=out_schema)


def _banded(df: DataFrame, sig_col: str, planes: int, bands: int) -> DataFrame:
    """Explode a packed signature into one row per LSH band:
    (…, band_idx, chunk). Executor-side explode, ``bands``× row
    amplification — the corpus-linear pigeonhole that replaces the
    quadratic pair space."""
    bits_per_band = planes // bands
    mask = (1 << bits_per_band) - 1
    return (
        df.select(
            "*",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("band_idx"),
                            F.shiftright(sig_col, i * bits_per_band)
                            .bitwiseAND(F.lit(mask))
                            .alias("chunk"),
                        )
                        for i in range(bands)
                    ]
                )
            ).alias("bc"),
        )
        .select("*", "bc.band_idx", "bc.chunk")
        .drop("bc")
    )


def srp_candidate_pairs(
    corpus: DataFrame,
    dims: int,
    planes: int = 16,
    bands: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN candidate generation: band the SRP signature (pigeonhole over
    sign bits); vectors sharing a band bucket are candidates. Shuffle is
    on (band_idx, chunk) — corpus-linear, never quadratic."""
    sigs = with_srp_signature(
        corpus.select(id_col, vec_col), dims, planes, vec_col=vec_col
    ).select(id_col, "sig")
    chunks = _banded(sigs, "sig", planes, bands).select(id_col, "band_idx", "chunk")
    a = chunks.select(F.col(id_col).alias("id_a"), "band_idx", "chunk")
    b = chunks.select(F.col(id_col).alias("id_b"), "band_idx", "chunk")
    return (
        a.join(b, ["band_idx", "chunk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def knn_ann(
    queries: DataFrame,
    corpus: DataFrame,
    dims: int,
    k: int = 5,
    planes: int = 16,
    bands: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: SRP-bucket the union of queries and corpus,
    score only bucket-mates exactly, take per-query top-k. Recall < 1 by
    construction; tests measure it against ``knn_brute_force``."""
    q = with_srp_signature(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
        ),
        dims,
        planes,
        vec_col="q_vec",
    )
    c = with_srp_signature(
        corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
        ),
        dims,
        planes,
        vec_col="c_vec",
    )
    qb = _banded(q, "sig", planes, bands).drop("sig")
    cb = _banded(c, "sig", planes, bands).drop("sig")
    # Dedup bucket-mates on the id pair, NOT on rows carrying the two
    # vectors — distinct() would shuffle-compare full float arrays as
    # keys; grouping by the int pair keys the shuffle on 16 bytes and
    # carries each vector once as a value (first() over identical
    # per-id vectors is deterministic).
    cands = (
        qb.join(cb, ["band_idx", "chunk"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.first("q_vec").alias("q_vec"), F.first("c_vec").alias("c_vec"))
    )
    scored = cands.select(
        "query_id", "neighbor_id", cosine(F.col("q_vec"), F.col("c_vec")).alias("cos")
    )
    return top_k_per_group(
        scored, ["query_id"], [F.col("cos").desc(), F.col("neighbor_id")], k=k
    )


def _sq_l2(x, cent):
    """Squared L2 distances (n, k) from each row of ``x`` (n, d) to each
    row of ``cent`` (k, d) — the ONE distance loop of the quantizers
    (PQ encode per subspace, IVF assignment, IVF probe; an IVF coarse
    quantizer is PQ with one subspace). Accumulates
    dimension-SEQUENTIALLY in float64 (explicit d-loop, matching SQL
    ``list_sum``'s left fold), so the DuckDB oracles replay every
    distance, and thus every code, cluster and probe, bit-for-bit."""
    import numpy as np

    d2 = np.zeros((len(x), len(cent)), dtype=np.float64)
    for d in range(x.shape[1]):  # sequential: bit-matches list_sum
        diff = x[:, d : d + 1] - cent[:, d][None, :]
        d2 = d2 + diff * diff
    return d2


def ivf_fixed_centroids(dims: int, n_centroids: int = 16):
    """Coarse IVF centroids derived from md5 fractions — literally the
    ``pq_codebooks`` construction with ONE subspace spanning the full
    vector (m=1, ksub=n_centroids): (n_centroids, dims), each component
    uniform in [-0.25, 0.25), re-derivable anywhere including SQL. Fixed
    centroids trade recall for end-to-end replayability: no training
    collect, and a DuckDB oracle re-derives every assignment."""
    return pq_codebooks(dims, m=1, ksub=n_centroids)[0]


def ivf_fixed_assign(
    corpus: DataFrame,
    dims: int,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector its nearest md5-derived centroid (the
    inverted-list id). Arrow-batched against the closure-shipped
    centroid matrix — per-partition vectorized, zero shuffle; the
    output's ``cluster`` column is what a partitioned index layout keys
    on at rest. The same encoder as ``pq_encode`` with one subspace:
    ``_sq_l2`` distances (dimension-sequential, matching SQL
    ``list_sum``'s left fold), ties to the first minimum, so a SQL
    engine re-deriving the centroids replays every assignment
    bit-for-bit."""
    import numpy as np

    from realtime_voting_data_engineering_spark.session import (
        ensure_workers_can_import,
    )

    ensure_workers_can_import(corpus.sparkSession)
    cent = ivf_fixed_centroids(dims, n_centroids)  # (n_centroids, dims)
    corpus = valid_vectors(corpus, vec_col, dims)

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.array(list(pdf[vec_col]), dtype=np.float64)
            out = pdf[[id_col, vec_col]].copy()
            out["cluster"] = np.argmin(_sq_l2(x, cent), axis=1).astype("int32")
            yield out

    return corpus.select(id_col, vec_col).mapInPandas(
        assign,
        schema=_id_typed_schema(
            corpus, id_col, [id_col], f"{vec_col} array<float>, cluster int"
        ),
    )


def knn_ivf_fixed(
    queries: DataFrame,
    corpus: DataFrame,
    dims: int,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k over md5-derived coarse centroids: assign
    the corpus to inverted lists (corpus-linear), probe each query
    against only its ``nprobe`` of ``n_centroids`` lists, re-rank
    exactly by cosine within the probed lists — an equi-join on
    ``cluster``, never the |Q|·|C| cross product. The fixed quantizer
    makes the WHOLE index → probe → re-rank path carry a DuckDB oracle.

    Determinism: centroid components are md5-derived doubles
    (``ivf_fixed_centroids``); corpus assignment and the probe both
    take their distances from ``_sq_l2`` (dimension-sequential
    accumulation). The probe collects the query set through
    ``collect_query_matrix`` and ranks each query's centroids with a
    stable argsort, so ties break on (d2, centroid index) as in the
    oracle's ``ORDER BY d2, c`` — O(|Q|·n_centroids·dims) driver work,
    bounded by the same |Q|-small contract as ``knn_quantized``. The
    re-rank cosine is the sequential fold of ``cosine()``. Recall < 1
    by construction; tests bound it against ``knn_brute_force``."""
    import numpy as np

    _require_same_id_type(queries, corpus, id_col)
    cent = ivf_fixed_centroids(dims, n_centroids)
    assigned = ivf_fixed_assign(
        corpus, dims, n_centroids, id_col=id_col, vec_col=vec_col
    ).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        "cluster",
    )

    q_ids, q_mat, _ = collect_query_matrix(queries, id_col, vec_col, dims)
    probe = np.argsort(_sq_l2(q_mat, cent), axis=1, kind="stable")[:, :nprobe]
    probes = queries.sparkSession.createDataFrame(
        [
            (qid, vec, c)
            for qid, vec, row in zip(q_ids.tolist(), q_mat.tolist(), probe.tolist())
            for c in row
        ],
        schema=_id_typed_schema(
            corpus, id_col, ["query_id"], "q_vec array<float>, cluster int"
        ),
    )

    # Each corpus vector lives in exactly ONE inverted list, so the
    # cluster equi-join yields each (query, neighbor) pair at most once.
    cands = assigned.join(F.broadcast(probes), "cluster").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    scored = cands.select(
        "query_id",
        "neighbor_id",
        cosine(F.col("q_vec"), F.col("c_vec")).alias("cos"),
    )
    return top_k_per_group(
        scored, ["query_id"], [F.col("cos").desc(), F.col("neighbor_id")], k=k
    )


#: Query-axis block size of the Arrow scorers (``knn_quantized``'s
#: dense cosine, ``knn_pq_adc``'s ADC): peak kernel memory per yield is
#: O(chunk × batch) doubles plus the matching id arrays, INDEPENDENT of
#: |Q|, so a caller who ignores the bounded-query contract degrades in
#: wall-clock, never in per-batch peak memory. 256 query rows × a ~10k
#: Arrow batch ≈ 20 MB per block — under executor headroom while still
#: amortizing the numpy dispatch.
_QUERY_CHUNK = 256


def _cosine_score_frames(
    q_ids, q_mat, q_norm, q_valid, ids, c_mat, c_norm, c_valid,
    chunk: int, scales,
):
    """Score one Arrow batch of corpus vectors against every query,
    yielding one (query-major) output frame per ≤``chunk`` queries with
    invalid (zero/excluded) rows dropped. ``chunk`` is captured
    DRIVER-side at plan time and ships inside the pickled kernel
    closure (a module-global read here would resolve against the
    worker's fresh import — see ``_adc_score_frames``).

    Numeric contract (stated precisely — the r11 review measured the
    edges): blocking the QUERY axis slices only the matmul's N
    dimension, so every (corpus, query) dot consumes the same K
    operands — but unlike ``_adc_score_frames`` (explicit s-sequential
    adds, bit-identical under any chunk), the dot itself is a BLAS
    kernel whose K-accumulation ORDER may differ between output shapes
    (gemv- vs gemm-shaped dispatch, micro-kernel blocking). Chunked
    scores can therefore differ from the single-block result within
    reassociation distance (measured ≲2e-13 relative at dims=64) and
    rank flips are possible only between near-exact ties — the SAME
    accepted residual class as the kernel-vs-``list_sum`` caveat in
    ``knn_quantized``'s registration. What IS guaranteed, and pinned:
    (a) any query set that fits one block — |Q| ≤ chunk, which
    includes EVERY registered query (bounded serving sets ≤10 vs the
    256 default) — is bit-identical to the unchunked form (a numpy
    slice past the end returns the whole array, so the matmul shape is
    unchanged); (b) results are deterministic for a fixed (data,
    chunk): same bits across runs and partitionings; (c) on
    float32-grid inputs whose dots are exactly representable, blocking
    is provably invisible at ANY chunk
    (test_dense_query_chunking_changes_no_bits); (d) on general float
    data, top-k SETS agree across chunk sizes whenever rank gaps
    exceed reassociation distance
    (test_dense_query_chunking_reassociation_residual). Frame
    boundaries are invisible downstream: mapInPandas concatenates
    yields, and the consumer is a per-query top-k window.

    ``scales`` carries the per-corpus-row dequantization factors
    ((codes @ q) * scale == dequantized dot)."""
    import numpy as np

    n_c = len(ids)
    for lo in range(0, len(q_ids), chunk):
        dots = (c_mat @ q_mat[lo : lo + chunk].T) * scales[:, None]
        sims = dots / np.outer(c_norm, q_norm[lo : lo + chunk])
        n_q = sims.shape[1]
        keep = np.outer(c_valid, q_valid[lo : lo + chunk]).T.reshape(-1)
        yield pd.DataFrame(
            {
                "query_id": np.repeat(q_ids[lo : lo + chunk], n_c),
                "neighbor_id": np.tile(ids, n_q),
                "cos": sims.T.reshape(-1),
            }
        )[keep]


def knn_quantized(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k neighbors scored against the int8-QUANTIZED corpus — the
    serving shape quantization buys at scale: the scan reads 4× fewer
    bytes per vector and the kernel matmuls the int8 codes directly,
    applying each row's dequantization scale to the accumulated dot
    product (exactly equal to dequantize-then-dot, but without ever
    materializing the float corpus). Approximate only by quantization
    error; recall vs the float path is pytest-measured. Per-batch kernel
    memory is O(``_QUERY_CHUNK`` × batch) regardless of |Q|."""
    import numpy as np

    from realtime_voting_data_engineering_spark.session import (
        ensure_workers_can_import,
    )

    _require_same_id_type(queries, corpus, id_col)
    ensure_workers_can_import(corpus.sparkSession)
    q_chunk = _QUERY_CHUNK  # driver-side capture: ships in the closure
    out_schema = _id_typed_schema(
        corpus, id_col, ["query_id", "neighbor_id"], "cos double"
    )
    # Full contract (NULL + ragged) on both sides: dims comes from the
    # collected query matrix and gates the corpus scan (r6 ADVICE #1).
    q_ids, q_mat, dims = collect_query_matrix(queries, id_col, vec_col)
    if not len(q_ids):  # nothing to score, and no dims to gate the corpus
        return queries.sparkSession.createDataFrame([], out_schema)
    q_norm = np.linalg.norm(q_mat, axis=1)
    q_valid = q_norm > 0  # zero queries match nothing (0/0 NaN sorts first)
    q_norm[~q_valid] = np.inf

    quant = quantize_embeddings(corpus, id_col=id_col, vec_col=vec_col, dims=dims)

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            codes = np.array(list(pdf["qvec"]), dtype=np.int8)
            if len(codes) == 0:
                continue
            scales = pdf["scale"].to_numpy(dtype=np.float64)
            # (codes @ q) * scale == dequantized dot; int codes keep the
            # matmul input 4× smaller than the float corpus.
            codes_f = codes.astype(np.float64)
            c_norm = np.linalg.norm(codes_f, axis=1) * scales
            c_valid = c_norm > 0  # zero vectors match nothing: drop, don't rank
            c_norm[~c_valid] = np.inf
            yield from _cosine_score_frames(
                q_ids, q_mat, q_norm, q_valid, pdf[id_col].to_numpy(),
                codes_f, c_norm, c_valid, q_chunk, scales=scales,
            )

    scored = quant.mapInPandas(score, schema=out_schema)
    return top_k_per_group(
        scored.filter(F.col("query_id") != F.col("neighbor_id")),
        ["query_id"],
        [F.col("cos").desc(), F.col("neighbor_id")],
        k=k,
    )


def pq_codebooks(dims: int, m: int = 8, ksub: int = 16):
    """Deterministic product-quantization codebooks (m, ksub, dims//m),
    each component uniform in [-0.25, 0.25): md5('pq|<sub>|<code>|<dim>')
    first 8 hex chars as a 32-bit fraction — the same no-RNG-state,
    derive-anywhere construction as ``srp_hyperplanes``, so executors
    need no broadcast and a SQL oracle can re-derive every centroid.
    The ±0.25 range matches unit-normalized embeddings (component scale
    ~1/√dims ≈ 0.125 at 64 dims); codebooks an order of magnitude wider
    than the data destroy assignment signal. Fixed codebooks are the
    portable baseline; k-means-trained ones would buy recall at the cost
    of replayability."""
    import hashlib

    import numpy as np

    dsub = dims // m
    return np.array(
        [
            [
                [
                    0.5
                    * (
                        int(
                            hashlib.md5(f"pq|{s}|{c}|{d}".encode()).hexdigest()[:8],
                            16,
                        )
                        / float(2**32)
                    )
                    - 0.25
                    for d in range(dsub)
                ]
                for c in range(ksub)
            ]
            for s in range(m)
        ],
        dtype=np.float64,
    )


def pq_encode(
    df: DataFrame,
    dims: int,
    m: int = 8,
    ksub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "pq_codes",
) -> DataFrame:
    """Product-quantization encoding: split each vector into ``m``
    subvectors, snap each to its nearest of ``ksub`` codebook centroids
    (L2, first-min tie-break), emit the code string — dims×4 bytes
    becomes m bytes (64× here), the compression that makes billion-scale
    ANN indexes fit in memory (Jégou et al., the FAISS `PQx` family).

    Arrow-batched mapInPandas kernel (the expression form would be
    m×ksub×dsub ≈ 1k codegen terms — the 64 KB-method cliff
    ``with_srp_signature`` documents). Determinism contract: distances
    accumulate dimension-SEQUENTIALLY (explicit d-loop, matching SQL
    ``list_sum``'s left fold) and every centroid is an md5-derived
    double, so the oracle replays encode bit-for-bit. Codes serialize as
    CSV — driver-canonicalizable, and how codes land in parquet at rest.
    """
    import numpy as np

    from realtime_voting_data_engineering_spark.session import (
        ensure_workers_can_import,
    )

    assert dims % m == 0, "dims must divide into m equal subvectors"
    ensure_workers_can_import(df.sparkSession)
    cb = pq_codebooks(dims, m, ksub)  # (m, ksub, dsub)
    base = valid_vectors(df, vec_col, dims).select(id_col, vec_col)
    out_schema = _id_typed_schema(base, id_col, [id_col], f"{out_col} string")

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.array(list(pdf[vec_col]), dtype=np.float64)
            codes = _pq_encode_batch(x, cb)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].values,
                    out_col: [",".join(map(str, row)) for row in codes],
                }
            )

    return base.mapInPandas(encode, schema=out_schema)


def _pq_encode_batch(x, cb):
    """Encode one numpy batch ``x`` (n, dims) to PQ codes (n, m) against
    codebooks ``cb`` (m, ksub, dsub): per subspace, the nearest centroid
    by ``_sq_l2`` (dimension-sequential), ties to the FIRST minimum
    (``np.argmin``), so the oracle replays every code bit-for-bit. Its
    users: :func:`pq_encode` (codes at rest) and the fused
    :func:`knn_pq_adc` kernel (codes scored in place) — one encoder, so
    the two cannot diverge on tie-break or accumulation order."""
    import numpy as np

    dsub = cb.shape[2]
    return np.stack(
        [
            np.argmin(_sq_l2(x[:, s * dsub : (s + 1) * dsub], cb[s]), axis=1)
            for s in range(len(cb))
        ],
        axis=1,
    )


def _require_same_id_type(queries: DataFrame, corpus: DataFrame, id_col: str) -> None:
    """Refuse mismatched id types between the query frame and the
    corpus frame, loudly and at PLAN time, before any job runs.
    Callers — the three kernels that collect their queries through
    ``collect_query_matrix`` and emit a query-side id next to a
    corpus-side id, both typed from the corpus side by
    ``_id_typed_schema``: ``knn_quantized``, ``knn_ivf_fixed`` and
    ``knn_pq_adc``.

    Cross-family mixes are always refused: string vs numeric makes the
    self-match exclusion vacuous (everything compares unequal, so a
    vector wins its own top-k — ADVICE r9 #3), and int vs double rounds
    ids beyond 2^53 so a neighbor can FALSELY equal its query. Mixed
    integral widths are allowed only when the query id is no wider than
    the corpus id: the output ``query_id`` takes the corpus type, and
    under Spark's default unsafe Arrow cast a too-wide query id would
    silently WRAP (ADVICE r10 #1). The engine pins
    ``convertToArrowArraySafely`` true as the runtime backstop, but
    direct callers may hold a session that never passed through
    ``load_table``."""
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    width = {ByteType: 1, ShortType: 2, IntegerType: 4, LongType: 8}
    qt = queries.schema[id_col].dataType
    ct = corpus.schema[id_col].dataType
    if qt == ct:
        return
    if type(qt) in width and type(ct) in width:
        if width[type(qt)] <= width[type(ct)]:
            # Output query_id takes the corpus side's (wider or equal)
            # type; the collected query ids upcast exactly.
            return
        raise TypeError(
            f"id column {id_col!r} width mismatch: queries side is {qt}, "
            f"corpus side is {ct} — the output query_id takes the "
            "corpus side's narrower type and the unsafe Arrow "
            "cast would silently WRAP an out-of-range query id; cast "
            "the corpus side wider (or the queries side narrower) "
            "before calling"
        )
    raise TypeError(
        f"id column {id_col!r} type mismatch: queries side is {qt}, "
        f"corpus side is {ct} — self-match exclusion would be "
        "silently vacuous; cast one side before calling"
    )


def _pq_query_luts(q_mat, cb):
    """Each query's m×ksub lookup table of subvector · centroid dots,
    (n, m, ksub) for the query matrix ``q_mat`` (n, dims) from
    ``collect_query_matrix`` — ``luts[i]`` pairs with ``q_ids[i]``.
    Vectorized over queries and subspaces; the dots still accumulate
    dimension-SEQUENTIALLY so DuckDB's ``list_sum`` replays them
    bit-for-bit."""
    import numpy as np

    m, ksub, dsub = cb.shape
    q3 = q_mat.reshape(len(q_mat), m, dsub)
    luts = np.zeros((len(q_mat), m, ksub), dtype=np.float64)
    for d in range(dsub):  # sequential: bit-matches list_sum
        luts = luts + q3[:, :, d, None] * cb[None, :, :, d]
    return luts


def _adc_score_frames(qids_arr, luts_arr, ids, code_mat, m: int, chunk: int):
    """Score one Arrow batch of PQ codes against every query LUT,
    yielding one output frame per ≤``chunk`` queries (self-matches
    dropped). ``chunk`` is captured DRIVER-side at plan time and ships
    inside the pickled kernel closure — a module global read here would
    resolve against the worker's fresh import and make the size
    untestable. Per query the accumulation is subspace-SEQUENTIAL
    (s-loop) — identical add order to a per-query loop, and blocking the
    QUERY axis touches no per-score arithmetic, so the vectorization
    changes no bits (pinned by
    test_pq_adc_query_chunking_changes_no_bits). Frame boundaries are
    invisible downstream: mapInPandas concatenates yields, and the
    consumer is a per-query top-k window."""
    import numpy as np

    n = len(ids)
    for lo in range(0, len(qids_arr), chunk):
        q_chunk = qids_arr[lo : lo + chunk]
        lut_chunk = luts_arr[lo : lo + chunk]
        acc = np.zeros((len(q_chunk), n), dtype=np.float64)
        for s in range(m):  # sequential per query: bit-matches list_sum
            acc = acc + lut_chunk[:, s, :][:, code_mat[:, s]]
        qcol = np.repeat(q_chunk, n)
        ncol = np.tile(ids, len(q_chunk))
        keep = qcol != ncol
        yield pd.DataFrame(
            {
                "query_id": qcol[keep],
                "neighbor_id": ncol[keep],
                "adc_dot": acc.ravel()[keep],
            }
        )


def knn_pq_adc(
    queries: DataFrame,
    corpus: DataFrame,
    dims: int,
    m: int = 8,
    ksub: int = 16,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes — PQ's serving
    path: each query precomputes an m×ksub lookup table of subvector ·
    centroid dots, and scoring a corpus vector is m table lookups + m-1
    adds over its 8-byte code (Jégou et al.; FAISS IndexPQ search).
    This float-input form encodes the corpus and scores it in ONE fused
    Arrow kernel — the r5-r8 shape chained ``pq_encode``'s kernel into a
    separate scoring kernel, paying a second JVM↔Python Arrow crossing
    (with codes serialized as CSV strings on the wire) plus one output
    frame PER QUERY per batch; fusing recovered ~0.12-0.17 s of the
    panel's four-round drift at sf0.1 (SCALE.md "Round-9 knn_pq_adc
    attribution"). ``pq_encode`` emits the same codes for storage at
    rest (one shared ``_pq_encode_batch``).

    Scale shape: vectors stream through the kernel against the
    closure-captured LUT stack (O(|Q|·m·ksub) doubles — tiny by
    contract, like ``knn_quantized``'s query matrix); no
    shuffle until the |Q|·k top-k window. Queries pass the one
    boundary, ``collect_query_matrix``. Determinism: LUT dots
    accumulate dimension-sequentially, scores subspace-sequentially, so
    DuckDB replays the ranking bit-for-bit (scores are approximate
    INNER-PRODUCT surrogates — recall vs exact cosine is pytest-bounded,
    the ranking itself is exact). Queries are scored in blocks of
    ``_QUERY_CHUNK``."""
    import numpy as np

    from realtime_voting_data_engineering_spark.session import (
        ensure_workers_can_import,
    )

    assert dims % m == 0, "dims must divide into m equal subvectors"
    ensure_workers_can_import(queries.sparkSession)
    _require_same_id_type(queries, corpus, id_col)
    q_chunk = _QUERY_CHUNK  # driver-side capture: ships in the closure
    cb = pq_codebooks(dims, m, ksub)  # (m, ksub, dsub)
    q_ids, q_mat, _ = collect_query_matrix(queries, id_col, vec_col, dims)
    luts = _pq_query_luts(q_mat, cb)

    base = valid_vectors(corpus, vec_col, dims).select(id_col, vec_col)
    out_schema = _id_typed_schema(
        base, id_col, ["query_id", "neighbor_id"], "adc_dot double"
    )

    def encode_and_score(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf) or not len(q_ids):
                continue
            x = np.array(list(pdf[vec_col]), dtype=np.float64)
            yield from _adc_score_frames(
                q_ids, luts, pdf[id_col].values, _pq_encode_batch(x, cb), m,
                q_chunk,
            )

    scored = base.mapInPandas(encode_and_score, schema=out_schema)
    top = top_k_per_group(
        scored,
        ["query_id"],
        [F.col("adc_dot").desc(), F.col("neighbor_id")],
        k=k,
    )
    return top.withColumn("adc_dot", F.round("adc_dot", 6))
