"""North-star query registrations: dedup, text analysis, similarity
search over the documents/embeddings corpus (BASELINE.json).

Oracle strategy: every operator whose algorithm is portable (md5-based
hashing, double-precision folds, linear/clamped scoring) gets a full
DuckDB replay — including MinHash, SimHash, SRP banding, int8
quantization, and the fake media decoder, all built on md5-derived
constants precisely so both engines can compute them. Every
registration carries an oracle (``register`` refuses one without); the
approximate operators' recall against their exact variants is covered
in pytest.

Imported for its registration side effects by
``realtime_voting_data_engineering_spark.queries``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from realtime_voting_data_engineering_spark.functions.scalar import dec
from realtime_voting_data_engineering_spark.operators import dedup as D
from realtime_voting_data_engineering_spark.operators import multimodal as M
from realtime_voting_data_engineering_spark.operators import relational as R
from realtime_voting_data_engineering_spark.operators import similarity as S
from realtime_voting_data_engineering_spark.operators import text as X
from realtime_voting_data_engineering_spark.queries import register
from realtime_voting_data_engineering_spark.sources.tables import (
    load_table,
    small_scan_parallelism,
    widen_small_scan,
)

# --- shared SQL fragments ---------------------------------------------------

_STOPWORDS_SQL = ", ".join(f"'{w}'" for w in X.STOPWORDS)
_SHINGLES_CTE = r"""
toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, s FROM toks,
    UNNEST(list_transform(generate_series(1, len(w)-2),
                          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS t(s)
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
jac AS (
  SELECT id_a, id_b,
         round(n_inter * 1.0 / (sa.n + sb.n - n_inter), 6) AS jaccard
  FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
)
"""

_COS_SQL = (
    "list_sum(list_transform(list_zip({a}, {b}),"
    " x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"
    " / (sqrt(list_sum(list_transform({a}, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))"
    " * sqrt(list_sum(list_transform({b}, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))))"
)


def _minhash_oracle(num_hashes: int = 16, bands: int = 4, threshold: float = 0.5) -> str:
    """Replays minhash_dedup_pairs exactly: one 32-bit md5-prefix base
    hash per shingle, ``num_hashes`` linear permutations with the SAME
    (a_i, b_i) literals the Spark side derives (dedup.minhash_perm_constants),
    identical banding, exact-Jaccard verification."""
    rows = num_hashes // bands
    base = "CAST('0x' || substr(md5(s), 1, 8) AS BIGINT)"
    perms = D.minhash_perm_constants(num_hashes)
    mh_cols = ", ".join(
        f"min(({a} * base + {b}) % {D.MINHASH_PRIME}) AS h{i}"
        for i, (a, b) in enumerate(perms)
    )
    band_selects = []
    for b in range(bands):
        key = " || '|' || ".join(
            f"CAST(h{b * rows + r} AS VARCHAR)" for r in range(rows)
        )
        band_selects.append(
            f"SELECT doc_id, {b} AS band_idx, md5({key}) AS band_key FROM mh"
        )
    bands_sql = "\nUNION ALL\n".join(band_selects)
    return f"""
    WITH {_SHINGLES_CTE},
    mhb AS (SELECT doc_id, {base} AS base FROM sh),
    mh AS (SELECT doc_id, {mh_cols} FROM mhb GROUP BY doc_id),
    bands AS ({bands_sql}),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
    )
    SELECT c.id_a, c.id_b, j.jaccard
    FROM cand c JOIN jac j ON c.id_a = j.id_a AND c.id_b = j.id_b
    WHERE j.jaccard >= {threshold}
    """


# --- text analysis ----------------------------------------------------------

_LANG_SCORE_SQL = {
    lang: (
        "len(list_filter(list_transform(w, t -> lower(t)), "
        f"t -> t IN ({', '.join(repr(m) for m in markers)})))"
    )
    for lang, markers in X.LANG_MARKERS.items()
}
_BEST_SQL = "greatest(" + ", ".join(f"s_{lg}" for lg in X.LANG_MARKERS) + ")"
_LANG_CASE = (
    "CASE WHEN " + _BEST_SQL + " = 0 THEN 'und' "
    + " ".join(
        f"WHEN s_{lg} = {_BEST_SQL} THEN '{lg}'" for lg in sorted(X.LANG_MARKERS)
    )
    + " ELSE 'und' END"
)

_TEXT_PROFILE_ORACLE = rf"""
WITH base AS (
  SELECT doc_id, text,
         length(text) AS n_chars,
         regexp_split_to_array(trim(text), '\s+') AS w,
         len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]'))
             AS n_bpe_tokens,
         len(regexp_extract_all(text, '[.,;:!?]')) AS n_punct
  FROM documents
),
feat AS (
  SELECT doc_id, text, n_chars, n_bpe_tokens, n_punct,
         len(w) AS n_tokens,
         len(list_filter(w, t -> lower(t) IN ({_STOPWORDS_SQL}))) AS n_stop,
         {", ".join(f"{expr} AS s_{lg}" for lg, expr in _LANG_SCORE_SQL.items())}
  FROM base
)
SELECT doc_id, n_chars, n_tokens, n_bpe_tokens,
       round((n_chars - (n_tokens - 1)) * 1.0 / greatest(n_tokens, 1), 6)
           AS avg_token_len,
       round(n_punct * 1.0 / greatest(n_chars, 1), 6) AS punct_ratio,
       round(n_stop * 1.0 / greatest(n_tokens, 1), 6) AS stopword_ratio,
       round((least(n_chars / 500.0, 1.0)
            + least((n_stop * 1.0 / greatest(n_tokens, 1)) * 4.0, 1.0)
            + greatest(1.0 - (n_punct * 1.0 / greatest(n_chars, 1)) * 10.0, 0.0))
            / 3.0, 6) AS quality_score,
       {_LANG_CASE} AS lang_pred,
       md5(trim(regexp_replace(translate(coalesce(text, ''), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+', ' ', 'g'))) AS fingerprint
FROM feat
"""


@register("text_profile", _TEXT_PROFILE_ORACLE, headline=True, tags=("text", "northstar"))
def text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document text analysis: char/token/BPE-ish counts, punct and
    stopword ratios, composite quality score, marker-based language ID,
    content fingerprint. The OPERATOR stays pure codegen with zero
    shuffle (corpus-linear at any SF, pinned in tests/test_plans.py);
    the regex/tokenize stack is the heaviest per-row work in the text
    family, so this query site widens a split-starved scan across the
    session's slots first (``widen_small_scan``, r15 guide §2.2 —
    measured sf0.1 min-of-3: 0.73 → 0.42 s; a no-op on any multi-split
    deployment)."""
    docs = widen_small_scan(
        load_table(spark, sf_dir, "documents"), spark, sf_dir, "documents"
    )
    return X.text_profile(docs)


_CHUNK_TOKENS, _CHUNK_OVERLAP = 32, 8
_CHUNK_STRIDE = _CHUNK_TOKENS - _CHUNK_OVERLAP

_CHUNK_ORACLE = rf"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
meta AS (
  SELECT doc_id, w,
         CASE WHEN len(w) <= {_CHUNK_TOKENS} THEN 1
              ELSE 1 + CAST(ceil((len(w) - {_CHUNK_TOKENS}) * 1.0
                                 / {_CHUNK_STRIDE}) AS INT) END AS n_chunks
  FROM toks),
idx AS (
  SELECT doc_id, w, UNNEST(generate_series(0, n_chunks - 1)) AS chunk_idx
  FROM meta)
SELECT doc_id, chunk_idx,
       array_to_string(
         array_slice(w, chunk_idx * {_CHUNK_STRIDE} + 1,
                        chunk_idx * {_CHUNK_STRIDE} + {_CHUNK_TOKENS}), ' ')
           AS chunk_text,
       len(array_slice(w, chunk_idx * {_CHUNK_STRIDE} + 1,
                          chunk_idx * {_CHUNK_STRIDE} + {_CHUNK_TOKENS}))
           AS n_chunk_tokens
FROM idx
"""


@register("document_chunks", _CHUNK_ORACLE, tags=("text", "chunking", "northstar"))
def document_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (32-token chunks, 8-token
    overlap) — the LLM-ingest preprocessing step between cleaning and
    embedding. One row per chunk; corpus-linear explode, no shuffle;
    the DuckDB oracle replays the identical slice arithmetic."""
    return X.chunk_documents(
        load_table(spark, sf_dir, "documents"),
        chunk_tokens=_CHUNK_TOKENS,
        overlap=_CHUNK_OVERLAP,
    )


@register(
    "doc_fingerprint_clusters",
    r"""
    SELECT md5(trim(regexp_replace(translate(coalesce(text, ''), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+', ' ', 'g'))) AS fp,
           count(*) AS n_docs,
           min(doc_id) AS canonical_id
    FROM documents
    GROUP BY 1
    """,
    tags=("dedup", "northstar"),
)
def doc_fingerprint_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-content dedup clusters via md5(normalized text) — the 100 TB
    default dedup: one shuffle keyed on a 16-byte fingerprint."""
    return D.fingerprint_dup_clusters(load_table(spark, sf_dir, "documents"))


@register(
    "ngram_near_dup_pairs",
    f"""
    WITH {_SHINGLES_CTE}
    SELECT id_a, id_b, jaccard FROM jac WHERE jaccard >= 0.5
    """,
    tags=("dedup", "northstar"),
)
def ngram_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs word-trigram Jaccard ≥ 0.5 via shingle inverted index —
    the exact near-dup measure (verification tier for LSH variants)."""
    return D.ngram_jaccard_pairs(load_table(spark, sf_dir, "documents"), threshold=0.5)


@register(
    "minhash_lsh_dedup",
    _minhash_oracle(num_hashes=16, bands=4, threshold=0.5),
    headline=True,
    tags=("dedup", "northstar"),
)
def minhash_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16)+LSH(4 bands) near-dup pairs, exact-Jaccard-verified at
    ≥ 0.5. The oracle replays the identical md5-based algorithm, so this
    checks the full signature→banding→verification pipeline, not just
    the final measure. The signature stage — the pipeline's dominant
    cost — runs at ``signature_parallelism`` (the ≤-one-split widening
    gate) so the shingle-explode + md5 work parallelizes when the
    source scan cannot split (r15, guide §2.2; measured 1.57 → 1.30 s
    at sf0.1, no-op at scale); verification keeps the unwidened frame
    (tiny candidate subset — an exchange there measured as pure
    overhead)."""
    docs = load_table(spark, sf_dir, "documents")
    return D.minhash_dedup_pairs(
        docs,
        num_hashes=16,
        bands=4,
        threshold=0.5,
        signature_parallelism=small_scan_parallelism(spark, sf_dir, "documents"),
    )


_CLUSTER_ORACLE = f"""
WITH RECURSIVE p AS (
  SELECT * FROM ({_minhash_oracle(num_hashes=16, bands=4, threshold=0.5)}) t),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM p
  UNION SELECT id_b, id_a FROM p),
nodes AS (SELECT DISTINCT src AS id FROM edges),
reach(src, dst) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
SELECT src AS id_a, min(dst) AS cluster_id FROM reach GROUP BY src
"""


@register(
    "near_dup_clusters",
    _CLUSTER_ORACLE,
    headline=True,  # most expensive new operator class — track round over round
    tags=("dedup", "northstar"),
)
def near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup endgame: MinHash-LSH verified pairs → connected
    components → one cluster id (min doc id) per near-dup doc, so a
    pipeline keeps one canonical doc per cluster. The pair set stays
    under ``connected_components``' edge gate at every corpus scale this
    repo runs (665k edges at the scale probe's largest), so the driver
    union-find answers; the oracle computes the same transitive closure
    with a recursive CTE. Signature input widened as in
    ``minhash_lsh_dedup`` (r15)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_dedup_pairs(
        docs,
        num_hashes=16,
        bands=4,
        threshold=0.5,
        signature_parallelism=small_scan_parallelism(spark, sf_dir, "documents"),
    )
    return D.connected_components(pairs)


@register("near_dup_clusters_star", _CLUSTER_ORACLE, tags=("dedup", "northstar"))
def near_dup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Twin of ``near_dup_clusters`` forced onto star contraction
    (Kiveris et al.), the distributed engine ``connected_components``
    runs above its edge gate, so the driver contract checks that engine
    against the same recursive-CTE closure oracle at every scale. The
    pairs get the same lazy checkpoint ``connected_components`` gives
    them. O(log n)-round convergence on chain-shaped components is
    separately pytest-proven on a planted 1000-node path. Signature
    input widened as in ``minhash_lsh_dedup`` (r15)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_dedup_pairs(
        docs,
        num_hashes=16,
        bands=4,
        threshold=0.5,
        signature_parallelism=small_scan_parallelism(spark, sf_dir, "documents"),
    )
    return D.connected_components_star(pairs.localCheckpoint(eager=False))


_WINNOW_ORACLE = r"""
WITH codes AS (
  SELECT doc_id,
         list_transform(
           string_split(trim(regexp_replace(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+', ' ', 'g')), ''),
           c -> CAST(unicode(c) AS BIGINT)) AS cs
  FROM documents
),
kh AS (
  SELECT doc_id, list_transform(generate_series(1, len(cs) - 11),
    i -> (list_reduce(list_prepend(0::BIGINT, cs[i:i+11]),
                      (acc, c) -> (acc * 257 + c) % 2147483647)
          * 2654435761) % 2147483647) AS hs
  FROM codes WHERE len(cs) >= 12
),
sel AS (
  SELECT DISTINCT doc_id, fp FROM kh,
    UNNEST(list_transform(generate_series(1, greatest(len(hs) - 7, 1)),
                          j -> list_min(hs[j:j+7]))) AS t(fp)
),
rare AS (SELECT fp FROM sel GROUP BY fp HAVING count(*) <= 50),
kept AS (SELECT sel.doc_id, sel.fp FROM sel JOIN rare USING (fp))
SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING count(*) >= 3
ORDER BY n_shared DESC, id_a, id_b LIMIT 100
"""


@register("winnow_overlap_topk", _WINNOW_ORACLE, tags=("dedup", "northstar"))
def winnow_overlap_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 partial-overlap pairs by winnowing fingerprint count
    (``dedup.winnow_overlap_pairs``; Schleimer et al. winnowing with
    k=12, window=8, document-frequency cut 50). The rolling-hash
    fingerprint family from SURVEY's training-data surface: catches
    shared *passages* between documents whose whole-document similarity
    is low. Exact int64 polynomial hashing, so the DuckDB oracle replays
    fingerprint selection bit-for-bit; output is a total order
    (n_shared DESC, id_a, id_b) so top-100 is deterministic. Input
    widened when the scan provably cannot split (r15): the O(len·k)
    rolling-hash derivation is the family's heaviest per-row stack,
    and together with the operator's new fingerprint materialization
    this measured 10.7 → 2.3 s at sf0.1 (no-op at scale)."""
    pairs = D.winnow_overlap_pairs(
        widen_small_scan(
            load_table(spark, sf_dir, "documents"), spark, sf_dir, "documents"
        ),
        k=12, window=8, max_df=50,
        min_shared=3,
    )
    return pairs.orderBy(
        F.col("n_shared").desc(), F.col("id_a"), F.col("id_b")
    ).limit(100)


_SIMHASH_ORACLE = r"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
  FROM documents
),
hashed AS (
  SELECT doc_id,
         ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h1,
         ('0x' || substr(md5(tok), 9, 8))::BIGINT AS h2
  FROM toks
),
votes AS (
  SELECT doc_id, b.bit,
         SUM(CASE WHEN ((CASE WHEN b.bit < 32 THEN h1 >> b.bit
                              ELSE h2 >> (b.bit - 32) END) & 1) = 1
                  THEN 1 ELSE -1 END) AS v
  FROM hashed, (SELECT unnest(range(64)) AS bit) b
  GROUP BY doc_id, b.bit
),
sig AS (
  SELECT doc_id,
         SUM(CASE WHEN v > 0 THEN
               CASE WHEN bit = 63 THEN (-9223372036854775807 - 1)
                    ELSE (1::BIGINT << bit) END
             ELSE 0 END)::BIGINT AS sh
  FROM votes GROUP BY doc_id
),
chunks AS (
  SELECT doc_id, sh, i.chunk_idx, (sh >> (i.chunk_idx * 16)) & 65535 AS chunk
  FROM sig, (SELECT unnest([0, 1, 2, 3]) AS chunk_idx) i
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       bit_count(xor(a.sh, b.sh))::INTEGER AS hamming
FROM chunks a
JOIN chunks b ON a.chunk_idx = b.chunk_idx AND a.chunk = b.chunk
            AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.sh, b.sh)) <= 8
"""


@register("simhash_near_dup", _SIMHASH_ORACLE, tags=("dedup", "northstar"))
def simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash(64-bit) near-dup pairs, Hamming ≤ 8, banded by 16-bit
    chunks. The r4 rewrite derives the 64 hash bits from two md5-prefix
    halves (``dedup.simhash_table``), so the full fingerprint → band →
    Hamming-verify pipeline is replayed bit-for-bit by the DuckDB oracle
    — the last hash-based dedup family graduates from rows-only to a
    hash-matched driver check. Pytest separately verifies planted
    near-dups are found. Input widened when the scan provably cannot
    split (r15): the tokenize + 64-vote fingerprint aggregation is the
    heavy stage; with the operator's fingerprint materialization this
    measured 2.7 → 2.3 s at sf0.1 (no-op at scale)."""
    return D.simhash_near_dup_pairs(
        widen_small_scan(
            load_table(spark, sf_dir, "documents"), spark, sf_dir, "documents"
        ),
        max_hamming=8,
    )


# --- similarity search ------------------------------------------------------

#: Single-source vector-validity predicates for every embedding oracle
#: (the constants live with the operator contract in
#: operators.similarity; pinned verbatim-in-oracle by
#: tests/test_registry_order.py). The 64 is the corpus's declared
#: embedding dimensionality (TESTDATA.md) — used wherever the Spark
#: side is dims-gated.
_VALID_EMB = S.ORACLE_VALID_VEC.format(col="embedding")
_VALID_EMB64_A = S.ORACLE_VALID_VEC_DIMS.format(col="a.embedding", dims=64)
_VALID_EMB64_B = S.ORACLE_VALID_VEC_DIMS.format(col="b.embedding", dims=64)
_VALID_EMB64 = S.ORACLE_VALID_VEC_DIMS.format(col="embedding", dims=64)

_KNN_ORACLE = f"""
WITH q AS (
  -- query window deduped by id (r7 review): a colliding id inside the
  -- window would otherwise merge two rows' candidates into a chimera
  -- top-k while Spark's limit(10) drops one arbitrarily
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings
  WHERE vec_id BETWEEN 0 AND 9 AND {_VALID_EMB64}
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY embedding) = 1
),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings
      WHERE {_VALID_EMB64}),
scored AS (
  SELECT query_id, neighbor_id, {_COS_SQL.format(a="qv", b="cv")} AS cos_raw
  FROM q, c WHERE query_id != neighbor_id
)
SELECT query_id, neighbor_id, round(cos_raw, 6) AS cos
FROM scored
QUALIFY row_number() OVER (
    PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id) <= 5
"""


@register("knn_cosine_topk", _KNN_ORACLE, tags=("similarity", "northstar"))
def knn_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for query vectors vec_id < 10. Double-
    precision sequential fold == DuckDB's list_sum, so similarity values
    hash-match bit-for-bit."""
    emb = load_table(spark, sf_dir, "embeddings")
    # .limit(10) is a semantic no-op (vec_id is unique) but makes the
    # query-side bound plan-visible, so the broadcast-hint scale lint in
    # tests/test_plans.py can prove the broadcast is SF-independent.
    # query window deduped by id (r7 review): see the oracle comment
    queries = S.unique_by_id(emb.filter(F.col("vec_id").between(0, 9)), dims=64).limit(10)
    out = S.knn_brute_force(queries, emb, k=5, dims=64)
    return out.withColumn("cos", F.round("cos", 6))


_NEAR_DUP_EMB_ORACLE = f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round({_COS_SQL.format(a="a.embedding", b="b.embedding")}, 6) AS cos
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE {_VALID_EMB64_A} AND {_VALID_EMB64_B}
  AND round({_COS_SQL.format(a="a.embedding", b="b.embedding")}, 6) >= 0.4
"""


@register(
    "embedding_near_dup_pairs", _NEAR_DUP_EMB_ORACLE, tags=("similarity", "northstar")
)
def embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (cos ≥ 0.4) — all-pairs exact
    form; the SRP-LSH candidate generator is the scale path (tested via
    recall in pytest). Input widened when the scan provably cannot
    split (r15): the all-pairs nested-loop join inherits the streamed
    side's partitioning, so a single-split scan ran the ENTIRE |C|²
    interpreted-cosine sweep on one core — the worst single-core
    pipeline in the registry (measured 34.7 → 2.6 s at sf0.1; no-op at
    scale, where this verification-tier form is only ever run on
    bounded slices anyway)."""
    return S.near_dup_embeddings(
        widen_small_scan(
            load_table(spark, sf_dir, "embeddings"), spark, sf_dir, "embeddings"
        ),
        threshold=0.4,
        dims=64,
    )


def _srp_bits_sql(dims: int, planes: int) -> str:
    """Per-plane sign bits (b0..b{planes-1}) against the SAME md5-derived
    hyperplane literals the Spark kernel builds
    (similarity.srp_hyperplanes). Spark computes the dots with a numpy
    matmul and DuckDB with a sequential list_sum, so the two can
    disagree only if a dot product lands within float-reassociation
    distance (~1e-13 relative) of exactly 0 — measure-zero on real
    embeddings."""
    h = S.srp_hyperplanes(dims, planes)
    return ", ".join(
        "CASE WHEN list_sum(list_transform(list_zip(embedding, ["
        + ", ".join(repr(float(w)) for w in h[p])
        + "]), x -> CAST(x[1] AS DOUBLE) * x[2])) > 0 THEN 1 ELSE 0 END"
        f" AS b{p}"
        for p in range(planes)
    )


def _srp_band_selects(planes: int, bands: int) -> str:
    """One SELECT per LSH band over the ``sig`` CTE, packing each band's
    sign bits into the same little-endian chunk ints similarity._banded
    extracts with shiftright/bitwiseAND."""
    bits_per_band = planes // bands
    return "\nUNION ALL\n".join(
        f"SELECT vec_id, {b} AS band_idx, "
        + " + ".join(
            f"{1 << r} * b{b * bits_per_band + r}" for r in range(bits_per_band)
        )
        + " AS chunk FROM sig"
        for b in range(bands)
    )


def _srp_oracle(
    dims: int = 64, planes: int = 32, bands: int = 8, threshold: float = 0.4
) -> str:
    """Replays near_dup_embeddings_srp end to end: sign-bit banding
    (_srp_bits_sql), candidate join on (band_idx, chunk), exact-cosine
    verification of candidates only — the verify stage's cosine replay
    is the already-proven-portable _COS_SQL."""
    bit_cols = _srp_bits_sql(dims, planes)
    band_selects = _srp_band_selects(planes, bands)
    valid = S.ORACLE_VALID_VEC_DIMS.format(col="embedding", dims=dims)
    cos = _COS_SQL.format(a="ea.embedding", b="eb.embedding")
    return f"""
    WITH sig AS (SELECT vec_id, {bit_cols} FROM embeddings
                 WHERE {valid}),
    bands AS ({band_selects}),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.chunk = b.chunk
       AND a.vec_id < b.vec_id
    )
    SELECT c.id_a, c.id_b, round({cos}, 6) AS cos
    FROM cand c
    JOIN embeddings ea ON ea.vec_id = c.id_a
    JOIN embeddings eb ON eb.vec_id = c.id_b
    WHERE round({cos}, 6) >= {threshold}
    """


@register(
    "embedding_near_dup_srp",
    _srp_oracle(dims=64, planes=32, bands=8, threshold=0.4),
    tags=("similarity", "dedup", "northstar"),
)
def embedding_near_dup_srp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale path in front of ``embedding_near_dup_pairs``: SRP-LSH
    candidate generation (32 planes, 8 bands, corpus-linear band-key
    shuffle) followed by exact cosine verification of candidates only.
    Approximate vs the all-pairs form (recall ≈0.8 at this corpus's
    loose 0.4 threshold, ≈0.995 at production ≥0.9 thresholds;
    false-positive-free because verification is exact; pytest measures
    recall) — but fully DETERMINISTIC given the md5-derived hyperplanes,
    so the oracle replays the whole candidate→verify pipeline and the
    driver hash-checks it like minhash's.

    r15: when the corpus is provably in the tiny-input regime (the
    ``widen_small_scan`` gate), the candidate pair list is
    repartitioned to the session's parallelism before the exact-cosine
    verify — AQE's size-based coalescing otherwise collapses that
    compute-heavy, byte-thin stage to ~1 task (measured 5.1 → 2.9 s at
    sf0.1; see ``near_dup_embeddings_srp.verify_parallelism``)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.near_dup_embeddings_srp(
        emb,
        dims=64,
        threshold=0.4,
        verify_parallelism=small_scan_parallelism(spark, sf_dir, "embeddings"),
    )


_HASH_FRAC_SQL = (
    "CAST(CAST(concat('0x', substr(md5('{salt}|' || CAST(doc_id AS VARCHAR)),"
    " 1, 8)) AS BIGINT) AS DOUBLE) / 4294967296.0"
)


@register(
    "deterministic_doc_sample",
    f"""
    SELECT doc_id, n_chars FROM documents
    WHERE {_HASH_FRAC_SQL.format(salt='sample')} < 0.1
    """,
    tags=("sampling", "northstar"),
)
def deterministic_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10% deterministic document sample by md5(doc_id) fraction —
    stable under repartitioning and identical in any engine (unlike
    seed-based .sample(), whose output depends on physical
    partitioning). Pure pushdown-friendly filter, no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    return R.deterministic_sample(docs, "doc_id", 0.1, salt="sample").select(
        "doc_id", "n_chars"
    )


@register(
    "train_val_test_split",
    f"""
    WITH labeled AS (
      SELECT n_chars,
             CASE WHEN {_HASH_FRAC_SQL.format(salt='split')} < 0.8 THEN 'train'
                  WHEN {_HASH_FRAC_SQL.format(salt='split')} < 0.9 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents)
    SELECT split, count(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM labeled GROUP BY split
    """,
    tags=("sampling", "northstar"),
)
def train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment by hashed key:
    same doc_id → same split forever, on any engine or partitioning —
    the reproducibility contract a training pipeline needs. Output is
    the per-split count/volume summary."""
    docs = load_table(spark, sf_dir, "documents")
    labeled = R.hash_split(
        docs,
        "doc_id",
        {"train": 0.8, "val": 0.9, "test": 1.0},
        salt="split",
    )
    return labeled.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )


_QUANT_ORACLE = f"""
WITH m AS (
  SELECT vec_id, embedding,
         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))
             AS maxabs
  FROM embeddings WHERE {_VALID_EMB}),
s AS (SELECT vec_id, embedding, maxabs, maxabs / 127.0 AS scale FROM m),
q AS (
  SELECT vec_id, embedding, maxabs, scale,
         CASE WHEN maxabs = 0
              THEN list_transform(embedding, x -> CAST(0 AS TINYINT))
              ELSE list_transform(embedding,
                     x -> CAST(round(CAST(x AS DOUBLE) / scale) AS TINYINT))
         END AS qvec
  FROM s)
SELECT vec_id, scale,
       array_to_string(qvec, ',') AS qvec_csv,
       CASE WHEN maxabs = 0 THEN 0.0
            ELSE list_max(list_transform(list_zip(qvec, embedding),
                   p -> abs(CAST(p[1] AS DOUBLE) * scale
                            - CAST(p[2] AS DOUBLE))))
       END AS max_abs_err
FROM q
"""


@register(
    "embedding_quantization", _QUANT_ORACLE, tags=("similarity", "northstar")
)
def embedding_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization of the embedding corpus
    with exact dequantization error — the 4× storage-reduction step
    before indexing. IEEE-exact in both engines → full oracle replay
    including the int8 codes. The codes are emitted CSV-serialized
    (``qvec_csv``) because the driver's pandas canonicalizer cannot
    sort raw array columns (r3 row: ``unhashable type: 'list'``);
    the in-repo operator ``quantize_embeddings`` still returns the
    real ``array<tinyint>`` for programmatic use."""
    q = S.quantize_embeddings(load_table(spark, sf_dir, "embeddings"))
    return q.select(
        "vec_id",
        "scale",
        F.concat_ws(",", F.col("qvec").cast("array<string>")).alias("qvec_csv"),
        "max_abs_err",
    )


_KNN_QUANT_ORACLE = f"""
WITH m AS (
  SELECT vec_id, embedding,
         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))
             AS maxabs
  FROM embeddings
  WHERE {_VALID_EMB64}),
s AS (SELECT vec_id, embedding, maxabs, maxabs / 127.0 AS scale FROM m),
qz AS (
  SELECT vec_id, scale,
         CASE WHEN maxabs = 0
              THEN list_transform(embedding, x -> CAST(0 AS TINYINT))
              ELSE list_transform(embedding,
                     x -> CAST(round(CAST(x AS DOUBLE) / scale) AS TINYINT))
         END AS qvec
  FROM s),
cn AS (
  SELECT vec_id, scale, qvec,
         sqrt(list_sum(list_transform(qvec,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * scale AS c_norm
  FROM qz),
qs AS (
  SELECT vec_id AS query_id, embedding AS qv,
         sqrt(list_sum(list_transform(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS q_norm
  FROM embeddings WHERE vec_id BETWEEN 0 AND 9 AND {_VALID_EMB64}
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY embedding) = 1),
scored AS (
  SELECT qs.query_id, cn.vec_id AS neighbor_id,
         (list_sum(list_transform(list_zip(cn.qvec, qs.qv),
             p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) * cn.scale)
         / (cn.c_norm * qs.q_norm) AS cos_raw
  FROM cn, qs
  WHERE cn.vec_id != qs.query_id AND cn.c_norm > 0 AND qs.q_norm > 0)
SELECT query_id, neighbor_id, round(cos_raw, 6) AS cos
FROM scored
QUALIFY row_number() OVER (
    PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id) <= 5
"""


@register("knn_quantized", _KNN_QUANT_ORACLE, tags=("similarity", "northstar"))
def knn_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 neighbors scored directly against the int8-quantized corpus
    (4× smaller scan, int-code matmul + per-row scale). Approximate vs
    the FLOAT brute-force path only by quantization error (pytest
    measures recall) — but deterministic in itself, so as of r4 the
    DuckDB oracle replays quantize → int-dot → per-row rescale → top-k.
    The kernel's numpy matmul sums products in pairwise/BLAS order while
    DuckDB's list_sum is sequential; the products themselves are exact
    (int8 code × float32 value ≤ 31 mantissa bits), so disagreement
    needs a rank-5 near-tie within reassociation distance (~1e-16
    relative) — bit-exact at sf0.01 under the in-repo harness
    (tests/test_driver_contract.py); the first committed driver row
    lands in r5 (in-window this round)."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = S.knn_quantized(S.unique_by_id(emb.filter(F.col("vec_id").between(0, 9)), dims=64).limit(10), emb, k=5)
    return out.withColumn("cos", F.round("cos", 6))


def _knn_srp_oracle(dims: int = 64, planes: int = 16, bands: int = 4, k: int = 5) -> str:
    """Replays knn_ann end to end: sign-bit banding over the corpus
    (queries are corpus rows vec_id < 10), bucket-mate candidates,
    exact-cosine re-rank, deterministic top-k (cos DESC, neighbor_id)."""
    cos = _COS_SQL.format(a="q.embedding", b="c.embedding")
    valid = S.ORACLE_VALID_VEC_DIMS.format(col="embedding", dims=dims)
    return f"""
    WITH uniq AS (
      -- id-uniqueness boundary (r7 extreme audit): one signature and
      -- one re-rank vector per id, same total rule as the Spark side
      SELECT vec_id, embedding FROM embeddings WHERE {valid}
      QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY embedding) = 1),
    sig AS (SELECT vec_id, {_srp_bits_sql(dims, planes)} FROM uniq),
    bands AS ({_srp_band_selects(planes, bands)}),
    cand AS (
      SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.chunk = b.chunk
       AND a.vec_id != b.vec_id
      WHERE a.vec_id BETWEEN 0 AND 9
    ),
    scored AS (
      SELECT cand.query_id, cand.neighbor_id, {cos} AS cos_raw
      FROM cand
      JOIN uniq q ON q.vec_id = cand.query_id
      JOIN uniq c ON c.vec_id = cand.neighbor_id
    )
    SELECT query_id, neighbor_id, round(cos_raw, 6) AS cos
    FROM scored
    QUALIFY row_number() OVER (
        PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id) <= {k}
    """


@register("knn_ann_srp", _knn_srp_oracle(), tags=("similarity", "northstar"))
def knn_ann_srp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via sign-random-projection LSH (16 planes, 4
    bands) with exact re-rank inside buckets. Approximate vs brute force
    (pytest measures recall) — but deterministic given the md5-derived
    hyperplanes, and the re-rank cosine is the sequential fold that
    bit-matches DuckDB's list_sum, so as of r4 the oracle replays the
    whole bucket→re-rank→top-k pipeline like the near-dup SRP query's."""
    emb = load_table(spark, sf_dir, "embeddings")
    corpus = S.unique_by_id(emb, dims=64)  # id-uniqueness boundary
    # query window from the SAME deduped frame (filter on the dedup
    # window's partition key commutes, and it avoids a second
    # validity+row_number pass — r7 review)
    out = S.knn_ann(
        corpus.filter(F.col("vec_id").between(0, 9)).limit(10),
        corpus, dims=64, k=5,
    )
    return out.withColumn("cos", F.round("cos", 6))


def _knn_ivf_fixed_oracle(
    dims: int = 64, n_centroids: int = 16, nprobe: int = 4, k: int = 5
) -> str:
    """Replays knn_ivf_fixed end to end: re-derive the md5 coarse
    centroids (the pq_codebooks m=1 construction — same fragment the
    green embedding_pq_codes oracle proved), assign every corpus vector
    by sequential-fold L2 argmin, rank each query's nprobe nearest
    lists, probe-join on cluster, exact-cosine re-rank, top-k."""
    cos = _COS_SQL.format(a="q.embedding", b="c.embedding")
    valid_e = S.ORACLE_VALID_VEC_DIMS.format(col="e.embedding", dims=dims)
    return f"""
    WITH cents AS (
      SELECT c.c,
             list_transform(generate_series(0, {dims - 1}), d ->
               0.5 * (CAST(('0x' || substr(
                         md5('pq|0|' || c.c || '|' || d), 1, 8))
                      AS BIGINT) / 4294967296.0) - 0.25) AS cv
      FROM generate_series(0, {n_centroids - 1}) c(c)),
    uniq AS (
      -- id-uniqueness boundary (r7 extreme audit): one inverted-list
      -- entry per id, same total rule as the Spark side
      SELECT e.vec_id, e.embedding FROM embeddings e
      WHERE {valid_e}
      QUALIFY row_number() OVER (
          PARTITION BY e.vec_id ORDER BY e.embedding) = 1),
    dists AS (
      SELECT e.vec_id, cents.c,
             list_sum(list_transform(generate_series(1, {dims}), d ->
               (CAST(e.embedding[d] AS DOUBLE) - cv[d])
               * (CAST(e.embedding[d] AS DOUBLE) - cv[d]))) AS d2
      FROM uniq e, cents),
    assigned AS (
      SELECT vec_id, c AS cluster FROM dists
      QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, c) = 1),
    probes AS (
      SELECT vec_id AS query_id, c AS cluster FROM dists
      WHERE vec_id BETWEEN 0 AND 9
      QUALIFY row_number() OVER (
          PARTITION BY vec_id ORDER BY d2, c) <= {nprobe}),
    cand AS (
      SELECT p.query_id, a.vec_id AS neighbor_id
      FROM probes p JOIN assigned a USING (cluster)
      WHERE a.vec_id <> p.query_id),
    scored AS (
      SELECT cand.query_id, cand.neighbor_id, {cos} AS cos_raw
      FROM cand
      JOIN uniq q ON q.vec_id = cand.query_id
      JOIN uniq c ON c.vec_id = cand.neighbor_id)
    SELECT query_id, neighbor_id, round(cos_raw, 6) AS cos
    FROM scored
    QUALIFY row_number() OVER (
        PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id) <= {k}
    """


@register("knn_ivf_fixed", _knn_ivf_fixed_oracle(), tags=("similarity", "northstar"))
def knn_ivf_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via an IVF index with md5-derived coarse
    centroids (``similarity.knn_ivf_fixed``): corpus assigned to 16
    inverted lists by a sequential-fold L2 argmin (Arrow-batched, zero
    shuffle), queries probe their 4 nearest lists, exact cosine re-rank
    within probed lists only. The fixed quantizer makes the ENTIRE
    index→probe→re-rank path SQL-replayable, graduating IVF to driver
    hash evidence (r1-r5 the k-means form was the one non-sketch
    rows-only query). Its recall vs brute force and its pruning
    contract stay pytest-bounded in tests/test_similarity.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    corpus = S.unique_by_id(emb, dims=64)  # id-uniqueness boundary
    out = S.knn_ivf_fixed(
        corpus.filter(F.col("vec_id").between(0, 9)).limit(10),  # same frame
        corpus,
        dims=64,
        k=5,
        n_centroids=16,
        nprobe=4,
    )
    return out.withColumn("cos", F.round("cos", 6))


_MEDIA_STATS_ORACLE = """
WITH h AS (
  SELECT doc_id AS media_id,
         ['image','audio','video'][(((doc_id % 3) + 3) % 3) + 1] AS kind,
         md5(coalesce(text, '')) AS h1
  FROM documents),
chain AS (
  SELECT media_id, kind,
         h1 || md5(h1) || md5(md5(h1)) || md5(md5(md5(h1))) AS H
  FROM h),
vals AS (
  SELECT media_id, kind,
         list_transform(generate_series(0, 63),
                        i -> CAST(('0x' || substr(H, 2*i + 1, 2)) AS INT))
             AS v
  FROM chain),
px AS (
  SELECT media_id, kind, v,
         CAST(list_sum(v) AS DOUBLE) / 64 AS mean_px
  FROM vals),
doc AS (
  SELECT kind,
         mean_px / 255.0 AS mean_value,
         sqrt(list_sum(list_transform(v,
                x -> (CAST(x AS DOUBLE) - mean_px)
                     * (CAST(x AS DOUBLE) - mean_px))) / 64) / 255.0
             AS std_value
  FROM px)
SELECT kind, count(*) AS n_media,
       round(CAST(CAST(SUM(CAST(mean_value AS DECIMAL(18,12))) AS VARCHAR) AS DOUBLE)
             / count(*), 6) AS avg_mean_value,
       round(CAST(CAST(SUM(CAST(std_value AS DECIMAL(18,12))) AS VARCHAR) AS DOUBLE)
             / count(*), 6) AS avg_std_value
FROM doc GROUP BY kind
"""


@register(
    "media_feature_stats", _MEDIA_STATS_ORACLE, tags=("multimodal", "northstar")
)
def media_feature_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode → feature-extract over corpus-derived media
    (documents' bytes as opaque blobs): Arrow-batched mapInPandas kernel
    with the deterministic stand-in decoder, then per-kind feature stats
    under the decimal-avg determinism contract.

    Fully oracled as of r4: the fake decoder's md5 chain advances over
    hex STRINGS (multimodal._fake_decode), so DuckDB replays decode →
    per-doc mean/std → corpus aggregate bit-for-bit. The per-doc stats
    are exact by construction — byte values and squared deviations are
    integer-derived multiples of 1/4096 whose sums stay under 2^53, so
    numpy's pairwise and DuckDB's sequential summation cannot differ;
    the only reassociation-sensitive step (the cross-doc average) goes
    through the exact-decimal sum. A REAL codec is not replayable, of
    course — the oracle certifies the Spark-side plumbing (batching,
    schema, aggregation), which is the deliverable."""
    docs = load_table(spark, sf_dir, "documents")
    feats = M.decode_features(M.media_from_documents(docs), fake=True)
    n = F.count(F.lit(1))
    return feats.groupBy("kind").agg(
        n.alias("n_media"),
        F.round(F.sum(dec("mean_value", 18, 12)).cast("double") / n, 6).alias(
            "avg_mean_value"
        ),
        F.round(F.sum(dec("std_value", 18, 12)).cast("double") / n, 6).alias(
            "avg_std_value"
        ),
    )


@register(
    "media_frame_sample_plan",
    """
    WITH media AS (
        SELECT doc_id AS media_id,
               ['image','audio','video'][(((doc_id % 3) + 3) % 3) + 1] AS kind,
               (n_chars % 300) + 1 AS n_frames
        FROM documents)
    SELECT media_id, UNNEST(range(0, n_frames, 30)) AS frame_idx
    FROM media WHERE kind = 'video'
    """,
    tags=("multimodal", "northstar"),
)
def media_frame_sample_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plan for video rows — every 30th frame index from
    metadata alone (pure expressions, no blob bytes touched): the
    metadata-first discipline that lets a 100 TB media sweep plan its
    decode work before reading a byte. Fully SQL-expressible → oracled."""
    docs = load_table(spark, sf_dir, "documents")
    media = M.media_from_documents(docs)
    return M.sample_frames(media, every_nth=30).select(
        "media_id", F.col("frame_idx").cast("long").alias("frame_idx")
    )


@register(
    "language_histogram",
    rf"""
    WITH base AS (
      SELECT doc_id, lang, regexp_split_to_array(trim(text), '\s+') AS w
      FROM documents),
    feat AS (
      SELECT doc_id, lang,
             {", ".join(f"{expr} AS s_{lg}" for lg, expr in _LANG_SCORE_SQL.items())}
      FROM base)
    SELECT lang, {_LANG_CASE} AS lang_pred, count(*) AS n_docs
    FROM feat GROUP BY lang, lang_pred
    """,
    tags=("text", "northstar"),
)
def language_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion histogram: labeled ``lang`` × predicted
    ``lang_id`` with document counts — the corpus-level quality view of
    the n-gram-marker classifier. One aggregate over per-row codegen
    expressions; group cardinality is |langs|²."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        X.with_lang_pred(docs.select("lang", "text"))
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@register(
    "quality_score_buckets",
    rf"""
    WITH base AS (
      SELECT doc_id, text,
             length(text) AS n_chars,
             regexp_split_to_array(trim(text), '\s+') AS w,
             len(regexp_extract_all(text, '[.,;:!?]')) AS n_punct
      FROM documents),
    feat AS (
      SELECT doc_id, n_chars,
             len(w) AS n_tokens,
             len(list_filter(w, t -> lower(t) IN ({_STOPWORDS_SQL}))) AS n_stop,
             n_punct
      FROM base),
    scored AS (
      SELECT doc_id, n_chars,
             round((least(n_chars / 500.0, 1.0)
                  + least((n_stop * 1.0 / greatest(n_tokens, 1)) * 4.0, 1.0)
                  + greatest(1.0 - (n_punct * 1.0 / greatest(n_chars, 1)) * 10.0, 0.0))
                  / 3.0, 6) AS q
      FROM feat)
    SELECT least(CAST(floor(q * 10) AS BIGINT), 9) AS bucket,
           count(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM scored GROUP BY bucket
    """,
    tags=("text", "northstar"),
)
def quality_score_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-score decile histogram — the filter-threshold view a
    training-data pipeline uses to pick its keep/drop cutoff. The score
    is linear+clamp arithmetic (bit-portable), so bucket edges agree
    across engines."""
    docs = load_table(spark, sf_dir, "documents")
    # n_chars is DERIVED from text here (not read from the denormalized
    # column) so query and oracle share one source of truth; a table
    # whose n_chars drifted from its text would silently skew
    # total_chars otherwise (tools/run_audits.py --classes null finding).
    scored = X.with_quality_score(
        docs.select(F.length("text").alias("n_chars"), "text"), out_col="q"
    ).select("n_chars", "q")
    return (
        scored.groupBy(
            F.least(F.floor(F.col("q") * 10), F.lit(9)).cast("bigint").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
    )
