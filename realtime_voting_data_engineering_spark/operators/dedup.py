"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design (the point of each variant):

- **Exact** — hash-groupBy on a content fingerprint; one shuffle keyed by
  the fingerprint, map-side partial dedup. The 100 TB default.
- **N-gram Jaccard (all-pairs)** — exact similarity join via shingle
  inverted index (explode → equi-join on shingle → count). Correct but
  O(sum of posting-list²); only for bounded corpora / verification.
- **MinHash+LSH** — the scale path: constant-size signature per doc
  (shingle → K min-hashes), banded into B buckets; only docs sharing a
  band bucket become candidate pairs, then exact Jaccard verifies.
  Shuffle volume drops from all-pairs to per-bucket.
- **SimHash** — 64-bit weighted-majority fingerprint; near-dups differ
  in few bits. Banded by 16-bit chunks for candidate generation.
- **Winnowing** — per-passage rolling-hash fingerprints (window minima
  over k-gram hashes); detects partial overlap between documents whose
  overall similarity is low. Inverted-index join with a document-
  frequency cut as the hot-key guard.

Hashing is md5-based where an oracle must replay it (md5 is bit-identical
across engines); xxhash64 (faster, JVM-native) where it needn't.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from realtime_voting_data_engineering_spark.operators.text import (
    fingerprint,
    tokens,
    winnow_fingerprints,
)


def exact_dedup(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """Exact dedup on explicit key columns — dropDuplicates, i.e. a
    hash-partitioned first-row-per-key (reference analog: the votes
    composite PK, main.py:77)."""
    return df.dropDuplicates(key_cols)


def fingerprint_dup_clusters(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact-content duplicate clusters: group by md5(normalized text),
    keep cluster size and canonical (min) id. One shuffle on the 16-byte
    fingerprint regardless of document size."""
    return (
        df.select(F.col(id_col), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(id_col).alias("canonical_id"),
        )
    )


def winnow_overlap_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 12,
    window: int = 8,
    max_df: int = 50,
    min_shared: int = 3,
) -> DataFrame:
    """Partial-overlap pairs via winnowing fingerprints
    (``text.winnow_fingerprints``): docs sharing ≥ ``min_shared``
    selected fingerprints, with the shared count — detects copied
    *passages* between otherwise-different documents, which document-
    level MinHash/SimHash similarity misses.

    Scale shape: fingerprint explode is corpus-linear (~len/window rows
    per doc); the pair join is an inverted index keyed on the 32-bit
    fingerprint. Two guards bound the posting-list blowup: fingerprints
    appearing in more than ``max_df`` documents are dropped BEFORE the
    self-join (ubiquitous boilerplate n-grams carry no overlap signal
    and are exactly the hot keys that would skew the shuffle — the
    standard winnowing-at-scale document-frequency cut), and the join
    output is aggregated per pair with map-side partial counts.
    """
    # The fingerprint frame feeds FOUR plan branches (the df-cut
    # aggregate, the semi-join back, and the a/b pair sides); Spark
    # re-executes an uncached plan per reference, so without
    # materialization the O(len·k) rolling-hash derivation runs four
    # times (measured 10.7 → 2.3 s at sf0.1 together with a widened
    # input). The lazy localCheckpoint is the in-session analog of the
    # standard winnowing pipeline's materialized fingerprint index —
    # it earns its disk per the materialization policy (SCALE.md):
    # (id, int64) rows, orders of magnitude smaller than the text it
    # summarizes, four consumers. LAZY: the first action materializes
    # it; plan is deterministic (md5-free exact int64 hashing), the
    # same precondition connected_components documents.
    fps = winnow_fingerprints(df, text_col, id_col, k, window).localCheckpoint(
        eager=False
    )
    # count(*) per fp IS document frequency here because
    # winnow_fingerprints emits each fp at most once per doc
    # (array_distinct before the explode, text.py) — if that per-doc
    # distinct contract were removed, this would become a posting count
    # and max_df would silently change meaning (use countDistinct then).
    rare = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("__df")).filter(
        F.col("__df") <= max_df
    )
    kept = fps.join(rare.select("fp"), "fp", "left_semi")
    a = kept.select(F.col(id_col).alias("id_a"), "fp")
    b = kept.select(F.col(id_col).alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def word_shingles(text: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles. Built-in array ops only:
    ``transform(sequence(...))`` over the token array (0-indexed)."""
    toks = tokens(text)
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, (i + j + 1).cast("int")) for j in range(n)]
        ),
    )
    # Shingle sets, not bags: near-dup semantics are set-Jaccard.
    return F.array_distinct(
        F.when(F.size(toks) >= n, grams).otherwise(F.array())
    )


def shingle_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    dedup: bool = True,
) -> DataFrame:
    """Inverted index: one row per (doc, distinct shingle).

    The token array is projected as a real column first: inlining
    ``tokens(text)`` into every ``element_at`` site (as the composed
    ``word_shingles`` expression does) re-runs the regex tokenizer ~n
    times per shingle position — measured 13× slower on the corpus.
    Catalyst keeps the projection (CollapseProject won't duplicate
    non-cheap expressions), so the array is computed once per row.

    A conditional ``repartition(defaultParallelism)`` for parallelism-
    starved inputs (the local corpus is one row group ⇒ one scan task
    chains the whole tokenize+md5 pipeline) was tried here and REJECTED
    on measurement: the cold first run improves ~2× (4.55 s → 2.04 s at
    sf0.1), but the steady-state min-of-3 effect flips sign between
    sessions (±0.25 s, inside the shared-sandbox ambient band) — the
    exchange buys width the OS page cache already provides on re-runs.
    At 100 TB the guard would never fire anyway (thousands of row
    groups out-split any core count), so the honest plan keeps zero
    exchanges before the first aggregation."""
    toks_df = df.select(F.col(id_col), tokens(text_col).alias("__toks"))
    toks = F.col("__toks")
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, (i + j + 1).cast("int")) for j in range(n)]
        ),
    )
    shingles = F.array_distinct(
        F.when(F.size(toks) >= n, grams).otherwise(F.array())
    )
    # The index is a SET of (doc, shingle): array_distinct handles
    # within-row repeats, the trailing distinct() handles DUPLICATE
    # doc_id rows (an ingestion glitch a 100 TB pipeline will see) —
    # without it set sizes double and Jaccard exceeds 1.0 (found by the
    # r6 duplicate-row audit). The exchange it adds keys on the same
    # columns the downstream joins shuffle on anyway, and it SHRINKS
    # the frame before them. Pass ``dedup=False`` ONLY when the consumer
    # is multiplicity-insensitive (min/max aggregation) and the exchange
    # would be pure overhead — see ``minhash_signatures``.
    out = toks_df.select(F.col(id_col), F.explode(shingles).alias("shingle"))
    return out.distinct() if dedup else out


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """All-pairs n-gram Jaccard via the inverted index: docs sharing a
    shingle are joined (co-located by the shuffle on ``shingle``),
    intersection counted per pair, then |A∪B| from per-doc set sizes.

    Output: (id_a, id_b, jaccard) with id_a < id_b, jaccard ≥ threshold.
    """
    idx = shingle_index(df, text_col, id_col, n)
    sizes = idx.groupBy(id_col).agg(F.count(F.lit(1)).alias("set_size"))
    a = idx.select(F.col(id_col).alias("id_a"), "shingle")
    b = idx.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("set_size").alias("size_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("set_size").alias("size_b"))
    jac = F.col("n_inter") / (F.col("size_a") + F.col("size_b") - F.col("n_inter"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(jac, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


MINHASH_PRIME = 2147483647  # 2^31 - 1; perm domain, fits all arithmetic in int64


def minhash_perm_constants(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) for the linear permutation family
    h_i = (a_i * base + b_i) mod MINHASH_PRIME — the classic one-base-hash
    MinHash construction (same family as Spark ML's MinHashLSH). Derived
    from a fixed LCG so the DuckDB oracle can embed identical literals.
    a_i < 2^30 keeps a_i * base < 2^62 for a 32-bit base: no int64
    overflow in Spark (which would wrap) or DuckDB (which would error)."""
    state, consts = 0x5EED, []
    for _ in range(num_hashes):
        state = (1103515245 * state + 12345) % (1 << 31)
        a = state % ((1 << 30) - 1) + 1
        state = (1103515245 * state + 12345) % (1 << 31)
        b = state % MINHASH_PRIME
        consts.append((a, b))
    return consts


def minhash_base_hash(col: Column | str) -> Column:
    """32-bit engine-portable base hash: first 8 hex chars of md5, as a
    bigint. DuckDB replays it as CAST('0x' || substr(md5(s),1,8) AS
    BIGINT) — bit-identical (pytest + oracle-verified)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    n: int = 3,
) -> DataFrame:
    """MinHash signature per document: ONE md5 per shingle (the 32-bit
    base hash), then ``num_hashes`` linear permutations
    (a_i*base + b_i) mod 2^31-1, min-aggregated per doc. The permutation
    family is Spark ML MinHashLSH's construction; md5 as the base keeps
    every value replayable in the DuckDB oracle.

    The base hash is projected as a real column BEFORE the aggregation:
    inlining it into all ``num_hashes`` min() sites would re-run
    md5+conv per site (Catalyst does not CSE non-cheap expressions
    across a projection — the 13× shingle_index lesson). With the staged
    select the expensive hash runs once per shingle and each permutation
    is three int64 ops — measured ~2.3× faster than the previous
    16-md5-per-shingle form at sf0.1."""
    # dedup=False: min() is multiset-invariant, so duplicate (doc,
    # shingle) rows cannot change a signature — the distinct exchange
    # would cost a full shuffle of the exploded index for nothing.
    idx = shingle_index(df, text_col, id_col, n, dedup=False).select(
        F.col(id_col), minhash_base_hash(F.col("shingle")).alias("__base")
    )
    aggs = [
        F.min((F.lit(a) * F.col("__base") + F.lit(b)) % F.lit(MINHASH_PRIME)).alias(
            f"h{i}"
        )
        for i, (a, b) in enumerate(minhash_perm_constants(num_hashes))
    ]
    return idx.groupBy(id_col).agg(*aggs)


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """LSH banding: split the signature into ``bands`` bands of
    ``num_hashes/bands`` rows; band key = md5 of the concatenated band.
    Docs sharing any band key are candidates. The band-key shuffle is the
    only data movement — no all-pairs blowup."""
    rows_per_band = num_hashes // bands
    band_cols = [
        F.md5(
            F.concat_ws(
                "|",
                *[
                    F.col(f"h{b * rows_per_band + r}").cast("string")
                    for r in range(rows_per_band)
                ],
            )
        ).alias(f"band{b}")
        for b in range(bands)
    ]
    banded = signatures.select(F.col(id_col), *band_cols)
    # Unpivot to (doc, band_idx, key) — one equi-join finds all collisions.
    stack_expr = ", ".join(f"'{b}', band{b}" for b in range(bands))
    long = banded.selectExpr(
        id_col, f"stack({bands}, {stack_expr}) AS (band_idx, band_key)"
    )
    a = long.select(F.col(id_col).alias("id_a"), "band_idx", "band_key")
    b = long.select(F.col(id_col).alias("id_b"), "band_idx", "band_key")
    return (
        a.join(b, ["band_idx", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def jaccard_for_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Exact n-gram Jaccard evaluated ONLY for the given (id_a, id_b)
    pairs. Docs are pruned to those appearing in a pair BEFORE the
    shingle explode, so the expensive tokenize+shingle work touches
    candidate docs only — cost is Σ|shingles(candidate docs)|, linear in
    candidate volume, never the corpus-wide all-pairs blowup.

    ``pairs`` is referenced three times (two id projections + the
    intersection join); Spark re-executes an uncached plan per
    reference, so callers with an expensive candidate subplan must pass
    it materialized — see ``minhash_dedup_pairs``. Pairs with an empty
    intersection drop out (jaccard would be 0)."""
    pair_ids = (
        pairs.select(F.col("id_a").alias(id_col))
        .union(pairs.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    # The candidate shingle index feeds three plan branches (sizes, the
    # a-side, the b-side); materialize it once or the tokenize+shingle
    # explode runs per branch. Size is bounded by candidate volume (the
    # tiny post-banding set), not the corpus — measured 1.77→1.50s on
    # the sf0.1 minhash pipeline. LAZY (r8): the branches all feed ONE
    # final job, so the eager form paid a whole extra scheduling round
    # for nothing — measured 2.32→1.93s on the same pipeline. Safe
    # under the same determinism precondition connected_components
    # states: the index plan (semi-join of the corpus against the
    # already-materialized candidate ids, then shingling) is
    # deterministic, so racing branches cache identical rows.
    # Canonical lazy-vs-eager rules: SCALE.md "Materialization policy".
    idx = shingle_index(
        df.join(pair_ids, id_col, "left_semi"), text_col, id_col, n
    ).localCheckpoint(eager=False)
    sizes = idx.groupBy(id_col).agg(F.count(F.lit(1)).alias("set_size"))
    a = idx.select(F.col(id_col).alias("id_a"), "shingle")
    b = idx.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        pairs.join(a, "id_a")
        .join(b, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("set_size").alias("size_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("set_size").alias("size_b"))
    jac = F.col("n_inter") / (F.col("size_a") + F.col("size_b") - F.col("n_inter"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
    )


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.5,
    signature_parallelism: int | None = None,
) -> DataFrame:
    """End-to-end MinHash-LSH near-dup detection: signatures → banded
    candidates → exact Jaccard verification ≥ threshold. Verification is
    pair-driven (``jaccard_for_pairs``): docs are semi-joined to the
    candidate id set before any shingle is re-derived, so the exact
    measure runs on candidate docs/pairs only — never the all-pairs
    measure LSH exists to avoid.

    The candidate pair set (tiny by construction: banding passes ~0.1%
    of pairs) is materialized with an eager localCheckpoint between the
    two stages — verification references it three times, and without
    materialization each reference would re-run the full
    signature+banding subplan. This is the Spark form of the standard
    two-stage dedup pipeline that lands candidates in a table between
    candidate generation and verification; production jobs on clusters
    with executor churn should write to a real table instead
    (localCheckpoint storage dies with its executor). The checkpoint is
    EAGER by policy: connected-components' size gate counts the pairs
    before choosing its engine, so consumers span multiple driver-side
    jobs (canonical rules: SCALE.md "Materialization policy").

    ``signature_parallelism`` (r15 optimization): when set, the
    SIGNATURE stage reads a ``repartition(signature_parallelism)`` view
    of ``df`` — parallelizing the shingle-explode + md5 derivation (the
    pipeline's dominant cost) when the source scan cannot split
    (measured sf0.1: 1.57 → 1.30 s min-of-4). Callers set it from
    ``sources.tables.small_scan_parallelism`` (the ≤-one-split gate),
    so at any multi-split deployment it stays None and the plan is
    unchanged. Verification keeps reading ``df`` directly: its
    candidate semi-join touches a tiny doc subset, where a widening
    exchange is pure overhead (measured flat-to-worse when both stages
    were widened). A width parameter rather than an alternative-frame
    parameter on purpose (r15 review): a caller can never hand in a
    frame whose ROWS differ from the verification side's. Row-identical
    output either way — signatures are per-doc aggregates, invariant to
    partitioning."""
    sig_in = df.repartition(signature_parallelism) if signature_parallelism else df
    sigs = minhash_signatures(sig_in, text_col, id_col, num_hashes, n)
    cands = lsh_candidate_pairs(sigs, id_col, num_hashes, bands).localCheckpoint()
    return jaccard_for_pairs(df, cands, text_col, id_col, n).filter(
        F.col("jaccard") >= threshold
    )


#: Size gate: pair sets of at most this many edges run the driver
#: union-find, larger ones star contraction.
_CC_DRIVER_MAX_EDGES = 1_000_000

#: Round cap for star contraction; not converging raises.
_CC_MAX_ROUNDS = 20


def connected_components(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b"
) -> DataFrame:
    """Connected components over the near-dup pair graph — the dedup
    endgame: transitive closure turns pairs into clusters so a pipeline
    can keep one canonical doc per cluster.

    Two engines, one rule (identical output): count the (lazily
    checkpointed) pair set; ≤ ``_CC_DRIVER_MAX_EDGES`` edges → driver
    union-find; overflow → star contraction
    (``connected_components_star``). The count is the materialization
    the first distributed round would have paid anyway. This is the
    same size-gated strategy Spark itself applies to joins (broadcast
    vs shuffle): the verified near-dup pair set is orders of magnitude
    smaller than the corpus that produced it (LSH banding passes ~0.1%
    of pairs, verification prunes further), so below the gate an
    iterative distributed fixpoint pays multiple all-cluster scheduling
    rounds to process data that fits in one task. The gate was set from
    MEASURED clique-family-graph numbers with the Arrow-backed collect
    against min-label propagation, the fastest distributed engine on
    such shallow graphs (driver/propagation: 300k edges 1.06/2.17 s,
    600k 1.49/2.20 s, 1M 3.37/6.46 s; star is 1.3-1.7× slower than
    propagation there, SCALE.md) — the driver engine wins the whole
    gated range; 1M edges ≈ 16 MB on the wire, ~300 MB of Python
    union-find state, the broadcast size class. On a real cluster the
    distributed scheduling floor is higher still, making the gate
    conservative.

    The driver engine is a single-pass union-find over the collected
    pair set with min-id roots; exact, deterministic, and row-identical
    to star contraction (pytest-pinned on planted and hypothesis-random
    graphs). It declines when a NULL id appears (production pair
    generators cannot emit one — the ``id_a < id_b`` canonical filter
    drops NULL comparisons — so this is a defensive guard, not a path)
    and star contraction answers, which keeps a NULL id as its own
    singleton cluster, as the closure oracle does.

    Output: (id_a-named column, cluster_id) for every node appearing in
    a pair; cluster_id = min doc id of the component."""
    # `pairs` is read more than once (the gate's count, then the
    # driver's collect or star's edge and node branches); checkpointing
    # it FIRST means those reads hit the materialized pair set instead
    # of re-running the upstream candidate-generation DAG (e.g. the
    # whole MinHash-LSH pipeline) once per read. Measured at sf0.1: ~0.3s off
    # near_dup_clusters. LAZY on purpose (r6 ADVICE #4): eager=True
    # charges callers that hand in an already-checkpointed pair frame
    # (tools/scale_probe.py does) a redundant materialization job.
    # Honest tradeoff (r7 review): lazy persist populates the cache on
    # FIRST compute, so the first job's two union branches can race and
    # both recompute a partition's upstream DAG before one caches it —
    # bounded by one extra pair-DAG pass, the same cost an eager
    # materialization job pays unconditionally. Measured post-change:
    # near_dup_clusters 2.34s (r6 driver) → 2.04-2.18s (r7 pre-flights)
    # and the 16× scale-probe minhash leg 9.3× → 3.2×, so lazy wins in
    # practice on both the probe path and the query path.
    #
    # API PRECONDITION (r7 advice): the race above is CORRECT only
    # because ``pairs`` must be a DETERMINISTIC plan — every candidate
    # generator in this repo (MinHash bands, SimHash buckets, shingle
    # joins, seeded samplers) recomputes to the identical pair set, so
    # whichever branch wins the cache populates the same rows. A
    # NONDETERMINISTIC pairs input (unseeded sampling, rand()-salted
    # candidates) could cache divergent pair sets per branch and
    # silently corrupt components. Callers handing in such a plan must
    # materialize it themselves (eager localCheckpoint / write+read)
    # before calling; this function assumes plan determinism.
    pairs = pairs.localCheckpoint(eager=False)
    # Size gate on the checkpointed pair set: the count job IS the
    # materialization the first distributed round would have paid
    # anyway, and the collect that follows reads the cache. (A fused
    # limit(N+1).collect() probe was measured SLOWER here: CollectLimit's
    # incremental partition scale-up re-runs the un-cached upstream plan
    # once per retry round.)
    if pairs.count() <= _CC_DRIVER_MAX_EDGES:
        out = _connected_components_driver(pairs, id_a, id_b)
        if out is not None:
            return out
    return connected_components_star(pairs, id_a, id_b)


def _connected_components_driver(
    pairs: DataFrame, id_a: str, id_b: str
) -> DataFrame | None:
    """Driver union-find over a SMALL (size-gated by the caller,
    broadcast-order) pair set — min-id roots with path compression, so
    each tree's root is its component's minimum id and the output is
    row-identical to star contraction.

    The ONE deliberate bounded collect in the dedup module (the same
    contract as the 1-row stats fold in ``operators.search`` and the
    |Q|-bounded collects in ``operators.similarity``), pulled through
    ``toArrow()``: Arrow batch transfer + columnar ``to_pylist`` is
    ~3× cheaper than materializing per-row ``Row`` objects (measured
    at 600k edges: 1.7 s collect vs 0.6 s Arrow round-trip), which is
    what moves the driver/distributed crossover up to ~10^6 edges.
    The label frame goes BACK through Arrow too (r15, guide §6 "Arrow
    for driver transfers"): ``createDataFrame`` over a pandas frame
    with the Arrow path on costs ~0.025 s where the row-list pickle
    path measured ~0.33 s warm — the tail that made near_dup_clusters'
    driver engine pay a third of its budget on output shipping.
    Returns None if any id is NULL (cross-type comparisons in the
    union would be meaningless; production pair generators cannot emit
    NULL ids) so the caller can fall back to star contraction."""
    import pandas as pd

    from pyspark.sql.types import StructField, StructType

    id_type = pairs.schema[id_a].dataType
    tbl = pairs.select(F.col(id_a), F.col(id_b)).toArrow()
    if tbl.column(0).null_count or tbl.column(1).null_count:
        return None
    a_ids = tbl.column(0).to_pylist()
    b_ids = tbl.column(1).to_pylist()
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(a_ids, b_ids):
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra  # smaller root wins → root == component min

    out_schema = StructType(
        [StructField(id_a, id_type), StructField("cluster_id", id_type)]
    )
    labels = [(node, find(node)) for node in parent]
    spark = pairs.sparkSession
    if not labels:
        # An empty pandas frame carries object dtypes that the Arrow
        # conversion cannot coerce to the id type — build the empty
        # frame from the schema directly.
        return spark.createDataFrame([], out_schema)
    pdf = pd.DataFrame(labels, columns=[id_a, "cluster_id"])
    return spark.createDataFrame(pdf, out_schema)


def _cc_canonical_edges(pairs: DataFrame, id_a: str, id_b: str) -> DataFrame:
    """Distinct (u > v) edges, self-loops dropped."""
    raw = pairs.select(F.col(id_a).alias("x"), F.col(id_b).alias("y"))
    return (
        raw.filter(F.col("x") != F.col("y"))
        .select(F.greatest("x", "y").alias("u"), F.least("x", "y").alias("v"))
        .distinct()
    )


def _cc_large_star(edges: DataFrame) -> DataFrame:
    """Large-star: for every node n, connect its strictly-larger
    neighbors to m = min(neighborhood ∪ {n})."""
    adj = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = (
        adj.groupBy("u")
        .agg(F.min("v").alias("mn"))
        .select("u", F.least("u", "mn").alias("m"))
    )
    # emitted (v, m) has v > u >= m, so the u>v canonical form holds.
    return (
        adj.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _cc_small_star(edges: DataFrame) -> DataFrame:
    """Small-star: for every node n, connect its smaller neighbors (and n
    itself) to m = min of the smaller neighborhood."""
    mins = edges.groupBy("u").agg(F.min("v").alias("m"))
    joined = edges.join(mins, "u")
    rewired = (
        joined.filter(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    self_edges = joined.select("u", F.col("m").alias("v"))
    return rewired.union(self_edges).distinct()


def connected_components_star(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b"
) -> DataFrame:
    """Star contraction: alternating large-star/small-star rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC 2014). Each round rewires edges toward each neighborhood's
    minimum, so component diameter shrinks multiplicatively: chain-
    shaped components converge in O(log n) rounds. Converges when the
    edge set is a fixpoint, at which point every component is a star
    rooted at its minimum node. ``connected_components`` runs it above
    its driver gate; call it directly only to force the distributed
    engine.

    ``pairs`` is read by two plan branches (the edge set and the node
    set), so pass it materialized: ``connected_components`` hands in
    its lazy pair checkpoint, under the same determinism precondition.

    Iteration discipline: each round localCheckpoints the working frame
    (truncating lineage that would otherwise grow per round) with one
    convergence action per round. Raises if ``_CC_MAX_ROUNDS`` rounds
    don't converge.

    Node set comes from the RAW pairs (before the self-loop filter) so a
    node appearing only in an (x, x) pair is still emitted as its own
    singleton cluster, as the driver union-find does. A NULL id never
    joins an edge (``x != y`` is NULL), so it is its own cluster too."""
    # r16: LAZY initial checkpoint + the count below as its
    # materializing action — the loop's own "lazy checkpoint + carried
    # count" pattern applied to round 0 (was: eager checkpoint job THEN
    # a count job — two synchronous driver round-trips for one
    # materialization; measured 0.41-0.46 s + 0.05 s at sf0.1).
    edges = _cc_canonical_edges(pairs, id_a, id_b).localCheckpoint(eager=False)
    # ``nodes`` is NOT checkpointed (r16): it has exactly one consumer —
    # the roots anti-join in the convergence tail — and reads the
    # already-cached ``pairs`` checkpoint, so materializing it up front
    # was a pure extra driver-synchronous job (measured 0.35-0.38 s at
    # sf0.1: ~10% of the whole query for work the final job re-does in
    # milliseconds).
    nodes = (
        pairs.select(F.col(id_a).alias("id"))
        .union(pairs.select(F.col(id_b).alias("id")))
        .distinct()
    )
    n_edges = edges.count()
    for _ in range(_CC_MAX_ROUNDS):
        # Lazy checkpoint + carried count: the size count is the
        # materializing action, and last round's size is remembered
        # instead of re-counted — 2 jobs per round instead of 4.
        new_edges = _cc_small_star(_cc_large_star(edges)).localCheckpoint(
            eager=False
        )
        n_new = new_edges.count()
        # fixpoint ⇔ same edge set: sizes equal and nothing new appears.
        if n_new == n_edges and new_edges.subtract(edges).count() == 0:
            star = new_edges
            roots = nodes.join(
                star.select(F.col("u").alias("id")), "id", "left_anti"
            ).select("id", F.col("id").alias("label"))
            members = star.select(F.col("u").alias("id"), F.col("v").alias("label"))
            return (
                roots.union(members)
                .distinct()
                .select(F.col("id").alias(id_a), F.col("label").alias("cluster_id"))
            )
        edges, n_edges = new_edges, n_new
    raise RuntimeError(
        f"connected_components_star did not converge in {_CC_MAX_ROUNDS} "
        "rounds"
    )


def simhash_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_bits: int = 64,
) -> DataFrame:
    """SimHash fingerprints: per-token 64-bit hash, per-bit ±1 majority
    vote (frequency-weighted — every token occurrence votes), packed into
    one long per document.

    The 64 hash bits come from two 32-bit md5-prefix halves (bits 0-31
    from hex chars 1-8, bits 32-63 from chars 9-16) — ONE md5 per token
    occurrence, same engine-portable construction as
    ``minhash_base_hash``, so the DuckDB oracle replays the fingerprints
    bit-for-bit (``CAST('0x' || substr(md5(t), ...) AS BIGINT)``). The
    halves are projected as real columns before the 64 vote sites
    reference them (Catalyst does not CSE non-cheap expressions — the
    13× shingle_index lesson). Implemented as explode → one grouped
    aggregation with ``n_bits`` SUM measures → bit-pack projection, all
    JVM built-ins; the per-doc shuffle carries 64 ints, independent of
    document length.
    """
    half_bits = n_bits // 2
    toks = (
        df.select(F.col(id_col), F.explode(tokens(text_col)).alias("tok"))
        .select(F.col(id_col), F.md5("tok").alias("__md5"))  # md5 ONCE per token
        .select(
            F.col(id_col),
            F.conv(F.substring("__md5", 1, 8), 16, 10).cast("bigint").alias("h1"),
            F.conv(F.substring("__md5", 9, 8), 16, 10).cast("bigint").alias("h2"),
        )
    )
    def _bit(i: int) -> Column:
        src, off = ("h1", i) if i < half_bits else ("h2", i - half_bits)
        return F.shiftright(F.col(src), off).bitwiseAND(F.lit(1))
    votes = toks.groupBy(id_col).agg(
        *[
            F.sum(F.when(_bit(i) == 1, 1).otherwise(-1)).alias(f"v{i}")
            for i in range(n_bits)
        ]
    )
    sig: Column = F.lit(0).cast("bigint")
    for i in range(n_bits):
        bit_val = (1 << i) if i < n_bits - 1 else -(1 << i)  # sign bit
        sig = sig.bitwiseOR(
            F.when(F.col(f"v{i}") > 0, F.lit(bit_val).cast("bigint")).otherwise(
                F.lit(0).cast("bigint")
            )
        )
    return votes.select(F.col(id_col), sig.alias("sh"))


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 8,
) -> DataFrame:
    """SimHash near-dup pairs: band the 64-bit fingerprint into 4 16-bit
    chunks (pigeonhole: ≤3 differing bits guarantees one identical chunk;
    wider radii trade recall), join on (chunk_idx, chunk), verify true
    Hamming distance ≤ max_hamming.

    The fingerprint table is lazily localCheckpointed (r15): the chunk
    explode feeds BOTH self-join sides, so an uncached plan re-runs
    the tokenize + 64-vote aggregation once per side (measured 2.7 →
    2.3 s at sf0.1 together with a widened input). One int64 row per
    doc — trivially earns its disk (materialization policy, SCALE.md);
    lazy and deterministic, the same precondition as the other
    checkpoint sites."""
    sh = simhash_table(df, text_col, id_col).localCheckpoint(eager=False)
    chunks = sh.select(
        id_col,
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk_idx"),
                        F.shiftright("sh", i * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("chunk"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("c"),
    ).select(id_col, "sh", "c.chunk_idx", "c.chunk")
    a = chunks.select(
        F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"), "chunk_idx", "chunk"
    )
    b = chunks.select(
        F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"), "chunk_idx", "chunk"
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        a.join(b, ["chunk_idx", "chunk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", hamming.alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def incremental_dedup(
    incoming: DataFrame,
    existing: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental exact dedup: admit only incoming documents whose
    content fingerprint (md5 of normalized text, ``text.fingerprint``)
    is (a) absent from the existing corpus and (b) unique within the
    incoming batch itself — keeping the lowest id as the batch
    canonical. This is the daily-ingest shape: the existing corpus
    participates ONLY as its fingerprint set (at 100 TB, a stored
    fingerprint index — 16 bytes/doc — not a rescan of the corpus).

    Plan: fingerprint both sides in the scan, LEFT ANTI join on the
    16-byte key (one hash shuffle; Bloom-filter pushdown applies since
    the probe side is the small new batch), then a min-id collapse
    within the batch. No window over the existing corpus, no sort.
    """
    from realtime_voting_data_engineering_spark.operators.text import fingerprint

    inc = incoming.select(
        F.col(id_col), fingerprint(text_col).alias("fp")
    )
    seen = existing.select(fingerprint(text_col).alias("fp"))
    fresh = inc.join(seen, "fp", "left_anti")
    return (
        fresh.groupBy("fp")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col, "fp")
    )
