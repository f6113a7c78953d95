"""Relational core: aggregation, top-k, share-of-total, compaction,
pagination, enrichment joins.

Each function maps a reference behavior (cited file:line) onto the
declarative DataFrame API so Catalyst owns the physical strategy —
partial+final hash aggregation, broadcast joins for dims, AQE-coalesced
shuffles. No operator collects to the driver.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def hash_fraction(key: Column | str, salt: str = "") -> Column:
    """Deterministic uniform fraction in [0, 1) from a key: the first 8
    hex chars of md5(salt|key) as a 32-bit fraction. Unlike Spark's
    seed-based ``.sample()`` (whose output depends on partitioning),
    hash-based selection is stable under repartitioning, reproducible
    across engines (md5 is portable → SQL oracles replay it), and
    consistent across tables sharing the key — the properties a
    training-data pipeline needs from its sampling."""
    col = F.col(key) if isinstance(key, str) else key
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(salt + "|"), col.cast("string"))), 1, 8),
        16,
        10,
    )
    return h.cast("double") / F.lit(float(2**32))


def deterministic_sample(
    df: DataFrame, key: Column | str, fraction: float, salt: str = ""
) -> DataFrame:
    """Keep rows whose ``hash_fraction(key)`` < fraction — a stable,
    engine-portable row sample. Pure filter: pushes below joins when the
    key is scan-side, costs no shuffle."""
    return df.filter(hash_fraction(key, salt) < fraction)


def hash_split(
    df: DataFrame,
    key: Column | str,
    bounds: dict[str, float],
    salt: str = "",
    split_col: str = "split",
) -> DataFrame:
    """Label each row with a deterministic split (e.g. train/val/test)
    by where its hash fraction falls among cumulative ``bounds`` (upper
    bounds in (0, 1], ordered dict, last must be 1.0). Same key → same
    split, forever, on any engine or partitioning."""
    ordered = list(bounds.items())
    assert abs(ordered[-1][1] - 1.0) < 1e-12, "last bound must be 1.0"
    uppers = [u for _, u in ordered]
    assert all(
        lo < hi for lo, hi in zip(uppers, uppers[1:])
    ), f"bounds must be strictly increasing in dict order, got {uppers}"
    frac = hash_fraction(key, salt)
    expr = F.lit(ordered[-1][0])
    for name, upper in reversed(ordered[:-1]):
        expr = F.when(frac < upper, F.lit(name)).otherwise(expr)
    return df.withColumn(split_col, expr)


def grouped_count(
    df: DataFrame, keys: Sequence[str], alias: str = "total_voters"
) -> DataFrame:
    """Grouped COUNT — reference A2 (spark_stream.py:62-64), including the
    ``count -> total_voters`` rename (spark_stream.py:64)."""
    return df.groupBy(*keys).agg(F.count(F.lit(1)).alias(alias))


def top_k(
    df: DataFrame,
    order_by: Sequence[Column],
    k: int = 1,
) -> DataFrame:
    """Top-k by ordering — reference A4/T1 (streamlit-app.py:96): leading
    candidate = argmax(total_votes).

    ``orderBy().limit(k)`` lets Spark run a per-partition TakeOrdered and
    merge only k rows per partition on the driver-side collect of the
    *final* stage — no full sort at scale. Callers must pass a total
    order (include a unique tiebreaker) for deterministic output.
    """
    return df.orderBy(*order_by).limit(k)


def top_k_per_group(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column],
    k: int,
    rank_alias: str = "rn",
) -> DataFrame:
    """Top-k within each group via ``row_number`` window — the compacted
    form of the dashboard's per-key argmax (streamlit-app.py:96) and the
    latest-per-key fix the reference lacked (SURVEY.md W5)."""
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return (
        df.withColumn(rank_alias, F.row_number().over(w))
        .filter(F.col(rank_alias) <= k)
        .drop(rank_alias)
    )


def latest_per_key(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    tiebreakers: Sequence[Column] = (),
) -> DataFrame:
    """Latest-per-key compaction — the operator the reference *needed* but
    didn't have (SURVEY.md W5: the dashboard re-reads the whole update log
    and argmaxes over inflated duplicates, streamlit-app.py:14,91-96).

    One shuffle on ``keys``; state per key is a single row.
    """
    order = [F.col(ts_col).desc(), *tiebreakers]
    return top_k_per_group(df, keys, order, k=1)


def share_of_total(
    df: DataFrame,
    value: str,
    share_alias: str = "share_pct",
    scale: int = 4,
) -> DataFrame:
    """Share-of-total percentage — reference A5 (streamlit-app.py:61,
    matplotlib ``autopct``): each group's fraction of the global sum.

    Implemented as an unpartitioned window SUM. Input is expected to be
    *already aggregated* (a few rows per group key), so the single-
    partition exchange is over group cardinality, not raw data — the same
    reason the reference could afford matplotlib to do it.
    """
    w = Window.partitionBy()
    return df.withColumn(
        share_alias,
        F.round(F.col(value) * 100.0 / F.sum(value).over(w), scale),
    )


def paginate(
    df: DataFrame,
    order_by: Sequence[Column],
    page: int,
    page_size: int,
) -> DataFrame:
    """Arbitrary-column sort + page slice — reference T2/T3
    (streamlit-app.py:70-77): ``sort_values`` then
    ``iloc[(page-1)*size : page*size]``.

    Uses native ``offset`` + ``limit`` (Spark >= 3.4) over a total sort.
    Callers pass a deterministic total order (unique key last).
    """
    return df.orderBy(*order_by).offset((page - 1) * page_size).limit(page_size)


def scalar_counts(named_dfs: dict[str, DataFrame]) -> DataFrame:
    """Global scalar COUNTs as one row — reference A3
    (streamlit-app.py:27-31): ``SELECT count(*) FROM voters`` etc. for the
    dashboard header metrics.

    Each count is a partial-aggregated single-row DataFrame; the cross
    join of 1-row frames is free (broadcast).
    """
    out: DataFrame | None = None
    for alias, df in named_dfs.items():
        cnt = df.agg(F.count(F.lit(1)).alias(alias))
        out = cnt if out is None else out.crossJoin(cnt)
    assert out is not None, "need at least one input"
    return out


def enrich_broadcast(
    fact: DataFrame,
    dim: DataFrame,
    on: Sequence[str] | Column,
    how: str = "inner",
) -> DataFrame:
    """Stream/fact-static enrichment join with an explicit broadcast hint —
    reference J1 (voting.py:41-45,68-74) pairs each voter with a candidate
    from a 3-row dim; the Spark-native form is a broadcast hash join (no
    shuffle of the 100 TB fact side).
    """
    return fact.join(F.broadcast(dim), on, how)


def salted_join(
    skewed: DataFrame,
    other: DataFrame,
    key: str,
    row_key: str,
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-salted equi-join for keys too hot even for AQE's skew-join
    splitting: the skewed side scatters each row into one of ``n_salts``
    sub-keys (deterministically, from its unique ``row_key`` — stable
    under retries, unlike ``rand()``); the other side replicates
    ``n_salts``× via an executor-side explode. The join key becomes
    (key, salt), so one hot key spreads across ``n_salts`` reducers.

    Cost: |other| × n_salts replication — use when `other` is mid-sized
    (too big to broadcast, small enough to replicate) and the skew is
    measured, not guessed. First resort remains AQE skew-join; this is
    the explicit fallback at 100 TB hot-key extremes.
    """
    salted = skewed.withColumn(
        "__salt", F.pmod(F.xxhash64(F.col(row_key)), F.lit(n_salts)).cast("int")
    )
    replicated = other.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    return salted.join(replicated, [key, "__salt"], how).drop("__salt")


def deterministic_assignment(
    df: DataFrame,
    key: str,
    n_buckets: int,
    alias: str = "assigned_bucket",
    seed: int = 21,
) -> DataFrame:
    """Deterministic-per-key uniform assignment — the shuffle/retry-stable
    replacement for the reference's arrival-order-dependent
    ``random.choice(candidates)`` under ``random.seed(21)``
    (voting.py:68, main.py:26; semantics decision in SURVEY.md §7).

    ``xxhash64(key, seed) mod n`` preserves the uniform distribution and
    is reproducible across retries, partitionings, and engines that share
    the hash. For oracle-checked queries use ``pmod(key, n)`` (portable
    to ANSI SQL); xxhash64 is the production default for string keys.
    """
    col = F.col(key)
    if dict(df.dtypes)[key] in ("bigint", "int", "smallint", "tinyint"):
        bucket = F.pmod(col, F.lit(n_buckets))
    else:
        bucket = F.pmod(F.xxhash64(col, F.lit(seed)), F.lit(n_buckets))
    return df.withColumn(alias, bucket.cast("int"))


def asof_join(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str,
    left_time: str,
    right_time: str,
    value_cols: Sequence[str],
) -> DataFrame:
    """As-of join: attach to every left row the value columns of the
    right row with the greatest ``right_time`` <= ``left_time`` for the
    same key (NULLs when no such row) — the point-in-time lookup every
    feature/training pipeline needs (latest price, last order, most
    recent profile version as of event time).

    Spark has no ASOF JOIN operator; the scalable construction is the
    union + last-non-null window: tag both sides, union on (key, time),
    and take ``last(value, ignorenulls=True)`` over a running window
    ordered by (time, side) per key. Right rows sort BEFORE left rows at
    equal times (side 0 < 1), giving the inclusive <= match. ONE shuffle
    on the key, a per-partition sort, zero row blowup — unlike the
    naive range-join (explodes to all pairs then filters) this survives
    100 TB; it is the same plan shape Flink temporal joins and
    distributed merge_asof implementations use.

    Contract: ``right`` must be unique per (key, time) — pre-reduce with
    a deterministic aggregate (max_by) otherwise. The attached right
    timestamp is exposed as ``__asof_time`` for downstream deltas.

    All attach columns (values + ``__asof_time``) ride the window in ONE
    struct — NULL struct on left rows, whole-row struct on right rows —
    so ``last(..., ignorenulls=True)`` skips only *missing right rows*,
    never an individual value that is legitimately NULL. (Per-column
    last() would attach an OLDER row's value while ``__asof_time``
    reported the newer match; DuckDB's native ASOF JOIN returns the
    matched row's NULL, and so do we.)
    """
    attach = list(value_cols) + ["__asof_time"]
    # A right row with NULL time OR a NULL key can never be "the latest
    # row at or before t for this key": NULL has no position in the
    # as-of order, and an equi-match on NULL is never true. Both guards
    # exist because the window formulation would otherwise DIFFER from
    # join semantics — Spark's ASC NULLS FIRST sort would attach a
    # NULL-time right row to the whole partition, and the NULL-key
    # partition would happily match "unknown" to "unknown" (DuckDB's
    # native ASOF JOIN excludes both — ``tools/run_audits.py --classes null``
    # findings). Left rows keep the matching contract for free: NULL-time lefts
    # sort before every surviving right row and NULL-key lefts share
    # their partition with no right rows, so both get NULL attach while
    # staying in the output (left-join semantics).
    right = right.filter(
        F.col(right_time).isNotNull() & F.col(right_on).isNotNull()
    )
    r = (
        right.select(
            F.col(right_on).alias(left_on),
            F.col(right_time).alias("__t"),
            *[F.col(c) for c in value_cols],
        )
        .withColumn("__asof_time", F.col("__t"))
        .withColumn("__side", F.lit(0))
        .select(
            left_on, "__t", "__side", F.struct(*attach).alias("__attach")
        )
    )
    attach_type = r.schema["__attach"].dataType
    l_cols = left.columns
    l = (
        left.withColumn("__t", F.col(left_time).cast(r.schema["__t"].dataType))
        .withColumn("__side", F.lit(1))
        .withColumn("__attach", F.lit(None).cast(attach_type))
    )
    r = r.select(
        *[
            F.lit(None).cast(l.schema[c].dataType).alias(c)
            for c in l_cols
            if c != left_on
        ],
        left_on,
        "__t",
        "__side",
        "__attach",
    )
    unioned = l.select(*l_cols, "__t", "__side", "__attach").unionByName(r)
    w = (
        Window.partitionBy(left_on)
        .orderBy("__t", "__side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = unioned.select(
        *l_cols,
        F.col("__side").alias("__side"),
        F.last("__attach", ignorenulls=True).over(w).alias("__attach"),
    )
    return filled.filter(F.col("__side") == 1).select(
        *l_cols,
        *[F.col("__attach").getField(c).alias(c) for c in attach],
    )


def asof_self_join(
    source: DataFrame,
    on: str,
    time_col: str,
    left_pred: Column,
    right_pred: Column,
    attach: "dict[str, Column]",
    right_tiebreak: Sequence[Column] = (),
) -> DataFrame:
    """As-of join where BOTH sides are predicate slices of ONE source
    (r15 optimization of the ``asof_join`` shape): every ``left_pred``
    row picks up the ``attach`` expressions of the latest ``right_pred``
    row with ``time_col`` <= its own for the same ``on`` key. Because
    the two sides share a scan, the general operator's plan (two source
    scans + a Union feeding the window) collapses to scan → side tag →
    pre-reduce window → as-of window — one scan, no Union node, the
    same two key exchanges (measured 0.64 → 0.53 s on the sf0.1 as-of
    panel query; at 100 TB it halves the dominant cost, the source
    scan). Semantics are IDENTICAL to ``asof_join`` with a pre-reduced
    right side (pinned row-identical in tests/test_pipeline_ops.py):

    - right rows with NULL time or NULL key are excluded (they can
      never be "the latest row at or before t" — same guards, same
      rationale as ``asof_join``);
    - left rows always survive, with NULL attach when no right row
      precedes them (left-join semantics; NULL-time lefts sort before
      every surviving right row, NULL-key lefts share a partition with
      no right rows);
    - at equal times the right row sorts first (side 0 < 1): inclusive
      <= match;
    - ``right_tiebreak`` pre-reduces the right side to ONE row per
      (key, time) — pass a TOTAL order (the ``asof_join`` uniqueness
      contract, enforced here instead of by the caller);
    - all ``attach`` expressions ride the window in one struct, so a
      legitimately-NULL attached value is never skipped past
      (``last(..., ignorenulls=True)`` skips only missing right rows).

    ``attach`` maps output alias → expression over the RIGHT row; the
    matched right timestamp is exposed as ``__asof_time``. Output: all
    ``source`` columns of the left rows plus the attach aliases."""
    # Plan-time reserved-name guard (r15 ADVICE; widened r16 review):
    # the temp/output columns below would silently collide with (and
    # corrupt) a source column of the same name — and ``__asof_time``
    # is additionally emitted NEXT TO all source columns, so a clash
    # would produce a duplicate-name output frame. Comparison is
    # CASE-INSENSITIVE because Spark resolves names that way by default
    # (a source column ``__SIDE`` would be silently replaced by
    # ``withColumn("__side", ...)``). ``attach`` aliases get the same
    # treatment: an alias equal to a reserved name duplicates the
    # struct field, and one equal to a source column duplicates an
    # output name; two aliases equal up to case (``{'Id', 'id'}``)
    # duplicate each other. Refuse all of it loudly at plan time.
    reserved = {"__side", "__rn", "__attach", "__asof_time"}
    lower_cols = {c.lower() for c in source.columns}
    clash = sorted(reserved & lower_cols)
    if clash:
        raise ValueError(
            "asof_self_join: source frame already contains reserved "
            f"column(s) {clash} — rename them before calling"
        )
    lower_aliases = [a.lower() for a in attach]
    bad_aliases = sorted(
        a
        for a in attach
        if a.lower() in reserved
        or a.lower() in lower_cols
        or lower_aliases.count(a.lower()) > 1
    )
    if bad_aliases:
        raise ValueError(
            "asof_self_join: attach alias(es) "
            f"{bad_aliases} collide with a reserved name, a source "
            "column or another alias — pick different output names"
        )
    side = F.when(right_pred, F.lit(0)).when(left_pred, F.lit(1))
    # Explicit disjunctive pre-filter: the when-chain's side column is
    # opaque to predicate pushdown, but (right | left) is a plain
    # disjunction Catalyst pushes into the scan. It also guarantees the
    # when-chain always assigns a side — (r|l) passing TRUE under
    # three-valued logic means at least one predicate is TRUE — so no
    # separate NULL-side filter is needed (r15 review: it was dead code
    # that re-evaluated both predicates per row). A row matching BOTH
    # predicates takes the right side (when-chain precedence) — pass
    # disjoint predicates.
    tagged = source.filter(right_pred | left_pred).withColumn("__side", side)
    tagged = tagged.filter(
        (F.col("__side") == 1)
        | (F.col(time_col).isNotNull() & F.col(on).isNotNull())
    )
    if right_tiebreak:
        w_red = Window.partitionBy(on, time_col, "__side").orderBy(*right_tiebreak)
        tagged = (
            tagged.withColumn("__rn", F.row_number().over(w_red))
            .filter((F.col("__side") == 1) | (F.col("__rn") == 1))
            .drop("__rn")
        )
    attach_struct = F.when(
        F.col("__side") == 0,
        F.struct(
            *[expr.alias(alias) for alias, expr in attach.items()],
            F.col(time_col).alias("__asof_time"),
        ),
    )
    w = (
        Window.partitionBy(on)
        .orderBy(time_col, "__side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    src_cols = source.columns
    filled = tagged.select(
        *src_cols,
        F.col("__side"),
        F.last(attach_struct, ignorenulls=True).over(w).alias("__attach"),
    )
    return filled.filter(F.col("__side") == 1).select(
        *src_cols,
        *[
            F.col("__attach").getField(a).alias(a)
            for a in [*attach.keys(), "__asof_time"]
        ],
    )


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    point_time: str,
    start_time: str,
    end_time: str,
    bucket_seconds: int,
    keys: Sequence[str] = (),
) -> DataFrame:
    """Range (point-in-interval) join: every points row paired with every
    intervals row whose ``[start_time, end_time]`` contains it (inclusive
    bounds), optionally also matching on equi-``keys``. Inner join; the
    result carries all columns of both sides (they must be disjoint apart
    from ``keys``).

    Spark has no range-join operator: an inequality-only join condition
    plans as BroadcastNestedLoopJoin (O(|P|·|I|) compares, and the
    broadcast side must fit in memory) — unusable when both sides scale
    with the data. The scalable construction is **bucketing**: quantize
    time into ``bucket_seconds``-wide epochs, explode each interval to
    the buckets it covers, tag each point with its single bucket, and
    equi-join on (keys…, bucket) before applying the exact containment
    filter. The all-pairs compare becomes one hash/sort-merge shuffle on
    the bucket key — the same plan family as the overlap-interval joins
    in Spark-based genomics engines and Databricks' range-join hints.

    Cost model: the interval side blows up by ceil(length / bucket) + 1
    rows per interval, so pick ``bucket_seconds`` near the typical
    interval length (explode factor ~2); a too-small bucket inflates the
    shuffle, a too-large one degrades post-join selectivity but never
    correctness. A point falls in exactly ONE bucket, so each qualifying
    pair is emitted exactly once — no DISTINCT pass over the output.
    Seconds-truncated bucketing is safe for sub-second timestamps:
    truncation moves both the point's bucket and the interval's covered
    range down together, so containment implies bucket membership.
    """
    if bucket_seconds <= 0:
        raise ValueError("bucket_seconds must be positive")
    w = F.lit(bucket_seconds)
    pb = points.withColumn(
        "__bucket",
        F.floor(F.unix_timestamp(F.col(point_time)) / w).cast("bigint"),
    )
    ib = intervals.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.floor(F.unix_timestamp(F.col(start_time)) / w).cast("bigint"),
                F.floor(F.unix_timestamp(F.col(end_time)) / w).cast("bigint"),
            )
        ),
    )
    return (
        pb.join(ib, [*keys, "__bucket"])
        .filter(
            (F.col(point_time) >= F.col(start_time))
            & (F.col(point_time) <= F.col(end_time))
        )
        .drop("__bucket")
    )


def stratified_sample(
    df: DataFrame,
    key: Column | str,
    strata_col: str,
    rates: dict[str, float],
    default_rate: float = 0.0,
    salt: str = "",
) -> DataFrame:
    """Per-stratum deterministic sampling: keep a row iff its
    ``hash_fraction(key)`` falls below its stratum's rate — e.g. keep
    50% of English documents but 100% of low-resource languages, the
    standard corpus-rebalancing step in front of training-data mixes.

    Same engine-portable md5 selection as ``deterministic_sample`` (the
    oracle replays it), with the rate looked up from a literal CASE over
    the stratum column. Pure filter: no shuffle, pushes into the scan,
    and the same key draws the same uniform fraction in every stratum,
    so per-stratum rates compose with downstream hash splits."""
    frac = hash_fraction(key, salt)
    rate = F.lit(float(default_rate))
    for value, r in rates.items():
        rate = F.when(F.col(strata_col) == value, F.lit(float(r))).otherwise(rate)
    return df.filter(frac < rate)


def apply_changes_latest(
    df: DataFrame,
    key_cols: Sequence[str],
    seq_cols: Sequence[str],
    delete_predicate: Column | None = None,
) -> DataFrame:
    """Batch CDC merge (the APPLY CHANGES / MERGE-INTO-latest-snapshot
    shape): collapse a change feed to one row per key by the highest
    ``seq_cols`` ordering, then drop keys whose *final* change matches
    ``delete_predicate`` — an upsert+delete compaction in one pass.

    Extends ``latest_per_key`` (reference W5) with tombstone semantics:
    the deciding row is the latest one, so an update after a delete
    resurrects the key, exactly like Delta/Hudi CDC apply. One shuffle
    on the key (window row_number, no join); at 100 TB this is the
    nightly-compaction plan over a bucketed change log."""
    order = [F.col(c).desc() for c in seq_cols]
    w = Window.partitionBy(*[F.col(k) for k in key_cols]).orderBy(*order)
    latest = (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    if delete_predicate is not None:
        # Unknown is NOT a delete: a malformed final change (predicate
        # NULL) must keep the key, so coalesce before negating —
        # `~NULL` is NULL and a bare filter would silently tombstone.
        latest = latest.filter(~F.coalesce(delete_predicate, F.lit(False)))
    return latest
