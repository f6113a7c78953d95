"""Extended relational coverage: the operator classes a user of the
reference would reach for next (SURVEY.md §2.4-2.6 note them as Catalyst
built-ins) — set ops, distinct aggregates, rollup/cube/grouping sets,
semi/anti joins, pivot, sessionization, as-of join, window functions,
scalar-function suite. Every query has a DuckDB oracle.

Imported for its registration side effects by
``realtime_voting_data_engineering_spark.queries``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from realtime_voting_data_engineering_spark.functions.scalar import (
    ORACLE_DEC_VALUE,
    ORACLE_EV_CTE,
    dec,
    finite_or_null,
)
from realtime_voting_data_engineering_spark.queries import register
from realtime_voting_data_engineering_spark.sources.tables import (
    load_events,
    load_table,
)


@register(
    "activation_funnel",
    f"""
    WITH {ORACLE_EV_CTE},
    s1 AS (
      -- ts IS NOT NULL: a user whose ONLY signups carry garbage-folded
      -- time has no qualifying stage-1 event; without the guard this
      -- CTE emits (user, NULL) and count(*) counts them where Spark's
      -- count(t1) skips the NULL (r7 review finding, reproduced)
      SELECT user_id, min(ts) AS t1 FROM ev
      WHERE event_type = 'signup' AND user_id IS NOT NULL
        AND ts IS NOT NULL GROUP BY user_id),
    s2 AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM ev e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'view' AND e.ts > s1.t1 GROUP BY e.user_id),
    s3 AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM ev e JOIN s2 ON e.user_id = s2.user_id
      WHERE e.event_type = 'click' AND e.ts > s2.t2 GROUP BY e.user_id),
    s4 AS (
      SELECT e.user_id, min(e.ts) AS t4
      FROM ev e JOIN s3 ON e.user_id = s3.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s3.t3 GROUP BY e.user_id)
    SELECT 'signup' AS stage, count(*) AS n_users FROM s1
    UNION ALL SELECT 'view', count(*) FROM s2
    UNION ALL SELECT 'click', count(*) FROM s3
    UNION ALL SELECT 'purchase', count(*) FROM s4
    """,
    tags=("funnel", "sequence", "join", "agg"),
)
def activation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-sequence funnel: users reaching each stage of
    signup → view → click → purchase with strictly increasing event
    times. ONE scan of events and ONE shuffle: four stacked per-user
    window minima over the same partitioning (each stage's earliest
    qualifying time references the previous stage's column, and the
    shared ``partitionBy(user_id)`` means the later window passes reuse
    the first exchange), then a per-user collapse and a global non-null
    count per stage. The oracle states the same semantics as cascaded
    join CTEs — same result, different (worse-at-scale) plan shape."""
    stages = ["signup", "view", "click", "purchase"]
    # NULL user_id rows are excluded explicitly: "all unknown users" is
    # not a funnel participant. Without the filter the window form would
    # let the NULL partition advance through stages while the oracle's
    # equi-join CTEs could not (NULL never equi-joins) — the two
    # formulations only agree under a declared non-null key
    # (``tools/run_audits.py --classes null`` finding).
    ev = (
        load_events(spark, sf_dir)
        .filter(F.col("event_type").isin(*stages) & F.col("user_id").isNotNull())
        .select("user_id", "event_type", "ts")
    )
    w = Window.partitionBy("user_id")
    t_prev = None
    staged = ev
    for i, etype in enumerate(stages, start=1):
        qual = F.col("event_type") == etype
        if t_prev is not None:
            qual = qual & (F.col("ts") > F.col(t_prev))
        staged = staged.withColumn(
            f"t{i}", F.min(F.when(qual, F.col("ts"))).over(w)
        )
        t_prev = f"t{i}"
    per_user = staged.groupBy("user_id").agg(
        *[F.max(f"t{i}").alias(f"t{i}") for i in range(1, 5)]
    )
    counts = per_user.agg(
        *[F.count(f"t{i}").alias(f"n{i}") for i in range(1, 5)]
    )
    return counts.selectExpr(
        "stack(4, 'signup', n1, 'view', n2, 'click', n3, 'purchase', n4) "
        "AS (stage, n_users)"
    )


@register(
    "weekly_retention_cohorts",
    f"""
    WITH {ORACLE_EV_CTE},
    firsts AS (
      SELECT user_id,
             CAST(date_trunc('week', min(ts)) AS TIMESTAMP) AS cohort_week
      FROM ev GROUP BY user_id),
    activity AS (
      SELECT DISTINCT e.user_id, f.cohort_week,
             CAST(date_diff('day', CAST(f.cohort_week AS DATE),
                            CAST(date_trunc('week', e.ts) AS DATE)) / 7
                  AS BIGINT) AS weeks_since
      FROM ev e JOIN firsts f ON e.user_id = f.user_id)
    SELECT cohort_week, weeks_since, count(*) AS n_active_users
    FROM activity GROUP BY cohort_week, weeks_since
    """,
    tags=("cohort", "window-time", "agg"),
)
def weekly_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by the week of their first event,
    counted in each subsequent week they were active — the classic
    retention triangle. Two shuffles, both on user_id (first-week
    aggregate, then dedup of (user, week)); the final rollup groups a
    frame of |users|·|weeks| at most. weeks_since is exact integer date
    arithmetic, portable to the oracle."""
    events = load_events(spark, sf_dir)
    firsts = events.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = (
        events.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (
                F.datediff(F.date_trunc("week", F.col("ts")), F.col("cohort_week"))
                / 7
            )
            .cast("bigint")
            .alias("weeks_since"),
        )
        .distinct()
    )
    return activity.groupBy("cohort_week", "weeks_since").agg(
        F.count(F.lit(1)).alias("n_active_users")
    )


@register(
    "data_quality_report",
    """
    WITH agg AS (
      SELECT count(*) AS n_rows,
             count(CASE WHEN o_custkey IS NULL THEN 1 END) AS null_custkey,
             count(CASE WHEN o_orderdate IS NULL THEN 1 END) AS null_orderdate,
             count(CASE WHEN o_totalprice <= 0 THEN 1 END)
                 AS nonpositive_totalprice,
             count(*) - count(DISTINCT o_orderkey) AS duplicate_pk
      FROM orders),
    orph AS (
      SELECT count(*) AS fk_orphans
      FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE c.c_custkey IS NULL)
    SELECT 'n_rows' AS check_name, n_rows AS value FROM agg
    UNION ALL SELECT 'null_custkey', null_custkey FROM agg
    UNION ALL SELECT 'null_orderdate', null_orderdate FROM agg
    UNION ALL SELECT 'nonpositive_totalprice', nonpositive_totalprice FROM agg
    UNION ALL SELECT 'duplicate_pk', duplicate_pk FROM agg
    UNION ALL SELECT 'fk_orphans', fk_orphans FROM orph
    """,
    tags=("quality", "agg", "anti"),
)
def data_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expectations-style data-quality report over the orders table:
    null checks, domain check, primary-key uniqueness, and foreign-key
    orphans vs customer — the validation pass a pipeline runs before
    training/serving consumes a table. Row-local checks share ONE
    aggregate pass (conditional counts — count(when(...)) stays BIGINT
    in both engines, avoiding DuckDB's SUM→HUGEINT widening); the FK
    check is a second, COLUMN-PRUNED pass (the anti-join scan reads
    o_custkey only — ~1/9 of the table bytes, PushedFilters/ReadSchema
    verified) plus a narrow custkey shuffle; output is long-format
    (check, value).

    Tried and REJECTED (r10, the q21 discipline): folding the FK check
    into the aggregate scan via a LEFT join against the distinct
    customer-key set (count(__present IS NULL) == the anti count;
    row-identical on clean AND duplicate-key/NULL-key corpora, oracle
    MATCH). It is the wrong trade at both scales: customer is
    SF-SCALED, so the broadcast hint that made it fast locally is
    forbidden (test_no_broadcast_hint_on_sf_scaled_relations — at 100×
    it OOMs), and without it the join shuffles the FULL 4-column orders
    rows by custkey before any aggregation can reduce them — replacing
    a 1-column re-scan with a full-row shuffle, strictly more bytes
    moved at cluster scale. Measured locally: 0.364 s (this shape) vs
    0.592 s (fold) min-of-3 at sf0.1. The two-pass shape's second scan
    stays in tools/scan_audit.py EXPECTED with this justification."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    agg = orders.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("o_custkey").isNull(), 1)).alias("null_custkey"),
        F.count(F.when(F.col("o_orderdate").isNull(), 1)).alias(
            "null_orderdate"
        ),
        F.count(F.when(F.col("o_totalprice") <= 0, 1)).alias(
            "nonpositive_totalprice"
        ),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias(
            "duplicate_pk"
        ),
    )
    orphans = orders.join(
        customer, orders.o_custkey == customer.c_custkey, "left_anti"
    ).agg(F.count(F.lit(1)).alias("fk_orphans"))
    return agg.crossJoin(orphans).selectExpr(
        "stack(6, 'n_rows', n_rows, 'null_custkey', null_custkey, "
        "'null_orderdate', null_orderdate, "
        "'nonpositive_totalprice', nonpositive_totalprice, "
        "'duplicate_pk', duplicate_pk, 'fk_orphans', fk_orphans) "
        "AS (check_name, value)"
    )


@register(
    "distinct_counts",
    """
    SELECT count(DISTINCT user_id) AS n_users,
           count(DISTINCT event_type) AS n_types,
           count(*) AS n_events
    FROM events
    """,
    tags=("agg", "distinct"),
)
def distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregates — Catalyst expands to a two-phase aggregate
    (expand + partial dedup before the final count)."""
    events = load_table(spark, sf_dir, "events")
    return events.agg(
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct("event_type").alias("n_types"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "order_status_rollup",
    """
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n_orders,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
    tags=("agg", "rollup"),
)
def order_status_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (status → priority → grand total)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(dec("o_totalprice")).cast("double").alias("total_price"),
    )


@register(
    "event_type_cube",
    """
    -- pmod mirror: Spark's pmod is non-negative; SQL % keeps the
    -- dividend sign, so extreme NEGATIVE ids would mint divergent
    -- parity groups (r7 extreme audit)
    SELECT event_type, ((user_id % 2) + 2) % 2 AS user_parity, count(*) AS n
    FROM events
    GROUP BY CUBE (event_type, ((user_id % 2) + 2) % 2)
    """,
    tags=("agg", "cube"),
)
def event_type_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two dimensions — all 4 grouping-set combinations."""
    events = load_table(spark, sf_dir, "events").withColumn(
        "user_parity", F.pmod("user_id", F.lit(2))
    )
    return events.cube("event_type", "user_parity").agg(F.count(F.lit(1)).alias("n"))


@register(
    "grouping_sets_revenue",
    """
    SELECT o_orderstatus, o_orderpriority,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
    tags=("agg", "grouping-sets", "sql-api"),
)
def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS via the SQL API, the same Catalyst plan as the
    DataFrame form. The table is bound as a DataFrame argument, which
    PySpark registers under a unique temp-view name only for the eager
    analysis and then drops: no session catalog state, so concurrent
    callers on one session with different sf_dirs cannot read each
    other's corpus (``tools/run_audits.py --classes concurrency`` leg
    C)."""
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS total_price
        FROM {orders}
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """,
        orders=load_table(spark, sf_dir, "orders"),
    )


@register(
    "customers_with_orders_by_segment",
    """
    SELECT c_mktsegment, count(*) AS n_customers
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY c_mktsegment
    """,
    tags=("join", "semi"),
)
def customers_with_orders_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS): customers having ≥1 order. The semi join
    shuffles only keys, never duplicates the probe side."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    with_orders = customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_semi"
    )
    return with_orders.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers")
    )


@register(
    "customers_without_orders",
    """
    SELECT c_custkey, c_name
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
    tags=("join", "anti"),
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS): never-ordered customers."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@register(
    "high_balance_accounts_union",
    """
    SELECT c_name AS name, c_acctbal AS acctbal, 'customer' AS kind
    FROM customer WHERE c_acctbal > 9000
    UNION ALL
    SELECT s_name AS name, s_acctbal AS acctbal, 'supplier' AS kind
    FROM supplier WHERE s_acctbal > 9000
    """,
    tags=("setop", "union"),
)
def high_balance_accounts_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL of two filtered projections with a discriminator column."""
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    c = customer.filter(F.col("c_acctbal") > 9000).select(
        F.col("c_name").alias("name"),
        F.col("c_acctbal").alias("acctbal"),
        F.lit("customer").alias("kind"),
    )
    s = supplier.filter(F.col("s_acctbal") > 9000).select(
        F.col("s_name").alias("name"),
        F.col("s_acctbal").alias("acctbal"),
        F.lit("supplier").alias("kind"),
    )
    return c.unionByName(s)


@register(
    "purchase_and_error_users",
    """
    SELECT user_id FROM events WHERE event_type = 'purchase'
    INTERSECT
    SELECT user_id FROM events WHERE event_type = 'error'
    """,
    tags=("setop", "intersect"),
)
def purchase_and_error_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct semantics)."""
    events = load_table(spark, sf_dir, "events")
    p = events.filter(F.col("event_type") == "purchase").select("user_id")
    e = events.filter(F.col("event_type") == "error").select("user_id")
    return p.intersect(e)


@register(
    "purchase_only_users",
    """
    SELECT user_id FROM events WHERE event_type = 'purchase'
    EXCEPT
    SELECT user_id FROM events WHERE event_type = 'error'
    """,
    tags=("setop", "except"),
)
def purchase_only_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct semantics)."""
    events = load_table(spark, sf_dir, "events")
    p = events.filter(F.col("event_type") == "purchase").select("user_id")
    e = events.filter(F.col("event_type") == "error").select("user_id")
    return p.subtract(e)


@register(
    "event_counts_pivot",
    """
    SELECT ((user_id % 10) + 10) % 10 AS user_bucket,  -- pmod mirror
           count(CASE WHEN event_type = 'click'    THEN 1 END) AS click,
           count(CASE WHEN event_type = 'view'     THEN 1 END) AS "view",
           count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
           count(CASE WHEN event_type = 'signup'   THEN 1 END) AS signup,
           count(CASE WHEN event_type = 'error'    THEN 1 END) AS error
    FROM events
    GROUP BY 1
    """,
    tags=("pivot",),
)
def event_counts_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot event types to columns (explicit value list → no extra pass
    to discover values; missing combinations coalesced to 0 to match
    COUNT(CASE) semantics)."""
    events = load_table(spark, sf_dir, "events").withColumn(
        "user_bucket", F.pmod("user_id", F.lit(10))
    )
    types = ["click", "view", "purchase", "signup", "error"]
    pivoted = (
        events.groupBy("user_bucket")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
    )
    return pivoted.select(
        "user_bucket",
        *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in types],
    )


@register(
    "user_sessions",
    f"""
    WITH {ORACLE_EV_CTE},
    ordered AS (
      SELECT user_id, ts,
             lag(ts) OVER (PARTITION BY user_id
                           ORDER BY ts NULLS FIRST, event_id) AS prev_ts
      FROM ev
    ),
    flagged AS (
      SELECT user_id, ts,
             CASE WHEN prev_ts IS NULL
                       OR CAST(floor(epoch(ts)) AS BIGINT)
                          - CAST(floor(epoch(prev_ts)) AS BIGINT) > 1800 THEN 1 ELSE 0 END
                 AS new_session
      FROM ordered
    )
    SELECT user_id,
           CAST(sum(new_session) AS BIGINT) AS n_sessions,
           count(*) AS n_events
    FROM flagged
    GROUP BY user_id
    """,
    tags=("window", "sessionize"),
)
def user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: lag-gap > 30 min starts a new session; count
    sessions per user. One shuffle on user_id shared by the window and
    the aggregate (Catalyst reuses the partitioning). Event-time
    boundary: garbage-time rows sort first (NULLS FIRST pinned — the
    engines' ASC defaults differ) and open one session each; a real-ts
    row following them re-opens via the prev_ts IS NULL arm."""
    events = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = events.select(
        "user_id",
        "ts",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
                > 1800
            ),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    return flagged.groupBy("user_id").agg(
        F.sum("new_session").cast("bigint").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "purchase_with_prior_view",
    f"""
    WITH {ORACLE_EV_CTE},
    tagged AS (
      SELECT user_id, event_id, ts, event_type, value,
             last_value(CASE WHEN event_type = 'view' THEN value END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS prior_view_value
      FROM ev WHERE event_type IN ('view', 'purchase')
    )
    SELECT user_id, event_id, ts, value, prior_view_value
    FROM tagged WHERE event_type = 'purchase'
    """,
    tags=("window", "asof"),
)
def purchase_with_prior_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join expressed as a merged-stream window (Spark has no
    native as-of): each purchase picks up the most recent earlier 'view'
    value for the same user — last non-null over an ordered frame ending
    1 row before current. One shuffle on user_id; no range-join blowup.
    Event-time boundary: NULLS FIRST pinned on ts (engine ASC defaults
    differ), so garbage-time rows sort deterministically."""
    events = load_events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    tagged = events.filter(F.col("event_type").isin("view", "purchase")).select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        "value",
        F.last(
            F.when(F.col("event_type") == "view", F.col("value")), ignorenulls=True
        )
        .over(w)
        .alias("prior_view_value"),
    )
    return tagged.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts", "value", "prior_view_value"
    )


@register(
    "running_revenue_per_customer",
    """
    SELECT o_custkey, o_orderkey, o_orderdate,
           CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                OVER (PARTITION BY o_custkey
                      ORDER BY o_orderdate NULLS FIRST, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE) AS running_total,
           rank() OVER (PARTITION BY o_custkey
                        ORDER BY o_totalprice DESC NULLS LAST, o_orderkey)
               AS price_rank
    FROM orders
    """,
    # NULL placement is spelled out because the engines' defaults differ
    # (Spark ASC=NULLS FIRST/DESC=NULLS LAST, DuckDB the reverse) — a
    # NULL o_orderdate would silently shift every later running_total
    # (``tools/run_audits.py --classes null`` finding).
    tags=("window",),
)
def running_revenue_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running windowed SUM (exact decimal accumulation) + rank per
    customer — the window-function pair the dashboard sort/argmax
    generalizes to."""
    orders = load_table(spark, sf_dir, "orders")
    w_run = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_rank = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), "o_orderkey"
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.sum(dec("o_totalprice")).over(w_run).cast("double").alias("running_total"),
        F.rank().over(w_rank).alias("price_rank"),
    )


@register(
    "scalar_function_profile",
    """
    SELECT c_custkey,
           upper(c_name) AS name_upper,
           lower(c_mktsegment) AS segment_lower,
           substring(c_name, 1, 8) AS name_prefix,
           concat_ws('-', c_mktsegment, CAST(c_custkey AS VARCHAR)) AS tag,
           length(c_name) AS name_len,
           c_custkey % 3 + 1 AS party_bucket,
           CASE WHEN c_custkey % 2 = 1 THEN 'odd' ELSE 'even' END AS parity,
           abs(c_acctbal) AS abs_bal,
           CAST(floor(c_acctbal) AS BIGINT) AS floor_bal,
           CAST(ceil(c_acctbal) AS BIGINT) AS ceil_bal
    FROM customer
    """,
    tags=("scalar", "F1-F9"),
)
def scalar_function_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-function suite (reference F1/F4/F8 shapes + the standard
    string/math set): pure projection, whole-stage codegen, pushes the
    4-column read schema into the scan."""
    customer = load_table(spark, sf_dir, "customer")
    return customer.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.lower("c_mktsegment").alias("segment_lower"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.concat_ws("-", "c_mktsegment", F.col("c_custkey").cast("string")).alias(
            "tag"
        ),
        F.length("c_name").alias("name_len"),
        (F.pmod("c_custkey", F.lit(3)) + 1).alias("party_bucket"),
        F.when(F.pmod("c_custkey", F.lit(2)) == 1, "odd")
        .otherwise("even")
        .alias("parity"),
        F.abs("c_acctbal").alias("abs_bal"),
        F.floor("c_acctbal").cast("bigint").alias("floor_bal"),
        F.ceil("c_acctbal").cast("bigint").alias("ceil_bal"),
    )


@register(
    "order_date_parts",
    """
    SELECT o_orderkey,
           year(o_orderdate) AS order_year,
           month(o_orderdate) AS order_month,
           day(o_orderdate) AS order_day,
           dayofweek(o_orderdate) + 1 AS order_dow,  -- duckdb 0=Sun, spark 1=Sun
           strftime(o_orderdate, '%Y-%m-%d') AS order_date_str,
           CAST(date_trunc('month', o_orderdate) AS TIMESTAMP)
               AS order_month_start,  -- duckdb month-trunc yields DATE
           CAST(date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) AS INT)
               AS days_since_epoch_start
    FROM orders
    WHERE o_orderkey % 100 = 0
    """,
    tags=("scalar", "dates", "F2", "F3"),
)
def order_date_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time function suite (reference F2/F3 shapes): extraction,
    formatting, truncation, day arithmetic."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.pmod("o_orderkey", F.lit(100)) == 0
    )
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.dayofmonth("o_orderdate").alias("order_day"),
        F.dayofweek("o_orderdate").alias("order_dow"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date_str"),
        F.date_trunc("month", "o_orderdate").alias("order_month_start"),
        F.datediff(
            F.col("o_orderdate"), F.lit("1995-01-01 00:00:00").cast("timestamp")
        )
        .cast("int")
        .alias("days_since_epoch_start"),
    )


@register(
    "value_quartiles_by_type",
    """
    SELECT event_type,
           quantile_cont(CASE WHEN isfinite(value) THEN value END, 0.25) AS q1,
           quantile_cont(CASE WHEN isfinite(value) THEN value END, 0.5)  AS median,
           quantile_cont(CASE WHEN isfinite(value) THEN value END, 0.75) AS q3,
           min(value) AS min_value,
           max(value) AS max_value
    FROM events
    GROUP BY event_type
    """,
    tags=("agg", "percentile"),
)
def value_quartiles_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group — Spark's ``percentile``
    matches DuckDB's ``quantile_cont`` bit-for-bit (same linear
    interpolation over the sorted run). INTERPOLATED stats declare a
    FINITE-domain contract (non-finite folds to NULL = excluded): the
    r7 float audit measured that the two engines place NaN differently
    inside a quantile sort, so interpolation over a NaN/Inf-bearing run
    is not cross-engine deterministic — while min/max stay raw because
    the engines AGREE there (NaN greatest, above +Inf, in both) and a
    raw extreme is honest data observability. Exact percentiles sort
    within groups; at 100 TB prefer ``approx_percentile`` (sketch
    mergeable in the partial-aggregate pass) — see
    ``approx_value_quartiles_check``."""
    events = load_table(spark, sf_dir, "events")
    fin = finite_or_null("value")
    return events.groupBy("event_type").agg(
        F.percentile(fin, 0.25).alias("q1"),
        F.percentile(fin, 0.5).alias("median"),
        F.percentile(fin, 0.75).alias("q3"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )


@register(
    "approx_distinct_users_check",
    """
    SELECT event_type,
           count(DISTINCT user_id) AS exact_users,
           count(*) AS n_events,
           1 AS within_tolerance
    FROM events
    GROUP BY event_type
    """,
    tags=("agg", "sketch"),
)
def approx_distinct_users_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct-user estimate per event type, graduated to
    driver-hash evidence via an ACCURACY CONTRACT (the IVF/PQ playbook,
    VERDICT r6 #2): the sketch estimates are engine-specific (Spark HLL++
    vs DuckDB's HLL differ bit-for-bit by design), so instead of hashing
    the estimate we hash the CONTRACT — per group, the exact distinct
    count (oracle-computable) plus ``within_tolerance`` = 1 iff the
    Spark-side HLL estimate lands within 5σ (= 5 × rsd 0.02 = 10%,
    floor 1) of that exact count. DuckDB replays exact + literal 1, so a
    sketch drifting out of its error bound flips the bit and RED-fails
    the hash row — a strictly stronger gate than the old rows-only check.

    The sketch still runs (the bit is derived from it). Scale story is
    unchanged: at 100 TB you run ONLY the ``approx_count_distinct``
    branch (mergeable partial aggregates, one shuffle row per
    (partition, key), no exact-distinct per-key row explosion); the
    exact branch here is the certification harness, same shape as the
    exact twin ``distinct_counts``. INT (not BOOLEAN) for the bit: the
    driver's value hash has proven int-family folding, no boolean
    precedent across the registry (oracle_harness._type_family).
    Reference anchor: the dashboard's distinct-turnout card
    (reference ``streamlit-app.py`` voter-count metric) is this
    aggregate's exact form."""
    events = load_table(spark, sf_dir, "events")
    agg = events.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.count_distinct("user_id").alias("exact_users"),
        F.count(F.lit(1)).alias("n_events"),
    )
    tol = F.greatest(F.lit(1.0), F.col("exact_users") * 0.10)
    return agg.select(
        "event_type",
        "exact_users",
        "n_events",
        (F.abs(F.col("approx_users") - F.col("exact_users")) <= tol)
        .cast("int")
        .alias("within_tolerance"),
    )


@register(
    "event_window_suite",
    f"""
    WITH {ORACLE_EV_CTE}
    SELECT user_id, event_id, ts, value,
           lag(value)  OVER w AS prev_value,
           lead(value) OVER w AS next_value,
           rank()       OVER w2 AS value_rank,
           dense_rank() OVER w2 AS value_dense_rank,
           ntile(4)     OVER w2 AS value_quartile
    FROM ev
    WHERE ((user_id % 200) + 200) % 200 = 0
    WINDOW w  AS (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id),
           w2 AS (PARTITION BY user_id ORDER BY value NULLS FIRST, event_id)
    """,
    # Explicit NULLS FIRST = Spark's ASC default; DuckDB defaults to
    # NULLS LAST, which reorders rank/ntile when value is NULL
    # (``tools/run_audits.py --classes null`` finding).
    tags=("window",),
)
def event_window_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function breadth on one frame: lag/lead over event time,
    rank/dense_rank/ntile over value — all share the single shuffle on
    user_id; the two sort orders run as in-partition sorts. The filter
    mirrors Spark pmod (negative extreme ids must bucket identically);
    event-time boundary on the emitted ts."""
    events = load_events(spark, sf_dir).filter(
        F.pmod("user_id", F.lit(200)) == 0
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w2 = Window.partitionBy("user_id").orderBy("value", "event_id")
    return events.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        F.rank().over(w2).alias("value_rank"),
        F.dense_rank().over(w2).alias("value_dense_rank"),
        F.ntile(4).over(w2).alias("value_quartile"),
    )


@register(
    "embedding_array_profile",
    """
    SELECT vec_id,
           len(embedding) AS dims,
           round(CAST(list_min(embedding) AS DOUBLE), 6) AS min_component,
           round(CAST(list_max(embedding) AS DOUBLE), 6) AS max_component,
           round(sqrt(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS l2_norm,
           round(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE))) / len(embedding), 6) AS mean_component
    FROM embeddings
    WHERE vec_id % 10 = 0
    """,
    tags=("array", "scalar"),
)
def embedding_array_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-function suite over the embedding column: size, min/max
    components, L2 norm and mean via ``F.aggregate``/``F.transform``
    folds — per-row codegen expressions, no UDF, no shuffle."""
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.pmod("vec_id", F.lit(10)) == 0
    )
    as_double = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    sq_sum = F.aggregate(
        as_double, F.lit(0.0), lambda acc, x: acc + x * x
    )
    comp_sum = F.aggregate(as_double, F.lit(0.0), lambda acc, x: acc + x)
    return emb.select(
        "vec_id",
        F.size("embedding").alias("dims"),
        F.round(F.array_min("embedding").cast("double"), 6).alias("min_component"),
        F.round(F.array_max("embedding").cast("double"), 6).alias("max_component"),
        F.round(F.sqrt(sq_sum), 6).alias("l2_norm"),
        F.round(comp_sum / F.size("embedding"), 6).alias("mean_component"),
    )


@register(
    "top_words",
    r"""
    WITH words AS (
      SELECT lower(w) AS word
      FROM documents,
           UNNEST(regexp_split_to_array(trim(text), '\s+')) AS t(w)
      WHERE w <> '')
    SELECT word, count(*) AS n
    FROM words
    GROUP BY word
    ORDER BY n DESC, word
    LIMIT 20
    """,
    tags=("text", "explode", "topk"),
)
def top_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed word count: explode(split) → partial-aggregated count
    → top-20. The explode multiplies rows executor-side only; the shuffle
    carries one row per distinct word per partition (map-side combine),
    and the final top-20 is TakeOrdered."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(F.split(F.trim("text"), r"\s+")).alias("w")
    ).filter(F.col("w") != "")
    return (
        words.select(F.lower("w").alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "word")
        .limit(20)
    )


@register(
    "approx_value_quartiles_check",
    """
    SELECT event_type,
           quantile_cont(CASE WHEN isfinite(value) THEN value END, 0.25) AS q1,
           quantile_cont(CASE WHEN isfinite(value) THEN value END, 0.5)  AS median,
           quantile_cont(CASE WHEN isfinite(value) THEN value END, 0.75) AS q3,
           1 AS within_tolerance
    FROM events
    GROUP BY event_type
    """,
    tags=("agg", "sketch", "percentile"),
)
def approx_value_quartiles_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch percentiles per group, graduated to driver-hash evidence
    via an ACCURACY CONTRACT (VERDICT r6 #2, same playbook as
    ``approx_distinct_users_check``): the Greenwald-Khanna estimates from
    ``approx_percentile`` are engine-specific, so the hashed output is
    the EXACT interpolated quartiles (bit-matching DuckDB
    ``quantile_cont`` — proven by the exact twin
    ``value_quartiles_by_type``) plus ``within_tolerance`` = 1 iff each
    sketch estimate lies inside the ORDER-STATISTIC envelope
    [percentile_disc(p-0.01), percentile_disc(p+0.01)]. The envelope
    must be rank-space, not interpolated: GK returns an actual data
    element, and for tiny groups the interpolated value at p±0.01 can
    sit strictly between two elements, excluding the element the exact
    sketch correctly returns (found by ``tools/run_audits.py --classes null``
    on the poisoned corpus's 2-3-row '' / NULL event-type groups). The
    discrete envelope encodes the real contract: GK with accuracy
    10 000 guarantees rank error ≤ n/10 000, two orders of magnitude
    inside the ±0.01·n rank envelope; for n < accuracy the sketch is
    exact and at integer-rank boundaries the envelope spans both
    adjacent order statistics, covering either rank convention — so the
    bit is deterministically 1 on any corpus unless the sketch
    implementation regresses, which is exactly the signal the gate
    should catch. All-NULL value groups yield NULL from both the
    sketch and the envelope → the NULL-branch keeps the bit at 1 (both
    engines agree on NULL quartiles; the poisoned corpus exercises
    this).

    The sketch still runs per group; at 100 TB you run ONLY the sketch
    branch (mergeable in the partial-aggregate pass — shuffles sketches,
    not rows, no per-group sort); the exact branch is the certification
    harness."""
    events = load_table(spark, sf_dir, "events").withColumn(
        # Finite-domain contract, same as value_quartiles_by_type: every
        # order statistic here (exact, sketch, and disc envelope) reads
        # the finite fold so the contract bit compares like with like.
        "__fv",
        finite_or_null("value"),
    )
    probes = {
        "q1": 0.25,
        "median": 0.5,
        "q3": 0.75,
    }
    aggs = []
    for name, p in probes.items():
        aggs.append(F.percentile("__fv", p).alias(name))
        aggs.append(F.approx_percentile("__fv", p, 10_000).alias(f"_a_{name}"))
        aggs.append(
            F.expr(
                f"percentile_disc({p - 0.01}) WITHIN GROUP (ORDER BY __fv)"
            ).alias(f"_lo_{name}")
        )
        aggs.append(
            F.expr(
                f"percentile_disc({p + 0.01}) WITHIN GROUP (ORDER BY __fv)"
            ).alias(f"_hi_{name}")
        )
    agg = events.groupBy("event_type").agg(*aggs)
    ok = F.lit(True)
    for name in probes:
        a, lo, hi = (F.col(f"_{p}_{name}") for p in ("a", "lo", "hi"))
        ok = ok & F.when(a.isNull(), lo.isNull()).otherwise(
            (a >= lo) & (a <= hi)
        )
    return agg.select(
        "event_type", "q1", "median", "q3", ok.cast("int").alias("within_tolerance")
    )


@register(
    "asof_last_click",
    f"""
    WITH {ORACLE_EV_CTE},
    rc AS (
      -- NULL-time clicks can never be "the most recent click" — and
      -- DuckDB's sort-based ASOF would otherwise place NULL greatest
      -- and hand NULL-probe rows a match (r7 extreme audit), where the
      -- operator's no-match-on-NULL-time contract attaches nothing.
      SELECT user_id, ts AS cts, event_id AS last_click_id,
             value AS last_click_value
      FROM ev WHERE event_type = 'click' AND ts IS NOT NULL
      QUALIFY row_number() OVER (PARTITION BY user_id, ts
          ORDER BY event_id DESC, value DESC NULLS LAST) = 1),
    p AS (SELECT * FROM ev WHERE event_type = 'purchase')
    SELECT e.event_id, e.user_id, e.ts,
           r.last_click_id, r.last_click_value,
           epoch_us(e.ts) - epoch_us(r.cts) AS micros_since_click
    FROM (SELECT * FROM p WHERE ts IS NOT NULL) e
    ASOF LEFT JOIN rc r ON e.user_id = r.user_id AND e.ts >= r.cts
    UNION ALL
    SELECT event_id, user_id, ts,
           CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT)
    FROM p WHERE ts IS NULL
    """,
    # The pre-reduce uses a TOTAL order (event_id DESC, value DESC):
    # arg_max(value, event_id) left the winner undefined when a
    # duplicated event_id carried different values — the r6
    # duplicate-row audit caught the two engines picking different rows.
    headline=True,  # window-heavy as-of over full events — track its cost
    tags=("join", "asof"),
)
def asof_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: every purchase picks up the most recent click
    at-or-before it for the same user. Both sides are slices of ONE
    events table, so this runs the fused single-source form
    (``relational.asof_self_join``, r15): scan → side tag → (user, ts)
    pre-reduce window → as-of window — one events scan instead of the
    two the general ``asof_join`` pays, no Union node, the same two key
    exchanges, and row-identical output (pinned against the two-table
    construction in tests/test_pipeline_ops.py; measured 0.64 → 0.53 s
    at sf0.1). The pre-reduce keeps one click per (user, ts) by the
    TOTAL order (event_id DESC, value DESC NULLS LAST) — the asof
    uniqueness contract (max_by keyed on event_id alone is undefined
    when duplicated event_ids carry different values, the r6
    duplicate-row audit finding). The oracle is DuckDB's NATIVE ASOF
    LEFT JOIN — two independent as-of implementations agreeing
    value-for-value."""
    from realtime_voting_data_engineering_spark.operators import relational as R

    events = load_events(spark, sf_dir).select("event_id", "user_id", "ts", "value", "event_type")
    joined = R.asof_self_join(
        events,
        on="user_id",
        time_col="ts",
        left_pred=F.col("event_type") == "purchase",
        right_pred=F.col("event_type") == "click",
        attach={
            "last_click_id": F.col("event_id"),
            "last_click_value": F.col("value"),
        },
        right_tiebreak=[
            F.col("event_id").desc(),
            F.col("value").desc_nulls_last(),
        ],
    )
    return joined.select(
        "event_id",
        "user_id",
        "ts",
        "last_click_id",
        "last_click_value",
        (F.unix_micros("ts") - F.unix_micros("__asof_time")).alias(
            "micros_since_click"
        ),
    )


@register(
    "purchases_after_error",
    f"""
    WITH {ORACLE_EV_CTE},
    e AS (
      SELECT event_id AS error_id, user_id, ts AS w_start,
             ts + INTERVAL 15 MINUTE AS w_end
      FROM ev WHERE event_type = 'error'),
    p AS (
      SELECT user_id, ts AS pts, value
      FROM ev WHERE event_type = 'purchase')
    SELECT e.error_id, count(*) AS n_purchases,
           CAST(CAST(SUM({ORACLE_DEC_VALUE.format(col='p.value')}) AS VARCHAR) AS DOUBLE) AS purchase_value
    FROM p JOIN e
      ON p.user_id = e.user_id AND p.pts >= e.w_start AND p.pts <= e.w_end
    GROUP BY e.error_id
    """,
    headline=True,  # new operator class (bucketed range join) — track its cost
    tags=("join", "range"),
)
def purchases_after_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join via ``relational.interval_join``: for each error event,
    the same user's purchases inside [error_ts, error_ts + 15 min] —
    error-impact-on-conversion analysis. Both sides scale with SF, so
    neither is broadcastable; the operator buckets time into 15-minute
    epochs (explode factor ≤ 2 per interval) and equi-joins on
    (user_id, bucket) — never the BroadcastNestedLoopJoin Spark would
    plan for the raw inequality condition (plan-pinned in
    tests/test_plans.py). The oracle runs the same join as a naive
    DuckDB inequality join: two independent range-join strategies must
    agree row-for-row."""
    from realtime_voting_data_engineering_spark.operators import relational as R

    events = load_events(spark, sf_dir)
    errors = events.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"),
        "user_id",
        F.col("ts").alias("w_start"),
        (F.col("ts") + F.expr("INTERVAL 15 MINUTES")).alias("w_end"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("pts"), "value"
    )
    joined = R.interval_join(
        purchases,
        errors,
        point_time="pts",
        start_time="w_start",
        end_time="w_end",
        bucket_seconds=900,
        keys=["user_id"],
    )
    return joined.groupBy("error_id").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.sum(dec("value", 18, 6)).cast("double").alias("purchase_value"),
    )
