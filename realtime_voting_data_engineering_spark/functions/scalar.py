"""Scalar functions F1-F9 (SURVEY.md §2.6), expressed as JVM-side built-in
expressions — whole-stage-codegen friendly, no Python in the hot path.

The reference performs all of these row-at-a-time in plain Python
(main.py:84-172, voting.py:68-74); here each is a Column expression that
vectorizes across 100 TB without serialization overhead.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def full_name(first: Column | str, last: Column | str) -> Column:
    """F1 — ``f"{first} {last}"`` (main.py:103,155)."""
    return F.concat_ws(" ", first, last)


def iso_date(ts: Column | str) -> Column:
    """F2 — ``dob.split('T')[0]`` → DATE (main.py:156)."""
    return F.to_date(ts)


def now_formatted() -> Column:
    """F3 — ``utcnow().strftime('%Y-%m-%d %H:%M:%S')`` (voting.py:72).
    Session TZ is pinned UTC, so current_timestamp matches utcnow."""
    return F.date_format(F.current_timestamp(), "yyyy-MM-dd HH:mm:ss")


def party_for(n: Column | str, total_parties: int = 3) -> Column:
    """F4 — ``"Party {n % total + 1}"`` (main.py:104)."""
    col = F.col(n) if isinstance(n, str) else n
    return F.concat(F.lit("Party "), (F.pmod(col, F.lit(total_parties)) + 1))


def json_encode(*cols: Column | str) -> Column:
    """F5/F7 — ``json.dumps(record)`` / Postgres ``row_to_json``
    (main.py:225, voting.py:41-44,88)."""
    return F.to_json(F.struct(*cols))


def json_decode(col: Column | str, schema: StructType | str) -> Column:
    """F6 — ``json.loads`` against a declared schema (voting.py:67,
    spark_stream.py:51). Fields absent from the schema are dropped,
    declared-but-missing fields parse as NULL — the documented semantics
    of the reference's 22-field schema drift (SURVEY.md §1)."""
    return F.from_json(col, schema)


def uniform_pick(key: Column | str, n: int, seed: int = 21) -> Column:
    """F9 — seeded uniform choice (voting.py:68, main.py:26), made
    deterministic-per-key instead of per-arrival-order."""
    col = F.col(key) if isinstance(key, str) else key
    return F.pmod(F.xxhash64(col, F.lit(seed)), F.lit(n)).cast("int")


def finite_or_null(col: Column | str) -> Column:
    """THE non-finite fold: NaN/±Inf become NULL; finite values and NULL
    pass through unchanged. The single Spark-side spelling of the
    finiteness contract shared by the decimal family (``dec``) and the
    interpolated-percentile family (the quartile queries) — its DuckDB
    mirror is ``CASE WHEN isfinite(x) THEN x END``. One helper, not
    inline copies: the r7 review found the predicate hand-copied in
    four places, where a future semantics tweak would silently diverge
    the contracts that all claim the SAME fold. (The vector boundary in
    ``operators.similarity.valid_vectors`` stays separate on purpose —
    it also rejects NULL components, a per-element contract this
    row-level fold doesn't express.)"""
    c = F.col(col) if isinstance(col, str) else col
    d = c.cast("double")
    return F.when(~F.isnan(d) & (F.abs(d) != F.lit(float("inf"))), c)


#: Event-time validity window (r7 extreme-value audit,
#: ``tools/run_audits.py --classes extreme``). Event analytics REQUIRES a
#: bounded time domain, exactly as watermarking does: the gap-fill grid and the
#: rollup cascade are DERIVED from min/max(ts), so one corrupted
#: year-38503 row asks ``sequence()`` for ~300M buckets and kills the
#: whole job (measured: SparkContext shutdown at sf0.001); timestamps
#: past year 9999 cannot even cross the Arrow→Python driver boundary
#: (``ValueError: year 38504 is out of range``), and pre-Gregorian
#: values sit on the proleptic-vs-hybrid calendar divergence between
#: engines (a 0001-01-01 input rendered as year 0). Out-of-window
#: timestamps are sensor garbage by contract and fold to NULL — the
#: same exclusion semantics the NULL audit already certifies. The
#: window is a deployment constant, deliberately generous (a century).
EVENT_TS_LO = "2000-01-01 00:00:00"
EVENT_TS_HI = "2100-01-01 00:00:00"

#: DuckDB mirror of ``valid_event_ts`` — oracles over poisonable
#: timestamp columns inline this verbatim (pinned by
#: tests/test_registry_order.py).
ORACLE_VALID_TS = (
    "CASE WHEN {col} >= TIMESTAMP '2000-01-01 00:00:00' "
    "AND {col} < TIMESTAMP '2100-01-01 00:00:00' THEN {col} END"
)


#: DuckDB mirror of ``dec(col, 18, 6)`` over a poisonable double (r7
#: extreme audit, refined by the conversion-parity probe): DuckDB's
#: NATIVE double→DECIMAL cast multiplies by 10^scale in floating point
#: and rounds on the double grid, diverging from Spark's
#: shortest-decimal-string HALF_UP conversion — at half-boundaries at
#: ANY magnitude (17.0000005 → 17.000000 vs Spark's 17.000001) and
#: everywhere above 2^53/10^6 ≈ 9e9. The VARCHAR round-trip replays
#: Spark's string conversion exactly; the one place IT breaks is
#: extreme-exponent scientific notation (DuckDB parses '5e-324' as
#: ±0.000001), which the abs() < 1e-7 arm pins to the 0.000000 Spark
#: (the misparse reaches up into [1e-9, 1e-7): '5e-08' parses to
#: 0.000001 — second review pass; every |v| < 5e-7 rounds to zero in
#: Spark, so the widened arm stays inside the agreement region)
#: produces — an explicit 0, not NULL, so an all-tiny group still SUMs
#: to zero on both sides. Pinned empirically by
#: tests/test_harness_sensitivity.py::test_double_to_decimal_conversion_parity_at_the_divergence_window.
ORACLE_DEC_VALUE = (
    "CASE WHEN NOT isfinite({col}) THEN NULL "
    "WHEN abs({col}) < 1e-7 THEN CAST(0 AS DECIMAL(18,6)) "
    "ELSE TRY_CAST(CAST({col} AS VARCHAR) AS DECIMAL(18,6)) END"
)


#: The REVERSE conversion mirror (found by ``tools/run_audits.py --classes
#: fuzz`` seed 2/3 on the rollup cascade): DuckDB's NATIVE DECIMAL→DOUBLE cast
#: converts the scaled int128 to double and THEN divides by 10^scale — two
#: roundings, off by one ulp from the correctly-rounded conversion on
#: ~13% of random decimals whose scaled integer exceeds 2^53 (|v| >
#: 9e9 at scale 6; measured 2691/20001). Spark's Decimal→double
#: (BigDecimal) is correctly rounded (0/5001 vs Python's exact
#: conversion). The VARCHAR route is exact on both engines: a
#: DECIMAL's string render is exact, and string→double parse is
#: correctly rounded (0/20001). A 1-ulp error at 1e11 is ~1.5e-5 —
#: invisible in any single rendered value but visible after one more
#: aggregation level, which is exactly how the rollup cascade exposed
#: it. Use for every decimal-aggregate → DOUBLE cast in oracle SQL.
#: Pinned empirically by tests/test_harness_sensitivity.py::
#: test_decimal_to_double_conversion_parity.
ORACLE_DEC_TO_DOUBLE = "CAST(CAST({expr} AS VARCHAR) AS DOUBLE)"


def odbl(expr: str) -> str:
    """Oracle-SQL helper: render ``expr`` (a DECIMAL aggregate) as the
    exactly-Spark-rounded DOUBLE via the VARCHAR route."""
    return ORACLE_DEC_TO_DOUBLE.format(expr=expr)


#: The whole-table oracle mirror of ``sources.tables.load_events``:
#: oracles over time-consuming queries open with ``WITH {ORACLE_EV_CTE}``
#: and read ``ev`` wherever the Spark side reads ``load_events`` (CTE
#: name ≠ ``events`` because DuckDB rejects self-shadowing CTEs).
ORACLE_EV_CTE = (
    "ev AS (SELECT * REPLACE (" + ORACLE_VALID_TS.format(col="ts")
    + " AS ts) FROM events)"
)


def valid_event_ts(col: Column | str) -> Column:
    """Fold timestamps outside [``EVENT_TS_LO``, ``EVENT_TS_HI``) to
    NULL; in-window values and NULL pass through unchanged. See the
    constant's rationale. Both bounds compare in the session timezone
    (UTC by ``ensure_session_confs``), matching the oracle's naive
    TIMESTAMP literals."""
    c = F.col(col) if isinstance(col, str) else col
    lo = F.lit(EVENT_TS_LO).cast("timestamp")
    hi = F.lit(EVENT_TS_HI).cast("timestamp")
    return F.when((c >= lo) & (c < hi), c)


def dec(col: Column | str, precision: int = 18, scale: int = 2) -> Column:
    """Exact-decimal cast used before SUM/AVG in oracle-checked queries so
    Spark and the DuckDB oracle aggregate identical exact values —
    floating-point summation order is engine-dependent; decimal math is
    not. Final outputs cast back to DOUBLE on both sides.

    NaN/±Inf fold to NULL (= excluded from the aggregate) BEFORE the
    cast (``finite_or_null``): under ANSI mode (Spark 4 default — the
    driver's vanilla session) ``CAST(NaN AS DECIMAL)`` throws, so one
    non-finite measure in 100 TB would kill the whole job (r7 float
    audit, ``tools/run_audits.py --classes float``); DuckDB hard-errors on the
    same cast even under TRY_CAST. Exclude-as-NULL is the one semantics both
    engines express deterministically, and oracles over poisonable
    float columns mirror it with ``CASE WHEN isfinite(x) THEN x END``.

    The cast itself is a ``try_cast`` (r7 extreme audit): a FINITE
    1e308 passes the finiteness fold but overflows the decimal domain,
    and the ANSI cast would again kill the job on one bad row.
    try_cast folds out-of-domain values to NULL identically in both
    engines (oracles over poisonable columns use ``ORACLE_DEC_VALUE``,
    which ALSO replays Spark's string-based rounding exactly — see that
    constant's half-boundary note; no
    representable double lands in the rounding half-ulp at the domain
    edge, so the engines cannot disagree there). Both guards are no-ops
    on contract-clean decimal columns (TPC-H money), whose unguarded
    ``CAST`` oracles hash identically."""
    return finite_or_null(col).try_cast(f"decimal({precision},{scale})")
