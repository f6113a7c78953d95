"""Local replica of the driver's correctness gate: run a Spark query and
its DuckDB oracle on the same parquet tables, compare row count, column
names, and an order-insensitive value comparison.

Stricter than the driver where possible: values are compared exactly
(after canonical string rendering), so any engine nondeterminism shows up
here first.
"""

from __future__ import annotations

import datetime as dt
import math
import os

import duckdb

from realtime_voting_data_engineering_spark.sources.tables import TABLE_NAMES


def duckdb_run(sql: str, sf_dir: str):
    cols, rows, _ = duckdb_run_typed(sql, sf_dir)
    return cols, rows


def duckdb_run_typed(sql: str, sf_dir: str):
    """Run the oracle and also return the Arrow schema — the driver's
    value-hash is type-sensitive (DuckDB HUGEINT vs Spark bigint was a
    real round-1 failure), so callers can check type compatibility."""
    con = duckdb.connect()
    for name in TABLE_NAMES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        con.execute(
            f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
        )
    tbl = con.execute(sql).arrow()
    cols = tbl.schema.names
    rows = [tuple(r.values()) for r in tbl.to_pylist()]
    schema = tbl.schema
    con.close()
    return cols, rows, schema


def _type_family(arrow_type) -> str:
    """Collapse an Arrow type to the family the driver's hash treats as
    equivalent.  Round-1 evidence: int32 vs int64 and tz-aware vs naive
    timestamps both hash-matched; int64 vs decimal128(38,0) (DuckDB
    HUGEINT from SUM over integers) did NOT."""
    import pyarrow.types as pat

    if pat.is_integer(arrow_type):
        return "int"
    if pat.is_floating(arrow_type):
        return "float"
    if pat.is_timestamp(arrow_type):
        return "timestamp"
    if pat.is_date(arrow_type):
        return "date"
    if pat.is_decimal(arrow_type):
        return f"decimal({arrow_type.precision},{arrow_type.scale})"
    if pat.is_string(arrow_type) or pat.is_large_string(arrow_type):
        return "string"
    if pat.is_binary(arrow_type) or pat.is_large_binary(arrow_type):
        return "binary"
    if pat.is_list(arrow_type) or pat.is_large_list(arrow_type):
        return f"list<{_type_family(arrow_type.value_type)}>"
    return str(arrow_type)


def assert_types_compatible(name: str, spark_schema, duck_schema) -> None:
    s_fam = {f.name: _type_family(f.type) for f in spark_schema}
    d_fam = {f.name: _type_family(f.type) for f in duck_schema}
    mism = {
        c: (s_fam.get(c), d_fam.get(c))
        for c in sorted(set(s_fam) | set(d_fam))
        if s_fam.get(c) != d_fam.get(c)
    }
    assert not mism, (
        f"{name}: driver-hash-unsafe type mismatch (spark vs oracle): {mism} — "
        "e.g. DuckDB SUM over integers yields HUGEINT; wrap the oracle "
        "aggregate in CAST(... AS BIGINT)"
    )


def _canon(v) -> str:
    """Canonical render so Spark/DuckDB values compare equal when
    semantically identical."""
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # repr keeps full double precision; -0.0 folded to 0.0
        return repr(v + 0.0 if v == 0 else v)
    if isinstance(v, dt.datetime):
        # Aware values (Arrow collection of TIMESTAMP carries the
        # session timezone) are folded to the UTC instant's wall time —
        # the value DuckDB's naive timestamps store. Stripping tzinfo
        # without converting would render the host-local wall time and
        # make the whole harness host-timezone-sensitive
        # (``run_audits.py --classes tz`` is the regression gate).
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def normalize(cols: list[str], rows: list[tuple]) -> list[tuple[str, ...]]:
    """Sort columns by name (driver semantics), canonicalize values, sort
    rows — order-insensitive comparable form."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_canon(row[i]) for i in order) for row in rows]
    out.sort()
    return out


def assert_driver_canonicalizable(name: str, spark_schema) -> None:
    """The REAL driver canonicalizes via pandas ``sort_values`` over the
    whole frame; array/map/struct columns raise ``unhashable type`` there
    (r3 red row for ``embedding_quantization``). The local harness used
    to stringify lists before sorting and so green-lit output the driver
    can never hash — reject non-scalar output columns up front instead."""
    from pyspark.sql import types as T

    bad = [
        f.name
        for f in spark_schema.fields
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
    ]
    assert not bad, (
        f"{name}: oracled query returns non-scalar columns {bad} — the "
        "driver's pandas canonicalizer cannot sort these ('unhashable "
        "type: list'); serialize to string (concat_ws / to_json) in both "
        "the query and the oracle SQL"
    )


def collect_spark_rows(sdf):
    """Collect a Spark result host-timezone-robustly.

    Row-based ``collect()`` renders TIMESTAMP values through the
    *process-local* timezone (``datetime.fromtimestamp``), so the same
    result would canonicalize differently on a non-UTC host even though
    the engine pins ``spark.sql.session.timeZone=UTC`` — a harness
    artifact, not an engine divergence, but one that turns every
    ts-consuming compare into a false mismatch the day the harness runs
    outside UTC. Arrow collection (``df.toArrow()``) instead carries the
    instant with an explicit session-timezone annotation
    (``timestamp[us, tz=UTC]``), which ``_canon`` folds to the UTC wall
    time DuckDB's naive timestamps store. ``tools/run_audits.py --classes
    tz`` runs the whole registry under adversarial host timezones to keep this honest.

    Returns ``(cols, rows, arrow_schema)`` — the schema feeds
    ``assert_types_compatible`` without a second ``toArrow`` round-trip.
    """
    tbl = sdf.toArrow()
    cols = tbl.schema.names
    # Columnar extraction (not to_pylist's row dicts, which would
    # silently collapse duplicate column names). A zero-column result
    # still keeps its row count (N empty tuples, like row-collect did)
    # so a projection bug can't masquerade as an empty result.
    if tbl.num_columns == 0:
        rows: list[tuple] = [()] * tbl.num_rows
    else:
        pycols = [tbl.column(i).to_pylist() for i in range(tbl.num_columns)]
        rows = [tuple(vals) for vals in zip(*pycols)]
    return cols, rows, tbl.schema


def spark_result_hash(sdf) -> str:
    """md5 over the driver-canonical form of a Spark result — the ONE
    definition of "same answer" the cross-run audits (tz, concurrency)
    compare; keeping it beside ``normalize`` prevents the two tools'
    hashes from drifting apart."""
    import hashlib

    cols, rows, _schema = collect_spark_rows(sdf)
    h = hashlib.md5()
    for row in normalize(cols, rows):
        h.update("\x1f".join(row).encode())
        h.update(b"\x1e")
    return h.hexdigest()


def compare_query(
    spark, name: str, fn, oracle: str, sf_dir: str, oracle_sf_dir: str | None = None
) -> None:
    """Spark (on ``sf_dir``) vs DuckDB oracle (on ``oracle_sf_dir``,
    default the same dir). Passing a DIFFERENT oracle dir turns the
    compare into an invariance check — e.g. the order audit class runs
    Spark on a row-permuted corpus against the oracle on the clean one,
    certifying no query's result depends on incidental row order."""
    sdf = fn(spark, sf_dir)
    assert_driver_canonicalizable(name, sdf.schema)
    spark_cols, spark_rows, spark_arrow_schema = collect_spark_rows(sdf)
    duck_cols, duck_rows, duck_schema = duckdb_run_typed(
        oracle, oracle_sf_dir or sf_dir
    )
    assert_types_compatible(name, spark_arrow_schema, duck_schema)

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch spark={sorted(spark_cols)} "
        f"oracle={sorted(duck_cols)}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count spark={len(spark_rows)} oracle={len(duck_rows)}"
    )
    s_norm = normalize(spark_cols, spark_rows)
    d_norm = normalize(duck_cols, duck_rows)
    if s_norm != d_norm:
        diffs = [
            (a, b) for a, b in zip(s_norm, d_norm) if a != b
        ][:5]
        raise AssertionError(
            f"{name}: value mismatch; first diffs (spark vs oracle): {diffs}"
        )
