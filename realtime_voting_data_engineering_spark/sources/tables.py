"""Batch table source: partitioned parquet, schema from the footer.

Replaces the reference's Postgres DDL + fetch-all scans
(main.py:33-79, main.py:256-257, voting.py:41-45) with columnar parquet
scans that Catalyst can push filters and projections into. At 100 TB the
same call reads a partitioned/table-format dataset; nothing here collects
to the driver.

``load_table`` hands Spark the table's schema instead of letting
``spark.read.parquet`` infer it: inference launches a one-task Spark job
per load just to read one parquet footer, before the query is even
built. Here the driver reads that same footer itself (a few ms) and
converts it with Spark's own footer-to-schema function, so the types
are exactly the inferred ones and a load starts no Spark job.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from realtime_voting_data_engineering_spark.session import SESSION_CONFS

#: Driver-generated corpus tables (TESTDATA.md).
TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


#: Columns stored as parquet TIMESTAMP(NANOS) — Spark reads them as long
#: (``spark.sql.legacy.parquet.nanosAsLong``); we truncate to micros,
#: matching DuckDB's nanos→micros truncation, so both engines see the
#: same timestamp values.
NANO_TS_COLUMNS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


def ensure_session_confs(spark: SparkSession) -> None:
    """Defensively set the runtime-settable confs this engine's semantics
    depend on (``session.SESSION_CONFS``). The driver harness supplies
    its *own* SparkSession — a vanilla one rejects TIMESTAMP(NANOS)
    parquet and may carry a non-UTC session timezone, so we pin them
    here rather than relying on our session builder having been used.

    Static confs cannot be pinned here: ``spark.conf.set`` raises
    ``CANNOT_MODIFY_STATIC_CONFIG`` on a live session. So the codegen
    cache size (``session.CODEGEN_CACHE_ENTRIES``) is left alone, and a
    vanilla session keeps Spark's 100 entries and recompiles warm
    queries."""
    for k, v in SESSION_CONFS.items():
        spark.conf.set(k, v)


def footer_schema(spark: SparkSession, path: str) -> StructType:
    """The schema ``spark.read.parquet(path)`` would infer, read on the
    driver without a Spark job. Mirrors Spark's default (non-merging)
    inference: a file is its own footer; a directory contributes its
    first data part in sorted name order, skipping hidden ``_``/``.``
    entries (``_SUCCESS``, ``.crc`` checksums) and descending into
    partition directories (``lang=en/``). Like inference it assumes
    every part shares that schema. The footer goes through Spark's
    ``ParquetFileFormat.readSchemaFromFooter`` with a converter built
    on the session's SQL conf, so types match inference exactly (a
    Spark-written schema in the footer's metadata wins; TIMESTAMP(NANOS)
    follows ``nanosAsLong``). A missing path, an empty directory or an
    unreadable footer raises here."""
    jvm = spark._jvm
    state = spark._jsparkSession.sessionState()
    conf = state.newHadoopConf()
    Path = jvm.org.apache.hadoop.fs.Path
    jpath = Path(path)
    fs = jpath.getFileSystem(conf)
    status = fs.getFileStatus(jpath)
    while status.isDirectory():
        # globStatus returns its matches sorted by path.
        parts = fs.globStatus(Path(status.getPath(), "[^_.]*"))
        if not parts:
            raise FileNotFoundError(f"no parquet data file under {path}")
        status = parts[0]
    footer = jvm.org.apache.parquet.hadoop.ParquetFileReader.readFooter(
        conf,
        status,
        jvm.org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS,
    )
    pq = jvm.org.apache.spark.sql.execution.datasources.parquet
    schema = pq.ParquetFileFormat.readSchemaFromFooter(
        jvm.org.apache.parquet.hadoop.Footer(status.getPath(), footer),
        pq.ParquetToSparkSchemaConverter(state.conf()),
    )
    return StructType.fromJson(json.loads(schema.json()))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one corpus table. Plain parquet scan — predicate pushdown and
    column pruning happen automatically when callers filter/select.

    The schema comes from the table's parquet footer (``footer_schema``),
    so building the DataFrame starts no Spark job — ``spark.read.parquet``
    alone would run a schema-inference job on every call. The footer is
    read again on every load rather than cached: the audit tools rewrite
    corpora in place, a cached schema would go stale with them, and one
    footer read costs a few ms on the driver."""
    ensure_session_confs(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.schema(footer_schema(spark, path)).parquet(path)
    for col in NANO_TS_COLUMNS.get(name, ()):
        dtype = dict(df.dtypes).get(col)
        if dtype == "bigint":
            df = df.withColumn(col, F.expr(f"timestamp_micros({col} div 1000)"))
        elif dtype == "timestamp_ntz":
            # ``nanosAsLong`` is only honored when set BEFORE the session
            # starts (builder-time). The driver's vanilla session sets it
            # too late, so Spark reads TIMESTAMP(NANOS) as micros-truncated
            # TIMESTAMP_NTZ instead. Cast to the canonical session-TZ
            # timestamp (UTC pinned above → identical wall-clock values to
            # the bigint path) so downstream code sees ONE type — functions
            # like ``unix_micros`` require TIMESTAMP and reject NTZ.
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def table_input_bytes(sf_dir: str, name: str) -> "int | None":
    """Total on-disk bytes of one corpus table (file or directory tree),
    or None when the path cannot be stat'ed (remote filesystem, missing
    file) — callers treat None as "not provably small", i.e. no
    widening."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        if os.path.isdir(path):
            total = 0
            for root, _dirs, files in os.walk(path):
                for f in files:
                    total += os.stat(os.path.join(root, f)).st_size
            return total
        return os.stat(path).st_size
    except OSError:
        return None


def widen_small_scan(
    df: DataFrame,
    spark: SparkSession,
    sf_dir: str,
    name: str,
    *keys: str,
) -> DataFrame:
    """Scale-adaptive parallelism for split-starved scans (optimization
    guide §2.2/§6, r15): when the WHOLE table fits in one scan split,
    every downstream per-row computation chains onto a single core no
    matter how many slots the session has. A round-robin repartition to
    ``sc.defaultParallelism`` unlocks N-way compute for the price of an
    exchange bounded by the threshold itself (≤128 MB — trivially small
    by construction). At any realistic deployment size the condition is
    False and the plan is UNCHANGED — this is "derive partitioning from
    input size", never a constant tuned for local mode.

    Apply ONLY where the post-scan per-row work is heavy (measured r15:
    q1's six decimal-CASE aggregate measures −36%, text_profile's regex
    stack −42%, the MinHash signature stage −29%); for thin pipelines
    the exchange is pure overhead (measured regressions on
    votes_per_candidate, event_rollup, asof — OPTIMIZATION_r15.md) and
    the call is deliberately absent. Place it AFTER selective filters
    and column pruning so pushdown still reaches the scan and the
    exchange carries only surviving rows/columns.

    ``keys``: optional hash-partitioning columns. When the row set feeds
    an aggregation whose keys do NOT collapse under partial aggregation
    (q18's per-order sum: l_orderkey is near-unique per input row, so a
    round-robin widen pays a second exchange for no map-side reduction
    — measured regression), hash-repartitioning on the AGGREGATION key
    makes the widening exchange the one the groupBy itself needs: the
    downstream aggregate reuses the partitioning and the expensive
    per-row aggregate update runs N-way (measured q18: 1.12 → 0.82 s).
    Keyless (round-robin) stays right for pipelines whose first
    exchange is group-collapsing or absent."""
    par = small_scan_parallelism(spark, sf_dir, name)
    if par is None:
        return df
    if keys:
        return df.repartition(par, *keys)
    return df.repartition(par)


def small_scan_parallelism(
    spark: SparkSession, sf_dir: str, name: str
) -> "int | None":
    """The widening gate by itself: the session's default parallelism
    when the table provably fits in one scan split (see
    ``widen_small_scan``), else None. For operators that take a target
    width instead of a pre-widened frame (e.g.
    ``similarity.near_dup_embeddings_srp.verify_parallelism``,
    ``dedup.minhash_dedup_pairs.signature_parallelism``).

    The threshold is the session's own scan-split size,
    ``spark.sql.files.maxPartitionBytes`` (128 MB by default), read as
    the byte count Spark has already parsed: a deployment that lowers it
    already scans a mid-sized table in parallel, and widening again
    would re-pay the exchange this gate exists to avoid."""
    limit = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    nbytes = table_input_bytes(sf_dir, name)
    if nbytes is None or nbytes > limit:
        return None
    return spark.sparkContext.defaultParallelism


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``events`` with the event-time validity window applied at the
    source: ``ts`` outside [EVENT_TS_LO, EVENT_TS_HI) folds to NULL
    (``functions.scalar.valid_event_ts`` — see its rationale: grid
    explosion, driver-boundary range, calendar-rebase divergence). Every
    time-consuming registered query loads events THROUGH this boundary;
    oracles mirror it with an ``ev`` CTE inlining ``ORACLE_VALID_TS``.
    Queries that never touch ``ts`` keep plain ``load_table`` (the fold
    would be dead code Catalyst prunes anyway, but the contract is
    clearer stated at the call site)."""
    from realtime_voting_data_engineering_spark.functions.scalar import (
        valid_event_ts,
    )

    events = load_table(spark, sf_dir, "events")
    return events.withColumn("ts", valid_event_ts(F.col("ts")))


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLE_NAMES
) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in names}
