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

The loaded DataFrame is a lazy relation (a schema and a file listing, no
data), and each session keeps one per table path for as long as the
table's files keep the same stat (``table_signature``). This is Spark's
catalog relation cache applied to path tables, not a result cache: every
execution still scans the parquet files.
"""

from __future__ import annotations

import json
import os
import stat

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
    ``CANNOT_MODIFY_STATIC_CONFIG`` on a live session. So
    ``session.STATIC_CONFS`` are left alone: a vanilla session keeps
    Spark's 100 codegen cache entries and recompiles warm queries, and
    keeps DataFrame debugging on, so every Column/DataFrame call still
    captures its Python call site."""
    for k, v in SESSION_CONFS.items():
        spark.conf.set(k, v)


def table_signature(path: str) -> "tuple | None":
    """The stat of a table's files: ``(relpath, st_ino, st_size,
    st_mtime_ns, st_ctime_ns)`` of the file itself, or of every file
    under a directory (partition directories and hidden entries
    included), in sorted order. Any rewrite in place, added or removed
    part changes it. None when the path cannot be stat'ed or listed
    (missing, remote filesystem): such a table cannot be checked, so
    callers must not cache anything for it."""

    def _raise(err: OSError) -> None:
        # os.walk swallows listing errors by default: an unreadable
        # directory would yield a stable-looking signature that does not
        # cover its files.
        raise err

    def entry(rel: str, st: os.stat_result) -> tuple:
        return (rel, st.st_ino, st.st_size, st.st_mtime_ns, st.st_ctime_ns)

    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return (entry(".", st),)
        entries = []
        for root, dirs, files in os.walk(path, onerror=_raise):
            dirs.sort()
            rel = os.path.relpath(root, path)
            for f in sorted(files):
                entries.append(
                    entry(os.path.join(rel, f), os.stat(os.path.join(root, f)))
                )
        return tuple(entries)
    except OSError:
        return None


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


#: Loaded tables kept per session, oldest out first: the default size of
#: Spark's own catalog relation cache
#: (``spark.sql.filesourceTableRelationCacheSize``).
_LOADED_MAX = 1000


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one corpus table. Plain parquet scan — predicate pushdown and
    column pruning happen automatically when callers filter/select.

    The schema comes from the table's parquet footer (``footer_schema``),
    so building the DataFrame starts no Spark job — ``spark.read.parquet``
    alone would run a schema-inference job on every call.

    Each session keeps the DataFrame it loaded for a path and returns it
    again while ``table_signature`` is unchanged: a warm load is one
    stat of the table's files plus ``ensure_session_confs``, instead of
    a footer read, a file listing and a frame build (60-95 py4j calls,
    8-11 ms). A rewrite in place, an added or removed part, or a path
    that cannot be stat'ed reads the footer and lists the files again.
    The signature is taken before the read, so a table rewritten during
    a load is read again on the next one.

    A registry query served from a prepared plan (``queries.register``)
    does not call this at all: its plan already holds the relation,
    checked against the stat of the whole corpus directory. Only a
    fresh build loads, and so pins ``SESSION_CONFS`` again."""
    ensure_session_confs(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    sig = table_signature(path)
    # Kept on the session object, so the entries die with the session; a
    # weak-keyed map would not let it die, as each frame refers to it.
    loaded = vars(spark).setdefault("_rtv_loaded_tables", {})
    hit = loaded.get(path)
    if sig is not None and hit is not None and hit[0] == sig:
        return hit[1]
    df = _read_table(spark, path, name)
    if sig is not None:
        # Single dict operations, so threads sharing the session need no
        # lock: a lost race costs one extra read, never a wrong frame.
        if len(loaded) >= _LOADED_MAX:
            loaded.pop(next(iter(loaded)), None)
        loaded[path] = (sig, df)
    return df


def _read_table(spark: SparkSession, path: str, name: str) -> DataFrame:
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
