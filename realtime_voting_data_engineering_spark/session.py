"""SparkSession bootstrap tuned for the engine.

The reference builds its session at spark_stream.py:8-12 with a misspelled
AQE key (``spark.sql.adaptive.enable``) that silently leaves AQE at its
default. We configure deliberately:

- AQE on (coalesce shuffle partitions, skew-join handling at scale).
- Arrow on (vectorized pandas boundary for the few pandas-UDF kernels).
- Session timezone pinned to UTC so timestamp semantics match a
  UTC-naive oracle (DuckDB) and are cluster-location independent.
- ``spark.sql.shuffle.partitions`` sized from the env, not the 200
  default — right for local[N]; on a real cluster this is overridden per
  deployment (AQE coalescing makes the initial number less critical).
- The runtime confs the engine's semantics depend on (``SESSION_CONFS``:
  nanos timestamps as long, UTC, Arrow transfers, safe Arrow casts), set
  here and again on every table load.
- Two static confs (``STATIC_CONFS``), which only the builder can set:
  Spark's generated-code cache sized to the registry's working set
  (``CODEGEN_CACHE_ENTRIES``), so a warm query reuses its compiled
  classes instead of recompiling them with Janino; and DataFrame
  debugging off, so a Column/DataFrame call does not capture its Python
  call site for error messages.
"""

from __future__ import annotations

import os
import pathlib
import tempfile
import threading
import zipfile

from py4j.protocol import Py4JError
from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


#: Entries in Spark's generated-code cache (the static conf
#: ``spark.sql.codegen.cache.maxEntries``, an LRU that defaults to 100).
#: Running all 98 registered queries once at sf0.02 compiles 976-1,000
#: distinct classes, and the 15 headline queries alone cycle ~235, so
#: at 100 entries a round-robin of either misses on every lookup and
#: Janino recompiles each class (6-22 ms apiece measured). 2,048
#: holds the whole registry with ~2x headroom (2,048 / 1,000 = 2.05).
CODEGEN_CACHE_ENTRIES = 2048

#: Runtime-settable confs this engine's semantics depend on. The
#: builder in ``get_spark`` sets them, and
#: ``sources.tables.ensure_session_confs`` sets them again on every
#: table load, so a session built elsewhere (the driver harness's
#: vanilla one) gets them too.
SESSION_CONFS = {
    # Corpus `events.ts` is parquet TIMESTAMP(NANOS); Spark has no
    # nanos timestamp type and a vanilla session rejects the file —
    # read as long, convert at the source (sources/tables.py) by
    # truncating to micros like DuckDB does.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # UTC-naive oracle (DuckDB) semantics, independent of the host tz.
    "spark.sql.session.timeZone": "UTC",
    # Arrow-backed driver⇄JVM transfers (createDataFrame from pandas /
    # toPandas): the engine's bounded driver materializations (the CC
    # union-find label frame, the |Q|-bounded query collects) ride this
    # path — row-list pickling measured ~13× slower on the CC tail
    # (0.33 s → 0.025 s at sf0.1, optimization guide §6 "Arrow for
    # driver transfers").
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Loud-not-wrong for every Pandas kernel: with the default (false),
    # a worker-side pandas→Arrow conversion into a narrower output
    # type silently WRAPS out-of-range values (verified: int64 2^33+7
    # → int32 7 — ADVICE r10 #1's id-corruption class). True makes the
    # task fail instead. Plan-time guards (e.g. similarity.
    # _require_same_id_type) remain the first line — a scheduler-visible
    # refusal beats a mid-job executor error — but this closes the class
    # for kernels without a guard.
    "spark.sql.execution.pandas.convertToArrowArraySafely": "true",
}


#: Static confs (``spark.conf.set`` on a live session raises
#: ``CANNOT_MODIFY_STATIC_CONFIG``): ``get_spark`` sets them when it
#: creates the session, and nothing can set them later.
STATIC_CONFS = {
    "spark.sql.codegen.cache.maxEntries": str(CODEGEN_CACHE_ENTRIES),
    # With debugging on (Spark's default), PySpark wraps every
    # Column/DataFrame call to record its Python file:line for error
    # messages: ~5 py4j round-trips (active session, JVM class lookup,
    # ``conf.get``, set and clear) plus a failing ``import IPython`` per
    # call, about half the py4j calls of a warm headline pass. What is
    # lost: an ANSI runtime error (``DIVIDE_BY_ZERO``, ...) keeps its
    # error class, but its ``== DataFrame ==`` block names a JVM frame
    # instead of the Python call site. Analysis errors are unchanged.
    # PySpark reads the flag once per process, from the session active
    # at the first call.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


def get_spark(
    app_name: str = "realtime-voting-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Scale note: in local mode the driver is the only JVM so
    ``spark.driver.memory`` must be set before JVM launch (spark-submit /
    env); on a cluster these configs ride along unchanged and AQE adapts
    shuffle partitioning at runtime.

    ``STATIC_CONFS`` take effect only when this call creates the
    session, and ``ensure_session_confs`` cannot set them later. A
    session built elsewhere (the driver harness's vanilla one) keeps
    Spark's 100 codegen cache entries and recompiles warm queries, and
    keeps paying the call-site capture on every Column/DataFrame call.
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config(map=SESSION_CONFS)
        .config(map=STATIC_CONFS)
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
    )
    if master is not None:
        builder = builder.master(master)
    elif os.environ.get("SPARK_GRAFT_MASTER"):
        builder = builder.master(os.environ["SPARK_GRAFT_MASTER"])
    else:
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def codegen_stats(spark: SparkSession) -> dict[str, int | float | None]:
    """Janino compilations in the driver JVM, from Spark's
    ``CodegenMetrics.METRIC_COMPILATION_TIME`` histogram.

    ``compilations`` is the JVM-wide count since launch, so the
    difference of two readings counts the classes compiled between
    them (a cache hit compiles nothing). ``compile_ms`` is the mean
    compile time of the histogram's sample (a reservoir biased to the
    last few minutes), None before the first compilation. Both are None
    when the JVM cannot be reached (Spark Connect has no ``_jvm``).
    """
    try:
        hist = (
            spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
            .METRIC_COMPILATION_TIME()
        )
        count = int(hist.getCount())
        mean = float(hist.getSnapshot().getMean()) if count else None
    except (AttributeError, Py4JError):
        return {"compilations": None, "compile_ms": None}
    return {"compilations": count, "compile_ms": mean}


def ensure_workers_can_import(spark: SparkSession) -> None:
    """Ship this package to executor Python workers via ``addPyFile``.

    Any operator that sends a closure to workers (mapInPandas /
    pandas_udf kernels) references this package by module name; workers
    launched by a driver that merely ``sys.path``-hacked the repo (e.g.
    the grading harness running from another cwd) cannot import it and
    fail with ModuleNotFoundError. Zipping the package once per session
    and registering it makes the kernels importable everywhere — local
    workers and real executors alike. Idempotent per SparkContext.
    """
    sc = spark.sparkContext
    if getattr(sc, "_rtv_pkg_shipped", False):
        return
    with _PKG_SHIP_LOCK:  # concurrent first kernels would double-ship
        if getattr(sc, "_rtv_pkg_shipped", False):
            return
        pkg_dir = pathlib.Path(__file__).resolve().parent
        root = pkg_dir.parent
        fd, zpath = tempfile.mkstemp(prefix="rtv_pkg_", suffix=".zip")
        os.close(fd)
        with zipfile.ZipFile(zpath, "w") as z:
            for p in sorted(pkg_dir.rglob("*.py")):
                z.write(p, str(p.relative_to(root)))
        sc.addPyFile(zpath)
        sc._rtv_pkg_shipped = True


#: Double-checked-locking guard for ensure_workers_can_import: two
#: threads' first Arrow-kernel queries on a fresh shared session would
#: otherwise each zip and addPyFile the package (wasted shipping, and
#: workers importing from whichever copy lands last).
_PKG_SHIP_LOCK = threading.Lock()
