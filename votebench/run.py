"""votebench: end-to-end benchmark of the votestream engine.

    python3 votebench/run.py --workload <live_tally|backlog_replay|analyst_panel>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Everything the run writes goes under
``.votebench/`` there: the work directory of the run (deleted at exit),
the last untraced result of each workload, and the span files of traced
runs. Spark runs on ``local[2]`` (``CORES``): two of a 4-core host's
cores, so the generator and dashboard-reader threads and the host itself
do not take slots from the engine.

The last line of stdout is the result:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones every workload reports:

- ``setup_s``: process start to the first timed operation (JVM and session
  start, input staging, warm-up).
- ``peak_rss_mb``: peak resident memory of this process, the Spark JVM and
  the Python workers, summed.
- ``latency_p50_ms``: median latency of the workload's unit of work, a
  chunk's freshness (live_tally), one backlog drain (backlog_replay) or one
  query execution (analyst_panel).
- ``throughput_per_s``: units of work completed per second, events made
  visible (live_tally), events drained (backlog_replay) or query executions
  (analyst_panel).

With ``--trace 1`` they are the per-layer metrics, the spans go to
``.votebench/trace-<workload>-seed<n>.json``, and the report gives each
span name's self time and the tracing overhead: this run's end-to-end
numbers minus those of the workload's last untraced run in the checkout.

The line before the result is a report: the workload's own named metrics
with units (null where a workload does not measure one, or the sample is
too small for the percentile), the sample counts, the error rate and the
ambient context of the timed section. A failed correctness gate prints the
result with ``"correct": false`` and exits 1.

``backlog_replay`` runs by hand; the benchmark's workload list leaves it
out to keep the full set of runs within its time budget.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402
from host import RssSampler, process_age_s  # noqa: E402
from tracing import NullTracer, Tracer  # noqa: E402

#: Spark task slots; recorded in BENCHMARK.json's workload notes.
CORES = 2
WORKLOADS = ("live_tally", "backlog_replay", "analyst_panel")

E2E_UNITS = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "latency_p50_ms": "ms",
    "throughput_per_s": "1/s",
}

#: The workload-specific end-to-end metrics, all reported by every workload.
NAMED_UNITS = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "error_rate": "fraction",
    "freshness_p50_ms": "ms",
    "freshness_p95_ms": "ms",
    "refresh_p50_ms": "ms",
    "refresh_p95_ms": "ms",
    "replay_events_per_s": "events/s",
    "query_p50_ms": "ms",
    "query_p95_ms": "ms",
    "panel_ms": "ms",
}

LAYER_UNITS = {
    "session.start_ms": "ms",
    "datagen.generate_ms": "ms",
    "datagen.wire_bytes": "bytes",
    "gen.late_ms": "ms",
    "sources.tables.load_calls": "count",
    "sources.tables.load_ms": "ms",
    "queries.build_ms": "ms",
    "queries.collect_ms": "ms",
    "queries.jobs": "count",
    "queries.stages": "count",
    "queries.tasks": "count",
    "queries.executor_run_ms": "ms",
    "queries.executor_cpu_ms": "ms",
    "queries.shuffle_read_bytes": "bytes",
    "queries.shuffle_write_bytes": "bytes",
    "queries.spill_bytes": "bytes",
    "operators.dedup.ms": "ms",
    "operators.similarity.ms": "ms",
    "operators.text.ms": "ms",
    "operators.search.ms": "ms",
    "operators.relational.ms": "ms",
    "streaming.pipeline.batches": "count",
    "streaming.pipeline.empty_batches": "count",
    "streaming.pipeline.empty_batch_ms": "ms",
    "streaming.pipeline.rows_per_batch": "count",
    "streaming.pipeline.trigger_ms": "ms",
    "streaming.pipeline.add_batch_ms": "ms",
    "streaming.pipeline.query_planning_ms": "ms",
    "streaming.pipeline.latest_offset_ms": "ms",
    "streaming.pipeline.get_batch_ms": "ms",
    "streaming.pipeline.wal_commit_ms": "ms",
    "streaming.pipeline.commit_offsets_ms": "ms",
    "streaming.pipeline.wait_ms": "ms",
    "streaming.state.stores": "count",
    "streaming.state.commit_ms": "ms",
    "streaming.state.rows_total": "count",
    "streaming.state.memory_bytes": "bytes",
    "serving.compact_ms": "ms",
    "serving.leading_candidate_ms": "ms",
    "serving.results_with_share_ms": "ms",
    "serving.turnout_by_location_ms": "ms",
    "serving.jobs": "count",
}


class Run:
    """What a workload gets: the session, its inputs' seed, the time budget,
    a private work directory, the tracer, and the result it fills in."""

    def __init__(self, spark, seed: int, seconds: float, work: str, tracer) -> None:
        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.correct = True
        self.named: dict[str, "float | None"] = {}
        self.e2e: dict[str, "float | None"] = {}
        self.layers: dict[str, float] = {}
        self.samples: dict[str, int] = {}
        self.flags: dict[str, object] = {}
        self.context: dict[str, dict] = {}
        self.setup_done_s: "float | None" = None
        self.errors: list[str] = []

    def mark_setup_done(self) -> None:
        self.setup_done_s = process_age_s()

    def fail(self, what: str, gate: bool = False) -> None:
        """Count one failed operation; a failed correctness gate also makes
        the run incorrect."""
        self.failed += 1
        self.errors.append(what)
        if gate:
            self.correct = False
        print(f"votebench: {what}", file=sys.stderr)


def start_spark(work: str, conf: "dict[str, str]"):
    """Launch the Spark JVM with its temporary files inside ``work`` and the
    workload's session settings ``conf``."""
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # The heap is committed and touched at launch, so peak RSS does not
    # depend on how far the collector happened to grow it in one run. No
    # perf-data file: the JVM would write it under /tmp.
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--driver-memory 1g --driver-java-options "
        f'"-Djava.io.tmpdir={work} -Xms1g -XX:+AlwaysPreTouch -XX:-UsePerfData" '
        "pyspark-shell"
    )
    from realtime_voting_data_engineering_spark.session import get_spark

    spark = get_spark(
        app_name="votebench",
        master=f"local[{CORES}]",
        shuffle_partitions=CORES,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.sql.streaming.numRecentProgressUpdates": "100000",
            **conf,
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the gateway JVM, and wait for the JVM to exit
    (its Python workers exit with it)."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gateway is not None:
            proc = gateway.proc
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def install_layer_spans(tracer) -> None:
    """Wrap the public entry points of the engine layers the benchmark does
    not call directly (the queries do): ``sources.tables.load_table``."""
    from realtime_voting_data_engineering_spark import queries  # noqa: F401 (loads all query modules)
    from realtime_voting_data_engineering_spark.sources import tables

    tracer.wrap(tables, "load_table", "sources.tables.load_table")


def load_untraced(path: str) -> "dict | None":
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


def main(argv: "list[str] | None" = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds <= 0:
        ap.error("--seconds must be positive")
    # A terminated run still stops the JVM and removes its work directory.
    for sig in (signal.SIGTERM, signal.SIGHUP):
        signal.signal(sig, lambda signum, _frame: sys.exit(128 + signum))

    sys.path.insert(0, ROOT)
    try:
        import bench  # noqa: F401
        import realtime_voting_data_engineering_spark  # noqa: F401
    except ImportError as exc:
        print(f"votebench: the engine is not in {ROOT}: {exc}", file=sys.stderr)
        return 2

    state = os.path.join(ROOT, ".votebench")
    work = os.path.join(state, f"work-{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    os.environ["TMPDIR"] = work
    import tempfile

    tempfile.tempdir = work
    tracer = Tracer() if args.trace else NullTracer()
    rss = RssSampler()
    rss.start()
    spark = None
    try:
        if args.workload == "analyst_panel":
            from panel import analyst_panel as workload

            conf = {}
        else:
            import streams

            workload = getattr(streams, args.workload)
            conf = streams.session_conf(work)
        t0 = time.perf_counter()
        with tracer.span("session.start", request="setup"):
            spark = start_spark(work, conf)
        session_ms = (time.perf_counter() - t0) * 1000.0
        if args.trace:
            install_layer_spans(tracer)
        run = Run(spark, args.seed, args.seconds, work, tracer)
        run.layers["session.start_ms"] = session_ms
        workload(run)
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            peak_mb = rss.stop()
            shutil.rmtree(work, ignore_errors=True)

    run.named["setup_s"] = run.e2e["setup_s"] = run.setup_done_s
    missing = [n for n in E2E_UNITS if n != "peak_rss_mb" and run.e2e.get(n) is None]
    if missing:
        run.fail(f"too few samples for {missing}", gate=True)
    run.named["peak_rss_mb"] = run.e2e["peak_rss_mb"] = peak_mb
    run.named["error_rate"] = stats.error_rate(run.attempted, run.failed)
    for name in LAYER_UNITS:
        run.layers.setdefault(name, 0.0)
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cores": CORES,
        "metrics": {
            n: {"value": run.named.get(n), "unit": u} for n, u in NAMED_UNITS.items()
        },
        "samples": run.samples,
        "flags": run.flags,
        "context": {**run.context, "peak_rss_split_mb": rss.peak_split},
        "errors": run.errors[:20],
    }
    untraced_path = os.path.join(state, f"untraced-{args.workload}.json")
    if args.trace:
        base = load_untraced(untraced_path)
        report["tracing_overhead"] = (
            None
            if base is None
            else {
                n: (None if v is None or base.get(n) is None else v - base[n])
                for n, v in run.e2e.items()
            }
        )
        report["layers"] = run.layers
        trace_path = os.path.join(state, f"trace-{args.workload}-seed{args.seed}.json")
        tracer.dump(trace_path, {"report": report})
        report["trace_file"] = os.path.relpath(trace_path, ROOT)
        report["self_ms_by_layer"] = {
            k: round(v, 3) for k, v in stats.layer_self_ms(tracer.spans).items()
        }
        metrics = {n: {"value": run.layers[n], "unit": u} for n, u in LAYER_UNITS.items()}
    else:
        with open(untraced_path, "w") as f:
            json.dump(run.e2e, f)
        metrics = {n: {"value": run.e2e.get(n), "unit": u} for n, u in E2E_UNITS.items()}
    print(json.dumps(report))
    print(
        json.dumps(
            {
                "correct": run.correct,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": metrics,
            }
        )
    )
    return 0 if run.correct else 1


if __name__ == "__main__":
    sys.exit(main())
