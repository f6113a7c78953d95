"""Benchmark harness: run the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Timing excludes session/JVM startup and per-plan codegen compilation:
each query first runs once at the smallest scale factor (sf0.001) so
janino compiles its generated code, then is timed at the target SF —
steady-state engine throughput, not one-shot compile latency. Each
query's three timed runs are back to back, so its own classes are
cached whatever the codegen cache size; a mix of queries recompiles
unless the cache holds them all (``session.CODEGEN_CACHE_ENTRIES``).
Results are fully materialized via collect (outputs are small
aggregates by design).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from realtime_voting_data_engineering_spark import queries as Q
from realtime_voting_data_engineering_spark.session import (
    default_parallelism,
    get_spark,
)


def parse_sf(sf_dir: str) -> float:
    base = os.path.basename(os.path.normpath(sf_dir))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def streaming_events_per_sec(
    spark, n_events: int = 100_000
) -> "tuple[float | None, float | None]":
    """End-to-end streaming smoke: replay n_events synthetic votes from a
    file source through the full pipeline (JSON parse against the
    22-field schema → watermark → update-mode grouped aggregate) with an
    availableNow trigger, and return (events/s, host-steal %). The
    reference's envelope is ≤2 events/s by construction (voting.py:93);
    this records the engine's measured single-node rate so throughput
    regressions are visible round over round. The steal sample brackets
    exactly the measured streaming query — the datagen/write preamble
    would dilute it (same class as the headline-window review
    finding)."""
    import shutil
    import tempfile

    from realtime_voting_data_engineering_spark import datagen as G
    from realtime_voting_data_engineering_spark import schemas as SCH
    from realtime_voting_data_engineering_spark.streaming import pipeline as P
    from realtime_voting_data_engineering_spark.streaming import tuning as T

    workdir = tempfile.mkdtemp(prefix="bench_stream_")
    try:
        voters = G.generate_voters(spark, max(n_events // 100, 1))
        candidates = G.generate_candidates(spark, 3)
        events = G.generate_vote_events(spark, voters, candidates)
        # ~n_events rows on the wire: replicate via crossJoin(range(copies))
        # — a 2-node plan, vs a copies-deep unionByName tree.
        wire = G.vote_events_as_json(events)
        copies = n_events // max(wire.count(), 1)
        if copies > 1:
            wire = wire.crossJoin(spark.range(copies).toDF("_replica")).drop("_replica")
        wire_dir = os.path.join(workdir, "wire")
        # Pin the wire layout to exactly 32 files (one per local[32]
        # slot): the crossJoin's output partitioning varies with AQE
        # coalescing run to run, and a variable file count changes the
        # micro-batch task structure — measured spread was ±25% round
        # over round (SCALE.md "Measured single-node streaming
        # throughput"). Fixed layout ⇒ the smoke measures the engine,
        # not the previous job's partitioning.
        wire.repartition(32).write.mode("overwrite").json(wire_dir)
        total = spark.read.json(wire_dir).count()

        raw = spark.readStream.schema("key STRING, value STRING").json(wire_dir)
        parsed = P.parse_vote_stream(raw, SCH.vote_event_schema())
        agg = P.votes_per_candidate_stream(parsed)
        # State-store-aware shuffle width for THIS stateful query (r16,
        # streaming.tuning): the aggregate's state has exactly one row
        # per candidate, and every shuffle partition beyond that is an
        # empty state store whose commit is paid per micro-batch.
        # ``n_state`` is measured from the generated input (the
        # candidates frame), not assumed; the rule returns the session
        # parallelism unchanged whenever the key count is not provably
        # below it, so the lower-core scaling runs stay comparable.
        # Measured (quiet, local[32]): 52-65k → 118-130k events/s.
        n_state = candidates.count()
        jiffies_before = read_cpu_jiffies()
        start = time.perf_counter()
        with T.scoped_shuffle_partitions(
            spark,
            T.state_shuffle_partitions(
                spark.sparkContext.defaultParallelism, n_state
            ),
        ):
            q = P.start_update_aggregate(
                agg, "bench_stream", os.path.join(workdir, "ckpt")
            )
            finished = q.awaitTermination(600)
        elapsed = time.perf_counter() - start
        steal = steal_pct(jiffies_before, read_cpu_jiffies())
        if not finished:  # timeout: partial count ⇒ rate would be fiction
            q.stop()
            return None, steal
        return round(total / elapsed, 1), steal
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def parse_cpu_line(line: str) -> "tuple[int, int] | None":
    """(total, steal) jiffies from /proc/stat's aggregate cpu line.
    None when the line has no steal field (column 8) — an unmeasurable
    signal must surface as null, never as a fabricated "measured 0"
    (review finding, same contract as the thermometer sentinel). The
    total sums fields 0-7 only: guest/guest_nice are already folded
    into user/nice by the kernel and would double-count."""
    vals = [int(v) for v in line.split()[1:]]
    if len(vals) <= 7:
        return None
    return sum(vals[:8]), vals[7]


def read_cpu_jiffies() -> "tuple[int, int] | None":
    """(total, steal) jiffies from /proc/stat, or None off-Linux. The
    delta across a measured section gives the host-steal fraction
    DURING it — the direct measurement of the r12 finding that the
    host steals CPU only when the VM saturates its 32 vCPUs (measured
    8.8% under a full 32-core burn while a single-core probe saw
    nothing), which is what inflates totals and collapses streaming
    throughput while loadavg and edge probes read quiet."""
    try:
        with open("/proc/stat") as f:
            return parse_cpu_line(f.readline())
    except Exception:
        return None


def steal_pct(before: "tuple[int, int] | None", after) -> "float | None":
    """Percent of CPU time stolen by the host between two
    read_cpu_jiffies samples; None if unavailable, no time passed, or
    EITHER counter regressed (CPU hotplug changing the aggregate line,
    counter reset — r12 ADVICE #2: a negative percentage would read as
    quiet to the >~2% triage rule; unmeasurable must surface as null)."""
    if not before or not after or after[0] <= before[0] or after[1] < before[1]:
        return None
    return round(100.0 * (after[1] - before[1]) / (after[0] - before[0]), 2)


def cpu_probe(n: int = 5_000_000) -> float:
    """Single-core busy-loop timing — a Spark-independent ambient
    signal. The bm25 thermometer is measured DURING the run and the
    loadavg fields only count this VM's runnable threads; host-side CPU
    steal is visible to neither at the run's edges (measured r12:
    loadavg_before 0.00 yet the same loop ran ~30% slower and the run
    landed at thermometer 0.08). A quiet edge does NOT guarantee a
    quiet run — the host steals chiefly under full vCPU saturation
    (measured: edge probes at their quiet floor bracketing a run with
    6.2% steal) — cpu_steal_pct is the authoritative signal; this
    probe's value is catching contention that steal accounting misses
    (memory-bandwidth/LLC pressure from co-tenants). Interpret
    RELATIVELY across readings in the same artifact series."""
    start = time.perf_counter()
    x = 0
    for i in range(n):
        x += i
    return round(time.perf_counter() - start, 4)


def assemble_output(
    timings: dict[str, float],
    events_per_sec: "float | None",
    sf: float,
    load_before,
    load_after,
    cpu_probe_before: "float | None" = None,
    cpu_probe_after: "float | None" = None,
    cpu_steal_pct: "float | None" = None,
    cpu_steal_pct_streaming: "float | None" = None,
    cpus: "int | None" = None,
    spark_default_parallelism: "int | None" = None,
) -> dict:
    """Assemble the one-line JSON payload from raw timings. No Spark,
    no I/O beyond one stderr warning on panel drift — unit tested
    (tests/test_tools.py) because every behavior here encodes a
    failure-reads-as-good fix from the r12 reviews: the -1.0 sentinel of
    a failed query must not be SUBTRACTED from the headline total (a
    broken query would read as a speedup), a failed bm25 must emit a
    null thermometer (never a quiet-looking -1.0), bm25 ABSENT from
    the panel is set drift — loud on stderr, not a permanent silent
    null indistinguishable from a transient failure — and (r13, VERDICT
    r12 #1) a failed streaming smoke emits streaming_events_per_sec:
    null + streaming_failed: true, never the legacy -1.0 sentinel a
    naive "events/s band >=45k" consumer would score as a clean false
    rather than a type error (null-for-unmeasurable contract; a -1.0
    from an older caller is normalized the same way)."""
    failed = sorted(n for n, t in timings.items() if t < 0)
    streaming_failed = events_per_sec is None or events_per_sec < 0
    if "bm25_search_topk" not in timings:
        print(
            "bench: bm25_search_topk missing from the headline set — "
            "thermometer telemetry disabled (headline panel drifted?)",
            file=sys.stderr,
        )
    return {
        "metric": "headline_queries_total_runtime",
        "value": round(sum(t for t in timings.values() if t >= 0), 4),
        "unit": "sec",
        "queries": timings,
        "failed_queries": failed,
        "sf": sf,
        "streaming_events_per_sec": (
            None if streaming_failed else events_per_sec
        ),
        "streaming_failed": streaming_failed,
        "loadavg_before": [round(x, 2) for x in load_before],
        "loadavg_after": [round(x, 2) for x in load_after],
        # Spark-independent steal probe (r12: loadavg can read 0.00
        # while the host steals 40% of a core — see cpu_probe). Both
        # edges sample with no live SparkContext (before get_spark /
        # after spark.stop — r13); the gateway JVM process persists,
        # so the after-edge can carry a sliver of teardown self-load.
        "cpu_probe_sec_before": cpu_probe_before,
        "cpu_probe_sec_after": cpu_probe_after,
        # Direct host-steal fraction (/proc/stat delta — see
        # read_cpu_jiffies), bracketing EXACTLY the timed headline
        # section / the measured streaming leg respectively; the
        # authoritative ambient signal: >~2% means that section's
        # numbers are not floor-comparable.
        "cpu_steal_pct": cpu_steal_pct,
        "cpu_steal_pct_streaming": cpu_steal_pct_streaming,
        # Idleness thermometer (r11 verdict #6): bm25_search_topk is
        # memoized warm-serving — its timed runs do no Spark work beyond
        # a cached top-k, so its latency tracks ONLY scheduler/CPU
        # contention. Observed 0.027-0.040 s across r11's runs while
        # 1-min loadavg ranged 0.00-5.38 and stopped predicting the
        # ambient band; readings self-classify on this field instead
        # (quiet ≈ ≤0.03, contended ≳0.04 — SCALE.md quiet-floor table).
        "thermometer_bm25_sec": (
            t if (t := timings.get("bm25_search_topk", -1.0)) >= 0 else None
        ),
        # Effective core count, echoed so the driver's scaling probe can
        # VERIFY that $SPARK_GRAFT_CPUS took effect instead of inferring
        # it from timing ratios (r15 verdict: the ratios sit near 1 at
        # sf0.1 for legitimate reasons — serial single-row-group decode
        # floor + widening targets that narrow with the core count — and
        # the probe misread that as "cpus ignored"). ``cpus`` is the
        # value session.default_parallelism() resolved from the env;
        # ``spark_default_parallelism`` is what the live SparkContext
        # actually reported (sc.defaultParallelism), i.e. proof the
        # master string local[N] honored it. Additions-only: every
        # pre-existing field and its semantics are unchanged.
        "cpus": cpus,
        "spark_default_parallelism": spark_default_parallelism,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # Ambient-load telemetry (r8 verdict #3): the shared sandbox can sit
    # at +20-30% for hours and a whole run inflates uniformly — the r8
    # headline (13.92 s vs quiet 10.5-10.8 s) took a git-worktree A/B to
    # attribute. Recording the 1/5/15-min load average before and after
    # makes every BENCH artifact self-attributing: compare totals only
    # against runs with comparable load.
    load_before = os.getloadavg()
    probe_before = cpu_probe()
    spark = get_spark(app_name="rtv-bench")
    # Sampled from the LIVE context (before spark.stop) — the proof the
    # driver's scaling probe needs that local[$SPARK_GRAFT_CPUS] took.
    sc_parallelism = spark.sparkContext.defaultParallelism

    # One tiny action to finish JVM/executor warmup before timing.
    spark.range(1).count()

    # Compile warmup: run each query once at the smallest SF so janino
    # codegen for these plan shapes is cached before the timed runs.
    # That holds only while the codegen cache outlives the warmup's
    # ~230 classes: get_spark sizes it to CODEGEN_CACHE_ENTRIES. At
    # Spark's default 100 entries the warmup evicts itself, and only the
    # min of 3 back-to-back runs below keeps compilation out of the
    # figure, hiding the recompile a round-robin of queries pays.
    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir):
        for fn in Q.headline_queries().values():
            fn(spark, warm_dir).collect()

    # Min of 3 runs per query: steady-state latency, robust to GC/OS
    # noise (a single noisy run must not read as a 2× regression).
    # The steal window brackets EXACTLY the timed section: sampling
    # before JVM startup and warmup diluted a burst that hits only the
    # timed queries below the ~2% triage threshold (review finding —
    # warmup is ~5x the timed section's wall time).
    jiffies_before = read_cpu_jiffies()
    timings: dict[str, float] = {}
    for name, fn in Q.headline_queries().items():
        # Label the timed jobs (optimization guide §1.5) so the Spark UI
        # maps stages back to queries when run with SPARK_GRAFT_UI=true.
        # setJobDescription is driver-side metadata only — it does not
        # change the timed work.
        spark.sparkContext.setJobDescription(f"bench: {name}")
        best = None
        try:
            for _ in range(3):
                start = time.perf_counter()
                fn(spark, sf_dir).collect()
                elapsed = time.perf_counter() - start
                best = elapsed if best is None else min(best, elapsed)
            timings[name] = round(best, 4)
        except Exception as exc:  # one broken query must not kill the bench
            print(f"bench: {name} failed: {exc}", file=sys.stderr)
            timings[name] = -1.0
        finally:
            spark.sparkContext.setJobDescription(None)
    headline_steal = steal_pct(jiffies_before, read_cpu_jiffies())

    stream_steal = None
    try:
        # Streaming warmup, symmetric with the batch codegen warmup
        # above: the first streaming query of a session pays one-time
        # machinery costs (state-store provider init, micro-batch
        # planner codegen, sink setup) that a long-running streaming
        # job amortizes to zero — measured locally the cold first run
        # reports ~30k events/s while every subsequent run reports
        # 58-64k. A small discarded run (5% of the measured volume)
        # moves those costs out of the measurement, so the recorded
        # number is steady-state engine throughput per the module
        # docstring.
        streaming_events_per_sec(spark, n_events=5_000)
        events_per_sec, stream_steal = streaming_events_per_sec(spark)
    except Exception as exc:  # streaming smoke must not kill the bench
        print(f"bench: streaming smoke failed: {exc}", file=sys.stderr)
        events_per_sec = None

    load_after = os.getloadavg()
    # Stop Spark BEFORE the after-probe so both edge probes measure
    # comparable ambient-only conditions (r12 ADVICE #1: sampling with
    # executor threads still running reads residual self-load as host
    # contention). Not perfectly symmetric: stop() ends the
    # SparkContext but the gateway JVM process lives until this
    # process exits, so teardown/GC can leave a sliver of self-load in
    # the after-probe. loadavg is sampled before stop on purpose — its
    # 1-min window spans the run, where the JVM's threads ARE the
    # signal.
    spark.stop()
    out = assemble_output(
        timings,
        events_per_sec,
        parse_sf(sf_dir),
        load_before,
        load_after,
        cpu_probe_before=probe_before,
        cpu_probe_after=cpu_probe(),
        cpu_steal_pct=headline_steal,
        cpu_steal_pct_streaming=stream_steal,
        cpus=default_parallelism(),
        spark_default_parallelism=sc_parallelism,
    )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
