"""The streaming workloads: ``live_tally`` (an open-loop vote stream with a
dashboard reading beside it) and ``backlog_replay`` (a pre-written backlog
drained under ``availableNow``).

Both run the engine's reference pipeline: a JSON file source, then
``parse_vote_stream``, then ``votes_per_candidate_stream`` and
``turnout_per_location_stream``, each started by ``start_update_aggregate``
into a memory sink. Batch timings come from the queries' progress records,
never from a trigger cadence.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import random
import threading
import time
from collections import Counter

from pyspark.sql import functions as F

import stats
from realtime_voting_data_engineering_spark import datagen as G
from realtime_voting_data_engineering_spark import schemas as SCH
from realtime_voting_data_engineering_spark import serving
from realtime_voting_data_engineering_spark.streaming import pipeline as P
from host import Ambient
from tracing import job_group_stats

CANDIDATES = 3
#: Open-loop load: a 1000-vote chunk every 1.5 s, one file per chunk. Each
#: chunk costs each aggregate a data micro-batch and then a no-data batch
#: (the watermark moved), 0.8-1.1 s together on a 4-core host; at 1 s
#: chunks the queries ran at saturation and freshness medians moved 2x
#: between runs.
CHUNK_EVENTS = 1000
CHUNK_S = 1.5
WARM_CHUNKS = 2
#: The dashboard's pause between one refresh's end and the next one's
#: start. Back to back, the reader ran ~50 refreshes in a 30 s run, each
#: planning three queries beside the engine's own per-batch planning.
REFRESH_PAUSE_S = 0.5
#: Enough timed chunks for a p50 under the percentile rule.
MIN_CHUNKS = 2 * stats.MIN_BEYOND
#: A chunk not in both aggregates this long after it was due has failed.
DEADLINE_S = 10.0
#: Backlog size and layout: big enough that per-row work, not per-batch
#: cost, dominates a drain.
REPLAY_EVENTS = 300_000
REPLAY_FILES = 8
MIN_DRAINS = 3

#: Progress-record phases, in the order the engine runs them in a trigger,
#: with their layer-metric names.
PHASES = (
    ("latestOffset", "latest_offset_ms"),
    ("walCommit", "wal_commit_ms"),
    ("getBatch", "get_batch_ms"),
    ("queryPlanning", "query_planning_ms"),
    ("addBatch", "add_batch_ms"),
    ("commitOffsets", "commit_offsets_ms"),
)


#: Scheduler pools: ingestion is served first whenever it has tasks waiting
#: (its minimum share is every slot), and the dashboard takes the slots it
#: leaves idle. Reads still run beside writes; they no longer decide how
#: long a micro-batch queues for a slot.
POOLS = """<?xml version="1.0"?>
<allocations>
  <pool name="ingest"><minShare>64</minShare><weight>1</weight></pool>
  <pool name="dashboard"><minShare>0</minShare><weight>1</weight></pool>
</allocations>
"""


def session_conf(work: str) -> "dict[str, str]":
    """Session settings of the streaming workloads: fair scheduling between
    the ingest and dashboard pools."""
    path = os.path.join(work, "pools.xml")
    with open(path, "w") as f:
        f.write(POOLS)
    return {"spark.scheduler.mode": "FAIR", "spark.scheduler.allocation.file": path}


def _vote_events(spark, n: int):
    voters = G.generate_voters(spark, n)
    candidates = G.generate_candidates(spark, CANDIDATES)
    return G.generate_vote_events(spark, voters, candidates, events_per_second=1000)


def _start(run, source_dir: str, tag: str, available_now: bool) -> list:
    """Both reference aggregates over one file-source directory, in the
    ingest pool (a query's jobs take the pool of the thread that starts it)."""
    raw = run.spark.readStream.schema("key STRING, value STRING").json(source_dir)
    parsed = P.parse_vote_stream(raw, SCH.vote_event_schema())
    sc = run.spark.sparkContext
    sc.setLocalProperty("spark.scheduler.pool", "ingest")
    try:
        return [
            P.start_update_aggregate(
                agg, f"{tag}_{kind}", os.path.join(run.work, f"ckpt-{tag}-{kind}"),
                trigger_available_now=available_now,
            )
            for kind, agg in (
                ("votes", P.votes_per_candidate_stream(parsed)),
                ("turnout", P.turnout_per_location_stream(parsed)),
            )
        ]
    finally:
        sc.setLocalProperty("spark.scheduler.pool", None)


def _compacted(spark, tag: str):
    votes = P.compact_latest_per_key(
        spark.table(f"{tag}_votes"), ["candidate_id"], "total_votes"
    )
    turnout = P.compact_latest_per_key(
        spark.table(f"{tag}_turnout"), ["address_state"], "total_voters"
    )
    return votes, turnout


def _check_tallies(run, tag: str, want_votes: Counter, want_turnout: Counter) -> None:
    """Correctness gate: the final latest-per-key totals equal the counts of
    the generated input, per candidate and per state."""
    votes, turnout = _compacted(run.spark, tag)
    got_votes = {r["candidate_id"]: r["total_votes"] for r in votes.collect()}
    got_turnout = {r["address_state"]: r["total_voters"] for r in turnout.collect()}
    for what, got, want in (("votes", got_votes, want_votes), ("turnout", got_turnout, want_turnout)):
        run.attempted += 1
        if got != dict(want):
            run.fail(f"{tag}: final {what} tally {got} != generated input {dict(want)}", gate=True)


def _progress(queries) -> list:
    """(query index, progress, batch) for every batch of every query."""
    out = []
    for qi, q in enumerate(queries):
        for p in q.recentProgress:
            start = dt.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
            b = stats.Batch(p.batchId, p.numInputRows or 0, start, start + p.batchDuration / 1000.0)
            out.append((qi, p, b))
    return out


def _rows_seen(queries) -> list[int]:
    return [sum(p.numInputRows or 0 for p in q.recentProgress) for q in queries]


def _stream_layers(run, timed: list, waits_ms: "list[float]") -> None:
    """Per-layer streaming metrics over the timed micro-batches of both
    aggregates, given as (query index, progress, batch, request served):
    phase medians over batches that read rows, state-store figures per
    batch, and the state left at the end."""
    busy = [p for _, p, _, _ in timed if (p.numInputRows or 0) > 0]
    empty = [p for _, p, _, _ in timed if not p.numInputRows]
    L = run.layers
    L["streaming.pipeline.batches"] = len(busy)
    L["streaming.pipeline.empty_batches"] = len(empty)
    L["streaming.pipeline.empty_batch_ms"] = (
        stats.median([p.durationMs.get("triggerExecution", 0) for p in empty]) or 0.0
    )
    L["streaming.pipeline.rows_per_batch"] = stats.median([p.numInputRows for p in busy]) or 0.0
    L["streaming.pipeline.trigger_ms"] = (
        stats.median([p.durationMs.get("triggerExecution", 0) for p in busy]) or 0.0
    )
    for key, name in PHASES:
        L[f"streaming.pipeline.{name}"] = stats.median([p.durationMs.get(key, 0) for p in busy]) or 0.0
    L["streaming.pipeline.wait_ms"] = stats.median(waits_ms) or 0.0
    ops = [p.stateOperators or [] for p in busy]
    L["streaming.state.stores"] = stats.median([sum(o.numStateStoreInstances for o in x) for x in ops]) or 0.0
    L["streaming.state.commit_ms"] = stats.median([sum(o.commitTimeMs for o in x) for x in ops]) or 0.0
    last: dict[int, object] = {}
    for qi, p, _, _ in timed:
        last[qi] = p
    L["streaming.state.rows_total"] = sum(o.numRowsTotal for p in last.values() for o in p.stateOperators or [])
    L["streaming.state.memory_bytes"] = sum(o.memoryUsedBytes for p in last.values() for o in p.stateOperators or [])
    if run.tracer.enabled:
        # Phase spans are laid end to end from the batch start in engine
        # order; the record gives their widths, not their offsets.
        shift = time.perf_counter() - time.time()
        for _, p, b, req in timed:
            parent = run.tracer.record("streaming.batch", b.start_s + shift, b.end_s + shift, req)
            at = b.start_s + shift
            for key, _ in PHASES:
                width = p.durationMs.get(key, 0) / 1000.0
                run.tracer.record(f"streaming.{key}", at, at + width, req, parent)
                at += width


# ---------------------------------------------------------------- live_tally


class _Dashboard:
    """The closed-loop reader: compact both update logs, collect the three
    serving views, pause, and again until told to stop."""

    def __init__(self, run, tag: str) -> None:
        self.run, self.tag = run, tag
        self.times_ms: list[float] = []
        self.failures: list[str] = []
        self.groups: list[str] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="dashboard")

    def refresh(self, request: str) -> None:
        tr = self.run.tracer
        with tr.span("serving.refresh", request=request):
            with tr.span("serving.compact"):
                votes, turnout = _compacted(self.run.spark, self.tag)
            with tr.span("serving.results_with_share"):
                share = serving.results_with_share(votes).collect()
            with tr.span("serving.leading_candidate"):
                lead = serving.leading_candidate(votes).collect()
            with tr.span("serving.turnout_by_location"):
                top = serving.turnout_by_location(turnout).collect()
        # Totals only grow, and the views are read one after another while
        # batches land, so the leader read last is at least the largest
        # total read first, and each view is internally whole.
        if share:
            total = sum(r["share_pct"] for r in share)
            if abs(total - 100.0) > 0.01 * len(share) or len(lead) != 1:
                raise AssertionError(f"inconsistent share view: {share} / {lead}")
            if lead[0]["total_votes"] < max(r["total_votes"] for r in share):
                raise AssertionError(f"leader {lead} below a share row {share}")
        if len(top) > 10:
            raise AssertionError(f"turnout view has {len(top)} rows")

    def _loop(self) -> None:
        sc = self.run.spark.sparkContext
        sc.setLocalProperty("spark.scheduler.pool", "dashboard")
        i = 0
        while not self._stop.is_set():
            request = f"refresh-{i}"
            if self.run.tracer.enabled:
                sc.setJobGroup(request, request, False)
                self.groups.append(request)
            t = time.perf_counter()
            try:
                self.refresh(request)
                self.times_ms.append((time.perf_counter() - t) * 1000.0)
            except Exception as exc:  # one failed refresh is counted, the loop goes on
                self.failures.append(f"{request}: {exc!r}"[:500])
            i += 1
            self._stop.wait(REFRESH_PAUSE_S)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread.ident is None:  # never started
            return
        self._thread.join(timeout=120)
        if self._thread.is_alive():
            raise RuntimeError("dashboard reader did not stop")


def _wire_chunks(run, n_chunks: int):
    """Generate the votes of every chunk through the engine's datagen, in
    voting-time order, and cut them into chunks; the seed shuffles voter
    order within each chunk. Returns (file bytes, rows) per chunk and the
    expected vote and turnout tallies."""
    size = CHUNK_EVENTS
    t = time.perf_counter()
    with run.tracer.span("datagen.generate", request="setup"):
        events = _vote_events(run.spark, n_chunks * size)
        wire = G.vote_events_as_json(events).collect()
    run.layers["datagen.generate_ms"] = (time.perf_counter() - t) * 1000.0
    docs = sorted(((json.loads(r["value"]), r) for r in wire), key=lambda d: d[0]["voting_time"])
    rng = random.Random(run.seed)
    chunks = []
    want_votes, want_turnout = Counter(), Counter()
    for j in range(n_chunks):
        part = docs[j * size : (j + 1) * size]
        rng.shuffle(part)
        for doc, _ in part:
            want_votes[doc["candidate_id"]] += doc["vote"]
            want_turnout[doc["address_state"]] += 1
        body = "".join(json.dumps({"key": r["key"], "value": r["value"]}) + "\n" for _, r in part)
        chunks.append((body.encode(), len(part)))
    run.layers["datagen.wire_bytes"] = float(sum(len(b) for b, _ in chunks))
    return chunks, want_votes, want_turnout


def _write_chunk(stream_dir: str, j: int, body: bytes) -> None:
    """Publish one chunk atomically: the file source skips dot-files, so the
    chunk becomes visible whole at the rename."""
    tmp = os.path.join(stream_dir, f".chunk-{j:05d}.tmp")
    with open(tmp, "wb") as f:
        f.write(body)
    os.rename(tmp, os.path.join(stream_dir, f"chunk-{j:05d}.json"))


def _wait_rows(queries, rows: int, deadline: float) -> bool:
    while time.time() < deadline:
        if min(_rows_seen(queries)) >= rows:
            return True
        time.sleep(0.05)
    return False


def live_tally(run) -> None:
    n_timed = max(MIN_CHUNKS, math.ceil(run.seconds / CHUNK_S))
    chunks, want_votes, want_turnout = _wire_chunks(run, WARM_CHUNKS + n_timed)
    stream_dir = os.path.join(run.work, "stream")
    os.makedirs(stream_dir)
    queries = _start(run, stream_dir, "live", available_now=False)
    dash = _Dashboard(run, "live")
    try:
        written = 0
        for j in range(WARM_CHUNKS):
            _write_chunk(stream_dir, j, chunks[j][0])
            written += chunks[j][1]
            if not _wait_rows(queries, written, time.time() + 60):
                raise RuntimeError("warm-up chunk not processed within 60 s")
            dash.refresh(f"warm-{j}")
        warm_batches = {qi: p.batchId for qi, p, _ in _progress(queries)}
        run.mark_setup_done()

        ambient = Ambient()
        first_due = time.time() + 0.1
        due = [first_due + i * CHUNK_S for i in range(n_timed)]
        late_s: list[float] = []

        def generate() -> None:
            for i in range(n_timed):
                pause = due[i] - time.time()
                if pause > 0:
                    time.sleep(pause)
                with run.tracer.span("gen.write_chunk", request=f"chunk-{i}"):
                    _write_chunk(stream_dir, WARM_CHUNKS + i, chunks[WARM_CHUNKS + i][0])
                late_s.append(max(0.0, time.time() - due[i]))

        gen = threading.Thread(target=generate, name="generator")
        dash.start()
        gen.start()
        gen.join()
        total_rows = sum(r for _, r in chunks)
        _wait_rows(queries, total_rows, due[-1] + DEADLINE_S)
    finally:
        dash.stop()
        for q in queries:
            q.stop()
    run.context["timed"] = ambient.close()

    progress = _progress(queries)
    rows = [r for _, r in chunks]
    per_query = [
        stats.attribute_chunks(rows, [b for qi, _, b in progress if qi == k])[WARM_CHUNKS:]
        for k in range(len(queries))
    ]
    fresh_ms, waits_ms, requests = [], [], {}
    for i in range(n_timed):
        run.attempted += 1
        got = [pq[i] for pq in per_query]
        for k, b in enumerate(got):
            if b is not None:
                requests.setdefault((k, b.batch_id), f"chunk-{i}")
        if any(b is None for b in got):
            run.fail(f"chunk {i} never reached both aggregates")
            continue
        f = (max(b.end_s for b in got) - due[i]) * 1000.0
        if f > DEADLINE_S * 1000.0:
            run.fail(f"chunk {i} visible after {f:.0f} ms, past the {DEADLINE_S} s deadline")
            continue
        fresh_ms.append(f)
        waits_ms.extend(max(0.0, (b.start_s - due[i]) * 1000.0) for b in got)

    run.attempted += len(dash.times_ms) + len(dash.failures)
    for msg in dash.failures:
        run.fail(f"dashboard refresh failed: {msg}")
    _check_tallies(run, "live", want_votes, want_turnout)

    run.named["freshness_p50_ms"] = stats.percentile(fresh_ms, 50)
    run.named["freshness_p95_ms"] = stats.percentile(fresh_ms, 95)
    run.named["refresh_p50_ms"] = stats.percentile(dash.times_ms, 50)
    run.named["refresh_p95_ms"] = stats.percentile(dash.times_ms, 95)
    elapsed = max(b.end_s for pq in per_query for b in pq if b is not None) - first_due
    run.e2e["latency_p50_ms"] = run.named["freshness_p50_ms"]
    run.e2e["throughput_per_s"] = sum(rows[WARM_CHUNKS:]) / elapsed
    run.samples.update(chunks=len(fresh_ms), refreshes=len(dash.times_ms))
    run.flags["freshness_climbing"] = stats.climbing(fresh_ms, CHUNK_S * 1000.0)
    if run.flags["freshness_climbing"]:
        run.errors.append("freshness climbs over the run: the stream is building a backlog")
    run.layers["gen.late_ms"] = max(late_s) * 1000.0
    timed = [
        (qi, p, b, requests.get((qi, b.batch_id)))
        for qi, p, b in progress
        if p.batchId > warm_batches.get(qi, -1)
    ]
    _stream_layers(run, timed, waits_ms)
    if run.tracer.enabled:
        _serving_layers(run, dash)


def _serving_layers(run, dash: _Dashboard) -> None:
    tr = run.tracer
    n = max(1, tr.count("serving.refresh"))
    for view in ("compact", "leading_candidate", "results_with_share", "turnout_by_location"):
        run.layers[f"serving.{view}_ms"] = tr.total_ms(f"serving.{view}") / n
    jobs = [job_group_stats(run.spark, g)["jobs"] for g in dash.groups]
    run.layers["serving.jobs"] = stats.median(jobs) or 0.0


# ------------------------------------------------------------ backlog_replay


def _write_backlog(run, backlog_dir: str) -> "tuple[Counter, Counter]":
    """The backlog through the engine's datagen, written as REPLAY_FILES
    JSON files; the seed picks which file each voter lands in and the voter
    order within each file. Returns the expected vote and turnout tallies."""
    t = time.perf_counter()
    with run.tracer.span("datagen.generate", request="setup"):
        events = _vote_events(run.spark, REPLAY_EVENTS)
        order = F.xxhash64("key", F.lit(run.seed))
        (
            G.vote_events_as_json(events)
            .withColumn("_o", order)
            .repartition(REPLAY_FILES, "_o")
            .sortWithinPartitions("_o")
            .drop("_o")
            .write.json(backlog_dir)
        )
        want_votes = Counter(
            {r[0]: r[1] for r in events.groupBy("candidate_id").agg(F.sum("vote")).collect()}
        )
        want_turnout = Counter(
            {r[0]: r[1] for r in events.groupBy("address_state").count().collect()}
        )
    run.layers["datagen.generate_ms"] = (time.perf_counter() - t) * 1000.0
    run.layers["datagen.wire_bytes"] = float(
        sum(os.path.getsize(os.path.join(backlog_dir, f)) for f in os.listdir(backlog_dir))
    )
    return want_votes, want_turnout


def _drain(run, source_dir: str, tag: str) -> "tuple[float, list]":
    """Start both aggregates on the whole directory and wait for both to
    terminate; returns the wall seconds and the queries."""
    t = time.perf_counter()
    queries = _start(run, source_dir, tag, available_now=True)
    for q in queries:
        if not q.awaitTermination(120):
            q.stop()
            raise RuntimeError(f"{tag}: drain did not finish within 120 s")
        if q.exception() is not None:
            raise RuntimeError(f"{tag}: {q.exception()}")
    return time.perf_counter() - t, queries


def backlog_replay(run) -> None:
    backlog = os.path.join(run.work, "backlog")
    want_votes, want_turnout = _write_backlog(run, backlog)
    parts = sorted(f for f in os.listdir(backlog) if f.startswith("part-"))
    warm = os.path.join(run.work, "warm")
    os.makedirs(warm)
    os.link(os.path.join(backlog, parts[0]), os.path.join(warm, parts[0]))
    _drain(run, warm, "warm")
    run.mark_setup_done()

    ambient = Ambient()
    start = time.perf_counter()
    walls, rates, timed = [], [], []
    while len(walls) < MIN_DRAINS or time.perf_counter() - start < run.seconds:
        tag = f"drain{len(walls)}"
        run.attempted += 1
        with run.tracer.span("streaming.drain", request=tag):
            wall, queries = _drain(run, backlog, tag)
        walls.append(wall)
        rates.append(REPLAY_EVENTS / wall)
        timed.extend((qi, p, b, tag) for qi, p, b in _progress(queries))
        _check_tallies(run, tag, want_votes, want_turnout)
    run.context["timed"] = ambient.close()

    run.named["replay_events_per_s"] = stats.median(rates)
    run.e2e["latency_p50_ms"] = stats.median(walls) * 1000.0
    run.e2e["throughput_per_s"] = run.named["replay_events_per_s"]
    run.samples.update(drains=len(walls), events_per_drain=REPLAY_EVENTS)
    _stream_layers(run, timed, [])
