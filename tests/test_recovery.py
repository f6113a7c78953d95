"""Fault-tolerance semantics: malformed-record quarantine (dead-letter
split) and checkpoint recovery (a restarted query resumes from committed
offsets — no reprocessing, no loss)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from realtime_voting_data_engineering_spark import datagen as G
from realtime_voting_data_engineering_spark import schemas as SCH
from realtime_voting_data_engineering_spark.streaming import pipeline as P


@pytest.fixture(scope="module")
def vote_events(spark):
    voters = G.generate_voters(spark, 120)
    candidates = G.generate_candidates(spark, 3)
    return G.generate_vote_events(spark, voters, candidates).cache()


def test_split_valid_invalid_quarantines_bad_records(spark, vote_events):
    good = G.vote_events_as_json(vote_events)
    bad = spark.createDataFrame(
        [
            ("k1", "{not json at all"),
            ("k2", '{"voter_id": null, "vote": 1}'),
            ("k3", '{"some_other_doc": true}'),
        ],
        "key string, value string",
    )
    wire = good.unionByName(bad)
    valid, dead = P.split_valid_invalid(wire, SCH.vote_event_schema())
    assert valid.count() == vote_events.count()
    assert dead.count() == 3
    assert set(dead.columns) == {"raw_value", "quarantined_at"}
    # quarantined rows keep their original bytes for replay
    raws = {r.raw_value for r in dead.collect()}
    assert "{not json at all" in raws


def test_checkpoint_recovery_processes_each_file_once(spark, vote_events, tmp_path):
    """availableNow run over batch 1 → stop → add batch 2 → restart with
    the SAME checkpoint: the final totals equal batch1+batch2 exactly
    (committed offsets skip batch 1, nothing is double-counted)."""
    src = tmp_path / "wire"
    ckpt = str(tmp_path / "ckpt")
    b1 = vote_events.filter(F.pmod(F.xxhash64("voter_id"), F.lit(2)) == 0)
    b2 = vote_events.filter(F.pmod(F.xxhash64("voter_id"), F.lit(2)) != 0)
    G.vote_events_as_json(b1).coalesce(1).write.mode("append").json(str(src))

    serving = str(tmp_path / "serving")

    def run_once() -> None:
        # memory sink can't recover from a checkpoint; the production
        # path — foreachBatch upsert into a serving table — can.
        raw = spark.readStream.schema("key STRING, value STRING").json(str(src))
        parsed = P.parse_vote_stream(raw, SCH.vote_event_schema())
        agg = P.votes_per_candidate_stream(parsed).select(
            "candidate_id", "total_votes"
        )
        q = (
            agg.writeStream.outputMode("update")
            .foreachBatch(
                P.foreach_batch_upsert(serving, ["candidate_id"], "total_votes")
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    served1 = {
        r.candidate_id: r.total_votes
        for r in spark.read.parquet(serving).collect()
    }
    assert sum(served1.values()) == b1.count()

    G.vote_events_as_json(b2).coalesce(1).write.mode("append").json(str(src))
    run_once()
    # recovered state carries batch-1 counts forward; the restarted query
    # processes ONLY batch 2 (committed offsets), so serving totals equal
    # the full corpus — batch 1 was neither lost nor double-counted.
    expected = {
        r.candidate_id: r.t
        for r in vote_events.groupBy("candidate_id")
        .agg(F.sum("vote").alias("t"))
        .collect()
    }
    served2 = {
        r.candidate_id: r.total_votes
        for r in spark.read.parquet(serving).collect()
    }
    assert served2 == expected


def test_processing_time_trigger_runs_periodic_batches(spark, tmp_path):
    """W8 (streamlit-app.py:115): a periodic-refresh trigger. An
    update-mode aggregate over a rate source with
    trigger(processingTime='1 second') must produce multiple distinct
    micro-batches with rows, observed via the progress listener —
    the engine-side cadence behind the reference's 15 s dashboard poll."""
    import time as _t

    from realtime_voting_data_engineering_spark.sources.rate import (
        vote_rate_stream,
    )
    from realtime_voting_data_engineering_spark.streaming import observability as O

    log = O.attach(spark)
    q = None
    try:
        votes = vote_rate_stream(spark, rows_per_second=50)
        agg = (
            votes.withWatermark("voting_time", "1 minute")
            .groupBy("candidate_id")
            .agg(F.sum("vote").alias("total_votes"))
        )
        q = P.start_update_aggregate(
            agg,
            "w8_periodic",
            str(tmp_path / "w8_ckpt"),
            processing_time="1 second",
        )
        # Load-sensitive: wait generously for >=3 non-empty batches.
        deadline = _t.time() + 90
        while _t.time() < deadline:
            batches = {
                m.batch_id
                for m in log.metrics
                if m.query_name == "w8_periodic" and m.num_input_rows > 0
            }
            if len(batches) >= 3:
                break
            _t.sleep(0.5)
        assert len(batches) >= 3, f"only batches {batches}"
        assert log.total_input_rows("w8_periodic") > 0
    finally:
        if q is not None:
            q.stop()
        O.detach(spark, log)


def test_progress_listener_captures_batch_metrics(spark, vote_events, tmp_path):
    from realtime_voting_data_engineering_spark.streaming import observability as O

    G.vote_events_as_json(vote_events).write.mode("overwrite").json(
        str(tmp_path / "obs_wire")
    )
    log = O.attach(spark)
    try:
        raw = spark.readStream.schema("key STRING, value STRING").json(
            str(tmp_path / "obs_wire")
        )
        parsed = P.parse_vote_stream(raw, SCH.vote_event_schema())
        agg = P.votes_per_candidate_stream(parsed)
        q = P.start_update_aggregate(agg, "obs_test", str(tmp_path / "obs_ckpt"))
        q.awaitTermination(120)
        # listener delivery is async — allow it to drain
        import time as _t

        deadline = _t.time() + 30
        while _t.time() < deadline and log.total_input_rows("obs_test") < vote_events.count():
            _t.sleep(0.5)
        assert log.total_input_rows("obs_test") == vote_events.count()
        stateful = [m for m in log.metrics if m.query_name == "obs_test" and m.state_rows]
        assert stateful and stateful[-1].state_rows == 3  # one state row per candidate
        assert log.started
    finally:
        O.detach(spark, log)


def test_progress_listener_reports_unmeasured_values_as_none():
    """A value Spark did not measure is recorded as None, never as a
    sentinel: a NaN or infinite input rate and a missing batch duration
    must not read as a measured zero. A measured 0 stays 0."""
    from types import SimpleNamespace

    from realtime_voting_data_engineering_spark.streaming import observability as O

    def event(rate, duration):
        return SimpleNamespace(progress=SimpleNamespace(
            name="stub", batchId=0, numInputRows=0, inputRowsPerSecond=rate,
            batchDuration=duration, stateOperators=[],
        ))

    log = O.ProgressLog()
    for rate, duration in ((float("nan"), None), (float("inf"), 0), (12.5, 40)):
        log.onQueryProgress(event(rate, duration))
    got = [(m.input_rows_per_second, m.batch_duration_ms) for m in log.metrics]
    assert got == [(None, None), (None, 0), (12.5, 40)]
