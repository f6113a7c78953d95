"""The custom stateful operator (applyInPandasWithState) checked against
its batch expectation, replayed from file sources like the rest of the
streaming suite."""

from __future__ import annotations

import pytest

from realtime_voting_data_engineering_spark import datagen as G
from realtime_voting_data_engineering_spark import schemas as SCH
from realtime_voting_data_engineering_spark.session import ensure_workers_can_import
from realtime_voting_data_engineering_spark.streaming import pipeline as P
from realtime_voting_data_engineering_spark.streaming import stateful as S


@pytest.fixture(scope="module")
def vote_events(spark):
    ensure_workers_can_import(spark)
    voters = G.generate_voters(spark, 200)
    candidates = G.generate_candidates(spark, 3)
    return G.generate_vote_events(spark, voters, candidates).cache()


def test_first_seen_dedup_stateful(spark, vote_events, tmp_path):
    """Doubled input (at-least-once delivery) → exactly one row per key."""
    dup_dir = tmp_path / "dup"
    doubled = vote_events.unionByName(vote_events)
    G.vote_events_as_json(doubled).write.mode("overwrite").json(str(dup_dir))
    raw = spark.readStream.schema("key STRING, value STRING").json(str(dup_dir))
    parsed = P.parse_vote_stream(raw, SCH.vote_event_schema())
    deduped = S.first_seen_dedup_stateful(parsed)
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("stateful_dedup")
        .option("checkpointLocation", str(tmp_path / "ckpt_st2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("SELECT * FROM stateful_dedup")
    assert out.count() == vote_events.count()
    assert (
        out.select("voter_id", "candidate_id").distinct().count()
        == vote_events.count()
    )
