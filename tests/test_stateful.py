"""Custom stateful operators (applyInPandasWithState) checked against
batch-computed expectations, replayed from file sources like the rest of
the streaming suite."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

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


@pytest.fixture(scope="module")
def json_stream_dir(spark, vote_events, tmp_path_factory):
    d = tmp_path_factory.mktemp("stateful_stream")
    G.vote_events_as_json(vote_events).write.mode("overwrite").json(str(d / "data"))
    return d


def _parsed_stream(spark, json_stream_dir):
    raw = spark.readStream.schema("key STRING, value STRING").json(
        str(json_stream_dir / "data")
    )
    return P.parse_vote_stream(raw, SCH.vote_event_schema())


def test_running_totals_stateful_matches_batch(spark, vote_events, json_stream_dir, tmp_path):
    parsed = _parsed_stream(spark, json_stream_dir)
    totals = S.running_totals_stateful(parsed, "candidate_id", "vote")
    q = P.start_update_aggregate(totals, "stateful_totals", str(tmp_path / "ckpt_st1"))
    q.awaitTermination(120)
    got = {
        r.candidate_id: (r.n_events, r.total)
        for r in spark.sql(
            "SELECT candidate_id, max(n_events) AS n_events, max(total) AS total "
            "FROM stateful_totals GROUP BY candidate_id"
        ).collect()
    }
    expected = {
        r.candidate_id: (r.n, float(r.s))
        for r in vote_events.groupBy("candidate_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("vote").alias("s"))
        .collect()
    }
    assert got == expected


def test_running_totals_keep_the_input_key_type(spark, vote_events, json_stream_dir, tmp_path):
    """The output key column takes the input key's type: a bigint key
    runs through the Arrow kernel and comes back as bigint, with the
    same totals as the batch aggregate."""
    from pyspark.sql import types as T

    def keyed(df):
        return df.withColumn("k", F.crc32("candidate_id"))

    parsed = keyed(_parsed_stream(spark, json_stream_dir))
    totals = S.running_totals_stateful(parsed, "k", "vote")
    assert totals.schema["k"].dataType == T.LongType()
    q = P.start_update_aggregate(totals, "stateful_long_key", str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    got = {
        r.k: (r.n_events, r.total)
        for r in spark.sql(
            "SELECT k, max(n_events) AS n_events, max(total) AS total "
            "FROM stateful_long_key GROUP BY k"
        ).collect()
    }
    expected = {
        r.k: (r.n, float(r.s))
        for r in keyed(vote_events).groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("vote").alias("s"))
        .collect()
    }
    assert got == expected and all(isinstance(k, int) for k in got)


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
