"""Kafka adapters: availability gating behaves cleanly when the
connector jar is absent (this environment)."""

from __future__ import annotations

import pytest

from realtime_voting_data_engineering_spark.sources import kafka as K


def test_kafka_not_available_here(spark):
    assert K.kafka_available(spark) is False


def test_read_stream_raises_clear_error(spark):
    with pytest.raises(K.KafkaUnavailableError):
        K.read_stream(spark, "localhost:9092", "votes_topic")


def test_write_batch_raises_clear_error(spark, sf_smoke):
    from realtime_voting_data_engineering_spark.sources.tables import load_table

    df = load_table(spark, sf_smoke, "nation")
    with pytest.raises(K.KafkaUnavailableError):
        K.write_batch(df, "localhost:9092", "nation_topic", key_col="n_nationkey")


def test_write_stream_raises_clear_error(spark, tmp_path):
    votes = spark.readStream.format("rate").option("rowsPerSecond", 1).load()
    with pytest.raises(K.KafkaUnavailableError):
        K.write_stream(
            votes, "localhost:9092", "totals_topic", str(tmp_path / "ckpt"),
            key_col="value",
        )


def test_sinks_encode_one_json_value_and_optional_key(spark):
    """Both sinks write the same record shape: ``to_json(struct(*))`` as
    the value, plus the key column cast to string when one is named."""
    df = spark.createDataFrame([(7, "Ada")], "candidate_id int, name string")
    assert K._kafka_records(df, None).collect()[0].asDict() == {
        "value": '{"candidate_id":7,"name":"Ada"}'
    }
    assert K._kafka_records(df, "candidate_id").collect()[0].asDict() == {
        "key": "7",
        "value": '{"candidate_id":7,"name":"Ada"}',
    }
