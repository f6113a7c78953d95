"""Kafka source/sink adapters (reference S1-S4) behind availability
gating — the engine's semantics never depend on Kafka (SURVEY.md §7);
these adapters exist for wire parity with the reference deployment.

Reference mapping:
- S1 ``spark.readStream.format('kafka')`` subscribe votes_topic,
  earliest offsets, tolerate data loss (spark_stream.py:41-47).
- S2 update-mode aggregate → topic with checkpoint
  (spark_stream.py:67-84).
- S3 row-at-a-time SerializingProducer (main.py:222-227) → batch
  ``to_json(struct(*)).write.format('kafka')``.
- S4 manual poll-loop consumer with never-committed offsets
  (voting.py:16-20,53-67) → checkpointed streaming source; the
  reference's at-least-once re-read behavior is replaced by
  exactly-once from checkpointed offsets.

The Kafka connector jars are not in the test image, so everything here
raises ``KafkaUnavailableError`` with a clear message when the format is
missing; unit tests exercise only plan construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class KafkaUnavailableError(RuntimeError):
    pass


def kafka_available(spark: SparkSession) -> bool:
    """True if the spark-sql-kafka connector is on the classpath."""
    try:
        spark.readStream.format("kafka").option(
            "kafka.bootstrap.servers", "localhost:9092"
        ).option("subscribe", "__probe__").load()
        return True
    except Exception as exc:  # DATA_SOURCE_NOT_FOUND when jar missing
        return "DATA_SOURCE_NOT_FOUND" not in str(exc) and "Failed to find" not in str(
            exc
        )


def read_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
    fail_on_data_loss: bool = False,
) -> DataFrame:
    """S1 (spark_stream.py:41-47), verbatim options."""
    try:
        return (
            spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", bootstrap_servers)
            .option("subscribe", topic)
            .option("startingOffsets", starting_offsets)
            .option("failOnDataLoss", str(fail_on_data_loss).lower())
            .load()
        )
    except Exception as exc:
        raise KafkaUnavailableError(
            f"Kafka source unavailable (connector jar missing?): {exc}"
        ) from exc


def _kafka_records(df: DataFrame, key_col: str | None) -> DataFrame:
    """The Kafka record encoding shared by both sinks: every column
    serialized to one JSON ``value`` (P5, ``to_json(struct('*'))``),
    plus ``key_col`` cast to string as the record ``key`` when given."""
    cols = [F.to_json(F.struct(*df.columns)).alias("value")]
    if key_col:
        cols.insert(0, F.col(key_col).cast("string").alias("key"))
    return df.select(*cols)


def write_stream(
    df: DataFrame,
    bootstrap_servers: str,
    topic: str,
    checkpoint: str,
    output_mode: str = "update",
    key_col: str | None = None,
):
    """S2 (spark_stream.py:67-84): ``_kafka_records`` (JSON value,
    optional key), update mode + checkpoint."""
    records = _kafka_records(df, key_col)  # a bad key_col fails as itself
    try:
        return (
            records.writeStream.format("kafka")
            .option("kafka.bootstrap.servers", bootstrap_servers)
            .option("topic", topic)
            .option("checkpointLocation", checkpoint)
            .outputMode(output_mode)
            .start()
        )
    except Exception as exc:
        raise KafkaUnavailableError(
            f"Kafka sink unavailable (connector jar missing?): {exc}"
        ) from exc


def write_batch(
    df: DataFrame,
    bootstrap_servers: str,
    topic: str,
    key_col: str | None = None,
) -> None:
    """S3 (main.py:222-227): batch produce, one JSON document per row —
    distributed write from executors, not a driver-side producer loop
    (``_kafka_records``)."""
    records = _kafka_records(df, key_col)  # a bad key_col fails as itself
    try:
        (
            records.write.format("kafka")
            .option("kafka.bootstrap.servers", bootstrap_servers)
            .option("topic", topic)
            .save()
        )
    except Exception as exc:
        raise KafkaUnavailableError(
            f"Kafka sink unavailable (connector jar missing?): {exc}"
        ) from exc
