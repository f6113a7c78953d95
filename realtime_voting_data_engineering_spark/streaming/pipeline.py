"""The reference's streaming job (spark_stream.py) rebuilt as
source-agnostic transformations: every function takes/returns DataFrames
so the same logic runs over Kafka, file, rate, or memory sources — Kafka
is an I/O adapter, never a semantic dependency (SURVEY.md §7).

Semantics preserved (and fixed) from the reference:

- W1 watermark: ``withWatermark('voting_time', '1 minute')``
  (spark_stream.py:55). On *unwindowed* aggregation the watermark never
  expires group state — harmless at 3-candidate cardinality, documented
  O(keys) at scale; ``windowed_votes_stream`` is the bounded-state form.
- W2 update-mode running aggregates (spark_stream.py:58-64): the output
  is an update *log*; ``compact_latest_per_key`` provides the
  latest-per-key view the reference dashboard lacked (W5,
  streamlit-app.py:91-96).
- W6 dedup: ``dropDuplicatesWithinWatermark`` on (voter_id,
  candidate_id) replaces the Postgres composite-PK guard (main.py:77)
  and its poisoned-transaction failure mode (voting.py:95-96).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType


def parse_vote_stream(raw: DataFrame, schema: StructType) -> DataFrame:
    """P1-P3 (spark_stream.py:50-54): CAST(value AS STRING) →
    from_json(schema) → flatten → event-time cast. Fields absent from
    the schema are dropped; declared-but-missing parse as NULL — the
    reference's documented drift semantics."""
    return (
        raw.selectExpr("CAST(value AS STRING) AS value")
        .select(F.from_json(F.col("value"), schema).alias("data"))
        .select("data.*")
        .withColumn("voting_time", F.col("voting_time").cast("timestamp"))
        .withColumn("vote", F.col("vote").cast("int"))
    )


def split_valid_invalid(
    raw: DataFrame,
    schema: StructType,
    required: tuple[str, ...] = ("voter_id", "voting_time"),
) -> tuple[DataFrame, DataFrame]:
    """Malformed-record routing: parse the JSON value against the schema
    and split into (valid, dead_letter). ``from_json`` yields NULL for
    unparseable documents and NULL fields for type mismatches; a record
    missing any ``required`` field is quarantined with its original
    bytes instead of silently polluting aggregates — the dead-letter
    pattern the reference lacked (its consumer crashes the poll loop on
    bad JSON, voting.py:67).

    Both outputs derive from one pass over the source; Catalyst shares
    the scan. The dead-letter frame keeps the raw value for replay."""
    parsed = raw.selectExpr("CAST(value AS STRING) AS _raw").select(
        "_raw", F.from_json(F.col("_raw"), schema).alias("data")
    )
    ok = F.col("data").isNotNull()
    for field in required:
        ok = ok & F.col(f"data.{field}").isNotNull()
    valid = parsed.filter(ok).select("data.*")
    dead = parsed.filter(~ok).select(
        F.col("_raw").alias("raw_value"),
        F.current_timestamp().alias("quarantined_at"),
    )
    return valid, dead


def dedup_votes(
    events: DataFrame,
    keys: tuple[str, ...] = ("voter_id", "candidate_id"),
    watermark: str = "1 minute",
) -> DataFrame:
    """W6: at-most-one vote per (voter, candidate) within the watermark —
    state is bounded by the watermark horizon, unlike a global PK."""
    with_wm = events.withWatermark("voting_time", watermark)
    if events.isStreaming:
        return with_wm.dropDuplicatesWithinWatermark(list(keys))
    return with_wm.dropDuplicates(list(keys))


def votes_per_candidate_stream(
    events: DataFrame, watermark: str | None = "1 minute"
) -> DataFrame:
    """A1 (spark_stream.py:55-59): running total votes per candidate.

    ``watermark=None`` → the caller already applied one upstream (Spark
    disallows redefining a watermark after a stateful operator)."""
    src = events.withWatermark("voting_time", watermark) if watermark else events
    return (
        src.groupBy("candidate_id", "candidate_name", "party_affiliation", "photo_url")
        .agg(F.sum("vote").alias("total_votes"))
    )


def turnout_per_location_stream(
    events: DataFrame, watermark: str | None = "1 minute"
) -> DataFrame:
    """A2 (spark_stream.py:62-64): vote count per state, count renamed
    total_voters (the reference's naming, spark_stream.py:64)."""
    src = events.withWatermark("voting_time", watermark) if watermark else events
    return (
        src.groupBy("address_state")
        .agg(F.count(F.lit(1)).alias("total_voters"))
    )


def windowed_votes_stream(
    events: DataFrame,
    window_duration: str = "1 minute",
    watermark: str | None = "1 minute",
) -> DataFrame:
    """The bounded-state variant SURVEY.md §2.7 recommends: tumbling
    event-time windows + watermark, so state for closed windows is
    actually evicted (unlike the reference's unwindowed aggregate)."""
    src = events.withWatermark("voting_time", watermark) if watermark else events
    return (
        src.groupBy(
            F.window("voting_time", window_duration).alias("w"),
            F.col("candidate_id"),
        )
        .agg(F.sum("vote").alias("total_votes"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "candidate_id",
            "total_votes",
        )
    )


def session_votes_stream(
    events: DataFrame,
    gap: str = "5 minutes",
    key: str = "voter_id",
    watermark: str | None = "1 minute",
) -> DataFrame:
    """Session-window activity per key: events closer than ``gap`` merge
    into one session (``F.session_window`` — dynamic-length windows, the
    piece of the window family tumbling windows don't cover). With the
    watermark, sessions closed past the horizon are evicted from state —
    bounded like the tumbling variant, unlike the reference's unwindowed
    running aggregate."""
    src = events.withWatermark("voting_time", watermark) if watermark else events
    return (
        src.groupBy(F.session_window("voting_time", gap).alias("s"), F.col(key))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("vote").alias("total_votes"))
        .select(
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            key,
            "n_events",
            "total_votes",
        )
    )


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    watermark: str = "1 minute",
    max_lag: str = "10 minutes",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream equi-join with an event-time range bound
    (right event within ``max_lag`` *before* the left event). The range
    condition is what lets Spark expire join state: each side buffers
    only rows inside watermark + lag horizon, so state is bounded at any
    scale — an unbounded-time stream-stream join would buffer forever.
    The reference sidesteps this class entirely by denormalizing votes
    at produce time (P6, voting.py:69-74); this is the normalized form.
    """
    l = left.withWatermark(left_ts, watermark).alias("l")
    r = right.withWatermark(right_ts, watermark).alias("r")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (F.col(f"r.{right_ts}") <= F.col(f"l.{left_ts}"))
        & (
            F.col(f"r.{right_ts}")
            >= F.col(f"l.{left_ts}") - F.expr(f"INTERVAL {max_lag}")
        )
    )
    return l.join(r, cond, how)


def compact_latest_per_key(
    update_log: DataFrame,
    keys: list[str],
    order_col: str,
    tiebreakers: list[Column] | None = None,
) -> DataFrame:
    """W5 — the fix the reference dashboard needed: an update-mode topic
    holds the *history* of aggregate values per key
    (streamlit-app.py:14,91-96 argmaxes over the inflated log); consumers
    need latest-per-key. One window shuffle on the keys."""
    order = [F.col(order_col).desc(), *(tiebreakers or [])]
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        update_log.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def start_update_aggregate(
    aggregated: DataFrame,
    queryName: str,
    checkpoint: str,
    output_mode: str = "update",
    trigger_available_now: bool = True,
    processing_time: str | None = None,
) -> StreamingQuery:
    """W2/W3 (spark_stream.py:67-84): start an update-mode aggregate into
    a named in-memory sink with checkpointing. The Kafka twin is
    ``sources.kafka.write_stream`` — same upstream plan, different adapter (W4:
    multiple ``start()`` handles fan out one source).

    ``processing_time`` (e.g. ``'1 second'``) selects a periodic-refresh
    trigger instead of availableNow — W8, the cadence the reference's
    dashboard polls at (streamlit-app.py:115, 15 s)."""
    writer = (
        aggregated.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(queryName)
        .option("checkpointLocation", checkpoint)
    )
    if processing_time is not None:
        writer = writer.trigger(processingTime=processing_time)
    elif trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def foreach_batch_upsert(
    target_path: str,
    keys: list[str],
    order_col: str,
):
    """S6-equivalent idempotent sink: a ``foreachBatch`` function that
    MERGEs each micro-batch into a parquet table as latest-per-key
    (read-union-compact-rewrite; with a transactional table format this
    becomes a real MERGE INTO — the pattern is the deliverable).
    Idempotent under micro-batch replay, so exactly-once end-to-end with
    checkpointed source offsets. The rewrite goes through the crash-safe
    staged swap (``sources.layout.staged_swap_write``): the plan never
    overwrites files it may still be reading, and a crash between the
    swap renames is recovered by ``read_current`` on the next batch."""
    from realtime_voting_data_engineering_spark.sources.layout import (
        read_current,
        staged_swap_write,
    )

    def upsert(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        existing = read_current(spark, target_path)
        merged = (
            existing.unionByName(batch_df) if existing is not None else batch_df
        )
        compacted = compact_latest_per_key(merged, keys, order_col)
        staged_swap_write(compacted, target_path, epoch_id)

    return upsert
