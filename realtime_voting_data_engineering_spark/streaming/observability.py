"""Streaming observability (reference S9): the reference's quality
signals were file/console logs and delivery callbacks (main.py:16-23,
230-241); the Spark-native equivalent is a ``StreamingQueryListener``
fed by the engine's own per-batch progress events — input rates, batch
durations, state-store sizes — with no instrumentation in the query
code itself.

The listener keeps a bounded in-memory tail (driver-side, O(maxlen));
production would forward each event to a metrics sink instead. Metrics
are per-query and per-micro-batch: the numbers needed to see W7-style
throttling, watermark lag, and state growth at a glance.
"""

from __future__ import annotations

import math
from collections import deque
from dataclasses import dataclass

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class BatchMetric:
    """One micro-batch's progress. A value Spark did not measure (absent,
    or non-finite — the input rate of a batch with no elapsed trigger
    interval is NaN) is ``None``, never a sentinel such as 0; Spark's
    own progress JSON drops those values the same way."""

    query_name: str | None
    batch_id: int
    num_input_rows: int
    input_rows_per_second: float | None
    batch_duration_ms: int | None
    state_rows: int


def _measured(value):
    """``value``, or None when Spark reported it missing or non-finite."""
    if value is None or (isinstance(value, float) and not math.isfinite(value)):
        return None
    return value


class ProgressLog(StreamingQueryListener):
    """Collects one ``BatchMetric`` per micro-batch across all queries on
    the session. Attach once per session; ``metrics`` is the bounded
    tail, newest last."""

    def __init__(self, maxlen: int = 1000) -> None:
        self.metrics: deque[BatchMetric] = deque(maxlen=maxlen)
        self.started: list[str] = []
        self.terminated: list[str] = []

    def onQueryStarted(self, event) -> None:
        self.started.append(str(event.id))

    def onQueryProgress(self, event) -> None:
        p = event.progress
        state_rows = sum(
            (op.numRowsTotal or 0) for op in (p.stateOperators or [])
        )
        self.metrics.append(
            BatchMetric(
                query_name=p.name,
                batch_id=p.batchId,
                num_input_rows=p.numInputRows or 0,
                input_rows_per_second=_measured(p.inputRowsPerSecond),
                batch_duration_ms=_measured(p.batchDuration),
                state_rows=state_rows,
            )
        )

    def onQueryIdle(self, event) -> None:  # required abstract in Spark 4
        pass

    def onQueryTerminated(self, event) -> None:
        self.terminated.append(str(event.id))

    def total_input_rows(self, query_name: str | None = None) -> int:
        return sum(
            m.num_input_rows
            for m in self.metrics
            if query_name is None or m.query_name == query_name
        )


def attach(spark: SparkSession, maxlen: int = 1000) -> ProgressLog:
    log = ProgressLog(maxlen=maxlen)
    spark.streams.addListener(log)
    return log


def detach(spark: SparkSession, log: ProgressLog) -> None:
    spark.streams.removeListener(log)
