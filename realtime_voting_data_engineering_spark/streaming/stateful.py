"""Custom stateful streaming operators via ``applyInPandasWithState``.

The reference's only stateful computation is Spark's built-in unwindowed
aggregate (spark_stream.py:58-64); its only dedup is a Postgres PK
(main.py:77). These operators show the engine's *arbitrary* per-key state
surface — the escape hatch for semantics the built-in aggregates can't
express (custom accumulators, at-most-once guards, decaying counters).

Scale notes:
- State lives in the executor-side state store, partitioned by group key —
  the same shuffle boundary as a built-in aggregate, so a 1000-executor
  cluster shards state horizontally.
- Arrow batches cross the JVM↔Python boundary once per group per
  micro-batch (not per row).
- Keys are never collected to the driver; output is a streaming DataFrame.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import DoubleType, LongType, StructField, StructType


def _totals_schema(events: DataFrame, key_col: str) -> StructType:
    """Output schema of the running-totals operators: the group key as
    typed in ``events``, then the per-key count and sum."""
    return StructType(
        [
            StructField(key_col, events.schema[key_col].dataType),
            StructField("n_events", LongType()),
            StructField("total", DoubleType()),
        ]
    )


def running_totals_stateful(
    events: DataFrame,
    key_col: str = "candidate_id",
    value_col: str = "vote",
) -> DataFrame:
    """A1 as a *custom* stateful aggregate: per-key running (count, sum)
    kept in explicit GroupState, emitted once per key per micro-batch —
    the hand-rolled twin of ``votes_per_candidate_stream`` for kernels
    Spark's aggregates can't express. The key column keeps its input
    type."""

    out_schema = _totals_schema(events, key_col)
    state_schema = "n bigint, s double"

    def update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += int(len(pdf))
            s += float(pdf[value_col].sum())
        state.update((n, s))
        yield pd.DataFrame({key_col: [key[0]], "n_events": [n], "total": [s]})

    return (
        events.select(key_col, value_col)
        .groupBy(key_col)
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def first_seen_dedup_stateful(
    events: DataFrame,
    key_cols: tuple[str, ...] = ("voter_id", "candidate_id"),
    payload_cols: tuple[str, ...] = ("candidate_name", "vote"),
) -> DataFrame:
    """W6 as explicit state: emit only the first occurrence of each key —
    the at-most-once vote guard the reference delegated to a Postgres PK
    (main.py:77), without the poisoned-transaction failure mode
    (voting.py:95-96). Unlike ``dropDuplicatesWithinWatermark`` the seen
    marker here never expires (a vote is forever); state is one boolean
    per key, sharded across executors by the group-key shuffle."""

    cols = [*key_cols, *payload_cols]
    out_schema = ", ".join(f"{c} string" for c in key_cols) + ", " + ", ".join(
        f"{c} string" for c in payload_cols
    )
    state_schema = "seen boolean"

    def emit_first(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            for _ in pdfs:  # drain — all duplicates
                pass
            return
        first: pd.DataFrame | None = None
        for pdf in pdfs:
            if first is None and len(pdf):
                first = pdf.iloc[:1]
        state.update((True,))
        if first is not None:
            yield first[cols].astype(str)

    return (
        events.select(*cols)
        .select([events[c].cast("string").alias(c) for c in cols])
        .groupBy(*key_cols)
        .applyInPandasWithState(
            emit_first,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def tws_available() -> bool:
    """True iff the transformWithState v2 runtime can start here: it
    needs a working protobuf (its state-server wire protocol)."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


class RunningTotalsProcessor(StatefulProcessor):
    """The ``transformWithState`` v2 processor behind
    ``running_totals_tws``, hoisted to module level so its
    ``handleInputRows`` logic (ValueState tuple handling, per-batch
    accumulation, output shape) is unit-testable with a mocked handle
    even where the v2 RUNTIME can't start (protobuf absent — see
    ``tws_available``; the ``StatefulProcessor`` base class itself
    imports fine without it)."""

    def __init__(self, key_col: str = "candidate_id", value_col: str = "vote"):
        self._key_col = key_col
        self._value_col = value_col

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._totals = handle.getValueState("totals", "n bigint, s double")

    def handleInputRows(self, key, rows, timerValues):
        n, s = self._totals.get() if self._totals.exists() else (0, 0.0)
        for pdf in rows:
            n += int(len(pdf))
            s += float(pdf[self._value_col].sum())
        self._totals.update((n, s))
        yield pd.DataFrame(
            {self._key_col: [key[0]], "n_events": [n], "total": [s]}
        )

    def close(self) -> None:
        pass


def running_totals_tws(
    events: DataFrame,
    key_col: str = "candidate_id",
    value_col: str = "vote",
) -> DataFrame:
    """``running_totals_stateful`` on the Spark 4 ``transformWithState``
    API (SPIP: arbitrary stateful processing v2): state is a typed,
    named ``ValueState`` managed by a ``StatefulProcessor`` object with
    an explicit lifecycle (init/handleInputRows/close) instead of one
    callback + a single implicit state tuple. Same scale posture as the
    v1 form (state sharded by the group-key shuffle, Arrow-batched), but
    v2 composes multiple named states per key, supports state TTL and
    timers, and is the API new stateful operators should target; keep
    the v1 twin for engines pinned to Spark 3.x semantics.

    Availability: the v2 runtime serializes its state protocol with
    protobuf (``pyspark.sql.streaming.proto``); environments without a
    working ``google.protobuf`` cannot START such a query (the
    TransformWithStateInPySpark driver worker crashes in pre-init), so
    the test for this operator is availability-gated exactly like the
    Kafka adapters (``tws_available()``). The operator itself is plain
    public-API usage and runs wherever protobuf is installed. Requires
    the RocksDB state store provider
    (``spark.sql.streaming.stateStore.providerClass``)."""
    out_schema = _totals_schema(events, key_col)

    return (
        events.select(key_col, value_col)
        .groupBy(key_col)
        .transformWithStateInPandas(
            RunningTotalsProcessor(key_col, value_col),
            outputStructType=out_schema,
            outputMode="Update",
            timeMode="None",
        )
    )
