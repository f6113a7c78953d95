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
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


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
