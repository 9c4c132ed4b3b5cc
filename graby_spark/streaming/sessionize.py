"""Custom stateful streaming operator: crawl/user sessionization.

The reference has no streaming surface at all (SURVEY.md §2.9); this is the
Spark-native extension point the brief calls for: a per-key stateful
operator built on ``applyInPandasWithState`` — gap-based sessions over the
``events`` stream (session closes after ``GAP_SECONDS`` of inactivity),
with processing-time timeouts evicting idle state so memory stays bounded
at any key cardinality.

Also provides ``sessionize_batch`` — the same semantics as a batch window
computation (lag/cumsum session ids), used as the correctness oracle for
the stateful path.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
    TimestampType,
)

__all__ = ["SESSION_SCHEMA", "GAP_SECONDS", "sessionize_stream", "sessionize_batch"]

#: inactivity that closes a session, in both the stream and its batch twin
GAP_SECONDS = 3600.0

SESSION_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("events", IntegerType()),
        StructField("total_value", DoubleType()),
    ]
)

_STATE_SCHEMA = StructType(
    [
        StructField("start_ts", DoubleType()),
        StructField("last_ts", DoubleType()),
        StructField("events", IntegerType()),
        StructField("total_value", DoubleType()),
    ]
)


def _update_session(key: tuple, batches: Iterator[pd.DataFrame], state: GroupState):
    (user_id,) = key
    if state.hasTimedOut:
        start_ts, last_ts, events, total = state.get
        state.remove()
        yield pd.DataFrame(
            [
                {
                    "user_id": user_id,
                    "session_start": pd.Timestamp(start_ts, unit="s"),
                    "session_end": pd.Timestamp(last_ts, unit="s"),
                    "events": events,
                    "total_value": total,
                }
            ]
        )
        return

    rows: list[dict[str, Any]] = []
    if state.exists:
        start_ts, last_ts, events, total = state.get
    else:
        start_ts, last_ts, events, total = None, None, 0, 0.0

    for batch in batches:
        batch = batch.sort_values("ts")
        for row in batch.itertuples(index=False):
            ts = row.ts.timestamp()
            if last_ts is not None and ts - last_ts > GAP_SECONDS:
                rows.append(
                    {
                        "user_id": user_id,
                        "session_start": pd.Timestamp(start_ts, unit="s"),
                        "session_end": pd.Timestamp(last_ts, unit="s"),
                        "events": events,
                        "total_value": total,
                    }
                )
                start_ts, events, total = ts, 0, 0.0
            if start_ts is None:
                start_ts = ts
            last_ts = ts
            events += 1
            total += float(row.value)

    state.update((start_ts, last_ts, events, total))
    state.setTimeoutDuration(int(GAP_SECONDS * 1000))
    yield pd.DataFrame(
        rows,
        columns=["user_id", "session_start", "session_end", "events", "total_value"],
    )


def sessionize_stream(events: DataFrame) -> DataFrame:
    """events stream (user_id, ts, value, ...) → closed sessions.

    State per user is one 4-tuple; idle users are evicted by processing-time
    timeout after ``GAP_SECONDS`` — bounded state at any cardinality.
    """
    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            _update_session,
            outputStructType=SESSION_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


def sessionize_batch(events: DataFrame) -> DataFrame:
    """Batch twin (lag + cumulative sum of gap breaks) — the oracle for the
    stateful path and a useful operator in its own right."""
    w = Window.partitionBy("user_id").orderBy("ts")
    with_break = events.withColumn(
        "new_session",
        (
            F.coalesce(
                F.col("ts").cast("timestamp").cast("double")
                - F.lag(F.col("ts").cast("timestamp").cast("double")).over(w),
                F.lit(0.0),
            )
            > GAP_SECONDS
        ).cast("int"),
    )
    with_sid = with_break.withColumn("session_no", F.sum("new_session").over(w))
    return (
        with_sid.groupBy("user_id", "session_no")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").cast("int").alias("events"),
            F.sum("value").alias("total_value"),
        )
        .drop("session_no")
    )
