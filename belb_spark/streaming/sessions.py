"""Custom stateful streaming operator: gap-based sessionization via
``applyInPandasWithState``.

Assigns events of a user to sessions separated by >= ``gap`` of inactivity
and emits one row per CLOSED session (a session closes when a later event of
the same user arrives past the gap). State per user: the open session's
(start, end, count, value_sum), carried across micro-batches in the state
store. This is the pattern the reference has no analogue for (pure batch,
SURVEY.md §2.11) but a streaming corpus pipeline needs — e.g. "commit
bursts" per repository.

Batch twin for testing: :func:`sessionize_batch` computes identical sessions
with a window (lag + cumulative session id) — the standard batch
sessionization. The streaming test drives availableNow micro-batches and
compares against it.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
    TimestampType,
)

from belb_spark.functions.pyworker import drop_archive_finders

SESSION_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", LongType()),
        StructField("value_sum", DoubleType()),
    ]
)

STATE_SCHEMA = StructType(
    [
        StructField("start_us", LongType()),
        StructField("end_us", LongType()),
        StructField("n", LongType()),
        StructField("vsum", DoubleType()),
    ]
)


def sessionize_stream(
    events: DataFrame,
    gap_seconds: int = 1800,
    ts_col: str = "ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming sessionization. A session is emitted when a later event of
    the same user arrives past the gap; the most recent (still-open) session
    per user stays in the state store across micro-batches. (A production
    variant would add an idle timeout to flush long-idle sessions; the
    timeout path is deliberately not used here — pending processing-time
    timeouts keep an availableNow drain alive, which breaks the
    batch-testable replay contract.)"""
    gap_us = gap_seconds * 1_000_000

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        drop_archive_finders()
        (user_id,) = key
        chunks = list(pdfs)
        rows = (
            pd.concat(chunks)
            if chunks
            else pd.DataFrame({ts_col: pd.Series([], dtype="datetime64[ns]"), "value": []})
        )
        rows = rows.sort_values(ts_col)
        # normalize to microseconds regardless of the Arrow-delivered unit
        ts_us = rows[ts_col].values.astype("datetime64[us]").astype("int64").tolist()
        if state.exists:
            start_us, end_us, n, vsum = state.get
        else:
            start_us = end_us = None
            n, vsum = 0, 0.0
        vals = rows["value"].tolist()
        closed = []
        for t, v in zip(ts_us, vals):
            if start_us is None:
                start_us, end_us, n, vsum = t, t, 1, float(v)
            elif t - end_us >= gap_us:
                closed.append((user_id, start_us, end_us, n, vsum))
                start_us, end_us, n, vsum = t, t, 1, float(v)
            else:
                end_us, n, vsum = t, n + 1, vsum + float(v)
        if start_us is not None:
            state.update((int(start_us), int(end_us), int(n), float(vsum)))
        if closed:
            out = pd.DataFrame(
                closed,
                columns=["user_id", "session_start", "session_end", "n_events", "value_sum"],
            )
            out["session_start"] = pd.to_datetime(out["session_start"], unit="us")
            out["session_end"] = pd.to_datetime(out["session_end"], unit="us")
            yield out

    return (
        events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        .withWatermark(ts_col, watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=SESSION_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def sessionize_batch(
    events: DataFrame, gap_seconds: int = 1800, ts_col: str = "ts"
) -> DataFrame:
    """Batch twin: gap > threshold starts a new session (lag + cumulative
    sum of boundaries). Same output schema as the stream (all sessions)."""
    sec = F.col(ts_col).cast("timestamp")
    w = Window.partitionBy("user_id").orderBy(sec)
    marked = events.withColumn(
        "_new",
        F.when(
            F.unix_micros(sec) - F.unix_micros(F.lag(sec).over(w))
            >= gap_seconds * 1_000_000,
            1,
        )
        .otherwise(0)
        .cast("long"),
    ).withColumn("_sid", F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    return (
        marked.groupBy("user_id", "_sid")
        .agg(
            F.min(sec).alias("session_start"),
            F.max(sec).alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("value_sum"),
        )
        .drop("_sid")
    )
