"""Event sessionization: gap-based sessions, batch and streaming-stateful.

Batch path: pure window expressions — ``lag`` to detect gaps, running
``sum`` of the new-session flag to number sessions, then one groupBy.
Entirely JVM-side; two shuffles max (both on user_id, and AQE collapses
the window+agg pair onto one exchange since the partitioning matches).

Streaming path (``sessionize_stream``): the same semantics as a custom
stateful operator via ``applyInPandasWithState`` — state per user holds
the open session (start, last_ts, count, value sum); an event beyond the
gap closes it. Event-time timeout + watermark emit sessions that can no
longer change, which bounds state exactly the way the batch window's gap
predicate does.
"""

from __future__ import annotations

from collections.abc import Iterator
from decimal import ROUND_HALF_UP, Decimal

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ocr_spark.streaming.extract_stream import read_events_stream, stream_to_parquet

GAP_SECONDS = 30 * 60

SESSION_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_no", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("session_start", T.TimestampType()),
        T.StructField("session_end", T.TimestampType()),
        T.StructField("sum_value", T.DoubleType()),
    ]
)


def sessionize(events: DataFrame, gap_seconds: int = GAP_SECONDS) -> DataFrame:
    """events(user_id, ts, event_id, value, ...) → one row per session."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # microsecond arithmetic: event timestamps carry sub-second precision,
    # truncating to seconds would misclassify gap boundaries. The cast
    # handles TIMESTAMP_NTZ parquet columns (unix_micros requires TIMESTAMP;
    # identity under the UTC session timezone).
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = us - F.lag(us).over(w)
    flagged = events.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.when(gap.isNull() | (gap > gap_seconds * 1_000_000), 1)
        .otherwise(0)
        .alias("new_s"),
    )
    numbered = flagged.withColumn(
        "session_no", F.sum("new_s").over(w).cast("long")
    )
    return numbered.groupBy("user_id", "session_no").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


def _session_func_gap(gap_seconds: int):
    def fn(key, pdfs: Iterator[pd.DataFrame], state):
        yield from _session_events(key, pdfs, state, gap_seconds)

    return fn


def _session_events(key, pdfs: Iterator[pd.DataFrame], state, gap_seconds: int):
    (user_id,) = key
    gap_us = gap_seconds * 1_000_000

    def _row(s_no, n, start, last, val):
        return dict(
            user_id=user_id, session_no=s_no, n_events=n,
            session_start=pd.Timestamp(start, unit="us"),
            session_end=pd.Timestamp(last, unit="us"),
            # HALF_UP via Decimal — Python round() is banker's, which would
            # diverge from the batch path's F.round on .5 boundaries
            sum_value=float(
                Decimal(repr(val)).quantize(
                    Decimal("0.0001"), rounding=ROUND_HALF_UP
                )
            ),
        )

    if state.hasTimedOut:
        if state.exists:
            s_no, n, start, last, val = state.get
            state.remove()
            yield pd.DataFrame([_row(s_no, n, start, last, val)])
        return
    rows: list[dict] = []
    if state.exists:
        s_no, n, start, last, val = state.get
    else:
        s_no, n, start, last, val = 1, 0, None, None, 0.0  # batch numbers from 1
    events = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
    for ts, value in zip(events["ts"], events["value"]):
        ts_us = int(ts.value // 1000)  # ns → µs
        if last is not None and ts_us < last:
            # late event from a later micro-batch (within the watermark).
            # Within gap of the open session's window → merge (extend the
            # start backwards if needed); further in the past → emit it as
            # its own past session and renumber the open session after it.
            # Exact within one AvailableNow batch (events arrive sorted);
            # approximate numbering only under cross-batch lateness.
            if ts_us >= start - gap_us:
                start = min(start, ts_us)
                n += 1
                val += float(value)
            else:
                rows.append(_row(s_no, 1, ts_us, ts_us, float(value)))
                s_no += 1
            continue
        if last is not None and ts_us - last > gap_us:
            rows.append(_row(s_no, n, start, last, val))
            s_no, n, start, val = s_no + 1, 0, None, 0.0
        if start is None:
            start = ts_us
        last = ts_us
        n += 1
        val += float(value)
    state.update((s_no, n, start, last, val))
    state.setTimeoutTimestamp(last // 1000 + gap_seconds * 1000)  # ms
    if rows:
        yield pd.DataFrame(rows)


def sessionize_stream(
    spark,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    watermark: str = "1 hour",
    gap_seconds: int = GAP_SECONDS,
):
    """Streaming sessionization with per-user state and event-time timeout."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    state_schema = T.StructType(
        [
            T.StructField("session_no", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("start_us", T.LongType()),
            T.StructField("last_us", T.LongType()),
            T.StructField("sum_value", T.DoubleType()),
        ]
    )
    sessions = (
        read_events_stream(spark, input_dir)
        .withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _session_func_gap(gap_seconds),
            outputStructType=SESSION_SCHEMA,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
    return stream_to_parquet(sessions, out_dir, checkpoint_dir)
