"""Sessionization + ordered-window operators over event streams.

Not present in the reference (its only time ops are range filters and an
unimplemented daily-bucket TODO, SURVEY.md §2.1 W1–W3) but core to a
transcript/training-data pipeline: gap-based sessionization of events
per user and per-conversation rolling metrics. All window functions —
JVM-side, one shuffle on the partition key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _epoch(col):
    """Fractional epoch seconds; TIMESTAMP_NTZ needs the ltz hop (session
    tz is UTC in this engine) before a double cast is legal under ANSI."""
    return col.cast("timestamp").cast("double")


def sessionize(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    gap_minutes: int = 30,
    id_col: str = "event_id",
) -> DataFrame:
    """Classic gap-based sessionization: a new session starts when the
    gap to the previous event of the same user exceeds ``gap_minutes``.
    session_idx is a per-user cumulative sum of boundary flags — one
    shuffle on user_col, no Python."""
    w = Window.partitionBy(user_col).orderBy(F.asc(ts_col), F.asc(id_col))
    prev_ts = F.lag(ts_col).over(w)
    new_session = F.when(
        prev_ts.isNull()
        | (_epoch(F.col(ts_col)) - _epoch(prev_ts) > gap_minutes * 60),
        1,
    ).otherwise(0)
    return df.withColumn("session_idx", F.sum(new_session).over(w))


def session_stats(
    df: DataFrame, user_col: str, ts_col: str, gap_minutes: int = 30, id_col: str = "event_id"
) -> DataFrame:
    """Per-session aggregates: events, span seconds, first/last event.
    span_seconds is exact-integer seconds (microsecond diff, integer
    floor-div) — bit-exact across engines, no float summation noise."""
    sess = sessionize(df, user_col, ts_col, gap_minutes, id_col)
    span_us = F.unix_micros(F.max(ts_col).cast("timestamp")) - F.unix_micros(
        F.min(ts_col).cast("timestamp")
    )
    order_key = F.struct(F.col(ts_col), F.col(id_col))
    return (
        sess.groupBy(user_col, "session_idx")
        .agg(
            F.count("*").alias("n_events"),
            (span_us - span_us % 1000000).cast("long").alias("_span_us_floor"),
            # first/last by EVENT TIME (ids need not be time-monotone),
            # same (ts, id) ordering sessionize itself uses
            F.min_by(id_col, order_key).alias("first_event"),
            F.max_by(id_col, order_key).alias("last_event"),
        )
        .select(
            user_col,
            "session_idx",
            "n_events",
            (F.col("_span_us_floor") / 1000000).cast("long").alias("span_seconds"),
            "first_event",
            "last_event",
        )
        .orderBy(user_col, "session_idx")
    )


def session_window_stats(
    df: DataFrame, user_col: str, ts_col: str, gap_minutes: int = 30
) -> DataFrame:
    """Sessionization via Spark's NATIVE session_window: the engine merges
    events whose gap is < gap (window end extends to last_event + gap),
    so there is no window-function shuffle-sort — one aggregation with
    session-merging state. Boundary nuance vs `sessionize`: a gap of
    EXACTLY the threshold splits here (half-open window) but merges
    there (`> gap` test); with microsecond timestamps exact-equality
    gaps are measure-zero. Same expression works under Structured
    Streaming with a watermark."""
    return (
        df.groupBy(
            F.col(user_col),
            F.session_window(F.col(ts_col).cast("timestamp"), f"{gap_minutes} minutes"),
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            user_col,
            F.unix_micros(F.col("session_window.start")).alias("start_us"),
            "n_events",
        )
        .orderBy(user_col, "start_us")
    )


def rolling_mean(
    df: DataFrame,
    part_col: str,
    order_cols: list[str],
    value_col: str,
    preceding: int = 5,
) -> DataFrame:
    """Per-key trailing mean over the previous N rows (inclusive) —
    per-conversation readability drift, per-user value trend, etc."""
    w = (
        Window.partitionBy(part_col)
        .orderBy(*[F.asc(c) for c in order_cols])
        .rowsBetween(-preceding, 0)
    )
    return df.withColumn(f"rolling_{value_col}", F.avg(value_col).over(w))
