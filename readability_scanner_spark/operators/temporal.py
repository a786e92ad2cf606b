"""Temporal joins Spark lacks as built-ins: as-of join and range join.

Implemented as compositions of existing DataFrame ops (SURVEY.md §2
custom-operator policy: composition > UDF > mapPartitions):

  * as-of join: union the two sides tagged, sort within key by time,
    carry the right side's latest row forward with last(ignorenulls)
    over an unbounded-preceding window, keep left rows. One shuffle on
    the key — no point-lookup loop, no crossJoin.
  * range join: band-bucket both sides so each pair lands in at most
    two buckets, join bucket-locally, verify the exact predicate.
    Turns an O(n·m) theta join into a bucket-local join (the same trick
    DuckDB/BigQuery apply internally for interval joins).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts: str,
    right_cols: list[str],
    suffix: str = "_asof",
) -> DataFrame:
    """For every left row, attach the most recent right row (right.ts <=
    left.ts) of the same key; nulls when no prior right row exists.
    Ties (equal ts) resolve to the right row (right sorts first)."""
    l_tag = left.select(
        key,
        ts,
        F.lit(1).alias("_side"),
        F.struct(*[F.col(c) for c in left.columns]).alias("_lrow"),
        F.lit(None).cast(
            right.select(F.struct(*[F.col(c) for c in right_cols]).alias("s")).schema["s"].dataType
        ).alias("_rrow"),
    )
    r_tag = right.select(
        key,
        ts,
        F.lit(0).alias("_side"),
        F.lit(None).cast(
            left.select(F.struct(*[F.col(c) for c in left.columns]).alias("s")).schema["s"].dataType
        ).alias("_lrow"),
        F.struct(*[F.col(c) for c in right_cols]).alias("_rrow"),
    )
    unioned = l_tag.unionByName(r_tag)
    # deterministic order: ts, then right-before-left at equal ts, then a
    # stable intra-right order (first right_col) so duplicate-ts right
    # rows resolve the same way everywhere
    r_tie = F.col("_rrow")[right_cols[0]]
    w = (
        Window.partitionBy(key)
        .orderBy(F.asc(ts), F.asc("_side"), F.asc_nulls_last(r_tie))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = unioned.withColumn("_last_r", F.last("_rrow", ignorenulls=True).over(w))
    out = carried.where(F.col("_side") == 1).select("_lrow.*", "_last_r")
    for c in right_cols:
        out = out.withColumn(f"{c}{suffix}", F.col("_last_r")[c])
    return out.drop("_last_r")


def range_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    lower_seconds: float,
    upper_seconds: float,
) -> DataFrame:
    """Pairs (l, r) with same key and right_ts in
    [left_ts + lower, left_ts + upper]. Band-bucketed: each side
    explodes into the O(1) buckets its window can touch (buckets are
    one window wide, at least 1 s), the join runs on (key, bucket),
    then the exact predicate filters.

    Right-side columns whose names collide with left ones (other than
    the key) come out suffixed ``_r`` — a self-range-join over the same
    table would otherwise produce ambiguous duplicate columns."""
    from readability_scanner_spark.operators.sessions import _epoch  # shared ANSI-safe cast

    overlap = (set(left.columns) & set(right.columns)) - {key}
    for c in overlap:
        right = right.withColumnRenamed(c, f"{c}_r")
    if right_ts in overlap:
        right_ts = f"{right_ts}_r"

    bucket_seconds = max(upper_seconds - lower_seconds, 1.0)

    l_epoch = _epoch(F.col(left_ts))
    r_epoch = _epoch(F.col(right_ts))

    lo_bucket = F.floor((l_epoch + lower_seconds) / bucket_seconds)
    hi_bucket = F.floor((l_epoch + upper_seconds) / bucket_seconds)
    l_b = left.withColumn("_b", F.explode(F.sequence(lo_bucket, hi_bucket)))
    r_b = right.withColumn("_b", F.floor(r_epoch / bucket_seconds))

    l_b = l_b.withColumn("_l_epoch", l_epoch)
    r_b = r_b.withColumn("_r_epoch", r_epoch)
    joined = l_b.join(r_b, [key, "_b"])
    return (
        joined.where(
            (F.col("_r_epoch") >= F.col("_l_epoch") + lower_seconds)
            & (F.col("_r_epoch") <= F.col("_l_epoch") + upper_seconds)
        )
        .drop("_b", "_l_epoch", "_r_epoch")
    )
