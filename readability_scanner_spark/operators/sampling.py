"""Deterministic sampling / class-balancing for training-data curation.

`df.sample()` is partitioning-dependent (not reproducible across
cluster layouts); these operators sample by pure row-content functions,
so the same row set comes out at any parallelism — the property that
makes 10^12-row dataset curation auditable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def modulo_sample(df: DataFrame, id_col: str, keep_every: int, offset: int = 0) -> DataFrame:
    """Systematic sampling on a numeric id (oracle-friendly: any SQL
    engine reproduces it)."""
    return df.where(F.pmod(F.col(id_col), F.lit(keep_every)) == offset)


def stratified_counts(df: DataFrame, strata_col: str, sampled: DataFrame) -> DataFrame:
    """Audit table: per-stratum population vs sample counts + rate.
    Null-safe join: a NULL stratum is a real group on both sides (groupBy
    keeps it) and must match itself, not report sampled=0."""
    pop = df.groupBy(strata_col).agg(F.count("*").alias("population"))
    smp = sampled.groupBy(strata_col).agg(F.count("*").alias("sampled")).withColumnRenamed(
        strata_col, "_strata_s"
    )
    return (
        pop.join(smp, F.col(strata_col).eqNullSafe(F.col("_strata_s")), "left")
        .drop("_strata_s")
        .select(
            strata_col,
            "population",
            F.coalesce("sampled", F.lit(0)).alias("sampled"),
            F.round(F.coalesce("sampled", F.lit(0)) / F.col("population"), 4).alias("rate"),
        )
        .orderBy(strata_col)
    )


def split_bucket(id_col: Column, salt: int = 0, buckets: int = 10_000) -> Column:
    """The split-assignment bucket: md5-low64 of ``"salt:id"`` (the
    cross-engine hash — DuckDB ``md5_number_lower`` reproduces it
    bit-exactly) mod ``buckets``. Shared by :func:`split_assign` and
    any caller that wants to EXPOSE the bucket next to the label (the
    one expression, so the two can never desync).

    NULL ids hash to NULL (``F.concat`` propagates NULL; ``concat_ws``
    would silently skip it and fold every NULL id onto hash(salt) —
    diverging from the NULL-propagating SQL twin ``'s:' || id``)."""
    from .sketches import md5_low64

    return F.pmod(
        md5_low64(F.concat(F.lit(f"{salt}:"), id_col.cast("string"))),
        F.lit(buckets),
    )


def split_assign(
    id_col: Column,
    splits: list[tuple[str, int]],
    salt: int = 0,
    buckets: int = 10_000,
) -> Column:
    """Deterministic train/val/test assignment: :func:`split_bucket`
    maps the id into one of ``buckets`` buckets, cumulative bucket
    ranges map to split labels. ``splits`` is ``[(label, weight), ...]``
    with positive integer weights summing to ``buckets`` — integer
    thresholds make the split exact, exhaustive, and disjoint (every
    bucket maps to exactly one label; no float boundary ambiguity).
    Content-addressed like everything else in this module: a row keeps
    its split across reshuffles, re-runs, and engines — the property
    that stops eval-set leakage when a 100 TB corpus is re-partitioned
    between runs.

    A NULL id gets a NULL split (explicitly, before the threshold
    chain — otherwise Spark's NULL-comparison semantics would dump
    every NULL id into the LAST split while a SQL twin might do the
    same silently; make the caller decide). Filter or coalesce ids
    upstream if NULLs are possible."""
    total = sum(w for _, w in splits)
    if total != buckets:
        raise ValueError(f"split weights sum to {total}, expected {buckets}")
    if any(w <= 0 for _, w in splits):
        raise ValueError(f"split weights must be positive: {splits}")
    bucket = split_bucket(id_col, salt, buckets)
    expr = None
    acc = 0
    for label, w in splits[:-1]:
        acc += w
        cond = bucket < F.lit(acc)
        expr = F.when(cond, label) if expr is None else expr.when(cond, label)
    last = F.lit(splits[-1][0]) if expr is None else expr.otherwise(splits[-1][0])
    return (
        F.when(id_col.isNull(), F.lit(None).cast("string")).otherwise(last)
    ).alias("split")


def balance_classes(df: DataFrame, label_col: str, id_col: str, per_class: int) -> DataFrame:
    """Downsample every class to at most ``per_class`` rows,
    deterministically (rank by id within class). The classic
    class-balancing step before training export."""
    from pyspark.sql import Window

    w = Window.partitionBy(label_col).orderBy(F.asc(id_col))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= per_class)
        .drop("_rn")
    )
