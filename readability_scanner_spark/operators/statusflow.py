"""Summary-enrichment status machine (models/article.py:62-67,
database/articles.py:384-441): the pending → processing →
completed/failed lifecycle as set-oriented batch transforms.

The reference claims work with find-and-mark loops against Mongo; here
each step is one DataFrame rewrite (catalog.merge_upsert persists it as
an Iceberg MERGE / parquet swap). The claim batch is deterministic
(lowest keys first) so a killed enrichment driver re-claims the same
rows on resume.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def claim_batch(df: DataFrame, key: str, status_col: str, n: int) -> DataFrame:
    """Mark the n lowest-key pending rows as processing (the reference's
    'fetch a batch to enrich' query, articles.py:384-409). The claim set
    is tiny (n rows) — broadcast, no shuffle of df."""
    claim = (
        df.where(F.col(status_col) == "pending")
        .orderBy(key)
        .limit(n)
        .select(F.col(key).alias("_claimed_key"))
    )
    return (
        df.join(F.broadcast(claim), df[key] == F.col("_claimed_key"), "left")
        .withColumn(
            status_col,
            F.when(F.col("_claimed_key").isNotNull(), F.lit("processing")).otherwise(
                F.col(status_col)
            ),
        )
        .drop("_claimed_key")
    )


def transition(
    df: DataFrame,
    status_col: str,
    from_status: str,
    to_status: str,
    predicate: Optional[Column] = None,
) -> DataFrame:
    """Conditional status flip (mark completed / failed)."""
    cond = F.col(status_col) == from_status
    if predicate is not None:
        cond = cond & predicate
    return df.withColumn(
        status_col, F.when(cond, F.lit(to_status)).otherwise(F.col(status_col))
    )


def requeue_stale(
    df: DataFrame, status_col: str, ts_col: str, cutoff
) -> DataFrame:
    """Recovery sweep: processing rows older than the cutoff go back to
    pending (a crashed enricher never completes them — articles.py's
    stale-processing backfill)."""
    return transition(
        df, status_col, "processing", "pending", F.col(ts_col) < F.lit(cutoff)
    )


def status_counts(df: DataFrame, status_col: str) -> DataFrame:
    """A3 over the lifecycle column."""
    return (
        df.groupBy(F.coalesce(F.col(status_col), F.lit("pending")).alias("status"))
        .agg(F.count("*").alias("cnt"))
        .orderBy("status")
    )
