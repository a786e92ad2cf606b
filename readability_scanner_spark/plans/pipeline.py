"""The flagship extraction pipeline (SURVEY.md §3.1 Spark shape).

    read transcripts
      → repartition to one hash partition per core on (conv_id, turn_idx)
      → ONE fused mapInPandas pass (extraction + cleaning + dates +
        image + T1–T7 stats + F1–F9 scores in a single Arrow round
        trip — a chained two-UDF plan would pay the Python transfer
        twice, and Column formulas above the UDF would add a JVM
        projection and its Py4J construction to every pass;
        tests/test_plans.py asserts the single MapInPandas node with no
        formula expression above it)
      → future-date clamp (reference rss_parser.py:166-172)
      → idempotent partition-bucket commit + _meta lineage/metrics row

Replaces the reference's celery fan-out / HTTP extraction / Mongo upsert
loop (news-scanner/celery_app/jobs/rss_jobs.py:94-192,
scanner/scanner.py:32-114, database/articles.py:89-200). The retry /
semaphore / stagger machinery disappears: there are no network calls
inside the job.

Scale design (north_rule):
  * extraction is per row, so the pass needs no co-location: it hashes
    the unique (conv_id, turn_idx) key into an explicit partition count.
    Rows spread evenly whatever the conversation sizes (a
    10^7-turn conversation owns no task), the hash is deterministic
    under retry, and an explicit count is never coalesced (AQE shrinks
    an un-numbered repartition by shuffle bytes, down to one Python task
    on a small input).
  * checkpoint/resume: the work unit is a deterministic conv bucket
    (pmod(hash(conv_id), n_buckets)). Each bucket commits its output
    under bucket=K/ and appends a _meta row (turns, parse failures, mean
    content ratio — the analog of the reference's ScanStats,
    models/scan_result.py:10-57). A killed run resumes by anti-joining
    buckets against committed _meta rows. On Iceberg this becomes
    MERGE/overwritePartitions; parquet subdirs + a manifest give the
    same idempotency in this sandbox.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from readability_scanner_spark.catalog import write_meta
from readability_scanner_spark.functions.udfs import (
    EXTRACT_SCHEMA,
    SCORES_SCHEMA,
    STATS_SCHEMA,
    extract_stats_partition,
)

_PASSTHROUGH = ["conv_id", "turn_idx", "role", "tool", "ts"]

# the fused pass's output: the pass-through transcript columns, then the
# extraction, stats and score columns in the order extract_stats_partition
# appends them
_SCORED_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("role", StringType()),
        StructField("tool", StringType()),
        StructField("ts", TimestampType()),
    ]
    + EXTRACT_SCHEMA.fields
    + STATS_SCHEMA.fields
    + SCORES_SCHEMA.fields
)


def extract_and_score(df: DataFrame, repartition_to: int | None = None) -> DataFrame:
    """transcripts(conv_id, turn_idx, role, text, tool, ts) → scored docs.

    One wide row per turn: extraction fields, stats, 8 scores + grade,
    with the future-date clamp applied to ts. Extraction, stats and
    scores run in ONE fused mapInPandas pass (a single Arrow round trip
    per partition); on top of it only the clamps and the column order.

    The input is hash-repartitioned on (conv_id, turn_idx) into
    ``repartition_to`` partitions, by default one per core
    (``defaultParallelism``): a Python task has a fixed cost, so more
    tasks than cores only add it.
    """
    out = df.repartition(
        repartition_to or df.sparkSession.sparkContext.defaultParallelism,
        F.col("conv_id"),
        F.col("turn_idx"),
    ).mapInPandas(
        lambda batches: extract_stats_partition(batches, _PASSTHROUGH),
        schema=_SCORED_SCHEMA,
    )
    now = F.current_timestamp()

    def clamp(name: str) -> Column:
        # future-date clamp (reference rss_parser.py:166-172) — applied to
        # the transcript ts AND the extracted publication date (dates.py
        # defers this clamp to pipeline level)
        return F.when(F.col(name) > now, now).otherwise(F.col(name))

    return out.select(
        *(clamp(c).alias(c) if c == "ts" else c for c in _PASSTHROUGH),
        *(
            F.col(c).alias("cleaned_data") if c == "text_content" else c
            for c in EXTRACT_SCHEMA.fieldNames()
            if c != "published_ts"
        ),
        *STATS_SCHEMA.fieldNames(),
        clamp("published_ts").alias("publication_date"),
        *SCORES_SCHEMA.fieldNames(),
    )


# ---------------------------------------------------------------------------
# resumable batch runner (checkpoint `_meta` protocol)
# ---------------------------------------------------------------------------

def diagnose(meta_row: dict) -> str:
    """X5 per-scan diagnosis generation (reference:
    models/scan_result.py:84-112 builds human-readable diagnoses from
    counter ratios). Same idea over the bucket metrics."""
    turns = meta_row.get("turns_processed") or 0
    if turns == 0:
        return "empty bucket"
    failure_rate = (meta_row.get("parse_failures") or 0) / turns
    issues = []
    if failure_rate > 0.5:
        issues.append("critical parse-failure rate")
    elif failure_rate > 0.1:
        issues.append("elevated parse-failure rate")
    if (meta_row.get("mean_content_ratio") or 0.0) < 0.1:
        issues.append("low content ratio (boilerplate-dominated input?)")
    return "; ".join(issues) if issues else "healthy"


def _meta_path(output_path: str) -> str:
    return os.path.join(output_path, "_meta")


def _meta_rows(output_path: str) -> list[dict]:
    """The committed ``_meta/*.json`` rows, in file-name order."""
    meta = _meta_path(output_path)
    if not os.path.isdir(meta):
        return []
    rows = []
    for name in sorted(os.listdir(meta)):
        if name.endswith(".json"):
            with open(os.path.join(meta, name)) as fh:
                rows.append(json.load(fh))
    return rows


def committed_buckets(output_path: str) -> set[int]:
    return {row["bucket"] for row in _meta_rows(output_path)}


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    output_path: str,
    n_buckets: int = 8,
    repartition_to: int | None = None,
) -> dict:
    """Resumable run: process conv buckets not yet committed to _meta.

    Returns a summary dict {buckets_run, turns, parse_failures}.
    On Iceberg the bucket loop becomes df.writeTo(t).overwritePartitions()
    per bucket with the _meta row in an Iceberg `_meta` table — same
    protocol, transactional commit. Here: parquet dir per bucket + a JSON
    manifest written after the parquet job succeeds (write-then-commit
    ordering makes a killed run re-do at most the in-flight bucket).

    NOTE: each bucket job re-evaluates `transcripts` with its bucket
    predicate. Against a real table that's a pruned scan (cheap); against
    a synthetic generator it recomputes the source per bucket — pass a
    materialized table for large synthetic runs.
    """
    os.makedirs(_meta_path(output_path), exist_ok=True)
    rows = _meta_rows(output_path)
    done = {row["bucket"] for row in rows}
    # resume-safety: bucket membership is pmod(hash, n_buckets) — resuming
    # with a DIFFERENT n_buckets would silently duplicate and drop
    # conversations across bucket dirs. Every meta row records n_buckets;
    # a mismatch is an error, not a guess.
    prior_n = next(
        (row["n_buckets"] for row in rows if row.get("n_buckets") is not None), None
    )
    if prior_n is not None and prior_n != n_buckets:
        raise ValueError(
            f"resume with n_buckets={n_buckets} over a run committed with "
            f"n_buckets={prior_n}; re-run with {prior_n} or a fresh output dir"
        )
    bucketed = transcripts.withColumn(
        "_bucket", F.pmod(F.xxhash64(F.col("conv_id")), F.lit(n_buckets)).cast("int")
    )
    summary = {"buckets_run": 0, "turns": 0, "parse_failures": 0}
    for bucket in range(n_buckets):
        if bucket in done:
            continue
        started = time.time()
        part = bucketed.where(F.col("_bucket") == bucket).drop("_bucket")
        scored = extract_and_score(part, repartition_to)
        bucket_dir = os.path.join(output_path, f"bucket={bucket}")
        scored.write.mode("overwrite").parquet(bucket_dir)
        # metrics pass over the committed output (reads the small parquet
        # we just wrote — no recompute of the UDFs)
        metrics = (
            spark.read.parquet(bucket_dir)
            .agg(
                F.count("*").alias("turns"),
                F.sum(F.col("parse_failed").cast("long")).alias("failures"),
                F.avg("content_ratio").alias("mean_content_ratio"),
            )
            .first()
        )
        meta_row = {
            "bucket": bucket,
            "n_buckets": n_buckets,
            "turns_processed": metrics["turns"],
            "parse_failures": metrics["failures"] or 0,
            "mean_content_ratio": float(metrics["mean_content_ratio"] or 0.0),
            "duration_seconds": round(time.time() - started, 3),
            "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        meta_row["diagnosis"] = diagnose(meta_row)
        # atomic commit point
        write_meta(os.path.join(_meta_path(output_path), f"bucket-{bucket}.json"), meta_row)
        summary["buckets_run"] += 1
        summary["turns"] += meta_row["turns_processed"]
        summary["parse_failures"] += meta_row["parse_failures"]
    return summary


def read_output(spark: SparkSession, output_path: str) -> DataFrame:
    """Read ONLY committed buckets: a run killed between the parquet
    write and the _meta commit leaves an uncommitted bucket=N/ dir that
    the resume protocol will overwrite — readers must not see it."""
    done = committed_buckets(output_path)
    dirs = [
        os.path.join(output_path, f"bucket={b}")
        for b in sorted(done)
        if os.path.isdir(os.path.join(output_path, f"bucket={b}"))
    ]
    if not dirs:
        # No committed buckets: a bucket=* glob here would expose the one
        # state this reader exists to hide — a run killed after writing
        # bucket parquet but before the _meta commit (and it throws
        # path-not-found on an empty-but-initialized output dir). Refuse
        # loudly instead of returning uncommitted rows.
        raise FileNotFoundError(
            f"no committed buckets under {output_path!r} — either the "
            "pipeline has not completed any bucket yet, or a killed run "
            "left only uncommitted output (resume will rewrite it)"
        )
    return spark.read.option("basePath", output_path).parquet(*dirs)
