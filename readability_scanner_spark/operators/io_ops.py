"""Sink / maintenance operators (S4–S7, M1–M4 from SURVEY.md §2.1).

The reference's Mongo mutations become set-oriented batch rewrites —
the Iceberg forms are MERGE INTO / DELETE FROM; the parquet-sandbox
forms below have identical dataflow semantics and are what the tests
exercise.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def upsert_by_key(existing: DataFrame, incoming: DataFrame, key: str, order_col: str) -> DataFrame:
    """S4 upsert-by-unique-key (articles.py:89-200 replace_one): incoming
    rows win over existing on key collision; within incoming, newest by
    order_col wins. Iceberg: MERGE INTO ... WHEN MATCHED UPDATE."""
    tagged = existing.withColumn("_src", F.lit(0)).unionByName(
        incoming.withColumn("_src", F.lit(1))
    )
    w = Window.partitionBy(key).orderBy(F.desc("_src"), F.desc(order_col))
    return tagged.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1).drop(
        "_rn", "_src"
    )


def table_file_stats(path: str) -> dict:
    """Parquet-file census for a table directory: {files, bytes,
    avg_bytes} over data files (skips _SUCCESS/_meta). The small-files
    signal compact_parquet acts on."""
    files = []
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files.append(os.path.getsize(os.path.join(root, n)))
    total = sum(files)
    return {
        "files": len(files),
        "bytes": total,
        "avg_bytes": total // len(files) if files else 0,
    }


def compact_parquet(
    spark: SparkSession, path: str, target_file_bytes: int = 128 << 20
) -> dict:
    """Small-files compaction — the maintenance job every long-running
    100 TB ingest needs: incremental bucket commits and streaming
    micro-batches accrete kB-sized parquet files whose per-file open/
    footer cost eventually dominates scans. Rewrites the table to
    ceil(bytes / target_file_bytes) files via coalesce (narrow — no
    shuffle; compaction only ever lowers the file count) behind the
    same staged-swap protocol the catalog uses, so readers never see a
    half-written table and a crash leaves the original intact.

    At real scale this is Iceberg's rewrite_data_files / OPTIMIZE;
    the parquet form carries identical dataflow semantics for this
    sandbox. Returns {files_before, files_after, bytes}. No-op (and no
    rewrite cost) when the table is already at or below the target
    file count."""
    from readability_scanner_spark.catalog import _swap_in

    # REFUSE layouts the flat rewrite would destroy: partition dirs
    # (key=value) would be flattened and _-prefixed sidecars (_meta
    # checkpoint records) silently deleted — compact the resumable
    # pipeline's output per bucket via compact_pipeline_output instead
    for entry in os.listdir(path):
        full = os.path.join(path, entry)
        if os.path.isdir(full) and ("=" in entry or entry.startswith("_")):
            raise ValueError(
                f"compact_parquet refuses partitioned/checkpointed layout "
                f"({entry!r} in {path}); compact leaf directories "
                "individually (see compact_pipeline_output)"
            )
    before = table_file_stats(path)
    if before["files"] == 0:
        return {"files_before": 0, "files_after": 0, "bytes": 0}
    n_target = max(1, math.ceil(before["bytes"] / target_file_bytes))
    if before["files"] <= n_target:
        return {
            "files_before": before["files"],
            "files_after": before["files"],
            "bytes": before["bytes"],
        }
    df = spark.read.parquet(path).coalesce(n_target)
    _swap_in(df, path)
    after = table_file_stats(path)
    return {
        "files_before": before["files"],
        "files_after": after["files"],
        "bytes": after["bytes"],
    }


def compact_pipeline_output(
    spark: SparkSession, path: str, target_file_bytes: int = 128 << 20
) -> dict:
    """Compaction for the resumable pipeline's bucketed layout
    (bucket=K/ data dirs + _meta/ commit records): compacts each bucket
    directory INDIVIDUALLY — bucket boundaries are the resume/commit
    unit, so they must survive — and never touches _meta. Returns
    aggregate {files_before, files_after, buckets}."""
    totals = {"files_before": 0, "files_after": 0, "buckets": 0}
    for entry in sorted(os.listdir(path)):
        full = os.path.join(path, entry)
        if os.path.isdir(full) and entry.startswith("bucket="):
            stats = compact_parquet(spark, full, target_file_bytes)
            totals["files_before"] += stats["files_before"]
            totals["files_after"] += stats["files_after"]
            totals["buckets"] += 1
    return totals


def export_csv(df: DataFrame, path: str) -> None:
    """S6 CSV export (api/routes/export.py:19-72)."""
    df.write.mode("overwrite").option("header", True).csv(path)


def export_ml_dataset(
    df: DataFrame, path: str, label_col: str, text_col: str, train_frac: float = 0.8, seed: int = 42
) -> None:
    """S7 ML dataset sink (hug/api.py:95-221): per-label text files under
    split/label dirs. partitionBy replaces the reference's per-doc file
    loop; the split is a deterministic hash, not a python RNG."""
    split = F.when(
        F.pmod(F.xxhash64(F.col(text_col), F.lit(seed)), 100) < int(train_frac * 100), "train"
    ).otherwise("test")
    df.select(
        split.alias("split"), F.col(label_col).alias("label"), F.col(text_col).alias("value")
    ).write.mode("overwrite").partitionBy("split", "label").text(path)


def delete_where(df: DataFrame, predicate) -> DataFrame:
    """M4 delete-by-predicate (articles.py:373-381) = keep the complement;
    Iceberg: DELETE FROM ... WHERE. Like SQL DELETE, only rows where the
    predicate is TRUE go: a NULL predicate keeps its row (a bare
    ``~predicate`` is NULL there too, and ``where`` would drop it)."""
    return df.where(~F.coalesce(predicate, F.lit(False)))


def set_columns_where(df: DataFrame, predicate, assignments: dict) -> DataFrame:
    """M1 $set field update (articles.py:620-659): conditional column
    rewrite; Iceberg: MERGE ... WHEN MATCHED UPDATE SET."""
    return df.withColumns(
        {
            col: F.when(predicate, value).otherwise(F.col(col))
            for col, value in assignments.items()
        }
    )


def migrate_legacy_columns(df: DataFrame, target: str, legacy_priority: list[str]) -> DataFrame:
    """M2 field migration (backfill_jobs.py:200-258): coalesce legacy
    column aliases into the canonical one (priority order), drop legacy."""
    present = [c for c in legacy_priority if c in df.columns]
    cols = [F.col(c) for c in ([target] if target in df.columns else [])] + [
        F.col(c) for c in present
    ]
    out = df.withColumn(target, F.coalesce(*cols)) if cols else df
    return out.drop(*[c for c in present if c != target])
