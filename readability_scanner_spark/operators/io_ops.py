"""Sink / maintenance operators (S4–S7, M1–M4 from SURVEY.md §2.1).

The reference's Mongo mutations become set-oriented batch rewrites —
the Iceberg forms are MERGE INTO / DELETE FROM; the parquet-sandbox
forms below have identical dataflow semantics and are what the tests
exercise.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


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
    Iceberg: DELETE FROM ... WHERE."""
    return df.where(~predicate)


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


_MIX1 = np.uint64(0xFF51AFD7ED558CCD)
_MIX2 = np.uint64(0xC4CEB9FE1A85EC53)
_SEED2 = np.uint64(0x9E3779B97F4A7C15)


def _mix64(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer, vectorized (uint64 in/out)."""
    x = x.astype(np.uint64, copy=True)
    x ^= x >> np.uint64(33)
    x *= _MIX1
    x ^= x >> np.uint64(33)
    x *= _MIX2
    x ^= x >> np.uint64(33)
    return x


def _bloom_positions(keys: np.ndarray, n_bits: int, n_hashes: int) -> list[np.ndarray]:
    """k bit positions per key via double hashing (h1 + i*h2)."""
    u = keys.astype(np.int64).view(np.uint64)
    h1 = _mix64(u)
    h2 = _mix64(u ^ _SEED2) | np.uint64(1)
    nb = np.uint64(n_bits)
    return [(h1 + np.uint64(i) * h2) % nb for i in range(n_hashes)]


def key_bloom(
    keys_df: DataFrame, key: str, n_bits: int = 1 << 23, n_hashes: int = 4
) -> bytes:
    """Distributed bloom-filter build over an integer key column: each
    partition folds its keys into one packed bitmap (n_bits/8 bytes);
    the driver ORs the per-partition bitmaps. Driver traffic is
    partitions x bitmap-size (1 MiB at the default), independent of key
    count — the bounded-collect pattern, not a key collect."""

    def build(batches):
        bm = np.zeros(n_bits // 8, dtype=np.uint8)
        for pdf in batches:
            vals = pdf[key].to_numpy()
            # nulls are filtered Spark-side below, so Arrow→pandas keeps
            # int64 exactly; a float dtype here would mean keys above 2^53
            # were silently rounded (build/probe divergence → bloom false
            # NEGATIVES, breaking the identical-to-anti-join contract)
            if not np.issubdtype(vals.dtype, np.integer):
                raise TypeError(
                    f"bloom key column {key!r} must reach the worker as an "
                    f"integer dtype, got {vals.dtype} (nulls not filtered?)"
                )
            if len(vals):
                for pos in _bloom_positions(vals, n_bits, n_hashes):
                    np.bitwise_or.at(bm, pos >> np.uint64(3), np.left_shift(
                        np.uint8(1), (pos & np.uint64(7)).astype(np.uint8)
                    ))
        yield pd.DataFrame({"bm": [bm.tobytes()]})

    # drop nulls BEFORE the Arrow transfer: an int64 batch containing any
    # null surfaces in pandas as float64 (null keys never match a join
    # anyway)
    parts = (
        keys_df.select(key)
        .where(F.col(key).isNotNull())
        .mapInPandas(build, schema="bm binary")
        .collect()
    )
    out = np.zeros(n_bits // 8, dtype=np.uint8)
    for row in parts:
        out |= np.frombuffer(row.bm, dtype=np.uint8)
    return out.tobytes()


def backfill_remaining(
    full: DataFrame,
    processed_keys: DataFrame,
    key: str,
    bloom_bits: int = 0,
    n_hashes: int = 4,
) -> DataFrame:
    """M3 resumable backfill (backfill_jobs.py:20-133): the work queue is
    an anti-join against already-processed keys — the set-oriented form
    of the reference's 'rows matching predicate' batch loop.

    With ``bloom_bits`` > 0, a bloom pre-join prunes the shuffle: rows
    whose key is definitely NOT in the processed set (no false negatives)
    skip the anti-join entirely and only the "maybe processed" remainder
    shuffles. At a resume where most keys are unprocessed this removes
    almost the whole exchange; result is identical to the plain anti-join
    because bloom false POSITIVES still go through the exact join."""
    work = processed_keys.select(key).distinct()
    if not bloom_bits:
        return full.join(work, key, "left_anti")

    bm_bytes = key_bloom(processed_keys, key, bloom_bits, n_hashes)
    bc = full.sparkSession.sparkContext.broadcast(bm_bytes)
    n_bits, k = bloom_bits, n_hashes

    @pandas_udf("boolean")
    def maybe_processed(filled: pd.Series, is_null: pd.Series) -> pd.Series:
        # the key arrives null-COALESCED (plus a null flag) so the Arrow
        # batch is always pure int64 — a batch with any null would surface
        # as float64 and round keys above 2^53, producing bloom false
        # negatives against the exact int64 build side
        bm = np.frombuffer(bc.value, dtype=np.uint8)
        if not len(filled):
            return pd.Series([], dtype=bool)
        vals = filled.to_numpy()
        if not np.issubdtype(vals.dtype, np.integer):
            raise TypeError(
                f"bloom probe expected integer dtype, got {vals.dtype}"
            )
        hit = np.ones(len(vals), dtype=bool)
        for pos in _bloom_positions(vals, n_bits, k):
            hit &= (bm[(pos >> np.uint64(3)).astype(np.int64)] &
                    np.left_shift(np.uint8(1), (pos & np.uint64(7)).astype(np.uint8))) != 0
        # NULL keys never equal anything in SQL join semantics → a plain
        # anti-join keeps them; mark them definitely-new here too
        hit[is_null.to_numpy(dtype=bool)] = False
        return pd.Series(hit)

    # NOTE: the two union branches re-evaluate the base scan + bloom probe
    # (no persist — caching a 100 TB table costs more than two columnar
    # scans). The win being bought is the removal of the full-table
    # SHUFFLE: only the small "maybe processed" slice exchanges.
    flagged = full.withColumn(
        "_maybe",
        maybe_processed(
            F.coalesce(F.col(key), F.lit(0).cast("bigint")),
            F.col(key).isNull(),
        ),
    )
    definitely_new = flagged.where(~F.col("_maybe")).drop("_maybe")
    needs_check = flagged.where(F.col("_maybe")).drop("_maybe")
    return definitely_new.unionByName(needs_check.join(work, key, "left_anti"))
