"""Catalog-backed transactional sinks: Iceberg when the runtime ships the
jars, a parquet staging-swap protocol otherwise — same semantics either way.

The reference's core write path is ``replace_one({url}, doc, upsert=True)``
against a unique index with a was-new signal
(news-scanner/database/articles.py:89-200,63-87). On a lakehouse that is
Iceberg ``MERGE INTO`` (row-level upsert with snapshot isolation); this
module emits exactly that SQL when an Iceberg catalog is reachable and
otherwise degrades to read-merge-swap over parquet with identical
dataflow semantics (the window-form upsert from operators/io_ops.py).

Targets: a dotted table identifier (``catalog.db.tbl``) routes to the
catalog; anything with a path separator routes to parquet. The parquet
swap is atomic on a POSIX filesystem (rename); object stores need the
Iceberg path — that asymmetry is the point of the capability gate.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from readability_scanner_spark.operators.dedup import dedup_by_key
from readability_scanner_spark.operators.io_ops import delete_where, upsert_by_key

_ICEBERG_CLASS = "org.apache.iceberg.spark.SparkCatalog"


def iceberg_available(spark: SparkSession) -> bool:
    """True when the Iceberg runtime jar is on the session's classpath."""
    try:
        spark._jvm.java.lang.Class.forName(_ICEBERG_CLASS)  # type: ignore[union-attr]
        return True
    except Exception:
        return False


def _is_path(target: str) -> bool:
    return "/" in target or target.startswith("file:") or os.sep in target


# ---------------------------------------------------------------------------
# upsert
# ---------------------------------------------------------------------------

def merge_sql(target: str, view: str, key: str, order_col: str, mode: str) -> str:
    """The exact MERGE INTO statement the Iceberg leg executes — a pure
    function so the statement is golden-testable in this jar-less
    sandbox (tests/test_catalog.py pins it; the runtime leg stays
    capability-gated behind iceberg_available)."""
    matched = (
        "WHEN MATCHED THEN UPDATE SET *"
        if mode == "replace"
        else f"WHEN MATCHED AND s.{order_col} >= t.{order_col} THEN UPDATE SET *"
    )
    return (
        f"MERGE INTO {target} t USING {view} s\n"
        f"ON t.{key} = s.{key}\n"
        f"{matched}\n"
        "WHEN NOT MATCHED THEN INSERT *"
    )


def delete_sql(target: str, predicate_sql: str) -> str:
    """The exact DELETE FROM statement of the Iceberg leg (golden-tested)."""
    return f"DELETE FROM {target} WHERE {predicate_sql}"


def overwrite_sql(target: str, view: str) -> str:
    """The exact INSERT OVERWRITE statement of the Iceberg leg
    (golden-tested)."""
    return f"INSERT OVERWRITE {target} SELECT * FROM {view}"


def merge_upsert(
    spark: SparkSession,
    target: str,
    incoming: DataFrame,
    key: str,
    order_col: str,
    mode: str = "replace",
) -> dict:
    """S4 upsert-by-unique-key into ``target``. Within the incoming batch
    the newest ``order_col`` per key wins. On key collision with the
    table, ``mode`` decides:

    - ``"replace"`` (default, the reference's replace_one semantics,
      articles.py:128-132): the incoming row ALWAYS replaces the stored
      one, regardless of recency.
    - ``"newest"``: the incoming row replaces only when its order_col is
      >= the stored one — the idempotent choice for out-of-order replays
      at scale.

    Returns the reference's was-new accounting: {"inserted": n,
    "updated": n}. Iceberg: one MERGE INTO (source pre-deduped per key,
    as MERGE requires). Parquet: read-merge-staging-swap.

    Concurrency contract: SINGLE WRITER per target. The was-new counts
    are computed with separate actions before the MERGE, so they are
    accurate only when no other writer commits between count and MERGE
    (Iceberg serializes the commits themselves either way; the parquet
    path additionally assumes no concurrent reader mid-swap — see
    _swap_in).
    """
    if mode not in ("replace", "newest"):
        raise ValueError(f"mode must be 'replace' or 'newest', got {mode!r}")
    deduped = dedup_by_key(incoming, key, order_col)

    if _is_path(target):
        return _parquet_upsert(spark, target, deduped, key, order_col, mode)

    if not iceberg_available(spark):
        raise RuntimeError(
            f"target {target!r} is a table identifier but no Iceberg runtime "
            "is on the classpath; pass a filesystem path for the parquet "
            "fallback protocol"
        )
    # unique per-call view name: a fixed "_merge_src" would let two
    # upserts in one session clobber each other's source view
    view = f"_merge_src_{uuid.uuid4().hex}"
    deduped.createOrReplaceTempView(view)
    stats = _was_new_counts(spark.table(target), deduped, key, order_col, mode)
    try:
        spark.sql(merge_sql(target, view, key, order_col, mode))
    finally:
        spark.catalog.dropTempView(view)
    return stats


def _was_new_counts(
    existing: Optional[DataFrame],
    incoming: DataFrame,
    key: str,
    order_col: Optional[str] = None,
    mode: str = "replace",
) -> dict:
    if existing is None:
        return {"inserted": incoming.count(), "updated": 0}
    total = incoming.count()
    hit = (
        incoming.select(key)
        .join(existing.select(key).distinct(), key, "left_semi")
        .count()
    )
    if mode == "newest" and order_col is not None:
        # only matched rows that actually WIN (s.order >= t.order) count
        # as updates — a replayed stale batch must report updated=0
        inc = incoming.select(F.col(key).alias("_k"), F.col(order_col).alias("_o_in"))
        ex = existing.select(F.col(key).alias("_k"), F.col(order_col).alias("_o_ex"))
        updated = inc.join(ex, "_k").where(F.col("_o_in") >= F.col("_o_ex")).count()
    else:
        updated = hit
    return {"inserted": total - hit, "updated": updated}


def recover_swap(path: str) -> bool:
    """Crash recovery for the staging-swap protocol: POSIX can't rename a
    directory over a non-empty one, so the swap is rename(path→backup);
    rename(staging→path). A crash between the two leaves the table path
    MISSING with the backup intact — this restores it (old data wins; the
    interrupted write is retried by the caller's resume logic). Returns
    True when a recovery was performed. Called automatically at the start
    of every swap."""
    backup = path + ".__old__"
    if not os.path.exists(path) and os.path.exists(backup):
        os.rename(backup, path)
        return True
    return False


def _swap_in(df: DataFrame, path: str) -> None:
    """Materialize df into a staging dir, then swap it in. A crash before
    the first rename leaves the old table intact; a crash between the two
    renames is healed by recover_swap (runs first on the next write).

    Concurrency contract: SINGLE writer, and readers must go through
    read_table — between rename(path→backup) and rename(staging→path)
    the table path briefly does not exist, so a raw spark.read.parquet
    racing the swap can see path-not-found instead of the old snapshot.
    read_table heals/falls back through the backup; true multi-writer/
    multi-reader needs the Iceberg path (that asymmetry is the point of
    the capability gate)."""
    recover_swap(path)
    staging = path + ".__staging__"
    backup = path + ".__old__"
    df.write.mode("overwrite").parquet(staging)
    if os.path.exists(backup):
        shutil.rmtree(backup)
    if os.path.exists(path):
        os.rename(path, backup)
    os.rename(staging, path)
    if os.path.exists(backup):
        shutil.rmtree(backup)


def read_table(spark: SparkSession, target: str, attempts: int = 5) -> DataFrame:
    """Read a sink written by this module. Parquet targets: when the
    table dir is missing but a swap backup exists — either a writer is
    inside the swap window right now, or one died there — serve the
    backup (the old snapshot) instead of path-not-found, retrying across
    {target, backup} because a concurrent writer can finish the swap
    between our existence probe and Spark's file listing. Readers only
    FALL BACK, they never heal: calling recover_swap here would rename
    the backup out from under a live writer and break its final
    staging→path rename. Healing stays a writer-side action (recover_swap
    runs at the start of every write).

    Residual caveat (by design of the parquet fallback): the returned
    DataFrame is lazy — if a LATER swap completes before an action runs,
    that action can still lose files to the writer's backup cleanup.
    Plan actions promptly after read_table; true concurrent
    readers/writers are what the Iceberg path (snapshot isolation) is
    for — that asymmetry is the point of the capability gate."""
    if not _is_path(target):
        return spark.table(target)
    backup = target + ".__old__"
    last_err: Exception | None = None
    for _ in range(attempts):
        for path in (target, backup):
            if not os.path.exists(path):
                continue
            try:
                df = spark.read.parquet(path)
                df.schema  # force the file listing NOW, inside the retry
                return df
            except Exception as exc:  # swap raced us; try the other side
                last_err = exc
        time.sleep(0.05)
    raise FileNotFoundError(
        f"table {target!r} not readable (no table dir or swap backup after "
        f"{attempts} attempts)"
    ) from last_err


def _parquet_upsert(
    spark: SparkSession, path: str, deduped: DataFrame, key: str, order_col: str, mode: str
) -> dict:
    recover_swap(path)  # a mid-swap crash must not read as "empty table"
    if os.path.exists(path):
        existing = spark.read.parquet(path)
        stats = _was_new_counts(existing, deduped, key, order_col, mode)
        if mode == "replace":
            merged = upsert_by_key(existing, deduped, key, order_col)
        else:
            # newest-wins: one window over the union; ties go to incoming
            # (mirrors MERGE's `s.order_col >= t.order_col`)
            from pyspark.sql import Window

            tagged = existing.withColumn("_src", F.lit(0)).unionByName(
                deduped.withColumn("_src", F.lit(1))
            )
            w = Window.partitionBy(key).orderBy(F.desc(order_col), F.desc("_src"))
            merged = (
                tagged.withColumn("_rn", F.row_number().over(w))
                .where(F.col("_rn") == 1)
                .drop("_rn", "_src")
            )
    else:
        stats = _was_new_counts(None, deduped, key)
        merged = deduped
    _swap_in(merged, path)
    return stats


# ---------------------------------------------------------------------------
# delete / overwrite
# ---------------------------------------------------------------------------

def delete_rows(spark: SparkSession, target: str, predicate_sql: str) -> None:
    """M4 delete-by-predicate. Iceberg: DELETE FROM (row-level, ACID).
    Parquet: rewrite the complement through the staging swap, with the
    same NULL-keeps-the-row rule as the SQL DELETE."""
    if _is_path(target):
        recover_swap(target)
        kept = delete_where(spark.read.parquet(target), F.expr(predicate_sql))
        _swap_in(kept, target)
        return
    if not iceberg_available(spark):
        raise RuntimeError(f"no Iceberg runtime for table target {target!r}")
    spark.sql(delete_sql(target, predicate_sql))


def overwrite_all(spark: SparkSession, target: str, df: DataFrame) -> None:
    """S5 full refresh. Iceberg: INSERT OVERWRITE (snapshot-isolated).
    Parquet: staging swap (NOT write.mode('overwrite') directly — that
    deletes the live table before the new data is safely written)."""
    if _is_path(target):
        _swap_in(df, target)
        return
    if not iceberg_available(spark):
        raise RuntimeError(f"no Iceberg runtime for table target {target!r}")
    view = f"_overwrite_src_{uuid.uuid4().hex}"
    df.createOrReplaceTempView(view)
    try:
        spark.sql(overwrite_sql(target, view))
    finally:
        spark.catalog.dropTempView(view)
