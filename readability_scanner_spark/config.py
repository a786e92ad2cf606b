"""SparkSession construction with scale-minded defaults.

Centralizes the tuning knobs the 100 TB deployment needs (AQE, skew
join handling, Arrow batch sizing to bound UDF worker memory — analog of
the reference's Celery worker-hygiene settings,
news-scanner/celery_app/celery_worker.py:102-105).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _ensure_pythonpath() -> None:
    """Python workers must be able to import this package. In local mode
    workers inherit the driver JVM's env, so prepend the repo root to
    PYTHONPATH before the JVM starts. On a real cluster the same is done
    with spark-submit --py-files."""
    current = os.environ.get("PYTHONPATH", "")
    if _REPO_ROOT not in current.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            _REPO_ROOT + (os.pathsep + current if current else "")
        )


def build_session(
    app_name: str = "readability-scanner-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    _ensure_pythonpath()
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime re-planning, skew-join splitting, partition coalescing
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # runtime bloom-filter pushdown for selective joins (prunes the
        # big side's shuffle at 100 TB; no-op on small inputs)
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # shuffle sizing: ~2x cores locally; thousands on a real cluster
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or max(32, cpus)))
        # Arrow everywhere; bounded batches keep UDF worker memory flat
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        # reuse python workers across tasks (fork cost dominates small tasks)
        .config("spark.python.worker.reuse", "true")
        # PySpark 4 records each Column / F.* call site for DataFrame error
        # contexts: 4-5 extra Py4J calls, a stack walk and a failed
        # `import IPython` per call, which doubled extract_and_score's
        # construction time. Lost with it: the Python call site in a
        # DataFrame error's context (the JVM message is unchanged)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    return builder.getOrCreate()
