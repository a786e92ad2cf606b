"""Extra benchmarks for the optimization rounds (bench.py is FROZEN —
this file holds the noop-sink isolation runs per guide §1.4 and the
explain("formatted") capture used for plans/r06/*.txt).

Usage:
    python bench_extra.py [query ...]            # time with noop sink
    PLAN_DIR=plans/r06 PLAN_SUFFIX=_before python bench_extra.py ...
                                                 # also dump plans
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default: the CPUs this process may run on),
     EXTRA_REPEATS (default 3).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from readability_scanner_spark.config import build_session

DEFAULT_SET = [
    "readability_by_source",
    "sql_text_stats",
    "word_topk",
    "lang_quality",
    "daily_event_buckets",
    "latest_order_per_customer",
    "broadcast_lookup_join",
    "orders_topk",
    "exact_dedup",
    "minhash_candidates",
    "simhash_near_dups",
    "knn_topk",
    "rolling_7d_by_type",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    repeats = int(os.environ.get("EXTRA_REPEATS", "3"))
    plan_dir = os.environ.get("PLAN_DIR")
    plan_suffix = os.environ.get("PLAN_SUFFIX", "")
    names = sys.argv[1:] or DEFAULT_SET

    spark = build_session("bench-extra", master=f"local[{cpus}]", shuffle_partitions=2 * cpus)
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as em

    queries = em.queries()
    timings: dict[str, list[float]] = {}
    for name in names:
        if name not in queries:
            print(f"skip unknown query {name}", file=sys.stderr)
            continue
        df = queries[name](spark, sf_dir)
        if plan_dir:
            os.makedirs(plan_dir, exist_ok=True)
            with open(os.path.join(plan_dir, f"{name}{plan_suffix}.txt"), "w") as fh:
                fh.write(df._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
                ))
        samples = []
        for i in range(repeats):
            spark.sparkContext.setJobDescription(f"{name} [{i}]")
            # construction INSIDE the timed window, matching bench.py's
            # methodology: queries that materialize intermediates at
            # construction (localCheckpoint counts) must pay for them
            # in every sample — anything else would hide real work
            t0 = time.time()
            df = queries[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            samples.append(round(time.time() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        timings[name] = samples
        print(json.dumps({"query": name, "samples": samples, "min": min(samples)}), flush=True)

    print(json.dumps({
        "metric": "noop_isolation",
        "sf_dir": sf_dir,
        "cpus": cpus,
        "mins": {k: min(v) for k, v in timings.items()},
    }))
    spark.stop()


if __name__ == "__main__":
    main()
