"""Driver-mimicking correctness harness: run every queries() entry on
Spark at sf0.01 and compare against oracle_sql() in DuckDB — row count,
column names, and order-insensitive values (doubles to 1e-6 rel tol).

Usage: python scripts/selfcheck.py [--exact] [--json PATH] [sf_dir] [query ...]

--exact mimics the driver's value-hash bar: cells must match exactly,
including numeric TYPE (int 5 vs double 5.0 is a mismatch — the driver
hashes representations, not tolerant floats). Default mode keeps the
1e-6 tolerance for quick semantic iteration.

--json PATH also writes, per query, the seconds of its construction (the
``q_*`` call, ``build_s``), of its collect (``run_s``) and of its oracle
(``oracle_s``), and the Spark jobs each of the first two started, so
runs can be compared over time. The text output is the same with or
without it.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entrymod
from readability_scanner_spark.config import build_session

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return v if EXACT else round(v, 6)
    if isinstance(v, (list, tuple)):
        return tuple(norm_cell(x) for x in v)
    return v


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    return sorted(cols), sorted(out, key=lambda t: tuple(str(x) for x in t))


EXACT = False


def cells_match(a, b):
    if EXACT:
        if type(a) is not type(b):
            # numpy scalars etc. normalize through norm_cell; date/datetime
            # subclassing is the only benign cross-type case
            if not (isinstance(a, type(b)) or isinstance(b, type(a))):
                return False
        if isinstance(a, float) and isinstance(b, float):
            return (math.isnan(a) and math.isnan(b)) or a == b
        return a == b
    if isinstance(a, float) and isinstance(b, (int, float)):
        return math.isclose(a, float(b), rel_tol=1e-6, abs_tol=1e-6)
    if isinstance(b, float) and isinstance(a, (int, float)):
        return math.isclose(float(a), b, rel_tol=1e-6, abs_tol=1e-6)
    return a == b


def rows_match(a, b):
    return len(a) == len(b) and all(
        len(ra) == len(rb) and all(cells_match(x, y) for x, y in zip(ra, rb))
        for ra, rb in zip(a, b)
    )


def count_jobs(ctx, timing: dict, name: str) -> None:
    """Add the job counts of ``name``'s build and run job groups to its
    timings. Read right after the query, once the listener bus has caught
    up: the status tracker keeps only the newest jobs of a session."""
    ctx._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = ctx.statusTracker().getJobIdsForGroup
    timing["build_jobs"] = len(jobs(f"build-{name}"))
    timing["run_jobs"] = len(jobs(f"run-{name}"))


def main() -> None:
    global EXACT
    args = sys.argv[1:]
    if "--exact" in args:  # accept the flag in any position
        EXACT = True
        args = [a for a in args if a != "--exact"]
    json_path = None
    if "--json" in args:
        i = args.index("--json")
        json_path = args[i + 1]
        del args[i : i + 2]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    # data-derived oracles (LSH planes, IVF centroids) must read the SAME
    # sf dir the comparison runs against
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sf_dir
    spark = build_session("selfcheck", shuffle_partitions=16)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    unknown = only - set(queries)
    if unknown:  # a typo'd name must not produce a "0 ok, 0 failed" green
        print(f"FAIL  unknown query name(s): {sorted(unknown)}")
        spark.stop()
        sys.exit(2)
    ctx = spark.sparkContext
    timings: dict[str, dict] = {}
    passed = failed = rows_only = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        timings[name] = timing = {}
        t0 = time.time()
        try:
            ctx.setJobGroup(f"build-{name}", name)
            sdf = fn(spark, sf_dir)
            timing["build_s"] = time.time() - t0
            ctx.setJobGroup(f"run-{name}", name)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            failed += 1
            continue
        finally:
            ctx.setLocalProperty("spark.jobGroup.id", None)
            ctx.setLocalProperty("spark.job.description", None)
        spark_s = time.time() - t0
        timing["run_s"] = spark_s - timing["build_s"]
        if json_path:
            count_jobs(ctx, timing, name)
        if name not in oracles:
            print(f"rows  {name}: {len(s_rows)} rows (spark {spark_s:.1f}s, no oracle)")
            rows_only += 1
            continue
        t1 = time.time()
        try:
            res = con.execute(oracles[name])
            d_cols = [d[0] for d in res.description]
            d_rows = res.fetchall()
            timing["oracle_s"] = oracle_s = time.time() - t1
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            failed += 1
            continue
        sc, sr = norm_rows(s_cols, s_rows)
        dc, dr = norm_rows(d_cols, d_rows)
        if sc != dc:
            print(f"FAIL  {name}: columns {sc} vs {dc}")
            failed += 1
        elif not rows_match(sr, dr):
            print(f"FAIL  {name}: rows {len(sr)} vs {len(dr)}")
            for i, (x, y) in enumerate(zip(sr, dr)):
                if not (len(x) == len(y) and all(cells_match(a, b) for a, b in zip(x, y))):
                    print(f"      first diff at {i}:\n      spark={x}\n      duck ={y}")
                    break
            if len(sr) != len(dr):
                only_s = [r for r in sr if r not in dr][:2]
                only_d = [r for r in dr if r not in sr][:2]
                print(f"      only-spark={only_s}\n      only-duck ={only_d}")
            failed += 1
        else:
            print(f"ok    {name}: {len(sr)} rows (spark {spark_s:.1f}s, oracle {oracle_s:.1f}s)")
            passed += 1
    # the driver's smoke: entry() must run and return >= 0 rows
    if not only:
        try:
            n = entrymod.entry(spark).count()
            print(f"entry() smoke: {n} rows")
        except Exception as e:
            print(f"FAIL  entry(): {e}")
            failed += 1
    print(f"\n{passed} ok, {failed} failed, {rows_only} rows-only")
    if json_path:
        with open(json_path, "w") as fh:
            json.dump({"sf_dir": sf_dir, "exact": EXACT, "queries": timings}, fh, indent=1)
    spark.stop()
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
