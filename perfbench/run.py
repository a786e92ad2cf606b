"""Benchmark for readability-scanner-spark.

    python3 perfbench/run.py --workload extract_html --seed 1 --seconds 10 --trace 0

Runs one workload (see workloads.py) from the root of a checkout, on
``local[<cores>]`` with the program's defaults, and prints as its last
line one JSON object ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` prints the end-to-end metrics of the timed rounds, with
every time net of hypervisor steal (host.StealMeter);
``--trace 1`` then runs one more round with Spark's event log on and
spans recorded, and prints the per-layer metrics instead (spans go to
``.perfbench_out/``). The line before the result holds the run's context:
core count, host efficiency, sample counts and any failed check.

Every input is generated from ``--seed`` under ``.perfbench_run/<pid>/``
in the checkout, which is removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

DEFAULT_SEED = 1
SIZES = {
    "full": {"turns": 5000, "analytics_scale": 0.1},
    # sf0.001-sized tables and ~50 conversations, for the self-test
    "tiny": {"turns": 900, "analytics_scale": 0.01},
}

# name -> unit; BENCHMARK.json adds which way is better and the bounds
END_TO_END = {
    "setup_s": "s",
    "run_s": "s",
    "items_per_s": "1/s",
}


def _per_layer() -> dict:
    from workloads import QUERY_MODULES

    m = {
        "plans.pipeline.repartition.shuffle_write_mb": "MB",
        "plans.pipeline.repartition.shuffle_read_mb": "MB",
        "plans.pipeline.repartition.spill_mb": "MB",
        "plans.pipeline.udf_stage.tasks": "count",
        "plans.pipeline.udf_stage.task_max_over_median": "ratio",
        "plans.pipeline.udf_stage.tail_s": "s",
        "plans.pipeline.cores_idle_frac": "fraction",
        "plans.pipeline.run_pipeline.bucket_p50_s": "s",
        "plans.pipeline.run_pipeline.bucket_max_s": "s",
        "plans.pipeline.run_pipeline.write_mb": "MB",
        "plans.pipeline.run_pipeline.jobs": "count",
        "functions.udfs.arrow_to_pandas_us_per_turn": "us",
        "functions.udfs.extract_stats_partition_us_per_turn": "us",
        "functions.udfs.pandas_to_arrow_us_per_turn": "us",
        "functions.udfs.bytes_to_python_mb": "MB",
        "functions.udfs.bytes_from_python_mb": "MB",
        "functions.udfs.boundary_core_s": "s",
        "functions.udfs.gap_s": "s",
        "functions.udfs.gap_accounted_frac": "fraction",
        "extraction.readability.extract_main_content_us_per_turn": "us",
        "extraction.readability.full_ladder_frac": "fraction",
        "dom.parse_html_us_per_turn": "us",
        "functions.textstats.calculate_text_statistics_us_per_turn": "us",
        "functions.formulas.with_readability_scores_s": "s",
    }
    for name, module in QUERY_MODULES.items():
        prefix = f"operators.{module}.{name}"
        m[f"{prefix}.build_s"] = "s"
        m[f"{prefix}.exec_s"] = "s"
        m[f"{prefix}.jobs"] = "count"
        m[f"{prefix}.shuffle_mb"] = "MB"
    m["spark.gc_s"] = "s"
    m["spark.peak_rss_mb"] = "MB"
    m["trace.run_s"] = "s"
    m["trace.overhead_frac"] = "fraction"
    return m


class Bench:
    """State of one benchmark run: the session, the work directory, the
    check counters and the digests observed."""

    def __init__(self, args, work: str):
        from host import host_cores
        from trace import Tracer

        self.seed = args.seed
        self.cores = host_cores()
        self.work = work
        self.sizes = SIZES["tiny" if args.tiny else "full"]
        self.tracer = Tracer()
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []
        self.observed: dict = {}
        path = args.expected or (None if args.tiny else os.path.join(HERE, "expected.json"))
        self.recorded = {}
        if path and os.path.exists(path):
            with open(path) as fh:
                self.recorded = json.load(fh)

    # -- session -----------------------------------------------------------
    def start_session(self, extra_conf: dict | None = None) -> None:
        from readability_scanner_spark.config import build_session

        conf = {
            "spark.local.dir": os.path.join(self.work, "local"),
            "spark.driver.extraJavaOptions": "-Djava.io.tmpdir=" + os.path.join(self.work, "tmp"),
            "spark.ui.showConsoleProgress": "false",
            **(extra_conf or {}),
        }
        self.spark = build_session("perfbench", master=f"local[{self.cores}]", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self._ship_package()

    def _ship_package(self) -> None:
        """Ship the package to the Python workers as a zip, the way
        ``spark-submit --py-files`` does."""
        import __spark_entry__

        zip_path = os.path.join(self.work, "readability_scanner_spark.zip")
        if not os.path.exists(zip_path):
            pkg = os.path.join(ROOT, "readability_scanner_spark")
            with zipfile.ZipFile(zip_path, "w") as zf:
                for dirpath, _dirs, files in os.walk(pkg):
                    for f in files:
                        if f.endswith(".py"):
                            full = os.path.join(dirpath, f)
                            zf.write(full, os.path.relpath(full, ROOT))
        self.spark.sparkContext.addPyFile(zip_path)
        # the entry module would otherwise write its own copy to /tmp
        __spark_entry__._PKG_SHIPPED.add(self.spark.sparkContext.applicationId)

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session and the driver JVM, and wait until the JVM and
        every Python worker it started have ended. Without this the JVM
        would notice the closed gateway pipe only after this process
        exits, and finish its shutdown after the run has returned."""
        from pyspark import SparkContext

        from host import descendants, wait_gone

        self.stop_session()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        procs = descendants()
        SparkContext._gateway = SparkContext._jvm = None
        try:
            gateway.shutdown()
        except Exception:
            pass  # the JVM may already be gone; its process is waited for below
        gateway.proc.stdin.close()  # the gateway server exits on EOF
        try:
            gateway.proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()
        wait_gone(procs)

    def gc_seconds(self) -> float:
        beans = self.spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(bean.getCollectionTime() for bean in beans) / 1000.0

    # -- helpers the workloads call ----------------------------------------
    def span(self, name: str):
        return self.tracer.span(name)

    def job(self, desc: str) -> None:
        self.spark.sparkContext.setJobDescription(desc)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(what)

    def expected(self, workload: str):
        return self.recorded.get(workload, {}).get(str(self.seed))

    def record(self, workload: str, data: dict, merge: bool = False) -> None:
        seen = self.observed.setdefault(workload, {})
        if merge:
            seen.update(data)
        else:
            seen.clear()
            seen.update(data)


def _p90(values: list[float]) -> float:
    if len(values) < 2:
        return values[0]
    return statistics.quantiles(values, n=10, method="inclusive")[8]


def run(args, work: str) -> tuple[dict, dict]:
    from host import RssSampler, StealMeter, hw_efficiency
    from trace import EventLog, event_log_conf
    from workloads import WORKLOADS

    b = Bench(args, work)
    wl = WORKLOADS[args.workload]()
    context = {"workload": args.workload, "seed": args.seed, "cores": b.cores}
    context["hw_eff"] = hw_efficiency(b.cores)
    sampler = RssSampler()
    try:
        # every time is reported net of hypervisor steal (see StealMeter):
        # on a shared host the raw wall times of identical runs drift with
        # other guests' load by more than the bounds in BENCHMARK.json
        meter = StealMeter()
        t0 = time.perf_counter()
        with b.span("setup"):
            with b.span("setup.session"):
                b.start_session()
            wl.setup(b)
        setup_wall = time.perf_counter() - t0
        setup_steal = meter.stop()

        rounds = []
        sampler.start()
        start = time.perf_counter()
        while not rounds or time.perf_counter() - start < args.seconds:
            meter = StealMeter()
            with b.span("round"):
                r = wl.round(b)
            r["net_s"] = r["seconds"] * (1.0 - meter.stop())
            rounds.append(r)
        peak_mb = sampler.stop()
        wl.check(b)

        ops = [op for r in rounds for op in r["ops"]]
        run_s = statistics.median(r["net_s"] for r in rounds)
        metrics = {
            "setup_s": setup_wall * (1.0 - setup_steal),
            "run_s": run_s,
            "items_per_s": statistics.median(r["items"] / r["net_s"] for r in rounds),
        }
        # reported alongside, not as bounded metrics: raw wall times, and
        # percentiles over one or two dozen operations of a dozen
        # different queries, vary too much from run to run to gate a
        # change on
        context.update(
            setup_wall_s=setup_wall, setup_steal_frac=setup_steal,
            rounds=len(rounds), round_wall_s=[r["seconds"] for r in rounds],
            run_wall_s=statistics.median(r["seconds"] for r in rounds),
            steal_frac=statistics.median(1.0 - r["net_s"] / r["seconds"] for r in rounds),
            ops=len(ops), op_p50_s=statistics.median(ops), op_p90_s=_p90(ops), peak_rss_mb=peak_mb,
            setup_parts_s={sp["name"]: sp["end"] - sp["start"] for sp in b.tracer.spans if sp["name"].startswith("setup.")},
        )
        specs = END_TO_END

        if args.trace:
            b.stop_session()
            log_dir = os.path.join(work, "events")
            b.start_session(event_log_conf(log_dir))
            wl.rewarm(b)
            gc0 = b.gc_seconds()
            b.job("traced")
            meter = StealMeter()
            with b.span("traced_round"):
                traced = wl.round(b)
            traced_s = traced["seconds"] * (1.0 - meter.stop())
            gc_s = b.gc_seconds() - gc0
            extras = wl.trace_extras(b)
            b.stop_session()  # flushes and closes the event log
            layers = wl.layers(b, EventLog(log_dir), {"desc": "traced", "run_s": traced["seconds"], **extras})
            layers["spark.gc_s"] = gc_s
            layers["spark.peak_rss_mb"] = peak_mb
            layers["trace.run_s"] = traced_s
            layers["trace.overhead_frac"] = traced_s / run_s - 1.0
            specs = _per_layer()
            unknown = set(layers) - set(specs)
            if unknown:
                raise RuntimeError(f"per-layer metrics without a spec: {sorted(unknown)}")
            metrics = {name: layers.get(name, 0) for name in specs}
            out_dir = os.path.join(ROOT, ".perfbench_out")
            b.tracer.write(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-spans.json"))
    finally:
        sampler.stop()
        b.shutdown()

    if args.record:
        stored = {}
        if os.path.exists(args.record):
            with open(args.record) as fh:
                stored = json.load(fh)
        for workload, data in b.observed.items():
            stored.setdefault(workload, {})[str(args.seed)] = data
        with open(args.record, "w") as fh:
            json.dump(stored, fh, indent=1, sort_keys=True)
            fh.write("\n")

    context.update(attempted=b.attempted, failed=b.failed, error_frac=b.failed / max(1, b.attempted))
    context["failures"] = b.notes[:20]
    result = {
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {name: {"value": metrics[name], "unit": unit} for name, unit in specs.items()},
    }
    return context, result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["extract_html", "analytics_mix"])
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tiny", action="store_true", help="self-test sizes (sf0.001, ~50 conversations)")
    ap.add_argument("--expected", help="recorded digests to check against (default: perfbench/expected.json)")
    ap.add_argument("--record", help="merge the digests observed for this seed into this JSON file")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    from host import host_cores

    work = os.path.join(ROOT, ".perfbench_run", str(os.getpid()))
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(host_cores())
    try:
        context, result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still owns a directory there
    print(json.dumps(context))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
