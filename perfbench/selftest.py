"""Self-test of the benchmark on tiny inputs (sf0.001-sized tables, ~50
conversations). Run from the root of a checkout:

    python3 perfbench/selftest.py

For each workload it checks that an untraced run prints every end-to-end
metric of BENCHMARK.json with its unit and no failure, that a traced run
prints every per-layer metric with its unit, and that a planted mismatch
in a recorded digest shows up as failed checks (error_frac > 0).
Exits non-zero on the first problem.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def bench(workload: str, *extra: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "3",
           "--seconds", "1", "--tiny", *extra]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise SystemExit(f"{' '.join(cmd)} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise SystemExit(f"result keys {sorted(result)}")
    return result


def expect_metrics(result: dict, specs: list[dict], what: str) -> None:
    got = {name: m["unit"] for name, m in result["metrics"].items()}
    want = {s["name"]: s["unit"] for s in specs}
    if got != want:
        missing = sorted(set(want) - set(got))
        extra = sorted(set(got) - set(want))
        wrong = sorted(n for n in set(got) & set(want) if got[n] != want[n])
        raise SystemExit(f"{what}: missing {missing}, unexpected {extra}, wrong unit {wrong}")
    for name, m in result["metrics"].items():
        if not isinstance(m["value"], (int, float)):
            raise SystemExit(f"{what}: {name} is not a number: {m['value']!r}")


def plant_mismatch(recorded: dict) -> dict:
    """Flip one bit of every recorded hash (an empty result hashes to
    null; its row count is bumped instead)."""
    planted = json.loads(json.dumps(recorded))
    for per_seed in planted.values():
        for digest in per_seed.values():
            for entry in [digest] if "hash" in digest else digest.values():
                if entry["hash"] is None:
                    entry["rows"] += 1
                else:
                    entry["hash"] ^= 1
    return planted


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    work = os.path.join(ROOT, ".perfbench_run", "selftest")
    os.makedirs(work, exist_ok=True)
    try:
        for wl in (w["name"] for w in spec["workloads"]):
            recorded = os.path.join(work, f"{wl}-recorded.json")
            res = bench(wl, "--trace", "0", "--record", recorded)
            expect_metrics(res, spec["end_to_end"], f"{wl} --trace 0")
            if res["failed"] or not res["correct"] or res["attempted"] < 1:
                raise SystemExit(f"{wl}: clean run reported {res['failed']} of {res['attempted']} failed")

            res = bench(wl, "--trace", "1", "--expected", recorded)
            expect_metrics(res, spec["per_layer"], f"{wl} --trace 1")
            if res["failed"]:
                raise SystemExit(f"{wl}: traced run failed {res['failed']} checks against its own record")

            planted = os.path.join(work, f"{wl}-planted.json")
            with open(recorded) as fh, open(planted, "w") as out:
                json.dump(plant_mismatch(json.load(fh)), out)
            res = bench(wl, "--trace", "0", "--expected", planted)
            if not res["failed"] or res["correct"]:
                raise SystemExit(f"{wl}: a planted digest mismatch went unnoticed")
            print(f"ok  {wl}: metrics and units match; planted mismatch gives "
                  f"error_frac {res['failed'] / res['attempted']:.3f}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # a benchmark run still owns a directory there
    return 0


if __name__ == "__main__":
    sys.exit(main())
