"""Tracing for the traced run: in-memory spans around calls into the
program's layers, and a reader for Spark's own event log (turned on with
``build_session(extra_conf=...)``) that turns task records into per-stage
and per-job figures."""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time


class Tracer:
    """Spans kept in memory (name, start, end, parent) and written once,
    when the run ends."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        rec = {"id": idx, "name": name, "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(idx)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def event_log_conf(log_dir: str) -> dict:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


class EventLog:
    """Jobs, stages and finished tasks of one application's event log.

    ``jobs[id] = {"desc", "stages"}``; ``stages[id] = {"scopes",
    "parents", "rdd"}``; ``tasks`` are dicts with stage, launch/finish
    (s) and byte counters."""

    def __init__(self, log_dir: str):
        names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
        if len(names) != 1:
            raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        self.tasks: list[dict] = []
        with open(os.path.join(log_dir, names[0])) as fh:
            for line in fh:
                self._add(json.loads(line))

    def _stage_info(self, info: dict) -> None:
        scopes = set()
        rdds = info.get("RDD Info", [])
        for rdd in rdds:
            scope = rdd.get("Scope")
            if scope:
                scopes.add(json.loads(scope).get("name", ""))
        st = self.stages.setdefault(info["Stage ID"], {"scopes": set(), "parents": [], "rdd": None})
        st["scopes"] |= scopes
        st["parents"] = info.get("Parent IDs", st["parents"])
        if rdds:
            st["rdd"] = max(r["RDD ID"] for r in rdds)

    def _add(self, ev: dict) -> None:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            self.jobs[ev["Job ID"]] = {
                "desc": props.get("spark.job.description"),
                "stages": list(ev["Stage IDs"]),
            }
            for info in ev.get("Stage Infos", []):
                self._stage_info(info)
        elif kind in ("SparkListenerStageSubmitted", "SparkListenerStageCompleted"):
            self._stage_info(ev["Stage Info"])
        elif kind == "SparkListenerTaskEnd":
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            read = m.get("Shuffle Read Metrics") or {}
            write = m.get("Shuffle Write Metrics") or {}
            self.tasks.append(
                {
                    "stage": ev["Stage ID"],
                    "launch": info["Launch Time"] / 1000.0,
                    "finish": info["Finish Time"] / 1000.0,
                    "shuffle_read": read.get("Remote Bytes Read", 0) + read.get("Local Bytes Read", 0),
                    "shuffle_write": write.get("Shuffle Bytes Written", 0),
                    "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    "output": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
                }
            )

    def job_ids(self, desc: str) -> list[int]:
        return [j for j, job in self.jobs.items() if job["desc"] == desc]

    def stage_ids(self, desc: str) -> set[int]:
        return {s for j in self.job_ids(desc) for s in self.jobs[j]["stages"]}

    def tasks_of(self, stage_ids) -> list[dict]:
        stage_ids = set(stage_ids)
        return [t for t in self.tasks if t["stage"] in stage_ids]

    def stages_with_scope(self, stage_ids, scope: str) -> set[int]:
        return {s for s in stage_ids if scope in self.stages.get(s, {}).get("scopes", ())}

    def parent_stages(self, stage_ids, among) -> set[int]:
        """Stages in ``among`` that computed a parent of ``stage_ids``.
        Under adaptive execution a parent runs in its own job and shows
        up again, skipped, under a new id in the child's job; both ids
        end in the same RDD."""
        rdds = {self.stages[p]["rdd"] for s in stage_ids for p in self.stages[s]["parents"]}
        return {s for s in among if self.stages[s]["rdd"] in rdds} - set(stage_ids)


MB = 2**20


def slot_seconds(tasks: list[dict]) -> float:
    """Core-seconds the tasks held a task slot (launch to finish)."""
    return sum(t["finish"] - t["launch"] for t in tasks)


def under_occupied_seconds(tasks: list[dict], slots: int) -> float:
    """Wall seconds, between the first launch and the last finish, during
    which fewer than ``slots`` of these tasks were running."""
    if not tasks:
        return 0.0
    edges = sorted([(t["launch"], 1) for t in tasks] + [(t["finish"], -1) for t in tasks])
    running, last, under = 0, edges[0][0], 0.0
    for when, delta in edges:
        if running < slots:
            under += when - last
        running += delta
        last = when
    return under


def max_over_median(values: list[float]) -> float:
    med = statistics.median(values) if values else 0.0
    return max(values) / med if med > 0 else 0.0
