"""Host sizing and resource sampling: core count, a CPU-efficiency probe,
hypervisor steal, and peak resident memory of the Spark driver's process
tree, read from /proc."""

from __future__ import annotations

import multiprocessing
import os
import signal
import threading
import time


def host_cores() -> int:
    """Cores this process may run on (CPU affinity; OMP_NUM_THREADS is
    deliberately ignored, like ``env -u OMP_NUM_THREADS nproc``)."""
    return len(os.sched_getaffinity(0))


def _burn(n: int) -> int:
    x = 0
    for i in range(n):
        x += i * i % 7
    return x


def hw_efficiency(cores: int, n: int = 1_000_000) -> float:
    """Share of perfect linear scaling the host delivers right now: a
    pure-Python burn on 1 process and on ``cores`` processes. Low values
    mean the run measured a busy host, not the engine.

    Call it before any thread or JVM is started: the workers are forked,
    which, unlike spawned ones, needs no resource-tracker process that
    would outlive the run; they are joined before it returns."""
    ctx = multiprocessing.get_context("fork")
    rates = {}
    pool = ctx.Pool(cores)
    try:
        pool.map(_burn, [1000] * cores)  # workers started before timing
        for procs in (1, cores):
            t0 = time.perf_counter()
            pool.map(_burn, [n] * procs, chunksize=1)
            rates[procs] = procs / (time.perf_counter() - t0)
        pool.close()
    finally:
        pool.terminate()
        pool.join()
    return rates[cores] / (cores * rates[1])


class StealMeter:
    """Share of this guest's runnable CPU time that the hypervisor gave to
    other guests (``steal`` in /proc/stat) between creation and
    ``stop()``. A stretch of wall time ``w`` with steal share ``s`` would
    have taken about ``w * (1 - s)`` on a host of its own."""

    def __init__(self):
        self._start = self._ticks()

    @staticmethod
    def _ticks() -> tuple[int, int]:
        with open("/proc/stat") as fh:
            user, nice, system, _idle, _iowait, irq, softirq, steal = (
                int(v) for v in fh.readline().split()[1:9]
            )
        return user + nice + system + irq + softirq, steal

    def stop(self) -> float:
        busy, steal = (now - then for now, then in zip(self._ticks(), self._start))
        return steal / (busy + steal) if busy + steal else 0.0


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (state first),
    or None once the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return None
    return stat[stat.rfind(")") + 2 :].split()


def _tree(root_pid: int) -> dict[int, list[str]]:
    """Stat fields of ``root_pid``'s descendants (the Spark driver JVM is a
    child of this process, the Python workers are children of the JVM)."""
    stats = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat_fields(int(entry))
            if fields is not None:  # else it ended between listdir and open
                stats[int(entry)] = fields
    tree = {}
    for pid, fields in stats.items():
        p = int(fields[1])
        while p > 1 and p != root_pid:
            p = int(stats[p][1]) if p in stats else 0
        if p == root_pid:
            tree[pid] = fields
    return tree


def _rss_tree_bytes(root_pid: int, page: int) -> int:
    """Summed RSS of ``root_pid`` and all its descendants."""
    stats = [_stat_fields(root_pid), *_tree(root_pid).values()]
    return sum(int(fields[21]) * page for fields in stats if fields is not None)


def descendants() -> dict[int, str]:
    """This process's descendants, as pid -> start time (which tells a
    process from a later one that reuses its pid)."""
    return {pid: fields[19] for pid, fields in _tree(os.getpid()).items()}


def wait_gone(procs: dict[int, str], timeout_s: float = 15.0) -> None:
    """Wait until every process of ``procs`` (from ``descendants()``) has
    ended; after ``timeout_s`` send SIGTERM, after twice that SIGKILL."""
    deadline = time.monotonic() + timeout_s
    sent = None
    while True:
        alive = []
        for pid, start in procs.items():
            fields = _stat_fields(pid)
            if fields is not None and fields[19] == start and fields[0] != "Z":
                alive.append(pid)
        if not alive:
            return
        now = time.monotonic()
        sig = signal.SIGKILL if now > deadline + timeout_s else signal.SIGTERM if now > deadline else None
        if sig is not None and sig != sent:
            for pid in alive:
                try:
                    os.kill(pid, sig)
                except OSError:
                    pass  # it ended meanwhile
            sent = sig
        time.sleep(0.05)


class RssSampler:
    """Background thread recording the peak RSS of this process tree
    between ``start()`` and ``stop()``."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _sample(self) -> None:
        self.peak_bytes = max(self.peak_bytes, _rss_tree_bytes(os.getpid(), self._page))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def start(self) -> None:
        self._sample()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)
        self._thread.start()

    def stop(self) -> float:
        """Stop sampling; return the peak in MiB."""
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        self._sample()
        return self.peak_bytes / 2**20
