"""Measurement helpers kept outside the package: spans with Spark job
counts, process-tree RSS and host CPU taken by other tenants."""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager

_HZ = os.sysconf("SC_CLK_TCK")


class Tracer:
    """One span per call into a layer's public function.

    With ``enabled`` each span sets its own Spark job group, and on exit
    reads the group's job, stage and task counts from
    ``sparkContext.statusTracker()``. Spans stay in memory until
    ``write``. Disabled, ``span`` only times the call and sets no group.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []

    def bind(self, spark) -> None:
        """Follow the session of the current set-up cycle."""
        self.sc = spark.sparkContext

    @contextmanager
    def span(self, name: str, op: int, **attrs):
        rec = {"name": name, "op": op, **attrs}
        group = f"perfbench-{len(self.spans)}-{name}"
        if self.enabled:
            self.sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["start"], rec["end"] = t0, time.perf_counter()
            if self.enabled:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
                rec.update(self._counts(group))
                self.spans.append(rec)

    def _counts(self, group: str) -> dict:
        st = self.sc.statusTracker()
        stages = set()
        for jid in st.getJobIdsForGroup(group):
            info = st.getJobInfo(jid)
            if info is not None:
                stages.update(info.stageIds)
        tasks, ran = 0, 0
        for sid in stages:
            info = st.getStageInfo(sid)
            if info is not None and info.numCompletedTasks > 0:  # skipped stages ran nothing
                ran += 1
                tasks += info.numCompletedTasks
        return {"jobs": len(st.getJobIdsForGroup(group)), "stages": ran, "tasks": tasks}

    def write(self, path: str) -> None:
        import json

        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


def _tree(root: int) -> list[int]:
    """``root`` and every live descendant, from the ppid field of /proc/*/stat."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # exited while listing
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def descendants() -> list[int]:
    return _tree(os.getpid())[1:]


def _pss_kb(pid: int) -> int:
    """Proportional set size: a page shared by n processes counts 1/n in
    each, so the tree's sum counts the pages that the forked Python
    workers share with their daemon once. Summed VmRSS counts them once
    per worker and moved with the number of live workers at each sample."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _tree_cpu_ticks() -> int:
    """CPU ticks of this process tree, reaped children included."""
    total = 0
    for pid in _tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        except (OSError, ValueError):
            continue
    return total


def _host_busy_ticks() -> int:
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    return sum(cpu) - cpu[3] - cpu[4]  # all but idle and iowait; includes steal


def cpu_mark() -> tuple[float, int, int]:
    """(time, host busy ticks, this process tree's ticks), for ``other_cores``."""
    return time.monotonic(), _host_busy_ticks(), _tree_cpu_ticks()


def other_cores(a: tuple[float, int, int], b: tuple[float, int, int]) -> float:
    """Cores that other tenants, hypervisor steal included, took on the
    host between two ``cpu_mark``s: host busy CPU minus this tree's CPU."""
    wall = b[0] - a[0]
    other = (b[1] - a[1]) - (b[2] - a[2])
    return max(0.0, other / _HZ / wall) if wall > 0 else 0.0


class Monitor:
    """Samples the tree's summed proportional RSS every ``interval``
    seconds in a thread, and measures the CPU that processes outside the tree used on
    the host over the same window (the contention diagnostic)."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        self.peak_kb = max(self.peak_kb, sum(_pss_kb(p) for p in _tree(os.getpid())))

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def __enter__(self):
        self._mark = cpu_mark()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._sample()
        self._stop.set()
        self._thread.join(timeout=10)
        self.other_cpu_cores = other_cores(self._mark, cpu_mark())
        return False

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
