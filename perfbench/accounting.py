"""Per-call cost accounting, read from outside the engine.

``Timer.span(name)`` wraps one call into a package layer and records its
wall time and CPU time: this process's (the engine's driver-side code runs
here) plus that of the driver JVM and every process below it (the Python
workers), read from ``/proc``. ``Accountant``, used for traced runs only,
also tags the Spark jobs the call runs with a job group, then sums the last
attempt of each of their stages from Spark's status store: tasks, executor
run time, shuffle write bytes and input bytes. Spark's ``executorCpuTime``
leaves out the Python workers' CPU, hence the ``/proc`` reading.

Nothing here calls into the engine, so a measurement never changes the
index it measures.
"""

from __future__ import annotations

import contextlib
import itertools
import os
import statistics
import time
from dataclasses import dataclass

_CLK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields restart after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def process_tree(root: int) -> list[int]:
    """``root`` and every live descendant of it."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat_fields(int(entry))
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(entry))
    tree, todo = [], [root]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, ()))
    return tree


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of ``root`` and its live descendants, each
    with the CPU of the children it has reaped, so the total never drops
    when a Python worker exits."""
    total = 0
    for pid in process_tree(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime
            total += sum(int(f) for f in fields[11:15])
    return total / _CLK


def tree_peak_rss_mb(root: int) -> float:
    """Sum of each process's peak resident set (VmHWM) over the tree."""
    kb = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return kb / 1024.0


@dataclass
class Cost:
    wall_s: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    exec_run_s: float = 0.0
    proc_cpu_s: float = 0.0
    shuffle_write_mb: float = 0.0
    input_mb: float = 0.0
    start_epoch_s: float = 0.0
    job_ids: tuple = ()


def cycle_metrics(cycles: list[list[Cost]], items: int) -> dict[str, float]:
    """Figures over whole cycles of operations: the mean CPU time of one
    cycle, median operation latency, and items served per second of
    operation time. All 0 when no operation completed (the run then reports
    ``correct: false``)."""
    costs = [c for cycle in cycles for c in cycle]
    if not costs:
        return {"cycle_cpu_s": 0.0, "op_p50_ms": 0.0, "items_per_s": 0.0}
    return {
        "cycle_cpu_s": sum(c.proc_cpu_s for c in costs) / len(cycles),
        "op_p50_ms": statistics.median(c.wall_s for c in costs) * 1e3,
        "items_per_s": items / sum(c.wall_s for c in costs),
    }


class Timer:
    """Times each wrapped call: wall time, plus CPU time of this process
    (where the engine's driver-side code runs) and of the driver JVM tree."""

    traced = False

    def __init__(self, jvm_pid: int) -> None:
        self.jvm_pid = jvm_pid
        self.spans: dict[str, list[Cost]] = {}

    @contextlib.contextmanager
    def span(self, name: str):
        cost = Cost(start_epoch_s=time.time())
        self._begin(cost, name)
        jvm0 = tree_cpu_s(self.jvm_pid)
        own0 = time.process_time()
        t0 = time.perf_counter()
        try:
            yield cost
        finally:
            cost.wall_s = time.perf_counter() - t0
            own = time.process_time() - own0
            cost.proc_cpu_s = tree_cpu_s(self.jvm_pid) - jvm0 + own
            self._end(cost)
            self.spans.setdefault(name, []).append(cost)

    def _begin(self, cost: Cost, name: str) -> None:
        pass

    def _end(self, cost: Cost) -> None:
        pass


class Accountant(Timer):
    """Traced runs: also tags each call's Spark jobs with a job group and
    sums their stages from the status store."""

    traced = True

    def __init__(self, spark, jvm_pid: int) -> None:
        super().__init__(jvm_pid)
        self.sc = spark.sparkContext
        self._ids = itertools.count()
        self._group = None

    def _begin(self, cost: Cost, name: str) -> None:
        self._group = f"perfbench-{next(self._ids)}"
        self.sc.setJobGroup(self._group, name)

    def _end(self, cost: Cost) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        cost.job_ids = tuple(self.sc.statusTracker().getJobIdsForGroup(self._group))
        cost.jobs = len(cost.job_ids)
        self.add_stage_totals(cost, cost.job_ids)

    def stage_ids(self, job_ids) -> list[int]:
        tracker = self.sc.statusTracker()
        ids: set[int] = set()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is not None:
                ids.update(info.stageIds)
        return sorted(ids)

    def stage_data(self, sid: int):
        """The last attempt of stage ``sid`` if it ran, else None (skipped)."""
        store = self.sc._jsc.sc().statusStore()
        try:
            data = store.lastStageAttempt(sid)
        except Exception:  # py4j: NoSuchElementException for unknown stages
            return None
        return None if data.status().toString() == "SKIPPED" else data

    def add_stage_totals(
        self, cost: Cost, job_ids, window: tuple[float, float] | None = None
    ) -> None:
        """Add the stages of ``job_ids`` to ``cost``; with ``window``, only
        those submitted inside that (epoch seconds) interval."""
        for sid in self.stage_ids(job_ids):
            data = self.stage_data(sid)
            if data is None:
                continue
            if window is not None:
                sub = data.submissionTime()
                t = sub.get().getTime() / 1e3 if sub.isDefined() else None
                if t is None or not window[0] <= t < window[1]:
                    continue
            cost.stages += 1
            cost.tasks += data.numTasks()
            cost.exec_run_s += data.executorRunTime() / 1e3
            cost.shuffle_write_mb += data.shuffleWriteBytes() / 2**20
            cost.input_mb += data.inputBytes() / 2**20
