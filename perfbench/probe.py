"""Measurement probes read from outside the engine.

- ``ProcTree``: CPU seconds and resident memory of this process's
  descendants (the Spark JVM and its Python workers), from ``/proc``.
- ``RssPeak``: a sampler thread that keeps the peak of that memory.
- ``StepStats`` / ``StatusProbe.collect_steps``: what Spark's status stores recorded
  for the jobs of one job group: stage run, CPU and GC time, shuffle
  bytes, job and task counts, the part of a wall-time window no
  running stage covered, and the Python-worker SQL metrics of every
  ``MapInPandas`` node.
"""

from __future__ import annotations

import os
import re
import threading
import time
from dataclasses import dataclass, fields

from leader_graph_spark.hostload import _tree_pids

_HZ = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _sweep() -> dict[int, tuple[int, int, int]]:
    """pid -> (ppid, utime+stime+cutime+cstime jiffies, rss pages); the
    engine's ``hostload`` sweep reads neither the children's times nor
    the resident size."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        fields_ = raw[raw.rfind(")") + 2 :].split()
        # after the command: 0 state, 1 ppid, 11-14 utime stime cutime cstime, 21 rss
        cpu = sum(int(v) for v in fields_[11:15])
        out[int(entry)] = (int(fields_[1]), cpu, int(fields_[21]))
    return out


class ProcTree:
    """CPU and memory of everything this process started.

    CPU counts exited children through their parents' cumulative child
    times, so workers that end mid-window are not lost."""

    def __init__(self) -> None:
        self.root = os.getpid()

    def cpu_s(self) -> float:
        sweep = _sweep()
        pids = _tree_pids(sweep, self.root)
        return sum(sweep[p][1] for p in pids if p in sweep) / _HZ

    def rss_mb(self) -> float:
        """Resident memory of the descendants; this process is left out,
        so the benchmark's own Python heap does not count."""
        sweep = _sweep()
        return sum(sweep[p][2] for p in _tree_pids(sweep, self.root) - {self.root}) * _PAGE / 1e6


class RssPeak:
    """``with RssPeak(tree) as peak: ...`` then ``peak.mb``."""

    def __init__(self, tree: ProcTree, interval: float = 0.2) -> None:
        self.tree, self.interval, self.mb = tree, interval, 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.mb = max(self.mb, self.tree.rss_mb())
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "RssPeak":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.mb = max(self.mb, self.tree.rss_mb())


@dataclass
class StepStats:
    """Status-store totals for one forced call."""

    s: float = 0.0
    busy_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    driver_gap_s: float = 0.0
    jobs: int = 0
    tasks: int = 0
    shuffle_mb: float = 0.0
    rows_out: int = 0
    py_total_s: float = 0.0
    py_sent_mb: float = 0.0
    py_received_mb: float = 0.0

    def as_dict(self) -> dict[str, float]:
        return {f.name: getattr(self, f.name) for f in fields(self)}


# MapInPandas SQL metric display name -> StepStats field
_PY_METRICS = {
    "time to run Python workers": "py_total_s",
    "data sent to Python workers": "py_sent_mb",
    "data returned from Python workers": "py_received_mb",
}
_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
    "B": 1e-6, "KiB": 1024 / 1e6, "MiB": 1024**2 / 1e6, "GiB": 1024**3 / 1e6,
    "TiB": 1024**4 / 1e6,
}
_VALUE_RE = re.compile(r"([-\d.,]+)\s*([A-Za-z]*)")


def parse_sql_metric(text: str) -> float:
    """Total of a formatted SQL metric, in seconds or MB.

    Spark renders a timing or size metric as ``total (min, med, max ...)``
    then a newline and ``<total> (<min>, ...)``; a single-task metric is
    just ``<total>``. The unit scales the number; a plain count has none."""
    last = text.strip().split("\n")[-1]
    m = _VALUE_RE.match(last.strip())
    if not m:
        raise ValueError(f"unparsed SQL metric: {text!r}")
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit and unit not in _UNITS:
        raise ValueError(f"unknown SQL metric unit {unit!r} in {text!r}")
    return value * _UNITS.get(unit, 1.0)


class StatusProbe:
    """Reads the application and SQL status stores of one session."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.last_execution = -1
        self.skip_executions()

    def skip_executions(self) -> None:
        """Mark every SQL execution so far as seen."""
        while self.sql.execution(self.last_execution + 1).isDefined():
            self.last_execution += 1

    def _new_executions(self) -> list:
        out = []
        while True:
            ex = self.sql.execution(self.last_execution + 1)
            if not ex.isDefined():
                return out
            self.last_execution += 1
            out.append(ex.get())

    def _stages(self, group: str, timeout: float = 10.0) -> tuple[list[int], list]:
        """(job ids, final StageData of every stage) of a job group,
        once the asynchronous listener has recorded every stage's end."""
        tracker = self.sc.statusTracker()
        deadline = time.monotonic() + timeout
        while True:
            jobs = tracker.getJobIdsForGroup(group)
            stage_ids = {s for j in jobs for s in tracker.getJobInfo(j).stageIds}
            stages = [self.store.lastStageAttempt(s) for s in stage_ids]
            pending = [
                d for d in stages if d.status().toString() in ("ACTIVE", "PENDING")
            ]
            if not pending or time.monotonic() > deadline:
                return list(jobs), stages
            time.sleep(0.02)

    def pass_shuffle_mb(self, groups: list[str]) -> float:
        total = 0.0
        for g in groups:
            _, stages = self._stages(g)
            total += sum(d.shuffleReadBytes() + d.shuffleWriteBytes() for d in stages)
        return total / 1e6

    def collect_steps(self, windows: list[tuple[str, float, float]]) -> list[StepStats]:
        """Totals per (job group, t0, t1) window, ``time.time()`` seconds.

        Python-worker metrics come from the SQL executions run since the
        last ``skip_executions``; each is charged to the step whose job
        group ran its jobs."""
        out, owner = [], {}
        for i, (group, t0, t1) in enumerate(windows):
            st, job_ids = self._stage_totals(group, t0, t1)
            out.append(st)
            owner.update({j: i for j in job_ids})
        for ex in self._new_executions():
            self._await_end(ex.executionId())
            jobs = ex.jobs().keySet()
            it = jobs.iterator()
            while it.hasNext():
                step = owner.get(it.next())
                if step is not None:
                    self._add_python_metrics(out[step], ex.executionId())
                    break
        return out

    def _stage_totals(self, group: str, t0: float, t1: float) -> tuple[StepStats, list[int]]:
        st = StepStats(s=t1 - t0)
        job_ids, stages = self._stages(group)
        st.jobs = len(job_ids)
        covered = []
        for d in stages:
            if d.status().toString() == "SKIPPED":
                continue
            st.tasks += d.numTasks()
            st.busy_s += d.executorRunTime() / 1e3
            st.cpu_s += d.executorCpuTime() / 1e9
            st.gc_s += d.jvmGcTime() / 1e3
            st.shuffle_mb += (d.shuffleReadBytes() + d.shuffleWriteBytes()) / 1e6
            if d.submissionTime().isDefined() and d.completionTime().isDefined():
                a = max(t0, d.submissionTime().get().getTime() / 1e3)
                b = min(t1, d.completionTime().get().getTime() / 1e3)
                if b > a:
                    covered.append((a, b))
        st.driver_gap_s = max(0.0, (t1 - t0) - _union_length(covered))
        return st, job_ids

    def _await_end(self, execution_id: int, timeout: float = 10.0) -> None:
        """SQL metrics are final once the listener saw the execution end."""
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            ex = self.sql.execution(execution_id)
            if ex.isDefined() and ex.get().completionTime().isDefined():
                return
            time.sleep(0.02)

    def _add_python_metrics(self, st: StepStats, execution_id: int) -> None:
        nodes = self.sql.planGraph(execution_id).allNodes()
        wanted = []
        for i in range(nodes.size()):
            node = nodes.apply(i)
            if node.name() != "MapInPandas":
                continue
            ms = node.metrics()
            for j in range(ms.size()):
                m = ms.apply(j)
                if m.name() in _PY_METRICS:
                    wanted.append((_PY_METRICS[m.name()], m.accumulatorId()))
        if not wanted:
            return
        values = self.sql.executionMetrics(execution_id)
        for attr, acc in wanted:
            v = values.get(acc)
            if v.isDefined():
                setattr(st, attr, getattr(st, attr) + parse_sql_metric(v.get()))


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total
