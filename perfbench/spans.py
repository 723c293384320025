"""Outside-in measurement: spans, Spark job windows, percentiles, RSS.

A span wraps one call into a layer's public function. When tracing is on,
the span also records which Spark jobs the call launched. Jobs are
attributed by **job-id window**, not by job group: job ids grow
monotonically, the benchmark has a single client thread, so every job
whose id is above the newest id seen before the call and at most the
newest id seen after it belongs to the call. This also catches jobs that a
call launches from its own thread pool (``build_index`` runs its last
stages on a ``ThreadPoolExecutor``; those jobs carry no job group).

Job and stage data come from Spark's in-process status store
(``SparkContext.statusStore``), which is filled by the listener bus with
the UI disabled; no REST endpoint is used. The status store is read only
after the call returned and the listener bus drained, so reading it never
launches a job and never overlaps the timed call.
"""

from __future__ import annotations

import json
import math
import os
import time
from dataclasses import dataclass, field
from pathlib import Path

PCTS = (99.9, 99.0, 90.0, 50.0)


def _rank(n: int, p: float) -> int:
    """1-based nearest rank of percentile ``p`` among ``n`` samples."""
    return max(1, math.ceil(round(n * p / 100.0, 6)))


def percentile(values, p: float) -> float:
    """Nearest-rank percentile of ``values`` (no interpolation)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    return float(xs[_rank(len(xs), p) - 1])


def tail_percentile(n: int, candidates=PCTS) -> float | None:
    """The highest percentile with at least ten samples beyond it, or None
    when even the median has fewer than ten samples above it."""
    for p in candidates:
        if n - _rank(n, p) >= 10:
            return p
    return None


def median(values) -> float:
    xs = sorted(values)
    if not xs:
        raise ValueError("median of no samples")
    m = len(xs) // 2
    return float(xs[m] if len(xs) % 2 else (xs[m - 1] + xs[m]) / 2.0)


def geomean(values) -> float:
    """Geometric mean of positive values (TPC-H's power metric combines
    query times the same way, so that each counts the same)."""
    logs = [math.log(v) for v in values]
    if not logs:
        raise ValueError("geometric mean of no samples")
    return math.exp(sum(logs) / len(logs))


def union_seconds(intervals) -> float:
    """Total length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ---------------------------------------------------------------------------
# RSS from /proc (psutil is not a dependency)
# ---------------------------------------------------------------------------

def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        return 0
    return 0


def child_pids(pid: int) -> list[int]:
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as f:
            return [int(x) for x in f.read().split()]
    except OSError:
        return []


def jvm_pid(root: int | None = None) -> int | None:
    """The Spark JVM: a ``java`` descendant of this process."""
    stack = child_pids(root or os.getpid())
    while stack:
        pid = stack.pop()
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    return pid
        except OSError:
            continue
        stack.extend(child_pids(pid))
    return None


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system, reaped children included) of a process
    and all its live descendants: the driver, the JVM and Spark's Python
    workers."""
    total, stack = 0, [root or os.getpid()]
    while stack:
        pid = stack.pop()
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
        stack.extend(child_pids(pid))
    return total / _TICK


def host_steal_share():
    """Callable returning the share of CPU time stolen by the hypervisor
    since it was made (diagnostic: wall times inflate with steal)."""
    def read():
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return sum(v[:8]), v[7] if len(v) > 7 else 0
    t0, s0 = read()

    def share() -> float:
        t1, s1 = read()
        return (s1 - s0) / (t1 - t0) if t1 > t0 else 0.0
    return share


def peak_rss_mb(jvm: int | None) -> tuple[float, float]:
    """(python peak MB, JVM peak MB) from ``VmHWM``."""
    py = _status_kb(os.getpid(), "VmHWM") / 1024.0
    jv = _status_kb(jvm, "VmHWM") / 1024.0 if jvm else 0.0
    return py, jv


# ---------------------------------------------------------------------------
# Spark job windows
# ---------------------------------------------------------------------------

def _opt(o):
    return o.get() if o.isDefined() else None


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.length())]


class JobWindow:
    """Reads the jobs, stages and tasks that ran between two marks."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._gw = sc._gateway
        self._store = self._jsc.statusStore()
        self._empty_status = self._gw.jvm.java.util.ArrayList()
        self._no_quantiles = self._gw.new_array(self._gw.jvm.double, 0)

    def drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty(60_000)

    def mark(self) -> int:
        """Newest job id the status store knows (-1 before any job)."""
        self.drain()
        jobs = self._store.jobsList(None)
        return jobs.head().jobId() if jobs.nonEmpty() else -1

    def jobs_after(self, lo: int, hi: int, since: float) -> dict:
        """Summed figures of jobs ``lo < id <= hi`` and of the stages they
        ran that started at or after ``since`` (epoch seconds)."""
        out = {"jobs": 0, "tasks": 0, "intervals": [], "task_s": 0.0,
               "cpu_s": 0.0, "shuffle_bytes": 0, "skew": 0.0, "stages": []}
        stage_ids: set[int] = set()
        for jid in range(lo + 1, hi + 1):
            job = self._store.job(jid)
            out["jobs"] += 1
            sub, end = _opt(job.submissionTime()), _opt(job.completionTime())
            if sub is not None and end is not None:
                out["intervals"].append((sub.getTime() / 1e3,
                                         end.getTime() / 1e3))
            stage_ids.update(int(x) for x in _seq(job.stageIds()))
        heaviest = None
        for sid in sorted(stage_ids):
            for st in _seq(self._store.stageData(
                    sid, False, self._empty_status, False,
                    self._no_quantiles)):
                # a stage reused from an earlier call is skipped here and
                # keeps the earlier call's submission time and figures
                sub = _opt(st.submissionTime())
                if (str(st.status().toString()) != "COMPLETE" or sub is None
                        or sub.getTime() / 1e3 < since - 0.01):
                    continue
                run_s = st.executorRunTime() / 1e3
                out["tasks"] += st.numCompleteTasks()
                out["task_s"] += run_s
                out["cpu_s"] += st.executorCpuTime() / 1e9
                out["shuffle_bytes"] += st.shuffleWriteBytes()
                out["stages"].append([sid, st.numCompleteTasks(), run_s,
                                      st.shuffleWriteBytes()])
                if heaviest is None or run_s > heaviest[1]:
                    heaviest = ((sid, st.attemptId()), run_s)
        if heaviest is not None:
            out["skew"] = self.task_skew(*heaviest[0])
        return out

    def task_skew(self, sid: int, attempt: int) -> float:
        """Longest task over median task of one stage attempt."""
        durs = []
        for t in _seq(self._store.taskList(sid, attempt, 100_000)):
            d = _opt(t.duration())
            if d is not None:
                durs.append(float(d))
        if not durs or median(durs) <= 0:
            return 0.0
        return max(durs) / median(durs)


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------

@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    request: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Times calls; with ``window`` set also attributes Spark jobs.

    Spans are kept in memory and written as JSON lines by :meth:`dump`.
    Untraced runs create a tracer without a window, so the only cost left
    in the timed path is two ``perf_counter`` reads. ``overhead_s`` sums
    the time spent reading the status store: the tracing overhead."""

    def __init__(self, window: JobWindow | None = None):
        self.window = window
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._stack: list[int] = []

    def call(self, name: str, fn, *args, request: int | None = None,
             **kwargs):
        """Run ``fn(*args, **kwargs)`` inside a span; returns
        ``(result, span)``."""
        parent = self._stack[-1] if self._stack else None
        if request is None and parent is not None:
            request = self.spans[parent].request
        o0 = time.perf_counter()
        lo = self.window.mark() if self.window is not None else -1
        self.overhead_s += time.perf_counter() - o0
        wall0 = time.time()
        t0 = time.perf_counter()
        span = Span(name, wall0, parent=parent, request=request)
        self.spans.append(span)
        self._stack.append(len(self.spans) - 1)
        try:
            result = fn(*args, **kwargs)
        finally:
            span.end = wall0 + (time.perf_counter() - t0)
            self._stack.pop()
        if self.window is not None:
            o0 = time.perf_counter()
            hi = self.window.mark()
            jw = self.window.jobs_after(lo, hi, span.start)
            span.attrs.update(job_lo=lo + 1, job_hi=hi)
            in_jobs = union_seconds(
                (max(s, span.start), min(e, span.end))
                for s, e in jw.pop("intervals")
                if e > span.start and s < span.end)
            span.attrs.update(jw, in_jobs_s=in_jobs,
                              driver_s=max(0.0, span.seconds - in_jobs))
            self.overhead_s += time.perf_counter() - o0
        return result, span

    def dump(self, path: Path) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, "name": s.name,
                                    "start": s.start, "end": s.end,
                                    "parent": s.parent,
                                    "request": s.request, **s.attrs}) + "\n")
