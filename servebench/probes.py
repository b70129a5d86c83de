"""Layer probes for the traced run, all taken from outside the program.

- ``Tracer`` records spans (name, start, end, parent, op id) around
  calls into each layer by rebinding the names the callers resolve
  (``service.fts_search``, ``Catalog.get_collection`` ...), and
  restores them on ``restore()``.
- ``StatusReader`` reads what Spark's core and SQL status stores kept
  about one op's job groups: jobs, tasks, job intervals, stage metrics
  and the Python-worker SQL metrics. It is called right after each op,
  so the stores' retention limits (1000 jobs/stages/executions by
  default) cannot evict a record it needs; a job the tracker lists but
  the store lacks raises instead of being skipped.
- ``peak_rss_bytes`` sums the peak resident set of this process and
  every descendant (the JVM and the Python workers) from ``/proc``.
"""

from __future__ import annotations

import contextlib
import functools
import os
import threading
import time

from py4j.protocol import Py4JJavaError


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.op: int | None = None  # spans are recorded only while set
        self._root: int | None = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 0
        self._patched: list[tuple[object, str, object]] = []

    def patch(self, owner: object, attr: str, name: str) -> None:
        orig = vars(owner)[attr]

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        self._patched.append((owner, attr, orig))

    def restore(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    @contextlib.contextmanager
    def span(self, name: str):
        op = self.op
        if op is None:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = self._next
            self._next += 1
        # a span opened on another thread (an async batch job) hangs
        # off the op's root span
        parent = stack[-1] if stack else self._root
        if parent is None:
            self._root = sid
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            if self._root == sid:
                self._root = None
            with self._lock:
                self.spans.append({"id": sid, "name": name, "start": start,
                                   "end": end, "parent": parent, "op": op})


def span_self(spans: list[dict]) -> dict[int, float]:
    """Self time in seconds per span id: the span minus the union of
    its children."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - union_length(children.get(s["id"], []), s["start"], s["end"])
            for s in spans}


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur_end), min(b, hi)
        if b > a:
            total += b - a
            cur_end = b
    return total


# SQL metric name -> layer counter (Spark 4.1 PythonSQLMetrics)
PYTHON_METRICS = {
    "time to start Python workers": "start_ms",
    "time to initialize Python workers": "init_ms",
    "time to run Python workers": "run_ms",
    "data sent to Python workers": "bytes_sent",
}
_UNITS = {"B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
          "ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6}


def parse_metric(text: str) -> float:
    """A formatted SQL metric value: '742 ms', '8.4 KiB', or the
    'total (min, med, max ...)\\n5.3 s (...)' form."""
    fields = text.strip().split("\n")[-1].split()
    if len(fields) > 1 and fields[1] in _UNITS:
        return float(fields[0]) * _UNITS[fields[1]]
    return float(fields[0])


class StatusReader:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.cores = self.sc.defaultParallelism
        self.store = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.last_execution = self._newest_execution_id()

    def _newest_execution_id(self) -> int:
        n = self.sql.executionsCount()
        if n == 0:
            return -1
        return self.sql.executionsList(n - 1, 1).apply(0).executionId()

    def _new_executions(self) -> list:
        """SQL executions started since the previous read (the store
        lists them by ascending id); widens the window until it reaches
        the last id seen, so evictions cannot hide one."""
        n, k = self.sql.executionsCount(), 16
        while True:
            seq = self.sql.executionsList(max(0, n - k), k)
            execs = [seq.apply(i) for i in range(seq.size())]
            if not execs or k >= n or execs[0].executionId() <= self.last_execution:
                break
            k *= 2
        new = [e for e in execs if e.executionId() > self.last_execution]
        if new:
            self.last_execution = new[-1].executionId()
        return new

    def job_ids(self, groups: list[str]) -> list[int]:
        tracker = self.sc.statusTracker()
        return sorted({j for g in groups for j in tracker.getJobIdsForGroup(g)})

    def read(self, groups: list[str], wall_start: float, wall_end: float) -> dict:
        """Counters of one op whose jobs ran under ``groups`` between
        the epoch seconds ``wall_start`` and ``wall_end``."""
        out = {"jobs": 0, "tasks": 0, "job_ms": 0.0, "driver_gap_ms": 0.0,
               "executor_run_ms": 0.0, "core_util": 0.0, "input_bytes": 0.0,
               "shuffle_bytes": 0.0, **{v: 0.0 for v in PYTHON_METRICS.values()}}
        ids = self.job_ids(groups)
        intervals, stage_ids = [], set()
        for jid in ids:
            try:
                job = self.store.job(jid)
            except Py4JJavaError as e:
                raise RuntimeError(
                    f"job {jid} of groups {groups} is missing from the status "
                    "store; it was evicted before it could be read") from e
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined():
                end = done.get().getTime() if done.isDefined() else wall_end * 1e3
                intervals.append((sub.get().getTime() / 1e3, end / 1e3))
            out["tasks"] += job.numCompletedTasks()
            seq = job.stageIds()
            stage_ids.update(seq.apply(i) for i in range(seq.size()))
        for sid in stage_ids:
            stage = self.store.lastStageAttempt(sid)
            out["executor_run_ms"] += stage.executorRunTime()
            out["input_bytes"] += stage.inputBytes()
            out["shuffle_bytes"] += stage.shuffleWriteBytes()
        wall_ms = (wall_end - wall_start) * 1e3
        out["jobs"] = len(ids)
        out["job_ms"] = union_length(intervals, wall_start, wall_end) * 1e3
        out["driver_gap_ms"] = max(0.0, wall_ms - out["job_ms"])
        out["core_util"] = out["executor_run_ms"] / (wall_ms * self.cores) if wall_ms else 0.0
        wanted = set(ids)
        for e in self._new_executions():
            if not any(e.jobs().contains(j) for j in wanted):
                continue
            names = {}
            ms = e.metrics()
            for i in range(ms.size()):
                m = ms.apply(i)
                if m.name() in PYTHON_METRICS:
                    names[m.accumulatorId()] = PYTHON_METRICS[m.name()]
            if not names:
                continue
            # one py4j call for the whole map: entries print as "id -> value"
            for entry in self.sql.executionMetrics(e.executionId()).mkString("\x01").split("\x01"):
                acc, _, value = entry.partition(" -> ")
                if acc and int(acc) in names:
                    out[names[int(acc)]] += parse_metric(value)
        return out


def descendants(root: int) -> set[int]:
    """Live descendant pids of ``root`` (zombies excluded)."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if fields[0] != "Z":
                parent[int(d)] = int(fields[1])
    tree, frontier = set(), [root]
    while frontier:
        p = frontier.pop()
        for pid, pp in parent.items():
            if pp == p and pid not in tree:
                tree.add(pid)
                frontier.append(pid)
    return tree


def peak_rss_bytes(root: int) -> int:
    """Sum over ``root`` and its live descendants of each process's peak
    resident set (``VmHWM``, kept by the kernel, so no peak is missed
    between samples). Pages the forked Python workers share count once
    per worker."""
    total = 0
    for pid in descendants(root) | {root}:
        try:
            with open(f"/proc/{pid}/status") as f:
                total += next(int(line.split()[1]) for line in f
                              if line.startswith("VmHWM:")) * 1024
        except (OSError, StopIteration):
            continue
    return total
