"""Measurement helpers: spans, the tail-percentile rule, the /proc memory
reader, job attribution and the Spark event-log reader.

Spans and job attribution live on the benchmark side only: the package
is called as a user would call it, and every number about its jobs is
read back afterwards from the event log Spark writes when the benchmark
turns it on.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import re
import statistics
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

MODULE_PROP = "perfbench.module"


# ---------------------------------------------------------------- statistics


def tail(samples: list[float]) -> tuple[float, float, int] | None:
    """The highest percentile that has at least ten samples beyond it:
    (value, percentile, samples beyond). With n sorted samples the value
    at index n-11 has exactly ten larger-indexed samples, and it is the
    (n-10)/n quantile. None when fewer than eleven samples exist."""
    n = len(samples)
    if n < 11:
        return None
    xs = sorted(samples)
    return xs[n - 11], 100.0 * (n - 10) / n, 10


def median(samples: list[float]) -> float:
    return float(statistics.median(samples))


# ---------------------------------------------------------------- memory


def vm_hwm_kb(pid: int | str = "self") -> int:
    """Peak resident set size (VmHWM) of a process, in KiB, from
    /proc/<pid>/status."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise ValueError(f"no VmHWM line in /proc/{pid}/status")


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs so far, from /proc/stat; the
    difference over a window gives the share of it the host took."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def process_start_epoch(pid: int | str = "self") -> float:
    """Wall-clock time a process started, from its start tick in
    /proc/<pid>/stat and the boot time in /proc/stat."""
    with open(f"/proc/{pid}/stat") as f:
        # the command name may hold spaces; fields resume after ')'
        fields = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------- spans


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


def _union_length(intervals: list[tuple[float, float]]) -> float:
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


def covered(window: tuple[float, float], intervals: list[tuple[float, float]]) -> float:
    """Length of ``window`` covered by the union of ``intervals``."""
    ws, we = window
    clipped = [(max(s, ws), min(e, we)) for s, e in intervals if e > ws and s < we]
    return _union_length(clipped)


@contextmanager
def patched(module, wrappers: dict):
    """Within the block, ``module.<attr>`` is replaced by
    ``wrappers[attr](original)``. Calls the module makes through its own
    globals go through the replacements too, so the program's real
    composition runs, not a copy of it."""
    saved = {attr: getattr(module, attr) for attr in wrappers}
    for attr, wrap in wrappers.items():
        setattr(module, attr, wrap(saved[attr]))
    try:
        yield
    finally:
        for attr, fn in saved.items():
            setattr(module, attr, fn)


@dataclass
class Tracer:
    """Spans kept in memory. Each span sets the Spark job group to its
    id, so jobs it launches can be attributed from the event log. A
    tracer built with ``enabled=False`` records nothing."""

    enabled: bool = False
    sc: object = None
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent, time.time())
        self.spans.append(sp)
        self._stack.append(sp.id)
        if self.sc is not None:
            self.sc.setJobGroup(str(sp.id), name)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if self.sc is not None:
                if self._stack:
                    outer = self.spans[self._stack[-1]]
                    self.sc.setJobGroup(str(outer.id), outer.name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    def wrap(self, name: str, fn):
        """``fn`` run inside a span called ``name``."""

        if not self.enabled:
            return fn

        @functools.wraps(fn)
        def inner(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return inner

    def wrapped(self, module, spans: dict[str, str]):
        """Within the block, each function ``module.<attr>`` named in
        ``spans`` runs inside the span it maps to."""
        return patched(module, {attr: functools.partial(self.wrap, name) for attr, name in spans.items()})

    def self_time(self, span: Span) -> float:
        """Duration minus the part of it that child spans cover."""
        kids = [(c.start, c.end) for c in self.spans if c.parent == span.id]
        return span.duration - covered((span.start, span.end), kids)

    def descendants(self, span_id: int) -> set[int]:
        out, frontier = {span_id}, [span_id]
        while frontier:
            p = frontier.pop()
            for c in self.spans:
                if c.parent == p and c.id not in out:
                    out.add(c.id)
                    frontier.append(c.id)
        return out


# ---------------------------------------------------------------- attribution


def caller_module(package_dir: str, bench_dir: str) -> str:
    """Dotted name of the innermost package module on the Python stack
    (``operators.clustering``), ``perfbench`` when the benchmark itself
    issued the call, else ``other``."""
    f = sys._getframe(1)
    in_bench = False
    while f is not None:
        path = f.f_code.co_filename
        if path.startswith(package_dir):
            rel = os.path.relpath(path, package_dir)
            return os.path.splitext(rel)[0].replace(os.sep, ".")
        if path.startswith(bench_dir):
            in_bench = True
        f = f.f_back
    return "perfbench" if in_bench else "other"


_ACTIONS = {
    "pyspark.sql.classic.dataframe:DataFrame": [
        "collect", "count", "first", "head", "take", "toPandas", "toArrow",
        "isEmpty", "foreach", "foreachPartition", "toLocalIterator",
        "localCheckpoint", "checkpoint",
    ],
    "pyspark.sql.readwriter:DataFrameWriter": [
        "save", "parquet", "text", "json", "csv", "saveAsTable", "insertInto",
    ],
    "pyspark.sql.streaming.readwriter:DataStreamWriter": ["start"],
    "pyspark.core.rdd:RDD": ["collect", "count", "take", "first", "isEmpty"],
}


def install_attribution(sc, package_dir: str, bench_dir: str) -> None:
    """Tag every job an action launches with the package module that
    called the action (local property ``perfbench.module``). Wraps the
    pyspark action methods in this process only; the outermost action
    wins when one action calls another."""
    import importlib

    def wrap(orig):
        @functools.wraps(orig)
        def inner(*args, **kwargs):
            if sc.getLocalProperty(MODULE_PROP) is not None:
                return orig(*args, **kwargs)
            sc.setLocalProperty(MODULE_PROP, caller_module(package_dir, bench_dir))
            try:
                return orig(*args, **kwargs)
            finally:
                sc.setLocalProperty(MODULE_PROP, None)

        return inner

    for target, names in _ACTIONS.items():
        mod, cls_name = target.split(":")
        cls = getattr(importlib.import_module(mod), cls_name)
        for name in names:
            if name in cls.__dict__:
                setattr(cls, name, wrap(cls.__dict__[name]))


# ---------------------------------------------------------------- event log


@dataclass
class Job:
    id: int
    start: float
    end: float = 0.0
    group: str | None = None
    module: str = "other"
    stages: list[int] = field(default_factory=list)
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    python_s: float = 0.0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0
    input_bytes: int = 0
    output_bytes: int = 0
    scan_run_s: float = 0.0  # run time of tasks that read input files
    sink_run_s: float = 0.0  # run time of tasks that wrote output files

    @property
    def duration(self) -> float:
        return self.end - self.start


@dataclass
class Scan:
    location: str  # the file index the scan node lists, with its paths
    files_acc: int | None  # accumulator ids of its driver-side metrics
    bytes_acc: int | None


@dataclass
class SqlExecution:
    id: int
    start: float
    end: float = 0.0
    writes: list[str] = field(default_factory=list)  # paths of file writes
    scans: dict[str, Scan] = field(default_factory=dict)  # by accumulator id key

    @property
    def duration(self) -> float:
        return self.end - self.start


@dataclass
class EventLog:
    jobs: list[Job]
    executions: list[SqlExecution]
    accumulators: dict[int, int]  # final value of each driver-side SQL metric

    def scanned(self, ex: SqlExecution, path: str) -> tuple[int, int]:
        """(files, bytes) an execution's scans read from data files under
        ``path`` (its ``_meta`` sidecars excluded)."""
        files = size = 0
        for sc in ex.scans.values():
            if path in sc.location and "_meta" not in sc.location:
                files += self.accumulators.get(sc.files_acc, 0)
                size += self.accumulators.get(sc.bytes_acc, 0)
        return files, size


# the SQL metric that holds time spent running Python workers (ms)
_PYTHON_TIME_METRIC = "time to run python workers"
_WRITE = re.compile(r"InsertIntoHadoopFsRelationCommand (\S+?),")


def _add_scans(ex: SqlExecution, plan: dict) -> None:
    stack = [plan]
    while stack:
        node = stack.pop()
        stack.extend(node.get("children", []))
        if not node.get("nodeName", "").startswith("Scan"):
            continue
        acc = {m["name"]: m["accumulatorId"] for m in node.get("metrics", [])}
        scan = Scan(
            node.get("metadata", {}).get("Location", ""),
            acc.get("number of files read"),
            acc.get("size of files read"),
        )
        ex.scans[str(scan.files_acc)] = scan


def read_event_log(log_dir: str) -> EventLog:
    """Jobs with their task metrics summed, and SQL executions with the
    files they wrote and scanned, from the event log files Spark wrote
    under ``log_dir``."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    executions: dict[int, SqlExecution] = {}
    accumulators: dict[int, int] = {}
    paths = glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
    for path in sorted(p for p in paths if os.path.isfile(p)):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    job = Job(
                        ev["Job ID"],
                        ev["Submission Time"] / 1000.0,
                        group=props.get("spark.jobGroup.id"),
                        module=props.get(MODULE_PROP, "other"),
                        stages=list(ev.get("Stage IDs", [])),
                    )
                    jobs[job.id] = job
                    for s in job.stages:
                        stage_job.setdefault(s, job.id)
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    ex = SqlExecution(ev["executionId"], ev["time"] / 1000.0)
                    ex.writes = _WRITE.findall(ev.get("physicalPlanDescription", ""))
                    _add_scans(ex, ev.get("sparkPlanInfo", {}))
                    executions[ex.id] = ex
                elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                    if ev["executionId"] in executions:
                        _add_scans(executions[ev["executionId"]], ev.get("sparkPlanInfo", {}))
                elif kind.endswith("SparkListenerSQLExecutionEnd"):
                    if ev["executionId"] in executions:
                        executions[ev["executionId"]].end = ev["time"] / 1000.0
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    for acc_id, value in ev.get("accumUpdates", []):
                        accumulators[acc_id] = value
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev["Stage ID"], -1))
                    m = ev.get("Task Metrics")
                    if job is None or not m:
                        continue
                    run_s = m.get("Executor Run Time", 0) / 1000.0
                    job.tasks += 1
                    job.run_s += run_s
                    job.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    job.gc_s += m.get("JVM GC Time", 0) / 1000.0
                    sr = m.get("Shuffle Read Metrics", {})
                    job.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    job.shuffle_write += m.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    job.spill += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    read = m.get("Input Metrics", {}).get("Bytes Read", 0)
                    written = m.get("Output Metrics", {}).get("Bytes Written", 0)
                    job.input_bytes += read
                    job.output_bytes += written
                    job.scan_run_s += run_s if read else 0.0
                    job.sink_run_s += run_s if written else 0.0
                    for acc in ev.get("Task Info", {}).get("Accumulables", []):
                        if str(acc.get("Name", "")).lower() == _PYTHON_TIME_METRIC:
                            job.python_s += float(acc.get("Update", 0)) / 1000.0
    for item in [*jobs.values(), *executions.values()]:
        if not item.end:
            item.end = item.start
    return EventLog(
        sorted(jobs.values(), key=lambda j: j.id),
        sorted(executions.values(), key=lambda e: e.id),
        accumulators,
    )
