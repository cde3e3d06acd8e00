"""Run loop, tracing and measurement shared by the benchmark workloads.

One closed-loop client: a workload *pass* is a fixed sequence of calls into
the engine's public API, run again and again until the run's time is up.
Each call the client waits on is an *operation* (``Run.op``); lazy calls
that only build a plan are recorded as spans but not as operations
(``Run.call``).

Tracing (``--trace 1``) is a separate mode: every call gets a span named by
the engine layer it enters, Spark jobs launched inside it are attributed
through ``setJobGroup``, and each layer's output is forced at its boundary
(``Run.force``) so its work is charged to it instead of to a later action.
Task-level metrics come from Spark's event log, enabled only in that mode.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

LAYERS = (
    "session",
    "sources.readers",
    "sources.sinks",
    "functions",
    "operators.profile",
    "operators.integrate",
    "operators.dedup",
    "operators.similarity",
    "operators.merge",
    "multimodal",
    "streaming",
    "plans",
)
# per-span fields reported for every layer (the span's own counts plus the
# Spark task metrics of the jobs it launched)
SPAN_FIELDS = ("busy_s", "rows_in", "rows_out")
TASK_FIELDS = (
    "tasks",
    "wait_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_write_bytes",
    "spill_bytes",
)


class WrongResult(Exception):
    """An operation completed but its output disagrees with the oracle."""


# --- statistics --------------------------------------------------------------


def tail(values: list[float]) -> tuple[float, int, int]:
    """The highest percentile with at least 10 samples beyond it.

    Returns ``(value, percentile, n)``. With ``n`` samples the tail sample
    is the ``n - 10``-th smallest, which has exactly 10 samples above it;
    its percentile is ``floor(100 * (n - 10) / n)``. With 10 or fewer
    samples no percentile qualifies and the maximum is returned with
    percentile 100."""
    s = sorted(values)
    n = len(s)
    if n <= 10:
        return s[-1], 100, n
    k = n - 10
    return s[k - 1], (100 * k) // n, n


# --- spans -------------------------------------------------------------------


@dataclass
class Span:
    layer: str
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    group: str = ""
    rows_in: int = 0
    rows_out: int = 0
    failed: int = 0


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its child spans cover."""
    children: dict[int, list[Span]] = {}
    for sp in spans:
        if sp.parent is not None:
            children.setdefault(sp.parent, []).append(sp)
    out = []
    for i, sp in enumerate(spans):
        covered = 0.0
        reach = sp.start
        for c in sorted(children.get(i, []), key=lambda c: c.start):
            lo, hi = max(c.start, reach, sp.start), min(c.end, sp.end)
            if hi > lo:
                covered += hi - lo
                reach = hi
        out.append((sp.end - sp.start) - covered)
    return out


class Tracer:
    """Keeps spans in memory; tags the Spark jobs each span launches."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.group_alias: dict[str, str] = {}

    @property
    def enabled(self) -> bool:
        return self.sc is not None

    def _set_group(self, group: str | None) -> None:
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(group, group)

    @contextmanager
    def span(self, layer: str, name: str, rows_in: int = 0):
        if layer not in LAYERS:
            raise ValueError(f"unknown layer {layer}")
        if not self.enabled:
            yield None
            return
        idx = len(self.spans)
        sp = Span(layer, name, time.perf_counter(), parent=self._stack[-1] if self._stack else None,
                  group=f"span-{idx}", rows_in=rows_in)
        self.spans.append(sp)
        self._stack.append(idx)
        self._set_group(sp.group)
        try:
            yield sp
        except BaseException:
            sp.failed = 1
            raise
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._set_group(self.current().group if self._stack else None)

    def current(self) -> Span:
        return self.spans[self._stack[-1]]

    def alias_current(self, group: str) -> None:
        """Charge jobs tagged ``group`` (a streaming query's run id, which
        Spark sets as the job group of its own thread) to the open span."""
        if self.enabled and self._stack:
            self.group_alias[group] = self.current().group

    def layer_totals(self, task_metrics: dict[str, dict]) -> dict[str, dict]:
        """Per-layer sums of self time, row counts and task metrics."""
        totals = {
            layer: dict.fromkeys((*SPAN_FIELDS, *TASK_FIELDS, "failed"), 0.0)
            for layer in LAYERS
        }
        by_group = {sp.group: sp for sp in self.spans}
        for sp, busy in zip(self.spans, self_times(self.spans)):
            t = totals[sp.layer]
            t["busy_s"] += busy
            t["rows_in"] += sp.rows_in
            t["rows_out"] += sp.rows_out
            t["failed"] += sp.failed
        for group, m in task_metrics.items():
            sp = by_group.get(self.group_alias.get(group, group))
            if sp is None:
                continue
            for k in TASK_FIELDS:
                totals[sp.layer][k] += m[k]
        return totals

    def dump(self, path: Path) -> None:
        path.write_text(json.dumps([sp.__dict__ for sp in self.spans]))


def read_event_log(path: Path) -> tuple[dict[str, dict], dict[str, int], int]:
    """Task metrics per job group from a Spark event log.

    Returns ``(metrics_by_group, jobs_by_group, task_retries)``; ``wait_s``
    is each task's launch time minus its stage's submission time."""
    stage_group: dict[int, str | None] = {}
    submitted: dict[tuple[int, int], float] = {}
    metrics: dict[str, dict] = {}
    jobs: dict[str, int] = {}
    retries = 0
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if g:
                    jobs[g] = jobs.get(g, 0) + 1
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                stage_group[info["Stage ID"]] = (ev.get("Properties") or {}).get(
                    "spark.jobGroup.id"
                )
                submitted[(info["Stage ID"], info["Stage Attempt ID"])] = info.get(
                    "Submission Time", 0
                )
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(ev["Stage ID"])
                ti = ev["Task Info"]
                if ti.get("Attempt", 0) > 0 or ti.get("Failed"):
                    retries += 1
                if g is None:
                    continue
                tm = ev.get("Task Metrics") or {}
                sw = tm.get("Shuffle Write Metrics") or {}
                m = metrics.setdefault(g, dict.fromkeys(TASK_FIELDS, 0.0))
                m["tasks"] += 1
                sub = submitted.get((ev["Stage ID"], ev["Stage Attempt ID"]), ti["Launch Time"])
                m["wait_s"] += max(0, ti["Launch Time"] - sub) / 1000
                m["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                m["gc_s"] += tm.get("JVM GC Time", 0) / 1000
                m["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                m["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                    "Disk Bytes Spilled", 0
                )
    return metrics, jobs, retries


# --- memory ------------------------------------------------------------------


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:  # the process ended while being read
        pass
    return out


def _tree_pss_kb(root: int) -> int:
    """Summed proportional set size of the driver JVM (the children of
    ``root``) and the Python workers below it; proportional, so pages the
    forked workers share with their daemon are counted once. Other
    processes the JVM starts (``readlink`` and the like) are skipped: read
    between their fork and exec they would count the JVM's pages twice."""
    python = os.path.realpath(sys.executable)
    total, frontier = 0, [(pid, True) for pid in _children(root)]
    while frontier:
        pid, is_driver = frontier.pop()
        try:
            if not is_driver and os.path.realpath(f"/proc/{pid}/exe") != python:
                continue
            with open(f"/proc/{pid}/smaps_rollup") as f:
                total += next(int(line.split()[1]) for line in f if line.startswith("Pss:"))
        except (OSError, StopIteration):
            continue
        frontier.extend((child, False) for child in _children(pid))
    return total


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, reaped children included) used so far by
    ``root`` and every process below it. Time the hypervisor steals from
    this machine is not in it."""
    ticks, frontier = 0, [root]
    while frontier:
        pid = frontier.pop()
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        frontier.extend(_children(pid))
    return ticks / os.sysconf("SC_CLK_TCK")


def become_subreaper() -> None:
    """Make processes orphaned below this one (Python workers whose JVM
    has ended) this process's children, so ``stop_processes`` can reap
    them instead of leaving them to init."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _reap(deadline: float) -> bool:
    """Reap ended children until none is left (True) or ``deadline``."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return True
        if pid == 0:
            if time.monotonic() > deadline:
                return False
            time.sleep(0.05)


def stop_processes(grace_s: float = 30.0) -> None:
    """Stop the Spark driver JVM this process launched and every process
    below this one, and wait until each has ended and been reaped.

    The JVM exits when its standard input closes; whatever is still
    running after ``grace_s`` is sent SIGTERM, then SIGKILL."""
    import signal

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
        try:
            gateway.shutdown()
        except Exception:  # the JVM may already be gone
            pass
        proc = getattr(gateway, "proc", None)
        if proc is not None and proc.stdin is not None:
            proc.stdin.close()
        SparkContext._gateway = SparkContext._jvm = None
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            for pid in _descendants(os.getpid()):
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        if _reap(time.monotonic() + (grace_s if sig is None else 5.0)):
            return


def _descendants(root: int) -> list[int]:
    out, frontier = [], _children(root)
    while frontier:
        pid = frontier.pop()
        if _alive(pid):
            out.append(pid)
        frontier.extend(_children(pid))
    return out


class PeakRss:
    """Samples the resident memory of the driver JVM and the Python workers
    (every process below this one) from a background thread; ``cpu_s``
    is that thread's own CPU time, to be left out of the program's."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def cpu_s(self) -> float:
        tid = self._thread.native_id
        if tid is None:
            return 0.0
        try:
            with open(f"/proc/self/task/{tid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the thread has ended: its time stays in the process
            return 0.0
        return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")  # utime stime

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.wait(self.interval):
            self.peak_kb = max(self.peak_kb, _tree_pss_kb(me))

    def __enter__(self):
        self.peak_kb = _tree_pss_kb(os.getpid())
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


# --- the client ----------------------------------------------------------------


@dataclass
class Run:
    """One closed-loop client's record of a pass sequence."""

    spark: object
    tracer: Tracer
    op_times: list[float] = field(default_factory=list)
    op_names: list[str] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0

    def call(self, layer: str, name: str, fn, rows_in: int = 0):
        """A call that only builds a plan: a span, not an operation."""
        with self.tracer.span(layer, name, rows_in):
            return fn()

    def op(self, layer: str, name: str, fn, rows_in: int = 0):
        """A call the client waits on: timed as one operation."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.span(layer, name, rows_in) as sp:
                out = fn()
                if sp is not None and hasattr(out, "num_rows"):  # an Arrow result
                    sp.rows_out += out.num_rows
        except Exception:
            self.failed += 1
            raise
        self.op_times.append(time.perf_counter() - t0)
        self.op_names.append(name)
        return out

    def force(self, df):
        """Traced mode only: run ``df`` to completion inside the current
        span and record its row count there."""
        if self.tracer.enabled:
            self.tracer.current().rows_out += df.count()
        return df

    def wrong(self, what: str) -> None:
        """Count a wrong result against the operations attempted."""
        self.failed += 1
        raise WrongResult(what)
