"""Measurement helpers: spans, order statistics, the Spark event-log fold,
and process-tree / host sampling from /proc.

Everything here is pure Python over plain data (span lists, event-log
lines, /proc text), so it is unit-tested without a SparkSession
(perfbench/tests/test_helpers.py).
"""

from __future__ import annotations

import contextlib
import glob
import json
import math
import os
import threading
import time
from dataclasses import dataclass, field

# ----------------------------------------------------------------- spans


@dataclass
class Span:
    sid: int
    parent: int | None
    name: str
    start: float
    end: float = math.nan
    op: int | None = None  # op index the span belongs to (None = setup)


@dataclass
class Tracer:
    """In-memory span recorder. Spans nest by call order on one thread;
    a disabled tracer records nothing and costs one branch per span."""

    enabled: bool
    spans: list[Span] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)
    op: int | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1].sid if self._stack else None
        s = Span(len(self.spans), parent, name, time.perf_counter(), op=self.op)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def dump(self, path: str) -> None:
        self_t = self_times(self.spans)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({**s.__dict__, "self": self_t[s.sid]}) + "\n")


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of its interval that its
    direct children cover (children clipped to the parent, overlaps
    between children counted once)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_a, cur_b = 0.0, None, None
        for a, b in sorted(
            (max(c.start, s.start), min(c.end, s.end)) for c in kids.get(s.sid, [])
        ):
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        out[s.sid] = (s.end - s.start) - covered
    return out


# ------------------------------------------------------- order statistics


def median(xs: list[float]) -> float:
    ys = sorted(xs)
    n = len(ys)
    if not n:
        raise ValueError("median of no samples")
    return ys[n // 2] if n % 2 else 0.5 * (ys[n // 2 - 1] + ys[n // 2])


def tail(xs: list[float], beyond: int = 10) -> tuple[float, float]:
    """(value, percentile) of the highest percentile that still has at
    least ``beyond`` samples above it, but never below the 90th: with
    fewer than 100 samples that percentile sinks toward the median (p58 of
    24 samples) and stops describing slow ops, and a jump from a max-like
    to a median-like statistic as a run fits more ops read as a 3x
    change in ten seeds."""
    ys = sorted(xs)
    n = len(ys)
    if not n:
        raise ValueError("tail of no samples")
    k = max(n - beyond - 1, math.ceil(0.9 * n) - 1)
    return ys[k], 100.0 * (k + 1) / n


# ------------------------------------------------------- event-log fold

_STAGE_ACCUMS = {
    "internal.metrics.executorRunTime": ("executor_run_s", 1e-3),
    "internal.metrics.executorCpuTime": ("executor_cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.shuffle.read.remoteBytesRead": ("shuffle_read_bytes", 1),
    "internal.metrics.shuffle.read.localBytesRead": ("shuffle_read_bytes", 1),
    "internal.metrics.shuffle.read.fetchWaitTime": ("shuffle_fetch_wait_s", 1e-3),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_bytes", 1),
    "internal.metrics.diskBytesSpilled": ("spill_bytes", 1),
    "internal.metrics.input.bytesRead": ("input_bytes", 1),
    "internal.metrics.input.recordsRead": ("input_rows", 1),
    # SQL metrics of the Python-worker operators (ms timings, bytes)
    "data sent to Python workers": ("py_bytes_sent", 1),
    "time to run Python workers": ("py_worker_s", 1e-3),
    "time to start Python workers": ("py_worker_boot_s", 1e-3),
    "time to initialize Python workers": ("py_worker_boot_s", 1e-3),
}
_ROWS_IN = ("internal.metrics.shuffle.read.recordsRead", "internal.metrics.input.recordsRead")
FOLD_KEYS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "shuffle_fetch_wait_s",
    "spill_bytes", "input_bytes", "input_rows", "py_bytes_sent", "py_rows_sent",
    "py_worker_s", "py_worker_boot_s",
)


def event_log_files(log_dir: str) -> list[str]:
    """The parts of the rolling event log (``eventlog_v2_*/events_N_*``)
    under ``log_dir``."""
    return sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")))


def fold_event_log(lines, group_of=lambda g: g) -> dict[str, dict[str, float]]:
    """Fold event-log JSON lines into per-job-group totals.

    Jobs map to a group through their ``spark.jobGroup.id`` property
    (``group_of`` may coarsen it, e.g. to strip a phase suffix); stages map
    to jobs through ``Stage IDs``; each completed stage contributes its
    ``Accumulables`` — task metrics and the Python-worker SQL metrics.
    ``py_rows_sent`` counts the rows entering stages that ran Python
    workers (their shuffle and scan records read). Jobs without a group
    fold under ``""``."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}

    def row(g: str) -> dict[str, float]:
        return out.setdefault(g, dict.fromkeys(FOLD_KEYS, 0.0))

    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            g = group_of(props.get("spark.jobGroup.id") or "")
            row(g)["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = g
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            r = row(stage_group.get(info["Stage ID"], ""))
            r["stages"] += 1
            r["tasks"] += info.get("Number of Tasks", 0)
            accs = {a["Name"]: a.get("Value") for a in info.get("Accumulables", [])}
            for name, (key, scale) in _STAGE_ACCUMS.items():
                # task metrics arrive as ints, SQL metrics as decimal strings
                if accs.get(name) is not None:
                    r[key] += float(accs[name]) * scale
            if "data sent to Python workers" in accs:
                r["py_rows_sent"] += sum(float(accs.get(k) or 0) for k in _ROWS_IN)
    return out


# ------------------------------------------------- process tree and host


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_bytes(pid: int) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            pass
    return total


class RssPeak:
    """Background sampler of the process tree's summed RSS.

    ``peak`` is the 95th percentile of the samples, not their maximum: a
    Python worker forked for one task and reaped a moment later adds
    ~250 MB to a single sample, which made the maximum vary by 12% between
    otherwise identical runs."""

    def __init__(self, pid: int, period_s: float = 0.25):
        self.pid, self.period_s, self.samples = pid, period_s, []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.samples.append(tree_rss_bytes(self.pid))
            self._stop.wait(self.period_s)

    def __enter__(self) -> "RssPeak":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.samples.append(tree_rss_bytes(self.pid))

    @property
    def peak(self) -> int:
        ys = sorted(self.samples)
        return ys[min(len(ys) - 1, int(0.95 * len(ys)))]


def host_cpu_ticks() -> tuple[int, int, int]:
    """(busy, steal, total) jiffies summed over all CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    user, nice, system, idle, iowait, irq, softirq, steal = (vals + [0] * 8)[:8]
    busy = user + nice + system + irq + softirq
    return busy, steal, busy + idle + iowait + steal


def wait_gone(pids: list[int], timeout_s: float) -> list[int]:
    """Poll until every pid has exited; return those still alive."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if _alive(p)]
        if alive:
            time.sleep(0.1)
    return alive


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False
