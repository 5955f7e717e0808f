"""Measurement from outside the program: process-tree CPU and RSS read
from ``/proc``, in-memory spans with per-layer self time, and the
reduction of a Spark event log to stage-level counters."""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


# -- process tree -----------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its descendants: the
    Python driver, the JVM it launched and the JVM's Python workers."""
    root = root or os.getpid()
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_cpu_s() -> float:
    """User+sys seconds of the live tree, reaped children included."""
    total = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime stime cutime cstime are fields 14-17 (1-based)
        total += sum(int(x) for x in f[11:15])
    return total / _TICK


def tree_rss_mb() -> float:
    total = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1])
        except (OSError, IndexError):
            continue
    return total * _PAGE / 2**20


class RssSampler:
    """Background sampler of the tree's summed RSS; ``peak()`` returns
    the maximum since the last ``reset()``."""

    def __init__(self, interval: float = 0.2) -> None:
        self._interval = interval
        self._peak = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        while not self._stop.wait(self._interval):
            rss = tree_rss_mb()
            with self._lock:
                self._peak = max(self._peak, rss)

    def reset(self) -> None:
        with self._lock:
            self._peak = tree_rss_mb()

    def peak(self) -> float:
        rss = tree_rss_mb()
        with self._lock:
            self._peak = max(self._peak, rss)
            return self._peak


class Meter:
    """Wall time, tree CPU and peak tree RSS of one timed region."""

    def __init__(self, sampler: RssSampler) -> None:
        self._sampler = sampler

    def __enter__(self) -> Meter:
        self._sampler.reset()
        self._cpu0 = tree_cpu_s()
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.wall_s = time.perf_counter() - self._t0
        self.cpu_s = tree_cpu_s() - self._cpu0
        self.peak_mb = self._sampler.peak()


# -- spans --------------------------------------------------------------------


class Tracer:
    """Spans kept in memory (name, start, end, parent, run id); each
    span also tags the Spark jobs it starts via a local property, so
    the event log can be split by span."""

    def __init__(self, run_id: str, spark=None) -> None:
        self.run_id = run_id
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.t0 = time.monotonic()
        self.wall0 = time.time()

    @contextlib.contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(
            {
                "name": name,
                "start": time.monotonic() - self.t0,
                "end": None,
                "parent": parent,
                "run_id": self.run_id,
            }
        )
        self._stack.append(idx)
        self._tag(name)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.monotonic() - self.t0
            self._tag(self.spans[parent]["name"] if parent is not None else None)

    def _tag(self, name: str | None) -> None:
        if self.spark is not None:
            self.spark.sparkContext.setLocalProperty(
                "perfbench.span", self.tag(name) if name else None
            )

    def tag(self, name: str) -> str:
        """The job tag of this tracer's span ``name``."""
        return f"{self.run_id}|{name}"

    def seconds(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def self_times(self) -> dict[str, float]:
        """Self time per span name: duration minus the union of the
        intervals its direct children cover."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            covered = _union_length(
                [(c["start"], c["end"]) for c in kids.get(i, [])]
            )
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out


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


# -- Spark event log ----------------------------------------------------------

PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"


def read_event_log(log_dir: str) -> list[dict]:
    """All events under ``log_dir``: plain logs, or the rolling layout
    (``eventlog_v2_<app>/events_<n>_<app>`` parts beside an
    ``appstatus_`` marker)."""

    def _order(path: str) -> tuple:
        parts = os.path.basename(path).split("_")
        return (os.path.dirname(path), int(parts[1]) if parts[0] == "events" else 0)

    paths = [
        os.path.join(d, n)
        for d, _, names in os.walk(log_dir)
        for n in names
        if not n.startswith(("appstatus", "."))  # .crc checksums
    ]
    events: list[dict] = []
    for path in sorted(paths, key=_order):
        with open(path) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def reduce_event_log(
    events: list[dict], tracer: Tracer, window: tuple[float, float] | None
) -> dict:
    """Stage-level counters over the jobs started inside one of
    ``tracer``'s spans.

    Returns job/stage/task counts, summed task time, the max/median
    task-time skew of the longest stage, shuffle write and spill bytes,
    the wall time inside ``window`` (epoch seconds; none: 0) with no
    stage of those jobs running, Python UDF bytes per span name, and
    per-span-name counts of stages that scan input."""
    tags = {tracer.tag(s["name"]): s["name"] for s in tracer.spans}
    job_span: dict[int, str] = {}
    stage_span: dict[int, str] = {}
    stage_window: dict[int, tuple[float, float]] = {}
    stage_scan: dict[int, bool] = {}
    task_times: dict[int, list[float]] = {}
    out = {
        "jobs": 0, "stages": 0, "tasks": 0, "task_s": 0.0,
        "shuffle_write_bytes": 0, "spill_bytes": 0,
        "py_sent": {}, "py_returned": {}, "input_scans": {},
    }
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            span = tags.get((ev.get("Properties") or {}).get("perfbench.span"))
            if span is not None:
                job_span[ev["Job ID"]] = span
                for st in ev.get("Stage Infos", []):
                    stage_span[st["Stage ID"]] = span
                    stage_scan[st["Stage ID"]] = any(
                        '"name":"Scan' in (r.get("Scope") or "")
                        or r.get("Name") in ("FileScanRDD", "ParallelCollectionRDD")
                        for r in st.get("RDD Info", [])
                    )
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            sid = info["Stage ID"]
            if sid in stage_span and info.get("Completion Time"):
                stage_window[sid] = (
                    info["Submission Time"] / 1e3, info["Completion Time"] / 1e3
                )
        elif kind == "SparkListenerTaskEnd" and ev.get("Stage ID") in stage_span:
            sid = ev["Stage ID"]
            span = stage_span[sid]
            m = ev.get("Task Metrics") or {}
            run_s = m.get("Executor Run Time", 0) / 1e3
            task_times.setdefault(sid, []).append(run_s)
            out["tasks"] += 1
            out["task_s"] += run_s
            out["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            out["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                for key, label in (("py_sent", PY_SENT), ("py_returned", PY_RETURNED)):
                    if acc.get("Name") == label:
                        out[key][span] = out[key].get(span, 0) + int(acc.get("Update") or 0)
    out["jobs"] = len(job_span)
    out["stages"] = len(stage_window)
    for sid, ok in stage_scan.items():
        if ok and sid in stage_window:
            span = stage_span[sid]
            out["input_scans"][span] = out["input_scans"].get(span, 0) + 1
    longest = max(stage_window, key=lambda s: stage_window[s][1] - stage_window[s][0], default=None)
    times = task_times.get(longest, [])
    med = statistics.median(times) if times else 0.0
    out["task_skew"] = max(times) / med if med > 0 else 1.0
    out["driver_gap_s"] = 0.0
    if window is not None:
        lo, hi = window
        busy = [(max(a, lo), min(b, hi)) for a, b in stage_window.values() if b > lo and a < hi]
        out["driver_gap_s"] = (hi - lo) - _union_length(busy)
    return out
