"""Spans, Spark event-log counters and process memory for the benchmark.

Spans are recorded by the benchmark around its own calls into engine
layers; nothing inside the engine is instrumented. Each span tags the Spark
jobs it starts with ``setJobGroup(<span id>)`` so the event log attributes
tasks, shuffle bytes, spill and executor CPU time to the innermost open
span.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder. Disabled, ``span`` only yields."""

    def __init__(self, spark=None, enabled: bool = False):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._op: str | None = None

    @contextmanager
    def op(self, op_id: str, name: str):
        """Root span of one benchmark operation."""
        self._op = op_id
        try:
            with self.span(name):
                yield
        finally:
            self._op = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": f"s{len(self.spans)}",
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": self._op,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1]["id"] if self._stack else None)

    def _set_group(self, span_id: str | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if span_id is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(span_id, span_id)


def self_times(spans: list[dict]) -> dict[str, float]:
    """span id -> its duration minus the part its children cover."""
    kids: dict[str, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
            lo, hi = max(c["start"], s["start"]), min(c["end"], s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def op_breakdown(spans: list[dict]) -> list[dict]:
    """Per operation: wall time, self time of every layer span under it, and
    the remainder (the root span's own self time, which no layer covers)."""
    st = self_times(spans)
    ops: dict[str, dict] = {}
    for s in spans:
        if s["op"] is None:
            continue
        rec = ops.setdefault(s["op"], {"op": s["op"], "layers": {}})
        if s["parent"] is None:
            rec["name"] = s["name"]
            rec["wall_s"] = s["end"] - s["start"]
            rec["remainder_s"] = st[s["id"]]
        else:
            rec["layers"][s["name"]] = rec["layers"].get(s["name"], 0.0) + st[s["id"]]
    for rec in ops.values():
        rec["sum_s"] = sum(rec["layers"].values()) + rec["remainder_s"]
    return list(ops.values())


_TASK_KEYS = {
    "tasks": None,
    "executor_cpu_ns": "Executor CPU Time",
    "executor_run_ms": "Executor Run Time",
    "shuffle_write_bytes": ("Shuffle Write Metrics", "Shuffle Bytes Written"),
    "memory_spill_bytes": "Memory Bytes Spilled",
    "disk_spill_bytes": "Disk Bytes Spilled",
}


def event_log_counters(log_dir: str) -> dict[str, dict]:
    """Job-group id -> summed task counters, read from Spark's event log
    under ``log_dir`` (complete once the session stops)."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}
    # a rolling log (Spark's default) is a directory of events_<n>_<app>
    # files, read in <n> order so a job's start precedes its tasks
    def order(path):
        name = os.path.basename(path)
        n = name.split("_")[1] if name.startswith("events_") else "0"
        return os.path.dirname(path), int(n) if n.isdigit() else 0

    paths = sorted(
        (
            os.path.join(d, n)
            for d, _dirs, names in os.walk(log_dir)
            for n in names
            if not n.startswith((".", "appstatus"))
        ),
        key=order,
    )
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        for sid in ev.get("Stage IDs", []):
                            stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    if group is None:
                        continue
                    m = ev.get("Task Metrics") or {}
                    c = out.setdefault(group, {k: 0 for k in _TASK_KEYS})
                    c["tasks"] += 1
                    for key, src in _TASK_KEYS.items():
                        if src is None:
                            continue
                        if isinstance(src, tuple):
                            v = (m.get(src[0]) or {}).get(src[1], 0)
                        else:
                            v = m.get(src, 0)
                        c[key] += int(v or 0)
    for c in out.values():
        c["spill_bytes"] = c["memory_spill_bytes"] + c["disk_spill_bytes"]
    return out


def _proc_table() -> dict[int, tuple[int, str, int]]:
    """pid -> (parent pid, command name, RSS in kB) for every process."""
    page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
            with open(f"/proc/{name}/statm") as f:
                rss_pages = int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while being read
        comm_end = stat.rindex(")")
        comm = stat[stat.index("(") + 1 : comm_end]
        ppid = int(stat[comm_end + 2 :].split()[1])
        out[int(name)] = (ppid, comm, rss_pages * page_kb)
    return out


def descendants_rss_kb(root: int) -> dict[str, int]:
    """Summed RSS per command name over every descendant of ``root``: the
    Spark driver JVM and the Python workers it forks."""
    table = _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _comm, _rss) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out: dict[str, int] = {}
    todo = list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        _ppid, comm, rss = table[pid]
        out[comm] = out.get(comm, 0) + rss
        todo.extend(kids.get(pid, []))
    return out


class PeakRss:
    """Samples the descendants' summed RSS every ``interval`` seconds on a
    daemon thread; ``peak_mb`` is the largest sample and ``peak_by_command``
    its split by command name."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_kb = 0
        self.peak_by_command: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            by_cmd = descendants_rss_kb(me)
            total = sum(by_cmd.values())
            if total > self.peak_kb:
                self.peak_kb, self.peak_by_command = total, by_cmd
            self._stop.wait(self.interval)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
