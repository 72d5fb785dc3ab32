"""Per-layer tracing for the benchmark.

A span wraps one call from the benchmark into an engine module. While a
span is open its name is the Spark job group, so every job the call
starts can be read back from the event log and summed per group. Each
span also records its wall time and the CPU time of the Python workers
(read from /proc; the event log's "Executor CPU Time" counts only JVM
threads, so the mapInArrow extractor's work is invisible there).

Spans are kept in memory and joined with the event log after the
session stops, when Spark has flushed the log.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _proc_stat(pid: int) -> tuple[int, float] | None:
    """(ppid, utime+stime+cutime+cstime seconds) of one process."""
    try:
        raw = Path(f"/proc/{pid}/stat").read_text()
    except OSError:
        return None
    # fields after the parenthesised command name, which may hold spaces
    rest = raw[raw.rindex(")") + 2:].split()
    ppid = int(rest[1])
    ticks = sum(int(x) for x in rest[11:15])
    return ppid, ticks / _CLK_TCK


def descendant_cpu_s(root_pid: int) -> float:
    """CPU seconds used by every descendant of ``root_pid`` (not the
    process itself). Exited workers reaped by the PySpark daemon are
    included through the daemon's cutime/cstime."""
    stats = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _proc_stat(int(entry))
            if st is not None:
                stats[int(entry)] = st
    children = defaultdict(list)
    for pid, (ppid, _) in stats.items():
        children[ppid].append(pid)
    total, todo = 0.0, list(children[root_pid])
    while todo:
        pid = todo.pop()
        total += stats[pid][1]
        todo.extend(children[pid])
    return total


def tree_cpu_s(pid: int) -> float:
    """CPU seconds of a process and all its descendants."""
    return _proc_stat(pid)[1] + descendant_cpu_s(pid)


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size (VmHWM) of a process, in MB."""
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Tracer:
    """Spans around layer calls. Disabled, ``span`` only yields."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.jvm_pid = spark._jvm.ProcessHandle.current().pid()
        self.spans: list[dict] = []
        self._stack: list[str] = []

    def tree_cpu_s(self) -> float:
        """CPU seconds of this process, the JVM and its Python workers."""
        return tree_cpu_s(os.getpid())

    def _set_group(self, name: str | None) -> None:
        sc = self.spark.sparkContext
        if name is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(name, name)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield {}
            return
        rec = {"name": name, "t0": time.time()}
        py0 = descendant_cpu_s(self.jvm_pid)
        self._stack.append(name)
        self._set_group(name)
        try:
            yield rec
        finally:
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)
            rec["t1"] = time.time()
            rec["py_cpu_s"] = descendant_cpu_s(self.jvm_pid) - py0
            self.spans.append(rec)


def _read_events(log_dir: Path):
    for path in sorted(p for p in log_dir.rglob("*") if p.is_file()):
        with open(path, encoding="utf-8", errors="replace") as fh:
            for line in fh:
                line = line.strip()
                if line.startswith("{"):
                    yield json.loads(line)


def group_metrics(log_dir: Path) -> dict[str, dict]:
    """Task metrics summed per job group, plus each group's job
    intervals (epoch seconds), from an uncompressed Spark event log."""
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    intervals: dict[str, list] = defaultdict(list)
    for ev in _read_events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") \
                or "(none)"
            jid = ev["Job ID"]
            job_group[jid] = group
            job_start[jid] = ev.get("Submission Time", 0) / 1000.0
            out[group]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = group
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_group:
                intervals[job_group[jid]].append(
                    (job_start[jid], ev.get("Completion Time", 0) / 1000.0))
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev.get("Stage ID"), "(none)")
            m = ev.get("Task Metrics") or {}
            g = out[group]
            g["tasks"] += 1
            g["jvm_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            g["run_s"] += m.get("Executor Run Time", 0) / 1e3
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            g["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                        + sr.get("Local Bytes Read", 0))
            g["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            g["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                 + m.get("Disk Bytes Spilled", 0))
            g["input_bytes"] += (m.get("Input Metrics") or {}) \
                .get("Bytes Read", 0)
            g["output_records"] += (m.get("Output Metrics") or {}) \
                .get("Records Written", 0)
    result = {k: dict(v) for k, v in out.items()}
    for k, iv in intervals.items():
        result.setdefault(k, {})["intervals"] = iv
    return result


def _covered(intervals: list, t0: float, t1: float) -> float:
    """Length of [t0, t1] covered by the union of the intervals."""
    clipped = sorted((max(a, t0), min(b, t1)) for a, b in intervals
                     if b > t0 and a < t1)
    total, end = 0.0, t0
    for a, b in clipped:
        if b > end:
            total += b - max(a, end)
            end = b
    return total


class Trace:
    """Spans joined with the event log: per-name totals."""

    def __init__(self, spans: list[dict], groups: dict[str, dict]):
        self.spans = spans
        self.groups = groups

    def stat(self, *names: str) -> dict:
        """Totals over every span whose name is in ``names``:
        wall_s, driver_s (span time with no Spark job running), py_cpu_s
        and the summed task metrics of their job groups."""
        spans = [s for s in self.spans if s["name"] in names]
        # a span that never opened (its call raised first) reads 0
        out = defaultdict(float, wall_s=0.0, py_cpu_s=0.0, driver_s=0.0)
        for name in set(names):
            for k, v in self.groups.get(name, {}).items():
                if k != "intervals":
                    out[k] += v
        ivs = [iv for name in set(names)
               for iv in self.groups.get(name, {}).get("intervals", [])]
        for s in spans:
            wall = s["t1"] - s["t0"]
            out["wall_s"] += wall
            out["py_cpu_s"] += s["py_cpu_s"]
            out["driver_s"] += wall - _covered(ivs, s["t0"], s["t1"])
        out["calls"] = len(spans)
        return dict(out)
