"""Measurements taken from outside the program under test.

- ``/proc``: CPU and peak resident memory of this process tree (driver,
  JVM, Python workers), with the CPU split by process kind and the JVM's
  JIT compiler threads counted apart.
- Spark's event log: task metrics of the jobs that ran inside given
  wall-clock windows.
- Spark's planning tracker: analysis/optimization/planning time of a
  DataFrame's query.
- ``Tracer``: named spans with parents, kept in memory and written once.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

CLK = os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict[int, tuple[int, str, int]]:
    """pid -> (ppid, comm, utime+stime+cutime+cstime jiffies)."""
    table = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                raw = fh.read()
        except OSError:  # exited between listdir and open
            continue
        head, rest = raw.rsplit(")", 1)
        f = rest.split()
        table[int(d)] = (int(f[1]), head.split("(", 1)[1], sum(int(f[i]) for i in (11, 12, 13, 14)))
    return table


def tree() -> dict[int, tuple[str, int]]:
    """pid -> (comm, jiffies) for this process and all its descendants."""
    table = _proc_table()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, stack = {}, [os.getpid()]
    while stack:
        pid = stack.pop()
        if pid in table:
            out[pid] = table[pid][1:]
        stack.extend(children.get(pid, ()))
    return out


def cpu_split_s() -> dict[str, float]:
    """CPU seconds so far of the tree, by kind: the JVM, Python
    processes (driver and workers), everything else."""
    split = {"jvm": 0, "python": 0, "other": 0}
    for comm, jiffies in tree().values():
        kind = "jvm" if comm == "java" else "python" if comm.startswith("python") else "other"
        split[kind] += jiffies
    return {k: v / CLK for k, v in split.items()}


def jit_s() -> float:
    """CPU seconds so far of the JVM's JIT compiler threads (tasks named
    "C1/C2 CompilerThread") in the tree."""
    jiffies = 0
    for pid, (comm, _) in tree().items():
        if comm != "java":
            continue
        for tid in os.listdir(f"/proc/{pid}/task"):
            try:
                with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                    raw = fh.read()
            except OSError:
                continue
            head, rest = raw.rsplit(")", 1)
            if "CompilerThre" in head:
                f = rest.split()
                jiffies += int(f[11]) + int(f[12])
    return jiffies / CLK


def host_calib_ms() -> float:
    """Wall time of a fixed pure-Python loop: the host's effective CPU
    speed at the start of a run, recorded next to the run's numbers."""
    t = time.perf_counter()
    sum(i * i for i in range(1_000_000))
    return (time.perf_counter() - t) * 1e3


def reset_peak_rss() -> None:
    """Restart the VmHWM high-water mark of every process in the tree
    (writing 5 to clear_refs), so a later ``peak_rss_mb`` covers only
    what ran after this call."""
    for pid in tree():
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")
        except OSError:
            pass


def peak_rss_mb() -> float:
    """Sum over the tree of each process's VmHWM since the last reset:
    an upper bound of the tree's peak resident set (the JVM dominates)."""
    total_kb = 0
    for pid in tree():
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return total_kb / 1024


def plan_ms(df) -> float:
    """Analysis + optimization + physical planning of ``df``'s query, in
    ms, from Spark's ``QueryPlanningTracker`` (forces planning; runs no
    job)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    total = 0
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        if opt.isDefined():
            total += opt.get().durationMs()
    return float(total)


def event_log_metrics(log_dir: str, windows: list[tuple[float, float]], cores: int) -> dict:
    """``spark.*`` metrics over the tasks launched inside ``windows``
    ((start, end) epoch seconds, one per measured job), per job:
    executor CPU, shuffle write, spill, GC, skew of the heaviest stage,
    core utilization and the wall time with no task running."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    ms_windows = [(a * 1000, b * 1000) for a, b in windows]
    tasks = []
    with open(os.path.join(log_dir, names[0])) as fh:
        for line in fh:
            if '"SparkListenerTaskEnd"' not in line:
                continue
            ev = json.loads(line)
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            launch, finish = info["Launch Time"], info["Finish Time"]
            if not any(a <= launch <= b for a, b in ms_windows):
                continue
            tasks.append(
                {
                    "stage": (ev["Stage ID"], ev["Stage Attempt ID"]),
                    "launch": launch,
                    "finish": finish,
                    "cpu_ns": m.get("Executor CPU Time", 0),
                    "gc_ms": m.get("JVM GC Time", 0),
                    "shuffle_w": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                    "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                }
            )
    n = max(len(windows), 1)
    wall_ms = sum(b - a for a, b in ms_windows)
    busy_ms = sum(t["finish"] - t["launch"] for t in tasks)
    by_stage: dict = {}
    for t in tasks:
        by_stage.setdefault(t["stage"], []).append(t["finish"] - t["launch"])
    heaviest = max(by_stage.values(), key=sum) if by_stage else [1]
    return {
        "spark.executor_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9 / n,
        "spark.shuffle_write_mb": sum(t["shuffle_w"] for t in tasks) / 1e6 / n,
        "spark.spill_mb": sum(t["spill"] for t in tasks) / 1e6 / n,
        "spark.gc_s": sum(t["gc_ms"] for t in tasks) / 1e3 / n,
        "spark.task_skew": max(heaviest) / max(statistics.median(heaviest), 1),
        "spark.core_util": busy_ms / max(wall_ms * cores, 1),
        "spark.serial_s": _idle_ms(tasks, ms_windows) / 1e3 / n,
        "spark.tasks": len(tasks) / n,
    }


def _idle_ms(tasks: list[dict], windows: list[tuple[float, float]]) -> float:
    """Wall time inside ``windows`` covered by no task interval."""
    idle = 0.0
    for a, b in windows:
        spans = sorted((max(t["launch"], a), min(t["finish"], b)) for t in tasks if t["launch"] < b and t["finish"] > a)
        cursor = a
        for s, e in spans:
            if e <= cursor:
                continue
            idle += max(0.0, s - cursor)
            cursor = e
        idle += max(0.0, b - cursor)
    return idle


class Tracer:
    """Spans (name, start, end, parent) sharing one run id; kept in
    memory, written out once by ``dump``."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        rec = {"name": name, "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def seconds(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def self_seconds(self) -> dict[str, float]:
        """Per span name: duration minus the time its children cover."""
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            kids = sum(c["end"] - c["start"] for c in self.spans if c["parent"] == i)
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - kids
        return out

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({"run_id": self.run_id, "spans": self.spans, "self_s": self.self_seconds()}, fh, indent=1)
