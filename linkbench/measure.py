"""Measurement plumbing: spans, the Spark event-log parser, the resident
memory sampler and host state. No engine imports.

The event-log parser is the benchmark's own: it reads the JSON-lines log
Spark writes with ``spark.eventLog.enabled`` and folds task metrics into
one record per job group (the benchmark sets one group per engine call).
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
from dataclasses import asdict, dataclass, field

MB = 1 << 20


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    run_id: str


@dataclass
class Tracer:
    """Spans around each layer call, kept in memory until :meth:`dump`."""

    run_id: str
    spans: list[Span] = field(default_factory=list)
    _stack: list[str] = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        t0 = time.time()
        try:
            yield
        finally:
            self._stack.pop()
            self.spans.append(Span(name, t0, time.time(), parent, self.run_id))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


# -- event log -------------------------------------------------------------


@dataclass
class GroupStats:
    jobs: int = 0
    stages: set = field(default_factory=set)
    tasks: int = 0
    failed_tasks: int = 0
    task_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    intervals: list = field(default_factory=list)  # (start_s, end_s) per job


def read_event_log(path: str) -> dict[str, GroupStats]:
    """Event log → per job group statistics. Jobs outside any group are
    ignored."""
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    stage_group: dict[int, str] = {}
    out: dict[str, GroupStats] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group is None:
                    continue
                jid = ev["Job ID"]
                job_group[jid] = group
                job_start[jid] = ev["Submission Time"] / 1000.0
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = group
                out.setdefault(group, GroupStats()).jobs += 1
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_group:
                jid = ev["Job ID"]
                out[job_group[jid]].intervals.append(
                    (job_start[jid], ev["Completion Time"] / 1000.0)
                )
            elif kind == "SparkListenerTaskEnd" and ev.get("Stage ID") in stage_group:
                g = out[stage_group[ev["Stage ID"]]]
                g.stages.add(ev["Stage ID"])
                g.tasks += 1
                if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                    g.failed_tasks += 1
                m = ev.get("Task Metrics") or {}
                g.task_s += m.get("Executor Run Time", 0) / 1000.0
                g.gc_s += m.get("JVM GC Time", 0) / 1000.0
                rd = m.get("Shuffle Read Metrics") or {}
                g.shuffle_read_mb += (
                    rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                ) / MB
                g.shuffle_write_mb += (
                    (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / MB
                )
                g.spill_mb += (
                    m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                ) / MB
    return out


def busy_seconds(intervals: list, start: float, end: float) -> float:
    """Length of the union of ``intervals`` clipped to [start, end]."""
    busy, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                busy += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        busy += cur_e - cur_s
    return busy


# -- resident memory ---------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_rss_mb(root: int) -> float:
    """Resident memory of ``root`` and all its descendants (the driver
    Python, the JVM it launched and the JVM's Python workers), summed as
    proportional set size so pages the forked workers share count once."""
    kids = _children_map()
    total_kb, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                total_kb += next(int(x.split()[1]) for x in f if x.startswith("Pss:"))
        except (OSError, StopIteration):
            continue
    return total_kb * 1024 / MB


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) spent so far by ``root`` and all its
    descendants, including reaped children."""
    kids = _children_map()
    ticks, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ticks += sum(int(x) for x in stat[stat.rindex(")") + 2:].split()[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def host_cpu_ticks() -> list[int]:
    """Host-wide CPU ticks: user, nice, system, idle, iowait, irq,
    softirq, steal (the first line of /proc/stat)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of the host's busy CPU time the hypervisor stole between two
    :func:`host_cpu_ticks` readings."""
    d = [b - a for a, b in zip(before, after)]
    busy = sum(d) - d[3]
    return d[7] / busy if busy > 0 else 0.0


class RssSampler:
    """Background thread sampling :func:`tree_rss_mb` every ``period`` s;
    :meth:`peak_since_mark` is the highest sample since :meth:`mark`.
    ``cpu_s`` is the CPU time the sampling itself has spent, so CPU
    timings of the process tree can leave it out."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self._peak = 0.0
        self.cpu_s = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.wait(self.period):
            c0 = time.thread_time()
            rss = tree_rss_mb(me)
            with self._lock:
                self._peak = max(self._peak, rss)
                self.cpu_s += time.thread_time() - c0

    def mark(self) -> None:
        with self._lock:
            self._peak = 0.0

    def peak_since_mark(self) -> float:
        with self._lock:
            return self._peak


def host_state() -> dict:
    cpus = len(os.sched_getaffinity(0))
    load1, load5, load15 = os.getloadavg()
    return {"cpus": cpus, "loadavg": [round(load1, 2), round(load5, 2), round(load15, 2)]}
