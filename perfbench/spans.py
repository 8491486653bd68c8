"""Spans around the benchmark's calls into the engine, process-tree CPU
from /proc, and per-span attribution of the Spark event log.

Spans are kept in memory and written out when the run ends. A span has
a name, start, end, parent and the run id; times are epoch seconds so
they line up with the event log's epoch-millisecond timestamps.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

CLK_TCK = os.sysconf("SC_CLK_TCK")


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Nested spans, one stack per thread. The timed region has a single
    client thread; engine thread pools need no span of their own, since
    their jobs are attributed by submission time, which falls inside
    the caller's open span."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            s = Span(len(self.spans), name, stack[-1] if stack else None,
                     self.run_id, time.time(), attrs=dict(attrs))
            self.spans.append(s)
        stack.append(s.id)
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()

    def children(self, sid: int | None) -> list[Span]:
        return [s for s in self.spans if s.parent == sid]

    def dump(self, path: str) -> None:
        """One JSON line per span, with its self time."""
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s) | {"self_s": self_time(s, self.spans)}) + "\n")


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_time(span: Span, spans: list[Span]) -> float:
    """Span duration minus the part of it that its child spans cover
    (overlapping children are counted once)."""
    kids = [(s.start, s.end) for s in spans if s.parent == span.id]
    return (span.end - span.start) - union_length(kids, span.start, span.end)


def attribute(times: dict, spans: list[Span]) -> dict:
    """Map each key of ``times`` (e.g. a job id -> submission epoch
    seconds) to the innermost span whose [start, end] contains it, or
    None. Attribution is by time alone, so jobs submitted from an
    engine thread pool land in the span of the call that started it."""
    depth: dict[int, int] = {}
    for s in spans:  # parents precede children in creation order
        depth[s.id] = 0 if s.parent is None else depth[s.parent] + 1
    out = {}
    for key, t in times.items():
        best = None
        for s in spans:
            if s.start <= t <= s.end and (best is None or depth[s.id] > depth[best.id]):
                best = s
        out[key] = None if best is None else best.id
    return out


# ------------------------------------------------------------- /proc CPU
def _proc_table() -> dict[int, tuple[int, str, float]]:
    """pid -> (ppid, comm, cpu seconds incl. reaped children)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        comm = raw[raw.index("(") + 1:raw.rindex(")")]
        rest = raw[raw.rindex(")") + 2:].split()
        ticks = sum(int(x) for x in rest[11:15])  # utime stime cutime cstime
        out[int(d)] = (int(rest[1]), comm, ticks / CLK_TCK)
    return out


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    return _descendants(_proc_table(), root)


def _descendants(table: dict, root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def tree_cpu(root: int | None = None) -> tuple[float, float]:
    """(CPU seconds of the process tree under ``root``, CPU seconds of
    its Python worker processes), the latter being every Python process
    below the JVM. Children that exited count once their parent reaped
    them."""
    root = os.getpid() if root is None else root
    table = _proc_table()
    pids = _descendants(table, root)
    total = sum(table[p][2] for p in pids if p in table)
    py = 0.0
    for p in pids:
        if p == root or p not in table:
            continue
        parent = table.get(table[p][0])
        if table[p][1].startswith("python") and parent and parent[1] == "java":
            py += sum(table[q][2] for q in _descendants(table, p) if q in table)
    return total, py


# ------------------------------------------------------------- event log
@dataclass
class JobStats:
    job_id: int
    submit: float
    stages: list
    tasks: int = 0
    task_cpu_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    output_bytes: int = 0
    retried: int = 0
    intervals: list = field(default_factory=list)


def read_event_log(path: str) -> list[JobStats]:
    """Jobs with their task totals from an uncompressed Spark event log."""
    jobs: dict[int, JobStats] = {}
    stage_job: dict[int, int] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                j = JobStats(ev["Job ID"], ev["Submission Time"] / 1000.0,
                             list(ev.get("Stage IDs", [])))
                jobs[j.job_id] = j
                for sid in j.stages:
                    stage_job[sid] = j.job_id
            elif kind == "SparkListenerTaskEnd":
                j = jobs.get(stage_job.get(ev["Stage ID"]))
                if j is None:
                    continue
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                j.tasks += 1
                j.intervals.append((info["Launch Time"] / 1000.0,
                                    info["Finish Time"] / 1000.0))
                if info.get("Attempt", 0) > 0 or info.get("Failed") or info.get("Killed"):
                    j.retried += 1
                j.task_cpu_s += m.get("Executor CPU Time", 0) / 1e9
                w = m.get("Shuffle Write Metrics") or {}
                j.shuffle_bytes += w.get("Shuffle Bytes Written", 0)
                j.spill_bytes += (m.get("Memory Bytes Spilled", 0)
                                  + m.get("Disk Bytes Spilled", 0))
                o = m.get("Output Metrics") or {}
                j.output_bytes += o.get("Bytes Written", 0)
    return sorted(jobs.values(), key=lambda j: j.job_id)


def find_event_log(log_dir: str) -> str | None:
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)
             if not f.startswith(".")] if os.path.isdir(log_dir) else []
    return max(files, key=os.path.getmtime) if files else None
