"""Traced-run tooling: spans, self time, Spark job-group counters and
per-process CPU and memory from ``/proc``.

Spans are recorded only around the benchmark's own calls into the
package, kept in memory and written out when the run ends.  Nothing
here reaches into the package.
"""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    span_id: int
    parent: int | None
    op_id: int | None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder.  A disabled tracer records nothing and
    costs one attribute test per call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._op: int | None = None

    def span(self, name: str, op_id: int | None = None, **attrs):
        return _SpanCtx(self, name, op_id, attrs)

    def to_json(self) -> list[dict]:
        return [
            {"name": s.name, "start": round(s.start, 6), "end": round(s.end, 6),
             "id": s.span_id, "parent": s.parent, "op": s.op_id, **s.attrs}
            for s in self.spans
        ]


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, op_id, attrs):
        self.t, self.name, self.op_id, self.attrs = tracer, name, op_id, attrs
        self.span: Span | None = None

    def __enter__(self):
        t = self.t
        if not t.enabled:
            return self
        parent = t._stack[-1] if t._stack else None
        op = self.op_id if self.op_id is not None else t._op
        self.span = Span(self.name, time.monotonic(), 0.0, len(t.spans), parent, op, self.attrs)
        t.spans.append(self.span)
        t._stack.append(self.span.span_id)
        if self.op_id is not None:
            self._prev_op, t._op = t._op, self.op_id
        return self

    def __exit__(self, *exc):
        if self.span is None:
            return False
        self.span.end = time.monotonic()
        self.t._stack.pop()
        if self.op_id is not None:
            self.t._op = self._prev_op
        return False


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


def self_times(spans: list[Span]) -> dict[int, float]:
    """{span id: duration minus the part of it its children cover}."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {s.span_id: s.dur - _union_length(kids.get(s.span_id, [])) for s in spans}


def layer_summary(spans: list[Span]) -> dict[str, dict[str, float]]:
    """{span name: {count, total_s, self_s}} over all spans."""
    st = self_times(spans)
    out: dict[str, dict[str, float]] = {}
    for s in spans:
        row = out.setdefault(s.name, {"count": 0, "total_s": 0.0, "self_s": 0.0})
        row["count"] += 1
        row["total_s"] += s.dur
        row["self_s"] += st[s.span_id]
    return out


def coverage(spans: list[Span], op_name: str = "op") -> float:
    """Share of the wall time of ``op_name`` spans covered by their
    named child spans (1 - op self time / op time)."""
    st = self_times(spans)
    ops = [s for s in spans if s.name == op_name]
    wall = sum(s.dur for s in ops)
    return 1.0 - sum(st[s.span_id] for s in ops) / wall if wall else 0.0


# ------------------------------------------------------------ Spark jobs


def group_counts(sc, group: str, skip_jobs: set[int] = frozenset()) -> dict[str, int]:
    """Jobs, executed stages and tasks of one Spark job group, from the
    status tracker.  Stages whose tasks were all skipped (reused
    shuffle output) do not count as executed."""
    st = sc.statusTracker()
    jobs = [j for j in st.getJobIdsForGroup(group) if j not in skip_jobs]
    stages = tasks = failed = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for sid in info.stageIds if info else ():
            si = st.getStageInfo(sid)
            if si is not None and si.numCompletedTasks > 0:
                stages += 1
                tasks += si.numCompletedTasks
                failed += si.numFailedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "failed_tasks": failed}


# ------------------------------------------------------------ /proc

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
CLASSES = ("jvm", "pyworker", "driver_py", "postgres")


def _read_stat(pid: int):
    """(ppid, cpu seconds incl. reaped children, rss bytes, comm) or None."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode(errors="replace")
    except OSError:
        return None
    comm = raw[raw.index("(") + 1:raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2:].split()
    ppid = int(fields[1])
    utime, stime, cutime, cstime = (int(x) for x in fields[11:15])
    rss = int(fields[21]) * _PAGE
    return ppid, (utime + stime) / _TICK, (cutime + cstime) / _TICK, rss, comm


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


class ProcTree:
    """CPU seconds per process class and peak resident memory of the
    benchmark's own process tree.

    Classes: the driver's Python process, the JVM, Spark's Python
    workers (``pyspark.daemon`` and its forks) and the PostgreSQL
    server (the postmaster named by ``pg_pid`` and its backends).  A
    class's CPU includes children it has reaped, so short-lived
    workers and COPY backends still count after they exit; the
    driver's reaped children (server start-up tools) are harness
    work and are left out.  ``peak_rss`` covers the driver, the JVM
    and the Python workers, not the server."""

    def __init__(self, root_pid: int):
        self.root = root_pid
        self.pg_pid: int | None = None
        self.peak_rss = 0
        self.peak_rss_by_class = dict.fromkeys(CLASSES, 0)
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def walk(self):
        stats = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                s = _read_stat(int(d))
                if s is not None:
                    stats[int(d)] = s
        children: dict[int, list[int]] = {}
        for pid, s in stats.items():
            children.setdefault(s[0], []).append(pid)
        return stats, children

    @staticmethod
    def descendants(root: int, children) -> list[int]:
        out, todo = [], [root]
        while todo:
            p = todo.pop()
            out.append(p)
            todo.extend(children.get(p, ()))
        return out

    def sample(self) -> dict[str, float]:
        """{class: cumulative CPU seconds}; also updates the RSS peak."""
        stats, children = self.walk()
        cpu = dict.fromkeys(CLASSES, 0.0)
        rss = dict.fromkeys(CLASSES, 0)
        for pid in self.descendants(self.root, children):
            s = stats.get(pid)
            if s is None:
                continue
            _, own, reaped, r, comm = s
            if pid == self.root:
                cls = "driver_py"
                reaped = 0.0
            elif comm == "java":
                cls = "jvm"
            elif comm.startswith("python") and "pyspark" in _cmdline(pid):
                cls = "pyworker"
            else:
                continue  # harness tools, e.g. the server's start-up commands
            cpu[cls] += own + reaped
            rss[cls] += r
        if self.pg_pid is not None:
            for pid in self.descendants(self.pg_pid, children):
                s = stats.get(pid)
                if s is not None:
                    cpu["postgres"] += s[1] + s[2]
        with self._lock:
            self.peak_rss = max(self.peak_rss, sum(rss.values()))
            for cls, r in rss.items():
                self.peak_rss_by_class[cls] = max(self.peak_rss_by_class[cls], r)
        return cpu

    def start_sampler(self, period_s: float = 0.5) -> None:
        def loop():
            while not self._stop.wait(period_s):
                self.sample()

        self._thread = threading.Thread(target=loop, name="rss-sampler", daemon=True)
        self._thread.start()

    def stop_sampler(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)


def cpu_delta(a: dict[str, float], b: dict[str, float]) -> dict[str, float]:
    return {k: b[k] - a[k] for k in CLASSES}
