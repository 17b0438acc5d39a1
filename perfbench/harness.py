"""Measurement machinery shared by the workloads: latency summaries, the
in-memory span tracer, Spark job-id attribution, event-log parsing and the
peak-memory sampler.

Nothing here imports Spark at module level, so the self-test can exercise
the arithmetic without a JVM.
"""

from __future__ import annotations

import json
import os
import threading
import time
from dataclasses import dataclass, field

# ------------------------------------------------------------------ summaries


def tail(samples: list[float], beyond: int = 10) -> tuple[float, float, int]:
    """The highest percentile with at least ``beyond`` samples above it.

    Returns ``(value, percentile, n)``. With ``n`` sorted samples that is
    the nearest-rank value at rank ``n - beyond``. A tail below the median
    says nothing, so when fewer than ``2 * beyond`` samples exist the
    maximum (percentile 100) is reported instead, with its sample count.
    """
    n = len(samples)
    if n == 0:
        raise ValueError("tail of no samples")
    s = sorted(samples)
    if n < 2 * beyond:
        return s[-1], 100.0, n
    k = n - beyond
    return s[k - 1], 100.0 * k / n, n


# --------------------------------------------------------------------- spans


@dataclass
class Span:
    id: int
    name: str
    start: float
    parent: int | None
    op: int | None
    attrs: dict = field(default_factory=dict)
    end: float | None = None
    job_lo: int | None = None  # first Spark job id that can belong to the span
    job_hi: int | None = None  # first job id submitted after the span ended


class Tracer:
    """In-memory spans: name, start, end, parent and operation id.

    Spans nest per thread (a stack per thread); a span opened on a thread
    with an empty stack hangs under the root. ``job_ids`` returns the next
    Spark job id, so every span knows the half-open range of job ids that
    were submitted while it was open."""

    def __init__(self, job_ids=None, clock=time.perf_counter):
        self._clock = clock
        self._job_ids = job_ids or (lambda: None)
        self._lock = threading.Lock()
        self._local = threading.local()
        self.spans: list[Span] = []
        self._op = None
        self.root = self._open("run", None)

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _open(self, name: str, parent: int | None, **attrs) -> Span:
        with self._lock:
            sp = Span(len(self.spans), name, self._clock(), parent, self._op, attrs)
            sp.job_lo = self._job_ids()
            self.spans.append(sp)
        return sp

    def start(self, name: str, **attrs) -> Span:
        st = self._stack()
        parent = st[-1] if st else self.root.id
        sp = self._open(name, parent, **attrs)
        st.append(sp.id)
        return sp

    def finish(self, sp: Span) -> None:
        sp.job_hi = self._job_ids()
        sp.end = self._clock()
        st = self._stack()
        if st and st[-1] == sp.id:
            st.pop()

    def span(self, name: str, **attrs):
        tracer = self

        class _Ctx:
            def __enter__(self):
                self.sp = tracer.start(name, **attrs)
                return self.sp

            def __exit__(self, *exc):
                tracer.finish(self.sp)
                return False

        return _Ctx()

    def set_op(self, op: int | None) -> None:
        self._op = op

    def close(self) -> None:
        self.root.job_hi = self._job_ids()
        self.root.end = self._clock()

    def dump(self) -> list[dict]:
        selfs = self_times(self.spans)
        return [
            {
                "id": s.id, "name": s.name, "parent": s.parent, "op": s.op,
                "start": s.start - self.root.start, "end": s.end - self.root.start,
                "self_s": selfs[s.id], "jobs": [s.job_lo, s.job_hi], **s.attrs,
            }
            for s in self.spans
        ]


class NullTracer:
    """Tracing off: the same interface, no records."""

    def span(self, name: str, **attrs):
        class _Ctx:
            def __enter__(self):
                return None

            def __exit__(self, *exc):
                return False

        return _Ctx()

    def set_op(self, op) -> None:
        pass


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of it covered by its children (children
    clipped to the parent interval; overlapping children count once)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    out = {}
    for s in spans:
        clipped = [
            (max(lo, s.start), min(hi, s.end))
            for lo, hi in kids.get(s.id, [])
            if min(hi, s.end) > max(lo, s.start)
        ]
        out[s.id] = (s.end - s.start) - _union(clipped)
    return out


def innermost_span(spans: list[Span], job_id: int) -> Span | None:
    """The deepest span whose job-id range holds ``job_id`` (spans are
    appended in start order, so the last match is the innermost)."""
    best = None
    for s in spans:
        if s.job_lo is not None and s.job_hi is not None and s.job_lo <= job_id < s.job_hi:
            best = s
    return best


def ancestors(spans: list[Span], sp: Span | None):
    while sp is not None:
        yield sp
        sp = spans[sp.parent] if sp.parent is not None else None


def wrap(tracer: Tracer, owner, attr: str, name: str) -> None:
    """Replace ``owner.attr`` with a version that records a span per call."""
    fn = getattr(owner, attr)

    def traced(*args, **kwargs):
        with tracer.span(name):
            return fn(*args, **kwargs)

    setattr(owner, attr, traced)


# ----------------------------------------------------------------- event log

PY_ACCUMULABLES = {
    "time to start Python workers": "python_worker_boot_ms",
    "time to run Python workers": "python_worker_run_ms",
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_returned",
}


def parse_event_log(path: str) -> dict:
    """Per-job task metrics from an uncompressed Spark event log.

    Returns ``{job_id: {"tasks", "tasks_failed", "run_ms", "cpu_ns",
    "gc_ms", "shuffle_write", "shuffle_read", "spill", <python accumulables>}}``.
    A stage shared by several jobs is attributed to the first job that
    listed it."""
    stage_job: dict[int, int] = {}
    jobs: dict[int, dict] = {}

    def job(j: int) -> dict:
        return jobs.setdefault(j, {
            "tasks": 0, "tasks_failed": 0, "run_ms": 0, "cpu_ns": 0, "gc_ms": 0,
            "shuffle_write": 0, "shuffle_read": 0, "spill": 0,
            **{v: 0 for v in PY_ACCUMULABLES.values()},
        })

    with open(path, encoding="utf-8") as f:
        for line in f:
            e = json.loads(line)
            kind = e.get("Event")
            if kind == "SparkListenerJobStart":
                job(e["Job ID"])
                for sid in e.get("Stage IDs", []):
                    stage_job.setdefault(sid, e["Job ID"])
            elif kind == "SparkListenerTaskEnd":
                j = stage_job.get(e["Stage ID"])
                if j is None:
                    continue
                m = job(j)
                m["tasks"] += 1
                if e.get("Task End Reason", {}).get("Reason") != "Success":
                    m["tasks_failed"] += 1
                tm = e.get("Task Metrics") or {}
                m["run_ms"] += tm.get("Executor Run Time", 0)
                m["cpu_ns"] += tm.get("Executor CPU Time", 0)
                m["gc_ms"] += tm.get("JVM GC Time", 0)
                sw = tm.get("Shuffle Write Metrics") or {}
                m["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                sr = tm.get("Shuffle Read Metrics") or {}
                m["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                m["spill"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                j = stage_job.get(info["Stage ID"])
                if j is None:
                    continue
                m = job(j)
                for acc in info.get("Accumulables", []):
                    key = PY_ACCUMULABLES.get(acc.get("Name"))
                    if key is not None:
                        m[key] += int(acc.get("Value") or 0)
    return jobs


# ------------------------------------------------------------------ memory


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii", errors="replace") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident memory with each shared page split
    among the processes sharing it, so forked Python workers are not
    counted once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup", encoding="ascii") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def tree_cpu_s() -> float:
    """User + system CPU seconds of every live descendant of this process:
    the driver JVM and its Python workers."""
    total = 0
    for p in descendants(os.getpid()):
        try:
            with open(f"/proc/{p}/stat", encoding="ascii", errors="replace") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += int(fields[11]) + int(fields[12])
    return total / os.sysconf("SC_CLK_TCK")


class MemSampler:
    """Samples the summed proportional set size of every descendant of
    this process (the driver JVM and its Python workers) on a background
    thread; ``peak_mb`` is the largest sum seen."""

    INTERVAL_S = 0.25

    def __init__(self):
        self.peak_bytes = 0
        self.seen: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            pids = descendants(me)
            self.seen.update(pids)
            self.peak_bytes = max(self.peak_bytes, sum(_pss_bytes(p) for p in pids))
            self._stop.wait(self.INTERVAL_S)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        return False

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / (1024 * 1024)
