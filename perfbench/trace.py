"""In-memory spans, call-site wrapping and the Spark event-log fold.

A span is (id, name, start, end, parent, run). Spans stay in memory and
are written out once, when the benchmark ends. Each span that a
``Tracer`` opens also sets the thread's Spark job group to
``GROUP_PREFIX + span id``, so every Spark job the span launches
directly can be attributed back to it from the event log.

Attribution rules used by :func:`attribute`:

* a span's *self region* is its interval minus the union of its
  children's intervals; its self time is that region's length;
* ``jobs_s`` is the part of the self region covered by the span's own
  jobs (its job group), ``driver_s`` the part covered by no job at all;
* the remainder of the self region is covered by jobs that carry some
  other group -- mis-attribution, which the reconciliation bounds.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext
from dataclasses import asdict, dataclass, field

GROUP_PREFIX = "perfbench-"

Interval = tuple[float, float]


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run: str


def union(intervals: list[Interval]) -> list[Interval]:
    """Sorted, disjoint cover of ``intervals`` (empty ones dropped)."""
    out: list[list[float]] = []
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def length(intervals: list[Interval]) -> float:
    return sum(b - a for a, b in union(intervals))


def subtract(base: list[Interval], cut: list[Interval]) -> list[Interval]:
    """``base`` minus ``cut``, both arbitrary interval lists."""
    out: list[Interval] = []
    cut = union(cut)
    for a, b in union(base):
        cur = a
        for c, d in cut:
            if d <= cur or c >= b:
                continue
            if c > cur:
                out.append((cur, c))
            cur = max(cur, d)
        if cur < b:
            out.append((cur, b))
    return out


def intersect(base: list[Interval], other: list[Interval]) -> list[Interval]:
    return subtract(base, subtract(base, other))


def self_regions(spans: list[Span]) -> dict[int, list[Interval]]:
    """Span id -> its interval minus its children's intervals."""
    children: dict[int, list[Interval]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    return {s.id: subtract([(s.start, s.end)], children[s.id]) for s in spans}


def self_times(spans: list[Span]) -> dict[int, float]:
    return {k: length(v) for k, v in self_regions(spans).items()}


class Tracer:
    """Records spans; thread-aware, with an explicit parent for spans
    opened on a callback thread (``foreachBatch``)."""

    def __init__(self, run_id: str, spark_context=None) -> None:
        self.run_id = run_id
        self.sc = spark_context
        self.spans: list[Span] = []
        self.counts: dict[str, float] = defaultdict(float)
        # job groups set by the engine itself -> the span that owns them
        self.aliases: dict[str, int] = {}
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current(self) -> int | None:
        stack = self._stack()
        return stack[-1].id if stack else None

    @contextmanager
    def span(self, name: str, parent: int | None = None):
        stack = self._stack()
        if parent is None and stack:
            parent = stack[-1].id
        with self._lock:
            sid = next(self._ids)
        s = Span(sid, name, time.time(), 0.0, parent, self.run_id)
        prev = None
        if self.sc is not None:
            prev = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setLocalProperty("spark.jobGroup.id", f"{GROUP_PREFIX}{sid}")
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()
            if self.sc is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", prev)
            with self._lock:
                self.spans.append(s)

    def count(self, name: str, n: float = 1) -> None:
        with self._lock:
            self.counts[name] += n

    def alias(self, group: str, span_id: int) -> None:
        """Attribute jobs of an engine-set job group (a streaming
        query's run id) to ``span_id``."""
        self.aliases[group] = span_id

    def wrap(self, fn, name: str):
        """``fn`` timed as span ``name`` on every call."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def dump(self) -> list[dict]:
        return [asdict(s) for s in sorted(self.spans, key=lambda s: s.id)]


class NoTracer:
    """The untraced path: spans and counts cost nothing."""

    sc = None

    def span(self, name: str, parent: int | None = None):
        return nullcontext()

    def current(self) -> None:
        return None

    def count(self, name: str, n: float = 1) -> None:
        pass

    def alias(self, group: str, span_id: int | None) -> None:
        pass


@contextmanager
def patched(targets: list[tuple[object, str, str]], tracer: Tracer):
    """Replace each ``owner.attr`` with a traced wrapper named ``span``
    for the duration of the block, restoring the originals after."""
    saved = [(owner, attr, getattr(owner, attr)) for owner, attr, _ in targets]
    try:
        for (owner, attr, span), (_, _, orig) in zip(targets, saved):
            setattr(owner, attr, tracer.wrap(orig, span))
        yield
    finally:
        for owner, attr, orig in saved:
            setattr(owner, attr, orig)


# -- event log -----------------------------------------------------------------

# SQL metrics summed from task accumulator updates -> our names
SQL_METRICS = {
    "scan time": "scan_time_ms",
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_returned",
}
TASK_FIELDS = (
    "tasks",
    "task_run_ms",
    "task_cpu_ns",
    "gc_ms",
    "shuffle_write_bytes",
    "shuffle_fetch_wait_ms",
    "spill_bytes",
    *SQL_METRICS.values(),
)


@dataclass
class Job:
    id: int
    group: str | None
    start: float  # seconds since the epoch
    end: float
    stages: int = 0  # stages that ran (skipped ones excluded)
    totals: dict[str, float] = field(default_factory=lambda: dict.fromkeys(TASK_FIELDS, 0.0))


def fold_event_log(path: str) -> list[Job]:
    """One :class:`Job` per job in an uncompressed Spark event log, with
    its stages' task metrics summed onto it."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                t = ev["Submission Time"] / 1000
                jobs[jid] = Job(jid, group, t, t)
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                job = jobs.get(ev["Job ID"])
                if job is not None:
                    job.end = ev["Completion Time"] / 1000
            elif kind == "SparkListenerStageCompleted":
                job = jobs.get(stage_job.get(ev["Stage Info"]["Stage ID"], -1))
                if job is not None:
                    job.stages += 1
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev["Stage ID"], -1))
                if job is None:
                    continue
                tot = job.totals
                tot["tasks"] += 1
                m = ev.get("Task Metrics") or {}
                tot["task_run_ms"] += m.get("Executor Run Time", 0)
                tot["task_cpu_ns"] += m.get("Executor CPU Time", 0)
                tot["gc_ms"] += m.get("JVM GC Time", 0)
                tot["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
                tot["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                tot["shuffle_fetch_wait_ms"] += (m.get("Shuffle Read Metrics") or {}).get(
                    "Fetch Wait Time", 0
                )
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    key = SQL_METRICS.get(acc.get("Name"))
                    if key is not None:
                        tot[key] += float(acc.get("Update") or 0)
    return sorted(jobs.values(), key=lambda j: j.id)


@dataclass
class SpanCost:
    """Per-span attribution of wall time and Spark work."""

    self_s: float
    jobs_s: float
    driver_s: float
    jobs: int
    stages: int
    totals: dict[str, float]


def owner(job: Job, aliases: dict[str, int]) -> int | None:
    """Id of the span a job belongs to, from its job group."""
    g = job.group or ""
    if g.startswith(GROUP_PREFIX):
        return int(g[len(GROUP_PREFIX):])
    return aliases.get(g)


def attribute(
    spans: list[Span], jobs: list[Job], aliases: dict[str, int] | None = None
) -> dict[int, SpanCost]:
    """Split each span's self region into time covered by its own jobs
    and time covered by no job (driver time); sum its jobs' metrics."""
    regions = self_regions(spans)
    all_jobs = [(j.start, j.end) for j in jobs]
    own: dict[int, list[Job]] = defaultdict(list)
    for j in jobs:
        sid = owner(j, aliases or {})
        if sid is not None:
            own[sid].append(j)
    out = {}
    for s in spans:
        region = regions[s.id]
        mine = own.get(s.id, [])
        totals = dict.fromkeys(TASK_FIELDS, 0.0)
        for j in mine:
            for k, v in j.totals.items():
                totals[k] += v
        out[s.id] = SpanCost(
            self_s=length(region),
            jobs_s=length(intersect(region, [(j.start, j.end) for j in mine])),
            driver_s=length(subtract(region, all_jobs)),
            jobs=len(mine),
            stages=sum(j.stages for j in mine),
            totals=totals,
        )
    return out


def reconcile(spans: list[Span], costs: dict[int, SpanCost], root: int) -> float:
    """Relative residual of ``root``'s wall time against the sum, over
    its span tree, of own-job time plus driver time. 0 means every
    instant of the root is either driver time or a job of the span that
    was innermost at that instant."""
    kids: dict[int | None, list[int]] = defaultdict(list)
    for s in spans:
        kids[s.parent].append(s.id)
    by_id = {s.id: s for s in spans}
    covered, todo = 0.0, [root]
    while todo:
        sid = todo.pop()
        covered += costs[sid].jobs_s + costs[sid].driver_s
        todo.extend(kids[sid])
    wall = by_id[root].end - by_id[root].start
    return (wall - covered) / wall if wall > 0 else 0.0
