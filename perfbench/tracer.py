"""Span tracer for the benchmark's traced runs (``--trace 1``).

Spans are recorded from the benchmark's own files: :meth:`Tracer.wrap`
replaces a ``zsolr`` entry point with a wrapper that opens a span around
the call.  Nothing under ``zsolr/`` changes.

A span that may run Spark jobs sets its own job group on entry (job groups
are thread-local; the benchmark runs one client thread) and restores the
parent's group on exit.  :meth:`Tracer.resolve` — called between
operations, outside any timed region — reads each finished span's jobs
from the status store (``sc._jsc.sc().statusStore()``): per-job submit and
completion times and call site, per-stage executor run time, shuffle
bytes, spill and GC time.  Spans stay in memory until the run ends;
:meth:`Tracer.records` hands them to ``run.py``, which writes them once.
"""

from __future__ import annotations

import ast
import contextlib
import functools
import os
import time
from dataclasses import dataclass, field

STAGE_FIELDS = ("executorRunTime", "shuffleWriteBytes", "shuffleReadBytes",
                "memoryBytesSpilled", "diskBytesSpilled", "jvmGcTime")


@dataclass
class Job:
    job_id: int
    name: str           # call site, e.g. "collect at .../zsolr/search.py:2305"
    t0: float           # submission, epoch seconds
    t1: float           # completion, epoch seconds
    stages: dict = field(default_factory=dict)   # STAGE_FIELDS sums

    @property
    def ms(self) -> float:
        return (self.t1 - self.t0) * 1000.0


@dataclass
class Span:
    sid: int
    name: str
    key: str | None
    parent: "Span | None"
    t0: float
    t1: float = 0.0
    group: str | None = None
    jobs: list = field(default_factory=list)      # own jobs (this group)
    children: list = field(default_factory=list)
    resolved: bool = False

    @property
    def wall_ms(self) -> float:
        return (self.t1 - self.t0) * 1000.0

    def tree_jobs(self) -> list:
        out = list(self.jobs)
        for c in self.children:
            out.extend(c.tree_jobs())
        return out

    def self_ms(self) -> float:
        """Wall time minus the part of it that child spans cover."""
        return self.wall_ms - covered_ms(
            [(c.t0, c.t1) for c in self.children], self.t0, self.t1)

    def driver_ms(self) -> float:
        """Wall time not covered by any Spark job of this span's tree."""
        return self.wall_ms - covered_ms(
            [(j.t0, j.t1) for j in self.tree_jobs()], self.t0, self.t1)

    def stage_sum(self, fld: str, jobs=None) -> int:
        return sum(j.stages.get(fld, 0)
                   for j in (self.tree_jobs() if jobs is None else jobs))


def covered_ms(intervals, lo: float, hi: float) -> float:
    """Length (ms) of the union of ``intervals`` clipped to [lo, hi]."""
    cut = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                 if b > lo and a < hi)
    total, end = 0.0, lo
    for a, b in cut:
        if b > end:
            total += b - max(a, end)
            end = b
    return total * 1000.0


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.enabled = False
        self._stack: list[Span] = []
        self._patched: list = []
        self._seen_stages: set = set()
        self.missing: list[str] = []
        # (candidates, decoded) WAND block accumulators of traced searchers
        self.wand: list = []
        # search.py line → (function, collected expression); see
        # collect_sites
        self.sites: dict[int, tuple[str, str]] = {}

    # -- instrumentation -------------------------------------------------
    def wrap(self, owner, attr: str, name: str, key=None,
             spark_jobs: bool = True) -> None:
        """Replace ``owner.attr`` with a span-opening wrapper.  ``key``
        maps the call's arguments to a span key (e.g. a table name).
        A missing entry point is recorded in :attr:`missing`."""
        orig = owner.__dict__.get(attr) if isinstance(owner, type) \
            else getattr(owner, attr, None)
        if orig is None:
            self.missing.append(f"{getattr(owner, '__name__', owner)}.{attr}")
            return
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return orig(*args, **kwargs)
            k = key(*args, **kwargs) if key else None
            with tracer.span(name, k, spark_jobs):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def _active_group(self) -> str | None:
        for s in reversed(self._stack):
            if s.group is not None:
                return s.group
        return None

    @contextlib.contextmanager
    def span(self, name: str, key: str | None = None,
             spark_jobs: bool = True):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, key, parent, time.time())
        if spark_jobs:
            s.group = f"perfbench-{s.sid}"
            self.sc.setLocalProperty("spark.jobGroup.id", s.group)
        self.spans.append(s)
        if parent is not None:
            parent.children.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.t1 = time.time()
            self._stack.pop()
            if spark_jobs:
                self.sc.setLocalProperty("spark.jobGroup.id",
                                         self._active_group())

    # -- job metrics -------------------------------------------------------
    def resolve(self) -> None:
        """Attach status-store job/stage metrics to every finished span."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        for s in self.spans:
            if s.resolved or s.t1 == 0.0:
                continue
            s.resolved = True
            if s.group is None:
                continue
            for jid in sorted(tracker.getJobIdsForGroup(s.group)):
                s.jobs.append(self._job(store, jid))

    def _job(self, store, jid: int) -> Job:
        jd = store.job(jid)
        sub, comp = jd.submissionTime(), jd.completionTime()
        t0 = sub.get().getTime() / 1000.0 if sub.isDefined() else 0.0
        t1 = comp.get().getTime() / 1000.0 if comp.isDefined() else t0
        job = Job(jid, jd.name(), t0, t1,
                  {f: 0 for f in STAGE_FIELDS})
        sids = jd.stageIds()
        for i in range(sids.length()):
            sid = sids.apply(i)
            if sid in self._seen_stages:
                continue
            self._seen_stages.add(sid)
            sd = store.lastStageAttempt(sid)
            if str(sd.status()) == "SKIPPED":
                continue
            for f in STAGE_FIELDS:
                job.stages[f] += int(getattr(sd, f)())
        return job

    # -- output --------------------------------------------------------------
    def records(self, t_origin: float) -> list[dict]:
        out = []
        for s in self.spans:
            jobs = s.tree_jobs()
            out.append({
                "id": s.sid, "name": s.name, "key": s.key,
                "parent": s.parent.sid if s.parent else None,
                "start_ms": round((s.t0 - t_origin) * 1000.0, 3),
                "wall_ms": round(s.wall_ms, 3),
                "self_ms": round(s.self_ms(), 3),
                "driver_ms": round(s.driver_ms(), 3),
                "jobs": len(jobs),
                "own_jobs": [{"id": j.job_id, "site": j.name,
                              "ms": round(j.ms, 1), **j.stages}
                             for j in s.jobs],
                **{f: s.stage_sum(f, jobs) for f in STAGE_FIELDS},
            })
        return out

    def self_time_by_name(self) -> dict:
        """Σ self time (ms) and call count per span name."""
        agg: dict = {}
        for s in self.spans:
            a = agg.setdefault(s.name, {"calls": 0, "self_ms": 0.0})
            a["calls"] += 1
            a["self_ms"] += s.self_ms()
        return {k: {"calls": v["calls"], "self_ms": round(v["self_ms"], 1)}
                for k, v in sorted(agg.items())}


def collect_sites(path: str) -> dict[int, tuple[str, str]]:
    """Line → (enclosing function, receiver) for every ``.collect()`` /
    ``.toPandas()`` call in a source file.  Built at startup from the
    source itself, so phase attribution follows the code when lines move.
    ``receiver`` is the leftmost name of the collected expression
    (``cand`` in ``cand.collect()``, ``self._fetch_by_ids`` in
    ``self._fetch_by_ids(ids).select(...).collect()``)."""
    with open(path) as fh:
        tree = ast.parse(fh.read(), path)
    out: dict[int, tuple[str, str]] = {}

    def receiver(node) -> str:
        while True:
            if isinstance(node, ast.Call):
                node = node.func
            elif isinstance(node, ast.Subscript):
                node = node.value
            elif isinstance(node, ast.Attribute):
                if isinstance(node.value, ast.Name) \
                        and node.value.id == "self":
                    return f"self.{node.attr}"
                node = node.value
            elif isinstance(node, ast.Name):
                return node.id
            else:
                return ""

    def visit(node, fn: str):
        for child in ast.iter_child_nodes(node):
            name = fn
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                name = child.name
            if (isinstance(child, ast.Call)
                    and isinstance(child.func, ast.Attribute)
                    and child.func.attr in ("collect", "toPandas")):
                site = (name, receiver(child.func.value))
                for ln in range(child.func.value.end_lineno,
                                child.end_lineno + 1):
                    out[ln] = site
            visit(child, name)

    visit(tree, "<module>")
    return out


def site_of(job_name: str) -> tuple[str, int] | None:
    """``"collect at /x/zsolr/search.py:2305"`` → ("search.py", 2305)."""
    at = job_name.rsplit(" at ", 1)[-1]
    fname, _, line = at.rpartition(":")
    if not line.isdigit():
        return None
    return os.path.basename(fname), int(line)
