"""Layer tracing from outside the program, for the ``--trace 1`` run.

:func:`install` rebinds the module attributes the pipeline calls through
(and each catalog query's ``fn``) to wrappers that record a span per
call. Spans live in memory: name, start, end, parent span, thread, and
the Spark job-id range the call covered. While a span is open on a
thread, that thread's jobs carry the span id as their job group, so jobs
can be attributed to the layer that fired them even when another thread
runs jobs at the same time (the reconciliation's CSV line count overlaps
the sink writes on its own thread).

A span opened on a thread with no open span (a worker thread the
program started) gets the pass span as its parent, not the span that was
open on the launching thread: it overlaps its launcher rather than
nesting inside it.

Self time is a span's duration minus the union of its children's
intervals. ``workloads.py`` folds a pass's spans into the per-layer
metrics the benchmark reports.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import threading
import time
from dataclasses import dataclass, field

_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    thread: str
    start: float
    end: float = 0.0
    job_lo: int = 0
    job_hi: int = 0
    children: list[int] = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._dag = self.sc._jsc.sc().dagScheduler()
        self.spans: dict[int, Span] = {}
        self.root: int | None = None
        self._ids = itertools.count(1)
        # wrappers stay installed; with this off they only call through
        self.enabled = True
        self._local = threading.local()
        self._lock = threading.Lock()

    def next_job_id(self) -> int:
        return int(self._dag.nextJobId())

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else self.root
        sid = next(self._ids)
        prev_group = self.sc.getLocalProperty(_GROUP)
        self.sc.setLocalProperty(_GROUP, f"span:{sid}")
        s = Span(
            sid, name, parent, threading.current_thread().name,
            time.perf_counter(), job_lo=self.next_job_id(),
        )
        with self._lock:
            self.spans[sid] = s
            if parent is not None:
                self.spans[parent].children.append(sid)
        if self.root is None:
            self.root = sid
        stack.append(sid)
        try:
            yield s
        finally:
            stack.pop()
            s.job_hi = self.next_job_id()
            s.end = time.perf_counter()
            self.sc.setLocalProperty(_GROUP, prev_group)
            if self.root == sid:
                self.root = None

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped_by_tracer__ = True
        return traced

    def self_time(self, s: Span) -> float:
        ivs = sorted(
            (max(c.start, s.start), min(c.end, s.end))
            for c in (self.spans[i] for i in s.children)
        )
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in ivs:
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
        return s.dur - covered

    def dump(self) -> list[dict]:
        return [
            {
                "id": s.id, "name": s.name, "parent": s.parent,
                "thread": s.thread, "start": s.start, "end": s.end,
                "jobs": [s.job_lo, s.job_hi],
            }
            for s in self.spans.values()
        ]


# module attribute -> span name, for the ingest pipeline
PIPELINE_TARGETS = [
    ("pipeline", "discover_zips", "discovery"),
    ("pipeline", "discover_csvs", "discovery"),
    ("pipeline", "read_csv_all_text", "csv.build"),
    ("pipeline", "read_csv_group", "csv.group"),
    ("pipeline", "register_all", "functions.register"),
    ("pipeline", "run_sql_hooks", "hooks"),
    ("pipeline", "run_sql_hooks_db", "hooks"),
    ("pipeline", "reconciliation_report", "reconcile.report"),
    ("pipeline:Loader", "write_sink", "sink.write"),
    ("pipeline:Loader", "_combine", "combine"),
    ("reconcile", "csv_row_counts", "reconcile.csv_count"),
    ("reconcile", "db_row_counts", "reconcile.db_count"),
    ("sources.copy_sink", "copy_write", "copy.write"),
    ("sources.copy_sink", "table_counts", "copy.count"),
    ("sources.zips", "extract_zips", "zips.extract"),
]


def install(tracer: Tracer) -> None:
    """Rebind every PIPELINE_TARGETS attribute to a tracing wrapper."""
    import importlib

    for owner, attr, name in PIPELINE_TARGETS:
        mod_name, _, cls = owner.partition(":")
        obj = importlib.import_module(f"postgresimporter_spark.{mod_name}")
        if cls:
            obj = getattr(obj, cls)
        fn = getattr(obj, attr)
        if not getattr(fn, "__wrapped_by_tracer__", False):
            setattr(obj, attr, tracer.wrap(name, fn))


def spark_counters(spark, job_lo: int, job_hi: int) -> dict:
    """Totals over jobs ``[job_lo, job_hi)`` from Spark's status store
    (read right after the pass, so the retained-jobs limit cannot cut
    it), plus each job's group so callers can attribute jobs to spans."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    jobs = store.jobsList(sc._jvm.java.util.ArrayList())
    out = {
        "jobs": 0, "stages": 0, "tasks": 0, "run_ms": 0, "cpu_ns": 0,
        "gc_ms": 0, "shuffle_write_b": 0, "spill_b": 0,
        "job_group": {}, "job_tasks": {},
    }
    seen: set[int] = set()
    for i in range(jobs.size()):
        j = jobs.apply(i)
        jid = int(j.jobId())
        if not job_lo <= jid < job_hi:
            continue
        out["jobs"] += 1
        g = j.jobGroup()
        out["job_group"][jid] = g.get() if g.isDefined() else None
        tasks = 0
        sids = j.stageIds()
        for k in range(sids.size()):
            sid = int(sids.apply(k))
            if sid in seen:
                continue
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - a stage that never ran
                continue
            if st.status().toString() == "SKIPPED":
                continue
            seen.add(sid)
            out["stages"] += 1
            tasks += int(st.numTasks())
            out["run_ms"] += int(st.executorRunTime())
            out["cpu_ns"] += int(st.executorCpuTime())
            out["gc_ms"] += int(st.jvmGcTime())
            out["shuffle_write_b"] += int(st.shuffleWriteBytes())
            out["spill_b"] += int(st.memoryBytesSpilled()) + int(
                st.diskBytesSpilled()
            )
        out["tasks"] += tasks
        out["job_tasks"][jid] = tasks
    return out
