"""Spans around calls into the program's layers, and the Spark event log.

Everything here is installed from the benchmark's side: the wrappers
replace module attributes of the imported program for the life of one
traced run, and the spans stay in memory until the run writes them out.
Jobs are attributed to the innermost span whose interval holds the
job's submission time, so jobs fired from operator worker threads (which
do not inherit Spark's job group) land in the right layer too.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import sys
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

from workloads import FileState

PKG = "doeecommerce_datapipeline_spark"


@dataclass
class Span:
    name: str
    op: str
    start: float  # epoch seconds, comparable with event-log timestamps
    end: float
    parent: int | None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. ``span`` is a context manager; the
    per-thread stack gives each span its parent. ``op`` names the
    operation every span belongs to (one query run, one daily batch)."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.op = ""
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str, **attrs):
        return _SpanCtx(self, name, attrs)

    def wrap(self, name: str, fn, on_exit=None):
        """Return ``fn`` wrapped in a span; ``on_exit(span, args,
        kwargs, result)`` may add attributes to the finished span."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name) as sp:
                result = fn(*args, **kwargs)
                if on_exit is not None:
                    on_exit(sp, args, kwargs, result)
                return result

        return wrapper

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(
                    json.dumps(
                        {
                            "id": i,
                            "name": s.name,
                            "op": s.op,
                            "start": s.start,
                            "end": s.end,
                            "parent": s.parent,
                            **s.attrs,
                        }
                    )
                    + "\n"
                )


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.tracer, self.name, self.attrs = tracer, name, attrs

    def __enter__(self) -> Span:
        t = self.tracer
        stack = t._stack()
        self.span = Span(self.name, t.op, time.time(), 0.0, stack[-1] if stack else None, self.attrs)
        with t._lock:
            t.spans.append(self.span)
            self.idx = len(t.spans) - 1
        stack.append(self.idx)
        return self.span

    def __exit__(self, *exc) -> None:
        self.span.end = time.time()
        self.tracer._stack().pop()


class Wrappers:
    """Installs spans around the public functions the per-layer metrics
    need, and restores the originals on ``remove``."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self._saved: list[tuple[object, str, object]] = []

    def _patch(self, owner, attr: str, new) -> None:
        self._saved.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def _patch_everywhere(self, fn, new) -> None:
        for name, mod in list(sys.modules.items()):
            if name.startswith(f"{PKG}.") and getattr(mod, fn.__name__, None) is fn:
                self._patch(mod, fn.__name__, new)

    def install(self) -> None:
        from doeecommerce_datapipeline_spark import io
        from doeecommerce_datapipeline_spark.audit.ledger import AuditLedger
        from doeecommerce_datapipeline_spark.sinks import parquet_sinks
        from doeecommerce_datapipeline_spark.sources.rest import RecordsSource

        tr = self.tracer
        # operators bind ``table`` and ``upsert`` at import time: patch
        # every module that holds the original
        self._patch_everywhere(io.table, tr.wrap("io.table", io.table))

        def upsert_exit_attrs(fn):
            @functools.wraps(fn)
            def wrapper(spark, updates, path, keys):
                before = FileState.scan(path).total()
                with tr.span("sinks.upsert", path=path) as sp:
                    fn(spark, updates, path, keys)
                sp.attrs["bytes_rewritten"] = before
                sp.attrs["bytes_written"] = FileState.scan(path).total()
                return None

            return wrapper

        self._patch_everywhere(parquet_sinks.upsert, upsert_exit_attrs(parquet_sinks.upsert))

        def ledger_exit(sp, args, kwargs, result):
            sp.attrs.update(loaded=kwargs.get("loaded", 0), failed=kwargs.get("failed", 0))

        self._patch(RecordsSource, "to_df", tr.wrap("sources.to_df", RecordsSource.to_df))
        self._patch(AuditLedger, "start_run", tr.wrap("audit.start_run", AuditLedger.start_run))
        self._patch(AuditLedger, "end_run", tr.wrap("audit.end_run", AuditLedger.end_run, ledger_exit))

    def remove(self) -> None:
        for owner, attr, old in reversed(self._saved):
            setattr(owner, attr, old)
        self._saved.clear()


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


@dataclass
class Job:
    job_id: int
    submit: float  # epoch seconds
    group: str | None
    stage_ids: list[int]


@dataclass
class TaskAgg:
    tasks: int = 0
    failed: int = 0
    run_s: float = 0.0
    sched_delay_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write: int = 0
    shuffle_read: int = 0
    spill: int = 0


def read_event_logs(log_dir: str) -> tuple[list[Job], dict[int, TaskAgg]]:
    """Parse the newest event log in ``log_dir`` (stage ids restart with
    each SparkContext). Returns the jobs and per-stage task aggregates."""
    files = sorted(glob.glob(os.path.join(log_dir, "*")), key=os.path.getmtime)
    files = [f for f in files if not f.endswith(".inprogress")]
    jobs: list[Job] = []
    per_stage: dict[int, TaskAgg] = defaultdict(TaskAgg)
    if not files:
        return jobs, per_stage
    with open(files[-1]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs.append(
                    Job(
                        ev["Job ID"],
                        ev["Submission Time"] / 1000.0,
                        props.get("spark.jobGroup.id"),
                        list(ev.get("Stage IDs", [])),
                    )
                )
            elif kind == "SparkListenerTaskEnd":
                agg = per_stage[ev["Stage ID"]]
                info = ev.get("Task Info", {})
                m = ev.get("Task Metrics") or {}
                agg.tasks += 1
                if info.get("Failed") or ev.get("Task End Reason", {}).get("Reason") not in (
                    None,
                    "Success",
                ):
                    agg.failed += 1
                run_ms = m.get("Executor Run Time", 0)
                dur_ms = info.get("Finish Time", 0) - info.get("Launch Time", 0)
                overhead = (
                    run_ms
                    + m.get("Executor Deserialize Time", 0)
                    + m.get("Result Serialization Time", 0)
                    + info.get("Getting Result Time", 0)
                )
                agg.run_s += run_ms / 1000.0
                agg.sched_delay_s += max(0, dur_ms - overhead) / 1000.0
                agg.gc_s += m.get("JVM GC Time", 0) / 1000.0
                sw = m.get("Shuffle Write Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                agg.shuffle_write += sw.get("Shuffle Bytes Written", 0)
                agg.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                agg.spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return jobs, per_stage


def attribute_jobs(spans: list[Span], jobs: list[Job]) -> dict[int, list[Job]]:
    """Map span index -> the jobs submitted while it was the innermost
    (shortest) open span. A job submitted outside every span, but
    carrying a span's job group, goes to that span."""
    by_group = {s.attrs["group"]: i for i, s in enumerate(spans) if s.attrs.get("group")}
    out: dict[int, list[Job]] = defaultdict(list)
    for job in jobs:
        inside = [i for i, s in enumerate(spans) if s.start <= job.submit <= s.end]
        if inside:
            out[min(inside, key=lambda i: spans[i].dur)].append(job)
        elif job.group in by_group:
            out[by_group[job.group]].append(job)
    return out


def descendants(spans: list[Span], root: int) -> set[int]:
    children: dict[int, list[int]] = defaultdict(list)
    for i, s in enumerate(spans):
        if s.parent is not None:
            children[s.parent].append(i)
    seen, todo = set(), [root]
    while todo:
        i = todo.pop()
        seen.add(i)
        todo.extend(children[i])
    return seen
