"""Spans around calls into the package's layers, and the Spark event
log folded onto them.

Nothing in the package is edited: :meth:`Tracer.install` replaces
public functions and methods at runtime with wrappers that open a span,
tag the Spark jobs started inside it with a job group (``span-<id>``),
and record the result counts the per-layer metrics need. Spans live in
memory; :func:`fold_event_log` reads the uncompressed, non-rolling
event log after the session stops and adds jobs, stages, tasks, task
times and shuffle, spill, input and output bytes to the span whose
group tagged each job. A span's self time is its duration minus the
part its child spans cover.
"""

from __future__ import annotations

import functools
import itertools
import json
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP_PREFIX = "span-"

COUNTERS = ("jobs", "stages", "tasks", "task_run_s", "task_wait_s",
            "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "input_mb",
            "output_mb", "output_rows")


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    counters: dict = field(default_factory=lambda: dict.fromkeys(COUNTERS, 0))

    @property
    def s(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder with Spark job-group tagging."""

    def __init__(self):
        self.spans: list[Span] = []
        self.op: int | None = None
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main_stack: list[Span] = []

    def _stack(self) -> list[Span]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        from pyspark import SparkContext

        stack = self._stack()
        # a pool worker's first span hangs under the main thread's span
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None)
        sp = Span(next(self._ids), name, parent.id if parent else None,
                  self.op, 0.0, attrs=attrs)
        sc = SparkContext._active_spark_context
        if sc is not None:
            prev = (sc.getLocalProperty("spark.jobGroup.id"),
                    sc.getLocalProperty("spark.job.description"))
            sc.setJobGroup(f"{GROUP_PREFIX}{sp.id}", name)
        stack.append(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            if sc is not None and SparkContext._active_spark_context is sc:
                sc.setLocalProperty("spark.jobGroup.id", prev[0])
                sc.setLocalProperty("spark.job.description", prev[1])
            with self._lock:
                self.spans.append(sp)

    # -- runtime wrapping ---------------------------------------------------

    def _wrapper(self, orig, name, on_result):
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name) as sp:
                res = orig(*args, **kwargs)
                if on_result is not None:
                    on_result(sp, args, res)
                return res

        return wrapper

    @staticmethod
    def _patch(module, attr: str, new) -> None:
        """Point ``module.attr`` and every by-name import of it at ``new``."""
        orig = getattr(module, attr)
        for mod_name, mod in list(sys.modules.items()):
            if (mod_name.startswith("datanika_core_spark")
                    and getattr(mod, attr, None) is orig):
                setattr(mod, attr, new)

    def wrap_function(self, module, attr: str, name: str, on_result=None):
        self._patch(module, attr,
                    self._wrapper(getattr(module, attr), name, on_result))

    def wrap_method(self, cls, attr: str, name: str, on_result=None):
        setattr(cls, attr, self._wrapper(cls.__dict__[attr], name, on_result))

    def install(self) -> None:
        """Wrap every layer boundary the per-layer metrics read."""
        from datanika_core_spark import blocks, ingest, session
        from datanika_core_spark.operators import incremental, scd2, writers
        from datanika_core_spark.orchestration import catalog_meta, dependencies, runs
        from datanika_core_spark.plans import materialize, model_tests, preview, runner
        from datanika_core_spark.sources import filesystem

        self.wrap_function(session, "build_spark", "session.build_spark")
        self.wrap_function(session, "read_table", "session.read_table")

        orig_release = blocks.release_blocks

        def counted_release(spark):
            n = len(list(spark.sparkContext._jsc.getPersistentRDDs().keys()))
            with self.span("blocks.release_blocks", released=n):
                return orig_release(spark)

        self._patch(blocks, "release_blocks", counted_release)
        self.wrap_method(filesystem.FilesystemSource, "read",
                         "sources.filesystem.read")

        def wrap_commit(sp, args, res):
            res.commit = self._wrapper(res.commit,
                                       "operators.incremental.commit", None)

        self.wrap_function(incremental, "apply_incremental",
                           "operators.incremental.apply", wrap_commit)
        self.wrap_method(ingest.IngestionJob, "run", "ingest.run",
                         lambda sp, a, r: sp.attrs.update(rows=r.rows_loaded))
        self.wrap_method(writers.TableWriter, "write", "operators.writers.write",
                         lambda sp, a, r: sp.attrs.update(rows=r.rows_loaded))
        self.wrap_method(runner.ModelRunner, "invoke", "plans.runner.invoke",
                         lambda sp, a, r: sp.attrs.update(command=r.command))
        self.wrap_method(
            materialize.Materializer, "run_model", "plans.materialize.run_model",
            lambda sp, a, r: sp.attrs.update(
                materialization=a[0].registry.get(a[1]).materialization))
        self.wrap_function(model_tests, "run_test", "plans.model_tests.run_test")
        self.wrap_function(preview, "preview", "plans.preview")
        self.wrap_method(scd2.SnapshotRunner, "run", "operators.scd2.run",
                         lambda sp, a, r: sp.attrs.update(rows=r))
        for method in ("create", "start", "complete"):
            self.wrap_method(runs.RunLedger, method, "orchestration.runs")
        self.wrap_method(dependencies.DependencyGraph, "check_gate",
                         "orchestration.dependencies.check_gate")
        self.wrap_method(catalog_meta.CatalogStore, "sync_from_database",
                         "orchestration.catalog_meta.sync")


# -- event log ---------------------------------------------------------------


def fold_event_log(path, spans: list[Span]) -> dict:
    """Add the Spark counters of every tagged job to its span.

    Returns the counters of jobs no span tagged (``untagged``).
    """
    by_group = {f"{GROUP_PREFIX}{sp.id}": sp for sp in spans}
    untagged = dict.fromkeys(COUNTERS, 0)
    stage_owner: dict[int, dict] = {}
    stage_submit: dict[int, int] = {}
    mb = 1 / (1024 * 1024)
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                sp = by_group.get(group)
                c = sp.counters if sp is not None else untagged
                c["jobs"] += 1
                for sid in ev["Stage IDs"]:
                    stage_owner.setdefault(sid, c)
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                stage_submit[info["Stage ID"]] = info.get("Submission Time", 0)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                c = stage_owner.get(info["Stage ID"], untagged)
                c["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                c = stage_owner.get(ev["Stage ID"], untagged)
                m = ev.get("Task Metrics") or {}
                info = ev["Task Info"]
                c["tasks"] += 1
                c["task_run_s"] += m.get("Executor Run Time", 0) / 1000
                submitted = stage_submit.get(ev["Stage ID"])
                if submitted:
                    c["task_wait_s"] += max(0, info["Launch Time"] - submitted) / 1000
                sw = m.get("Shuffle Write Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                c["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) * mb
                c["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0)
                                         + sr.get("Local Bytes Read", 0)) * mb
                c["spill_mb"] += (m.get("Memory Bytes Spilled", 0)
                                  + m.get("Disk Bytes Spilled", 0)) * mb
                c["input_mb"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0) * mb
                out = m.get("Output Metrics") or {}
                c["output_mb"] += out.get("Bytes Written", 0) * mb
                c["output_rows"] += out.get("Records Written", 0)
    return untagged


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the union of its children's intervals."""
    kids: dict[int, list[Span]] = defaultdict(list)
    for sp in spans:
        if sp.parent is not None:
            kids[sp.parent].append(sp)
    out = {}
    for sp in spans:
        covered, cur_start, cur_end = 0.0, None, None
        for k in sorted(kids.get(sp.id, ()), key=lambda k: k.start):
            s, e = max(k.start, sp.start), min(k.end, sp.end)
            if e <= s:
                continue
            if cur_end is None or s > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = s, e
            else:
                cur_end = max(cur_end, e)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[sp.id] = sp.s - covered
    return out


def dump(spans: list[Span], path) -> None:
    """Write the spans as JSON lines (name, start, end, parent, op id)."""
    with open(path, "w") as fh:
        for sp in spans:
            fh.write(json.dumps({
                "id": sp.id, "name": sp.name, "parent": sp.parent, "op": sp.op,
                "start": round(sp.start, 6), "end": round(sp.end, 6),
                "attrs": sp.attrs,
                "counters": {k: round(v, 6) for k, v in sp.counters.items()},
            }) + "\n")
