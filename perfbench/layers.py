"""Per-layer metrics of a traced run, folded from its spans.

Times (``.s``) are self times: a span's duration minus the part its
child spans cover, summed over the timed operations and divided by
their number, so every per-layer count and time is *per operation*
(per query, or per daily cycle). Ratios are taken over the whole run.
A layer the workload does not run reports 0.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

import harness
from spans import self_times

E2E_UNITS = {"setup_s": "s", "ops_per_s": "1/s"}

#: spans reported as <name>.s and <name>.jobs
_SPAN_LAYERS = (
    "session.read_table",
    "workloads.build",
    "exec",
    "blocks.release_blocks",
    "sources.filesystem.read",
    "ingest.run",
    "operators.writers.write",
    "plans.materialize.run_model",
    "plans.model_tests.run_test",
    "plans.preview",
    "operators.scd2.run",
    "orchestration.runs",
    "orchestration.dependencies.check_gate",
    "orchestration.catalog_meta.sync",
)

MATERIALIZATIONS = ("view", "table", "incremental", "ephemeral")
COMMANDS = ("build", "snapshot")

UNITS: dict[str, str] = dict(E2E_UNITS)
for _name in _SPAN_LAYERS:
    UNITS[f"{_name}.s"] = "s"
    UNITS[f"{_name}.jobs"] = "count"
UNITS.update({
    "session.build_spark.s": "s",
    "session.read_table.calls": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_run_s": "s",
    "exec.task_wait_s": "s",
    "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.input_mb": "MB",
    "exec.collect_rows": "count",
    "exec.core_util": "ratio",
    "blocks.release_blocks.released": "count",
    "operators.incremental.apply_s": "s",
    "operators.incremental.commit_s": "s",
    "operators.incremental.jobs": "count",
    "ingest.run.wall_s": "s",
    "ingest.run.rows_loaded": "count",
    "operators.writers.write.bytes_written_mb": "MB",
    "operators.writers.write_amplification": "ratio",
    "operators.writers.target_files": "count",
    "operators.writers.rows_rewritten_per_row_loaded": "ratio",
    "plans.runner.level_overlap": "ratio",
    "operators.scd2.rows_rewritten_per_new_version": "ratio",
    "driver.jvm_peak_rss_mb": "MB",
    "driver.py_peak_rss_mb": "MB",
    "trace.op_p50_s": "s",
    "trace.ops_per_s": "1/s",
    "trace.untraced_s": "s",
    "trace.untraced_frac": "ratio",
    "trace.untagged_jobs": "count",
})
for _m in MATERIALIZATIONS:
    UNITS[f"plans.materialize.run_model.{_m}.s"] = "s"
for _c in COMMANDS:
    UNITS[f"plans.runner.invoke.{_c}.wall_s"] = "s"

PER_LAYER = [k for k in UNITS if k not in E2E_UNITS]


def per_layer(tracer, ops, wl, run, untagged: dict, e2e: dict) -> dict[str, float]:
    """Every per-layer metric of one traced run (``PER_LAYER`` order)."""
    all_spans = tracer.spans
    selfs = self_times(all_spans)
    timed = [sp for sp in all_spans if sp.op is not None]
    n = max(1, len(ops))
    by_name = defaultdict(list)
    for sp in timed:
        by_name[sp.name].append(sp)

    def self_s(name):
        return sum(selfs[sp.id] for sp in by_name[name])

    def counter(name, key):
        return sum(sp.counters[key] for sp in by_name[name])

    m = dict.fromkeys(PER_LAYER, 0.0)
    m["session.build_spark.s"] = sum(
        sp.s for sp in all_spans if sp.name == "session.build_spark")
    for name in _SPAN_LAYERS:
        m[f"{name}.s"] = self_s(name) / n
        m[f"{name}.jobs"] = counter(name, "jobs") / n
    m["session.read_table.calls"] = len(by_name["session.read_table"]) / n

    for key in ("stages", "tasks", "task_run_s", "task_wait_s", "shuffle_write_mb",
                "shuffle_read_mb", "spill_mb", "input_mb"):
        m[f"exec.{key}"] = counter("exec", key) / n
    m["exec.collect_rows"] = getattr(wl, "collect_rows", 0) / n
    exec_s = self_s("exec")
    if exec_s:
        m["exec.core_util"] = counter("exec", "task_run_s") / (exec_s * harness.CORES)
    m["blocks.release_blocks.released"] = sum(
        sp.attrs.get("released", 0) for sp in by_name["blocks.release_blocks"]) / n

    m["operators.incremental.apply_s"] = self_s("operators.incremental.apply") / n
    m["operators.incremental.commit_s"] = self_s("operators.incremental.commit") / n
    m["operators.incremental.jobs"] = (counter("operators.incremental.apply", "jobs")
                                       + counter("operators.incremental.commit", "jobs")) / n
    m["ingest.run.wall_s"] = sum(sp.s for sp in by_name["ingest.run"]) / n
    m["ingest.run.rows_loaded"] = sum(
        sp.attrs.get("rows", 0) for sp in by_name["ingest.run"]) / n

    writes = by_name["operators.writers.write"]
    written_mb = counter("operators.writers.write", "output_mb")
    m["operators.writers.write.bytes_written_mb"] = written_mb / n
    landed = getattr(wl, "timed_landed_bytes", 0)
    if landed:
        m["operators.writers.write_amplification"] = written_mb * 2**20 / landed
        m["operators.writers.target_files"] = wl.target_files()
    rows_loaded = sum(sp.attrs.get("rows", 0) for sp in writes)
    if rows_loaded:
        m["operators.writers.rows_rewritten_per_row_loaded"] = (
            counter("operators.writers.write", "output_rows") / rows_loaded)

    for sp in by_name["plans.materialize.run_model"]:
        mat = sp.attrs.get("materialization")
        if mat in MATERIALIZATIONS:
            m[f"plans.materialize.run_model.{mat}.s"] += selfs[sp.id] / n
    invokes = {c: [sp for sp in by_name["plans.runner.invoke"]
                   if sp.attrs.get("command") == c] for c in COMMANDS}
    for c, sps in invokes.items():
        m[f"plans.runner.invoke.{c}.wall_s"] = sum(sp.s for sp in sps) / n
    build_ids = {sp.id for sp in invokes["build"]}
    busy = sum(sp.s for sp in timed if sp.parent in build_ids
               and sp.name in ("plans.materialize.run_model", "plans.model_tests.run_test"))
    build_wall = sum(sp.s for sp in invokes["build"])
    if build_wall:
        m["plans.runner.level_overlap"] = busy / build_wall

    new_versions = sum(sp.attrs.get("rows", 0) for sp in by_name["operators.scd2.run"])
    if new_versions:
        m["operators.scd2.rows_rewritten_per_new_version"] = (
            counter("operators.scd2.run", "output_rows") / new_versions)

    m["driver.jvm_peak_rss_mb"] = run.jvm_peak_rss_mb
    m["driver.py_peak_rss_mb"] = run.py_peak_rss_mb()

    # op spans (op.query / op.cycle) are the roots; their direct children
    # are the layer calls, and what they leave uncovered is untraced time
    wall = sum(dt for _, dt, _ in ops)
    op_ids = {sp.id for sp in timed if sp.name.startswith("op.")}
    layer_s = sum(sp.s for sp in timed if sp.parent in op_ids)
    m["trace.untraced_s"] = (wall - layer_s) / n
    m["trace.untraced_frac"] = (wall - layer_s) / wall if wall else 0.0
    m["trace.untagged_jobs"] = untagged["jobs"]
    m["trace.op_p50_s"] = statistics.median(dt for _, dt, _ in ops)
    m["trace.ops_per_s"] = e2e["ops_per_s"]
    return m
