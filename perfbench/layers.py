"""Per-layer metrics of a traced run, averaged per timed pass.

The layers are the program's modules. Times are the sum of span
durations in a pass; job, stage and task figures come from the Spark
event log, attributed to the innermost span a job was submitted in.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict

import spans as tr

# the per-layer metrics, (name, unit), as BENCHMARK.json declares them
with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")) as _f:
    PER_LAYER = [(m["name"], m["unit"]) for m in json.load(_f)["per_layer"]]


def per_layer(spans, jobs, per_stage, passes, cpus, build_s, batch_wall_s, ops_stats) -> dict:
    """Per-pass averages over the timed passes of a traced run. The tracing
    overhead is ``trace.batch_wall_s`` minus ``batch_wall_s`` of an
    untraced run of the same workload."""
    n = len(passes)
    by_name: dict[str, list[int]] = defaultdict(list)
    for i, s in enumerate(spans):
        by_name[s.name].append(i)
    owned = tr.attribute_jobs(spans, jobs)

    def dur(name: str) -> float:
        return sum(spans[i].dur for i in by_name[name])

    def jobs_in(name: str, subtree: bool = False) -> list[tr.Job]:
        idx = set(by_name[name])
        if subtree:
            idx = set().union(*(tr.descendants(spans, i) for i in idx)) if idx else set()
        return [j for i in idx for j in owned.get(i, [])]

    def stages_of(js: list[tr.Job]) -> list[tr.TaskAgg]:
        ids = {sid for j in js for sid in j.stage_ids}
        return [per_stage[s] for s in ids if s in per_stage]

    def attr_sum(name: str, key: str) -> float:
        return sum(spans[i].attrs.get(key, 0) for i in by_name[name])

    construct_jobs = jobs_in("operators.construct")
    exec_stages = stages_of(jobs_in("exec"))
    exec_s = dur("exec")
    task_run = sum(a.run_s for a in exec_stages)
    ops = [o for p in passes for o in p["ops"]]
    quality = [row for o in ops for row in o.get("quality_rows", [])]
    audit_files = sum(
        1 for o in ops for (path, _ino) in o.get("files_created", {}) if "/audit/ingestion_log/" in path
    )

    v = {
        "session.build_s": build_s,
        "io.table_calls": len(by_name["io.table"]),
        "io.table_s": dur("io.table"),
        "io.table_jobs": len(jobs_in("io.table")),
        # the registry callable minus the scans it opened
        "operators.construct_s": dur("operators.construct") - dur("io.table"),
        "operators.construct_jobs": len(construct_jobs),
        "operators.construct_tasks": sum(a.tasks for a in stages_of(construct_jobs)),
        "plan.s": dur("plan"),
        "exec.s": exec_s,
        "exec.jobs": len(jobs_in("exec")),
        "exec.stages": sum(1 for a in exec_stages if a.tasks),
        "exec.tasks": sum(a.tasks for a in exec_stages),
        "exec.task_run_s": task_run,
        "exec.scheduler_delay_s": sum(a.sched_delay_s for a in exec_stages),
        "exec.shuffle_write_bytes": sum(a.shuffle_write for a in exec_stages),
        "exec.shuffle_read_bytes": sum(a.shuffle_read for a in exec_stages),
        "exec.spill_bytes": sum(a.spill for a in exec_stages),
        "exec.gc_s": sum(a.gc_s for a in exec_stages),
        "exec.failed_tasks": sum(a.failed for a in exec_stages),
        "cache.relations_left": sum(o["cache_relations"] for o in ops),
        "cache.bytes_left": sum(o["cache_bytes"] for o in ops),
        "sources.to_df_s": dur("sources.to_df"),
        "bronze.s": dur("bronze"),
        "bronze.jobs": len(jobs_in("bronze", subtree=True)),
        "bronze.rows_loaded": attr_sum("audit.end_run", "loaded"),
        "bronze.rows_quarantined": attr_sum("audit.end_run", "failed"),
        "audit.appends": len(by_name["audit.start_run"]) + len(by_name["audit.end_run"]),
        "audit.s": dur("audit.start_run") + dur("audit.end_run"),
        "audit.files_written": audit_files,
        "silver.s": dur("silver"),
        "sinks.upsert_calls": len(by_name["sinks.upsert"]),
        "sinks.upsert_s": dur("sinks.upsert"),
        "sinks.bytes_written": attr_sum("sinks.upsert", "bytes_written"),
        "sinks.bytes_rewritten": attr_sum("sinks.upsert", "bytes_rewritten"),
        "quality.s": dur("quality"),
        "quality.checks_run": len(quality),
        "quality.checks_failed": sum(1 for row in quality if not row[4]),
        "gold.s": dur("gold"),
        "gold.jobs": len(jobs_in("gold", subtree=True)),
    }
    # everything above is a total over the run
    v = {k: x / n for k, x in v.items()}
    v["session.build_s"] = build_s
    v["exec.core_busy_ratio"] = task_run / (exec_s * cpus) if exec_s else 0.0
    v["write_amp"] = statistics.median(p.get("write_amp", 0.0) for p in passes)
    v["space_amp"] = statistics.median(p.get("space_amp", 0.0) for p in passes)
    v["op_fail_ratio"] = sum(o["failed"] for o in ops) / len(ops)
    v.update(ops_stats)
    v["trace.batch_wall_s"] = batch_wall_s
    return {name: {"value": v[name], "unit": unit} for name, unit in PER_LAYER}
