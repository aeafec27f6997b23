"""Per-layer metrics of one traced pass, from the harness's records.

Each metric is a sum over the pass unless its name says otherwise; the
benchmark reports the median over a run's traced passes.
"""
from . import spans as sp
from .stats import median

STREAM_PHASES = {
    "stream.add_batch_s": ("addBatch",),
    "stream.query_planning_s": ("queryPlanning",),
    "stream.source_s": ("getBatch", "latestOffset"),
    "stream.wal_commit_s": ("walCommit",),
    "stream.commit_offsets_s": ("commitOffsets",),
}


def skew(stages):
    """Median over stages of max task time / median task time. Stages with
    fewer than two tasks or a zero median carry no skew signal."""
    ratios = []
    for st in stages:
        times = st["task_ms"]
        if len(times) >= 2 and median(times) > 0:
            ratios.append(max(times) / median(times))
    return median(ratios) if ratios else 1.0


def pass_layers(record, cpus):
    """{metric: value} for one traced pass record."""
    queries = record["queries"]
    trace = record["trace"]
    jobs, stages, actions, batches = (trace[k] for k in ("jobs", "stages", "actions", "batches"))
    tree = sp.build_tree(record)
    wall = sum(q["total_s"] for q in queries)
    ran = {st["id"] for st in stages}
    task_s = sum(st["run_ms"] for st in stages) / 1e3
    m = {
        "queries.build_s": sum(q["build_s"] for q in queries),
        "plan.actions": len(actions),
        "plan.analysis_s": sum(a["analysis_ms"] for a in actions) / 1e3,
        "plan.optimization_s": sum(a["optimization_ms"] for a in actions) / 1e3,
        "plan.planning_s": sum(a["planning_ms"] for a in actions) / 1e3,
        "sched.jobs": len(jobs),
        "sched.stages": len(stages),
        "sched.stages_skipped": sum(len(set(j["stage_ids"]) - ran) for j in jobs),
        "sched.tasks": sum(st["tasks"] for st in stages),
        "sched.driver_gap_s": sum(sp.driver_gap(tree, s) for s in tree if s.kind == "query") / 1e3,
        "sched.core_busy": task_s / (wall * cpus) if wall > 0 else 0.0,
        "task.run_s": task_s,
        "task.cpu_s": sum(st["cpu_ns"] for st in stages) / 1e9,
        "task.gc_s": sum(st["gc_ms"] for st in stages) / 1e3,
        "task.deser_s": sum(st["deser_ms"] for st in stages) / 1e3,
        "task.failed": sum(st["failed_tasks"] for st in stages),
        "task.skew": skew(stages),
        "scan.bytes": sum(st["in_bytes"] for st in stages),
        "scan.rows": sum(st["in_rows"] for st in stages),
        "shuffle.write_bytes": sum(st["shuffle_write_bytes"] for st in stages),
        "shuffle.read_bytes": sum(st["shuffle_read_bytes"] for st in stages),
        "shuffle.fetch_wait_s": sum(st["fetch_wait_ms"] for st in stages) / 1e3,
        "spill.mem_bytes": sum(st["spill_mem_bytes"] for st in stages),
        "spill.disk_bytes": sum(st["spill_disk_bytes"] for st in stages),
        "output.bytes": sum(st["out_bytes"] for st in stages),
        "output.rows": sum(st["out_rows"] for st in stages),
        "stream.batches": len(batches),
        "stream.input_rows": sum(b["input_rows"] for b in batches),
        "stream.late_rows_dropped": sum(b["late_rows_dropped"] for b in batches),
        "stream.state_commit_s": sum(b["state_commit_ms"] for b in batches) / 1e3,
        "fixture_s": sum(q["fixture_s"] for q in queries),
        "funnel.stage_s": sum(q["funnel_stage_s"] for q in queries),
    }
    for name, keys in STREAM_PHASES.items():
        m[name] = sum(b["duration_ms"].get(k, 0) for b in batches for k in keys) / 1e3
    # state held: each stream's largest state over its batches
    peak_rows, peak_bytes = {}, {}
    for b in batches:
        peak_rows[b["run_id"]] = max(peak_rows.get(b["run_id"], 0), b["state_rows"])
        peak_bytes[b["run_id"]] = max(peak_bytes.get(b["run_id"], 0), b["state_bytes"])
    m["stream.state_rows"] = sum(peak_rows.values())
    m["stream.state_bytes"] = sum(peak_bytes.values())
    return m


def batch_seconds(record):
    """triggerExecution time of every micro-batch in a traced pass."""
    return [b["duration_ms"].get("triggerExecution", 0) / 1e3 for b in record["trace"]["batches"]]
