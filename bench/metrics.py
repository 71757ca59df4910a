"""Turns one run's raw record (spans, passes, listener events) into the
benchmark's end-to-end and per-layer metrics.

Times are epoch milliseconds. A pass's operations run one after another,
so an event is attributed to the operation whose span holds its start.
"""
import statistics


def union_ms(intervals):
    """Length of the union of [start, end) intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_ms(start, end, children):
    """A span's duration minus the part of it its children cover."""
    clipped = [(max(s, start), min(e, end)) for s, e in children]
    return (end - start) - union_ms(clipped)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def _ops(record, passes):
    return [s for s in record["spans"] if s["kind"] == "op" and s["pass"] in passes]


def _within(t, ops):
    return any(o["start"] <= t <= o["end"] for o in ops)


def end_to_end(record, flagship):
    walls = [p["wall_ms"] for p in record["passes"]]
    flag = [s["end"] - s["start"] for s in _ops(record, set(range(1, len(walls))))
            if s["name"] == flagship]
    return {
        "setup_s": (record["setup_s"], "s"),
        "cold_s": (walls[0] / 1e3, "s"),
        "warm_s": (median(walls[1:]) / 1e3, "s"),
        "flagship_ms": (median(flag), "ms"),
        "peak_rss_mb": (record["peak_rss_mb"], "MB"),
    }


def per_pass(record, p):
    """Layer figures of one traced pass."""
    ops = _ops(record, {p})
    kids = [s for s in record["spans"] if s["pass"] == p and s["parent"] >= 0]
    builds = [(s["start"], s["end"]) for s in kids if s["kind"] == "build"]
    jobs = [j for j in record["jobs"] if _within(j["start"], ops)]
    stages = [s for s in record["stages"] if _within(s["submitted"], ops)]
    qes = [q for q in record["queries"] if q["pass"] == p]
    cpu = sum(s["cpu_ms"] for s in stages)
    run = sum(s["run_ms"] for s in stages)
    walls = [s["completed"] - s["submitted"] for s in stages if s["tasks"] > 1]
    longest = [s["max_task_ms"] for s in stages if s["tasks"] > 1]
    mb = 1048576.0
    return {
        "sparkentry.build_ms": sum(e - s for s, e in builds),
        "sparkentry.build_jobs": sum(
            1 for j in jobs if any(s <= j["start"] <= e for s, e in builds)),
        "catalyst.analysis_ms": sum(q["analysis_ms"] for q in qes),
        "catalyst.optimize_ms": sum(q["optimize_ms"] for q in qes),
        "catalyst.plan_ms": sum(q["plan_ms"] for q in qes),
        "tables.input_mb": sum(s["input_bytes"] for s in stages) / mb,
        "tables.input_rows": sum(s["input_rows"] for s in stages),
        "exec.cpu_ms": cpu,
        "exec.run_ms": run,
        "exec.gc_ms": sum(s["gc_ms"] for s in stages),
        "exec.blocked_ratio": run / cpu if cpu else 0.0,
        "exec.stages": len(stages),
        "exec.tasks": sum(s["tasks"] for s in stages),
        "exec.max_task_share": sum(longest) / sum(walls) if sum(walls) else 0.0,
        "fan.one_task_stage_ms": sum(s["run_ms"] for s in stages if s["tasks"] == 1),
        "shuffle.write_mb": sum(s["shuffle_write_bytes"] for s in stages) / mb,
        "shuffle.read_mb": sum(s["shuffle_read_bytes"] for s in stages) / mb,
        "shuffle.fetch_wait_ms": sum(s["fetch_wait_ms"] for s in stages),
        "shuffle.spill_mb": sum(s["spill_bytes"] for s in stages) / mb,
        "driver.jobs": len(jobs),
        "driver.gap_ms": sum(self_ms(o["start"], o["end"],
                                     [(j["start"], j["end"]) for j in jobs])
                             for o in ops),
        "driver.accum_errors": sum(1 for t in record["accum_errors"] if _within(t, ops)),
        "artifacts.reused": sum(q["artifact_scans"] for q in qes),
        "sinks.csv_ms": sum(s["end"] - s["start"] for s in kids if s["kind"] == "sink"),
    }


PER_LAYER_UNITS = {
    "sparkentry.build_ms": "ms", "sparkentry.build_jobs": "count",
    "catalyst.analysis_ms": "ms", "catalyst.optimize_ms": "ms",
    "catalyst.plan_ms": "ms", "tables.input_mb": "MB",
    "tables.input_rows": "count", "exec.cpu_ms": "ms", "exec.run_ms": "ms",
    "exec.gc_ms": "ms", "exec.blocked_ratio": "ratio", "exec.stages": "count",
    "exec.tasks": "count", "exec.max_task_share": "ratio",
    "fan.one_task_stage_ms": "ms", "shuffle.write_mb": "MB",
    "shuffle.read_mb": "MB", "shuffle.fetch_wait_ms": "ms",
    "shuffle.spill_mb": "MB", "driver.jobs": "count", "driver.gap_ms": "ms",
    "driver.accum_errors": "count", "artifacts.built": "count",
    "artifacts.reused": "count", "artifacts.mb": "MB", "sinks.csv_ms": "ms",
    "sinks.csv_mb": "MB", "trace.overhead_pct": "%",
}


def per_layer(record):
    """Medians over the traced warm passes, plus the run-wide figures."""
    passes = record["passes"]
    traced = [p["pass"] for p in passes[1:] if p["traced"]]
    untraced = [p["wall_ms"] for p in passes[1:] if not p["traced"]]
    rows = [per_pass(record, p) for p in traced]
    out = {k: median([r[k] for r in rows]) for k in rows[0]} if rows else {}
    traced_wall = median([passes[p]["wall_ms"] for p in traced])
    out["artifacts.built"] = sum(a["built"] for a in record["artifacts_built"])
    out["artifacts.mb"] = record["artifact_mb"]
    out["sinks.csv_mb"] = record["csv_mb"]
    out["trace.overhead_pct"] = (
        100.0 * (traced_wall - median(untraced)) / median(untraced)
        if untraced else 0.0)
    return {k: (out[k], PER_LAYER_UNITS[k]) for k in PER_LAYER_UNITS}


def per_query_warm_ms(record):
    ops = _ops(record, {p["pass"] for p in record["passes"][1:]})
    names = sorted({o["name"] for o in ops})
    return {n: median([o["end"] - o["start"] for o in ops if o["name"] == n])
            for n in names}
