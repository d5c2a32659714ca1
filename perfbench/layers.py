"""Per-layer metrics of a traced run.

Each traced op is a span; its build / plan / exec children, tile-cache
calls and the Spark jobs charged to any of them (event log, by job
group) give the layer split. Figures are means per traced op unless the
name says otherwise, so runs of different lengths compare.
"""

from __future__ import annotations

from perfbench import stats
from perfbench.session import task_slots
from perfbench.trace import read_event_log, subtree_ids

PHASES = ("build", "plan", "exec")

# event-log field -> (metric, unit)
SPARK_FIELDS = {
    "jobs": ("spark.jobs", "count"),
    "stages": ("spark.stages", "count"),
    "tasks": ("spark.tasks", "count"),
    "task_s": ("spark.task_s", "s"),
    "task_cpu_s": ("spark.task_cpu_s", "s"),
    "gc_s": ("spark.gc_s", "s"),
    "shuffle_write_bytes": ("spark.shuffle_write_bytes", "bytes"),
    "shuffle_read_bytes": ("spark.shuffle_read_bytes", "bytes"),
    "spill_bytes": ("spark.spill_bytes", "bytes"),
    "files_read": ("table_ops.files_read", "count"),
    "bytes_read": ("table_ops.bytes_read", "bytes"),
    "records_read": ("table_ops.rows_read", "count"),
    "python_sent": ("python.bytes_sent", "bytes"),
    "python_received": ("python.bytes_received", "bytes"),
    "python_stage_task_s": ("python.stage_task_s", "s"),
}

# counts and ratios the workload measures itself
EXTRA_UNITS = {
    "table.files": "count", "table.bytes_per_row": "bytes",
    "mvt.features": "count", "mvt.blob_bytes": "bytes",
    "tile_cache.hit_ratio": "ratio", "tile_cache.keys_invalidated": "count",
    "tile_cache.files": "count",
    "ingest.rows": "count", "ingest.rejected_ratio": "ratio",
}


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(samples, spans, event_dir, extra):
    """(metrics {name: (value, unit)}, per-op-type split for the detail)."""
    by_id = {s["id"]: s for s in spans}
    tree = subtree_ids(spans)
    agg = read_event_log(event_dir)
    kids: dict[str, dict[str, dict]] = {}
    for s in spans:
        if s["parent"]:
            kids.setdefault(s["parent"], {})[s["name"]] = s

    def dur(s):
        return s["end"] - s["start"]

    def charged(span_id, field):
        return sum(agg.get(g, {}).get(field, 0.0) for g in tree[span_id])

    traced = [s for s in samples if s["traced"]]
    ops = [by_id[s["span"]] for s in traced]
    split = [o for o in ops if "build" in kids.get(o["id"], {})]
    wall = sum(dur(o) for o in ops)

    m: dict[str, tuple[float, str]] = {}
    for ph in PHASES:
        m[f"split.{ph}_s"] = (_mean(dur(kids[o["id"]][ph]) for o in split), "s")
    phase_sum = sum(dur(kids[o["id"]][ph]) for o in split for ph in PHASES)
    m["split.unaccounted_ratio"] = (
        1.0 - phase_sum / max(1e-9, sum(dur(o) for o in split)), "ratio")
    m["api.build_jobs"] = (_mean(charged(kids[o["id"]]["build"]["id"], "jobs")
                                 for o in split), "count")
    m["driver.cpu_s"] = (_mean(o["cpu_s"] for o in ops), "s")
    m["sources.read_s"] = (stats.median(dur(s) for s in spans
                                        if s["name"] == "sources.read"), "s")
    for field, (name, unit) in SPARK_FIELDS.items():
        m[name] = (_mean(charged(o["id"], field) for o in ops), unit)
    task_s = sum(charged(o["id"], "task_s") for o in ops)
    m["spark.slot_idle_ratio"] = (1.0 - task_s / max(1e-9, wall * task_slots()), "ratio")
    cache_s = sum(dur(s) for s in spans if s["name"].startswith("tile_cache."))
    m["tile_cache.time_share"] = (cache_s / max(1e-9, wall), "ratio")
    for call in ("get", "put", "invalidate"):
        m[f"tile_cache.{call}_s"] = (_mean(dur(s) for s in spans
                                           if s["name"] == f"tile_cache.{call}"), "s")
    for name, unit in EXTRA_UNITS.items():
        m[name] = (float(extra.get(name, 0.0)), unit)
    m["trace.overhead_ratio"] = (
        stats.cycle_time(traced) / max(1e-9, stats.cycle_time(
            [s for s in samples if not s["traced"]])), "ratio")

    op_split: dict[str, dict[str, float]] = {}
    for op in sorted({o["op"] for o in split}):
        mine = [o for o in split if o["op"] == op]
        row = {ph + "_s": _mean(dur(kids[o["id"]][ph]) for o in mine) for ph in PHASES}
        row["wall_s"] = _mean(dur(o) for o in mine)
        row["build_jobs"] = _mean(charged(kids[o["id"]]["build"]["id"], "jobs") for o in mine)
        row["jobs"] = _mean(charged(o["id"], "jobs") for o in mine)
        op_split[op] = row
    for name in ("tile_cache.get", "tile_cache.put", "tile_cache.invalidate"):
        calls = [dur(s) for s in spans if s["name"] == name]
        op_split[name] = {"calls": len(calls), "mean_s": _mean(calls)}
    return m, op_split
