"""Per-layer metrics of a traced run, named ``<module>.<metric>``.

Times come from the benchmark's spans around each layer's public call in
the traced warm pass (``p<N>:`` job groups) or, for a layer the job does
not call on its own, from a probe span after that pass (``probe:``).
Stages, tasks, shuffle, spill, GC and executor time come from the Spark
event log, summed per span's job group. A layer the workload leaves idle
reports 0, so every traced run prints every metric.
"""

from __future__ import annotations

# every per-layer metric, in the order BENCHMARK.json lists them
PER_LAYER = {
    "session.start_s": "s",
    "sources.read_s": "s",
    "sources.edges_read": "count",
    "extract.s": "s",
    "extract.links": "count",
    "extract.cpu_s": "s",
    "graph.build_s": "s",
    "graph.vertices": "count",
    "graph.edges": "count",
    "graph.max_degree": "count",
    "graph.shuffle_write_bytes": "bytes",
    "graph.stages": "count",
    "plans.partition_skew": "ratio",
    "tc.s": "s",
    "tc.wedges": "count",
    "tc.triangles": "count",
    "tc.closure_ratio": "ratio",
    "tc.stages": "count",
    "tc.tasks": "count",
    "tc.shuffle_write_bytes": "bytes",
    "tc.task_busy_ratio": "ratio",
    "pagerank.s": "s",
    "pagerank.supersteps": "count",
    "pagerank.superstep_ms": "ms",
    "pagerank.jobs": "count",
    "pagerank.stages": "count",
    "pagerank.shuffle_write_bytes": "bytes",
    "pagerank.task_busy_ratio": "ratio",
    "cc.s": "s",
    "cc.supersteps": "count",
    "cc.components": "count",
    "cc.stages": "count",
    "cc.shuffle_write_bytes": "bytes",
    "lp.s": "s",
    "lp.superstep_ms": "ms",
    "lp.stages": "count",
    "lp.shuffle_write_bytes": "bytes",
    "supersteps.commits": "count",
    "supersteps.checkpoint_bytes": "bytes",
    "supersteps.checkpoint_files": "count",
    "pipeline.write_s": "s",
    "pipeline.output_bytes": "bytes",
    "cli.s": "s",
}
# modules whose spans also report GC time and spill
SPAN_MODULES = ("sources", "extract", "graph", "tc", "pagerank", "cc", "lp", "pipeline", "cli")
for _m in SPAN_MODULES:
    PER_LAYER[f"{_m}.gc_s"] = "s"
    PER_LAYER[f"{_m}.spill_bytes"] = "bytes"
PER_LAYER["tracing.overhead_s"] = "s"

# the time metric of each span module
TIME_NAME = {
    "sources": "sources.read_s",
    "extract": "extract.s",
    "graph": "graph.build_s",
    "tc": "tc.s",
    "pagerank": "pagerank.s",
    "cc": "cc.s",
    "lp": "lp.s",
    "pipeline": "pipeline.write_s",
    "cli": "cli.s",
}


def layer_metrics(wl, spans, groups, counts, last_pass, base_session, untraced_warm_s, cores) -> dict:
    """``spans``: the tracer's records; ``groups``: event-log sums per job
    group; ``counts``: the workload's probe counts; ``last_pass``: the
    traced warm pass record."""
    warm = f"p{last_pass['pass']}:"
    m = dict.fromkeys(PER_LAYER, 0)

    walls, barriers = {}, {}
    for sp in spans:
        walls[sp["group"]] = walls.get(sp["group"], 0.0) + sp["end"] - sp["start"]
        barriers[sp["group"]] = barriers.get(sp["group"], 0) + sp["barriers"]
    top = sum(sp["end"] - sp["start"] for sp in spans if sp["group"].startswith(warm) and sp["parent"] is None)
    walls[warm + wl.other_span] = last_pass["wall_s"] - top
    groups = dict(groups)
    groups[warm + wl.other_span] = groups.get(warm + "other", {})

    def group_of(mod: str) -> str | None:
        for g in (warm + mod, "probe:" + mod):
            if g in walls:
                return g
        return None

    for mod in SPAN_MODULES:
        g = group_of(mod)
        if g is None:
            continue
        ev = groups.get(g, {})
        wall = walls[g]
        m[TIME_NAME[mod]] = wall
        m[f"{mod}.gc_s"] = ev.get("gc_ms", 0) / 1000.0
        m[f"{mod}.spill_bytes"] = ev.get("spill_bytes", 0)
        for key in ("stages", "tasks", "shuffle_write_bytes", "jobs"):
            if f"{mod}.{key}" in m:
                m[f"{mod}.{key}"] = ev.get(key, 0)
        if f"{mod}.task_busy_ratio" in m and wall > 0:
            m[f"{mod}.task_busy_ratio"] = ev.get("run_ms", 0) / 1000.0 / (wall * cores)
        if mod in ("pagerank", "cc", "lp"):
            # one localCheckpoint barrier per superstep plus the initial state
            steps = max(0, barriers[g] - 1)
            if mod != "lp":
                m[f"{mod}.supersteps"] = steps
            if f"{mod}.superstep_ms" in m and steps:
                m[f"{mod}.superstep_ms"] = wall * 1000.0 / steps
        if mod == "extract":
            m["extract.cpu_s"] = ev.get("cpu_ns", 0) / 1e9

    m.update(counts)
    if m["tc.wedges"]:
        m["tc.closure_ratio"] = m["tc.triangles"] / m["tc.wedges"]
    m["session.start_s"] = base_session.start_s
    m["tracing.overhead_s"] = last_pass["wall_s"] - untraced_warm_s
    return {name: (float(v), PER_LAYER[name]) for name, v in m.items()}
