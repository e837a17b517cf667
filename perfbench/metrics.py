"""Which end-to-end metric, on which workload, each per-layer metric
should move. BENCHMARK.json holds every metric's name, unit and
direction, but has no field for this.

    python3 perfbench/metrics.py     # per-layer metric -> what it moves
"""

from __future__ import annotations

# Spans whose Spark task metrics are attributed from the event log; each
# records every field in HEAVY_FIELDS.
HEAVY_SPANS = {
    "sources.parse": "pipeline_s and pipeline_cpu_s on region_pbf",
    "operators.assembly": "pipeline_s and pipeline_cpu_s on region_pbf",
    "operators.streets": "pipeline_s and pipeline_cpu_s on region_pbf",
    "operators.nearest_street.match": "pipeline_s, addr_per_s and pipeline_cpu_s on city",
    "operators.interpolation": "pipeline_s and pipeline_cpu_s on region_pbf",
    "operators.places": "pipeline_s and pipeline_cpu_s on city and region_pbf",
    "operators.layers.nwa": "pipeline_s and pipeline_cpu_s on city",
    "plans.pipeline.write_layers": "pipeline_s and pipeline_cpu_s on city",
    # timed in traced runs only: the untraced run is one cold pipeline,
    # which alone nearly fills the benchmark's time budget
    "io.spatialite.export": "nothing gated; SpatiaLite export cost",
}
HEAVY_FIELDS = ("wall_s", "core_s", "gc_s", "shuffle_bytes", "spill_bytes", "rows_out")

# Every other per-layer metric, by name or by prefix (the longest match
# wins).
MOVES = {
    **HEAVY_SPANS,
    "session.get_spark_s": "setup_s on city and region_pbf",
    "session.warm_python_workers_s": "setup_s on city and region_pbf",
    # run only by traced runs, so that both of their pipelines start warm
    "session.warm_driver_plans_s": "tracing_overhead_s (traced runs)",
    # not an end-to-end gate: the driver JVM's heap grows in GC-timed steps
    "session.peak_rss_mb": "nothing gated; memory of the whole run",
    "fixtures.generator.gen_s": "nothing timed; input generation",
    "operators.nearest_street.detect_s": "pipeline_s on city",
    "operators.nearest_street.match_ratio": "addr_per_s on city",
    "operators.places.match_ratio": "addr_per_s on city",
    "operators.assembly.resolved_ratio": "pipeline_s on region_pbf",
    "plans.pipeline.run_all.self_s": "pipeline_s on city and region_pbf",
    "plans.pipeline.driver_idle_s": "pipeline_s on city and region_pbf",
    "plans.pipeline.span_coverage": "nothing; trace quality",
    # timed in traced runs only, like the export
    "io.window": "nothing gated; tile read cost",
    "tracing_overhead_s": "nothing; trace cost",
}


def moves(name: str) -> str:
    """What the per-layer metric ``name`` should move."""
    best = ""
    for key in MOVES:
        if (name == key or name.startswith(key + ".")) and len(key) > len(best):
            best = key
    if not best:
        raise KeyError(name)
    return MOVES[best]


if __name__ == "__main__":
    import json
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        for m in json.load(f)["per_layer"]:
            print(f"| `{m['name']}` | {m['unit']} | {m['better']} | {moves(m['name'])} |")
