#!/usr/bin/env python
"""Benchmark: headline queries at $SPARK_GRAFT_SF_DIR on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "addresses validated/sec", "value": N, "unit": "sec",
   "queries": {name: seconds, ...}, "sf": SF, ...}

The headline metric (BASELINE.json) is addresses validated per second —
address points (nodes + building centroids + interpolated points) driven
through the full nearest-street/place pipeline, divided by the end-to-end
wall time (parse → matches → nodes_with_addresses).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def run_bench(cpus: str, sf_dir: str) -> dict:
    from pyspark.sql import functions as F

    from osmi_addresses_spark.driver_queries import (
        d_ngram_jaccard,
        s_ann_topk,
        sf_of,
    )
    from osmi_addresses_spark.fixtures.generator import write_fixture
    from osmi_addresses_spark.plans.pipeline import run_all
    from osmi_addresses_spark.session import get_spark

    # headline fixture scale: at tiny sf the pipeline is all fixed overhead
    # (session+planning floor ~25 s), which measures the harness, not the
    # engine. Default to sf≥4 (5.3M addresses, ~1 min) unless pinned.
    env_sf = os.environ.get("SPARK_GRAFT_FIXTURE_SF")
    sf = float(env_sf) if env_sf else max(sf_of(sf_dir), 4.0)
    fx = write_fixture(sf)
    # Scratch on DISK, never tmpfs: tmpfs writes are synchronous kernel page
    # allocations and at 32 concurrent tasks the zone-lock/TLB contention
    # dominated the whole pipeline (measured 56 s vs 26 s for the identical
    # parse+write stage). ext4 + page cache batches the same work lazily.
    scratch_root = os.environ.get("SPARK_GRAFT_SCRATCH", "/root/scratch")
    os.makedirs(scratch_root, exist_ok=True)
    extra = {"spark.local.dir": os.path.join(scratch_root, "spark-bench-local")}
    # event-log mode: emit the driver-idle (serial-floor) decomposition in
    # the result and check it against the budget
    eventlog_dir = os.environ.get("SPARK_GRAFT_EVENTLOG")
    if eventlog_dir:
        os.makedirs(eventlog_dir, exist_ok=True)
        extra["spark.eventLog.enabled"] = "true"
        extra["spark.eventLog.dir"] = eventlog_dir
    spark = get_spark(
        f"bench-{cpus}", cores=cpus, shuffle_partitions=2 * max(int(cpus), 8), extra_conf=extra
    )
    from osmi_addresses_spark.session import warm_driver_plans, warm_python_workers

    warm_python_workers(spark, int(cpus))
    # warm the driver JVM's analyzer/codegen classes too (identical cost at
    # every parallelism level; a long-running cluster amortizes it to zero)
    warm_driver_plans(spark)
    timings: dict[str, float] = {}
    counts: dict[str, int] = {}

    docs = spark.read.parquet(os.path.join(fx, "documents.parquet"))

    import shutil
    import tempfile

    from osmi_addresses_spark.io.table import TableStore

    workdir = tempfile.mkdtemp(prefix="osmi_bench_", dir=scratch_root)
    store = TableStore(workdir)

    t_start = time.time()
    t_start_ms = int(t_start * 1000)
    layers = run_all(spark, docs, store=store, source_path=fx)
    timings["plan_construction"] = time.time() - t_start

    t0 = time.time()
    counts["nodes_with_addresses"] = layers["nodes_with_addresses"].count()
    timings["e2e_nwa"] = time.time() - t0  # pays parse+assemble+match+interp

    # remaining layers materialize concurrently (as concurrent sinks would)
    from concurrent.futures import ThreadPoolExecutor

    names = ["connection_line", "nearest_points", "nearest_roads",
             "nearest_areas", "interpolation", "ways_with_addresses",
             "entrances", "street_not_found", "place_not_found"]
    t0 = time.time()
    with ThreadPoolExecutor(max_workers=len(names)) as ex:
        for name, n in zip(names, ex.map(lambda nm: layers[nm].count(), names)):
            counts[name] = n
    timings["other_layers_concurrent"] = time.time() - t0
    t_pipeline = time.time() - t_start

    # training-data ops on the driver tables. Min-of-N per sub-query: a
    # single-run timing cannot tell a regression from host noise. All runs
    # are recorded alongside the min so the spread stays visible.
    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))
    runs: dict[str, list[float]] = {}

    def timed_min(name, fn):
        n = None
        runs[name] = []
        for _ in range(max(1, repeats)):
            t0 = time.time()
            n = fn()
            runs[name].append(round(time.time() - t0, 3))
        timings[name] = min(runs[name])
        return n

    counts["dedup_ngram_pairs"] = timed_min(
        "dedup_ngram_jaccard", lambda: d_ngram_jaccard(spark, sf_dir).count()
    )
    counts["ann_topk"] = timed_min(
        "ann_topk", lambda: s_ann_topk(spark, sf_dir).count()
    )
    # tiling surface: zoom-pyramid rollup over the validated address
    # points (reads the checkpointed layer, so this times the rollup
    # plan itself — one base agg + one tile-count-sized agg)
    from osmi_addresses_spark.functions.tiles import tile_pyramid

    nwa_pts = layers["nodes_with_addresses"].select(
        F.col("geom.lon").alias("lon"), F.col("geom.lat").alias("lat")
    )
    counts["tile_rollup_tiles"] = timed_min(
        "tile_rollup", lambda: tile_pyramid(nwa_pts, 6, 16).count()
    )
    # sketch surface: deterministic HLL distinct + CMS heavy hitters
    # (round-5 sketches; both are bounded-state map-side-combined aggs,
    # so their wall time is essentially one scan each)
    from osmi_addresses_spark.driver_queries import (
        d_heavy_hitters,
        q_hll_distinct,
    )

    counts["hll_groups"] = timed_min(
        "approx_distinct_hll", lambda: q_hll_distinct(spark, sf_dir).count()
    )
    counts["cms_heavy_hitters"] = timed_min(
        "heavy_hitters_cms", lambda: d_heavy_hitters(spark, sf_dir).count()
    )

    n_validated = counts["nodes_with_addresses"]
    result = {
        "metric": "addresses validated/sec",
        "value": round(n_validated / t_pipeline, 2),
        "unit": "sec",
        "queries": {k: round(v, 3) for k, v in timings.items()},
        "sf": sf,
        "cpus": int(cpus),
        "n_validated": n_validated,
        "pipeline_sec": round(t_pipeline, 3),
        "counts": counts,
        "subquery_runs": runs,
        "subquery_estimator": f"min-of-{max(1, repeats)}",
    }
    app_id = spark.sparkContext.applicationId
    spark.stop()
    shutil.rmtree(workdir, ignore_errors=True)
    if eventlog_dir:
        try:
            sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "tools"))
            from stage_report import serial_floor_metrics, serial_floor_violations

            logdir = os.path.join(eventlog_dir, f"eventlog_v2_{app_id}")
            sfm = serial_floor_metrics(
                logdir if os.path.isdir(logdir) else os.path.join(eventlog_dir, app_id),
                window_start_ms=t_start_ms,
                window_end_ms=int((t_start + t_pipeline) * 1000),
            )
            result["serial_floor"] = sfm
            # violations are reported in the JSON and fail the process
            # (after printing, so the measurement survives)
            viol = serial_floor_violations(sfm)
            if viol:
                result["serial_floor_violations"] = viol
        except Exception as ex:  # the bench result must survive a log-parse hiccup
            result["serial_floor"] = {"error": str(ex)[:200]}
    return result


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    result = run_bench(cpus, sf_dir)
    print(json.dumps(result))
    if result.get("serial_floor_violations"):
        print(
            "SERIAL-FLOOR BUDGET EXCEEDED: "
            + "; ".join(result["serial_floor_violations"]),
            file=sys.stderr,
        )
        sys.exit(1)


if __name__ == "__main__":
    main()
