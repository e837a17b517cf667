#!/usr/bin/env python3
"""The repository's benchmark: one OSM extract through the 11 address
layers, and, in traced runs, their SpatiaLite export and a closed loop of
tile reads.

    python3 perfbench/run.py --workload city --seed 3 --seconds 2 --trace 0

Workloads (see BENCHMARK.json): ``city`` and ``region_pbf``. Each run
generates its input from the seed into perfbench/_work/, starts Spark at
local[nproc] and times the pipeline, run_all + write_layers into a fresh
TableStore, as the JVM's first pipeline. It then checks the layers against
their pinned per-layer counts and digests.

With ``--trace 1`` it runs the pipeline untraced, then again traced, then

1. exports all 11 layers to SpatiaLite, each read back from the store,
   and checks the exported row counts against the store;
2. has one client read seeded z16 tiles with io.window.read_layer_tile,
   each read sent when the previous one has finished, for ``--seconds``
   seconds and at least MIN_READS reads, each checked against a DuckDB
   count of the same bbox;

and prints the per-layer metrics instead of the end-to-end ones. The last
line of stdout is the result object; the line before it holds the host
fingerprint and run details.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import shutil
import statistics
import sys
import threading
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
SPEC_PATH = os.path.join(ROOT, "BENCHMARK.json")
# Two reads per tile layer.
MIN_READS = 12
# Layer tables are written with row groups of at most this many bytes, not
# the session's 32 MB: the inputs are small, and at 32 MB every layer file
# would be one row group, leaving a tile read nothing to prune. At 16 KiB
# a file holds several row groups, as a full-size extract's files do.
LAYER_ROW_GROUP_BYTES = 16384


@contextlib.contextmanager
def _nospan(name):
    """Stand-in for Tracer.span in untraced runs."""
    yield None


@contextlib.contextmanager
def _layer_row_groups(spark):
    spark.conf.set("parquet.block.size", str(LAYER_ROW_GROUP_BYTES))
    try:
        yield
    finally:
        spark.conf.unset("parquet.block.size")


def _proc_stats() -> dict[int, list[str]]:
    """The /proc/<pid>/stat fields after the command name, for this
    process and all its descendants (the driver JVM and the Python
    workers it forks)."""
    stats: dict[int, list[str]] = {}
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        stats[int(entry)] = fields
        children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = {}, [os.getpid()]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        if pid in stats:
            out[pid] = stats[pid]
    return out


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process, its descendants and the
    descendants they have reaped (user + system time)."""
    tick = os.sysconf("SC_CLK_TCK")
    # fields 11-14: utime, stime, cutime, cstime
    return sum(sum(int(v) for v in f[11:15]) for f in _proc_stats().values()) / tick


class RssSampler:
    """Peak summed RSS of this process and all its descendants, sampled
    from /proc."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _sample(self) -> int:
        # field 21: rss in pages
        return sum(int(f[21]) for f in _proc_stats().values()) * self._page

    def _loop(self):
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._sample())
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


def _prepare_env(work: str) -> None:
    """Keep every file Spark and Python workers write inside ``work``, and
    let the workers import the program from any working directory."""
    for sub in ("tmp", "local", "eventlog", "export"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM, the spark-submit launcher included: temp files here, and
    # no hsperfdata files under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.join(ROOT, "tools"))


def _spark_conf(work: str, traced: bool) -> dict:
    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
            "spark.eventLog.rolling.enabled": "true",
            "spark.eventLog.compress": "false",
        })
    return conf


class Run:
    def __init__(self, args, work: str):
        from osmi_addresses_spark.schemas import LAYER_NAMES

        self.args = args
        self.work = work
        self.layers = list(LAYER_NAMES)
        self.attempted = 0
        self.failures: list[str] = []
        self.forced: list = []

    def fail(self, msg: str) -> None:
        self.failures.append(msg)
        print(f"perfbench: FAILED {msg}", file=sys.stderr)

    # -- set-up ---------------------------------------------------------------
    def setup(self, warm_plans: bool) -> dict:
        """Start Spark at local[nproc] with one shuffle partition per core
        (the inputs are small, so more partitions only add task overhead)
        and warm the Python workers. ``warm_plans`` also runs the program's
        driver warm-up, so that the traced run's two pipelines are both
        warm and their difference is the cost of tracing alone."""
        from osmi_addresses_spark.session import (
            get_spark, warm_driver_plans, warm_python_workers)

        ncpu = len(os.sched_getaffinity(0))
        times = {}
        t = time.perf_counter()
        self.spark = get_spark(f"perfbench-{self.args.workload}", cores=ncpu,
                               shuffle_partitions=ncpu,
                               extra_conf=_spark_conf(self.work, bool(self.args.trace)))
        times["session.get_spark_s"] = time.perf_counter() - t
        self.spark.sparkContext.setLogLevel("ERROR")
        t = time.perf_counter()
        warm_python_workers(self.spark, ncpu)
        times["session.warm_python_workers_s"] = time.perf_counter() - t
        if warm_plans:
            t = time.perf_counter()
            warm_driver_plans(self.spark)
            times["session.warm_driver_plans_s"] = time.perf_counter() - t
        return times

    # -- the timed job ----------------------------------------------------------
    def pipeline(self, name: str, tracer=None, ratios=None) -> tuple[float, object]:
        """run_all + write_layers into a fresh store; returns (seconds, store)."""
        import osmi_addresses_spark.plans.pipeline as P
        from osmi_addresses_spark.io.table import TableStore
        from osmi_addresses_spark.sources.osm_pbf import read_osm_pbf

        root = os.path.join(self.work, name)
        if tracer is None:
            store = TableStore(root)
            span = _nospan
        else:
            from tracing import TracedStore

            store = TracedStore(root, tracer)
            span = tracer.span
        src = self.inp["source"]
        self.attempted += 1
        with P.track_persists() as persisted:
            self.window_ms = [int(time.time() * 1000), None]
            with span("pipeline") as self.root:
                cpu0, t0 = tree_cpu_s(), time.perf_counter()
                if self.args.workload == "region_pbf":
                    with span("sources.parse"):
                        entities = read_osm_pbf(self.spark, src)
                    layers = P.run_all(self.spark, None, store=store, source_path=src,
                                       entities=entities)
                else:
                    with span("sources.parse"):
                        docs = self.spark.read.parquet(os.path.join(src, "documents.parquet"))
                    layers = P.run_all(self.spark, docs, store=store, source_path=src)
                if tracer is not None:
                    with span("operators.layers.nwa") as s:
                        s["rows_out"] = layers["nodes_with_addresses"].count()
                with span("plans.pipeline.write_layers"), _layer_row_groups(self.spark):
                    P.write_layers(layers, store)
                seconds = time.perf_counter() - t0
                self.pipeline_cpu_s = tree_cpu_s() - cpu0
            self.window_ms[1] = int(time.time() * 1000)
            if ratios is not None:
                for key, (matched, attempted) in list(ratios.items()):
                    ratios[key] = matched.count() / max(1, attempted.count())
        for df in persisted + self.forced:
            df.unpersist()
        self.forced.clear()
        return seconds, store

    def check_layers(self, store) -> dict:
        from checks import compare_to_pins, load_pins, pin_key, summarize_layers
        from inputs import input_seed

        summary = summarize_layers(store, self.layers)
        key = pin_key(self.args.workload, input_seed(self.args.seed), self.args.smoke)
        errs = compare_to_pins(summary, load_pins().get(key))
        if errs:
            self.fail(f"pipeline outputs ({key}): " + "; ".join(errs))
        return summary

    def export(self, store, summary: dict, span) -> None:
        from checks import sqlite_rows
        from osmi_addresses_spark.io.spatialite import export_layer

        out_dir = os.path.join(self.work, "export")
        paths = {}
        with span("io.spatialite.export") as whole:
            for layer in self.layers:
                self.attempted += 1
                with span(f"io.spatialite.export.{layer}_s"):
                    try:
                        paths[layer] = export_layer(
                            store.read(self.spark, f"layer_{layer}"), layer, out_dir)
                    except Exception as ex:  # counted, reported, run goes on
                        self.fail(f"export {layer}: {ex!r}")
        rows = 0
        for layer, path in paths.items():
            n = sqlite_rows(path, layer)
            rows += n
            if n != summary[layer][0]:
                self.fail(f"export {layer}: {n} rows in SpatiaLite, {summary[layer][0]} in store")
        whole["rows_out"] = rows

    def tiles(self, store, span) -> tuple[list[float], int]:
        from checks import expected_tile_counts
        from osmi_addresses_spark.io.window import read_layer_tile

        requests = self.inp["tiles"]
        expected = expected_tile_counts(store, requests)
        lat, rows = [], 0
        deadline = time.perf_counter() + self.args.seconds
        with span("io.window"):
            for (layer, z, x, y), want in zip(requests, expected):
                if len(lat) >= MIN_READS and time.perf_counter() >= deadline:
                    break
                self.attempted += 1
                t = time.perf_counter()
                try:
                    n = len(read_layer_tile(self.spark, store, layer, z, x, y).collect())
                except Exception as ex:  # counted, reported, run goes on
                    self.fail(f"tile {layer} {z}/{x}/{y}: {ex!r}")
                    continue
                lat.append(time.perf_counter() - t)
                rows += n
                if n != want:
                    self.fail(f"tile {layer} {z}/{x}/{y}: {n} rows, DuckDB counts {want}")
        return lat, rows

    # -- whole runs -------------------------------------------------------------
    def untraced(self) -> dict:
        pipeline_s, store = self.pipeline("store")
        self.summary = self.check_layers(store)
        return {
            "pipeline_s": pipeline_s,
            "addr_per_s": self.summary["nodes_with_addresses"][0] / pipeline_s,
            "pipeline_cpu_s": self.pipeline_cpu_s,
        }

    def traced(self) -> dict:
        from tracing import Tracer, traced_pipeline

        untraced_s, _ = self.pipeline("store-untraced")
        tracer = Tracer(self.spark.sparkContext)
        ratios: dict = {}
        with traced_pipeline(tracer, self.forced, ratios):
            traced_s, store = self.pipeline("store-traced", tracer, ratios)
        summary = self.check_layers(store)
        self.export(store, summary, tracer.span)
        lat, tile_rows = self.tiles(store, tracer.span)
        ways = self.spark.read.parquet(store._dir("ways_geo"))
        ratios["operators.assembly.resolved_ratio"] = (
            ways.filter("coords IS NOT NULL").count() / max(1, ways.count()))
        self.summary = summary
        self.tile_reads = len(lat)
        self.trace = (tracer, self.root, traced_s, untraced_s, ratios, lat, tile_rows)
        return {}

    def per_layer(self, setup_times: dict) -> dict:
        from metrics import HEAVY_FIELDS, HEAVY_SPANS
        from stage_report import load_lines, serial_floor_metrics
        from tracing import inclusive_metrics, job_group_metrics

        tracer, root, traced_s, untraced_s, ratios, lat, tile_rows = self.trace
        logdir = os.path.join(self.work, "eventlog")
        lines = load_lines(logdir)
        groups = job_group_metrics(lines)
        out = dict(setup_times)
        out["fixtures.generator.gen_s"] = self.inp["gen_s"]
        for name in HEAVY_SPANS:
            m = inclusive_metrics(tracer, groups, name)
            out[f"{name}.wall_s"] = tracer.wall(name)
            for field in HEAVY_FIELDS:
                if field == "rows_out":
                    out[f"{name}.rows_out"] = sum(s["rows_out"] for s in tracer.by_name(name))
                elif field != "wall_s":
                    out[f"{name}.{field}"] = m.get(field, 0.0)
        out["plans.pipeline.write_layers.rows_out"] = sum(
            s["rows_out"] for s in tracer.spans if s["name"].startswith("plans.pipeline.write_layers."))
        self_t = tracer.self_times()
        for s in tracer.spans:
            if s["name"].endswith("_s") and s["name"] != "plans.pipeline.run_all.self_s":
                out[s["name"]] = tracer.wall(s["name"])
        out["plans.pipeline.run_all.self_s"] = sum(
            self_t[s["id"]] for s in tracer.by_name("plans.pipeline.run_all.self_s"))
        out["operators.nearest_street.match_ratio"] = ratios["operators.nearest_street.match_ratio"]
        out["operators.places.match_ratio"] = ratios["operators.places.match_ratio"]
        out["operators.assembly.resolved_ratio"] = ratios["operators.assembly.resolved_ratio"]
        window = inclusive_metrics(tracer, groups, "io.window")
        out["io.window.rows_per_row_scanned"] = tile_rows / max(1.0, window.get("records_read", 0))
        out["io.window.bytes_read"] = window.get("bytes_read", 0.0) / max(1, len(lat))
        out["io.window.read_p50_ms"] = 1000 * statistics.median(lat)
        out["plans.pipeline.driver_idle_s"] = serial_floor_metrics(
            logdir, window_start_ms=self.window_ms[0], window_end_ms=self.window_ms[1]
        )["total_gap_s"]
        out["plans.pipeline.span_coverage"] = 1.0 - self_t[root["id"]] / (root["end"] - root["start"])
        out["tracing_overhead_s"] = traced_s - untraced_s
        return out


def fingerprint(spark) -> dict:
    import hashlib
    import subprocess

    mem = "unknown"
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem = line.split(":", 1)[1].strip()
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        commit = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                                text=True, timeout=10).stdout.strip() or None
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "osmi_addresses_spark")
    for dirpath, dirnames, files in sorted(os.walk(pkg)):
        dirnames.sort()
        for fn in sorted(files):
            if fn.endswith(".py"):
                with open(os.path.join(dirpath, fn), "rb") as f:
                    h.update(fn.encode() + f.read())
    conf = spark.sparkContext.getConf()
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total": mem,
        "python": platform.python_version(),
        "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "git_commit": commit,
        "program_sha256": h.hexdigest(),
        "spark_conf": {k: conf.get(k, None) for k in (
            "spark.master", "spark.driver.memory", "spark.memory.offHeap.enabled",
            "spark.memory.offHeap.size", "spark.sql.shuffle.partitions")},
    }


def _stop_spark(spark) -> None:
    """Stop Spark and wait for the driver JVM (and with it the Python
    workers) to exit."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    with open(SPEC_PATH) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, for the smoke test")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "osmi_addresses_spark", "__init__.py")):
        print(f"perfbench: the program (osmi_addresses_spark) is not under {ROOT}",
              file=sys.stderr)
        return 2
    # wall time of each phase of this process, to show the run's cost
    laps, mark = {}, [time.perf_counter()]

    def lap(name):
        now = time.perf_counter()
        laps[name] = now - mark[0]
        mark[0] = now

    work = os.path.join(BENCH_DIR, "_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _prepare_env(work)
    try:
        from inputs import generate

        run = Run(args, work)
        run.inp = generate(args.workload, args.seed, work, smoke=args.smoke)
        lap("generate")
        with RssSampler() as rss:
            setup_times = run.setup(warm_plans=bool(args.trace))
            lap("setup")
            try:
                info = {"fingerprint": fingerprint(run.spark)}
                e2e = run.traced() if args.trace else run.untraced()
                lap("timed_and_checks")
            finally:
                _stop_spark(run.spark)
                lap("stop_spark")
        metrics_out = run.per_layer(setup_times) if args.trace else {}
    finally:
        shutil.rmtree(work, ignore_errors=True)
        lap("report_and_cleanup")
    peak_rss_mb = rss.peak_bytes / 2**20

    from inputs import input_seed

    info.update({
        "workload": args.workload, "seed": args.seed, "input_seed": input_seed(args.seed),
        "trace": args.trace, "inputs": {k: v for k, v in run.inp.items() if k != "tiles"},
        "setup": setup_times, "peak_rss_mb": peak_rss_mb,
        "phase_wall_s": laps, "layers": run.summary, "failures": run.failures,
    })
    if args.trace:
        metrics_out["session.peak_rss_mb"] = peak_rss_mb
        info["tile_reads"] = run.tile_reads
    else:
        e2e["setup_s"] = sum(setup_times.values())  # get_spark + warm_python_workers
        metrics_out = e2e
    table = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}
    missing = set(table) ^ set(metrics_out)
    if missing:
        raise RuntimeError(f"metric set differs from the table: {sorted(missing)}")
    print(json.dumps({"run_info": info}, default=str))
    print(json.dumps({
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": {k: {"value": float(metrics_out[k]), "unit": u} for k, u in table.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
