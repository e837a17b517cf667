"""Spans recorded from outside the program, around the calls into each
layer's public functions, and the Spark task metrics attributed to them.

A span sets the Spark job group of its thread, so every job it starts can
be found again in the event log. While a traced pipeline runs, run_all's
plan-construction thread pool is replaced by a serial executor and each
layer's result is forced inside its span, so spans nest and never
overlap; the cost of that shows as ``tracing_overhead_s``.
"""

from __future__ import annotations

import concurrent.futures
import contextlib
import json
import time
from collections import defaultdict

from pyspark import StorageLevel

import osmi_addresses_spark.plans.pipeline as pipeline
from osmi_addresses_spark.io.table import TableStore


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {"id": f"perfbench-{len(self.spans)}", "name": name,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "start": time.perf_counter(), "end": None, "rows_out": 0}
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["id"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            parent = self._stack[-1] if self._stack else None
            self.sc.setJobGroup(parent["id"] if parent else "perfbench-none",
                                parent["name"] if parent else "")

    def self_times(self) -> dict[str, float]:
        """span id -> duration minus the time its children cover (children
        never overlap: traced code runs on one thread)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"]:
                child[s["parent"]] += s["end"] - s["start"]
        return {s["id"]: (s["end"] - s["start"]) - child[s["id"]] for s in self.spans}

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def wall(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.by_name(name))


class _SerialExecutor(concurrent.futures.Executor):
    """Runs each submitted call at once, in the caller's thread."""

    def __init__(self, *args, **kwargs):
        pass

    def submit(self, fn, /, *args, **kwargs):
        fut = concurrent.futures.Future()
        try:
            fut.set_result(fn(*args, **kwargs))
        except BaseException as ex:  # delivered to the caller by result()
            fut.set_exception(ex)
        return fut


class TracedStore(TableStore):
    """TableStore whose checkpoint and layer writes open spans."""

    CHECKPOINT_SPANS = {"entities": "sources.parse", "ways_geo": "operators.assembly"}

    def __init__(self, root: str, tracer: Tracer):
        super().__init__(root)
        self.tracer = tracer

    def write_once(self, name, df_factory, source_path=None, partition_by=None):
        with self.tracer.span(self.CHECKPOINT_SPANS.get(name, f"io.table.{name}")) as s:
            out = super().write_once(name, df_factory, source_path, partition_by)
            s["rows_out"] = table_rows(self, name)
        return out

    def write(self, name, df, partition_by=None, lineage=None, options=None):
        if not name.startswith("layer_"):
            return super().write(name, df, partition_by, lineage, options)
        with self.tracer.span(f"plans.pipeline.write_layers.{name[6:]}_s") as s:
            out = super().write(name, df, partition_by, lineage, options)
            s["rows_out"] = table_rows(self, name)
        return out


def table_rows(store: TableStore, name: str) -> int:
    return sum(p["rows"] for p in store.manifest(name)["partitions"].values())


@contextlib.contextmanager
def traced_pipeline(tracer: Tracer, forced: list, ratios: dict):
    """Patch run_all's callees for one pipeline run. ``forced`` collects
    DataFrames this module persisted (the caller unpersists them);
    ``ratios`` collects (matched, attempted) DataFrame pairs."""

    def force(df, span):
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        forced.append(df)
        span["rows_out"] += df.count()
        return df

    orig = {n: getattr(pipeline, n) for n in (
        "build_streets_index", "build_places_index", "match_places",
        "interpolation_plan", "match_streets", "run_all")}

    def build_streets_index(ways_geo):
        with tracer.span("operators.streets") as s:
            return force(orig["build_streets_index"](ways_geo), s)

    def build_places_index(nodes, ways_geo):
        with tracer.span("operators.places"):
            return orig["build_places_index"](nodes, ways_geo)

    def match_places(addr, places):
        with tracer.span("operators.places") as s:
            out = force(orig["match_places"](addr, places), s)
        ratios["operators.places.match_ratio"] = (out, addr)
        return out

    def interpolation_plan(ways_geo, nodes):
        with tracer.span("operators.interpolation") as s:
            layer, points = orig["interpolation_plan"](ways_geo, nodes)
            return layer, force(points, s)

    def match_streets(addr, streets, **kw):
        with tracer.span("operators.nearest_street.detect_s"):
            out = orig["match_streets"](addr, streets, **kw)
        with tracer.span("operators.nearest_street.match") as s:
            out = force(out, s)
        ratios["operators.nearest_street.match_ratio"] = (out, addr)
        return out

    def run_all(*args, **kw):
        with tracer.span("plans.pipeline.run_all.self_s"):
            return orig["run_all"](*args, **kw)

    patched = dict(build_streets_index=build_streets_index,
                   build_places_index=build_places_index, match_places=match_places,
                   interpolation_plan=interpolation_plan, match_streets=match_streets,
                   run_all=run_all)
    pool = concurrent.futures.ThreadPoolExecutor
    for n, f in patched.items():
        setattr(pipeline, n, f)
    concurrent.futures.ThreadPoolExecutor = _SerialExecutor
    try:
        yield
    finally:
        concurrent.futures.ThreadPoolExecutor = pool
        for n, f in orig.items():
            setattr(pipeline, n, f)


def job_group_metrics(lines: list[str]) -> dict[str, dict]:
    """Spark task metrics summed per job group, from event-log lines."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for line in lines:
        if '"SparkListenerJobStart"' not in line and '"SparkListenerTaskEnd"' not in line:
            continue
        ev = json.loads(line)
        if ev["Event"] == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
            continue
        group = stage_group.get(ev["Stage ID"])
        m = ev.get("Task Metrics") or {}
        if group is None or not m:
            continue
        shr = m.get("Shuffle Read Metrics") or {}
        shw = m.get("Shuffle Write Metrics") or {}
        inp = m.get("Input Metrics") or {}
        g = out[group]
        g["core_s"] += m.get("Executor Run Time", 0) / 1000
        g["gc_s"] += m.get("JVM GC Time", 0) / 1000
        g["shuffle_bytes"] += (shr.get("Local Bytes Read", 0) + shr.get("Remote Bytes Read", 0)
                               + shw.get("Shuffle Bytes Written", 0))
        g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        g["records_read"] += inp.get("Records Read", 0)
        g["bytes_read"] += inp.get("Bytes Read", 0)
    return out


def inclusive_metrics(tracer: Tracer, groups: dict[str, dict], name: str) -> dict:
    """Task metrics of every span called ``name`` and its descendants."""
    children = defaultdict(list)
    for s in tracer.spans:
        children[s["parent"]].append(s["id"])
    total: dict = defaultdict(float)
    todo = [s["id"] for s in tracer.by_name(name)]
    while todo:
        sid = todo.pop()
        for k, v in groups.get(sid, {}).items():
            total[k] += v
        todo.extend(children[sid])
    return total
