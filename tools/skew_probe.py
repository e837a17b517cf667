#!/usr/bin/env python
"""Skew proof for the (name, cell) candidate join (the engine's one skew
axis): a deliberately skewed workload — one (name, cell) holding ~20% of
all candidates — run through the real match_streets plan with the
broadcast path disabled (the 100 TB shape: streets side too big to
broadcast → shuffle join on the skewed key).

Spark's AQE skew split does NOT engage on this plan shape (measured on
4.1.2: OptimizeSkewedJoin declines fragments with a downstream
distribution requirement, which the argmin aggregate imposes, even with
forceOptimizeSkewedJoin) — so match_streets handles skew explicitly: hot
(name, cell) keys detected by a cheap addr-side count are routed through
a broadcast join of just their street rows; cold keys take the normal
shuffle join. This probe runs the identical workload with the split
disabled vs enabled and reports max-task/median-task on the heaviest
stage, asserting the enabled path stays balanced (< 3) and results are
identical. Writes SKEW_PROOF.json.

    python tools/skew_probe.py [n_hot_addr] [n_uni_addr]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def skewed_inputs(spark, n_hot_addr: int, n_uni_addr: int, n_hot_ways: int = 400,
                  n_uni_names: int = 200):
    """Synthetic ways_geo + addr points: 'Hot Street' concentrates
    n_hot_addr addresses and n_hot_ways candidate ways inside ONE grid
    cell; the rest spread uniformly over many (name, cell) groups."""
    # hot ways: short 2-vertex segments inside cell (8.78..8.80, 47.24..47.26)
    hot_ways = spark.range(n_hot_ways).select(
        F.col("id").alias("way_id"),
        F.create_map(F.lit("highway"), F.lit("residential"),
                     F.lit("name"), F.lit("Hot Street")).alias("tags"),
        F.array(F.col("id") * 2, F.col("id") * 2 + 1).alias("refs"),
        F.array(
            F.struct((F.lit(8.781) + (F.col("id") % 100) * 1e-4).alias("lon"),
                     (F.lit(47.241) + (F.col("id") % 97) * 1e-4).alias("lat")),
            F.struct((F.lit(8.7815) + (F.col("id") % 100) * 1e-4).alias("lon"),
                     (F.lit(47.2415) + (F.col("id") % 97) * 1e-4).alias("lat")),
        ).alias("coords"),
        F.lit("2020-01-01T00:00:00Z").alias("lastchange"),
    )
    # uniform ways: n_uni_names names, each in its own cell band
    uni_ways = spark.range(10_000, 10_000 + n_uni_names * 4).select(
        F.col("id").alias("way_id"),
        F.create_map(F.lit("highway"), F.lit("residential"),
                     F.lit("name"),
                     F.concat(F.lit("Street "), (F.col("id") % n_uni_names).cast("string"))
                     ).alias("tags"),
        F.array(F.col("id") * 2, F.col("id") * 2 + 1).alias("refs"),
        F.array(
            F.struct((F.lit(9.0) + (F.col("id") % n_uni_names) * 0.05).alias("lon"),
                     F.lit(47.25).alias("lat")),
            F.struct((F.lit(9.0005) + (F.col("id") % n_uni_names) * 0.05).alias("lon"),
                     F.lit(47.2505).alias("lat")),
        ).alias("coords"),
        F.lit("2020-01-01T00:00:00Z").alias("lastchange"),
    )
    ways_geo = hot_ways.unionByName(uni_ways)

    def addr(df, name_col, lon, lat):
        return df.select(
            F.concat(F.lit("n"), F.col("id").cast("string")).alias("akey"),
            F.lit("node").alias("obj_type"),
            F.col("id").alias("obj_id"),
            name_col.alias("lookup_name"),
            lon.alias("lon"),
            lat.alias("lat"),
            F.lit(0).alias("phase"),
            F.col("id").alias("ord1"),
            F.lit(0).cast("long").alias("ord2"),
        )

    hot_addr = addr(
        spark.range(n_hot_addr),
        F.lit("Hot Street"),
        F.lit(8.782) + (F.col("id") % 1000) * 1e-5,
        F.lit(47.242) + (F.col("id") % 997) * 1e-5,
    )
    uni_addr = addr(
        spark.range(1_000_000, 1_000_000 + n_uni_addr),
        F.concat(F.lit("Street "), (F.col("id") % n_uni_names).cast("string")),
        F.lit(9.0002) + (F.col("id") % n_uni_names) * 0.05,
        F.lit(47.2502) + (F.col("id") % 7) * 1e-5,
    )
    return ways_geo, hot_addr.unionByName(uni_addr)


def run_once(split_enabled: bool, n_hot: int, n_uni: int, port: int) -> dict:
    """Fresh session → skewed match_streets → heaviest-stage task stats."""
    from osmi_addresses_spark.operators.nearest_street import match_streets
    from osmi_addresses_spark.operators.streets import build_streets_index
    from osmi_addresses_spark.session import get_spark

    spark = get_spark(
        f"skew-{split_enabled}",
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.port": str(port),
            # the 100 TB shape: streets side too big to broadcast wholesale
            "spark.sql.autoBroadcastJoinThreshold": "-1",
        },
    )
    try:
        import time

        ways_geo, addr_pts = skewed_inputs(spark, n_hot, n_uni)
        streets = build_streets_index(ways_geo)
        m = match_streets(
            addr_pts,
            streets,
            ways_geom=ways_geo.select("way_id", "coords"),
            # hot key holds n_hot addr rows; threshold catches it when on
            skew_threshold=(n_hot // 4) if split_enabled else None,
        )
        # one action: per-way match counts give total + distinct in one pass
        t0 = time.time()
        rows = m.groupBy("way_id").count().collect()
        wall_s = time.time() - t0
        n = sum(r["count"] for r in rows)
        n_ways = len(rows)

        import urllib.request

        base = f"http://localhost:{port}/api/v1/applications"
        apps = json.load(urllib.request.urlopen(base))
        app_id = apps[0]["id"]
        stages = json.load(
            urllib.request.urlopen(f"{base}/{app_id}/stages?status=complete")
        )
        # the candidate+argmin stage: heaviest by total executor run time
        heavy = max(stages, key=lambda s: s.get("executorRunTime", 0))
        det = json.load(
            urllib.request.urlopen(
                f"{base}/{app_id}/stages/{heavy['stageId']}/"
                f"{heavy['attemptId']}?details=true&taskStatus=SUCCESS"
            )
        )
        durs = sorted(
            t["taskMetrics"]["executorRunTime"]
            for t in det["tasks"].values()
            if "taskMetrics" in t
        )
        med = durs[len(durs) // 2] or 1
        total_core_s = sum(s.get("executorRunTime", 0) for s in stages) / 1000
        return {
            "split_enabled": split_enabled,
            "matched": n,
            "matched_ways": n_ways,
            "wall_s": round(wall_s, 1),
            "total_core_s": round(total_core_s, 1),
            "heavy_stage": heavy["stageId"],
            "n_tasks": len(durs),
            "stage_run_s": round(heavy["executorRunTime"] / 1000, 1),
            "med_task_ms": med,
            "max_task_ms": durs[-1],
            "ratio": round(durs[-1] / med, 2),
        }
    finally:
        spark.stop()


def main():
    n_hot = int(sys.argv[1]) if len(sys.argv) > 1 else 400_000
    n_uni = int(sys.argv[2]) if len(sys.argv) > 2 else 1_600_000
    # Repeat protocol (ADVICE r4): this host shows ±20–50% run-to-run CPU
    # variance (history/BENCH_SCALING*.json record it), so a single-run
    # core-seconds ratio is too noisy for a hard 1.3x gate. With repeats >= 2 we gate on
    # the min-of-N ratio at 1.3x; with a single run the 1.3x check is a
    # warning and only a >2.0x ratio (beyond documented noise) hard-fails.
    # Result-equality stays the unconditional hard gate either way.
    repeats = int(os.environ.get("SKEW_PROBE_REPEATS",
                                 sys.argv[3] if len(sys.argv) > 3 else 1))
    offs, ons = [], []
    for r in range(repeats):
        offs.append(run_once(False, n_hot, n_uni, 4049 + 2 * r))
        ons.append(run_once(True, n_hot, n_uni, 4050 + 2 * r))
    off = min(offs, key=lambda d: d["total_core_s"])
    on = min(ons, key=lambda d: d["total_core_s"])
    out = {
        "workload": {
            "hot_addr": n_hot,
            "uniform_addr": n_uni,
            "hot_share": round(n_hot / (n_hot + n_uni), 3),
        },
        "repeats": repeats,
        "split_off": off,
        "split_on": on,
    }
    if repeats > 1:
        out["split_off_all_core_s"] = [d["total_core_s"] for d in offs]
        out["split_on_all_core_s"] = [d["total_core_s"] for d in ons]
    print(json.dumps(out, indent=1))
    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "SKEW_PROOF.json"), "w") as f:
        json.dump(out, f, indent=1)
    for a, b in zip(offs, ons):
        assert b["matched"] == a["matched"], "hot-key split must not change results"
        assert b["matched_ways"] == a["matched_ways"]
    assert on["ratio"] < 3, f"argmin stage still skewed with split on: {on['ratio']}"
    cpu_ratio = on["total_core_s"] / max(off["total_core_s"], 1e-9)
    msg = (
        f"salted split costs {cpu_ratio:.2f}x the plain join's core-seconds "
        "(target <= 1.3x — the split should buy balance nearly for free)"
    )
    if repeats > 1:
        assert cpu_ratio <= 1.3, msg
    elif cpu_ratio > 1.3:
        print(f"WARNING (single run, +/-50% host variance): {msg}", file=sys.stderr)
        assert cpu_ratio <= 2.0, msg + " — exceeds even the noise envelope"
    return 0


if __name__ == "__main__":
    sys.exit(main())
