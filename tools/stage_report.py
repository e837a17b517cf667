#!/usr/bin/env python
"""Summarize a Spark event-log dir: per-stage wall / task / CPU / GC /
shuffle / spill metrics, sorted by wall time. Usage:

    python tools/stage_report.py <eventLog.dir> [topN]
    python tools/stage_report.py --gaps <eventLog.dir>

``--gaps`` prints the driver-idle decomposition and exits 1 when it
breaks the budget (``serial_floor_violations``).

Works with rolling event logs (events_* files, optionally zstd)."""

from __future__ import annotations

import collections
import glob
import json
import os
import statistics
import subprocess
import sys

# Driver-idle budget (seconds) for the inter-job gaps of one pipeline run:
# the longest single gap, and the sum of all gaps.
MAX_GAP_S = 10.0
MAX_TOTAL_GAP_S = 40.0


def load_lines(logdir: str) -> list[str]:
    dds = sorted(glob.glob(os.path.join(logdir, "eventlog*")))
    target = dds[-1] if dds else logdir
    lines: list[str] = []
    for p in sorted(glob.glob(os.path.join(target, "events_*"))):
        with open(p, "rb") as f:
            head = f.read(4)
        if head[:4] == b"\x28\xb5\x2f\xfd":
            import shutil as _sh

            zstd_bin = _sh.which("zstd")
            if zstd_bin:
                out = subprocess.run([zstd_bin, "-dc", p], capture_output=True)
                lines += out.stdout.decode(errors="replace").splitlines()
            else:
                # no zstd binary on PATH (e.g. a stripped batch env):
                # pyarrow ships a zstd streaming decoder
                import pyarrow as _pa

                with _pa.CompressedInputStream(_pa.OSFile(p, "rb"), "zstd") as st:
                    lines += st.read().decode(errors="replace").splitlines()
        else:
            lines += open(p, errors="replace").read().splitlines()
    if not lines and os.path.isfile(target):
        lines = open(target, errors="replace").read().splitlines()
    return lines


def report(logdir: str, top: int = 25) -> None:
    stages = {}
    tasks = collections.defaultdict(list)
    for line in load_lines(logdir):
        try:
            ev = json.loads(line)
        except Exception:
            continue
        if not isinstance(ev, dict):
            continue
        e = ev.get("Event")
        if e == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            stages[si["Stage ID"]] = (
                si["Stage Name"].split("\n")[0][:46],
                si["Number of Tasks"],
                si.get("Submission Time", 0),
                si.get("Completion Time", 0),
            )
        elif e == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            sh_r = (m.get("Shuffle Read Metrics") or {})
            sh_w = (m.get("Shuffle Write Metrics") or {})
            ti = ev["Task Info"]
            tasks[ev["Stage ID"]].append(
                dict(
                    wall=(ti["Finish Time"] - ti["Launch Time"]) / 1000,
                    cpu=m.get("Executor CPU Time", 0) / 1e9,
                    run=m.get("Executor Run Time", 0) / 1000,
                    gc=m.get("JVM GC Time", 0) / 1000,
                    in_bytes=(m.get("Input Metrics") or {}).get("Bytes Read", 0),
                    out_bytes=(m.get("Output Metrics") or {}).get("Bytes Written", 0),
                    shr=sh_r.get("Local Bytes Read", 0) + sh_r.get("Remote Bytes Read", 0),
                    shw=sh_w.get("Shuffle Bytes Written", 0),
                    spill=m.get("Disk Bytes Spilled", 0),
                )
            )
    rows = []
    for sid, (nm, nt, sub, comp) in stages.items():
        ts = tasks.get(sid, [])
        if not ts:
            continue
        walls = [t["wall"] for t in ts]
        rows.append(
            dict(
                sid=sid,
                name=nm,
                ntasks=nt,
                wall=(comp - sub) / 1000,
                sum_run=sum(t["run"] for t in ts),
                sum_cpu=sum(t["cpu"] for t in ts),
                gc=sum(t["gc"] for t in ts),
                med=statistics.median(walls),
                mx=max(walls),
                in_gb=sum(t["in_bytes"] for t in ts) / 1e9,
                shr_gb=sum(t["shr"] for t in ts) / 1e9,
                shw_gb=sum(t["shw"] for t in ts) / 1e9,
                spill_gb=sum(t["spill"] for t in ts) / 1e9,
            )
        )
    rows.sort(key=lambda r: -r["wall"])
    print(
        f"{'sid':>4} {'wall':>7} {'tasks':>5} {'sumRun':>8} {'sumCPU':>8} {'gc':>6} "
        f"{'medT':>6} {'maxT':>6} {'inGB':>6} {'shrGB':>6} {'shwGB':>6} {'spill':>6}  name"
    )
    for r in rows[:top]:
        print(
            f"{r['sid']:>4} {r['wall']:>7.1f} {r['ntasks']:>5} {r['sum_run']:>8.1f} "
            f"{r['sum_cpu']:>8.1f} {r['gc']:>6.1f} {r['med']:>6.1f} {r['mx']:>6.1f} "
            f"{r['in_gb']:>6.2f} {r['shr_gb']:>6.2f} {r['shw_gb']:>6.2f} "
            f"{r['spill_gb']:>6.2f}  {r['name']}"
        )


def serial_floor_metrics(
    logdir: str, window_start_ms: int | None = None,
    window_end_ms: int | None = None,
) -> dict:
    """Driver-idle decomposition from the job timeline: per-gap seconds
    between consecutive jobs (merged over overlaps), the max single gap,
    and the total. This is the mechanically-checkable serial-floor signal —
    plan construction, collects, and manifest commits all show up as
    inter-job idle while the cluster waits. ``window_start/end_ms``
    restrict the analysis to a timed window (e.g. bench's t_start..t_end,
    excluding session bring-up and warm-up, which happen before it)."""
    jobs = []
    app_start = None
    for line in load_lines(logdir):
        try:
            ev = json.loads(line)
        except Exception:
            continue
        if not isinstance(ev, dict):
            continue
        e = ev.get("Event")
        if e == "SparkListenerApplicationStart":
            app_start = ev["Timestamp"]
        elif e == "SparkListenerJobStart":
            jobs.append([ev["Job ID"], ev["Submission Time"], None])
        elif e == "SparkListenerJobEnd":
            for j in jobs:
                if j[0] == ev["Job ID"]:
                    j[2] = ev["Completion Time"]
    jobs = [(jid, s, c) for jid, s, c in jobs if c is not None]
    t0 = window_start_ms if window_start_ms is not None else app_start
    if t0 is None:
        # No ApplicationStart event in the log and no explicit window:
        # anchor the window at the first completed job's submission time
        # (ADVICE r4: max(s, None) would TypeError below).
        t0 = min((s for _j, s, _c in jobs), default=None)
    if window_end_ms is not None:
        jobs = [(j, s, c) for j, s, c in jobs if s <= window_end_ms]
    jobs = [(j, max(s, t0), max(c, t0)) for j, s, c in jobs if c >= (t0 or 0)]
    jobs.sort(key=lambda j: j[1])
    gaps = []
    prev_end = t0
    for _jid, sub, comp in jobs:
        if prev_end is not None and sub > prev_end:
            gaps.append((sub - prev_end) / 1000)
        prev_end = comp if prev_end is None else max(prev_end, comp)
    span = (prev_end - t0) / 1000 if (t0 and prev_end) else 0.0
    return {
        "n_jobs": len(jobs),
        "span_s": round(span, 2),
        "total_gap_s": round(sum(gaps), 2),
        "max_gap_s": round(max(gaps), 2) if gaps else 0.0,
        "n_gaps_over_1s": sum(1 for g in gaps if g > 1.0),
    }


def serial_floor_violations(sfm: dict) -> list[str]:
    """The driver-idle budget: human-readable violations of
    ``serial_floor_metrics`` output against MAX_GAP_S and MAX_TOTAL_GAP_S.
    Empty list = within budget."""
    out = []
    if sfm["max_gap_s"] > MAX_GAP_S:
        out.append(f"driver-idle gap {sfm['max_gap_s']}s > {MAX_GAP_S}s")
    if sfm["total_gap_s"] > MAX_TOTAL_GAP_S:
        out.append(
            f"total driver-idle {sfm['total_gap_s']}s > {MAX_TOTAL_GAP_S}s "
            f"(span {sfm['span_s']}s, {sfm['n_jobs']} jobs)"
        )
    return out


if __name__ == "__main__":
    if "--gaps" in sys.argv:
        args = [a for a in sys.argv[1:] if a != "--gaps"]
        m = serial_floor_metrics(args[0])
        print(json.dumps(m, indent=1))
        viol = serial_floor_violations(m)
        for v in viol:
            print("VIOLATION:", v, file=sys.stderr)
        sys.exit(1 if viol else 0)
    report(sys.argv[1], int(sys.argv[2]) if len(sys.argv) > 2 else 25)
