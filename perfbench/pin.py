#!/usr/bin/env python3
"""Regenerate pins.json: the per-layer row counts and digests that every
benchmark run checks its pipeline outputs against, one entry per workload
and input seed (and one for each workload's smoke-test input).

    python3 perfbench/pin.py [workload ...]

Run it on the commit whose outputs are the reference, and only when a
change is meant to alter the layers' contents.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

import run as bench


def pin_workload(workload: str, work: str) -> dict:
    from checks import pin_key, summarize_layers
    from inputs import PIN_MODULUS, generate

    args = argparse.Namespace(workload=workload, seed=0, seconds=0, trace=0, smoke=False)
    r = bench.Run(args, work)
    r.setup(warm_plans=False)
    pins = {}
    try:
        for smoke, seeds in ((False, range(PIN_MODULUS)), (True, [0])):
            for seed in seeds:
                sub = os.path.join(work, f"in-{int(smoke)}-{seed}")
                r.inp = generate(workload, seed, sub, smoke=smoke)
                _, store = r.pipeline(f"store-{int(smoke)}-{seed}")
                key = pin_key(workload, seed, smoke)
                pins[key] = summarize_layers(store, r.layers)
                print(key, json.dumps(pins[key]), flush=True)
    finally:
        bench._stop_spark(r.spark)
    return pins


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("workloads", nargs="*", default=["city", "region_pbf"])
    args = ap.parse_args()
    work = os.path.join(bench.BENCH_DIR, "_work", f"pin-{os.getpid()}")
    bench._prepare_env(work)
    from checks import PINS_PATH, load_pins

    pins = load_pins()
    try:
        for workload in args.workloads:
            pins.update(pin_workload(workload, work))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(PINS_PATH, "w") as f:
        json.dump(dict(sorted(pins.items())), f, indent=1)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
