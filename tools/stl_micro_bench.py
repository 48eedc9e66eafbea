#!/usr/bin/env python3
"""Single-series STL micro-benchmark mirroring the reference's StlPerfTest
workloads (CO2: 708 pts, period 12, sw 35, non-robust; hourly: 89,344 pts,
periodic-by-hand widths/jumps) so our per-iteration cost is directly
comparable to the numbers the reference harness prints.

Usage: python tools/stl_micro_bench.py [--timed 100] [--warmup 10] [--hourly]

--hourly needs the reference checkout's hourly CSV; without it the hourly
workload prints a skip line and the tool still exits 0.
"""
from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

import numpy as np

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from stl_decomp_4j_spark.plans.malloc import tune_malloc
from stl_decomp_4j_spark.stl import build_stl_config, stl_decompose

tune_malloc()


def bench(data, config, warmup, timed):
    for _ in range(warmup):
        stl_decompose(data, config)
    t0 = time.perf_counter()
    for _ in range(timed):
        stl_decompose(data, config)
    dt = time.perf_counter() - t0
    return dt / timed


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--timed", type=int, default=100)
    ap.add_argument("--warmup", type=int, default=10)
    ap.add_argument("--hourly", action="store_true")
    args = ap.parse_args()

    fx = json.load(open(Path(__file__).parent.parent / "tests/fixtures/co2_golden.json"))
    co2 = np.array(fx["data"])
    cfg = build_stl_config(len(co2), 12, seasonal_width=35, robust=False)
    ms = bench(co2, cfg, args.warmup, args.timed) * 1000
    print(json.dumps({"workload": "co2", "n": len(co2), "ms_per_iter": round(ms, 3)}))

    if args.hourly:
        # reference hourly workload config (StlPerfTest.java:83-93)
        raw = Path("/root/reference/examples/StlPerfTest/fortran_benchmark/hourly_stl_test.csv").read_text()
        vals = np.array([float(l.split(",")[-1]) for l in raw.strip().splitlines()[1:]])
        cfg = build_stl_config(
            len(vals), 8736,
            seasonal_width=893451, seasonal_degree=0, seasonal_jump=89346,
            trend_width=13105, trend_jump=1311,
            lowpass_width=8737, lowpass_jump=874,
            inner_iterations=2, outer_iterations=0,
        )
        ms = bench(vals, cfg, max(1, args.warmup // 5), max(2, args.timed // 20)) * 1000
        print(json.dumps({"workload": "hourly", "n": len(vals), "ms_per_iter": round(ms, 3)}))


if __name__ == "__main__":
    try:
        main()
    except FileNotFoundError as ex:
        # the hourly series ships only with the reference checkout
        if not str(ex.filename).endswith("hourly_stl_test.csv"):
            raise
        print(json.dumps({"workload": "hourly", "skipped": f"{ex.filename} not found"}))
