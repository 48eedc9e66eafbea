#!/usr/bin/env python3
"""Two-cluster-size scaling evidence for the north rule.

Runs the production pipeline body (``run_pipeline``: synthetic pages ->
bucketize -> gap-fill + STL -> 1h/1d/1w tiers [-> Gorilla sink], robust,
one bucket) on the same deterministic input at two parallelism levels
(default local[8] and local[32] = N and 4N cores — the sandbox stand-in for
N and 4N executors) and reports rolled-up points/sec at each plus the
scaling efficiency  thr_4N / (4 * thr_N).

Measurement hygiene: same fixed-seed input both runs; input materialized to
parquet once (generation excluded); per-run fresh JVM; a warmup job excludes
one-time planning/codegen; wall time is ``run_pipeline``'s own wall.
Per-layer numbers (stage task time, shuffle bytes, kernel time) come from
``perfbench/run.py --trace 1``, not from this tool.

Usage: python tools/scaling_bench.py [--urls 4000] [--days 60]
"""
from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

WORKER = r"""
import json, shutil, sys
sys.path.insert(0, {repo!r})
import pyspark.sql.functions as F
from stl_decomp_4j_spark.pipeline import PipelineConfig, run_pipeline
from stl_decomp_4j_spark.plans.session import build_session

cores = int(sys.argv[1]); pages_path = sys.argv[2]; out = sys.argv[3]
mode = sys.argv[4] if len(sys.argv) > 4 else "threads"
compress = len(sys.argv) > 5 and sys.argv[5] == "compress"
cores_per_exec = int(sys.argv[6]) if len(sys.argv) > 6 else 4
if mode == "executors":
    # Separate executor JVMs — cluster-faithful: shuffle, Arrow serving,
    # parquet writes and GC all scale per-executor, as on a real cluster,
    # instead of sharing one JVM across all cores.  BOTH pair sizes must be
    # multi-executor (cores_per_exec < small-size cores): comparing one
    # executor against four conflates "any inter-executor shuffle at all"
    # with "4x the executors" — the north rule scales N -> 4N executors,
    # where the N-executor side pays cross-JVM shuffle too.
    n_exec = max(1, cores // cores_per_exec)
    mem_mb = 4096 * cores_per_exec
    master = f"local-cluster[{{n_exec}},{{cores_per_exec}},{{mem_mb}}]"
    # Single-box stand-ins for per-node resources a real cluster has:
    # spark.local.dir on tmpfs = each node's local SSD for shuffle files
    # (here all JVMs would otherwise contend on ONE virtio disk); bigger
    # shuffle file buffers + in-flight fetch window cut syscall/round-trip
    # counts on the loopback fetch path.
    shuffle_dir = f"{{out}}/shuffle_{{cores}}"
    extra = {{"spark.executor.memory": f"{{mem_mb - 1024}}m",
              "spark.local.dir": shuffle_dir,
              "spark.shuffle.file.buffer": "1m",
              "spark.reducer.maxSizeInFlight": "96m",
              "spark.locality.wait": "0s",
              # each executor JVM must size its GC/JIT/netty pools for ITS
              # cores, not the host's: on a real cluster a 2-core executor
              # container sees 2 cpus (cgroups); on one box every JVM sees
              # them all and over-threads itself N_executors-fold
              "spark.executor.extraJavaOptions":
                  f"-XX:ActiveProcessorCount={{cores_per_exec}}",
              "spark.executorEnv.PYTHONPATH": {repo!r}}}
else:
    master = f"local[{{cores}}]"
    extra = {{}}
spark = build_session(app_name=f"scale-{{cores}}", master=master,
                      shuffle_partitions=max(32, 2 * cores), extra_conf=extra)
spark.range(10_000_000).select(F.sum("id")).collect()  # JVM warmup
# pre-warm the python workers (imports + malloc tuning are one-time per
# worker process; steady-state throughput is what the rule measures)
import pandas as _pd
from pyspark.sql.types import StructType, StructField, LongType
def _warm(pdf):
    import numpy, stl_decomp_4j_spark.stl  # noqa
    from stl_decomp_4j_spark.plans.malloc import tune_malloc
    tune_malloc()
    return _pd.DataFrame({{"id": pdf["id"][:1]}})
spark.range(0, 4 * cores, 1, 4 * cores).groupBy("id").applyInPandas(
    _warm, StructType([StructField("id", LongType())])).count()

store = f"{{out}}/store_{{cores}}"
shutil.rmtree(store, ignore_errors=True)
res = run_pipeline(spark, spark.read.parquet(pages_path), store,
                   PipelineConfig(robust=True, n_buckets=1, compress=compress))
points = sum(res.rows_per_tier.values())
print(json.dumps({{"cores": cores, "points": points, "wall_s": res.wall_s,
                  "points_per_sec": points / res.wall_s}}))
spark.stop()
"""


def run(cores: int, pages_path: str, out: str, mode: str = "threads", compress: bool = False,
        cores_per_exec: int = 4) -> dict:
    script = WORKER.format(repo=str(REPO))
    # Pin the ENTIRE run (JVM + python workers, which inherit affinity) to
    # `cores` physical CPUs.  Without this, a local[8] run on a 32-core host
    # lets the JVM's shuffle/parquet/codegen threads spill onto the other 24
    # cores — inflating the small-cluster baseline in a way no real 8-executor
    # cluster could match, and understating scaling efficiency.
    proc = subprocess.run(
        ["taskset", "-c", f"0-{cores - 1}", sys.executable, "-c", script,
         str(cores), pages_path, out, mode, "compress" if compress else "plain",
         str(cores_per_exec)],
        capture_output=True, text=True, timeout=3600,
        env={**os.environ, "SPARK_GRAFT_CPUS": str(cores)},
    )
    if proc.returncode != 0:
        print(proc.stderr[-4000:], file=sys.stderr)
        raise RuntimeError(f"run at {cores} cores failed")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--urls", type=int, default=8000)
    ap.add_argument("--days", type=int, default=60)
    ap.add_argument("--events-per-url", type=int, default=50)
    ap.add_argument("--small", type=int, default=8)
    ap.add_argument("--large", type=int, default=32)
    ap.add_argument("--out", default=None)
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--mode", choices=["threads", "executors"], default="threads",
                    help="threads: one JVM local[N]; executors: local-cluster with separate executor JVMs")
    ap.add_argument("--cores-per-executor", type=int, default=4,
                    help="executors mode: cores per executor JVM; pick < --small so BOTH pair sizes are multi-executor")
    ap.add_argument("--compress", action="store_true",
                    help="include the Gorilla-compressed tier sink in the timed pipeline")
    args = ap.parse_args()

    out = args.out or tempfile.mkdtemp(prefix="scaling_bench_", dir="/dev/shm")
    pages_path = f"{out}/pages"

    # materialize the deterministic input once (excluded from timing)
    gen = f"""
import sys; sys.path.insert(0, {str(REPO)!r})
from stl_decomp_4j_spark.plans.session import build_session
from stl_decomp_4j_spark.sources.pages import generate_pages
spark = build_session(app_name="gen")
generate_pages(spark, n_urls={args.urls}, days={args.days}, events_per_url={args.events_per_url},
               hot_url_count=max(2, {args.urls}//100), hot_multiplier=16,
               partitions=128).write.mode("overwrite").parquet({pages_path!r})
spark.stop()
"""
    subprocess.run([sys.executable, "-c", gen], check=True, capture_output=True, text=True, timeout=1800)

    # the sandbox host has 2-3x run-to-run performance variance (noisy
    # neighbor), so alternate small/large twice and take each size's best
    # run — both sizes see the same environment distribution
    runs = {args.small: [], args.large: []}
    for _ in range(args.repeats):
        runs[args.small].append(run(args.small, pages_path, out, args.mode, args.compress, args.cores_per_executor))
        runs[args.large].append(run(args.large, pages_path, out, args.mode, args.compress, args.cores_per_executor))
    small = max(runs[args.small], key=lambda r: r["points_per_sec"])
    large = max(runs[args.large], key=lambda r: r["points_per_sec"])
    ratio = args.large // args.small
    eff = large["points_per_sec"] / (ratio * small["points_per_sec"])
    result = {
        "mode": args.mode,
        "cores_per_executor": args.cores_per_executor if args.mode == "executors" else None,
        "compress": args.compress,
        "input": {"urls": args.urls, "days": args.days, "events_per_url": args.events_per_url},
        "small": small,
        "large": large,
        "all_runs": runs,
        "core_ratio": ratio,
        "scaling_efficiency": round(eff, 4),
    }
    print(json.dumps(result, indent=2))


if __name__ == "__main__":
    main()
