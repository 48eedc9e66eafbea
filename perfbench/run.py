#!/usr/bin/env python3
"""Benchmark runner for the rollup engine.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload build_robust --seed 1 --seconds 10 --trace 0

Runs one workload (see ``workloads.py``) on ``local[<cores>]`` from this one
Python process: set-up, then timed steps until ``--seconds`` have passed (at
least one), then output checks outside the timed part.  With ``--trace 1``
it additionally replays the pipeline layer by layer (``layer_trace.py``).

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics when untraced, the per-layer metrics when traced.  Lines before it
start with ``#`` and carry context (host calibration, tail percentile,
failure notes).  Everything the run writes goes under ``.perfbench/`` in the
checkout; only the span files of traced runs are kept.
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
STATE = ROOT / ".perfbench"
CO2 = ROOT / "tests" / "fixtures" / "co2_golden.json"


def info(**kw) -> None:
    print("# " + json.dumps(kw, default=float), flush=True)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_session(work: Path, n: int):
    from stl_decomp_4j_spark.plans.session import build_session

    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    return build_session(
        app_name="perfbench",
        master=f"local[{n}]",
        extra_conf={
            "spark.local.dir": str(work / "local"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM it launched has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def tail_percentile(values: list[float]) -> tuple[float, float]:
    """Highest percentile with at least ten samples beyond it, and its value;
    with fewer than eleven samples there is none, so the maximum (p100)."""
    n = len(values)
    if n < 11:
        return 100.0, max(values)
    vs = sorted(values)
    k = n - 11  # ten samples lie above index k
    return 100.0 * (k + 1) / n, vs[k]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject-fault", action="store_true",
                    help="flip one bit of one 1h-tier value before the checks (checker self-test)")
    args = ap.parse_args()

    if not (ROOT / "stl_decomp_4j_spark" / "__init__.py").is_file() or not CO2.is_file():
        print(f"error: no program source next to {HERE.name}/ (run from a full checkout)", file=sys.stderr)
        return 2
    sys.path[:0] = [str(HERE), str(ROOT)]
    import stl_decomp_4j_spark

    if not Path(stl_decomp_4j_spark.__file__).resolve().is_relative_to(ROOT):
        print("error: stl_decomp_4j_spark does not resolve to this checkout", file=sys.stderr)
        return 2

    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    n = cores()
    work = STATE / f"work-{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(n),
        PYTHONPATH=os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
        TMPDIR=str(work / "tmp"),
        SPARK_LOCAL_DIRS=str(work / "local"),
    )
    try:
        return run(args, n, work, WORKLOADS[args.workload]())
    finally:
        shutil.rmtree(work, ignore_errors=True)


def timed_steps(wl, ctx, seconds: float, traced, mon) -> tuple:
    """Run steps until ``seconds`` have passed (at least one); returns
    (step durations, rolled-up points, last pipeline result, failures, notes).
    A failed step counts as failed and the loop goes on."""
    durations, points, res, failed, notes = [], 0, None, 0, []
    t_run = time.perf_counter()
    i = 0
    while i == 0 or time.perf_counter() - t_run < seconds:
        out = wl.before_op(ctx, i)
        if traced:
            traced.status.group(f"pipeline#{i}")
        t = time.perf_counter()
        try:
            res, pts = wl.op(ctx, out)
            durations.append(time.perf_counter() - t)
            points += pts
        except Exception as e:
            failed += 1
            notes.append(f"step {i} failed: {type(e).__name__}: {str(e)[:300]}")
        finally:
            if traced:
                traced.status.group("perfbench")
        i += 1
        if mon.stalls:
            notes.append("stall guard cancelled a step: JVM idle on an idle box")
            break
    return durations, points, res, failed, notes


def run(args, n: int, work: Path, wl) -> int:
    from probes import ProcMonitor, host_calibration
    from workloads import Context, store_bytes

    from stl_decomp_4j_spark.plans.malloc import tune_malloc

    tune_malloc()
    declared = json.loads((ROOT / "BENCHMARK.json").read_text())
    units = {m["name"]: m["unit"] for m in declared["per_layer" if args.trace else "end_to_end"]}
    calib_before = host_calibration(CO2)
    with ProcMonitor() as mon:
        t = time.perf_counter()
        spark = start_session(work, n)
        from pyspark import SparkContext

        mon.jvm_pid = SparkContext._gateway.proc.pid
        mon.on_stall = spark.sparkContext.cancelAllJobs
        mon.busy(True)  # the stall guard watches everything Spark does from here
        spark.range(1).count()
        session_s = time.perf_counter() - t
        try:
            ctx = Context(spark, work, args.seed)
            wl.setup(ctx)
            traced = None
            if args.trace:
                from layer_trace import TracedRun

                traced = TracedRun(spark, n)
            durations, points, res, failed, notes = timed_steps(wl, ctx, args.seconds, traced, mon)
            steps = attempted = len(durations) + failed
            if not durations:
                for note in notes:
                    info(note=note)
                print("error: no timed step succeeded", file=sys.stderr)
                return 1
            if failed == 0:
                if args.inject_fault:
                    inject_fault(ctx)
                a, f, nts = wl.check(ctx)
                attempted, failed, notes = attempted + a, failed + f, notes + nts
            if traced:
                metrics, (a, f, nts) = layer_metrics(traced, wl, ctx, work, steps - 1, durations, res)
                attempted, failed, notes = attempted + a, failed + f, notes + nts
                metrics["proc.peak_rss_mb"] = mon.peak_rss / 2**20
            else:
                pct, tail = tail_percentile(durations)
                info(step_s=durations, tail_percentile=pct, tail_ms=tail * 1e3,
                     tail_samples=len(durations), session_s=session_s, workload_setup_s=ctx.setup_s)
                metrics = {
                    "setup_s": session_s + ctx.setup_s,
                    "step_p50_ms": statistics.median(durations) * 1e3,
                    "rollup_points_per_s": points / sum(durations),
                    "store_bytes_per_point": store_bytes(ctx.out) / sum(res.rows_per_tier.values()),
                }
        finally:
            mon.busy(False)
            stop_session(spark)
    calib_after = host_calibration(CO2)
    info(host_before=calib_before, host_after=calib_after)
    if traced:
        for k in ("calib_co2_ms", "membw_gbps"):
            metrics[f"host.{k}"] = (calib_before[k] + calib_after[k]) / 2
    for note in notes:
        info(note=note)
    if set(metrics) != set(units):
        print(f"error: metrics {sorted(set(metrics) ^ set(units))} disagree with BENCHMARK.json",
              file=sys.stderr)
        return 1
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }), flush=True)
    return 0


def inject_fault(ctx) -> None:
    """Flip the lowest mantissa bit of one ``trend`` value in one 1h-tier
    file, rewriting the file in place."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    f = sorted((ctx.out / "tier_1h").rglob("*.parquet"))[0]
    table = pq.read_table(f)
    trend = table.column("trend").to_numpy().copy()
    trend.view(np.int64)[0] ^= 1
    table = table.set_column(table.schema.get_field_index("trend"), "trend", pa.array(trend))
    pq.write_table(table, f)
    info(note=f"fault injected: url {table.column('url')[0]} first row trend bit flipped")


def layer_metrics(traced, wl, ctx, work: Path, last_step: int, durations: list, res) -> tuple:
    """Per-layer metrics of a traced run, and the (attempted, failed, notes)
    of the corpus-suite checks; the replay repeats the last step."""
    import checks
    import corpus_suite
    import numpy as np

    pipe_tot = traced.status.totals(f"pipeline#{last_step}")
    buckets = list(res.buckets_run)
    replay_out, scratch = work / "replay", work / "replay_scratch"
    t = time.perf_counter()
    traced.replay(str(ctx.pages), replay_out, scratch, wl.config(), buckets)
    replay_s = time.perf_counter() - t
    m = traced.layer_metrics(durations[-1], pipe_tot, replay_out)
    m["pipeline.buckets_run"] = float(len(buckets))
    m["checkpoint.manifest_rows"] = float(len((ctx.out / "manifest.jsonl").read_text().splitlines()))
    k = traced.kernel(scratch, buckets, wl.config())
    m.update(k)
    m["stl_udf.framing_s"] = m["stl_udf.task_s"] - m["stl_udf.fn_cpu_s"]
    m.update(traced.codec(replay_out))
    rng = np.random.default_rng([ctx.seed, 11])
    m.update(traced.serve(ctx.out, checks.serve_queries(ctx.crawl, rng, 6)))
    corpus = work / "corpus"
    corpus_suite.generate_corpus(ctx.seed, corpus)
    suite, results = traced.corpus(corpus)
    m.update(suite)
    m["trace.overhead_s"] = traced.overhead_s
    m["trace.replay_s"] = replay_s
    m["trace.replay_over_pipeline"] = replay_s / durations[-1]
    traced.tracer.write(STATE / "spans" / f"{wl.name}-seed{ctx.seed}-{traced.tracer.run_id}.jsonl")
    info(spans=len(traced.tracer.spans), run_id=traced.tracer.run_id)
    return m, corpus_suite.check(corpus, results)


if __name__ == "__main__":
    sys.exit(main())
