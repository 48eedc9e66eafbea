"""The benchmark's workloads.

Both are batch workloads: one ``run_pipeline`` call per timed step, run one
after another from this single Python process.

- ``build_robust``: the first ``run_pipeline`` call of the process, a full
  backfill (robust STL, period 24, seasonal width 35, compression on) of
  fairly dense hourly series into a fresh store, with one url-hash bucket.
  The STL UDF stage (kernel, Arrow/pandas framing and the Python workers'
  per-task cost) takes about 30% of the task time, the tier/Gorilla sink
  and the first call's start-up most of the rest; the kernel alone is about
  4%, so a kernel-only change shows per layer, not end to end.
- ``refresh_sparse``: set-up backfills many sparse, non-robust urls; each
  timed step appends a crawl slice touching a quarter of the urls and runs
  ``run_pipeline(incremental=True)``.  With one bucket, every step rebuilds
  that bucket; the kernel does little, and the tier re-reads and counts,
  the manifest, the byte-identity check and the sink dominate.
"""
from __future__ import annotations

import json
import shutil
import time
from dataclasses import dataclass
from pathlib import Path

import numpy as np

import checks
from pages_gen import BASE_EPOCH_S, DAY, HOUR, Crawl, PagesSpec, append_slice, generate, write_pages


@dataclass
class Context:
    spark: object
    work: Path
    seed: int
    crawl: Crawl | None = None
    pages: Path | None = None
    out: Path | None = None
    setup_s: float = 0.0


def store_bytes(out: Path) -> int:
    return sum(p.stat().st_size for d in out.iterdir()
               if d.name.startswith(("tier_", "gorilla_")) for p in d.rglob("*") if p.is_file())


class PipelineWorkload:
    name = ""
    spec: PagesSpec
    cfg_kwargs: dict
    stl_checks = 8  # sample urls checked against an in-process stl_decompose
    serve_checks = 2  # serving queries checked against a pandas recompute

    def config(self):
        from stl_decomp_4j_spark.pipeline import PipelineConfig

        return PipelineConfig(**self.cfg_kwargs)

    def stl_kwargs(self) -> dict:
        return {"seasonal_width": self.cfg_kwargs["seasonal_width"],
                "robust": self.cfg_kwargs["robust"]}

    def prepare_inputs(self, ctx: Context) -> float:
        """Generate and write the pages table and scan it once with Spark;
        returns the seconds this took."""
        t = time.perf_counter()
        ctx.crawl, ctx.pages = generate(self.spec, ctx.seed), ctx.work / "pages"
        write_pages(ctx.crawl, str(ctx.pages))
        ctx.spark.read.parquet(str(ctx.pages)).count()
        return time.perf_counter() - t

    def run(self, ctx: Context, out: Path, incremental: bool = False):
        from stl_decomp_4j_spark.pipeline import run_pipeline

        return run_pipeline(ctx.spark, ctx.spark.read.parquet(str(ctx.pages)), str(out),
                            self.config(), incremental=incremental)

    def check(self, ctx: Context) -> tuple[int, int, list[str]]:
        rng = np.random.default_rng([ctx.seed, 7])
        sample = set(rng.choice(len(ctx.crawl.urls), size=self.stl_checks, replace=False).tolist())
        a1, f1, n1 = checks.check_store(str(ctx.out), ctx.crawl, sample, self.cfg_kwargs["period"],
                                        self.stl_kwargs())
        a2, f2, n2 = checks.check_serving(
            ctx.spark, str(ctx.out), checks.serve_queries(ctx.crawl, rng, self.serve_checks))
        return a1 + a2, f1 + f2, n1 + n2


class BuildRobust(PipelineWorkload):
    name = "build_robust"
    spec = PagesSpec(n_urls=60, days=30, density=0.6, hot_share=0.05, hot_multiplier=4)
    cfg_kwargs = dict(period=24, seasonal_width=35, robust=True, n_buckets=1, compress=True)

    def setup(self, ctx: Context) -> None:
        ctx.setup_s = self.prepare_inputs(ctx)

    def before_op(self, ctx: Context, i: int) -> Path:
        if ctx.out is not None:
            shutil.rmtree(ctx.out)
        return ctx.work / f"store{i}"

    def op(self, ctx: Context, out: Path):
        res = self.run(ctx, out)
        ctx.out = out
        return res, sum(res.rows_per_tier.values())


class RefreshSparse(PipelineWorkload):
    name = "refresh_sparse"
    spec = PagesSpec(n_urls=200, days=14, density=0.05, hot_share=0.05, hot_multiplier=8)
    cfg_kwargs = dict(period=24, seasonal_width=35, robust=False, n_buckets=1, compress=True)
    touched_share = 0.25  # of all urls
    slice_hours = 6

    def setup(self, ctx: Context) -> None:
        prep = self.prepare_inputs(ctx)
        self.base = ctx.crawl
        t = time.perf_counter()
        ctx.out = ctx.work / "store"
        self.run(ctx, ctx.out)
        ctx.setup_s = prep + time.perf_counter() - t

    def before_op(self, ctx: Context, i: int) -> Path:
        """Append crawl slice ``i`` as a new file of the pages table."""
        start = BASE_EPOCH_S + self.spec.days * DAY + i * self.slice_hours * HOUR
        new = append_slice(self.base, ctx.seed, i, self.touched_share, start,
                           self.slice_hours * HOUR, per_url=2)
        write_pages(new, str(ctx.pages), files=1, prefix=f"slice{i:03d}")
        ctx.crawl = ctx.crawl.concat(new)
        return ctx.out

    def op(self, ctx: Context, out: Path):
        res = self.run(ctx, out, incremental=True)
        rows = [json.loads(line) for line in (out / "manifest.jsonl").read_text().splitlines()]
        return res, sum(r.get("points", 0) for r in rows if r["run_id"] == res.run_id)


WORKLOADS = {w.name: w for w in (BuildRobust, RefreshSparse)}
