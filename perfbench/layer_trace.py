"""Traced run: replays the pipeline layer by layer and reports per-layer
metrics.

The replay calls each layer's public function in the order ``run_pipeline``
does (scan -> ``bucketize`` -> ``stl_decompose_sparse_df`` -> ``hourly_tier``
+ ``write_table`` -> ``compress_tier`` -> ``rollup_tier`` -> ...), each step
under its own job group and materialised to parquet before the next step
reads it.  Stage metrics of each step come from the JVM status store.  The
difference between the timed ``run_pipeline`` wall and the sum of the layer
self-times is reported as ``pipeline.unattributed_s``.

Outside the replay, the run times the STL kernel and the per-group UDF
function single-process over the same groups, encodes and decodes Gorilla
chunks single-process, sends a seeded mix of serving queries against the
replayed store, and calls the text, dedup, similarity and corpus layers of
``corpus_suite`` on a seeded document table, one step each.
"""
from __future__ import annotations

import statistics
import time
from contextlib import contextmanager
from pathlib import Path

import pandas as pd
import pyarrow.dataset as ds

import checks
import corpus_suite
from probes import SparkStatus, Tracer

# spans that replay work run_pipeline does; their self-times are attributed
PIPELINE_LAYERS = (
    "pipeline.highwater", "pipeline.digest_check", "pipeline.tier_count",
    "pipeline.final_counts", "checkpoint.manifest", "sources.scan", "bucketize",
    "stl_udf", "catalog.write_1h", "catalog.write_1d", "catalog.write_1w",
    "compress.1h", "compress.1d", "compress.1w", "rollup.1d", "rollup.1w",
)


class TracedRun:
    def __init__(self, spark, cores: int) -> None:
        self.spark = spark
        self.cores = cores
        self.status = SparkStatus(spark)
        self.tracer = Tracer()
        self.totals: dict[str, dict[str, float]] = {}
        self.overhead_s = 0.0

    @contextmanager
    def step(self, name: str):
        """Span + job group around one step.  When the step ends, its stage
        totals are added to the span's counters and summed per span name."""
        group = f"{name}#{len(self.tracer.spans)}"
        self.status.group(group)
        with self.tracer.span(name, group=group) as counters:
            yield counters
        t = time.perf_counter()
        tot = self.status.totals(group)
        counters.update(tot)
        agg = self.totals.setdefault(name, dict.fromkeys(tot, 0.0))
        for k, v in tot.items():
            agg[k] += v
        self.overhead_s += time.perf_counter() - t

    # --- pipeline replay ---------------------------------------------------

    def replay(self, pages_path: str, out: Path, scratch: Path, cfg, buckets: list[int]) -> None:
        import pyspark.sql.functions as F

        from stl_decomp_4j_spark.operators.bucketize import bucketize
        from stl_decomp_4j_spark.operators.compress import compress_tier
        from stl_decomp_4j_spark.operators.rollup import hourly_tier, rollup_tier
        from stl_decomp_4j_spark.operators.stl_udf import stl_decompose_sparse_df
        from stl_decomp_4j_spark.pipeline import TIER_SCHEMA_VERSION
        from stl_decomp_4j_spark.plans.checkpoint import Manifest, new_run_id
        from stl_decomp_4j_spark.sources.catalog import write_table

        spark = self.spark
        read = spark.read.parquet
        run_id = new_run_id()
        pages = read(pages_path).withColumn(
            "bucket", F.pmod(F.xxhash64("url"), F.lit(cfg.n_buckets)).cast("int"))
        part_cols = ["bucket"] + (["slab"] if cfg.slab else [])

        def with_slab(df, ts_col):
            if not cfg.slab:
                return df
            return df.withColumn("slab", F.date_format(F.date_trunc(cfg.slab, ts_col), "yyyy-MM-dd"))

        with self.step("pipeline.highwater"):
            pages.groupBy("bucket").agg(F.max(F.unix_timestamp("warc_ts"))).collect()
        with self.step("checkpoint.manifest"):
            Manifest(str(out)).last_done(schema_version=TIER_SCHEMA_VERSION)
        with self.step("pipeline.digest_check"):
            checked = pages.filter(F.col("bucket").isin(buckets))
            sha = F.sha2("text", 256)
            before = checked.groupBy("url").agg(F.min(sha).alias("b"), F.countDistinct(sha).alias("nd"))
            after = checked.groupBy("url").agg(F.min(sha).alias("a"))
            before.join(after, "url").filter((F.col("nd") != 1) | (F.col("a") != F.col("b"))).count()
        for b in buckets:
            sdir = scratch / f"b{b}"
            with self.step("sources.scan"):
                pages.filter(F.col("bucket") == b).select("url", "warc_ts").write.parquet(str(sdir / "scan"))
            with self.step("bucketize"):
                bucketize(read(str(sdir / "scan")), granularity=cfg.granularity).write.parquet(str(sdir / "bkt"))
            with self.step("stl_udf"):
                stl_decompose_sparse_df(
                    read(str(sdir / "bkt")), cfg.period, granularity=cfg.granularity,
                    seasonal_width=cfg.seasonal_width, robust=cfg.robust,
                ).write.parquet(str(sdir / "stl"))
            tier_df = hourly_tier(read(str(sdir / "stl")))
            for tier, nxt in (("1h", "day"), ("1d", "week"), ("1w", None)):
                with self.step(f"catalog.write_{tier}"):
                    tagged = tier_df.withColumn("run_id", F.lit(run_id)).withColumn("bucket", F.lit(b))
                    write_table(with_slab(tagged, "ts"), f"{out}/tier_{tier}",
                                partition_by=part_cols, mode="overwrite_partitions")
                mat = read(f"{out}/tier_{tier}").filter(F.col("bucket") == b).drop("run_id", "bucket", "slab")
                if cfg.compress:
                    with self.step(f"compress.{tier}"):
                        comps = ["value", "trend", "seasonal", "residual"]
                        cols = comps if tier == "1h" else [f"sum_{c}" for c in comps]
                        chunks = compress_tier(mat.select("url", "ts", *cols),
                                               presorted=(tier == "1h"), slab=cfg.slab)
                        chunks = chunks.withColumn("run_id", F.lit(run_id)).withColumn("bucket", F.lit(b))
                        write_table(with_slab(chunks, "t0"), f"{out}/gorilla_{tier}",
                                    partition_by=part_cols, mode="overwrite_partitions")
                with self.step("pipeline.tier_count"):
                    mat.count()
                if nxt:
                    roll = str(sdir / f"roll_{nxt}")
                    with self.step(f"rollup.{'1d' if nxt == 'day' else '1w'}"):
                        rollup_tier(mat, nxt).write.parquet(roll)
                    tier_df = read(roll)
            with self.step("checkpoint.manifest"):
                Manifest(str(out)).mark(run_id, b, "done", schema_version=TIER_SCHEMA_VERSION)
        with self.step("pipeline.final_counts"):
            for tier in ("1h", "1d", "1w"):
                read(f"{out}/tier_{tier}").count()

    # --- single-process kernel, UDF function and codec -----------------------

    def kernel(self, scratch: Path, buckets: list[int], cfg) -> dict[str, float]:
        """Calls the per-group UDF function on every group the STL stage
        got, with the ``stl_decompose`` it calls wrapped in a timer, so one
        pass gives the function's and the kernel's CPU time."""
        from stl_decomp_4j_spark.operators import stl_udf

        pdf = pd.concat([ds.dataset(str(scratch / f"b{b}" / "bkt"), format="parquet").to_table().to_pandas()
                         for b in buckets])
        fn = stl_udf.make_sparse_stl_fn(cfg.period, cfg.granularity, 0.0,
                                        seasonal_width=cfg.seasonal_width, robust=cfg.robust)
        groups = [g for _, g in pdf.groupby("url", sort=True)]
        kernel_cpu, kernel_ms, fn_cpu = 0.0, [], 0.0
        stl_decompose = stl_udf.stl_decompose

        def timed_kernel(*args, **kwargs):
            nonlocal kernel_cpu
            c, w = time.process_time(), time.perf_counter()
            try:
                return stl_decompose(*args, **kwargs)
            finally:
                kernel_cpu += time.process_time() - c
                kernel_ms.append((time.perf_counter() - w) * 1e3)

        stl_udf.stl_decompose = timed_kernel
        try:
            with self.tracer.span("stl_udf.fn"):
                for g in groups:
                    c = time.process_time()
                    fn(g)
                    fn_cpu += time.process_time() - c
        finally:
            stl_udf.stl_decompose = stl_decompose
        return {"stl.kernel_cpu_s": kernel_cpu,
                "stl.kernel_ms_p50": statistics.median(kernel_ms),
                "stl_udf.fn_cpu_s": fn_cpu, "stl_udf.groups": float(len(groups)),
                "stl_udf.rows_in": float(len(pdf))}

    def codec(self, out: Path) -> dict[str, float]:
        from stl_decomp_4j_spark.codec.gorilla import decode_series, encode_series

        tier = checks.read_tier(str(out), "1h").sort_values(["url", "ts"])
        chunks = checks.read_tier(str(out), "gorilla_1h")
        series = [(g["ts"].to_numpy() * 1000, g[c].to_numpy()) for _, g in tier.groupby("url")
                  for c in checks.COMPONENTS]
        with self.tracer.span("gorilla.encode"):
            t = time.perf_counter()
            for ts, v in series:
                encode_series(ts, v)
            enc = time.perf_counter() - t
        with self.tracer.span("gorilla.decode"):
            t = time.perf_counter()
            for blob in chunks["chunk"]:
                decode_series(bytes(blob))
            dec = time.perf_counter() - t
        pts = float(sum(len(v) for _, v in series))
        return {"gorilla.encode_pts_per_s": pts / enc,
                "gorilla.decode_pts_per_s": float(chunks["n"].sum()) / dec,
                "gorilla.bytes_per_point": float(chunks["chunk"].map(len).sum()) / pts,
                "compress.chunks": float(len(chunks))}

    def serve(self, out: Path, queries: list[dict]) -> dict[str, float]:
        chunks = checks.read_tier(str(out), "gorilla_1h")
        checks.run_query(self.spark, str(out), queries[0])  # warm the read path
        lat = {"range": [], "rollup": []}
        jobs = tasks = 0.0
        decoded = stored = pts_decoded = pts_returned = 0.0
        for q in queries:
            acc = self.spark.sparkContext.accumulator(0)
            with self.step(f"serve.{q['kind']}") as counters:
                t = time.perf_counter()
                got = checks.run_query(self.spark, str(out), q, decode_counter=acc)
                lat[q["kind"]].append((time.perf_counter() - t) * 1e3)
            jobs += counters["jobs"]
            tasks += counters["tasks"]
            if q["kind"] == "range":
                mine = chunks[chunks["url"].isin(q["urls"])]
                hit = mine[mine["column"].isin(q["columns"]) & (mine["t1"] >= q["ts_min"])
                           & (mine["t0"] <= q["ts_max"])]
                decoded += acc.value
                stored += len(mine)
                pts_decoded += float(hit["n"].sum())
                pts_returned += len(got)
        return {"serve.range_read_p50_ms": statistics.median(lat["range"]),
                "serve.rollup_p50_ms": statistics.median(lat["rollup"]),
                "serve.jobs_per_query": jobs / len(queries),
                "serve.tasks_per_query": tasks / len(queries),
                "compress.chunks_decoded_ratio": decoded / stored,
                "compress.decode_useful_ratio": pts_returned / pts_decoded}

    def corpus(self, path: Path) -> tuple[dict[str, float], dict[str, tuple]]:
        """Each corpus-suite layer called once under its own step; returns
        the layer metrics and the results."""
        m, results = {}, {}
        for layer in corpus_suite.LAYERS:
            with self.step(layer) as counters:
                t = time.perf_counter()
                results[layer] = corpus_suite.run_layer(self.spark, path, layer)
                m[f"{layer}_s"] = time.perf_counter() - t
            m[f"{layer}_task_s"] = counters["task_s"]
            m[f"{layer}_shuffle_write_bytes"] = counters["shuffle_write_bytes"]
            m[f"{layer}_spark_jobs"] = counters["jobs"]
        return m, results

    # --- metrics -------------------------------------------------------------

    def layer_metrics(self, pipeline_wall: float, pipeline_tot: dict, out: Path) -> dict[str, float]:
        """Self-times and stage totals of the replay, against the timed
        step's wall and stage totals (``pipeline_tot``)."""
        st, tot = self.tracer.self_times(), self.totals
        files = [p for d in out.iterdir() if d.name.startswith(("tier_", "gorilla_"))
                 for p in d.rglob("*.parquet")]
        m = {
            "pipeline.wall_s": pipeline_wall,
            "pipeline.spark_jobs": pipeline_tot["jobs"],
            "pipeline.spark_stages": pipeline_tot["stages"],
            "pipeline.tasks": pipeline_tot["tasks"],
            "pipeline.task_s": pipeline_tot["task_s"],
            "pipeline.idle_core_share": 1 - pipeline_tot["task_s"] / (pipeline_wall * self.cores),
            "pipeline.shuffle_read_bytes": pipeline_tot["shuffle_read_bytes"],
            "pipeline.shuffle_write_bytes": pipeline_tot["shuffle_write_bytes"],
            "pipeline.unattributed_s": pipeline_wall - sum(st[n] for n in PIPELINE_LAYERS),
            "pipeline.digest_check_s": st["pipeline.digest_check"],
            "pipeline.highwater_s": st["pipeline.highwater"],
            "pipeline.tier_count_s": st["pipeline.tier_count"] + st["pipeline.final_counts"],
            "checkpoint.manifest_s": st["checkpoint.manifest"],
            "sources.scan_s": st["sources.scan"],
            "sources.input_bytes": tot["sources.scan"]["input_bytes"],
            "bucketize.s": st["bucketize"],
            "bucketize.rows_out": tot["bucketize"]["output_records"],
            "bucketize.shuffle_write_bytes": tot["bucketize"]["shuffle_write_bytes"],
            "stl_udf.s": st["stl_udf"],
            "stl_udf.task_s": tot["stl_udf"]["task_s"],
            "stl_udf.tasks": tot["stl_udf"]["tasks"],
            "stl_udf.rows_out": tot["stl_udf"]["output_records"],
            "stl_udf.core_utilization": tot["stl_udf"]["task_s"] / (st["stl_udf"] * self.cores),
            "rollup.1d_s": st["rollup.1d"],
            "rollup.1w_s": st["rollup.1w"],
            "rollup.shuffle_read_bytes": (tot["rollup.1d"]["shuffle_read_bytes"]
                                          + tot["rollup.1w"]["shuffle_read_bytes"]),
            "catalog.files_written": float(len(files)),
            "catalog.bytes_written": float(sum(p.stat().st_size for p in files)),
        }
        for tier in ("1h", "1d", "1w"):
            m[f"catalog.write_{tier}_s"] = st[f"catalog.write_{tier}"]
            m[f"compress.{tier}_s"] = st[f"compress.{tier}"]
        return m
