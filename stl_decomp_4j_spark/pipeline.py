"""The north-rule pipeline: pages -> bucketize -> gap-fill + STL ->
1h/1d/1w retention tiers -> Gorilla-compressed sink, with incremental
refresh, per-bucket lineage + metrics, and the per-url text byte-identity
invariant.  The store describes itself: ``<out_root>/params.json`` records
the config and tier schema version, and every later call checks it.

Physical shape (SURVEY.md §3.4): Iceberg/parquet scan (column-pruned to
url+warc_ts) -> hash agg bucketize (partial+final) -> numbered url
repartition (one task per core) + sort within partitions by (url, ts) ->
mapInArrow STL kernel that walks url runs, gap-fills each url's observed
buckets to its dense grid in NumPy and decomposes it (the one
JVM<->Python Arrow boundary) -> tier rollup aggs (each tier from the
previous, exact) -> Gorilla encode (one task per core) -> partitioned sink.
Each tier's row count is an Observation on its write, not an extra job, and
each tier is read back from its own bucket's partitions with the schema it
was written with (no schema-inference job, no listing of other buckets).

The jobs of one bucket run as a dependency graph.  Only the
chain scan -> STL -> write 1h -> rollup 1d -> write 1d -> rollup 1w -> write
1w runs on the calling thread.  The jobs that feed nothing downstream run on
a 4-thread pool owned by the call, overlapping the chain: the high-water
scan, the text-digest check (one aggregate), the three Gorilla encode +
writes and the three final tier counts.  At these sizes the pipeline is
latency-bound (the serial chain of Spark jobs, not the kernel, dominates
its wall), so overlap is what shortens it.  Barrier: every Gorilla write of a
bucket finishes before the bucket's manifest row is marked done, and a
failed one propagates, so a crash never records a half-written bucket.

This is the one pipeline body: jobs/rollup_job.py, perfbench and
tools/scaling_bench.py all call ``run_pipeline``.
"""
from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import asdict, dataclass, field
from pathlib import Path
from typing import ClassVar

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.util import inheritable_thread_target

from .operators.bucketize import bucketize
from .operators.compress import compress_tier
from .operators.retention import slab_start
from .operators.rollup import COMPONENTS, TIERS, hourly_tier, rollup_tier
from .operators.stl_udf import stl_decompose_sparse_df
from .plans.checkpoint import Manifest, check_params, new_run_id, write_params
from .sources.catalog import write_table
from .sources.pages import text_digests


# bump when the persisted tier/gorilla tables change (v2 = compact 1h tier;
# v3 = calendar-slab partition level; v4 = tier sums in ts order); params.json
# records it so a run across an upgrade fails instead of mixing partitions
TIER_SCHEMA_VERSION = 4

# threads for the jobs off the dependent chain: the largest number of them in
# flight at once (a bucket's three Gorilla writes beside the digest check, or
# the three final counts beside it)
_POOL_SIZE = 4


@dataclass
class PipelineConfig:
    # the pipeline decomposes at the 1h tier's grain: not a setting
    granularity: ClassVar[str] = TIERS["1h"]
    period: int = 24
    seasonal_width: int = 35
    robust: bool = False
    n_buckets: int = 8
    compress: bool = True
    # calendar slab ('day', 'week' or 'month', retention.slab_start) for the
    # second partition level (bucket, slab): Gorilla chunks are slab-aligned
    # and retention drops whole expired slabs on metadata alone
    slab: str = "month"


@dataclass
class PipelineResult:
    run_id: str
    buckets_run: list = field(default_factory=list)
    buckets_skipped: list = field(default_factory=list)
    rows_per_tier: dict = field(default_factory=dict)
    wall_s: float = 0.0


def decompose_pages(pages: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """pages -> decomposed dense hourly series (no sink).

    Uses the STL kernel's in-kernel gap-fill: only observed buckets cross
    the shuffle and the Arrow boundary (identical semantics to gapfill() —
    asserted bit-for-bit by test_stl_kernel_matches_gapfill_and_local_stl)."""
    return stl_decompose_sparse_df(
        bucketize(pages, granularity=cfg.granularity),
        cfg.period,
        granularity=cfg.granularity,
        seasonal_width=cfg.seasonal_width,
        robust=cfg.robust,
    )


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    out_root: str,
    cfg: PipelineConfig | None = None,
    incremental: bool = False,
) -> PipelineResult:
    """Full pipeline with bucket-sliced checkpointing.

    Buckets are url-hash slices; each is decomposed and written independently
    and marked done in the manifest.  Output partitions are (bucket, slab) so
    rewrites are idempotent.

    The first call on ``out_root`` records the config and
    ``TIER_SCHEMA_VERSION`` in its ``params.json``; every later call raises
    ValueError before any Spark work unless its parameters match (a full
    run overwrites only the partitions it writes, and an incremental one
    skips buckets, so any other config would leave stale or mixed
    partitions).  A new config needs a fresh ``out_root``.  A slab that
    ``slab_start`` does not know raises ValueError before anything is
    written.

    ``incremental=True`` skips a bucket only if its data high-water mark
    (``max(warc_ts)``, recorded in every done row as ``data_max_ts``) has
    not advanced since its last completed run: a re-run on the same input
    after a crash runs exactly the buckets left unmarked, and
    freshly-appended data re-runs exactly the buckets it touched and
    rewrites their partitions idempotently.  The high-water mark detects
    appends (the ingest path); backfills of strictly-older rows need a plain
    full run.

    Jobs that feed nothing downstream run on a pool owned by this call (see
    the module docstring).  A bucket is marked done only after all of its
    Gorilla writes have finished; a failure in any of them propagates out
    of this call and leaves the bucket unmarked, so an incremental re-run
    runs it again.
    """
    cfg = cfg or PipelineConfig()
    t_start = time.time()
    slab_start(cfg.slab, "ts")  # refuse an unknown slab before the first write
    params = {**asdict(cfg), "schema_version": TIER_SCHEMA_VERSION}
    manifest = Manifest(out_root)
    if manifest.path.exists() or (Path(out_root) / "params.json").exists():
        check_params(out_root, "tier store", **params)
    else:
        write_params(out_root, params)
    run_id = new_run_id()

    result = PipelineResult(run_id=run_id)
    bucket_col = F.pmod(F.xxhash64("url"), F.lit(cfg.n_buckets)).cast("int")
    pages_b = pages.withColumn("bucket", bucket_col)
    # second partition level for retention: slab = calendar slab of the
    # row (tier) / of the slab-aligned chunk's start (gorilla)
    part_cols = ["bucket", "slab"]

    def _with_slab(df, ts_col):
        return df.withColumn("slab", F.date_format(slab_start(cfg.slab, ts_col), "yyyy-MM-dd"))

    # no job outlives the call: leaving the block waits for every submitted job
    with ThreadPoolExecutor(_POOL_SIZE, thread_name_prefix="pipeline") as pool:

        def submit(fn, *args):
            # wrapped at submit time, so the job carries the caller's job
            # group (trace attribution, cancelJobGroup)
            return pool.submit(inheritable_thread_target(spark)(fn), *args)

        # per-bucket data high-water mark: one column-pruned scan, partial+final
        # hash agg, n_buckets rows collected (bounded).  Recorded in every
        # done row so a later incremental run can skip buckets whose data did
        # not advance without touching their output.
        high_water = submit(_data_max_ts, pages_b)

        done = set()
        if incremental:
            data_max_ts = high_water.result()  # it decides which buckets run
            for b, row in manifest.last_done().items():
                rec, cur = row["data_max_ts"], data_max_ts.get(b)
                # skip if the mark is unchanged — including a bucket that was
                # recorded empty (mark None) and is still empty
                if cur == rec or (cur is not None and rec is not None and cur <= rec):
                    done.add(b)

        # the byte-identity invariant: every url maps to exactly one text
        # digest.  Scoped to the buckets this run will actually process, so an
        # incremental refresh touching k of n buckets scans k/n of the table's
        # text bytes (unscoped it would dominate an incremental run at scale)
        run_buckets = [b for b in range(cfg.n_buckets) if b not in done]
        digest_check = (
            submit(_count_mixed_digests, pages_b.filter(F.col("bucket").isin(run_buckets)))
            if run_buckets else None
        )

        schemas = {}  # tier -> the schema its partitions were written with
        for bucket in range(cfg.n_buckets):
            if bucket in done:
                result.buckets_skipped.append(bucket)
                continue
            t0 = time.time()
            # column pruning: only url + warc_ts enter the series path
            slice_pages = pages_b.filter(F.col("bucket") == bucket).select("url", "warc_ts")
            # each tier is MATERIALIZED and the next tier derives from the
            # materialized table — the STL stage runs exactly once per bucket
            # and coarser tiers read the already-reduced previous tier (the
            # continuous-aggregate pattern; recomputing the chain per tier
            # tripled the dominant UDF cost)
            tier_df, materialized = hourly_tier(decompose_pages(slice_pages, cfg)), None
            n_points, encodes = 0, []
            for tier_name, grain in TIERS.items():
                if materialized is not None:
                    tier_df = rollup_tier(materialized, grain)
                root = f"{out_root}/tier_{tier_name}"
                out = _with_slab(
                    tier_df.withColumn("run_id", F.lit(run_id)).withColumn("bucket", F.lit(bucket)),
                    "ts",
                )
                # the write's row count rides on the write job itself
                rows = Observation(f"tier_{tier_name}_rows")
                write_table(out.observe(rows, F.count(F.lit(1)).alias("n")), root,
                            partition_by=part_cols, mode="overwrite_partitions")
                n_rows = rows.get["n"]
                n_points += n_rows
                if not n_rows:
                    break  # nothing written: no partition to read, nothing to roll up
                schemas[tier_name] = out.schema
                # read back this bucket's partitions only, with the written
                # schema: no schema-inference job, no listing of other buckets
                materialized = (
                    spark.read.schema(out.schema).option("basePath", root)
                    .parquet(f"{root}/bucket={bucket}")
                    .drop("run_id", "bucket", "slab")
                )
                if cfg.compress:
                    comp_cols = COMPONENTS if tier_name == "1h" else [f"sum_{c}" for c in COMPONENTS]
                    # the 1h tier's parquet comes straight from the url-hash-
                    # partitioned STL stage (urls contiguous, grid-ordered), so
                    # its compression needs no repartition+sort — the sink's
                    # only shuffle, over the engine's largest table, disappears
                    chunks = compress_tier(
                        materialized.select("url", "ts", *comp_cols),
                        presorted=(tier_name == "1h"),
                        slab=cfg.slab,
                    )
                    chunks = chunks.withColumn("run_id", F.lit(run_id)).withColumn("bucket", F.lit(bucket))
                    # nothing downstream reads the chunks: encode off the chain
                    encodes.append(submit(
                        write_table, _with_slab(chunks, "t0"), f"{out_root}/gorilla_{tier_name}",
                        part_cols, "overwrite_partitions",
                    ))
            for encode in encodes:
                encode.result()  # re-raises a failed encode: the bucket stays unmarked
            wall = time.time() - t0
            # points/sec per bucket: a 100x operator spots a collapsed stage
            # (the #1 failure mode: AQE coalescing a CPU-heavy stage to one
            # partition) straight from the lineage table — throughput craters
            # while status stays 'done'
            manifest.mark(
                run_id, bucket, "done", points=n_points, wall_s=wall,
                points_per_sec=(n_points / wall if wall > 0 else 0.0),
                schema_version=TIER_SCHEMA_VERSION,
                data_max_ts=high_water.result().get(bucket),
            )
            result.buckets_run.append(bucket)

        counts = {
            t: submit(_count_rows, spark, f"{out_root}/tier_{t}", schemas.get(t))
            for t in TIERS
        }
        high_water.result()  # a failed scan raises even when no bucket ran
        bad = digest_check.result() if digest_check else 0
        if bad:
            raise AssertionError(f"text byte-identity invariant violated for {bad} urls")
        result.rows_per_tier = {t: c.result() for t, c in counts.items()}
    result.wall_s = time.time() - t_start
    return result


def _data_max_ts(pages_b: DataFrame) -> dict:
    """bucket -> max(warc_ts) in epoch seconds."""
    return {
        r["bucket"]: r["max_ts"]
        for r in pages_b.groupBy("bucket")
        .agg(F.max(F.unix_timestamp("warc_ts")).alias("max_ts"))
        .collect()
    }


def _count_mixed_digests(pages: DataFrame) -> int:
    """Number of urls whose text has more than one digest (see text_digests)."""
    return text_digests(pages).filter(F.col("n_digests") != 1).count()


def _count_rows(spark: SparkSession, root: str, schema) -> int:
    """Rows of a whole tier table; ``schema`` (the written one, if this run
    wrote the tier) spares the schema-inference job."""
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(root).count()
