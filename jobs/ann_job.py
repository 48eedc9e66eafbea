#!/usr/bin/env python3
"""ANN serving-index job, launched via spark-submit:

    # once: materialize the serving indexes (vectors written partitioned by
    # cell — LSH bucket / IVF cluster — with the planes / centroids as a
    # side table and params.json at <index>/<kind>)
    spark-submit --py-files dist/stl_decomp_4j_spark.zip jobs/ann_job.py \
        --build --input /path/to/embeddings.parquet --index /warehouse/ann \
        [--kind lsh|ivf|both] [--n-planes 8] [--n-clusters 16]

    # per crawl: append new vectors (stored planes/centroids assign them —
    # no rebuild, no re-read of the existing corpus; every requested kind's
    # params.json is checked before anything is appended)
    ... ann_job.py --extend --input /path/to/new_embeddings.parquet \
        --index /warehouse/ann [--kind lsh|ivf|both]

    # per query: partition-pruned top-k lookups against the stored index
    ... ann_job.py --query --index /warehouse/ann --vec-id 42 \
        --input /path/to/embeddings.parquet [--kind lsh] [--k 10] \
        [--multiprobe-bits 1] [--nprobe 4] [--output /path/to/result]

Build is write-once; each query then reads ONLY its Hamming-ball probe
buckets (LSH) or nprobe nearest cluster partitions (IVF) — partition
pruning, no full-table re-hash/re-assign per lookup (see
operators/similarity.py and the PartitionFilters plan test).  The
query vector comes from --vec-id (looked up in --input) or --vector (a JSON
float list).  Prints ONE JSON line; --output also writes the result rows of
every queried method, with a ``method`` column (lsh / ivf).
"""
from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--build", action="store_true")
    ap.add_argument("--extend", action="store_true",
                    help="append --input vectors to an existing index (stored planes/centroids assign; no rebuild)")
    ap.add_argument("--query", action="store_true")
    ap.add_argument("--input", default=None, help="embeddings parquet (build; or --vec-id lookup)")
    ap.add_argument("--index", required=True, help="index root (gets /lsh and /ivf subdirs)")
    ap.add_argument("--kind", choices=["lsh", "ivf", "both"], default="both")
    ap.add_argument("--id-col", default="vec_id")
    ap.add_argument("--vec-col", default="embedding")
    ap.add_argument("--n-planes", type=int, default=8)
    ap.add_argument("--n-clusters", type=int, default=16)
    ap.add_argument("--vec-id", type=int, default=None)
    ap.add_argument("--vector", default=None, help="query vector as a JSON float list")
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--multiprobe-bits", type=int, default=1)
    ap.add_argument("--nprobe", type=int, default=4)
    ap.add_argument("--output", default=None)
    args = ap.parse_args()
    if sum([args.build, args.extend, args.query]) != 1:
        ap.error("exactly one of --build / --extend / --query")
    if (args.build or args.extend) and not args.input:
        ap.error("--build/--extend require --input")

    from stl_decomp_4j_spark.operators.similarity import ann_index_topk, build_ann_index, extend_ann_index
    from stl_decomp_4j_spark.plans.checkpoint import check_params

    kinds = ["lsh", "ivf"] if args.kind == "both" else [args.kind]
    paths = {kind: f"{args.index}/{kind}" for kind in kinds}
    if not args.build:
        # every requested index must exist before anything is appended or read
        for kind in kinds:
            try:
                check_params(paths[kind], "ANN index")
            except ValueError as e:
                raise SystemExit(f"ann_job: --kind {kind}: {e}")

    import pyspark.sql.functions as F
    from pyspark.sql import SparkSession

    from stl_decomp_4j_spark.plans.session import build_session

    pre_existing = SparkSession.getActiveSession()
    spark = pre_existing or build_session(app_name="stl-ann-index")

    if args.build or args.extend:
        # the index operators read the engine's (vec_id, embedding) columns
        emb = spark.read.parquet(args.input).select(
            F.col(args.id_col).alias("vec_id"), F.col(args.vec_col).alias("embedding")
        )
    if args.build:
        n_cells = {"lsh": args.n_planes, "ivf": args.n_clusters}
        for kind in kinds:
            build_ann_index(emb, paths[kind], kind, n_cells[kind])
        print(json.dumps({"index": args.index, "built": kinds}))
    elif args.extend:
        for kind in kinds:
            extend_ann_index(emb, paths[kind])
        print(json.dumps({"index": args.index, "extended": kinds}))
    else:
        if args.vector is not None:
            q = [float(x) for x in json.loads(args.vector)]
        elif args.vec_id is not None and args.input:
            row = (
                spark.read.parquet(args.input)
                .filter(F.col(args.id_col) == args.vec_id)
                .select(args.vec_col)
                .first()
            )
            if row is None:
                raise SystemExit(f"--vec-id {args.vec_id} not found in {args.input}")
            q = [float(x) for x in row[args.vec_col]]
        else:
            ap.error("--query requires --vector, or --vec-id with --input")
        probe = {"lsh": args.multiprobe_bits, "ivf": args.nprobe}
        frames = {kind: ann_index_topk(spark, paths[kind], q, k=args.k, probe=probe[kind]) for kind in kinds}
        results = {m: [r.asDict() for r in df.collect()] for m, df in frames.items()}
        if args.output:
            # one row set per method, told apart by the `method` column
            tagged = [df.withColumn("method", F.lit(m)) for m, df in frames.items()]
            out_df = tagged[0] if len(tagged) == 1 else tagged[0].unionByName(tagged[1])
            out_df.write.mode("overwrite").parquet(args.output)
        print(json.dumps({"index": args.index, "k": args.k, "results": results}))
    if pre_existing is None:
        spark.stop()


if __name__ == "__main__":
    main()
