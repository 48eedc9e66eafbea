#!/usr/bin/env python3
"""Training-data corpus preparation job, launched via spark-submit:

    spark-submit --py-files dist/stl_decomp_4j_spark.zip jobs/dedup_job.py \
        --input /path/to/documents.parquet --output /path/to/cleaned \
        [--snapshot-key source] [--minhash-threshold 0.8] [--max-bucket 10000] \
        [--strip-spans-k 5] [--lang en] [--min-quality 0.5] [--no-stats]

--lang / --min-quality pre-filter the corpus with the codegen text
heuristics (functions/text.py) BEFORE any dedup stage — filtered docs never
reach the shingle/band machinery; the stats "input" count is post-filter.

Runs the composed dedup pipeline (exact -> temporal snapshot -> near-dup
keep-one -> repeated-span removal; see operators/corpus.py) over a documents
table and writes the cleaned corpus.  Prints ONE JSON line with per-stage
survivor counts (unless --no-stats, which skips the extra per-stage actions
and is the cheapest path for very large corpora).

Incremental operation (each new crawl deduped against the accumulated
corpus WITHOUT re-reading history text — operators/corpus.py
dedup_corpus in store mode):

    # once: fingerprint the accumulated corpus
    ... dedup_job.py --input history.parquet --build-store /warehouse/fpstore \
        [--snapshot-key source]
    # per batch: clean the new crawl against the store, then fold it in
    ... dedup_job.py --input batch.parquet --output cleaned --store \
        /warehouse/fpstore --update-store [--snapshot-key source]

--store reads the fingerprint tables only (digests / band hashes / shingle
hash sets / per-key last snapshots; linear in corpus size, no history text)
and refuses a store built with another --minhash-k or --snapshot-key;
--update-store, after the cleaned corpus is written, adds the fingerprints
of EVERY (pre-filtered) input document — dropped ones too, as --build-store
would — so the next batch dedups against history + this batch.
--strip-spans-k is batch-scope in this mode (spans are stripped within the
new batch).
"""
from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", default=None, help="cleaned-corpus path (required unless --build-store)")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--snapshot-key", default=None, help="snapshot key column (e.g. source); omit to skip")
    ap.add_argument("--snapshot-max-hamming", type=int, default=4)
    ap.add_argument("--minhash-threshold", type=float, default=0.8, help="<0 disables near-dup stage")
    ap.add_argument("--minhash-k", type=int, default=3)
    ap.add_argument("--max-bucket", type=int, default=None, help="LSH hot-bucket cap (skew valve)")
    ap.add_argument("--strip-spans-k", type=int, default=None, help="span-removal k-gram size; omit to skip")
    ap.add_argument("--no-stats", action="store_true")
    ap.add_argument("--min-quality", type=float, default=None,
                    help="drop docs below this quality_score (functions/text.py heuristic, [0,1])")
    ap.add_argument("--lang", default=None,
                    help="keep only docs whose lang_guess matches (e.g. en)")
    ap.add_argument("--build-store", default=None, metavar="PATH",
                    help="fingerprint --input into a store at PATH and exit (no cleaning)")
    ap.add_argument("--store", default=None, metavar="PATH",
                    help="incremental mode: dedup --input against the fingerprint store at PATH")
    ap.add_argument("--update-store", action="store_true",
                    help="with --store: add the input's fingerprints once the output is written")
    args = ap.parse_args()
    if args.build_store and args.store:
        ap.error("--build-store and --store are mutually exclusive")
    if not args.build_store and args.output is None:
        ap.error("--output is required unless --build-store")

    from pyspark.sql import SparkSession

    from stl_decomp_4j_spark.operators.corpus import (
        build_fingerprint_store,
        dedup_corpus,
        extend_fingerprint_store,
    )
    from stl_decomp_4j_spark.plans.session import build_session

    pre_existing = SparkSession.getActiveSession()
    spark = pre_existing or build_session(app_name="stl-dedup-corpus")
    docs = spark.read.parquet(args.input)

    # language / quality pre-filters: production training-data pipelines
    # filter BEFORE dedup so the shingle/band machinery never touches docs
    # that would be dropped anyway.  Both are codegen scalar expressions
    # (functions/text.py) — the filter rides the parquet scan's projection.
    if args.lang is not None or args.min_quality is not None:
        from pyspark.sql import functions as F

        from stl_decomp_4j_spark.functions.text import lang_guess, quality_score

        if args.lang is not None:
            docs = docs.filter(lang_guess(F.col(args.text_col)) == args.lang)
        if args.min_quality is not None:
            docs = docs.filter(quality_score(F.col(args.text_col)) >= args.min_quality)

    if args.build_store:
        build_fingerprint_store(
            docs,
            args.build_store,
            text_col=args.text_col,
            id_col=args.id_col,
            snapshot_key=args.snapshot_key,
            minhash_k=args.minhash_k,
        )
        print(json.dumps({"input": args.input, "store": args.build_store, "built": True}))
        if pre_existing is None:
            spark.stop()
        return

    stats: dict | None = None if args.no_stats else {}
    handle: list = []
    threshold = None if args.minhash_threshold < 0 else args.minhash_threshold
    cleaned = dedup_corpus(
        docs,
        text_col=args.text_col,
        id_col=args.id_col,
        snapshot_key=args.snapshot_key,
        snapshot_max_hamming=args.snapshot_max_hamming,
        minhash_threshold=threshold,
        minhash_k=args.minhash_k,
        max_bucket=args.max_bucket,
        strip_spans_k=args.strip_spans_k,
        store=args.store,
        stats=stats,
        cache_handle=handle,
    )
    cleaned.write.mode("overwrite").parquet(args.output)
    for df in handle:
        df.unpersist()
    # only now: the cleaned plan reads the store, so extending it first would
    # dedup the batch against its own fingerprints
    if args.store and args.update_store:
        extend_fingerprint_store(docs, args.store, text_col=args.text_col, id_col=args.id_col)
    print(json.dumps({"input": args.input, "output": args.output, "store": args.store, "stages": stats}))
    if pre_existing is None:
        spark.stop()


if __name__ == "__main__":
    main()
