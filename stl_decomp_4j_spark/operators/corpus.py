"""Corpus preparation pipeline: the dedup suite composed into one
training-data cleaning pass, run over a whole corpus or over a new batch
against a persisted fingerprint store.

Production LLM-data pipelines run the document-level dedup family in a fixed
order — exact first (free, shrinks everything downstream), then temporal
snapshot collapse (recrawl corpora are mostly unchanged re-fetches), then
near-dup keep-one (MinHash-LSH pairs -> exact-Jaccard verify -> connected
components -> keep the minimum id per component), then cross-document
repeated-span removal on the survivors.  ``dedup_corpus`` is that
composition over the operators in dedup.py / components.py, returning a
cleaned DataFrame with the input schema (text rewritten when span-stripping
is on).

Every stage is one of the already-plan-audited operators; the composition
adds only doc_id anti-joins (slim key tables) between stages.  Stage order
matters at 100 TB: each stage only sees the previous stage's survivors, so
the expensive shingle/band machinery never touches documents that exact or
snapshot dedup already discarded.  The module has no near-dup primitive of
its own: shingle sets, signatures, band rows, the Jaccard verify, the lag-1
simhash window and the LSH geometry the store records all come from
dedup.py.

Incremental operation: ``build_fingerprint_store`` persists a corpus's
fingerprints (never its text), ``dedup_corpus(store=path)`` additionally
drops new documents that match that history, and
``extend_fingerprint_store`` folds a batch in so the next batch dedups
against history + this batch.  Both store functions go through one writer,
so a built-then-extended store equals one built from the union.

Stats are opt-in (pass ``stats={}``): counting survivors per stage forces an
action per stage, so the function persists each counted stage to stop the
whole prefix re-running — pass ``cache_handle=[]`` and unpersist after
materializing the result.  A call without ``stats`` or ``cache_handle``
leaves nothing persisted.
"""
from __future__ import annotations

import pyspark.sql.functions as F
from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window

from ..plans.checkpoint import check_params, write_params
from .components import connected_components
from .dedup import (
    GEOMETRY,
    SHINGLE_K,
    band_rows,
    lag1_hamming,
    lsh_candidate_pairs,
    shingle_sets,
    signatures,
    simhash,
    strip_duplicate_spans,
    verified_pairs,
)


def _history_near_dups(sets_: DataFrame, store: str, max_bucket: int | None, threshold: float) -> DataFrame:
    """(doc_id) of the batch docs whose band rows meet a stored document's
    and whose exact Jaccard with it is >= threshold.  ``max_bucket`` is
    lsh_candidate_pairs' skew valve counted over new + history members: a
    bucket past the cap emits no new-vs-history candidates."""
    spark = sets_.sparkSession
    new_bands = band_rows(signatures(sets_))
    hist_bands = spark.read.parquet(store + "/bands").select(F.col("doc_id").alias("_old_id"), "band", "bh")
    if max_bucket is not None:
        sizes = (
            new_bands.select("band", "bh")
            .unionByName(hist_bands.select("band", "bh"))
            .groupBy("band", "bh")
            .agg(F.count(F.lit(1)).alias("_n"))
        )
        new_bands = new_bands.join(sizes.filter(F.col("_n") <= max_bucket), ["band", "bh"], "left_semi")
    cands = (
        new_bands.join(hist_bands, ["band", "bh"])
        .select(F.col("doc_id").alias("_new_id"), "_old_id")
        .distinct()
    )
    hist_sets = spark.read.parquet(store + "/shingles")
    return (
        verified_pairs(cands, sets_, hist_sets, "_new_id", "_old_id", threshold)
        .select(F.col("_new_id").alias("doc_id"))
        .distinct()
    )


def dedup_corpus(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    snapshot_key: str | None = None,
    snapshot_max_hamming: int = 4,
    minhash_threshold: float | None = 0.8,
    minhash_k: int = SHINGLE_K,
    max_bucket: int | None = None,
    strip_spans_k: int | None = None,
    store: str | None = None,
    stats: dict | None = None,
    cache_handle: list | None = None,
) -> DataFrame:
    """Chain exact -> snapshot -> near-dup keep-one -> span-strip dedup.

    Any stage except exact can be disabled (snapshot_key=None,
    minhash_threshold=None, strip_spans_k=None).  Keep-one is deterministic
    everywhere: lowest id per exact-digest group, per near-dup component,
    and the earliest snapshot of an unchanged run survive.

    With ``store`` (a build_fingerprint_store path whose minhash_k and
    snapshot_key match this call's) ``docs`` is a NEW batch and each stage
    also drops documents matching history, which is read as fingerprints —
    never as text, never re-shingled:

    1. exact — one anti-join against the stored digests.
    2. temporal snapshot — the stored last snapshot per key seeds the lag-1
       simhash window (new ids are assumed to sort after stored ids — crawl
       order).
    3. near-dup — the batch's band rows join the stored band table (under
       the same ``max_bucket`` valve as the in-batch self-join, counting
       new + history members per bucket); candidates are exact-Jaccard
       verified against the stored hash sets (semi-join pruned to
       candidates), and a batch doc matching history drops — the corpus copy
       is canonical (``stats["after_neardup_hist"]``).  The new-vs-new
       keep-one then runs on the remaining batch docs.

    Span strip runs on the survivors in both modes (batch scope: the store
    keeps no span index).
    """
    spark = docs.sparkSession
    in_cols = list(docs.columns)
    if store is not None:
        check_params(store, "fingerprint store", **GEOMETRY, minhash_k=minhash_k, snapshot_key=snapshot_key)

    def history(table: str) -> DataFrame:
        return spark.read.parquet(f"{store}/{table}")

    def note(name: str, df: DataFrame) -> DataFrame:
        if stats is None:
            return df
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        if cache_handle is not None:
            cache_handle.append(df)
        stats[name] = df.count()
        return df

    out = note("input", docs)

    # 1. exact: keep the lowest id per content digest.  row_number over the
    # digest window (vs groupBy+join back) removes dups in ONE exchange.
    fp = F.md5(F.col(text_col))
    w = Window.partitionBy(fp).orderBy(F.col(id_col))
    out = (
        out.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    if store is not None:
        out = out.join(history("digests").select(F.col("fp").alias("_fp")), fp == F.col("_fp"), "left_anti")
    out = note("after_exact", out)

    # 2. temporal snapshot collapse: lag-1 simhash within key (one window
    # exchange, zero joins), seeded with history's last snapshot per key
    if snapshot_key is not None:
        sh = simhash(out, text_col, id_col, carry_cols=(snapshot_key,)).withColumn("_hist", F.lit(False))
        if store is not None:
            sh = sh.unionByName(history("snapshots").withColumn("_hist", F.lit(True)))
        drop = (
            lag1_hamming(sh, snapshot_key)
            .filter(~F.col("_hist") & (F.col("hamming") <= snapshot_max_hamming))
            .select(F.col("doc_id").alias(id_col))
        )
        out = out.join(drop, id_col, "left_anti")
        out = note("after_snapshot", out)

    # 3. near-dup keep-one: LSH pairs -> exact verify -> connected components
    # -> keep the component minimum (component id IS the minimum node id)
    if minhash_threshold is not None:
        # the hash sets feed the signatures and both verify sides, so they
        # stay cached while connected components (eager) consumes them.
        # Without a cache_handle the caller could not unpersist them, so the
        # cache is released before returning (the result plan recomputes
        # them only for the lazy history verify)
        sets_ = cached = shingle_sets(out, text_col, id_col, minhash_k).persist(StorageLevel.MEMORY_AND_DISK)
        if cache_handle is not None:
            cache_handle.append(cached)
        try:
            if store is not None:
                drop = _history_near_dups(sets_, store, max_bucket, minhash_threshold)
                out = note("after_neardup_hist", out.join(drop.withColumnRenamed("doc_id", id_col), id_col, "left_anti"))
                sets_ = sets_.join(out.select(F.col(id_col).alias("doc_id")), "doc_id", "left_semi")
            pairs = lsh_candidate_pairs(signatures(sets_), max_bucket=max_bucket)
            drop = (
                connected_components(verified_pairs(pairs, sets_, sets_, "id_a", "id_b", minhash_threshold))
                .filter(F.col("node") != F.col("component"))
                .select(F.col("node").alias(id_col))
            )
            out = out.join(drop, id_col, "left_anti")
            out = note("after_neardup", out)
        finally:
            if cache_handle is None:
                cached.unpersist()

    # 4. repeated-span removal on the survivors; inner join drops
    # fully-duplicated documents (zero surviving words), per
    # strip_duplicate_spans semantics
    if strip_spans_k is not None:
        cleaned = strip_duplicate_spans(out, text_col, id_col, k=strip_spans_k).select(
            F.col("doc_id").alias(id_col), F.col("clean_text").alias(text_col)
        )
        out = out.drop(text_col).join(cleaned, id_col)
        out = note("after_span_strip", out)

    return out.select(*in_cols)


def _write_store(docs: DataFrame, path: str, text_col: str, id_col: str, params: dict, mode: str) -> None:
    """The one fingerprint-store writer: ``docs``' fingerprints overwrite
    (build) or are appended to (extend) the tables, and the last snapshot
    per key is recomputed over stored + new rows."""
    docs.select(
        F.col(id_col).alias("doc_id"), F.md5(F.col(text_col)).alias("fp")
    ).write.mode(mode).parquet(path + "/digests")
    # the hash sets feed the shingles table and the band signatures; the
    # writer owns the cache and releases it before returning
    sets_ = shingle_sets(docs, text_col, id_col, params["minhash_k"]).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        sets_.write.mode(mode).parquet(path + "/shingles")
        band_rows(signatures(sets_)).write.mode(mode).parquet(path + "/bands")
    finally:
        sets_.unpersist()
    key = params["snapshot_key"]
    if key is not None:
        spark = docs.sparkSession
        last = simhash(docs, text_col, id_col, carry_cols=(key,)).select(key, "doc_id", "simhash")
        if mode == "append":
            last = last.unionByName(spark.read.parquet(path + "/snapshots"))
        last = (
            last.groupBy(key)
            .agg(F.max_by("simhash", "doc_id").alias("simhash"), F.max("doc_id").alias("doc_id"))
            .select(key, "doc_id", "simhash")
        )
        if mode == "append":
            # overwriting a path the plan also reads is refused at analysis;
            # stage the merged table beside it, then overwrite from the stage
            last.write.mode("overwrite").parquet(path + "/snapshots_stage")
            last = spark.read.parquet(path + "/snapshots_stage")
        last.write.mode("overwrite").parquet(path + "/snapshots")
    write_params(path, params)


def build_fingerprint_store(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    snapshot_key: str | None = "source",
    minhash_k: int = SHINGLE_K,
) -> None:
    """Persist the fingerprint tables incremental dedup reads INSTEAD of the
    accumulated corpus — production pipelines dedup each new crawl against
    this store, never re-shingling history:

    - ``digests/``   (doc_id, fp)              md5 content digests
    - ``shingles/``  (doc_id, sh: array<long>) xxhash64 k-gram hash sets
    - ``bands/``     (doc_id, band, bh)        minhash LSH band-bucket hashes
    - ``snapshots/`` (key, doc_id, simhash)    LAST snapshot per key
                                               (only when snapshot_key set)
    - ``params.json``  minhash_k, num_perm, bands, rows_per_band,
                       snapshot_key — checked by every later read/extend

    Size is linear in the corpus (8 bytes per k-gram in shingles; everything
    else is per doc or per band).  The bands table is the join target for
    new-batch candidate generation; shingles is touched only for candidate
    docs (semi-join pruned), so a quiet batch reads almost none of it.
    """
    params = {"minhash_k": minhash_k, **GEOMETRY, "snapshot_key": snapshot_key}
    _write_store(docs, path, text_col, id_col, params, "overwrite")


def extend_fingerprint_store(docs: DataFrame, path: str, text_col: str = "text", id_col: str = "doc_id") -> None:
    """Fold ``docs`` into the store at ``path`` with the parameters it was
    built with (raises ValueError if its LSH geometry is not this module's):
    every document's fingerprints are appended — dropped ones too, exactly
    as a build would record them — and the last-snapshot table is merged.
    So build(A) then extend(B) leaves the same tables as build(A ∪ B), and
    the next batch's lag-1 seed matches a one-shot run.  Mirrors
    similarity.extend_ann_index."""
    _write_store(docs, path, text_col, id_col, check_params(path, "fingerprint store", **GEOMETRY), "append")
