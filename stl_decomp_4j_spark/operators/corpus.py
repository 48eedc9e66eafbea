"""Corpus preparation pipeline: the dedup suite composed into one
training-data cleaning pass.

Production LLM-data pipelines run the document-level dedup family in a fixed
order — exact first (free, shrinks everything downstream), then temporal
snapshot collapse (recrawl corpora are mostly unchanged re-fetches), then
near-dup keep-one (MinHash-LSH pairs -> connected components -> keep the
minimum id per component), then cross-document repeated-span removal on the
survivors.  ``dedup_corpus`` is that composition over the operators in
dedup.py / components.py, returning a cleaned DataFrame with the input
schema (text rewritten when span-stripping is on).

Every stage is one of the already-plan-audited operators; the composition
adds only doc_id anti-joins (slim key tables) between stages.  Stage order
matters at 100 TB: each stage only sees the previous stage's survivors, so
the expensive shingle/band machinery never touches documents that exact or
snapshot dedup already discarded.

Stats are opt-in (pass ``stats={}``): counting survivors per stage forces an
action per stage, so the function persists each counted stage to stop the
whole prefix re-running — pass ``cache_handle=[]`` and unpersist after
materializing the result, same contract as dedup_minhash_lsh.
"""
from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from .components import connected_components
from .dedup import dedup_minhash_lsh, snapshot_dedup, strip_duplicate_spans


def dedup_corpus(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    snapshot_key: str | None = None,
    snapshot_max_hamming: int = 4,
    minhash_threshold: float | None = 0.8,
    minhash_k: int = 3,
    max_bucket: int | None = None,
    strip_spans_k: int | None = None,
    stats: dict | None = None,
    cache_handle: list | None = None,
) -> DataFrame:
    """Chain exact -> snapshot -> near-dup keep-one -> span-strip dedup.

    Any stage except exact can be disabled (snapshot_key=None,
    minhash_threshold=None, strip_spans_k=None).  Keep-one is deterministic
    everywhere: lowest id per exact-digest group, per near-dup component,
    and the earliest snapshot of an unchanged run survive.
    """
    from pyspark import StorageLevel
    from pyspark.sql import Window

    in_cols = list(docs.columns)

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
    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(F.col(id_col))
    out = (
        out.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    out = note("after_exact", out)

    # 2. temporal snapshot collapse (lag-1 simhash within key)
    if snapshot_key is not None:
        flagged = snapshot_dedup(
            out, text_col, id_col, snapshot_key, snapshot_max_hamming
        ).select(F.col("doc_id").alias(id_col))
        out = out.join(flagged, id_col, "left_anti")
        out = note("after_snapshot", out)

    # 3. near-dup keep-one: LSH pairs -> connected components -> keep the
    # component minimum (component id IS the minimum node id)
    if minhash_threshold is not None:
        pairs = dedup_minhash_lsh(
            out,
            text_col,
            id_col,
            k=minhash_k,
            threshold=minhash_threshold,
            max_bucket=max_bucket,
            cache_handle=cache_handle,
        )
        drop = (
            connected_components(pairs)
            .filter(F.col("node") != F.col("component"))
            .select(F.col("node").alias(id_col))
        )
        out = out.join(drop, id_col, "left_anti")
        out = note("after_neardup", out)

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


def build_fingerprint_store(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    snapshot_key: str | None = "source",
    minhash_k: int = 3,
    num_perm: int = 64,
    bands: int = 32,
    rows_per_band: int = 2,
) -> None:
    """Persist the fingerprint tables incremental dedup reads INSTEAD of the
    accumulated corpus — production pipelines dedup each new crawl against
    this store, never re-shingling history:

    - ``digests/``   (doc_id, fp)              md5 content digests
    - ``shingles/``  (doc_id, sh: array<long>) xxhash64 k-gram hash sets
    - ``bands/``     (doc_id, band, bh)        minhash LSH band-bucket hashes
    - ``snapshots/`` (key, doc_id, simhash)    LAST snapshot per key
                                               (only when snapshot_key set)

    Size is linear in the corpus (8 bytes per k-gram in shingles — the same
    hash sets dedup_minhash_lsh's verify join ships; everything else is per
    doc or per band).  The bands table is the join target for new-batch
    candidate generation; shingles is touched only for candidate docs
    (semi-join pruned), so a quiet batch reads almost none of it.
    """
    from .dedup import band_rows, minhash_signatures_from_hashes, shingle_hash_rows, simhash

    docs.select(
        F.col(id_col).alias("doc_id"), F.md5(F.col(text_col)).alias("fp")
    ).write.mode("overwrite").parquet(path + "/digests")
    sets_ = (
        shingle_hash_rows(docs, text_col, id_col, minhash_k)
        .groupBy("doc_id")
        .agg(F.collect_set("h").alias("sh"))
    )
    sets_.write.mode("overwrite").parquet(path + "/shingles")
    stored_sets = docs.sparkSession.read.parquet(path + "/shingles")
    signed = minhash_signatures_from_hashes(
        stored_sets.select("doc_id", F.explode("sh").alias("h")), num_perm
    )
    band_rows(signed, bands, rows_per_band).write.mode("overwrite").parquet(path + "/bands")
    if snapshot_key is not None:
        sh = simhash(docs, text_col, id_col, carry_cols=(snapshot_key,))
        last = sh.groupBy(snapshot_key).agg(
            F.max_by("simhash", "doc_id").alias("simhash"),
            F.max("doc_id").alias("doc_id"),
        )
        last.select(snapshot_key, "doc_id", "simhash").write.mode("overwrite").parquet(
            path + "/snapshots"
        )


def dedup_corpus_incremental(
    new_docs: DataFrame,
    store_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    snapshot_key: str | None = None,
    snapshot_max_hamming: int = 4,
    minhash_threshold: float | None = 0.5,
    minhash_k: int = 3,
    num_perm: int = 64,
    bands: int = 32,
    rows_per_band: int = 2,
    max_bucket: int | None = None,
    update_store: bool = False,
    stats: dict | None = None,
    cache_handle: list | None = None,
) -> DataFrame:
    """Dedup a NEW batch against the accumulated corpus via its fingerprint
    store (build_fingerprint_store) — history is read as digests / band
    hashes / shingle-hash sets / last-snapshots, never as text, and never
    re-shingled.  Returns the new batch's survivors with the input schema.

    Stages mirror dedup_corpus, each against history + in-batch:

    1. exact — in-batch keep-lowest-id per digest, then one anti-join
       against the stored digests (a doc already in the corpus is dropped).
    2. temporal snapshot — the stored LAST snapshot per key seeds the lag-1
       simhash window over the new batch (new ids are assumed to sort after
       stored ids — crawl order); a new snapshot within
       ``snapshot_max_hamming`` of its predecessor is dropped.
    3. near-dup — the new batch is shingled (the ONLY shingling in the
       pass); its band rows join the stored band table for new-vs-history
       candidates and self-join for new-vs-new; both are exact-Jaccard
       verified against hash sets (history's from the store, semi-join
       pruned to candidates).  A new doc matching HISTORY at >= threshold
       drops (the corpus copy is canonical); survivors' new-vs-new pairs go
       through connected components, keeping each component's minimum id.

    Span-level strip is deliberately batch-only (an incremental gram index
    is the store's shingles table at k=5 — compose strip_duplicate_spans
    downstream if needed).  With ``update_store=True`` the survivors'
    digests / shingles / bands are APPENDED to the store and the
    per-key last-snapshots table is rewritten, so the next batch dedups
    against history + this batch.
    """
    from pyspark import StorageLevel
    from pyspark.sql import Window

    from .dedup import band_rows, lsh_candidate_pairs, minhash_signatures_from_hashes, shingle_hash_rows, simhash

    spark = new_docs.sparkSession
    in_cols = list(new_docs.columns)

    def note(name: str, df: DataFrame) -> DataFrame:
        if stats is None:
            return df
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        if cache_handle is not None:
            cache_handle.append(df)
        stats[name] = df.count()
        return df

    out = note("input", new_docs)

    # 1. exact: in-batch keep-lowest, then anti-join the stored digests
    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(F.col(id_col))
    out = (
        out.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")
    )
    digests = spark.read.parquet(store_path + "/digests")
    out = out.join(
        digests.select(F.col("fp").alias("_fp")),
        F.md5(F.col(text_col)) == F.col("_fp"),
        "left_anti",
    )
    out = note("after_exact", out)

    # 2. temporal snapshot vs the stored last snapshot per key
    if snapshot_key is not None:
        sh_new = simhash(out, text_col, id_col, carry_cols=(snapshot_key,)).select(
            F.col(snapshot_key).alias("_key"), "doc_id", "simhash", F.lit(False).alias("_hist")
        )
        sh_old = spark.read.parquet(store_path + "/snapshots").select(
            F.col(snapshot_key).alias("_key"), "doc_id", "simhash", F.lit(True).alias("_hist")
        )
        wk = Window.partitionBy("_key").orderBy("doc_id")
        lagged = sh_new.unionByName(sh_old).select(
            "_key",
            "doc_id",
            "_hist",
            F.bit_count(F.col("simhash").bitwiseXOR(F.lag("simhash").over(wk))).alias("_ham"),
        )
        drop = lagged.filter(
            (~F.col("_hist")) & F.col("_ham").isNotNull() & (F.col("_ham") <= snapshot_max_hamming)
        ).select(F.col("doc_id").alias(id_col))
        out = out.join(drop, id_col, "left_anti")
        out = note("after_snapshot", out)

    # 3. near-dup vs history bands + in-batch, exact-Jaccard verified
    if minhash_threshold is not None:
        new_sets = (
            shingle_hash_rows(out, text_col, id_col, minhash_k)
            .groupBy("doc_id")
            .agg(F.collect_set("h").alias("sh"))
        )
        # persisted only when the caller can unpersist it (cache_handle);
        # otherwise every call would leak one cached table into the session
        if cache_handle is not None:
            new_sets = new_sets.persist(StorageLevel.MEMORY_AND_DISK)
            cache_handle.append(new_sets)
        new_signed = minhash_signatures_from_hashes(
            new_sets.select("doc_id", F.explode("sh").alias("h")), num_perm
        )
        new_bands = band_rows(new_signed, bands, rows_per_band)
        old_bands = spark.read.parquet(store_path + "/bands")
        cands_hist = (
            new_bands.join(
                old_bands.select(F.col("doc_id").alias("_old_id"), "band", "bh"),
                ["band", "bh"],
            )
            .select(F.col("doc_id").alias("_new_id"), "_old_id")
            .distinct()
        )
        old_sets = spark.read.parquet(store_path + "/shingles")
        inter = F.size(F.array_intersect("sh_n", "sh_o")).cast("double")
        union = F.size(F.array_union("sh_n", "sh_o")).cast("double")
        drop_hist = (
            cands_hist.join(
                new_sets.select(F.col("doc_id").alias("_new_id"), F.col("sh").alias("sh_n")),
                "_new_id",
            )
            .join(
                old_sets.select(F.col("doc_id").alias("_old_id"), F.col("sh").alias("sh_o")),
                "_old_id",
            )
            .filter(F.round(inter / union, 6) >= minhash_threshold)
            .select(F.col("_new_id").alias(id_col))
            .distinct()
        )
        out = out.join(drop_hist, id_col, "left_anti")
        out = note("after_neardup_hist", out)

        # new-vs-new among the remaining docs: LSH pairs -> exact verify ->
        # connected components keep-one (same rule as the batch pipeline)
        remaining = out.select(F.col(id_col).alias("doc_id"))
        sets_r = new_sets.join(remaining, "doc_id", "left_semi")
        pairs = lsh_candidate_pairs(
            minhash_signatures_from_hashes(
                sets_r.select("doc_id", F.explode("sh").alias("h")), num_perm
            ),
            bands,
            rows_per_band,
            max_bucket=max_bucket,
        )
        a = sets_r.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_n"))
        b = sets_r.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_o"))
        verified = (
            pairs.join(a, "id_a")
            .join(b, "id_b")
            .filter(F.round(inter / union, 6) >= minhash_threshold)
            .select("id_a", "id_b")
        )
        drop_new = (
            connected_components(verified)
            .filter(F.col("node") != F.col("component"))
            .select(F.col("node").alias(id_col))
        )
        out = out.join(drop_new, id_col, "left_anti")
        out = note("after_neardup", out)

    result = out.select(*in_cols)
    if update_store:
        # the survivor plan lazily re-reads the store's digest/band tables;
        # appending to them FIRST would poison that plan (the batch would
        # anti-join against its own fingerprints and vanish).  Materialize
        # the survivors durably under the store, then update from the
        # read-back — also the right move on a cluster (no reliance on cache
        # blocks surviving until the caller consumes the result).
        result.write.mode("overwrite").parquet(store_path + "/last_batch")
        result = spark.read.parquet(store_path + "/last_batch").select(*in_cols)
        result.select(
            F.col(id_col).alias("doc_id"), F.md5(F.col(text_col)).alias("fp")
        ).write.mode("append").parquet(store_path + "/digests")
        surv_sets = (
            shingle_hash_rows(result, text_col, id_col, minhash_k)
            .groupBy("doc_id")
            .agg(F.collect_set("h").alias("sh"))
        )
        surv_sets.write.mode("append").parquet(store_path + "/shingles")
        surv_signed = minhash_signatures_from_hashes(
            surv_sets.select("doc_id", F.explode("sh").alias("h")), num_perm
        )
        band_rows(surv_signed, bands, rows_per_band).write.mode("append").parquet(
            store_path + "/bands"
        )
        if snapshot_key is not None:
            sh_new = simhash(result, text_col, id_col, carry_cols=(snapshot_key,))
            merged = (
                spark.read.parquet(store_path + "/snapshots")
                .unionByName(sh_new.select(snapshot_key, "doc_id", "simhash"))
                .groupBy(snapshot_key)
                .agg(
                    F.max_by("simhash", "doc_id").alias("simhash"),
                    F.max("doc_id").alias("doc_id"),
                )
                .select(snapshot_key, "doc_id", "simhash")
            )
            # overwriting a path the plan also reads is refused at analysis;
            # stage the merged table beside it, then overwrite from the stage
            # (collect-free — the per-key table can be large at 100 TB)
            merged.write.mode("overwrite").parquet(store_path + "/snapshots_stage")
            spark.read.parquet(store_path + "/snapshots_stage").write.mode(
                "overwrite"
            ).parquet(store_path + "/snapshots")
    return result
