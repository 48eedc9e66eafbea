"""Incremental corpus dedup: a new batch deduped against a PERSISTED
fingerprint store (build_fingerprint_store, dedup_corpus(store=...),
extend_fingerprint_store), never re-reading history text.

The history-not-reprocessed proof is physical: the history parquet file is
DELETED from disk after the store is built, and the incremental pass still
runs — so no code path can possibly have re-read or re-shingled history."""
import shutil

import pytest

HIST = [
    # (doc_id, text, source)
    (1, "the quick brown fox jumps over the lazy dog again and again", "s1"),
    (2, "completely different content about spark catalyst tungsten codegen stages", "s1"),
    (3, "a third unrelated document mentioning gorilla compression and retention tiers", "s2"),
]

NEW = [
    (10, HIST[0][1], "s2"),  # exact copy of history doc 1 -> exact drop
    (11, "fresh batch content one with enough words to shingle safely here", "s2"),
    (12, "fresh batch content one with enough words to shingle safely here", "s2"),  # in-batch exact dup of 11
    # same DISTINCT word set as history doc 2 (one word repeated) -> simhash
    # identical -> snapshot drop vs stored last s1 snapshot (doc 2)
    (13, HIST[1][1] + " codegen", "s1"),
    # near-dup of history doc 1 (one word changed, Jaccard >= 0.5) -> history near-dup drop
    (14, HIST[0][1].replace("lazy", "sleepy"), "s3"),
    (15, "two new near duplicate documents sharing nearly every single word here", "s3"),
    (16, "two new near duplicate documents sharing nearly every single word there", "s3"),  # near-dup of 15 -> CC keep-min drops 16
    (17, "an entirely novel document that matches nothing else in any batch", "s3"),
]


@pytest.fixture()
def store(spark, tmp_path):
    from stl_decomp_4j_spark.operators.corpus import build_fingerprint_store

    hist_dir = str(tmp_path / "history_docs")
    spark.createDataFrame(HIST, ["doc_id", "text", "source"]).write.parquet(hist_dir)
    hist = spark.read.parquet(hist_dir)
    store_dir = str(tmp_path / "store")
    build_fingerprint_store(hist, store_dir, snapshot_key="source")
    # physically remove history: anything still needing it now fails loudly
    shutil.rmtree(hist_dir)
    return store_dir


def _run(spark, store_dir, rows, **kw):
    from stl_decomp_4j_spark.operators.corpus import dedup_corpus

    new = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    return dedup_corpus(
        new, store=store_dir, snapshot_key="source", minhash_threshold=0.5, **kw
    )


def test_incremental_stages_and_history_untouched(spark, store):
    stats = {}
    handle = []
    out = _run(spark, store, NEW, stats=stats, cache_handle=handle)
    got = sorted(r["doc_id"] for r in out.collect())
    assert got == [11, 15, 17]
    # per-stage survivor accounting: exact drops 10 (vs history) and 12
    # (in-batch); snapshot drops 13; history near-dup drops 14; new-new CC
    # drops 16
    assert stats == {
        "input": 8,
        "after_exact": 6,
        "after_snapshot": 5,
        "after_neardup_hist": 4,
        "after_neardup": 3,
    }
    for df in handle:
        df.unpersist()


def test_incremental_schema_and_idempotence(spark, store):
    out = _run(spark, store, NEW)
    assert out.columns == ["doc_id", "text", "source"]
    # survivors re-presented as a "new" batch against the SAME (un-updated)
    # store dedup only within themselves -> unchanged
    again = _run(spark, store, [tuple(r) for r in out.collect()])
    assert sorted(r["doc_id"] for r in again.collect()) == [11, 15, 17]


def test_update_store_feeds_next_batch(spark, store):
    from stl_decomp_4j_spark.operators.corpus import extend_fingerprint_store

    surv = _run(spark, store, NEW)
    assert sorted(r["doc_id"] for r in surv.collect()) == [11, 15, 17]
    extend_fingerprint_store(spark.createDataFrame(NEW, ["doc_id", "text", "source"]), store)
    batch2 = [
        (20, NEW[1][1], "s4"),  # exact copy of batch-1 survivor 11 -> dropped
        (21, "batch two brings one genuinely new document into the corpus", "s4"),
    ]
    out2 = _run(spark, store, batch2)
    assert sorted(r["doc_id"] for r in out2.collect()) == [21]


@pytest.mark.parametrize("mode", ["batch", "store"])
def test_no_cache_handle_persists_nothing(spark, store, mode):
    """Without a cache_handle the caller cannot unpersist anything, so the
    call must leave the session's persisted RDDs exactly as it found them —
    in batch mode and against a store alike."""
    jsc = spark.sparkContext._jsc

    def persisted():
        return set(jsc.getPersistentRDDs().keySet())

    before = persisted()
    out = _run(spark, store if mode == "store" else None, NEW)
    want = {"batch": [10, 11, 13, 15, 17], "store": [11, 15, 17]}[mode]
    assert sorted(r["doc_id"] for r in out.collect()) == want
    assert persisted() == before


def _store_tables(spark, path):
    """Each store table as a set of rows (shingle sets as frozensets)."""
    out = {}
    for t in ("digests", "bands", "snapshots", "shingles"):
        rows = spark.read.parquet(f"{path}/{t}").collect()
        out[t] = {
            tuple(frozenset(v) if isinstance(v, list) else v for v in r) for r in rows
        }
    return out


def test_build_then_extend_equals_build_of_union(spark, tmp_path):
    """One writer: build(A) then extend(B) leaves every table equal to
    build(A u B) — including B's documents that dedup would drop, so the next
    batch's lag-1 snapshot seed is the one a one-shot build records."""
    from stl_decomp_4j_spark.operators.corpus import build_fingerprint_store, extend_fingerprint_store

    cols = ["doc_id", "text", "source"]
    a, b = spark.createDataFrame(HIST, cols), spark.createDataFrame(NEW, cols)
    staged, whole = str(tmp_path / "staged"), str(tmp_path / "whole")
    build_fingerprint_store(a, staged, snapshot_key="source")
    extend_fingerprint_store(b, staged)
    build_fingerprint_store(a.unionByName(b), whole, snapshot_key="source")
    got, want = _store_tables(spark, staged), _store_tables(spark, whole)
    assert got == want
    assert len(want["digests"]) == len(HIST) + len(NEW)
    # s1's last snapshot is doc 13 — a document the snapshot stage drops
    assert 13 in {r[1] for r in want["snapshots"]}


def test_store_params_mismatch_raises(spark, tmp_path):
    """The store records its parameters; reading it with another minhash_k
    or snapshot_key refuses instead of silently matching nothing."""
    from stl_decomp_4j_spark.operators.corpus import build_fingerprint_store, dedup_corpus

    path = str(tmp_path / "store")
    docs = spark.createDataFrame(HIST, ["doc_id", "text", "source"])
    build_fingerprint_store(docs, path, snapshot_key="source", minhash_k=3)
    with pytest.raises(ValueError, match="minhash_k"):
        dedup_corpus(docs, store=path, snapshot_key="source", minhash_k=5)
    with pytest.raises(ValueError, match="snapshot_key"):
        dedup_corpus(docs, store=path, snapshot_key="lang", minhash_k=3)
    with pytest.raises(ValueError, match="snapshot_key"):
        dedup_corpus(docs, store=path, snapshot_key=None, minhash_k=3)


def test_history_skew_valve(spark, tmp_path):
    """max_bucket caps new + history bucket members: three identical history
    docs make every band bucket the near copy shares with them 4 strong, so
    with max_bucket=2 no new-vs-history candidate is emitted."""
    from stl_decomp_4j_spark.operators.corpus import build_fingerprint_store, dedup_corpus

    cols = ["doc_id", "text", "source"]
    hot = HIST[0][1]
    path = str(tmp_path / "store")
    build_fingerprint_store(
        spark.createDataFrame([(i, hot, "s1") for i in (1, 2, 3)], cols), path, snapshot_key=None
    )
    new = spark.createDataFrame([(10, hot.replace("lazy", "sleepy"), "s2")], cols)

    def survivors(max_bucket):
        stats, handle = {}, []
        out = dedup_corpus(
            new, store=path, minhash_threshold=0.5, max_bucket=max_bucket, stats=stats, cache_handle=handle
        )
        got = [r["doc_id"] for r in out.collect()]
        for df in handle:
            df.unpersist()
        return got, stats["after_neardup_hist"]

    assert survivors(None) == ([], 0)
    assert survivors(2) == ([10], 1)
