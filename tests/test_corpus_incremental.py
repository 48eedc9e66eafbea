"""Incremental corpus dedup: a new batch deduped against a PERSISTED
fingerprint store (build_fingerprint_store), never re-reading history text.

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
    from stl_decomp_4j_spark.operators.corpus import dedup_corpus_incremental

    new = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    return dedup_corpus_incremental(
        new, store_dir, snapshot_key="source", minhash_threshold=0.5, **kw
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
    surv = _run(spark, store, NEW, update_store=True)
    assert sorted(r["doc_id"] for r in surv.collect()) == [11, 15, 17]
    batch2 = [
        (20, NEW[1][1], "s4"),  # exact copy of batch-1 survivor 11 -> dropped
        (21, "batch two brings one genuinely new document into the corpus", "s4"),
    ]
    out2 = _run(spark, store, batch2)
    assert sorted(r["doc_id"] for r in out2.collect()) == [21]


def test_no_cache_handle_persists_nothing(spark, store):
    """Without a cache_handle the caller cannot unpersist anything, so the
    call must leave the session's persisted RDDs exactly as it found them."""
    jsc = spark.sparkContext._jsc

    def persisted():
        return set(jsc.getPersistentRDDs().keySet())

    before = persisted()
    out = _run(spark, store, NEW)
    assert sorted(r["doc_id"] for r in out.collect()) == [11, 15, 17]
    assert persisted() == before
