"""dedup_corpus: the composed training-data cleaning pass (exact ->
temporal snapshot -> near-dup keep-one -> repeated-span removal) on a
planted corpus where each stage has exactly one known victim."""
import json

import pytest

A = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
B = "kilo lima mike november oscar papa quebec romeo sierra tango"
B_SWAP = "lima kilo mike november oscar papa quebec romeo sierra tango"
BOILER = "subscribe to our newsletter for daily updates and exclusive offers"
U6 = "unique essay about spark catalyst engine tungsten codegen arrow vectors"
U7 = "another piece discussing gorilla compression chunk slab manifest pruning retention"

ROWS = [
    # (doc_id, text, source)
    (1, A, "s1"),              # survives everything
    (2, A, "s2"),              # exact dup of 1 -> dropped by exact stage
    (3, A + " tail", "s3"),    # near-dup of 1 (J=8/9) -> dropped by keep-one
    (4, B, "s1"),              # survives
    (5, B_SWAP, "s1"),         # same word set as 4 (simhash hamming 0), not
                               # exact -> dropped by snapshot stage (4->5 in s1)
    (6, BOILER + " " + U6, "s4"),  # survives; boilerplate span stripped
    (7, BOILER + " " + U7, "s5"),  # survives; boilerplate span stripped
]


@pytest.fixture(scope="module")
def corpus(spark):
    df = spark.createDataFrame(ROWS, ["doc_id", "text", "source"])
    df.cache().count()
    return df


@pytest.fixture()
def empty_store(spark, corpus, tmp_path):
    """A fingerprint store built from an empty documents table."""
    from stl_decomp_4j_spark.operators.corpus import build_fingerprint_store

    path = str(tmp_path / "empty_store")
    build_fingerprint_store(spark.createDataFrame([], corpus.schema), path, snapshot_key="source")
    return path


def test_dedup_corpus_stages(spark, corpus, empty_store):
    """Batch mode, and the same pass against an EMPTY store: one body, so the
    store run keeps the same survivors, texts and stats (plus its history
    near-dup stage, which drops nothing)."""
    from stl_decomp_4j_spark.operators.corpus import dedup_corpus

    want_stats = {
        "input": 7,
        "after_exact": 6,
        "after_snapshot": 5,
        "after_neardup": 4,
        "after_span_strip": 4,
    }
    for store in (None, empty_store):
        stats, handle = {}, []
        out = dedup_corpus(
            corpus,
            snapshot_key="source",
            minhash_threshold=0.8,
            strip_spans_k=5,
            store=store,
            stats=stats,
            cache_handle=handle,
        ).toPandas()
        for df in handle:
            df.unpersist()

        assert stats == (want_stats if store is None else {**want_stats, "after_neardup_hist": 5})
        got = out.set_index("doc_id")
        assert sorted(got.index) == [1, 4, 6, 7]
        # untouched survivors keep their text verbatim
        assert got.loc[1, "text"] == A and got.loc[4, "text"] == B
        # the shared 10-word boilerplate span is stripped from BOTH docs
        assert got.loc[6, "text"] == U6 and got.loc[7, "text"] == U7
        # schema preserved
        assert list(out.columns) == ["doc_id", "text", "source"]


@pytest.mark.parametrize("mode", ["batch", "store"])
def test_corpus_composition_plan(spark, plan_of, corpus, empty_store, mode):
    """The composed pass adds no Python anywhere (scalar, Arrow or
    grouped-map) and stitches its stages with doc_id anti-joins: snapshot +
    near-dup stitches + span strip's internal (doc_id, pos) anti-join = at
    least 3 LeftAnti joins."""
    from stl_decomp_4j_spark.operators.corpus import dedup_corpus

    plan = plan_of(
        dedup_corpus(
            corpus,
            snapshot_key="source",
            strip_spans_k=5,
            store=empty_store if mode == "store" else None,
        )
    )
    assert "EvalPython" not in plan and "InPandas" not in plan, plan
    assert plan.count("LeftAnti") >= 3, plan


def test_dedup_corpus_stage_toggles(spark, corpus):
    from stl_decomp_4j_spark.operators.corpus import dedup_corpus

    # snapshot + span stages off: only exact and near-dup run
    out = dedup_corpus(corpus, minhash_threshold=0.8).toPandas()
    assert sorted(out["doc_id"]) == [1, 4, 5, 6, 7]
    assert (out.set_index("doc_id").loc[6, "text"]) == BOILER + " " + U6
    # everything off except exact
    out2 = dedup_corpus(corpus, minhash_threshold=None).toPandas()
    assert sorted(out2["doc_id"]) == [1, 3, 4, 5, 6, 7]


def test_dedup_job_main(spark, corpus, tmp_path, monkeypatch, capsys):
    import jobs.dedup_job as dj

    src = str(tmp_path / "docs")
    out = str(tmp_path / "cleaned")
    corpus.write.parquet(src)
    monkeypatch.setattr(
        "sys.argv",
        [
            "dedup_job.py",
            "--input", src,
            "--output", out,
            "--snapshot-key", "source",
            "--minhash-threshold", "0.8",
            "--strip-spans-k", "5",
        ],
    )
    dj.main()
    line = [l for l in capsys.readouterr().out.splitlines() if l.startswith("{")][-1]
    summary = json.loads(line)
    assert summary["stages"]["after_span_strip"] == 4
    cleaned = spark.read.parquet(out).toPandas()
    assert sorted(cleaned["doc_id"]) == [1, 4, 6, 7]


def test_dedup_job_prefilters(spark, tmp_path, monkeypatch, capsys):
    """--lang / --min-quality drop docs BEFORE any dedup stage (post-filter
    count visible as stats.input)."""
    import jobs.dedup_job as dj

    rows = [
        (1, "the cat and the dog walk to the house in the morning sun", "s1"),
        (2, "der hund und die katze ist der beste freund und das haus", "s1"),
        (3, "!!! ??? ;;; ***", "s1"),  # punctuation-only junk, quality ~0.35
    ]
    src = str(tmp_path / "docs")
    out = str(tmp_path / "cleaned")
    spark.createDataFrame(rows, ["doc_id", "text", "source"]).write.parquet(src)
    monkeypatch.setattr(
        "sys.argv",
        ["dedup_job.py", "--input", src, "--output", out,
         "--lang", "en", "--min-quality", "0.5", "--minhash-threshold", "-1"],
    )
    dj.main()
    line = [l for l in capsys.readouterr().out.splitlines() if l.startswith("{")][-1]
    assert json.loads(line)["stages"]["input"] == 1
    assert [r["doc_id"] for r in spark.read.parquet(out).collect()] == [1]


def test_dedup_job_incremental_flow(spark, tmp_path, monkeypatch, capsys):
    """spark-submit surface for the round-5 incremental mode: --build-store
    fingerprints history, --store cleans a new batch against it, and
    --update-store folds survivors in so a later batch dedups against both."""
    import jobs.dedup_job as dj

    def run(argv):
        monkeypatch.setattr("sys.argv", ["dedup_job.py", *argv])
        dj.main()
        line = [l for l in capsys.readouterr().out.splitlines() if l.startswith("{")][-1]
        return json.loads(line)

    hist_doc = "the quick brown fox jumps over the lazy dog again and again"
    hist = str(tmp_path / "hist")
    store = str(tmp_path / "fpstore")
    spark.createDataFrame(
        [(1, hist_doc, "s1")], ["doc_id", "text", "source"]
    ).write.parquet(hist)
    built = run(["--input", hist, "--build-store", store, "--snapshot-key", "source"])
    assert built == {"input": hist, "store": store, "built": True}

    batch1 = str(tmp_path / "b1")
    out1 = str(tmp_path / "out1")
    spark.createDataFrame(
        [
            (10, hist_doc, "s2"),  # exact copy of history -> dropped
            (11, "a genuinely new document with enough words to shingle here", "s2"),
        ],
        ["doc_id", "text", "source"],
    ).write.parquet(batch1)
    summary = run([
        "--input", batch1, "--output", out1, "--store", store,
        "--update-store", "--snapshot-key", "source", "--minhash-threshold", "0.5",
    ])
    assert summary["stages"]["after_exact"] == 1
    assert sorted(r["doc_id"] for r in spark.read.parquet(out1).collect()) == [11]

    # batch 2 dedups against history + batch-1 survivors (store was updated)
    batch2 = str(tmp_path / "b2")
    out2 = str(tmp_path / "out2")
    spark.createDataFrame(
        [
            (20, "a genuinely new document with enough words to shingle here", "s3"),
            (21, "batch two adds one more unique document to the growing corpus", "s3"),
        ],
        ["doc_id", "text", "source"],
    ).write.parquet(batch2)
    run([
        "--input", batch2, "--output", out2, "--store", store,
        "--snapshot-key", "source", "--minhash-threshold", "0.5",
    ])
    assert sorted(r["doc_id"] for r in spark.read.parquet(out2).collect()) == [21]
