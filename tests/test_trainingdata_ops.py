"""Tests for dedup / similarity / text-analysis / multimodal operators over
the driver testdata at sf0.001, verified against brute-force references."""
import itertools

import numpy as np
import pyspark.sql.functions as F
import pytest

from stl_decomp_4j_spark.operators.dedup import (
    dedup_exact,
    dedup_minhash_lsh,
    dedup_word_set,
    simhash,
    simhash_near_pairs,
)
from stl_decomp_4j_spark.operators.multimodal import attach_media, extract_features, frame_sample
from stl_decomp_4j_spark.operators.similarity import (
    ann_index_topk,
    ann_topk,
    brute_force_topk,
    build_ann_index,
    embedding_near_dup_pairs,
    extend_ann_index,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    df = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    # plant exact + near duplicates deterministically
    dup = df.filter(F.col("doc_id") < 5).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text", "lang", "source", "n_chars"
    )
    near = df.filter((F.col("doc_id") >= 5) & (F.col("doc_id") < 10)).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tail tail tail")).alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    out = df.unionByName(dup).unionByName(near)
    out.cache().count()
    return out


@pytest.fixture(scope="module")
def embeddings(spark):
    df = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    df.cache().count()
    return df


def test_dedup_exact_finds_planted(spark, docs):
    out = dedup_exact(docs).toPandas()
    assert len(out) == 5
    assert sorted(out["keep_id"]) == [0, 1, 2, 3, 4]
    assert (out["n_docs"] == 2).all()


def test_dedup_word_set_superset_of_exact(spark, docs):
    out = dedup_word_set(docs).toPandas()
    assert set(out["keep_id"]) >= {0, 1, 2, 3, 4}


def _brute_jaccard_pairs(docs_pdf, k=3, threshold=0.6):
    def shingles(t):
        w = t.lower().split()
        return set(" ".join(w[i : i + k]) for i in range(len(w) - k + 1))

    sets_ = {r.doc_id: shingles(r.text) for r in docs_pdf.itertuples() if len(r.text.split()) >= k}
    out = set()
    for a, b in itertools.combinations(sorted(sets_), 2):
        sa, sb = sets_[a], sets_[b]
        if not sa or not sb:
            continue
        j = len(sa & sb) / len(sa | sb)
        if j >= threshold:
            out.add((a, b))
    return out


def test_minhash_lsh_matches_brute_force(spark, docs):
    got = dedup_minhash_lsh(docs, threshold=0.6)
    got_pairs = set(map(tuple, got.select("id_a", "id_b").toPandas().to_numpy()))
    want = _brute_jaccard_pairs(docs.toPandas(), threshold=0.6)
    # precision 1 by construction (exact verify); recall here should be total
    assert got_pairs == want
    assert len(want) >= 10  # the 5 exact + 5 near planted pairs


def test_minhash_lsh_cache_handle_unpersists(spark, docs):
    """cache_handle exposes the persisted shingle table so long-lived
    sessions can release it after materializing the result."""
    handle = []
    got = dedup_minhash_lsh(docs, threshold=0.6, cache_handle=handle)
    assert got.count() > 0
    assert len(handle) == 1
    assert handle[0].storageLevel.useMemory  # persisted
    handle[0].unpersist(blocking=True)
    assert not handle[0].storageLevel.useMemory  # released


def test_simhash_properties(spark, docs):
    sh = simhash(docs).toPandas().set_index("doc_id")["simhash"]
    # identical docs -> identical simhash
    for i in range(5):
        assert sh[i] == sh[i + 100000]
    # near-dup (small edit) -> small hamming distance
    for i in range(5, 10):
        ham = bin((int(sh[i]) ^ int(sh[i + 200000])) & ((1 << 64) - 1)).count("1")
        assert ham <= 12, (i, ham)


def test_simhash_near_pairs_finds_planted_exact_dups(spark, docs):
    out = simhash_near_pairs(docs, max_hamming=3).toPandas()
    pairs = set(map(tuple, out[["id_a", "id_b"]].to_numpy()))
    for i in range(5):
        assert (i, i + 100000) in pairs


def test_brute_force_topk_vs_numpy(spark, embeddings):
    pdf = embeddings.toPandas()
    mat = np.stack(pdf["embedding"].to_numpy()).astype(float)
    q = mat[0]
    cos = (mat @ q) / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))
    order = np.lexsort((pdf["vec_id"].to_numpy(), -np.round(cos, 6)))[:10]
    want = list(pdf["vec_id"].to_numpy()[order])

    got = brute_force_topk(embeddings, list(map(float, q)), k=10).toPandas()
    assert list(got.sort_values("rank")["vec_id"]) == want


def test_ann_lsh_recall(spark, embeddings):
    pdf = embeddings.toPandas()
    mat = np.stack(pdf["embedding"].to_numpy()).astype(float)
    q = mat[1]
    exact = brute_force_topk(embeddings, list(map(float, q)), k=10).toPandas()
    approx = ann_topk(embeddings, list(map(float, q)), "lsh", k=10, probe=2).toPandas()
    # random 64-d embeddings have only weakly-similar "neighbors" (cos ~0.4),
    # where hyperplane-LSH collision probability is structurally low — recall
    # is a knob (planes/probes); correctness properties: some overlap, the
    # query itself always found, and every returned score is the EXACT cosine
    recall = len(set(exact["vec_id"]) & set(approx["vec_id"])) / 10
    assert recall >= 0.2
    assert 1 in set(approx["vec_id"])
    all_scored = brute_force_topk(embeddings, list(map(float, q)), k=len(pdf)).toPandas()
    truth = all_scored.set_index("vec_id")["cos"]
    for r in approx.itertuples():
        assert abs(truth[r.vec_id] - r.cos) < 1e-9


# probe per kind in the index tests: Hamming radius 2 (LSH), 3 nearest of 8
# clusters (IVF)
PROBE = {"lsh": 2, "ivf": 3}


@pytest.fixture(scope="module")
def ann_index(embeddings, tmp_path_factory):
    """kind -> path of an 8-cell index over the sf0.001 embeddings."""
    root = tmp_path_factory.mktemp("ann_index")
    paths = {kind: str(root / kind) for kind in PROBE}
    for kind, path in paths.items():
        build_ann_index(embeddings, path, kind, n_cells=8)
    return paths


@pytest.mark.parametrize("kind", ["lsh", "ivf"])
def test_indexed_ann_matches_batch_paths(spark, embeddings, ann_index, kind):
    """The persisted-index query path must return exactly the batch path's
    results (same planes/centroids by construction), and the indexed scan
    must touch only the probed partitions (partition pruning on the cell
    directory column, not a full scan + filter)."""
    q = [float(x) for x in embeddings.first()["embedding"]]
    got = ann_index_topk(spark, ann_index[kind], q, k=5, probe=PROBE[kind])
    want = ann_topk(embeddings, q, kind, k=5, n_cells=8, probe=PROBE[kind])
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in want.collect()]
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [cell" in plan  # pruned scan, not full read


@pytest.mark.parametrize("kind", ["lsh", "ivf"])
def test_ann_index_plan(spark, plan_of, embeddings, ann_index, kind):
    """Indexed lookup plan: the scan prunes to the probe-cell partitions
    (PartitionFilters on the partition column) and exactly one Arrow pass
    scores the candidates — no full-table re-hash / re-assign."""
    q = [float(x) for x in embeddings.filter(F.col("vec_id") == 0).first()["embedding"]]
    plan = plan_of(ann_index_topk(spark, ann_index[kind], q, k=10))
    assert "PartitionFilters" in plan, plan
    assert "cell" in plan.split("PartitionFilters", 1)[1][:200], plan
    # node headers (") ArrowEvalPython"), not tree lines
    assert plan.count(") ArrowEvalPython") == 1, plan


@pytest.mark.parametrize("kind", ["lsh", "ivf"])
def test_extend_index_equals_full_build(spark, embeddings, tmp_path, kind):
    """Appending a batch assigns it with the STORED quantizer: every stored
    (vec_id, cell) is the NumPy cell of that vector under the stored planes
    (sign bits) / centroids (nearest), and the index holds exactly the union
    of both halves.  LSH planes are seed-deterministic, so there the lookups
    also equal those of a build from the union."""
    half1 = embeddings.filter(F.col("vec_id") % 2 == 0)
    half2 = embeddings.filter(F.col("vec_id") % 2 == 1)
    inc = str(tmp_path / "inc")
    build_ann_index(half1, inc, kind, n_cells=8)
    extend_ann_index(half2, inc)

    mat = np.array([r["row"] for r in spark.read.parquet(inc + "/quantizer").orderBy("i").collect()])
    stored = spark.read.parquet(inc + "/vectors").select("vec_id", "cell").collect()
    vecs = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64) for r in embeddings.collect()}
    assert sorted(r["vec_id"] for r in stored) == sorted(vecs)
    for r in stored:
        v = vecs[r["vec_id"]]
        if kind == "lsh":
            want = sum(1 << p for p, plane in enumerate(mat) if v @ plane > 0)
        else:
            want = int(np.argmin(((mat - v) ** 2).sum(1)))
        assert r["cell"] == want, r

    if kind == "lsh":
        full = str(tmp_path / "full")
        build_ann_index(embeddings, full, kind, n_cells=8)
        q = [float(x) for x in embeddings.first()["embedding"]]
        got = [tuple(r) for r in ann_index_topk(spark, inc, q, k=5, probe=2).collect()]
        want = [tuple(r) for r in ann_index_topk(spark, full, q, k=5, probe=2).collect()]
        assert got == want


def test_ann_index_refuses_mismatched_dim(spark, embeddings, tmp_path):
    """The index records its dim: extending a dim-64 index with dim-32
    vectors, or querying it with a dim-32 vector, raises before anything is
    written or read; so does a path without params.json."""
    path = str(tmp_path / "idx")
    build_ann_index(embeddings, path, "lsh")
    rows = spark.read.parquet(path + "/vectors").count()
    short = embeddings.select("vec_id", F.slice("embedding", 1, 32).alias("embedding"))
    with pytest.raises(ValueError, match="dim-64"):
        extend_ann_index(short, path)
    assert spark.read.parquet(path + "/vectors").count() == rows
    with pytest.raises(ValueError, match="dim-64"):
        ann_index_topk(spark, path, [1.0] * 32)
    with pytest.raises(ValueError, match="no params.json"):
        extend_ann_index(embeddings, str(tmp_path / "missing"))
    with pytest.raises(ValueError, match="empty input"):
        build_ann_index(embeddings.limit(0), str(tmp_path / "empty"), "ivf")
    assert not (tmp_path / "empty").exists()


def test_ann_job_build_and_query(spark, embeddings, tmp_path, monkeypatch, capsys):
    """spark-submit surface for the serving index: --build writes both
    indexes, --query answers a vec-id lookup with the same rows as the
    operator paths."""
    import json as _json

    import jobs.ann_job as aj

    emb_path = str(tmp_path / "emb")
    embeddings.write.parquet(emb_path)
    idx = str(tmp_path / "idx")

    def run(argv):
        monkeypatch.setattr("sys.argv", ["ann_job.py", *argv])
        aj.main()
        line = [l for l in capsys.readouterr().out.splitlines() if l.startswith("{")][-1]
        return _json.loads(line)

    built = run(["--build", "--input", emb_path, "--index", idx])
    assert built == {"index": idx, "built": ["lsh", "ivf"]}

    res_path = str(tmp_path / "res")
    out = run(["--query", "--index", idx, "--vec-id", "1", "--input", emb_path, "--k", "5",
               "--output", res_path])
    q = [float(x) for x in embeddings.filter(F.col("vec_id") == 1).first()["embedding"]]
    want_lsh = [r.asDict() for r in ann_index_topk(spark, idx + "/lsh", q, k=5).collect()]
    want_ivf = [r.asDict() for r in ann_index_topk(spark, idx + "/ivf", q, k=5).collect()]
    assert out["results"]["lsh"] == want_lsh
    assert out["results"]["ivf"] == want_ivf

    # --kind both --output writes both result sets, tagged by method
    written = spark.read.parquet(res_path)
    for method, want in (("lsh", want_lsh), ("ivf", want_ivf)):
        rows = [r.asDict() for r in written.filter(F.col("method") == method).drop("method").collect()]
        assert sorted(rows, key=lambda r: r["rank"]) == sorted(want, key=lambda r: r["rank"])


def test_ann_job_extend_checks_every_kind_first(spark, embeddings, tmp_path, monkeypatch):
    """--extend --kind both against an index root holding only lsh/ stops
    with an error naming the missing kind, before any vector is appended."""
    import jobs.ann_job as aj

    emb_path = str(tmp_path / "emb")
    embeddings.write.parquet(emb_path)
    idx = str(tmp_path / "idx")
    monkeypatch.setattr("sys.argv", ["ann_job.py", "--build", "--kind", "lsh", "--input", emb_path, "--index", idx])
    aj.main()
    rows = spark.read.parquet(idx + "/lsh/vectors").count()

    monkeypatch.setattr("sys.argv", ["ann_job.py", "--extend", "--kind", "both", "--input", emb_path, "--index", idx])
    with pytest.raises(SystemExit) as exc:
        aj.main()
    assert exc.value.code not in (0, None)
    assert "ivf" in str(exc.value.code)
    assert spark.read.parquet(idx + "/lsh/vectors").count() == rows


def test_embedding_near_dup_pairs(spark, embeddings):
    # plant two exact-duplicate vectors
    dup = embeddings.filter(F.col("vec_id") < 2).select(
        (F.col("vec_id") + 50000).alias("vec_id"), "embedding", "label"
    )
    df = embeddings.unionByName(dup)
    out = embedding_near_dup_pairs(df, threshold=0.999).toPandas()
    pairs = set(map(tuple, out[["id_a", "id_b"]].to_numpy()))
    assert (0, 50000) in pairs and (1, 50001) in pairs


def test_embedding_near_dup_pairs_are_exact_baseline_pairs(spark, embeddings):
    """Every LSH pair is an exact all-pairs pair, with the same cosine bit
    for bit: both paths verify through the one pair-cosine UDF."""
    from stl_decomp_4j_spark.operators.similarity import all_pairs_cosine

    lsh = embedding_near_dup_pairs(embeddings, threshold=0.35).toPandas()
    exact = all_pairs_cosine(embeddings, threshold=0.35).toPandas()
    assert len(lsh) > 0 and len(exact) > 0
    want = {(a, b): c for a, b, c in exact[["id_a", "id_b", "cos"]].itertuples(index=False)}
    got = {(a, b): c for a, b, c in lsh[["id_a", "id_b", "cos"]].itertuples(index=False)}
    assert got.keys() <= want.keys(), sorted(got.keys() - want.keys())[:10]
    mismatched = [k for k, c in got.items() if np.float64(c).tobytes() != np.float64(want[k]).tobytes()]
    assert not mismatched, mismatched[:10]


def test_multimodal_plumbing(spark, docs):
    media = attach_media(docs)
    assert {f.name for f in media.schema.fields} == {"media_id", "kind", "payload", "mime", "n_bytes"}
    feats = extract_features(media, n_features=8).toPandas()
    assert len(feats) == docs.count()
    assert (feats["features"].apply(len) == 8).all()
    # deterministic: same payload -> same features
    f0 = feats.set_index("media_id")
    assert np.array_equal(np.array(f0.loc[0, "features"]), np.array(f0.loc[100000, "features"]))


def test_multimodal_resize_and_frame_sample(spark, docs):
    from stl_decomp_4j_spark.operators.multimodal import frame_sample, resize_images

    media = attach_media(docs)
    rs = resize_images(media, max_side=64).toPandas()
    assert len(rs) == media.filter("kind = 'image'").count() > 0
    # aspect-preserving fit: longest side == 64 unless already smaller
    longest = np.maximum(rs["out_width"], rs["out_height"])
    small = np.maximum(rs["width"], rs["height"]) <= 64
    assert (longest[~small] == 64).all()
    assert (rs.loc[small, "out_width"] == rs.loc[small, "width"]).all()
    # payload bytes match the declared output geometry (one byte per pixel)
    assert (rs["resized"].apply(len) == rs["out_width"] * rs["out_height"]).all()
    # aspect ratio preserved within rounding
    ratio_in = rs["width"] / rs["height"]
    ratio_out = rs["out_width"] / rs["out_height"]
    assert np.allclose(ratio_in, ratio_out, rtol=0.1)

    fs = frame_sample(media, every_n=8).toPandas()
    assert len(fs) > 0
    assert (fs["frame_no"] % 8 == 0).all()
    frames = frame_sample(media, every_n=8).toPandas()
    assert (frames["frame_no"] % 8 == 0).all()
    with pytest.raises(NotImplementedError):
        extract_features(media, fake=False)


def test_ann_ivf_recall_and_exact_scores(spark, embeddings):
    pdf = embeddings.toPandas()
    mat = np.stack(pdf["embedding"].to_numpy()).astype(float)
    q = mat[1]
    exact = brute_force_topk(embeddings, list(map(float, q)), k=10).toPandas()
    approx = ann_topk(embeddings, list(map(float, q)), "ivf", k=10, n_cells=16, probe=4).toPandas()
    # nprobe=4 of 16 clusters scans ~1/4 of the data; with weakly-clustered
    # random embeddings recall is a knob, but the query's own nearest
    # neighborhood concentrates in the probed clusters
    recall = len(set(exact["vec_id"]) & set(approx["vec_id"])) / 10
    assert recall >= 0.3
    assert 1 in set(approx["vec_id"])  # the query vector's own id
    all_scored = brute_force_topk(embeddings, list(map(float, q)), k=len(pdf)).toPandas()
    truth = all_scored.set_index("vec_id")["cos"]
    for r in approx.itertuples():
        assert abs(truth[r.vec_id] - r.cos) < 1e-9


def test_duplicate_spans_planted(spark):
    """Exact extents on a corpus with hand-computed shared spans (k=5)."""
    from stl_decomp_4j_spark.operators.dedup import duplicate_spans

    rows = [
        # docs 1 and 2 share 'a b c d e f' -> doc1 span [1,6], doc2 span [3,8]
        (1, "a b c d e f g h"),
        (2, "x y a b c d e f q"),
        # doc 3 shares that span AND a separated second span with doc 4 ->
        # two islands in doc 3 (gap of >1 uncovered word between them)
        (3, "a b c d e f GAP1 GAP2 GAP3 GAP4 GAP5 GAP6 p q r s t u"),
        (4, "zz p q r s t u ww"),
        # doc 5 has no cross-document 5-gram
        (5, "only unique words appear in this document body here"),
        # doc 6 too short for a 5-gram
        (6, "tiny doc"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = duplicate_spans(docs, k=5).orderBy("doc_id", "span_start").toPandas()
    got = [tuple(r) for r in out[["doc_id", "span_start", "span_end", "span_words", "n_grams"]].to_numpy()]
    assert got == [
        (1, 1, 6, 6, 2),
        (2, 3, 8, 6, 2),
        (3, 1, 6, 6, 2),       # 'a b c d e f' at head (lowercased match)
        (3, 13, 18, 6, 2),     # 'p q r s t u' island, separated by the GAP words
        (4, 2, 7, 6, 2),
    ]


def test_duplicate_spans_adjacent_grams_merge(spark):
    """Grams exactly k apart (adjacent coverage, no overlap) merge into one
    extent; k+1 apart (one uncovered word) split into two."""
    from stl_decomp_4j_spark.operators.dedup import duplicate_spans

    # shared 4-word runs: 'c1 c2 c3 c4' and 'd1 d2 d3 d4' (k=2 grams)
    rows = [
        (1, "c1 c2 c3 c4 u1 d1 d2 d3 d4"),   # gap word u1 -> two islands
        (2, "c1 c2 c3 c4 d1 d2 d3 d4 v9"),   # adjacent -> one island
        (3, "c1 c2 c3 c4 w8 w9 d1 d2 d3 d4"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = duplicate_spans(docs, k=2).orderBy("doc_id", "span_start").toPandas()
    spans = {(r.doc_id, r.span_start, r.span_end) for r in out.itertuples()}
    assert (1, 1, 4) in spans and (1, 6, 9) in spans        # split
    assert (2, 1, 8) in spans                               # merged
    assert (3, 1, 4) in spans and (3, 7, 10) in spans


def test_lsh_hot_bucket_cap_bounds_degenerate_buckets(spark):
    """Adversarial skew: 100k near-identical docs collapse into ONE band
    bucket per band (an uncapped self-join would emit 32 * 100k^2/2 = 1.6e11
    candidate rows — the named 100-TB hot spot).  With max_bucket set, every
    join-side bucket is bounded at the cap, the job completes in seconds,
    and the genuine (non-degenerate) near-dup pairs still come out exactly."""
    from stl_decomp_4j_spark.operators.dedup import dedup_minhash_lsh

    hot = spark.range(100_000).select(
        (F.col("id") + 1_000_000).alias("doc_id"),
        F.lit("the same boilerplate footer text repeated on every single page").alias("text"),
    )
    planted = []
    for i in range(10):
        base = " ".join(f"w{i}x{j}" for j in range(12))
        planted.append((2_000_000 + 2 * i, base))
        planted.append((2_000_000 + 2 * i + 1, base + f" tail{i}"))
    good = spark.createDataFrame(planted, ["doc_id", "text"])
    docs = hot.unionByName(good)

    handle = []
    got = dedup_minhash_lsh(docs, threshold=0.6, max_bucket=1000, cache_handle=handle)
    pairs = set(map(tuple, got.select("id_a", "id_b").toPandas().to_numpy()))
    for h in handle:
        h.unpersist()
    want = {(2_000_000 + 2 * i, 2_000_000 + 2 * i + 1) for i in range(10)}
    assert pairs == want


def test_all_pairs_cosine_guard_refuses_large_input(spark):
    from stl_decomp_4j_spark.operators.similarity import all_pairs_cosine

    emb = spark.range(101).select(
        F.col("id").alias("vec_id"),
        F.array(F.col("id").cast("double"), F.lit(1.0)).alias("embedding"),
    )
    with pytest.raises(ValueError, match="cartesian"):
        all_pairs_cosine(emb, max_rows=100)
    # under the cap it runs
    small = emb.filter(F.col("vec_id") < 20)
    assert all_pairs_cosine(small, threshold=0.999, max_rows=100).count() >= 0


def test_multimodal_real_decode_with_pillow(spark):
    """Real-image decode path (fake=False): runs only where Pillow is
    importable — skipped in this container, exercised wherever the optional
    dependency exists.  The fake-container oracle queries are untouched."""
    Image = pytest.importorskip("PIL.Image")
    import io

    from stl_decomp_4j_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        extract_features,
        resize_images,
    )

    rows = []
    for mid, (w, h, gray) in enumerate([(10, 6, 50), (130, 80, 200)]):
        im = Image.new("L", (w, h), color=gray)
        buf = io.BytesIO()
        im.save(buf, format="PNG")
        rows.append((mid, "image", bytearray(buf.getvalue()), "image/png", len(buf.getvalue())))
    # a non-image row must be filtered out by the real path, not decoded
    rows.append((99, "audio", bytearray(b"not an image"), "audio/x-fake", 12))
    media = spark.createDataFrame(rows, schema=MEDIA_SCHEMA)

    feats = extract_features(media, n_features=4, fake=False).orderBy("media_id").toPandas()
    assert list(feats["media_id"]) == [0, 1]
    assert list(feats["width"]) == [10, 130] and list(feats["height"]) == [6, 80]
    assert list(feats["n_frames"]) == [1, 1]
    for r, gray in zip(feats.itertuples(), (50, 200)):
        assert len(r.features) == 4
        assert all(abs(f - gray / 255.0) < 1e-9 for f in r.features)  # constant image

    res = resize_images(media, max_side=64, fake=False).orderBy("media_id").toPandas()
    assert list(res["media_id"]) == [0, 1]
    r0, r1 = res.iloc[0], res.iloc[1]
    assert (r0.out_width, r0.out_height) == (10, 6)        # under max_side: untouched
    assert (r1.out_width, r1.out_height) == (64, 39)       # 130x80 -> fit 64 square
    assert len(bytes(r1.resized)) == 64 * 39               # gray byte per pixel
    assert set(bytes(r0.resized)) == {50}                  # constant image stays constant


def test_strip_duplicate_spans_planted(spark):
    """Span removal: exact surviving text on the hand-computed corpus (k=5,
    same planted spans as test_duplicate_spans_planted), original casing
    kept, fully-duplicated docs dropped, untouched docs passed through."""
    from stl_decomp_4j_spark.operators.dedup import strip_duplicate_spans

    rows = [
        (1, "A B C D E F g h"),                 # span [1,6] removed -> 'g h'
        (2, "x y a b c d e f q"),               # span [3,8] removed -> 'x y q'
        (3, "a b c d e f"),                     # fully duplicated -> dropped
        (4, "zz a b c d e f"),                  # span [2,7] -> 'zz'
        (5, "only unique words appear in this document"),  # untouched
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = strip_duplicate_spans(docs, k=5).orderBy("doc_id").toPandas()
    got = {r.doc_id: (r.clean_text, r.n_kept, r.n_removed) for r in out.itertuples()}
    assert got == {
        1: ("g h", 2, 6),          # original casing preserved in survivors
        2: ("x y q", 3, 6),
        4: ("zz", 1, 6),
        5: ("only unique words appear in this document", 7, 0),
    }


def test_strip_duplicate_spans_book_length_doc(spark):
    """Scale guard for the r4 O(words^2) reassembly bug: a 10^5-word doc
    with a planted duplicated span must reassemble in one hash aggregate
    (the old full-frame window shape did ~10^10 UnsafeRow copies here and
    would not finish).  Verifies exact word count, span removal, and word
    ORDER across the whole document."""
    from stl_decomp_4j_spark.operators.dedup import strip_duplicate_spans

    n = 100_000
    words = [f"w{i}" for i in range(n)]
    dup = "alpha beta gamma delta epsilon"  # 5-gram duplicated across docs
    big = " ".join(words[: n // 2]) + " " + dup + " " + " ".join(words[n // 2 :])
    docs = spark.createDataFrame(
        [(1, big), (2, "pad1 " + dup + " pad2")], ["doc_id", "text"]
    )
    out = strip_duplicate_spans(docs, k=5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "unboundedfollowing" not in plan.lower()  # no full-frame window
    got = {r["doc_id"]: r for r in out.collect()}
    assert got[1]["n_kept"] == n and got[1]["n_removed"] == 5
    assert got[1]["clean_text"] == " ".join(words)  # order preserved end-to-end
    assert (got[2]["clean_text"], got[2]["n_removed"]) == ("pad1 pad2", 5)


@pytest.fixture(scope="module")
def snapshots(spark):
    """Planted crawl snapshots: per-source doc_id order is crawl order."""
    base = "the quick brown fox jumps over the lazy dog near the river bank " * 4
    other = "completely different content about spark catalyst tungsten codegen " * 4
    rows = [
        # s1: 1->2 identical (redundant), 2->3 change, 3->4 identical (redundant)
        (1, base, "s1"),
        (2, base, "s1"),
        (3, other, "s1"),
        (4, other, "s1"),
        # s2: single snapshot -> no pairs
        (10, base + " extra", "s2"),
        # s3: two genuinely different snapshots -> pair exists, not redundant
        (20, base, "s3"),
        (21, other, "s3"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    df.cache().count()
    return df


def test_snapshot_dedup_planted(spark, snapshots):
    from stl_decomp_4j_spark.operators.dedup import snapshot_dedup

    out = snapshot_dedup(snapshots, max_hamming=4).toPandas()
    flagged = set(map(tuple, out[["source", "doc_id", "prev_id"]].to_numpy()))
    assert ("s1", 2, 1) in flagged  # identical consecutive snapshot
    assert ("s1", 4, 3) in flagged
    assert all(r[0] != "s2" for r in flagged)  # single snapshot: no pair
    assert ("s3", 21, 20) not in flagged  # different content not collapsed
    assert (out[out["doc_id"].isin([2, 4])]["hamming"] == 0).all()


def test_snapshot_dedup_matches_lag_rule(spark, docs):
    """Flag set == pandas recompute of the lag-1 rule on simhash(docs)."""
    from stl_decomp_4j_spark.operators.dedup import simhash, snapshot_dedup

    sh = simhash(docs, carry_cols=("source",)).toPandas().sort_values(["source", "doc_id"])
    want = set()
    for _, g in sh.groupby("source"):
        prev = None
        for _, r in g.iterrows():
            if prev is not None:
                # mask to 64 bits: int64 xor in infinite-precision Python
                # ints goes negative when exactly one side is negative
                ham = bin((int(prev[1]) ^ int(r["simhash"])) & ((1 << 64) - 1)).count("1")
                if ham <= 6:
                    want.add((r["source"], int(r["doc_id"]), int(prev[0]), ham))
            prev = (r["doc_id"], r["simhash"])
    out = snapshot_dedup(docs, max_hamming=6).toPandas()
    got = set(map(tuple, out[["source", "doc_id", "prev_id", "hamming"]].to_numpy()))
    assert got == want


def test_snapshot_churn_counts(spark, snapshots):
    from stl_decomp_4j_spark.operators.dedup import snapshot_churn

    out = snapshot_churn(snapshots, max_hamming=4).toPandas().set_index("source")
    assert out.loc["s1", "n_pairs"] == 3 and out.loc["s1", "n_redundant"] == 2
    assert "s2" not in out.index
    assert out.loc["s3", "n_pairs"] == 1 and out.loc["s3", "n_redundant"] == 0
    assert abs(out.loc["s1", "redundant_ratio"] - round(2 / 3, 6)) < 1e-9
