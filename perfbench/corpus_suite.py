"""The text, dedup, similarity and corpus layers: a seeded document and
embedding table, the calls into those layers that the traced run times, and
their checks.

``generate_corpus`` writes ``documents.parquet`` and ``embeddings.parquet``
in the schema the ``__spark_entry__`` queries read (``documents``: doc_id,
text, lang, source, n_chars; ``embeddings``: vec_id, embedding (64 float32),
label).  So that every dedup stage has work, documents are a seeded mix of fresh texts,
exact copies, near copies (a few words replaced; half of them re-crawls of
the previous document of the same source) and texts that share a span with
an earlier document.  Embeddings are noisy copies of a few unit-length
cluster centres.

``QUERIES`` maps a layer metric prefix to the ``__spark_entry__`` query that
exercises it; ``check`` compares each query's rows against its
``__spark_entry__.oracle_sql()`` twin run by DuckDB over the same files (row
count, column names and the order-insensitive value hash of
``tools/check_oracle.py`` must agree).  The corpus layer is measured by
``build_fingerprint_store``, the store incremental corpus dedup reads; its
content digests and last-snapshot rows are checked against Python's md5 and
a pandas recompute.
"""
from __future__ import annotations

import hashlib
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a the data table row column key value join merge sort scan filter group agg "
    "hash order line part query batch stream window spark vector fast slow big small "
    "customer index shard cache page crawl"
).split()
LANGS = ("en", "de", "fr", "es", "zh")
N_DOCS = 300
N_SOURCES = 20
N_VECS = 300
DIM = 64
N_CLUSTERS = 10

# layer metric prefix -> __spark_entry__ query name.  A traced run must end
# within three minutes, so the suite holds the cheap queries (2-3 s each on 4
# cores); minhash, simhash, snapshot, components, ANN and the corpus_clean
# queries cost 4-35 s each and are left out.
QUERIES = {
    "text.profile": "text_profile",
    "dedup.exact": "dedup_exact",
    "dedup.spans": "dedup_spans",
    "similarity.near_dup_lsh": "embedding_near_dup_lsh",
}
STORE_LAYER = "corpus.fingerprint_store"
LAYERS = (*QUERIES, STORE_LAYER)


def _documents(rng: np.random.Generator) -> pa.Table:
    texts: list[list[str]] = []
    for i in range(N_DOCS):
        kind = rng.random() if i else 0.0
        if kind < 0.70:
            words = rng.choice(VOCAB, size=int(rng.integers(20, 90))).tolist()
        elif kind < 0.80:
            words = list(texts[int(rng.integers(0, i))])
        elif kind < 0.92:
            same_source = i >= N_SOURCES and rng.random() < 0.5
            words = list(texts[i - N_SOURCES if same_source else int(rng.integers(0, i))])
            for j in rng.choice(len(words), size=max(1, len(words) // 30), replace=False):
                words[j] = str(rng.choice(VOCAB))
        else:
            src = texts[int(rng.integers(0, i))]
            at = int(rng.integers(0, max(1, len(src) - 12)))
            words = rng.choice(VOCAB, size=int(rng.integers(20, 60))).tolist()
            cut = int(rng.integers(0, len(words)))
            words[cut:cut] = src[at:at + 12]
        texts.append(words)
    text = [" ".join(w) for w in texts]
    return pa.table({
        "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(rng.choice(LANGS, size=N_DOCS).tolist(), pa.string()),
        "source": pa.array([f"src{i % N_SOURCES}" for i in range(N_DOCS)], pa.string()),
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    })


def _embeddings(rng: np.random.Generator) -> pa.Table:
    centres = rng.normal(size=(N_CLUSTERS, DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    label = rng.integers(0, N_CLUSTERS, size=N_VECS)
    vec = centres[label] + rng.normal(scale=0.14, size=(N_VECS, DIM))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def generate_corpus(seed: int, path: Path) -> None:
    rng = np.random.default_rng([seed, 31])
    path.mkdir(parents=True, exist_ok=True)
    pq.write_table(_documents(rng), str(path / "documents.parquet"))
    pq.write_table(_embeddings(rng), str(path / "embeddings.parquet"))


def run_layer(spark, path: Path, layer: str):
    """One call into ``layer``: an ``__spark_entry__`` query, collected as
    (columns, rows), or for the corpus layer a fingerprint store written
    under ``path``."""
    import __spark_entry__

    from stl_decomp_4j_spark.operators.corpus import build_fingerprint_store

    if layer == STORE_LAYER:
        docs = spark.read.parquet(str(path / "documents.parquet"))
        build_fingerprint_store(docs, str(path / "fpstore"), snapshot_key="source")
        return None
    df = __spark_entry__.queries()[QUERIES[layer]](spark, str(path))
    return df.columns, [tuple(r) for r in df.collect()]


def check(path: Path, results: dict[str, tuple]) -> tuple[int, int, list[str]]:
    """Each query result against its DuckDB oracle, and the fingerprint
    store's digests and snapshots against a recompute."""
    import duckdb

    import __spark_entry__
    from tools.check_oracle import value_hash

    oracles = __spark_entry__.oracle_sql()
    attempted, failed, notes = 0, 0, []
    with duckdb.connect() as con:
        for t in ("documents", "embeddings"):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}/{t}.parquet')")
        for layer, query in QUERIES.items():
            cols, rows = results[layer]
            attempted += 1
            rel = con.sql(oracles[query])
            want_cols, want = rel.columns, rel.fetchall()
            if (len(rows) != len(want) or sorted(cols) != sorted(want_cols)
                    or value_hash(rows, cols) != value_hash(want, want_cols)):
                failed += 1
                notes.append(f"{query}: {len(rows)} rows != DuckDB oracle's {len(want)}")
    a, f, n = check_store(path)
    return attempted + a, failed + f, notes + n


def check_store(path: Path) -> tuple[int, int, list[str]]:
    docs = pq.read_table(path / "documents.parquet").to_pandas()
    store = path / "fpstore"
    digests = pq.read_table(store / "digests").to_pandas().sort_values("doc_id")
    snaps = pq.read_table(store / "snapshots").to_pandas().sort_values("source")
    want_fp = [hashlib.md5(t.encode()).hexdigest() for t in docs.sort_values("doc_id")["text"]]
    last = docs.groupby("source", as_index=False)["doc_id"].max().sort_values("source")
    failed, notes = 0, []
    if digests["doc_id"].tolist() != sorted(docs["doc_id"]) or digests["fp"].tolist() != want_fp:
        failed += 1
        notes.append("fingerprint store digests != md5 of the documents")
    if (snaps["source"].tolist() != last["source"].tolist()
            or snaps["doc_id"].tolist() != last["doc_id"].tolist()):
        failed += 1
        notes.append("fingerprint store snapshots != last document per source")
    return 2, failed, notes
