"""Similarity search over an embeddings table (vec_id, embedding: array<float>).

- brute-force cosine top-k: exact baseline; the query vector is closed over
  (broadcast with the serialized UDF), scores computed as one NumPy matmul
  per Arrow batch in a vectorized pandas UDF.
- ANN top-k: one partitioned path with a pluggable cell function.  ``kind``
  picks the quantizer — "lsh" (random hyperplanes; cell = the sign bits) or
  "ivf" (k-means centroids trained on a bounded sample; cell = the nearest
  centroid).  Every ANN path runs the same steps: assign each vector its
  cell, compute the query's probe cells driver-side (the Hamming ball of
  radius ``probe`` for LSH, the ``probe`` nearest centroids for IVF), keep
  the vectors in those cells, exact-cosine rerank.  ``ann_topk`` runs them
  over a table in one batch pass.
- persisted ANN index: ``build_ann_index`` writes the vectors once,
  PARTITIONED BY cell, with the quantizer as a tiny side table and a
  ``params.json`` (kind, n_cells, dim); ``ann_index_topk`` then answers each
  query by reading only the probed partitions (partition pruning — no
  full-table re-assign per lookup), with the same rows as ``ann_topk`` by
  construction.  ``extend_ann_index`` appends a new batch via the STORED
  quantizer (per-crawl maintenance — never re-reads or rebuilds the index).
- embedding near-dup pairs: all pairs with cosine >= threshold, candidates
  from the same hyperplane LSH cells, exact-verified by the pair-cosine UDF
  the all-pairs baseline uses (each pair found carries the baseline's score).

Scale shape: all vector math runs in Arrow-batched pandas UDFs (one
float64 matmul / einsum per batch) — Catalyst higher-order-function lambdas
are interpreted per element and were the dominant cost at dim x 10^9 rows
(see CLAUDE.md); top-k uses orderBy().limit(k) (TakeOrderedAndProject — a
distributed partial top-k per partition + merge on the driver side of the
exchange), never a global unpartitioned Window.
"""
from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from ..plans.checkpoint import check_params, write_params

SEED = 7  # hyperplane RNG and k-means initialisation
KMEANS_ITERS = 10  # Lloyd iterations of the IVF quantizer
TRAIN_SAMPLE = 4096  # IVF k-means trains on the first rows in id order
_DEFAULTS = {"lsh": (8, 1), "ivf": (16, 4)}  # kind -> (n_cells, probe)


def _stack(series: pd.Series) -> np.ndarray:
    # float32 arrays cross Arrow as-is; widening to float64 here is exact and
    # batch-vectorized.  (A JVM-side F.transform(cast) would be an interpreted
    # per-element lambda — dim x rows interpreted casts per scoring pass.)
    return np.stack(series.to_numpy()).astype(np.float64, copy=False)


def cosine_vs_query_udf(query: list[float]):
    """Vectorized pandas UDF: cosine(v, query) as one matmul per Arrow batch."""
    q = np.asarray(query, dtype=np.float64)
    qn = float(np.linalg.norm(q))

    @F.pandas_udf("double")
    def cos(v: pd.Series) -> pd.Series:
        mat = _stack(v)
        return pd.Series((mat @ q) / (np.linalg.norm(mat, axis=1) * qn))

    return cos


def pair_cosine_udf():
    """Vectorized pandas UDF: cosine(va, vb) via batched einsum."""

    @F.pandas_udf("double")
    def cos(va: pd.Series, vb: pd.Series) -> pd.Series:
        a, b = _stack(va), _stack(vb)
        num = np.einsum("ij,ij->i", a, b)
        return pd.Series(num / (np.linalg.norm(a, axis=1) * np.linalg.norm(b, axis=1)))

    return cos


def _ranked_topk(scored: DataFrame, k: int) -> DataFrame:
    """(vec_id, cos) -> top-k with rank, deterministic (cos desc, vec_id).

    orderBy().limit(k) compiles to TakeOrderedAndProject (per-partition
    partial top-k, no full-data single-partition shuffle); the row_number
    window then runs over at most k rows, so WindowExec's no-partition
    warning (everything in one partition) is harmless here.
    """
    top = scored.orderBy(F.col("cos").desc(), F.col("vec_id")).limit(k)
    w = Window.orderBy(F.col("cos").desc(), F.col("vec_id"))
    return top.withColumn("rank", F.row_number().over(w))


def brute_force_topk(
    embeddings: DataFrame,
    query: list[float],
    k: int = 10,
) -> DataFrame:
    """Exact top-k by cosine against one query vector.  Output:
    (vec_id, cos, rank) with deterministic (cos desc, vec_id) ordering."""
    cos = cosine_vs_query_udf(query)
    scored = embeddings.select("vec_id", F.round(cos(F.col("embedding")), 6).alias("cos"))
    return _ranked_topk(scored, k)


def all_pairs_cosine(
    embeddings: DataFrame,
    threshold: float = 0.5,
    max_rows: int = 50_000,
) -> DataFrame:
    """Exact all-pairs cosine pairs >= threshold — a cartesian product,
    O(n^2) BY CONSTRUCTION.  This exists only as the exact baseline/oracle
    twin of the LSH path (embedding_near_dup_pairs); it must never be the
    scale path, so it refuses inputs larger than ``max_rows`` (one bounded
    metadata count) instead of silently launching an n^2 job on a large
    table.  Raise ``max_rows`` explicitly only when a quadratic exact
    baseline is genuinely intended."""
    n = embeddings.count()
    if n > max_rows:
        raise ValueError(
            f"all_pairs_cosine is a cartesian product (O(n^2)): refusing {n} rows"
            f" > max_rows={max_rows}; use the LSH path (embedding_near_dup_pairs)"
            " at scale, or pass a larger max_rows explicitly."
        )
    a = embeddings.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("_va"))
    b = embeddings.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("_vb"))
    cos = pair_cosine_udf()
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(cos(F.col("_va"), F.col("_vb")), 6).alias("cos"))
        .filter(F.col("cos") >= threshold)
    )


def _defaults(kind: str) -> tuple[int, int]:
    if kind not in _DEFAULTS:
        raise ValueError(f"kind must be one of {sorted(_DEFAULTS)}, got {kind!r}")
    return _DEFAULTS[kind]


def _hyperplanes(dim: int, n_planes: int) -> np.ndarray:
    return np.random.default_rng(SEED).standard_normal((n_planes, dim))


def kmeans_centroids(mat: np.ndarray, k: int) -> np.ndarray:
    """Deterministic Lloyd k-means (NumPy, seed ``SEED``, ``KMEANS_ITERS``
    iterations) for the IVF coarse quantizer.  Runs on a bounded driver-side
    TRAINING SAMPLE only — the full table is never collected; assignment is
    distributed."""
    rng = np.random.default_rng(SEED)
    mat = np.asarray(mat, dtype=np.float64)
    cent = mat[rng.choice(len(mat), size=min(k, len(mat)), replace=False)].copy()
    for _ in range(KMEANS_ITERS):
        d = ((mat[:, None, :] - cent[None, :, :]) ** 2).sum(-1)
        assign = d.argmin(1)
        for j in range(len(cent)):
            members = mat[assign == j]
            if len(members):
                cent[j] = members.mean(0)
    return cent


def _quantizer(embeddings: DataFrame, kind: str, n_cells: int | None, dim: int) -> np.ndarray:
    """The plane matrix (LSH) or the centroids (IVF), one row per plane /
    cell; ``n_cells`` None takes the kind's default.  IVF trains on a
    bounded driver-side sample; the full table is never collected."""
    default_cells, _ = _defaults(kind)
    n_cells = n_cells or default_cells
    if kind == "lsh":
        return _hyperplanes(dim, n_cells)
    sample = embeddings.select("embedding").orderBy("vec_id").limit(TRAIN_SAMPLE).collect()
    return kmeans_centroids(np.array([list(map(float, r["embedding"])) for r in sample]), n_cells)


def _cell_udf(kind: str, mat: np.ndarray):
    """Each vector's cell as a vectorized pandas UDF, one matmul per Arrow
    batch.  LSH: bit p = sign(dot(v, plane_p)).  IVF: the nearest centroid,
    argmin over ||c||^2/2 - v.c (||v||^2 dropped as assignment-invariant)."""
    mt = np.ascontiguousarray(mat.T, dtype=np.float64)
    if kind == "lsh":
        pow2 = (1 << np.arange(mat.shape[0], dtype=np.uint64)).astype(np.uint64)

        def cells(m: np.ndarray) -> np.ndarray:
            return ((m @ mt) > 0).astype(np.uint64) @ pow2

    else:
        half_cc = 0.5 * np.einsum("ij,ij->i", mat, mat)

        def cells(m: np.ndarray) -> np.ndarray:
            return (half_cc[None, :] - m @ mt).argmin(axis=1)

    @F.pandas_udf("long")
    def cell(v: pd.Series) -> pd.Series:
        return pd.Series(cells(_stack(v)).astype(np.int64))

    return cell


def _hamming_ball(center: int, n_bits: int, radius: int) -> list[int]:
    """All n_bits-wide signatures within Hamming distance <= radius of
    ``center`` — the static probe set for an LSH lookup.  Size is
    sum_{i<=radius} C(n_bits, i) (37 for 8 planes / radius 2), enumerated
    driver-side; a radius large enough to blow this up is past the point
    where LSH pruning helps at all."""
    from itertools import combinations

    out = [center]
    for r in range(1, radius + 1):
        for flips in combinations(range(n_bits), r):
            sig = center
            for b in flips:
                sig ^= 1 << b
            out.append(sig)
    return sorted(out)


def _probes(kind: str, mat: np.ndarray, q: np.ndarray, probe: int) -> list[int]:
    """The query's probe cells: its signature's Hamming ball of radius
    ``probe`` (LSH) or its ``probe`` nearest centroids (IVF)."""
    if kind == "lsh":
        sig = sum(1 << p for p, plane in enumerate(mat) if float(q @ plane) > 0)
        return _hamming_ball(sig, len(mat), probe)
    return [int(c) for c in np.argsort(((mat - q) ** 2).sum(1))[:probe]]


def _assign(embeddings: DataFrame, kind: str, mat: np.ndarray) -> DataFrame:
    """(vec_id, v, cell): every vector with its cell under ``mat``."""
    return embeddings.select(
        "vec_id",
        F.col("embedding").alias("v"),
        _cell_udf(kind, mat)(F.col("embedding")).alias("cell"),
    )


def _probe_topk(cells: DataFrame, kind: str, mat: np.ndarray, query: list[float], k: int, probe: int) -> DataFrame:
    """Exact-cosine top-k over the (vec_id, v, cell) rows in the query's
    probe cells — a static IN list on ``cell``, so against the index it
    prunes partitions and scoring runs on the candidates alone."""
    probes = _probes(kind, mat, np.asarray(query, dtype=np.float64), probe)
    cos = cosine_vs_query_udf(query)
    scored = cells.filter(F.col("cell").isin(probes)).select("vec_id", F.round(cos(F.col("v")), 6).alias("cos"))
    return _ranked_topk(scored, k)


def ann_topk(
    embeddings: DataFrame,
    query: list[float],
    kind: str,
    k: int = 10,
    n_cells: int | None = None,
    probe: int | None = None,
) -> DataFrame:
    """Approximate top-k in one batch pass: quantize (``n_cells`` hyperplanes
    for "lsh", ``n_cells`` k-means centroids for "ivf"), assign every vector
    its cell, score only the query's probe cells exactly.  ``probe`` is the
    recall knob: Hamming radius (LSH, default 1) or number of nearest
    clusters (IVF, default 4); ``n_cells`` defaults to 8 planes / 16
    clusters.  Output: (vec_id, cos, rank)."""
    mat = _quantizer(embeddings, kind, n_cells, len(query))
    cells = _assign(embeddings, kind, mat)
    return _probe_topk(cells, kind, mat, query, k, _defaults(kind)[1] if probe is None else probe)


def _write_vectors(embeddings: DataFrame, path: str, kind: str, mat: np.ndarray, mode: str) -> None:
    _assign(embeddings, kind, mat).write.mode(mode).partitionBy("cell").parquet(path + "/vectors")


def _open_index(spark, path: str) -> tuple[dict, np.ndarray]:
    """The index's checked params and its quantizer matrix."""
    params = check_params(path, "ANN index")
    rows = spark.read.parquet(path + "/quantizer").orderBy("i").collect()
    return params, np.array([r["row"] for r in rows], dtype=np.float64)


def build_ann_index(
    embeddings: DataFrame,
    path: str,
    kind: str,
    n_cells: int | None = None,
) -> None:
    """Materialize a serving ANN index at ``path``:

    - ``vectors/``    (vec_id, v) PARTITIONED BY cell, written once
    - ``quantizer/``  (i, row: array<double>) planes or centroids
    - ``params.json`` kind, n_cells, dim — checked by every extend / lookup

    ``ann_topk`` re-assigns the whole table on every query (fine for one
    batch pass, wrong for repeated lookups); a lookup against this index
    reads ONLY its probe-cell partitions — partition pruning, no full scan,
    no per-query UDF pass over the table.  Same move as the Gorilla chunk
    store's metadata-pruned range read.  Raises ValueError on an empty
    input, before anything is written."""
    first = embeddings.select("embedding").first()
    if first is None:
        raise ValueError(f"build_ann_index: empty input, nothing to index at {path}")
    dim = len(first["embedding"])
    mat = _quantizer(embeddings, kind, n_cells, dim)
    _write_vectors(embeddings, path, kind, mat, "overwrite")
    rows = [(i, [float(x) for x in r]) for i, r in enumerate(mat)]
    embeddings.sparkSession.createDataFrame(rows, "i int, row array<double>").coalesce(1).write.mode(
        "overwrite"
    ).parquet(path + "/quantizer")
    write_params(path, {"kind": kind, "n_cells": len(mat), "dim": dim})


def extend_ann_index(new_embeddings: DataFrame, path: str) -> None:
    """Append a new batch to a ``build_ann_index`` store WITHOUT rebuilding:
    the STORED quantizer assigns the new vectors, which append to their cell
    partitions.  The cells stay those of a from-scratch build with the same
    quantizer (planes / centroids are fixed at build time — the standard
    IVF maintenance contract).  Raises ValueError, before anything is
    written, if the store has no params.json or a new vector's length is
    not the index's dim."""
    params, mat = _open_index(new_embeddings.sparkSession, path)
    bad = new_embeddings.filter(F.size("embedding") != params["dim"]).select(F.size("embedding")).first()
    if bad is not None:
        raise ValueError(f"ANN index {path} holds dim-{params['dim']} vectors; a new vector has length {bad[0]}")
    _write_vectors(new_embeddings, path, params["kind"], mat, "append")


def ann_index_topk(spark, path: str, query: list[float], k: int = 10, probe: int | None = None) -> DataFrame:
    """Approximate top-k against a ``build_ann_index`` store.  The query's
    probe cells (driver-side, from the stored quantizer) become a static IN
    list on the partition column, so the scan touches only those cell
    directories (PartitionFilters — pinned in the plan tests); scoring runs
    on the candidates alone.  Results are identical to ``ann_topk`` with
    the same quantizer."""
    params, mat = _open_index(spark, path)
    if len(query) != params["dim"]:
        raise ValueError(f"ANN index {path} holds dim-{params['dim']} vectors; the query has length {len(query)}")
    kind = params["kind"]
    vectors = spark.read.parquet(path + "/vectors")
    return _probe_topk(vectors, kind, mat, query, k, _defaults(kind)[1] if probe is None else probe)


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
) -> DataFrame:
    """All pairs with cosine >= threshold; candidates restricted to pairs
    whose LSH buckets (the "lsh" kind's default hyperplane count) are within
    Hamming distance 1 (same bucket or one differing hyperplane sign — high
    recall at high thresholds), exact-verified with the same cosine as
    ``all_pairs_cosine``.  Output: (id_a, id_b, cos).

    Implemented as probe-explode + bucket equi-join (each vector emitted
    under its bucket and all 1-bit neighbors, joined to anchors) — a
    shuffle-bounded equi-join, not an all-pairs filter."""
    n_planes = _DEFAULTS["lsh"][0]
    sample = embeddings.limit(1).collect()
    dim = len(sample[0]["embedding"]) if sample else 0
    base = _assign(embeddings, "lsh", _hyperplanes(dim, n_planes))
    probed = base.select(
        "vec_id",
        F.explode(
            F.array(F.col("cell"), *[F.col("cell").bitwiseXOR(F.lit(1 << p).cast("long")) for p in range(n_planes)])
        ).alias("probe"),
    )
    anchored = base.select("vec_id", F.col("cell").alias("probe"))
    cands = (
        probed.alias("a")
        .join(anchored.alias("b"), "probe")
        .filter(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(F.col("a.vec_id").alias("id_a"), F.col("b.vec_id").alias("id_b"))
        .distinct()
    )
    cos = pair_cosine_udf()
    return (
        cands.join(base.select(F.col("vec_id").alias("id_a"), F.col("v").alias("_va")), "id_a")
        .join(base.select(F.col("vec_id").alias("id_b"), F.col("v").alias("_vb")), "id_b")
        .select("id_a", "id_b", F.round(cos(F.col("_va"), F.col("_vb")), 6).alias("cos"))
        .filter(F.col("cos") >= threshold)
    )
