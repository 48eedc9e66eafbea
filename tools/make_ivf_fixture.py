#!/usr/bin/env python3
"""Generate the IVF centroid fixture for the ann_ivf oracle.

The centroids are DERIVED TRAINING PARAMETERS (deterministic NumPy k-means,
fixed seed, trained on the vec_id-ordered sample — exactly what
ann_topk(kind="ivf") trains at query time), shared with the oracle as config; the
oracle then independently recomputes assignment (arg_min over centroid
distances), probe selection, exact cosines, and the top-k in DuckDB SQL.
The training itself is cross-checked by the recall test against brute force.

Fixture: tests/fixtures/oracle/ivf_centroids.parquet
    (cluster, centroid double[], disc)   — disc = sum(label) of that sf's
    embeddings table, the sf discriminator for the fixed oracle SQL.

Usage: python tools/make_ivf_fixture.py [sf_dir ...]
"""
from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

REPO = Path(__file__).resolve().parent.parent
FIXDIR = REPO / "tests" / "fixtures" / "oracle"
sys.path.insert(0, str(REPO))

from stl_decomp_4j_spark.operators.similarity import kmeans_centroids  # noqa: E402


def main(sf_dirs: list[str]) -> None:
    parts = []
    for sf in sf_dirs:
        df = duckdb.sql(
            f"SELECT vec_id, embedding, label FROM read_parquet('{sf}/embeddings.parquet') "
            "ORDER BY vec_id LIMIT 4096"
        ).df()
        disc = int(
            duckdb.sql(f"SELECT sum(label) FROM read_parquet('{sf}/embeddings.parquet')").fetchone()[0]
        )
        mat = np.array([[float(x) for x in e] for e in df["embedding"]])
        cent = kmeans_centroids(mat, 16)
        parts.append(
            pd.DataFrame(
                {
                    "cluster": np.arange(len(cent), dtype=np.int32),
                    "centroid": [list(map(float, c)) for c in cent],
                    "disc": np.int64(disc),
                }
            )
        )
    FIXDIR.mkdir(parents=True, exist_ok=True)
    out = pd.concat(parts, ignore_index=True)
    out.to_parquet(FIXDIR / "ivf_centroids.parquet", index=False)
    print(f"ivf_centroids: {len(out)} rows -> {FIXDIR / 'ivf_centroids.parquet'}")


if __name__ == "__main__":
    main(sys.argv[1:] or ["/root/testdata/sf0.001", "/root/testdata/sf0.01"])
