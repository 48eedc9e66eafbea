"""Streaming temporal snapshot dedup — the live twin of
operators/dedup.snapshot_dedup.

Consumes fingerprinted snapshot rows (source, doc_id, simhash) and emits one
row per REDUNDANT re-crawl (source, doc_id, prev_id, hamming) exactly once,
in the micro-batch where the snapshot arrives.  The lag-1 rule is identical
to batch: a snapshot is redundant iff its simhash is within ``max_hamming``
bits of its IMMEDIATE predecessor in doc_id order, so stream output == batch
output when snapshots arrive in order (tested by feeding identical rows
through both, including across a checkpoint restart).

Fingerprints are an input column, not computed here: the batch ``simhash``
aggregate (explode + vote groupBy) is a streaming aggregation that would need
watermark/update-mode machinery, while the upstream ingest can attach the
fingerprint per document with the same codegen expressions before this stage
— and at 100 TB you want the fingerprint persisted alongside the document
anyway (it is the dedup index).

State, replay and restart rules are streaming/keyed.py's (state: the last
seen doc_id and its simhash).
"""
from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..codec.gorilla import _popcount64
from .keyed import carry_by_key

SNAPSHOT_IN_SCHEMA = StructType(
    [
        StructField("source", StringType()),
        StructField("doc_id", LongType()),
        StructField("simhash", LongType()),
    ]
)

SNAPSHOT_OUT_SCHEMA = StructType(
    [
        StructField("source", StringType()),
        StructField("doc_id", LongType()),
        StructField("prev_id", LongType()),
        StructField("hamming", LongType()),
    ]
)


def stream_snapshot_dedup(rows: DataFrame, max_hamming: int = 4) -> DataFrame:
    """Stateful streaming redundant-snapshot detector over fingerprint rows.

    Append-mode: one output row per redundant snapshot, emitted exactly once.
    ref semantics: operators/dedup.py snapshot_dedup (batch lag-1 window).
    """

    def step(source, ids, pdf, state):
        shs = pdf["simhash"].to_numpy(np.int64)
        last_id, last_sh = (ids[0], shs[0]) if state is None else state
        prev_ids = np.r_[last_id, ids[:-1]]
        ham = _popcount64(
            np.bitwise_xor(shs, np.r_[last_sh, shs[:-1]]).view(np.uint64)
        ).astype(np.int64)
        mask = ham <= max_hamming
        if state is None:
            mask[0] = False  # a key's first-ever snapshot has no predecessor
        return (ids[-1], shs[-1]), pd.DataFrame(
            {
                "source": source,
                "doc_id": ids[mask],
                "prev_id": prev_ids[mask],
                "hamming": ham[mask],
            }
        )

    return carry_by_key(
        rows, "source", "doc_id", ["last_id", "last_sh"], step, SNAPSHOT_OUT_SCHEMA
    )
