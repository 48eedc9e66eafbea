"""Checkpoint manifest and store parameters for the persisted stores.

Rollup work is sliced into url-hash buckets (``pmod(xxhash64(url),
n_buckets)``).  Each completed bucket appends a manifest row (run_id,
bucket, status, rows, wall seconds, data high-water mark); an incremental
run re-plans only buckets whose data advanced past their last 'done' row
and rewrites their output partitions idempotently (dynamic partition
overwrite / Iceberg overwritePartitions).  Lineage: every output row
carries run_id and bucket.

Every persisted store describes itself with a ``params.json`` at its root:
the tier/Gorilla rollup store (the pipeline config and tier schema version,
read back by retention and compaction for the slab granularity), the dedup
fingerprint store and the ANN index.  ``write_params`` records it when the
store is created, ``check_params`` validates it on every later write, read
or extend.
"""
from __future__ import annotations

import json
import time
import uuid
from pathlib import Path


class Manifest:
    """Tiny JSONL manifest; on a cluster this would be an Iceberg table, but
    the semantics (append-only status rows, read-back to plan work) are the
    same and a file keeps the sandbox dependency-free."""

    def __init__(self, root: str) -> None:
        self.path = Path(root) / "manifest.jsonl"
        self.path.parent.mkdir(parents=True, exist_ok=True)

    def mark(self, run_id: str, bucket: int, status: str, **metrics) -> None:
        row = {"run_id": run_id, "bucket": bucket, "status": status, "ts": time.time(), **metrics}
        with open(self.path, "a") as f:
            f.write(json.dumps(row) + "\n")

    def last_done(self, schema_version: int | None = None) -> dict[int, dict]:
        """Latest 'done' row per bucket — incremental runs compare each
        bucket's recorded ``data_max_ts`` against the input to decide what
        re-runs.  When ``schema_version`` is given, refuse to read across
        a tier-schema upgrade: appending new-schema partitions beside
        old-schema ones under the same table root would yield a mixed-schema
        table that readers fail on or null-fill."""
        rows: dict[int, dict] = {}
        if self.path.exists():
            for line in self.path.read_text().splitlines():
                row = json.loads(line)
                if row["status"] != "done":
                    continue
                if schema_version is not None and row.get("schema_version", 1) != schema_version:
                    raise RuntimeError(
                        f"manifest {self.path} has completed buckets with tier schema "
                        f"v{row.get('schema_version', 1)}, current engine writes "
                        f"v{schema_version}; use a fresh out_root"
                    )
                rows[row["bucket"]] = row
        return rows


def write_params(path: str, params: dict) -> None:
    """Record a store's parameters as ``<path>/params.json``."""
    (Path(path) / "params.json").write_text(json.dumps(params))


def check_params(path: str, label: str, **want) -> dict:
    """The recorded parameters of the ``label`` store at ``path``; raises
    ValueError if it has no params.json or any ``want`` value differs."""
    f = Path(path) / "params.json"
    if not f.exists():
        raise ValueError(f"{label} {path} has no params.json")
    params = json.loads(f.read_text())
    bad = sorted(k for k, v in want.items() if k not in params or params[k] != v)
    if bad:
        raise ValueError(
            f"{label} {path} was written with {params}; this call needs {want} (mismatch on {', '.join(bad)})"
        )
    return params


def new_run_id() -> str:
    return uuid.uuid4().hex[:12]
