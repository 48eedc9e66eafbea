"""Output checks, run outside the timed part of a run.

Each function returns ``(attempted, failed, notes)``; every mismatch counts
as one failed operation in the run's result.

- ``check_store``: for seeded sample urls, the 1h tier must equal, bit for
  bit, ``stl_decompose`` run in this process on the series gap-filled in
  NumPy from the generated rows; for every url, the 1h Gorilla chunks
  decoded with ``codec.gorilla.decode_series`` must equal the 1h tier bit
  for bit; and every tier must hold exactly the row count derived from the
  input.
- ``check_serving``: ``read_range`` and ``serve_rollup`` answers must equal a
  pandas recompute over the tier parquet.
"""
from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow.dataset as ds

from pages_gen import DAY, HOUR, Crawl, hourly_series, tier_row_counts

COMPONENTS = ("value", "trend", "seasonal", "residual")


def _bits(a) -> np.ndarray:
    return np.ascontiguousarray(np.asarray(a, dtype=np.float64)).view(np.int64)


def read_tier(out: str, tier: str) -> pd.DataFrame:
    """Rows of one tier (or its Gorilla chunks, ``tier='gorilla_1h'``) as
    pandas; timestamps become epoch seconds."""
    name = tier if tier.startswith("gorilla") else f"tier_{tier}"
    pdf = ds.dataset(f"{out}/{name}", format="parquet", partitioning="hive").to_table().to_pandas()
    for col in ("ts", "t0", "t1"):
        if col in pdf:
            pdf[col] = epoch_s(pdf[col])
    return pdf


def epoch_s(s: pd.Series) -> np.ndarray:
    """Timestamps (naive UTC or tz-aware) as int64 epoch seconds."""
    if s.dt.tz is not None:
        s = s.dt.tz_convert("UTC").dt.tz_localize(None)
    return s.to_numpy().astype("datetime64[s]").astype(np.int64)


def reference_1h(crawl: Crawl, u: int, period: int, stl_kwargs: dict) -> tuple:
    from stl_decomp_4j_spark.stl import build_stl_config, stl_decompose

    grid, y = hourly_series(crawl, u)
    if len(y) >= 2 * period:
        d = stl_decompose(y, build_stl_config(len(y), period, **stl_kwargs))
        return grid, {"value": y, "trend": d.trend, "seasonal": d.seasonal, "residual": d.residual}
    return grid, {"value": y, "trend": y, "seasonal": 0.0 * y, "residual": 0.0 * y}


def check_store(out: str, crawl: Crawl, sample: set[int], period: int,
                stl_kwargs: dict) -> tuple[int, int, list[str]]:
    """The 1h tier of the ``sample`` url indices against the NumPy
    reference, every url's 1h tier against its decoded Gorilla chunks, and
    each tier's row count."""
    from stl_decomp_4j_spark.codec.gorilla import decode_series

    attempted = failed = 0
    notes: list[str] = []
    tier = {u: g.sort_values("ts") for u, g in read_tier(out, "1h").groupby("url")}
    chunks = {u: g for u, g in read_tier(out, "gorilla_1h").groupby("url")}
    for u, name in enumerate(crawl.urls):
        rows = tier.get(name)
        if u in sample:
            attempted += 1
            grid, ref = reference_1h(crawl, u, period, stl_kwargs)
            ok = rows is not None and np.array_equal(rows["ts"].to_numpy(), grid)
            ok = ok and all(np.array_equal(_bits(rows[c]), _bits(ref[c])) for c in COMPONENTS)
            if not ok:
                failed += 1
                notes.append(f"tier_1h != stl_decompose for {name}")
        attempted += 1
        mine = chunks.get(name)
        ok = rows is not None and mine is not None
        for c in COMPONENTS if ok else ():
            dec = [decode_series(bytes(b)) for b in mine[mine["column"] == c].sort_values("t0")["chunk"]]
            ts = np.concatenate([d[0] for d in dec]) if dec else np.empty(0, np.int64)
            vals = np.concatenate([d[1] for d in dec]) if dec else np.empty(0)
            ok = ok and np.array_equal(ts, rows["ts"].to_numpy() * 1000)
            ok = ok and np.array_equal(_bits(vals), _bits(rows[c]))
        if not ok:
            failed += 1
            notes.append(f"gorilla_1h != tier_1h for {name}")
    for t, n in tier_row_counts(crawl).items():
        attempted += 1
        got = ds.dataset(f"{out}/tier_{t}", format="parquet", partitioning="hive").count_rows()
        if got != n:
            failed += 1
            notes.append(f"tier_{t} rows {got} != {n}")
    return attempted, failed, notes


def serve_queries(crawl: Crawl, rng: np.random.Generator, n: int) -> list[dict]:
    """A seeded mix of range reads (1-8 urls, a day to weeks, 1-4 columns)
    and tier-routed reads (day, week, month)."""
    lo = int(crawl.ts_s.min()) // DAY * DAY
    hi = int(crawl.ts_s.max()) // DAY * DAY
    qs = []
    for i in range(n):
        urls = sorted(rng.choice(len(crawl.urls), size=int(rng.integers(1, 9)), replace=False))
        days = int(rng.integers(1, 22))
        start = lo + int(rng.integers(0, max(1, (hi - lo) // DAY - days + 1))) * DAY
        q = {"urls": [crawl.urls[u] for u in urls], "ts_min": start,
             "ts_max": start + days * DAY - HOUR}
        if i % 2 == 0:
            q["kind"] = "range"
            q["columns"] = sorted(rng.choice(COMPONENTS, size=int(rng.integers(1, 5)),
                                             replace=False).tolist())
        else:
            q["kind"] = "rollup"
            q["granularity"] = ("day", "week", "month")[(i // 2) % 3]
        qs.append(q)
    return qs


def _ts_lit(s: int) -> str:
    return pd.Timestamp(s, unit="s").strftime("%Y-%m-%d %H:%M:%S")


def run_query(spark, out: str, q: dict, decode_counter=None) -> pd.DataFrame:
    """Send one serving query through the program's public read paths."""
    from stl_decomp_4j_spark.operators.compress import read_range
    from stl_decomp_4j_spark.operators.serve import route_tier, serve_rollup

    lo, hi = _ts_lit(q["ts_min"]), _ts_lit(q["ts_max"])
    if q["kind"] == "range":
        chunks = spark.read.parquet(f"{out}/gorilla_1h")
        df = read_range(chunks, q["urls"], lo, hi, q["columns"], decode_counter=decode_counter)
    else:
        tier = route_tier(q["granularity"])
        tiers = {tier: spark.read.parquet(f"{out}/tier_{tier}")}
        df = serve_rollup(tiers, q["granularity"], q["urls"], lo, hi)
    return df.toPandas()


def _expected(tiers: dict, q: dict) -> pd.DataFrame:
    from stl_decomp_4j_spark.operators.serve import route_tier

    if q["kind"] == "range":
        t = tiers["1h"]
        t = t[t["url"].isin(q["urls"]) & (t["ts"] >= q["ts_min"]) & (t["ts"] <= q["ts_max"])]
        return pd.concat([
            pd.DataFrame({"url": t["url"].to_numpy(), "column": c,
                          "ts_ms": t["ts"].to_numpy() * 1000, "value": t[c].to_numpy()})
            for c in q["columns"]
        ])
    t = tiers[route_tier(q["granularity"])]
    t = t[t["url"].isin(q["urls"]) & (t["ts"] >= q["ts_min"]) & (t["ts"] <= q["ts_max"])].copy()
    freq = {"day": "D", "week": "W-SUN", "month": "M"}[q["granularity"]]
    t["ts"] = epoch_s(pd.to_datetime(t["ts"], unit="s").dt.to_period(freq).dt.start_time)
    agg = {}
    for c in COMPONENTS:
        agg[f"sum_{c}"] = (f"sum_{c}", "sum")
        agg[f"min_{c}"] = (f"min_{c}", "min")
        agg[f"max_{c}"] = (f"max_{c}", "max")
    agg["cnt"] = ("cnt", "sum")
    return t.groupby(["url", "ts"], as_index=False).agg(**agg)


def compare(got: pd.DataFrame, want: pd.DataFrame, q: dict) -> bool:
    keys = ["url", "column", "ts_ms"] if q["kind"] == "range" else ["url", "ts"]
    if len(got) != len(want):
        return False
    if q["kind"] == "rollup":
        got = got.copy()
        got["ts"] = epoch_s(got["ts"])
    g = got.sort_values(keys).reset_index(drop=True)
    w = want.sort_values(keys).reset_index(drop=True)
    for k in keys:
        if not np.array_equal(g[k].to_numpy(), w[k].to_numpy()):
            return False
    for c in w.columns:
        if c in keys:
            continue
        a, b = g[c].to_numpy(dtype=float), w[c].to_numpy(dtype=float)
        # sums may be added in another order by Spark; everything else is exact
        if c.startswith("sum_"):
            if not np.allclose(a, b, rtol=1e-12, atol=1e-9):
                return False
        elif not np.array_equal(_bits(a), _bits(b)):
            return False
    return True


def check_serving(spark, out: str, queries: list[dict]) -> tuple[int, int, list[str]]:
    tiers = {t: read_tier(out, t) for t in ("1h", "1d", "1w")}
    failed, notes = 0, []
    for q in queries:
        if not compare(run_query(spark, out, q), _expected(tiers, q), q):
            failed += 1
            notes.append(f"serving mismatch: {q}")
    return len(queries), failed, notes
