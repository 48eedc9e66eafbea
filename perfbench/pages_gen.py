"""Seeded, single-process generator for the pipeline's pages input, plus the
NumPy reference derivations the output checks compare against.

The table has the exact pages schema ``(url, warc_ts, html, text, lang)``.
Every random draw comes from ``numpy.random.default_rng(seed)``, so one seed
gives one table.  ``text`` (and with it ``html`` and ``lang``) is a pure
function of ``url``, which keeps the pipeline's per-url byte-identity check
meaningful.

Properties a workload varies (``PagesSpec``):
  n_urls          number of distinct urls
  days            crawl span; every url is crawled over the whole span
  density         mean crawls per url per hour (below 1 the hourly series
                  is sparse and the pipeline gap-fills it with zeros)
  hot_share       share of urls crawled ``hot_multiplier`` times as often
"""
from __future__ import annotations

import os
import zlib
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LANGS = ("en", "de", "fr", "es")
BASE_EPOCH_S = 1_735_689_600  # 2025-01-01T00:00:00Z, a Wednesday
HOUR = 3600
DAY = 86400


@dataclass(frozen=True)
class PagesSpec:
    n_urls: int
    days: int
    density: float
    hot_share: float = 0.05
    hot_multiplier: float = 4.0


@dataclass
class Crawl:
    """Generated crawl events: url index per row and epoch seconds per row."""

    urls: np.ndarray  # url strings, one per url index
    url_idx: np.ndarray  # int64 per row
    ts_s: np.ndarray  # int64 epoch seconds per row

    def concat(self, other: "Crawl") -> "Crawl":
        """Rows of both crawls; ``other`` must index the same url list."""
        return Crawl(
            self.urls,
            np.concatenate([self.url_idx, other.url_idx]),
            np.concatenate([self.ts_s, other.ts_s]),
        )


def url_name(i: int) -> str:
    return f"https://site{i % 97:04d}.example/p{i:05d}"


def generate(spec: PagesSpec, seed: int) -> Crawl:
    """Crawl events with a per-url daily cycle (phase drawn per url), so the
    STL seasonal component has something to find."""
    rng = np.random.default_rng(seed)
    hours = spec.days * 24
    urls = np.array([url_name(i) for i in range(spec.n_urls)], dtype=object)
    hot = rng.random(spec.n_urls) < spec.hot_share
    rate = spec.density * np.where(hot, spec.hot_multiplier, 1.0)
    counts = rng.poisson(rate * hours)
    counts = np.maximum(counts, 2)  # at least two crawls, so each url has a span
    phase = rng.random(spec.n_urls) * 2 * np.pi
    h = np.arange(hours)
    idx_parts, ts_parts = [], []
    for u in range(spec.n_urls):
        p = 1.0 + 0.8 * np.sin(2 * np.pi * h / 24 + phase[u])
        p /= p.sum()
        hrs = rng.choice(hours, size=int(counts[u]), p=p)
        secs = rng.integers(0, HOUR, size=hrs.size)
        idx_parts.append(np.full(hrs.size, u, dtype=np.int64))
        ts_parts.append(BASE_EPOCH_S + hrs.astype(np.int64) * HOUR + secs)
    return Crawl(urls, np.concatenate(idx_parts), np.concatenate(ts_parts))


def append_slice(crawl: Crawl, seed: int, step: int, touched_share: float,
                 start_s: int, span_s: int, per_url: int) -> Crawl:
    """New crawl rows in ``[start_s, start_s + span_s)`` for a seeded subset
    of ``touched_share`` of the urls (``per_url`` rows each)."""
    rng = np.random.default_rng([seed, step])
    n = len(crawl.urls)
    k = max(1, int(round(touched_share * n)))
    touched = np.sort(rng.choice(n, size=k, replace=False))
    idx = np.repeat(touched, per_url).astype(np.int64)
    ts = start_s + rng.integers(0, span_s, size=idx.size)
    return Crawl(crawl.urls, idx, ts.astype(np.int64))


def to_table(crawl: Crawl) -> pa.Table:
    url = crawl.urls[crawl.url_idx]
    text_by_url = np.array([f"extracted text of {u}" for u in crawl.urls], dtype=object)
    html_by_url = np.array(
        [f"<html><body>{t}</body></html>".encode() for t in text_by_url], dtype=object
    )
    lang_by_url = np.array(
        [LANGS[zlib.crc32(u.encode()) % len(LANGS)] for u in crawl.urls], dtype=object
    )
    return pa.table(
        {
            "url": pa.array(url, pa.string()),
            "warc_ts": pa.array(crawl.ts_s * 1_000_000, pa.timestamp("us", tz="UTC")),
            "html": pa.array(html_by_url[crawl.url_idx], pa.binary()),
            "text": pa.array(text_by_url[crawl.url_idx], pa.string()),
            "lang": pa.array(lang_by_url[crawl.url_idx], pa.string()),
        }
    )


def write_pages(crawl: Crawl, path: str, files: int = 4, prefix: str = "part") -> None:
    """Write the table as ``files`` parquet files named ``<prefix>-NNNNN``
    under directory ``path``."""
    os.makedirs(path, exist_ok=True)
    table = to_table(crawl)
    bounds = np.linspace(0, table.num_rows, files + 1).astype(int)
    for i in range(files):
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]),
                       f"{path}/{prefix}-{i:05d}.parquet")


# --- NumPy reference derivations -------------------------------------------


def hourly_series(crawl: Crawl, u: int) -> tuple[np.ndarray, np.ndarray]:
    """Gap-filled hourly crawl counts of url index ``u``: (grid epoch seconds,
    float64 counts), from the url's first to its last observed hour."""
    h = crawl.ts_s[crawl.url_idx == u] // HOUR
    lo = h.min()
    counts = np.bincount(h - lo).astype(np.float64)
    grid = (lo + np.arange(counts.size)) * HOUR
    return grid, counts


def tier_row_counts(crawl: Crawl) -> dict[str, int]:
    """Rows each tier must hold: every url contributes one row per grid hour,
    per calendar day and per Monday-start week its [first, last] hour span
    touches."""
    order = np.argsort(crawl.url_idx, kind="stable")
    idx, ts = crawl.url_idx[order], crawl.ts_s[order]
    starts = np.flatnonzero(np.r_[True, idx[1:] != idx[:-1]])
    lo = np.minimum.reduceat(ts, starts)
    hi = np.maximum.reduceat(ts, starts)
    lo_h, hi_h = lo // HOUR, hi // HOUR
    lo_d, hi_d = lo // DAY, hi // DAY
    # 1970-01-01 was a Thursday: shifting by 3 days puts week starts on Mondays
    lo_w, hi_w = (lo_d + 3) // 7, (hi_d + 3) // 7
    return {
        "1h": int((hi_h - lo_h + 1).sum()),
        "1d": int((hi_d - lo_d + 1).sum()),
        "1w": int((hi_w - lo_w + 1).sum()),
    }
