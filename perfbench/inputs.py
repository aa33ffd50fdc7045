"""Seeded input generators. The same seed gives byte-identical tables.

``events`` mimics the registry's events table (one row per event, series
key ``user_id``, event time ``ts`` unique across the table, 2-decimal
exponential ``value`` with mean 50, ~66.7 rows per series).
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
DAY_US = 86_400_000_000
ROWS_PER_SERIES = 200 / 3
EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])


def _unique_sorted(rng: np.random.Generator, n: int, hi: int) -> np.ndarray:
    out = np.unique(rng.integers(0, hi, n))
    while len(out) < n:
        out = np.unique(np.concatenate([out, rng.integers(0, hi, n - len(out))]))
    return out


def events(seed: int, n_series: int, days: int = 30) -> pa.Table:
    rng = np.random.default_rng(seed)
    n = round(n_series * ROWS_PER_SERIES)
    ts = T0_US + _unique_sorted(rng, n, days * DAY_US)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_series, n).astype(np.int64)),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
    })


def tier_rows(table: pa.Table, by: str, bucket_us: int) -> int:
    """Rows a tier of ``bucket_us``-wide buckets has for ``table``."""
    key = table[by].to_numpy()
    b = table["ts"].cast(pa.int64()).to_numpy() // bucket_us
    return len(np.unique(np.stack([key, b], axis=1), axis=0))


def digest(table: pa.Table) -> str:
    h = hashlib.sha256()
    for name in table.column_names:
        h.update(name.encode())
        col = table[name].combine_chunks()
        for buf in col.buffers():
            if buf is not None:
                h.update(memoryview(buf))
    return h.hexdigest()


def write(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return path


def write_stream_files(table: pa.Table, src_dir: str, n_files: int) -> list[str]:
    """Lay ``table`` (sorted by ``ts``) out as ``n_files`` event-time
    ordered parquet files with increasing modification times, so a file
    stream source with ``maxFilesPerTrigger=1`` drains them in order."""
    os.makedirs(src_dir, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    paths = []
    for i in range(n_files):
        p = os.path.join(src_dir, f"part-{i:04d}.parquet")
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]), p)
        os.utime(p, (1_600_000_000 + i, 1_600_000_000 + i))
        paths.append(p)
    return paths
