"""Seeded trade generator for the fan-out workloads.

The benchmark owns its inputs: the seed fixes every trade, and the engine
only ever sees the parquet files this module writes. Symbols are drawn
from a finite Zipf distribution (the hot symbol changes with the seed),
and a share of trades arrives late by a fixed delay.

Every trade timestamp is unique: on-time trades sit on even microseconds
inside their file's event-time span, late ones on odd microseconds. So
(symbol, ts) keys never collide and open/close are never tied.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

SCHEMA = pa.schema(
    [
        ("symbol", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("price", pa.float64()),
        ("volume", pa.float64()),
    ]
)

BASE_US = 1_704_153_600_000_000  # 2024-01-02T00:00:00Z


@dataclass(frozen=True)
class TradeSpec:
    files: int
    rows_per_file: int
    file_span_s: float  # event time one file covers
    symbols: int = 64
    zipf_s: float = 1.1
    late_share: float = 0.03
    late_by_s: float = 45.0


def generate(spec: TradeSpec, seed: int) -> list[pd.DataFrame]:
    """One frame per file, columns symbol / ts_us / price / volume."""
    rng = np.random.default_rng(seed)
    names = np.array([f"SYM{i:03d}" for i in rng.permutation(spec.symbols)])
    weights = 1.0 / np.arange(1, spec.symbols + 1) ** spec.zipf_s
    weights /= weights.sum()
    base_price = rng.uniform(10.0, 500.0, spec.symbols).round(2)
    span_us = int(spec.file_span_s * 1_000_000)
    late_us = int(spec.late_by_s * 1_000_000) + 1
    n = spec.rows_per_file
    out = []
    for k in range(spec.files):
        sym = rng.choice(spec.symbols, n, p=weights)
        ts = BASE_US + k * span_us + np.sort(rng.choice(span_us // 2, n, replace=False)) * 2
        late = rng.random(n) < spec.late_share
        ts = np.where(late, ts - late_us, ts)
        out.append(
            pd.DataFrame(
                {
                    "symbol": names[sym],
                    "ts_us": ts.astype("int64"),
                    "price": (base_price[sym] * (1.0 + rng.normal(0.0, 0.002, n))).round(4),
                    "volume": np.round(10.0 ** rng.uniform(-4.0, 2.0, n), 6),
                    "late": late,
                }
            )
        )
    return out


def to_arrow(frame: pd.DataFrame) -> pa.Table:
    return pa.table(
        {
            "symbol": pa.array(frame["symbol"].to_numpy(), pa.string()),
            "ts": pa.array(frame["ts_us"].to_numpy(), pa.timestamp("us", tz="UTC")),
            "price": pa.array(frame["price"].to_numpy(), pa.float64()),
            "volume": pa.array(frame["volume"].to_numpy(), pa.float64()),
        },
        schema=SCHEMA,
    )


def file_name(k: int) -> str:
    return f"trades-{k:06d}.parquet"


def publish(table: pa.Table, directory: str, k: int) -> str:
    """Write file ``k`` under a hidden name, then rename it into place so
    the file source never lists a partial file."""
    tmp = os.path.join(directory, f".{file_name(k)}.tmp")
    final = os.path.join(directory, file_name(k))
    pq.write_table(table, tmp)
    os.rename(tmp, final)
    return final
