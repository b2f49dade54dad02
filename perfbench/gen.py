"""Seeded input generator for the Rosetta calls benchmark.

Writes parquet files only; the package under test never sees the seed or the
knobs, just the files. Two tables, in the shapes the package's role mapping
reads (``sources.parquet.rosetta_calls`` / ``rosetta_customers``):

- ``events``: one call per row -- ``event_id``, ``ts`` (event time, micros,
  no zone), ``user_id`` (the caller), ``value`` (call duration, seconds).
- ``customer``: the dimension keyed by ``c_custkey``. A customer with a
  negative ``c_acctbal`` is dropped by the role mapping, which is how the
  left join's null side gets exercised.

Everything is drawn from one ``numpy.random.Generator`` per table, seeded
from ``(seed, stream id)``, so the same seed gives byte-identical files.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HOUR_US = 3_600_000_000
# Late calls are stamped up to this many hours before their file's hour.
LATE_HOURS = 6
# Consecutive landing files' hours start this far apart. With a 24 h
# watermark, a six-file backlog then spans enough event time that the first
# files' windows close, and are evicted from state, during the drain.
FILE_STEP_HOURS = 8
# 2024-01-01T00:00:00 in epoch micros: the first landing file's hour.
EPOCH0_US = 1_704_067_200_000_000
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])


@dataclass(frozen=True)
class CallShape:
    """The knobs that define one workload's call stream."""

    files: int  # landing files in one backlog
    calls_per_file: int  # calls in one file, stamped in that file's hour unless late
    callers: int  # distinct caller ids
    zipf_s: float  # caller skew exponent
    late_share: float  # share of calls stamped up to ``LATE_HOURS`` earlier
    files_per_trigger: int = 1  # the stream's maxFilesPerTrigger


@dataclass(frozen=True)
class DimShape:
    customers: int  # rows in the dimension (custkeys 1..customers)
    absent_share: float  # share given a negative balance, so absent after mapping


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def caller_sampler(rng: np.random.Generator, callers: int, zipf_s: float):
    """Return ``draw(n) -> int64 caller ids in 1..callers``: bounded Zipf with
    exponent ``zipf_s`` over a seeded permutation of the ids, so the hot
    callers are not simply the smallest ids."""
    ids = rng.permutation(callers).astype(np.int64) + 1
    weights = np.arange(1, callers + 1, dtype=np.float64) ** -zipf_s
    cdf = np.cumsum(weights)
    cdf /= cdf[-1]

    def draw(n: int) -> np.ndarray:
        rank = np.searchsorted(cdf, rng.random(n), side="right")
        return ids[np.minimum(rank, callers - 1)]

    return draw


def file_hour_us(i: int) -> int:
    """Epoch micros of the start of landing file ``i``'s hour."""
    return EPOCH0_US + i * FILE_STEP_HOURS * HOUR_US


def call_files(seed: int, shape: CallShape, stream: int = 0):
    """Yield one ``pyarrow.Table`` per landing file, in event-time order."""
    rng = _rng(seed, 100 + stream)
    draw = caller_sampler(rng, shape.callers, shape.zipf_s)
    n = shape.calls_per_file
    late_us = LATE_HOURS * HOUR_US
    for i in range(shape.files):
        hour0 = file_hour_us(i)
        ts = hour0 + rng.integers(0, HOUR_US, n)
        late = rng.random(n) < shape.late_share
        ts[late] -= rng.integers(1, late_us + 1, int(late.sum()))
        yield pa.table(
            {
                "event_id": np.arange(i * n, (i + 1) * n, dtype=np.int64),
                "ts": pa.array(ts, pa.timestamp("us")),
                "user_id": draw(n),
                "value": np.round(rng.exponential(180.0, n), 3),
            }
        )


def customer_table(seed: int, shape: DimShape) -> pa.Table:
    rng = _rng(seed, 1)
    n = shape.customers
    bal = np.round(rng.uniform(0.0, 9999.99, n), 2)
    absent = rng.random(n) < shape.absent_share
    bal[absent] = -np.round(rng.uniform(0.01, 999.99, int(absent.sum())), 2)
    keys = np.arange(1, n + 1, dtype=np.int64)
    return pa.table(
        {
            "c_custkey": keys,
            "c_name": pa.array([f"Customer#{k:09d}" for k in keys]),
            "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
            "c_acctbal": bal,
            "c_mktsegment": SEGMENTS[rng.integers(0, len(SEGMENTS), n)],
        }
    )


def write_calls(seed: int, shape: CallShape, out_dir: str, stream: int = 0) -> list[str]:
    """Write the landing files of one backlog into ``out_dir`` and return
    their paths. Modification times are pinned one second apart in file
    order: the file source admits files oldest first, so each trigger takes
    the next hour and the watermark only moves forward."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for i, table in enumerate(call_files(seed, shape, stream)):
        path = os.path.join(out_dir, f"calls-{i:05d}.parquet")
        pq.write_table(table, path)
        t = 1_700_000_000 + i
        os.utime(path, (t, t))
        paths.append(path)
    return paths


def write_customers(seed: int, shape: DimShape, sf_dir: str) -> str:
    os.makedirs(sf_dir, exist_ok=True)
    path = os.path.join(sf_dir, "customer.parquet")
    pq.write_table(customer_table(seed, shape), path)
    return path
