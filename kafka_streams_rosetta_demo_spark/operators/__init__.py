"""Operator library (SURVEY.md §2).

Reference parity (Kafka Streams DSL subset):

- :mod:`.rekey`        — P1/P2 selectKey / map-rekey.
- :mod:`.windowed_agg` — A1-A4 tumbling-window aggregate + window unwrap.
- :mod:`.joins`        — J1 stream-table left join + the wider join surface.
- :mod:`.state`        — S2 KTable latest-value-per-key.

North-star extensions (100 TB LLM-data-pipeline ops):

- :mod:`.textsim`      — shingling, MinHash+LSH banding, PPJoin prefix
  filtering, SimHash — the dedup candidate machinery.
- :mod:`.vectors`      — cosine math, hyperplane LSH, IVF ANN.
- :mod:`.multimodal`   — binary payload columns + decode/feature plumbing.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .rekey import rekey, select_key
from .windowed_agg import unwrap_window, windowed_call_agg


def rebalance(df: DataFrame) -> DataFrame:
    """Spread a frame across the cluster's task slots before a CPU-heavy
    per-row stage (signature hashing, vector math).

    Locally the testdata tables are single parquet files → one input
    partition → one core doing all the hashing; a round-robin repartition of
    the (small) source rows unlocks full parallelism for orders of magnitude
    more downstream compute. On a real 100 TB input the scan itself yields
    thousands of splits, making this a cheap no-op-ish rebalance that AQE
    can coalesce — the cost is one shuffle of the *raw rows*, paid only when
    the downstream work dwarfs it.
    """
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def with_totals(df: DataFrame, **totals: Column) -> DataFrame:
    """``df`` with one column per named total — an aggregate expression over
    all of ``df``'s rows — repeated on every row. For bounded frames only
    (|sources|, bins, buckets): ONE global aggregate carries the rows
    (``collect_list``) and the totals through a single partition and
    explodes the rows back. That is the data movement of an unpartitioned
    ``Window`` total, without its WindowExec "No Partition Defined"
    warning, and unlike a totals frame cross-joined back it plans ``df``
    once."""
    names = list(totals)
    return df.agg(
        F.collect_list(F.struct(*df.columns)).alias("_rows"),
        *[e.alias(n) for n, e in totals.items()],
    ).select(F.explode("_rows").alias("_r"), *names).select("_r.*", *names)


__all__ = [
    "rebalance",
    "with_totals",
    "rekey",
    "select_key",
    "windowed_call_agg",
    "unwrap_window",
]
