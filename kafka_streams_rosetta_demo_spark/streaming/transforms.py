"""Streaming forms of the batch operators — same plans, plus watermarks and
output-mode semantics (SURVEY §2.6).

Reference semantics being reproduced:

- T1: 1-hour tumbling windows with KS 2.6's *default* 24-hour grace
  (``TimeWindows.of`` with no grace param, ``CallsAggregationApp.java:57``)
  → ``withWatermark(event_ts, '24 hours')``.
- T2: continuous updates — no ``suppress()`` in the topology, every input
  record re-emits its window's current aggregate → ``outputMode('update')``.
- T3: late rows inside the grace update the window in place; rows later than
  the watermark are dropped — the same contract KS applies after grace.
- S2: KTable latest-per-key state is the *identical* ``max_by`` aggregate
  the batch path uses (operators/state.py), run in update mode.
- J1: the stream–table join is a per-micro-batch broadcast lookup (the
  runner's ``batch_fn``, a ``foreachBatch`` body) — KS's stream-table join
  is a temporal lookup against current state, which micro-batch
  join-at-batch-time matches; a stream-stream interval join would *change*
  semantics (SURVEY §2.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..operators.state import latest_per_key
from ..operators.windowed_agg import unwrap_window, windowed_call_agg

KS_DEFAULT_GRACE = "24 hours"  # Kafka Streams 2.6 TimeWindows default


def streaming_windowed_call_agg(
    calls: DataFrame,
    watermark: str = KS_DEFAULT_GRACE,
    ts: str = "event_ts",
) -> DataFrame:
    """T1–T3 + A1–A4: watermarked 1h tumbling aggregate, unwrapped.

    Run with ``outputMode('update')`` — each micro-batch emits the (key,
    window) rows that changed, the KTable-changelog shape the reference
    produces downstream (``CallsAggregationApp.java:80-85``).
    """
    return unwrap_window(windowed_call_agg(calls.withWatermark(ts, watermark), ts=ts))


def streaming_latest_per_key(
    stream: DataFrame,
    key: str,
    ts_col: str,
    seq_col: str,
    value_cols: list[str],
    watermark: str = KS_DEFAULT_GRACE,
) -> DataFrame:
    """S2: ``builder.table(topic)`` as a streaming update-mode aggregate —
    the same ``max_by(struct, struct(ts, seq))`` expression as the batch
    query, so batch and streaming state agree row for row."""
    return latest_per_key(
        stream.withWatermark(ts_col, watermark), key, ts_col, seq_col, value_cols
    )


def streaming_dedup_within_watermark(
    stream: DataFrame,
    keys: list[str],
    ts_col: str,
    watermark: str = KS_DEFAULT_GRACE,
) -> DataFrame:
    """Streaming exact dedup: drop rows whose key was already seen while the
    earlier arrival is still inside the watermark — the streaming form of
    the batch ``dedup_exact`` pass, for at-least-once upstreams that can
    redeliver (T5: the reference runs at-least-once, so duplicates ARE the
    expected failure mode a real pipeline scrubs).

    ``dropDuplicatesWithinWatermark`` keeps per-key state only until the
    watermark passes the first sighting — bounded state, unlike an
    unbounded ``dropDuplicates`` whose state grows with distinct keys
    forever. Batch twin: ``dropDuplicates(keys)``.
    """
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def streaming_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    tolerance_seconds: int,
    watermark: str = KS_DEFAULT_GRACE,
    how: str = "inner",
):
    """Stream–stream interval join: pairs of events with the same key whose
    timestamps lie within ``tolerance_seconds`` — the streaming execution of
    the batch ``join_range`` query (same equi-key + time-band predicate).

    Both sides carry watermarks, and the time-band condition bounds how long
    each side's rows are retained in the join state: a row can be evicted
    once the other side's watermark passes ``ts + tolerance``. This is the
    operator Kafka Streams calls a windowed stream-stream join
    (``JoinWindows``) — absent from the reference topology (SURVEY §2.8)
    but first-class in this engine.

    ``how="left_outer"`` is the KS ``leftJoin(JoinWindows)`` shape: a left
    row that finds no partner emits exactly once, null-padded, when the
    watermark passes ``left_ts + tolerance`` — i.e. when the engine can
    *prove* no partner can still arrive. Until that point the row sits in
    state; nothing is emitted early and retracted later. The same state
    bound applies, so outer-ness costs no extra retention.
    """
    from pyspark.sql import functions as F

    lw = left.withWatermark(left_ts, watermark).alias("l")
    rw = right.withWatermark(right_ts, watermark).alias("r")
    lt, rt = F.col(f"l.{left_ts}"), F.col(f"r.{right_ts}")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (rt >= lt - F.expr(f"INTERVAL {tolerance_seconds} SECONDS"))
        & (rt <= lt + F.expr(f"INTERVAL {tolerance_seconds} SECONDS"))
    )
    return lw.join(rw, on=cond, how=how)
