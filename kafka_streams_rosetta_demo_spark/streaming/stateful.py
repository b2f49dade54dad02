"""Custom stateful streaming operators via ``applyInPandasWithState``.

The reference's stateful operators (windowed aggregate, KTable) all map to
Spark built-ins; this module is the escape hatch for state machines that
don't — per-key accumulators with arbitrary Python logic, the
``transformValues``/``Processor`` API analogue of Kafka Streams. State lives
in the checkpointed state store exactly like the built-in aggregates (T4),
and emission follows update mode (T2).

The example operator keeps per-key running (count, total) — deliberately
simple so the *mechanics* (state schema, GroupState round-trip, Arrow batch
iteration, update emission) are the tested surface; a real deployment swaps
the accumulator body.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def running_totals_cents(
    stream: DataFrame, key_col: str = "user_id", value_col: str = "value"
) -> DataFrame:
    """Per-key running (event count, integer-cent total), emitted on every
    update. All-integer state, so the final state is bit-identical to a
    batch aggregate regardless of arrival order or partitioning (float
    accumulation is neither): an oracle can assert exact equality, not
    closeness."""
    out_schema = f"{key_col} long, n_events long, total_cents long"
    state_schema = "n long, total long"

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import numpy as np  # resolved once per fn call from sys.modules

        n, total = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            total += int(np.floor(pdf[value_col].to_numpy() * 100).astype("int64").sum())
        state.update((n, total))
        yield pd.DataFrame(
            {key_col: [key[0]], "n_events": [n], "total_cents": [total]}
        )

    return (
        stream.select(key_col, value_col)
        .groupBy(key_col)
        .applyInPandasWithState(
            fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
        )
    )


def preference_pair_emitter(stream: DataFrame) -> DataFrame:
    """Per-user consecutive-event preference pairing AS STREAMING STATE: the
    state store holds each user's LAST event (one 4-field row per key), and
    every arriving event is judged against it — different event types with
    different ``value`` emit one (winner, loser) comparison row, then the
    arrival becomes the new last event. This is exactly the Kafka Streams
    ``Processor``-with-KeyValueStore shape (the reference's API family,
    SURVEY §2.7): per-key sequential logic the built-in windowed operators
    cannot express, with ordering guaranteed by the per-key partition — the
    same contract a keyed Kafka topic gives its consumers.

    Within a micro-batch, rows sort by (ts_us, event_id) — the batch twin's
    lag-window order — and the pairing is VECTORIZED (pandas ``shift`` +
    numpy ``where``), no per-row Python; across micro-batches the state row
    carries the boundary event, so a pair spanning two batches emits exactly
    once (pinned in tests). Append-mode emission: a comparison is a fact,
    never revised.

    Cross-batch order is a CONTRACT, not an assumption: if a later
    micro-batch delivers an event that sorts before the stored state row
    (by the same (ts_us, event_id) order the batch twin uses), the pairing
    would silently diverge from the lag-window semantics — so the emitter
    raises instead of pairing it (pinned in tests). A keyed Kafka topic
    guarantees per-key order; a source that breaks it needs a watermarked
    re-sort upstream, not a quietly different pair set.

    Scale: state is one small row per active user key. No timeout here to
    keep the gate deterministic; a production deployment sets a TTL the same
    way the KTable notes describe."""
    import numpy as np
    from pyspark.sql import functions as F

    out_schema = "winner string, loser string"
    state_schema = "ts_us long, event_id long, event_type string, value double"

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        prev = state.get if state.exists else None
        frames = [p for p in pdfs if len(p)]
        if not frames:
            yield pd.DataFrame({"winner": [], "loser": []}, dtype=object)
            return
        pdf = (
            pd.concat(frames, ignore_index=True)
            .sort_values(["ts_us", "event_id"], kind="mergesort")
            .reset_index(drop=True)
        )
        if prev is not None:
            first = pdf.iloc[0]
            if (int(first["ts_us"]), int(first["event_id"])) < (
                int(prev[0]),
                int(prev[1]),
            ):
                raise ValueError(
                    "preference_pair_emitter: cross-batch event-time "
                    f"regression for key {key[0]!r} — arriving event "
                    f"(ts_us={int(first['ts_us'])}, "
                    f"event_id={int(first['event_id'])}) sorts before the "
                    f"state row (ts_us={int(prev[0])}, "
                    f"event_id={int(prev[1])}); per-key order is the "
                    "pairing contract (re-sort upstream with a watermark)"
                )
        p_type = pdf["event_type"].shift(1)
        p_val = pdf["value"].shift(1)
        if prev is not None:
            p_type.iloc[0] = prev[2]
            p_val.iloc[0] = np.nan if prev[3] is None else prev[3]
        cur_t, cur_v = pdf["event_type"], pdf["value"]
        mask = (
            p_type.notna()
            & cur_t.notna()
            & (p_type != cur_t)
            & p_val.notna()
            & cur_v.notna()
            & (p_val != cur_v)
        ).to_numpy()
        up = (cur_v.to_numpy() > p_val.to_numpy()) & mask
        winner = np.where(up, cur_t.to_numpy(object), p_type.to_numpy(object))[mask]
        loser = np.where(up, p_type.to_numpy(object), cur_t.to_numpy(object))[mask]
        last = pdf.iloc[-1]
        lv = last["value"]
        state.update(
            (
                int(last["ts_us"]),
                int(last["event_id"]),
                None if pd.isna(last["event_type"]) else str(last["event_type"]),
                None if pd.isna(lv) else float(lv),
            )
        )
        yield pd.DataFrame({"winner": winner, "loser": loser})

    return (
        stream.select(
            "user_id",
            F.unix_micros("ts").alias("ts_us"),
            "event_id",
            "event_type",
            "value",
        )
        .groupBy("user_id")
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
        )
    )
