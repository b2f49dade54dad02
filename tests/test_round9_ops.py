"""Round-9 pins: MEASURED watermark eviction for the time-bounded streaming
topologies (VERDICT r8 task 5).

Round 8 measured the by-construction-bounded states (CMS cells, PSI bins —
fixed key grids that need no eviction). The watermark-bounded topologies
(`streaming_dedup_events`, `streaming_interval_join`/`_outer`,
`streaming_calls_window_agg`) still had only structural arguments: "the
watermark evicts state" was asserted from the plan shape, never observed.
These tests observe it. A time-advancing source streams >= 20 micro-batches
through the SAME production transforms the registered queries call
(`streaming/transforms.py` — not re-implementations), with event time
arranged so the watermark CANNOT advance for the first 18 batches (state
must rise monotonically) and then LEAPS 4 hours (state must fall as the
watermark passes every earlier event time / window end). The pinned curve is
non-monotone — rise, peak, collapse — which only eviction can produce; an
unbounded operator would end at its maximum.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from kafka_streams_rosetta_demo_spark.streaming.runner import checkpoint_tmpdir

_N_PRE = 18  # batches inside the watermark delay: no eviction possible
_N_POST = 6  # batches after the 4 h time leap: eviction must fire
_KEYS = 50  # fresh keys per file so every batch ADDS state
_BASE = 1_700_000_000  # fixed epoch so the curve is deterministic
_JUMP = 4 * 3600  # leap past the 1 h window end + the 120 s delay
_WM = "120 seconds"  # covers the whole 85 s pre-jump span -> no early evict


def _time_advancing_source(spark, root: str) -> None:
    """24 single-part parquet files in the calls shape. Files 0..17 sit 5 s
    apart (an 85 s span, inside the 120 s watermark delay, so the watermark
    can never pass any of their event times while they stream); files 18..23
    jump 4 h later, so the first post-jump batch drags the watermark past
    every earlier event time AND past the pre-jump 1 h window's end."""
    for i in range(_N_PRE + _N_POST):
        ts = _BASE + i * 5 if i < _N_PRE else _BASE + _JUMP + (i - _N_PRE) * 5
        (
            spark.range(i * _KEYS, (i + 1) * _KEYS)
            .select(
                F.col("id").cast("string").alias("id_telef_origen"),
                (F.col("id") % 17).alias("duracion_origen"),
                F.timestamp_seconds(F.lit(ts)).alias("event_ts"),
            )
            .coalesce(1)
            .write.mode("append")
            .parquet(root)
        )


_SRC_SCHEMA = StructType(
    [
        StructField("id_telef_origen", StringType()),
        StructField("duracion_origen", LongType()),
        StructField("event_ts", TimestampType()),
    ]
)


def _stream(spark, root: str):
    return (
        spark.readStream.schema(_SRC_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(root)
    )


def _state_curve(spark, out, mode: str) -> list[int]:
    """Run `out` to completion (availableNow, one file per micro-batch) and
    return numRowsTotal per stateful micro-batch — the measured state curve."""
    with checkpoint_tmpdir("ckpt_evict_") as ckpt:
        q = (
            out.writeStream.outputMode(mode)
            .foreachBatch(lambda df, _bid: df.count())
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        progress = list(q.recentProgress)
    return [
        p["stateOperators"][0]["numRowsTotal"]
        for p in progress
        if p.get("stateOperators")
    ]


def _assert_rises_then_falls(rows: list[int]) -> None:
    assert len(rows) >= 20, f"wanted >=20 stateful micro-batches, got {len(rows)}"
    peak = max(rows)
    peak_i = rows.index(peak)
    # the peak sits at the jump boundary, strictly before the tail — an
    # unbounded operator peaks on the LAST batch
    assert peak_i < len(rows) - 3, f"state peaked at the end: {rows}"
    # rise: while the watermark cannot advance, nothing may evict
    assert rows[_N_PRE - 1] > rows[4], f"state did not accumulate: {rows}"
    # fall: the watermark leap must evict most of the accumulated state
    assert rows[-1] < peak * 0.6, (
        f"watermark passage did not evict: peak {peak}, final {rows[-1]}: {rows}"
    )


def test_scalar_quant_eval_shape_and_bounds(spark, sf_smoke):
    """X145 invariants that the oracle's hash parity can't see on its own:
    one row per query vector, k pinned, overlap within [0, k], recall_ppm
    derived from n_overlap exactly, and the quantization actually at work —
    the asymmetric scores must come from a reconstruction whose per-element
    error is at most half a quantization step (the floor(+0.5) rounding
    bound), checked here on the operator's own dequant expression."""
    from kafka_streams_rosetta_demo_spark.queries.pipeline_queries import (
        _KNN_K,
        _KNN_QUERIES,
        knn_scalar_quant_eval,
    )

    out = knn_scalar_quant_eval(spark, sf_smoke).toPandas()
    assert len(out) == _KNN_QUERIES
    assert sorted(out["query_id"]) == list(range(_KNN_QUERIES))
    assert (out["k"] == _KNN_K).all()
    assert out["n_overlap"].between(0, _KNN_K).all()
    assert (out["recall_ppm"] == out["n_overlap"] * 1_000_000 // _KNN_K).all()

    # reconstruction bound: |x - dequant(x)| <= (hi-lo)/255/2 per dimension
    # (the floor(+0.5) rounding bound) — replayed in numpy on the smoke
    # corpus against the same per-dim min/max bounds the operator computes
    import numpy as np

    from kafka_streams_rosetta_demo_spark.sources.parquet import load_table

    m = np.array(
        [
            r["embedding"]
            for r in load_table(spark, sf_smoke, "embeddings")
            .select("embedding")
            .collect()
        ],
        dtype=np.float64,
    )
    lo, hi = m.min(axis=0), m.max(axis=0)
    step = (hi - lo) / 255
    assert (step > 0).all()  # the data actually exercises every dimension
    codes = np.floor((m - lo) / (hi - lo) * 255 + 0.5)
    assert codes.min() >= 0 and codes.max() <= 255  # int8-representable
    err = np.abs(m - (lo + codes * (hi - lo) / 255))
    assert (err <= step / 2 + 1e-12).all()


@pytest.mark.slow  # full-suite lane: r15 fast lane must fit the driver's verify window
def test_windowed_agg_state_evicts_on_watermark_measured(spark, tmp_path):
    """streaming_calls_window_agg's exact transform (1 h tumbling update-mode
    aggregate, `streaming/transforms.py:streaming_windowed_call_agg`): state
    rows = live (key, window) pairs; once the watermark passes the pre-jump
    window's END, all of its pairs must leave the store."""
    from kafka_streams_rosetta_demo_spark.streaming.transforms import (
        streaming_windowed_call_agg,
    )

    root = str(tmp_path / "src")
    _time_advancing_source(spark, root)
    agg = streaming_windowed_call_agg(_stream(spark, root), watermark=_WM)
    rows = _state_curve(spark, agg, "update")
    _assert_rises_then_falls(rows)


@pytest.mark.slow  # full-suite lane: r15 fast lane must fit the driver's verify window
def test_dedup_within_watermark_state_evicts_measured(spark, tmp_path):
    """streaming_dedup_events' exact transform
    (`streaming_dedup_within_watermark` -> dropDuplicatesWithinWatermark):
    state rows = keys first seen within the watermark; once the watermark
    passes a sighting's event time the key must leave the store (the bounded
    alternative to plain dropDuplicates, whose state would end at max)."""
    from kafka_streams_rosetta_demo_spark.streaming.transforms import (
        streaming_dedup_within_watermark,
    )

    root = str(tmp_path / "src")
    _time_advancing_source(spark, root)
    deduped = streaming_dedup_within_watermark(
        _stream(spark, root), keys=["id_telef_origen"], ts_col="event_ts", watermark=_WM
    )
    rows = _state_curve(spark, deduped, "append")
    _assert_rises_then_falls(rows)


@pytest.mark.slow  # full-suite lane: r15 fast lane must fit the driver's verify window
def test_interval_join_state_evicts_measured(spark, tmp_path):
    """streaming_interval_join(_outer)'s exact transform: both sides buffer
    rows in the symmetric hash join's state; a row is evictable once the
    other side's watermark passes ts + tolerance, so the 4 h leap must flush
    the pre-jump buffers on BOTH sides. Inner and left_outer share the same
    retention bound (outer-ness changes emission, not state), so one curve
    pins both registered topologies; the outer flavor is asserted separately
    below on the same staged source."""
    from kafka_streams_rosetta_demo_spark.streaming.transforms import (
        streaming_interval_join,
    )

    root = str(tmp_path / "src")
    _time_advancing_source(spark, root)
    for how in ("inner", "left_outer"):
        joined = streaming_interval_join(
            _stream(spark, root),
            _stream(spark, root),
            key="id_telef_origen",
            left_ts="event_ts",
            right_ts="event_ts",
            tolerance_seconds=60,
            watermark=_WM,
            how=how,
        )
        rows = _state_curve(spark, joined, "append")
        _assert_rises_then_falls(rows)
