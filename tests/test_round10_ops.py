"""Round-10 additions: the overflow-safe token-budget plan math and the BPE
tokenizer gates. (Artifact-memo content fingerprinting lives in
``tests/test_artifacts.py``.)"""

from __future__ import annotations

import pytest
import os



def _write_docs(spark, path: str, rows: list[tuple[int, str]]) -> None:
    df = spark.createDataFrame(
        [(i, t, "src") for i, t in rows], "doc_id long, text string, source string"
    )
    df.coalesce(1).write.mode("overwrite").parquet(os.path.join(path, "documents.parquet"))


class TestBpe:
    def test_apply_merge_equals_repeat_leftmost(self):
        """The single-pass fold must equal repeat-leftmost application of
        one rule (the classic BPE semantics the oracle's list_reduce also
        implements) — including the overlapping-run case (a, a)."""
        from kafka_streams_rosetta_demo_spark.operators.bpe import apply_merge

        def repeat_leftmost(toks, a, b):
            toks = list(toks)
            while True:
                for i in range(len(toks) - 1):
                    if toks[i] == a and toks[i + 1] == b:
                        toks[i : i + 2] = [a + b]
                        break
                else:
                    return toks

        cases = [
            (list("aaaa"), "a", "a"),
            (list("ababab"), "a", "b"),
            (list("xaay"), "a", "a"),
            (["ab", "a", "b", "ab"], "a", "b"),
            (list("z"), "a", "b"),
        ]
        for toks, a, b in cases:
            assert apply_merge(toks, a, b) == repeat_leftmost(toks, a, b)

    def test_encode_roundtrip_and_train_determinism(self):
        from kafka_streams_rosetta_demo_spark.operators.bpe import (
            encode_word,
            train_bpe,
        )

        wc = [("table", 50), ("tablet", 20), ("tab", 30), ("let", 10), ("a", 5)]
        m1 = train_bpe(wc, n_merges=10)
        m2 = train_bpe(list(wc), n_merges=10)
        assert m1 == m2 and m1, "training must be deterministic and productive"
        for w, _ in wc:
            toks = encode_word(w, m1)
            assert "".join(toks) == w, "tokens must concatenate back to the word"

    def test_merge_table_bounded_and_compression_sane(self, spark, sf_smoke):
        from kafka_streams_rosetta_demo_spark.queries.pipeline_queries import (
            text_bpe_tokenize,
            text_bpe_train,
        )

        mt = text_bpe_train(spark, sf_smoke).collect()
        assert 0 < len(mt) <= 48
        assert all(r.merged == r.lhs + r.rhs for r in mt)
        counts = text_bpe_tokenize(spark, sf_smoke).collect()
        assert counts
        docs = {r.doc_id: r for r in counts}
        chars = {
            r.doc_id: r.n
            for r in spark.read.parquet(f"{sf_smoke}/documents.parquet")
            .selectExpr(
                "doc_id",
                "length(replace(text, ' ', '')) AS n",
            )
            .collect()
        }
        for did, r in docs.items():
            # every word is >= 1 token, <= its char count
            assert r.ws_tokens <= r.bpe_tokens <= chars[did]

    def test_tokenize_plan_is_vocab_broadcast_join(self, spark, sf_correctness):
        """The corpus-sized side must never pass through Python: the encode
        UDF (ArrowEvalPython) runs on the DISTINCT word table only, and the
        per-doc count joins it back via broadcast."""
        from kafka_streams_rosetta_demo_spark.operators.bpe import (
            word_token_counts,
        )
        from kafka_streams_rosetta_demo_spark.queries.artifacts import (
            bpe_merges,
            clear_artifacts,
        )
        from kafka_streams_rosetta_demo_spark.queries.pipeline_queries import (
            text_bpe_tokenize,
        )

        wt = word_token_counts(
            spark, sf_correctness, list(bpe_merges(spark, sf_correctness))
        )
        plan = wt._jdf.queryExecution().executedPlan().toString()
        assert plan.count("ArrowEvalPython") == 1, plan
        tok_plan = (
            text_bpe_tokenize(spark, sf_correctness)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastHashJoin" in tok_plan, tok_plan
        assert "CartesianProduct" not in tok_plan
        clear_artifacts("bpe_merges", "bpe_word_tokens", "bpe_word_token_lists")

    def test_bpe_artifact_tracks_corpus_rewrite(self, spark, tmp_path):
        """The merge table is corpus model state — a rewritten snapshot
        must retrain, not serve the old tokenizer."""
        from kafka_streams_rosetta_demo_spark.queries.artifacts import (
            bpe_merges,
            clear_artifacts,
        )

        sf = str(tmp_path)
        try:
            _write_docs(spark, sf, [(0, "aaab aaab aaab"), (1, "aaab aaab")])
            m1 = bpe_merges(spark, sf)
            assert m1 and m1[0] == ("a", "a")
            _write_docs(spark, sf, [(0, "zzzq zzzq zzzq"), (1, "zzzq zzzq")])
            m2 = bpe_merges(spark, sf)
            assert m2 and m2[0] == ("z", "z")
        finally:
            clear_artifacts("bpe_merges", "bpe_word_tokens", "bpe_word_token_lists")


class TestTokenBudgetOverflowSafety:
    def test_plan_math_matches_exact_bignum(self, spark, sf_correctness):
        """The decomposed int64 plan math must equal the arbitrary-precision
        formula it stands in for: planned = floor(w_ppm * budget / 1e6),
        epochs_ppm = floor(planned * 1e6 / n_tokens) — checked with Python
        ints (exact) over the real per-source aggregates."""
        from kafka_streams_rosetta_demo_spark.queries.corpus_queries import (
            corpus_token_budget_plan,
            _BUDGET_MULT,
        )

        rows = corpus_token_budget_plan(spark, sf_correctness).collect()
        assert rows
        tsq_from = {}
        # reconstruct sq per source exactly as the query does
        import math

        sqs = {
            r.source: math.floor(math.sqrt(r.n_tokens) * 1000) for r in rows
        }
        tsq = sum(sqs.values())
        tt = sum(r.n_tokens for r in rows)
        budget = tt * _BUDGET_MULT
        for r in rows:
            w_ppm = sqs[r.source] * 1_000_000 // tsq
            planned = w_ppm * budget // 1_000_000
            assert r.temp_weight_ppm == w_ppm
            assert r.planned_tokens == planned
            assert r.epochs_ppm == planned * 1_000_000 // r.n_tokens

    def test_decomposition_is_exact_at_100tb_magnitudes(self):
        """Pure-Python check of the identity the SQL uses, at magnitudes
        where the naive product overflows int64: every intermediate the
        query computes stays under 2^63."""
        I64 = 1 << 63
        for n_tokens, w_ppm in [
            (10**13, 123_456),
            (9 * 10**14, 999_999),
            (7, 1),
            (10**13 - 1, 500_000),
        ]:
            budget = 4 * 25 * n_tokens  # a >>4x budget to stress the math
            planned_exact = w_ppm * budget // 1_000_000
            planned = w_ppm * (budget // 1_000_000) + (w_ppm * (budget % 1_000_000)) // 1_000_000
            assert planned == planned_exact
            eq, er = divmod(planned, n_tokens)
            et1 = (er * 1000) // n_tokens
            et2 = (((er * 1000) % n_tokens) * 1000) // n_tokens
            epochs = eq * 1_000_000 + et1 * 1000 + et2
            assert epochs == planned * 1_000_000 // n_tokens
            for term in (
                w_ppm * (budget // 1_000_000),
                w_ppm * (budget % 1_000_000),
                er * 1000,
                ((er * 1000) % n_tokens) * 1000,
                eq * 1_000_000,
            ):
                assert -I64 <= term < I64


# ---------------------------------------------------------------------------
# Measured watermark eviction for the two remaining stateful topologies
# (VERDICT r9 task 5): session-window merge state and the append-mode
# (suppress-final) window registry. Reuses the round-9 staged source /
# curve machinery so all six curves share one methodology.
# ---------------------------------------------------------------------------

from pyspark.sql import functions as F  # noqa: E402

from tests.test_round9_ops import (  # noqa: E402
    _BASE,
    _JUMP,
    _KEYS,
    _N_PRE,
    _N_POST,
    _assert_rises_then_falls,
    _state_curve,
    _stream,
    _time_advancing_source,
    _WM,
)


@pytest.mark.slow  # full-suite lane: r15 fast lane must fit the driver's verify window
def test_suppress_final_window_state_evicts_measured(spark, tmp_path):
    """streaming_suppress_final's exact transform
    (`streaming_windowed_call_agg` — the update-mode aggregate's plan,
    suppression being purely the sink's append mode): state
    rows = live (key, window) pairs held back until the watermark closes
    their window; the 4 h leap must both EMIT and EVICT every pre-jump
    window in one stroke. This pins the round-9 claim that append-mode
    suppression costs no second buffer: the curve must match the
    update-mode topology's shape (rise while the watermark is pinned,
    collapse at the leap), not stack suppressed rows on top of it."""
    from kafka_streams_rosetta_demo_spark.streaming.transforms import (
        streaming_windowed_call_agg,
    )

    root = str(tmp_path / "src")
    _time_advancing_source(spark, root)
    final = streaming_windowed_call_agg(_stream(spark, root), watermark=_WM)
    rows = _state_curve(spark, final, "append")
    _assert_rises_then_falls(rows)


@pytest.mark.slow  # full-suite lane: r15 fast lane must fit the driver's verify window
def test_session_window_merge_state_evicts_measured(spark, tmp_path):
    """streaming_session_windows' state shape (session_window + append
    mode): per-key state holds OPEN sessions, and sessions MERGE — the
    curve must show both. Source: each pre-jump file adds 50 fresh keys
    (one new open session each) PLUS one recurring 'bridge' key whose
    events land 5 s apart, far inside the 30 min gap — so its 18 events
    must coalesce into ONE open session, not 18. After the 4 h leap the
    watermark passes every pre-jump session's end (last event + gap), so
    the merged session and all the singletons must emit and leave the
    store together."""
    root = str(tmp_path / "srcsess")
    for i in range(_N_PRE + _N_POST):
        ts = _BASE + i * 5 if i < _N_PRE else _BASE + _JUMP + (i - _N_PRE) * 5
        batch = spark.range(i * _KEYS, (i + 1) * _KEYS).select(
            F.col("id").cast("string").alias("user_id"),
            F.timestamp_seconds(F.lit(ts)).alias("ts"),
            (F.col("id") % 7).cast("double").alias("value"),
        )
        if i < _N_PRE:
            bridge = spark.range(1).select(
                F.lit("bridge").alias("user_id"),
                F.timestamp_seconds(F.lit(ts)).alias("ts"),
                F.lit(1.0).alias("value"),
            )
            batch = batch.unionAll(bridge)
        batch.coalesce(1).write.mode("append").parquet(root)

    src = (
        spark.readStream.schema("user_id string, ts timestamp, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(root)
    )
    agg = (
        src.withWatermark("ts", _WM)
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    rows = _state_curve(spark, agg, "append")
    _assert_rises_then_falls(rows)
    # The merge pin: by the last pre-jump batch the store holds the 18*50
    # singleton sessions plus AT MOST a handful of rows for the bridge key
    # — if session rows did not merge, the bridge alone would add 18 rows.
    peak_pre = rows[_N_PRE - 1]
    assert peak_pre <= _N_PRE * _KEYS + 3, (
        f"bridge sessions did not merge: {peak_pre} rows at the pre-jump "
        f"peak vs {_N_PRE * _KEYS} singletons: {rows}"
    )
    assert peak_pre >= _N_PRE * _KEYS, rows


def test_chunk_bpe_budget_invariants(spark, sf_smoke):
    """Word-atomic budget chunking: chunk indices are consecutive from 0
    per doc, every chunk except possibly the last holds >= 128 tokens
    MINUS the boundary word's overrun... the precise invariant: each
    chunk's STARTING cumulative count lies in [idx*128, (idx+1)*128), so
    n_bpe_tokens summed in idx order reconstructs the doc total, and any
    chunk that is not the doc's last must END at or past its budget
    boundary (else the next word would still belong to it)."""
    from kafka_streams_rosetta_demo_spark.queries.corpus_queries import (
        _CHUNK_BPE,
        doc_chunk_bpe_budget,
    )
    from kafka_streams_rosetta_demo_spark.queries.pipeline_queries import (
        text_bpe_tokenize,
    )

    chunks = doc_chunk_bpe_budget(spark, sf_smoke).collect()
    totals = {r.doc_id: r.bpe_tokens for r in text_bpe_tokenize(spark, sf_smoke).collect()}
    per_doc: dict[int, list] = {}
    for r in chunks:
        per_doc.setdefault(r.doc_id, []).append(r)
    assert set(per_doc) == set(totals)
    for did, rows in per_doc.items():
        rows.sort(key=lambda r: r.chunk_idx)
        assert rows[0].chunk_idx == 0
        cum = 0
        for r in rows:
            assert cum // _CHUNK_BPE == r.chunk_idx, (did, r)
            cum += r.n_bpe_tokens
        assert cum == totals[did]
        for prev, nxt in zip(rows, rows[1:]):
            # chunk indices strictly increase; gaps mean a single word
            # overran a whole budget window (allowed only if that word
            # alone exceeds 128 tokens — impossible on this corpus)
            assert nxt.chunk_idx == prev.chunk_idx + 1, (did, rows)


def test_fertility_is_consistent_with_tokenize(spark, sf_smoke):
    from kafka_streams_rosetta_demo_spark.queries.corpus_queries import (
        text_bpe_fertility,
    )
    from kafka_streams_rosetta_demo_spark.queries.pipeline_queries import (
        text_bpe_tokenize,
    )

    fert = text_bpe_fertility(spark, sf_smoke).collect()
    assert fert
    tok = text_bpe_tokenize(spark, sf_smoke).agg(
        {"ws_tokens": "sum", "bpe_tokens": "sum"}
    ).collect()[0]
    assert sum(r.n_words for r in fert) == tok["sum(ws_tokens)"]
    assert sum(r.n_bpe_tokens for r in fert) == tok["sum(bpe_tokens)"]
    for r in fert:
        assert r.fertility_ppm == r.n_bpe_tokens * 1_000_000 // r.n_words
        assert r.fertility_ppm >= 1_000_000  # >= one token per word


def test_disk_pinned_result_survives_source_deletion(spark, tmp_path, capfd):
    """The sf2.0 bare-1g finding, round 10: _pin's size probe forces the
    input Dataset's QueryExecution BEFORE the persist registers the cache,
    so under a degraded DISK_ONLY pin an action on the exact returned
    object silently bypassed the cache and re-read source files the
    caller had already deleted (streaming adapters delete their sink
    tmpdir on return). The fix returns a fresh Dataset whose plan uses
    the registered InMemoryRelation — pinned here end to end: collect
    AFTER deleting the source must succeed, and the plan must show the
    cache scan."""
    import shutil

    from kafka_streams_rosetta_demo_spark.queries.artifacts import (
        _BUDGET_CONF,
        pin_with_budget,
    )

    src = str(tmp_path / "gone")
    spark.range(500).selectExpr("id", "id * 3 AS v").write.parquet(src)
    spark.conf.set(_BUDGET_CONF, "1")  # force the degraded path
    try:
        pinned = pin_with_budget(spark.read.parquet(src), spark, "qe-staleness-pin")
        assert "pinning DISK_ONLY" in capfd.readouterr().err
    finally:
        spark.conf.unset(_BUDGET_CONF)
    plan = pinned._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan, plan
    shutil.rmtree(src)
    rows = pinned.collect()
    assert len(rows) == 500 and sum(r.v for r in rows) == 3 * sum(range(500))
    pinned.unpersist()
