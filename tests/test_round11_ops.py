"""Round-11 pins: the large-vocabulary mapInPandas BPE encode path, the
overflow-safe fertility ppm math, and the streaming tokenizer twins.

Each test pins a behavior a 100 TB deployment depends on: the two BPE
encode forms (vocabulary-join fast path vs per-document map fallback) must
be interchangeable; ppm ratios must stay exact past int64's naive-product
ceiling. Artifact persist/reload parity and the memo's pin eviction live in
``tests/test_artifacts.py``.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# 1. doc_bpe_token_counts_map == the vocabulary-join path (VERDICT r10 task 1)
# ---------------------------------------------------------------------------


class TestMapInPandasBpeEncode:
    def test_map_encode_matches_vocab_join(self, spark, sf_smoke):
        """The per-document mapInPandas encode (no distinct stage, no join)
        must be row-identical to the production vocabulary-broadcast-join
        path — the module contract's interchangeability claim."""
        from kafka_streams_rosetta_demo_spark.operators.bpe import (
            corpus_words,
            doc_bpe_token_counts_map,
            word_token_counts,
        )
        from kafka_streams_rosetta_demo_spark.queries.artifacts import bpe_merges
        from kafka_streams_rosetta_demo_spark.sources.parquet import load_table

        merges = list(bpe_merges(spark, sf_smoke))
        docs = load_table(spark, sf_smoke, "documents").select("doc_id", "text")

        via_map = {
            r.doc_id: r.n_bpe_tokens
            for r in doc_bpe_token_counts_map(docs, spark, merges).collect()
        }

        wt = word_token_counts(spark, sf_smoke, merges)
        d = corpus_words(spark, sf_smoke, "doc_id")
        sums = (
            d.join(F.broadcast(wt), d.w == wt.word)
            .groupBy("doc_id")
            .agg(F.sum("n_toks").cast("long").alias("n"))
        )
        via_join = {
            r.doc_id: r.n
            for r in docs.select("doc_id")
            .join(sums, "doc_id", "left")
            .select("doc_id", F.coalesce("n", F.lit(0)).alias("n"))
            .collect()
        }

        assert via_map == via_join
        assert len(via_map) == docs.count()  # every document exactly once

    def test_map_encode_counts_empty_docs_zero(self, spark, sf_smoke):
        """Empty / whitespace-only / null text counts 0, never drops the
        row — the left-join-coalesce semantics of the join path."""
        from kafka_streams_rosetta_demo_spark.operators.bpe import (
            doc_bpe_token_counts_map,
        )

        docs = spark.createDataFrame(
            [(1, ""), (2, "   "), (3, None), (4, "a b")],
            "doc_id long, text string",
        )
        got = {
            r.doc_id: r.n_bpe_tokens
            for r in doc_bpe_token_counts_map(docs, spark, []).collect()
        }
        assert got == {1: 0, 2: 0, 3: 0, 4: 2}

    def test_map_encode_plan_has_no_shuffle(self, spark, sf_smoke):
        """The fallback's whole point: a pure map over the corpus's
        existing partitioning — zero exchanges in the physical plan."""
        from kafka_streams_rosetta_demo_spark.operators.bpe import (
            doc_bpe_token_counts_map,
        )
        from kafka_streams_rosetta_demo_spark.sources.parquet import load_table

        docs = load_table(spark, sf_smoke, "documents").select("doc_id", "text")
        plan = (
            doc_bpe_token_counts_map(docs, spark, [("a", "b")])
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in plan


# ---------------------------------------------------------------------------
# 2. _ppm_ratio_sql exactness at 100 TB magnitudes (round-10 ADVICE, medium)
# ---------------------------------------------------------------------------


_PPM_CASES = [
    # (numerator, denominator) at magnitudes where num*1e6 wraps int64
    (9_200_000_000_000_000, 3_100_000_000_000_001),
    (3_100_000_000_000_001, 9_200_000_000_000_000),
    (10**13, 7),
    (7, 10**13),
    (1, 1),
    (9_223_372_036_854, 9_223_372_036_853),
]


class TestPpmRatioDecomposition:
    def test_spark_expr_exact_past_naive_overflow(self, spark):
        """Evaluate the engine-side decomposed expression on values where
        ``num * 1000000`` exceeds 2^63 and pin it to exact integer math."""
        from kafka_streams_rosetta_demo_spark.queries.corpus_queries import (
            _ppm_ratio_sql,
        )

        df = spark.createDataFrame(_PPM_CASES, "num long, den long")
        got = df.select(
            "num", "den", F.expr(_ppm_ratio_sql("num", "den", "DIV")).alias("ppm")
        ).collect()
        for r in got:
            assert r.ppm == r.num * 1_000_000 // r.den, (r.num, r.den)

    def test_duckdb_expr_matches_spark_spelling(self):
        """The `//` spelling the oracle uses computes the same values —
        the two engines' decompositions can never drift."""
        from kafka_streams_rosetta_demo_spark.queries.corpus_queries import (
            _ppm_ratio_sql,
        )

        con = duckdb.connect()
        for num, den in _PPM_CASES:
            expr = _ppm_ratio_sql(
                f"CAST({num} AS BIGINT)", f"CAST({den} AS BIGINT)"
            )
            (val,) = con.execute(f"SELECT {expr}").fetchone()
            assert val == num * 1_000_000 // den, (num, den)

    def test_intermediates_stay_under_int64(self):
        """Every term the decomposition materializes stays below 2^63 for
        denominators to ~9.2e15 — the documented envelope."""
        I64 = 1 << 63
        for num, den in _PPM_CASES:
            q, r = divmod(num, den)
            for term in (q * 1_000_000, r * 1000, (r * 1000 % den) * 1000):
                assert -I64 <= term < I64


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


# ---------------------------------------------------------------------------
# 5. Streaming twin of the tokenizer fertility monitor (VERDICT r10 task 6)
# ---------------------------------------------------------------------------


class TestStreamingBpeTokenRate:
    def test_streaming_totals_match_batch(self, spark, sf_smoke):
        """Three genuine micro-batches through the streaming aggregation
        state must reproduce the batch fertility table exactly — the
        continuous path computes the identical per-source totals."""
        from kafka_streams_rosetta_demo_spark.queries.corpus_queries import (
            text_bpe_fertility,
        )
        from kafka_streams_rosetta_demo_spark.queries.streaming_queries import (
            streaming_bpe_token_rate,
        )

        batch = _rows(text_bpe_fertility(spark, sf_smoke))
        stream = _rows(streaming_bpe_token_rate(spark, sf_smoke))
        assert stream == batch

# ---------------------------------------------------------------------------
# 6. Tokenizer deliverables: vocabulary ids + the flat corpus encoding
# ---------------------------------------------------------------------------


class TestBpeTokenizerDeliverables:
    def test_vocab_is_bounded_model_state(self, spark, sf_smoke):
        """Every emitted token is a base character or a merge product, so
        |vocab| <= |alphabet| + N_MERGES — the bound the id window's
        single-partition sort rests on."""
        from kafka_streams_rosetta_demo_spark.operators.bpe import N_MERGES
        from kafka_streams_rosetta_demo_spark.queries.artifacts import bpe_merges
        from kafka_streams_rosetta_demo_spark.queries.corpus_queries import (
            text_bpe_vocab_ids,
        )

        rows = text_bpe_vocab_ids(spark, sf_smoke).collect()
        merged = {a + b for a, b in bpe_merges(spark, sf_smoke)}
        for r in rows:
            assert len(r.token) == 1 or r.token in merged, r.token
        alphabet = {t for r in rows for t in r.token}
        assert len(rows) <= len(alphabet) + N_MERGES
        # dense deterministic ids: 0..n-1, frequency-desc then token asc
        ids = sorted((r.token_id, -r.freq, r.token) for r in rows)
        assert [i for i, _, _ in ids] == list(range(len(rows)))
        assert ids == sorted(ids, key=lambda x: (x[1], x[2]))

    def test_encode_corpus_positions_are_dense_per_doc(self, spark, sf_smoke):
        """tok_idx runs 0..n_tokens-1 within each document with no gaps —
        the property sequence packing depends on — and per-doc totals
        agree with the count-only encode paths."""
        from collections import defaultdict

        from kafka_streams_rosetta_demo_spark.operators.bpe import (
            doc_bpe_token_counts_map,
        )
        from kafka_streams_rosetta_demo_spark.queries.artifacts import bpe_merges
        from kafka_streams_rosetta_demo_spark.queries.corpus_queries import (
            text_bpe_encode_corpus,
        )
        from kafka_streams_rosetta_demo_spark.sources.parquet import load_table

        per_doc = defaultdict(list)
        for r in text_bpe_encode_corpus(spark, sf_smoke).collect():
            per_doc[r.doc_id].append(r.tok_idx)
        for doc_id, idxs in per_doc.items():
            assert sorted(idxs) == list(range(len(idxs))), doc_id

        docs = load_table(spark, sf_smoke, "documents").select("doc_id", "text")
        counts = {
            r.doc_id: r.n_bpe_tokens
            for r in doc_bpe_token_counts_map(
                docs, spark, list(bpe_merges(spark, sf_smoke))
            ).collect()
            if r.n_bpe_tokens > 0
        }
        assert {d: len(v) for d, v in per_doc.items()} == counts
