"""Round-8 pins: measured (not structural) bounded-state ceilings for the
sketch/histogram streaming monitors, the winnowing screen's coverage
guarantees, and the sectioned bench harness's slicing invariants."""

from __future__ import annotations

import pytest
import tempfile

from pyspark.sql import functions as F

from kafka_streams_rosetta_demo_spark.streaming.runner import checkpoint_tmpdir
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

# ---------------------------------------------------------------------------
# bounded streaming state, MEASURED (VERDICT r7 task 5)
#
# streaming_cms_sketch and streaming_drift_psi argue their state stores are
# bounded BY CONSTRUCTION (the aggregation key space is the fixed cell grid /
# bin range, so no watermark and no eviction are needed). Through round 7
# that claim was structural. These tests measure it: >= 20 micro-batches of
# GROWING key cardinality flow through the exact same aggregation shapes,
# and the state store row count (stateOperators.numRowsTotal from the
# streaming progress feed) must stay under the constructive ceiling on every
# single micro-batch — while total distinct input keys exceed the ceiling
# many times over, so an unbounded per-key aggregate would provably blow
# through it.
# ---------------------------------------------------------------------------

_N_FILES = 24
_KEYS_PER_FILE = 2000


def _growing_key_source(spark, root: str) -> None:
    """Write _N_FILES single-part parquet files where file i carries keys
    [i*K, (i+1)*K) — cumulative distinct cardinality grows linearly to
    _N_FILES * _KEYS_PER_FILE = 48 000, far past every ceiling pinned
    below."""
    for i in range(_N_FILES):
        (
            spark.range(i * _KEYS_PER_FILE, (i + 1) * _KEYS_PER_FILE)
            .select(
                F.col("id").alias("user_id"),
                # values spread far beyond the PSI bin range so the
                # least(..., BINS-1) clamp is exercised, not just covered
                (F.col("id").cast("double") / 7.0).alias("value"),
            )
            .coalesce(1)
            .write.mode("append")
            .parquet(root)
        )


_SRC_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("value", DoubleType()),
    ]
)


def _run_and_collect_state_rows(spark, plan_fn, root: str) -> list[int]:
    """Stream `root` one file per micro-batch through plan_fn's update-mode
    aggregate and return numRowsTotal per micro-batch that ran the stateful
    operator."""
    stream = (
        spark.readStream.schema(_SRC_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(root)
    )
    agg = plan_fn(stream)
    # checkpoint_tmpdir: the state-store maintenance thread keeps writing
    # snapshots after awaitTermination() returns; plain TemporaryDirectory
    # cleanup races it under load (the one r8 flake — VERDICT r8 task 1)
    with checkpoint_tmpdir("ckpt_bounded_") as ckpt:
        q = (
            agg.writeStream.outputMode("update")
            .foreachBatch(lambda df, _bid: df.count())
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        progress = list(q.recentProgress)
    rows = [
        p["stateOperators"][0]["numRowsTotal"]
        for p in progress
        if p.get("stateOperators")
    ]
    return rows


@pytest.mark.slow  # full-suite lane: r15 fast lane must fit the driver's verify window
def test_streaming_cms_state_is_bounded_measured(spark):
    from kafka_streams_rosetta_demo_spark.operators.sketches import (
        CMS_DEPTH,
        CMS_WIDTH,
        cms_build,
    )

    with tempfile.TemporaryDirectory(prefix="cms_growing_") as root:
        _growing_key_source(spark, root)
        rows = _run_and_collect_state_rows(
            spark,
            lambda s: cms_build(
                s.select(F.col("user_id").cast("string").alias("item")),
                "item",
                CMS_DEPTH,
                CMS_WIDTH,
            ),
            root,
        )
    ceiling = CMS_DEPTH * CMS_WIDTH
    assert len(rows) >= 20, f"wanted >=20 stateful micro-batches, got {len(rows)}"
    assert _N_FILES * _KEYS_PER_FILE > 4 * ceiling  # the growth actually stresses it
    assert max(rows) <= ceiling, f"CMS state {max(rows)} rows > {ceiling} cells"
    # saturation flatness: once the grid fills, MORE distinct keys must not
    # add state rows — the last third of the run may not grow at all
    tail = rows[-len(rows) // 3 :]
    assert max(tail) == min(tail), f"state still growing in the tail: {tail}"


@pytest.mark.slow  # full-suite lane: r15 fast lane must fit the driver's verify window
def test_streaming_psi_histogram_state_is_bounded_measured(spark):
    from kafka_streams_rosetta_demo_spark.queries.relational_queries import (
        _PSI_BINS,
        _PSI_WIDTH,
    )

    def psi_hist(s):
        # the exact aggregation shape of streaming_drift_psi: fixed-bin
        # clamp, conditional counts (is_base derived from a key property
        # here — the split ts is irrelevant to the state-shape claim)
        binned = s.select(
            F.least(
                F.floor(F.col("value") / _PSI_WIDTH).cast("long"),
                F.lit(_PSI_BINS - 1).cast("long"),
            ).alias("bin"),
            (F.col("user_id") % 2 == 0).alias("is_base"),
        )
        return binned.groupBy("bin").agg(
            F.count(F.when(F.col("is_base"), 1)).alias("base_n"),
            F.count(F.when(~F.col("is_base"), 1)).alias("curr_n"),
        )

    with tempfile.TemporaryDirectory(prefix="psi_growing_") as root:
        _growing_key_source(spark, root)
        rows = _run_and_collect_state_rows(spark, psi_hist, root)
    assert len(rows) >= 20
    assert max(rows) <= _PSI_BINS, f"PSI state {max(rows)} rows > {_PSI_BINS} bins"
    tail = rows[-len(rows) // 3 :]
    assert max(tail) == min(tail), f"state still growing in the tail: {tail}"


# ---------------------------------------------------------------------------
# dedup_winnowing_screen coverage guarantees
# ---------------------------------------------------------------------------


def test_winnowing_screen_covers_every_batch_doc(spark, sf_smoke):
    """The screen's left join is the coverage guard: EVERY batch doc (every
    5th doc_id) must surface exactly once — including docs too short to
    produce a single winnowing fingerprint — and the keep flag must be
    exactly (n_corpus_matches == 0)."""
    from kafka_streams_rosetta_demo_spark.queries.dedup_queries import (
        dedup_winnowing_screen,
    )
    from kafka_streams_rosetta_demo_spark.sources.parquet import load_table

    out = dedup_winnowing_screen(spark, sf_smoke).toPandas()
    batch_ids = sorted(
        r["doc_id"]
        for r in load_table(spark, sf_smoke, "documents")
        .where(F.col("doc_id") % 5 == 0)
        .select("doc_id")
        .collect()
    )
    assert sorted(out["doc_id"]) == batch_ids
    assert (out["keep"] == (out["n_corpus_matches"] == 0)).all()


def test_winnowing_screen_catches_planted_cross_set_overlap(spark):
    """Winnowing's match guarantee, cross-set: a batch doc sharing a run of
    >= w+k-1 = 6 words with a corpus doc is guaranteed to share AT LEAST ONE
    fingerprint (the theorem promises exactly one; two windows over a longer
    run may legitimately select the same minimum, so >= 2 distinct values is
    never guaranteed at any run length). The screen gates at >= 1 for
    exactly that reason. Probed via the operator on a planted two-sided
    corpus rather than the registered query (which is fixed to the parquet
    tables)."""
    from kafka_streams_rosetta_demo_spark.operators.textsim import (
        winnow_fingerprints,
    )
    from kafka_streams_rosetta_demo_spark.queries.dedup_queries import (
        _WIN_SCREEN_MIN_SHARED,
    )

    assert _WIN_SCREEN_MIN_SHARED == 1  # the gate that inherits the theorem

    shared = "alpha beta gamma delta epsilon zeta"  # exactly w+k-1 = 6 words
    docs = spark.createDataFrame(
        [
            (0, f"batch prefix words {shared} batch suffix tail"),
            (1, f"completely different corpus opening {shared} other ending"),
            (3, "no overlap here at all just unrelated corpus words"),
        ],
        ["doc_id", "text"],
    )
    fps = winnow_fingerprints(docs, k=3, w=4)
    a = fps.where(F.col("doc_id") == 0).select("f")
    b = fps.where(F.col("doc_id") == 1).select("f")
    n_shared = a.intersect(b).count()
    assert n_shared >= 1, f"planted 6-word overlap produced {n_shared} shared fps"
    c = fps.where(F.col("doc_id") == 3).select("f")
    assert a.intersect(c).count() == 0


# ---------------------------------------------------------------------------
# sectioned bench harness invariants (VERDICT r7 task 1)
# ---------------------------------------------------------------------------


def test_bench_section_bounds_partition_exactly():
    """Section bounds must tile [0, n) exactly — contiguous, disjoint,
    exhaustive — for every plausible (n, sections); a dropped or repeated
    query in the merged timings would silently corrupt the bench artifact."""
    import bench

    for n in (0, 1, 7, 129, 131, 200):
        for k in (1, 2, 4, 8):
            bounds = bench.section_bounds(n, k)
            assert bounds[0][0] == 0 and bounds[-1][1] == n
            for (_, hi), (lo2, _) in zip(bounds, bounds[1:]):
                assert hi == lo2


def test_bench_basket_resolves_and_sections_cover_it():
    """Every basket name resolves to a callable, the bench-only rows are
    present, and the per-section slices reassemble the full ordered basket
    (parent/child agreement relies on resolve_basket determinism)."""
    import bench

    names, fns = bench.resolve_basket()
    assert len(names) == len(set(names))
    assert all(callable(fns[n]) for n in names)
    assert "profile_column_stats_approx_production" in names
    assert "dedup_winnowing_screen" in names
    bounds = bench.section_bounds(len(names), bench.BENCH_SECTIONS)
    reassembled = [n for lo, hi in bounds for n in names[lo:hi]]
    assert reassembled == names


def test_bench_artifact_charges_cover_every_memo_kind():
    """The bench cost policy is one table, ``bench.ARTIFACT_CHARGES``: each
    charged query is in the basket, each charged kind is a memo kind, and
    each memo kind is charged to at least one query — so a new artifact
    cannot silently ride warm into its first consumer's number. The table
    reproduces the per-query clears it replaced exactly."""
    import ast
    import pathlib

    import bench
    import kafka_streams_rosetta_demo_spark as pkg

    # memo kinds = the literal first argument of every _memo(...) call
    kinds = set()
    for path in pathlib.Path(pkg.__file__).parent.rglob("*.py"):
        for node in ast.walk(ast.parse(path.read_text())):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Name)
                and node.func.id == "_memo"
            ):
                kind = node.args[0]
                assert isinstance(kind, ast.Constant), (path, node.lineno)
                kinds.add(kind.value)
    assert len(kinds) == 13, sorted(kinds)

    names, _fns = bench.resolve_basket()
    charges = bench.ARTIFACT_CHARGES
    assert set(charges) <= set(names), set(charges) - set(names)
    charged = {k for ks in charges.values() for k in ks}
    assert charged <= kinds, charged - kinds
    assert kinds <= charged, kinds - charged

    shingles = {
        "shingled_documents",
        "ordered_shingles",
        "minhash_signatures",
        "jaccard_pairs_075",
    }
    assert {q: set(ks) for q, ks in charges.items()} == {
        "dedup_minhash_lsh": shingles,
        "dedup_ngram_jaccard": shingles,
        "dedup_winnowing": {"winnowing_index"},
        "text_bpe_train": {"bpe_merges", "bpe_word_tokens", "bpe_word_token_lists"},
        "text_bpe_vocab_ids": {"bpe_word_token_lists"},
        "text_unigram_fertility": {"unigram_word_tokens"},
        "streaming_boilerplate_screen": {"boilerplate_index"},
        "streaming_ann_screen": {"ann_band_index", "ann_corpus_vectors"},
        "dedup_cluster_cc": {"cc_labels"},
    }


def test_streaming_winnowing_screen_equals_batch_twin(spark, sf_smoke):
    """The continuous ingest screen must compute the identical gate as the
    batch screen — same verdict per doc, full batch coverage (the oracle
    gate pins this against DuckDB; this pin is the Spark-side twin equality
    plus the multi-micro-batch claim: three staged files means the per-batch
    aggregation really ran incrementally, not as one batch)."""
    from kafka_streams_rosetta_demo_spark.queries.dedup_queries import (
        dedup_winnowing_screen,
    )
    from kafka_streams_rosetta_demo_spark.queries.streaming_queries import (
        streaming_winnowing_screen,
    )

    batch = dedup_winnowing_screen(spark, sf_smoke)
    stream = streaming_winnowing_screen(spark, sf_smoke)
    assert stream.count() == batch.count()
    assert (
        stream.exceptAll(batch).count() == 0
        and batch.exceptAll(stream).count() == 0
    )


def test_bench_parent_falls_back_inline_when_spawn_fails(monkeypatch, tmp_path, capsys):
    """If section subprocesses cannot spawn (restricted environments), the
    parent must run each section inline and still honor the one-JSON-line
    driver contract — isolation degrades, the bench never breaks. Simulated
    by pointing bench.__file__ at a nonexistent path (spawn raises) and
    stubbing the section runner; BENCH_LOCAL lands in tmp, not the repo."""
    import json as _json

    import bench

    monkeypatch.setattr(bench, "__file__", str(tmp_path / "bench.py"))
    monkeypatch.setattr(bench, "BENCH_SECTIONS", 2)
    monkeypatch.setattr(
        bench,
        "run_section",
        lambda s: (
            {"timings": {"rosetta_enriched": 1.5}, "rep_times": {"rosetta_enriched": [1.6, 1.5, 1.4]}}
            if s == 0
            else {"timings": {"dedup_exact": 0.5}, "rep_times": {"dedup_exact": [0.5, 0.5, 0.6]}}
        ),
    )
    bench.main()
    err = capsys.readouterr()
    out_lines = [l for l in err.out.strip().splitlines() if l.startswith("{")]
    # stdout's FINAL line is the slim contract line (round 14: the driver
    # keeps only the last ~2000 chars of stdout, so the line that ends
    # stdout must fit the capture window whole). Its `queries` dict carries
    # SLIM_QUERIES ∩ timings — the union of every name a driver round ever
    # parsed from this line (r01–r04) plus the headline set, so nothing a
    # parsed driver artifact ever held disappears from the parsed stream;
    # dedup_exact is in that union, rosetta_enriched in the headline set.
    d = _json.loads(out_lines[-1])
    assert d["queries"] == {"rosetta_enriched": 1.5, "dedup_exact": 0.5}
    assert d["value"] == 1.5  # headline sum counts only headline names
    assert d["extended_total"] == 2.0
    assert d["n_queries"] == 2
    assert d["full"] == "BENCH_LOCAL.json"
    assert len(_json.dumps(d)) < 2000  # must fit the driver capture window
    assert "running inline" in err.err
    # the FULL artifact (every query + per-rep times) lands in BENCH_LOCAL
    full = _json.loads((tmp_path / "BENCH_LOCAL.json").read_text())
    assert full["queries"] == {"rosetta_enriched": 1.5, "dedup_exact": 0.5}
    assert full["query_reps"] == {
        "rosetta_enriched": [1.6, 1.5, 1.4],
        "dedup_exact": [0.5, 0.5, 0.6],
    }
    assert full["extended_total"] == 2.0
