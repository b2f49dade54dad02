"""Skew-hardening pins for the hot-key similarity joins (SCALING.md).

The classic 100 TB hazard for LSH banding / prefix filtering is a
degenerate key: a huge near-dup cluster collapses to one (band_id,
band_key), and a corpus-wide stop-phrase puts every doc_id on one
shingle's posting list. The session enables AQE skew-join splitting
(``session.py``), but nothing proved it actually fires on these operators'
join shapes — these tests build exactly those degenerate fixtures and pin
``SortMergeJoin(skew=true)`` / ``AQEShuffleRead ... skewed`` in the
*executed* (adaptive-final) plan, plus the operator's recall guarantee on
the same data, so the skew path is exercised, not just configured.

Thresholds are lowered test-side (the real defaults key off 256 MB
partitions — physically impossible in a fixture); the *mechanism* is
identical at production sizes.
"""

from __future__ import annotations

import contextlib

import pytest
from pyspark.sql import functions as F

from kafka_streams_rosetta_demo_spark.operators.textsim import (
    band_candidate_pairs,
    containment_filter_pairs,
    containment_verify,
    lsh_band_keys,
    minhash_signature,
    with_shingles,
)

# Make small-fixture skew detectable: many partitions -> tiny median, low
# split thresholds, broadcast off so the candidate join stays shuffle-based
# (broadcast would hide the skew machinery the test exists to exercise).
_SKEW_CONFS = {
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "4KB",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "2KB",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
}


@contextlib.contextmanager
def _confs(spark, extra):
    old = {}
    for k, v in extra.items():
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _run_own_plan(df) -> tuple[int, str]:
    """Execute the DataFrame's OWN query execution (``count()`` would build
    a separate one whose adaptive plan we can't inspect) and return
    (row count, final executed plan string)."""
    n = df._jdf.queryExecution().toRdd().count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan, "adaptive plan was not finalized"
    return n, plan


def _distinct_word_docs(spark, start: int, count: int, words: int, prefix: str = ""):
    """Docs whose words are globally unique (stride > word count, so no
    cross-doc sharing) with an optional shared leading phrase."""
    body = F.concat_ws(
        " ",
        F.array(
            *[
                F.concat(F.lit("t"), (F.col("id") * F.lit(101) + F.lit(j)).cast("string"))
                for j in range(words)
            ]
        ),
    )
    text = F.concat(F.lit(prefix), body) if prefix else body
    return spark.range(start, start + count).select(
        F.col("id").alias("doc_id"), text.alias("text")
    )


def test_minhash_lsh_band_join_splits_hot_band_key(spark):
    """A 1000-identical-doc cluster puts 1000 rows on each of its 16 band
    keys — the degenerate LSH bucket. The band equi-join must (a) split the
    hot partitions via AQE skew handling and (b) still emit every pair of
    the cluster (identical signatures collide in every band, so recall on
    the cluster is exact)."""
    n_hot = 1000
    hot_text = " ".join(f"w{i}" for i in range(40))
    hot = spark.range(n_hot).select(
        F.col("id").alias("doc_id"), F.lit(hot_text).alias("text")
    )
    rand = _distinct_word_docs(spark, 1_000_000, 800, words=40)
    docs = hot.unionByName(rand).repartition(16)
    with _confs(spark, {**_SKEW_CONFS, "spark.sql.shuffle.partitions": "64"}):
        pairs = band_candidate_pairs(
            lsh_band_keys(minhash_signature(with_shingles(docs)))
        )
        n, plan = _run_own_plan(pairs)
    assert "skew=true" in plan, f"no skew-split in band join plan:\n{plan[:2000]}"
    assert "skewed" in plan  # AQEShuffleRead node
    # every pair of the identical cluster is a candidate (plus whatever the
    # random docs collide into — rare by construction)
    assert n >= n_hot * (n_hot - 1) // 2


def test_containment_prefix_join_splits_hot_shingle(spark):
    """A corpus-wide stop-phrase gives one shingle a posting list of every
    doc_id — the degenerate prefix-index key. The candidate join must split
    it, and the one-sided prefix guarantee must still find the planted
    excerpt (containment 1.0 against its source doc)."""
    docs = _distinct_word_docs(spark, 0, 6000, words=12, prefix="aaa bbb ccc ")
    needle = docs.where(F.col("doc_id") == 7).select(
        F.lit(9000).alias("doc_id"),
        F.concat_ws(" ", F.slice(F.split("text", " "), 5, 8)).alias("text"),
    )
    all_docs = docs.unionByName(needle).repartition(16)
    with _confs(spark, {**_SKEW_CONFS, "spark.sql.shuffle.partitions": "256"}):
        sh = with_shingles(all_docs)
        cpairs = containment_filter_pairs(sh, 0.8)
        n, plan = _run_own_plan(cpairs)
        assert "skew=true" in plan, f"no skew-split in containment plan:\n{plan[:2000]}"
        assert "skewed" in plan
        hits = containment_verify(cpairs, sh, 0.8).where(
            F.col("doc_in") == 9000
        ).collect()
    # exact recall by the pigeonhole argument: the excerpt's prefix token
    # must hit its source doc's full index
    assert [(r.doc_in, r.doc_out) for r in hits] == [(9000, 7)]


# ---------------------------------------------------------------------------
# skew-adaptive join selection (choose_join_strategy / skew_adaptive_join)
# ---------------------------------------------------------------------------


def _skewed_left(spark, hot_rows=5000, uniform_keys=20, rows_per_key=50):
    """One pathological key carrying ~hot_rows/total traffic + a uniform
    background — the shape the Herfindahl pre-flight exists to catch."""
    hot = spark.range(hot_rows).select(
        F.lit("HOT").alias("k"), F.col("id").alias("payload")
    )
    cold = spark.range(uniform_keys * rows_per_key).select(
        F.concat(F.lit("k"), (F.col("id") % uniform_keys).cast("string")).alias("k"),
        F.col("id").alias("payload"),
    )
    return hot.unionByName(cold)


def _uniform_left(spark, keys=2000, rows_per_key=5):
    return spark.range(keys * rows_per_key).select(
        F.concat(F.lit("k"), (F.col("id") % keys).cast("string")).alias("k"),
        F.col("id").alias("payload"),
    )


def test_key_skew_profile_statistics(spark):
    from kafka_streams_rosetta_demo_spark.operators.joins import key_skew_profile

    prof = key_skew_profile(_skewed_left(spark), ["k"])
    assert prof.n_rows == 5000 + 20 * 50
    assert prof.n_keys == 21
    assert prof.top1_share_ppm == (1_000_000 * 5000) // prof.n_rows
    # effective keys collapse toward 1 under the hot key
    assert prof.effective_keys < 3

    uni = key_skew_profile(_uniform_left(spark), ["k"])
    assert uni.n_keys == 2000
    assert abs(uni.effective_keys - 2000) < 1e-6  # exactly uniform


def test_choose_join_strategy_routes(spark):
    from kafka_streams_rosetta_demo_spark.operators.joins import (
        choose_join_strategy,
    )

    dim = spark.range(10).select(
        F.concat(F.lit("k"), F.col("id").cast("string")).alias("k"),
        F.col("id").alias("dim_val"),
    )
    big = spark.range(300_000).select(
        F.concat(F.lit("k"), (F.col("id") % 50_000).cast("string")).alias("k"),
        F.sha2(F.col("id").cast("string"), 256).alias("pad1"),
        F.sha2((F.col("id") + 1).cast("string"), 256).alias("pad2"),
    )

    # 1) small build side -> broadcast, regardless of probe skew
    strat, prof = choose_join_strategy(_skewed_left(spark), dim, "k")
    assert strat == "broadcast" and prof is None

    with _confs(
        spark,
        {
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        },
    ):
        # 2) hot probe key + non-broadcastable build -> salted
        strat, prof = choose_join_strategy(_skewed_left(spark), big, "k")
        assert strat == "salted"
        assert prof is not None and prof.top1_share_ppm > 500_000
        # 3) uniform probe key -> plain (AQE owns the residue)
        strat, prof = choose_join_strategy(_uniform_left(spark), big, "k")
        assert strat == "plain"
        # 4) a precomputed profile (the stats-refresh amortization path)
        #    is honored without re-measuring
        from kafka_streams_rosetta_demo_spark.operators.joins import KeySkewProfile

        stored = KeySkewProfile(
            n_rows=10**9, n_keys=10**6, hhi=10**14, top1_share_ppm=900_000
        )
        strat, used = choose_join_strategy(
            _uniform_left(spark), big, "k", profile=stored
        )
        assert strat == "salted" and used is stored


def test_skew_adaptive_join_matches_plain_join(spark):
    """All three routes are the SAME join: results must be row-identical to
    the plain join on both the skewed (salted route) and uniform (plain
    route) fixtures, inner and left."""
    from kafka_streams_rosetta_demo_spark.operators.joins import skew_adaptive_join

    right = spark.range(15).select(
        F.concat(F.lit("k"), F.col("id").cast("string")).alias("k"),
        (F.col("id") * 10).alias("dim_val"),
    )
    # add the HOT key to the dim for a real match; k15..k19 unmatched (left)
    right = right.unionByName(
        spark.createDataFrame([("HOT", -1)], "k string, dim_val long")
    )
    with _confs(
        spark,
        {
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        },
    ):
        for left in (_skewed_left(spark, hot_rows=500), _uniform_left(spark, keys=30)):
            for how in ("inner", "left"):
                got = sorted(
                    map(tuple, skew_adaptive_join(left, right, "k", how=how).collect())
                )
                want = sorted(map(tuple, left.join(right, "k", how).collect()))
                assert got == want, how


def test_stored_profile_routes_salted_without_probe_scan(spark):
    """The table-stats amortization path (VERDICT r6 task 7): at 100 TB the
    skew profile is computed once per ingest and FED BACK, so routing must
    not re-scan the probe side. Pin both halves: (a) choose_join_strategy
    with a stored profile routes `salted` even when evaluating the probe
    side would RAISE (a poison UDF no job may execute); (b) on the real
    skewed fixture, skew_adaptive_join(profile=stored) takes the salted
    plan (the `_salt` key appears in its analyzed plan) and stays
    row-identical to the plain join."""
    from pyspark.sql.types import LongType

    from kafka_streams_rosetta_demo_spark.operators.joins import (
        KeySkewProfile,
        choose_join_strategy,
        skew_adaptive_join,
    )

    big = spark.range(300_000).select(
        F.concat(F.lit("k"), (F.col("id") % 50_000).cast("string")).alias("k"),
        F.sha2(F.col("id").cast("string"), 256).alias("pad1"),
        F.sha2((F.col("id") + 1).cast("string"), 256).alias("pad2"),
    )
    stored = KeySkewProfile(
        n_rows=10**9, n_keys=10**6, hhi=10**14, top1_share_ppm=900_000
    )

    def _poison(_):
        raise AssertionError("probe side was scanned despite a stored profile")

    poison = F.udf(_poison, LongType())
    poisoned_left = spark.range(10).select(
        F.concat(F.lit("k"), F.col("id").cast("string")).alias("k"),
        poison(F.col("id")).alias("payload"),
    )
    with _confs(
        spark,
        {
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        },
    ):
        # (a) no job may run: any evaluation of poisoned_left raises
        strat, used = choose_join_strategy(poisoned_left, big, "k", profile=stored)
        assert strat == "salted" and used is stored

        # (b) real fixture: stored profile -> salted plan, identical rows
        left = _skewed_left(spark, hot_rows=500)
        right = spark.range(15).select(
            F.concat(F.lit("k"), F.col("id").cast("string")).alias("k"),
            (F.col("id") * 10).alias("dim_val"),
        ).unionByName(spark.createDataFrame([("HOT", -1)], "k string, dim_val long"))
        routed = skew_adaptive_join(left, right, "k", profile=stored)
        assert "_salt" in routed._jdf.queryExecution().analyzed().toString()
        got = sorted(map(tuple, routed.collect()))
        want = sorted(map(tuple, left.join(right, "k").collect()))
        assert got == want


# ---------------------------------------------------------------------------
# broadcast threshold: Spark's own parse, and a disabled broadcast stays off
# ---------------------------------------------------------------------------


def test_broadcast_threshold_parses_sign_and_units(spark):
    """choose_join_strategy compares Catalyst's estimate with the threshold
    Spark has already parsed (sign kept, binary units) — the cases a hand
    parser once got wrong: ``-1`` read as 1 byte, ``10m`` as 10 bytes."""
    from kafka_streams_rosetta_demo_spark.operators.joins import (
        KeySkewProfile,
        choose_join_strategy,
        estimated_size_bytes,
    )

    dim = spark.range(10)
    est = estimated_size_bytes(dim)
    assert 64 < est < 10 * 1024  # "64b" must refuse it, "512k" admit it
    left = spark.range(100).select(F.col("id").alias("k"))
    stored = KeySkewProfile(n_rows=100, n_keys=100, hhi=100, top1_share_ppm=10_000)
    sql_conf = spark._jsparkSession.sessionState().conf()
    for raw, want in [
        ("10485760", 10 * 1024 * 1024),
        ("-1", -1),
        ("0", 0),
        ("10m", 10 * 1024 * 1024),
        ("10MB", 10 * 1024 * 1024),
        ("1g", 1024**3),
        ("512k", 512 * 1024),
        ("64b", 64),
    ]:
        with _confs(spark, {"spark.sql.autoBroadcastJoinThreshold": raw}):
            assert sql_conf.autoBroadcastJoinThreshold() == want, raw
            strat, _ = choose_join_strategy(left, dim, "id", profile=stored)
            assert (strat == "broadcast") == (0 < want and est <= want), raw


def test_disabled_broadcast_is_honored_even_for_empty_dim(spark):
    """`-1` means the user disabled broadcasting; a stat-less/empty dimension
    (sizeInBytes ~ 1) must NOT get a broadcast, neither a hint nor a
    planned broadcast join."""
    from kafka_streams_rosetta_demo_spark.operators.joins import (
        choose_join_strategy,
        stream_table_left_join,
    )

    left = spark.range(100).select(
        F.col("id").cast("string").alias("k"), F.col("id").alias("v")
    )
    empty_dim = spark.range(0).select(
        F.col("id").cast("string").alias("dk"), F.col("id").alias("dv")
    )
    with _confs(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        qe = stream_table_left_join(left, empty_dim, "k", "dk")._jdf.queryExecution()
        for plan in (qe.optimizedPlan().toString(), qe.executedPlan().toString()):
            assert "broadcast" not in plan.lower()
        strat, _ = choose_join_strategy(left, empty_dim, "k")
        assert strat != "broadcast"
