"""Run every registered query against its DuckDB oracle — the local replica
of the driver's t2 correctness gate (sf0.01, same as the driver).

Round 15 (VERDICT r14 item 1): the exhaustive 263-query sweep is the bulk of
the ~60-min full suite, which outruns the driver's verify window — the driver
has never seen it finish. The sweep is therefore split into two lanes:

- FAST lane (default `pytest tests/`): every query an optimization round has
  ever touched (r14 waves 1-5 + every r15 wave) plus the headline/slim bench
  basket — the queries where a silent semantics change would be both most
  likely and most damaging. Finishes inside the driver's window.
- FULL lane (`SPARK_GRAFT_FULL_TESTS=1`): all 263 queries, the round-close
  bar. The driver ALSO hash-checks a rotating 50-query sample itself every
  round, so untouched-query parity keeps independent coverage even when only
  the fast lane runs.
"""

from __future__ import annotations

import pytest

from kafka_streams_rosetta_demo_spark.queries import load_all

from .oracle_check import compare

QUERIES = load_all()

# Queries the optimization rounds touched (every r14 wave + every r15 wave)
# plus the headline + slim bench basket. Keep this in sync when a new wave
# lands: an optimization that changes an operator's internals must put its
# consumer queries here so the default lane re-proves parity.
FAST_PARITY = {
    # bench HEADLINE
    "rosetta_enriched",
    "rosetta_calls_window_agg",
    "agg_pricing_summary",
    "join_three_way_topk",
    "join_broadcast_dim",
    "join_left_outer_count",
    "window_moving_sum",
    "agg_count_distinct",
    "set_union_distinct",
    # slim-line regulars not already above
    "dedup_cluster_cc",
    "dedup_cluster_keep_best",
    "dedup_containment",
    "dedup_embedding_cosine",
    "dedup_exact",
    "dedup_fuzzy_name",
    "dedup_incremental_screen",
    "dedup_minhash_lsh",
    "embedding_dim_stats",
    "embedding_label_confusion",
    "event_transition_matrix",
    "join_asof",
    "kafka_wire_framing",
    "kmeans_inertia",
    "knn_ann_ivf",
    "knn_brute_force",
    "multimodal_frame_sample",
    "multimodal_resample",
    "multimodal_resize",
    "pack_sequences",
    "rosetta_ktable_latest",
    "sample_mixture_weighted",
    # r14 wave 1 (bounded-state streaming exchange sizing)
    "streaming_avro_roundtrip",
    "streaming_bpe_token_rate",
    "streaming_classifier_monitor",
    "streaming_cms_sketch",
    "streaming_downsample_ohlc",
    "streaming_drift_psi",
    "streaming_mixture_monitor",
    "streaming_roc_monitor",
    "streaming_theta_distinct",
    "streaming_unigram_token_rate",
    "streaming_wire_roundtrip",
    # r14 wave 2 (Arrow vector kernels)
    "knn_ann_pq",
    "knn_pq_eval",
    "knn_recall_eval",
    "dedup_semantic_semdedup",
    "embedding_triplet_mining",
    # r14 wave 3
    "graph_pagerank",
    # r14 wave 4 (PPJoin candidate filters)
    "dedup_ngram_jaccard",
    "dedup_lsh_recall_eval",
    # r14 wave 5 (backlog-bytes state sizing)
    "streaming_calls_window_agg",
    "streaming_dedup_events",
    "streaming_enriched",
    "streaming_interval_join",
    "streaming_interval_join_outer",
    "streaming_ktable_latest",
    "streaming_range_join_keyless",
    "streaming_session_windows",
    "streaming_suppress_final",
    "streaming_url_dedup_screen",
    # r14 wave 5 examined/excluded applyInPandasWithState pair (r15 item 4)
    "streaming_stateful_totals",
    "streaming_preference_winrate",
    # r15 wave A (hyperplane band-key Arrow kernel) consumers
    "dedup_crosslingual_mirror",
    "streaming_ann_screen",
    # r15 wave C (backlog-sized state exchange)
    "streaming_expectation_monitor",
    # r15 wave D (parallelized single-file corpus derivations + DoReMi
    # bigram pre-aggregation)
    "corpus_mixture_doremi",
    "sample_mixture_doremi",
    "streaming_mixture_sampler",
    "streaming_boilerplate_screen",
    "streaming_decontaminate_screen",
    "streaming_winnowing_screen",
    # boilerplate_index consumers on the batch side
    "text_boilerplate_scrub",
    # every streaming_* query now runs through streaming.runner.run_topology;
    # these three were the only ones the lane above skipped
    "streaming_blocklist_screen",
    "streaming_gopher_screen",
    "streaming_robots_screen",
    # the Kafka edge's Avro serde is the columnar codec (streaming twin above)
    "kafka_avro_roundtrip",
}


def _param(name: str):
    if name in FAST_PARITY:
        return pytest.param(name)
    return pytest.param(name, marks=pytest.mark.slow)


@pytest.mark.parametrize("name", [_param(n) for n in sorted(QUERIES)])
def test_query_matches_oracle(spark, sf_correctness, name):
    q = QUERIES[name]
    df = q.fn(spark, sf_correctness)
    if q.oracle is None:
        # driver does a weaker rows-only check for these
        assert df.count() >= 0
        return
    compare(df, q.oracle, sf_correctness)


def test_equal_oracles_are_one_object():
    # A stream and its batch twin share one oracle: the stream registers
    # with the twin's string object, never a second copy of the SQL.
    first: dict[str, str] = {}
    copies = []
    for name, q in sorted(QUERIES.items()):
        if q.oracle is None:
            continue
        owner = first.setdefault(q.oracle, name)
        if QUERIES[owner].oracle is not q.oracle:
            copies.append((owner, name))
    assert not copies, f"oracle SQL copied instead of shared: {copies}"


def test_fast_parity_names_exist():
    # a renamed/deleted query must not silently shrink the fast lane
    missing = FAST_PARITY - set(QUERIES)
    assert not missing, f"FAST_PARITY names not in registry: {sorted(missing)}"
