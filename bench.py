#!/usr/bin/env python
"""Benchmark harness (driver contract: one JSON line on stdout).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
``/root/testdata/sf0.1``) on ``local[$SPARK_GRAFT_CPUS]`` and prints
``{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}``.

Each query executes to completion through the noop sink — full plan runs on
the cluster, no driver-side row transfer distorting the timing. Each query is
timed ``$SPARK_GRAFT_BENCH_REPS`` times (default 3): ``queries`` reports the
per-query MEDIAN and ``query_reps`` the raw per-rep wall times (round 9,
VERDICT r8 task 3) — a single outlier rep reads as environment noise, all
reps shifted reads as regression, attributable from the artifact alone
without cross-referencing other rounds' runs.

Process isolation (round 8, VERDICT r7 task 1): a single long-lived local
JVM ages — broadcast and localCheckpoint blocks are only dropped when the
driver GCs (ContextCleaner is reference-queue driven and a 16g heap rarely
collects), streaming queries leave state-store and checkpoint temp trees,
and after ~100 executions late queries were timing 2-4x their fresh-session
cost under driver load (BENCH_r07: streaming_range_join_keyless 30.5 s vs
8.4 s committed, the late TPC-H block 2-3.5x up). Explicit System.gc()
between queries was NOT sufficient. The structural fix: the bench splits
the basket into ``BENCH_SECTIONS`` contiguous sections and runs each in its
OWN subprocess (fresh JVM, fresh temp dirs, own warmup — warmup is outside
every timed region), merging per-section timings into the one-line contract.
Query order is unchanged round-over-round; section boundaries are safe
ANYWHERE because the dedup-family artifact memoization is per-process and
median-of-3 absorbs one cold first rep — while the build-charged queries
(``ARTIFACT_CHARGES``) still clear their artifacts before every rep, so
cost attribution is unchanged. (With
SPARK_GRAFT_BENCH_REPS=1 a section's first warm-family member would charge
one artifact build; the driver runs the default 3.)

Per-query isolation for the heavy streaming topologies (round 13, VERDICT
r12 task 1): the stream-stream joins and stateful monitors proved the most
JVM-aging/host-load-sensitive rows in the basket — r12's driver-final timed
``streaming_interval_join_outer`` at 31.3 s late in its section vs 9.8 s in
a fresh session, a 4.7x swing on untouched code while the basket-wide host
factor was 1.35x. Section-level isolation is not enough for them: they
accumulate state-store/checkpoint temp trees and shuffle files WITHIN a
section and also suffer from whatever ran before them in it. So the names
in ``ISOLATED_STREAMING`` are pulled OUT of the contiguous sections and
each runs in its OWN subprocess (fresh JVM, own warmup, same rep/median
policy, same artifact cost charging) — the round-8 isolation discipline
applied one level deeper. None of them builds an artifact any other basket
member consumes, so extracting them changes no other query's cost
attribution.
"""

from __future__ import annotations

import json
import os
import re
import signal
import statistics
import subprocess
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPS = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))

# Sub-second queries whose median-of-3 wobbled past 1.5x between driver-final
# rounds on UNCHANGED plans (r11 verdict task 3: first-rep JIT/page-cache
# outliers land on 2 of 3 reps often enough to shift a 0.5 s median by ~2x).
# Two extra reps apiece (~+12 s total) makes the median robust to one-rep
# noise without inflating the whole basket's cost.
EXTRA_REPS = {
    "layout_zorder_pruning": 2,
    "sample_importance_dsir": 2,
    "layout_compaction_plan": 2,
    "multimodal_resample": 2,
    "tpch_q14_promo_revenue": 2,
    "profile_drift_psi": 2,
    # round 14: section-start rows still warming within their own 3 reps
    # after the join/window warmup ([1.51, 1.52, 0.95]-shaped spreads)
    "tpch_q10_returned_items": 2,
    "tpch_q11_important_parts": 2,
    "profile_column_stats": 2,
}
BENCH_SECTIONS = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_SECTIONS", "4")))

# Heavy streaming topologies that each get their OWN subprocess (fresh JVM)
# instead of riding a shared section — see the module docstring. Every name
# must also appear in HEADLINE/OPTIONAL (membership there is what puts it
# in the basket; this set only changes WHERE it runs).
ISOLATED_STREAMING = frozenset(
    {
        "streaming_interval_join_outer",
        "streaming_ann_screen",
        "streaming_range_join_keyless",
        "streaming_expectation_monitor",
        # round 14 (VERDICT r13 task 1): the three new multi-second streaming
        # topologies shared a section subprocess with sub-second batch rows
        # and inflated five adjacent r12 queries 2.9-6.3x in the driver-final
        # window (corpus_domain_profile 0.38->2.39 s etc.) — the same
        # JVM-aging mechanism the r13 isolation fix addressed one section
        # over. Each now runs alone in its own fresh process.
        "streaming_mixture_monitor",
        "streaming_unigram_token_rate",
        "streaming_boilerplate_screen",
        # round 14: born isolated — both are multi-second streaming
        # topologies (full micro-batch machinery + a charged corpus-sized
        # build: the bench shingle index / the DoReMi rate fit), exactly
        # the class that inflated section neighbors in r12 and r13.
        "streaming_decontaminate_screen",
        "streaming_mixture_sampler",
        # round 14 third wave: born isolated for the same reason — full
        # micro-batch machinery (watermarked URL-dedup state / the
        # stream-static scored aggregate) is multi-second at sf0.1.
        "streaming_url_dedup_screen",
        "streaming_classifier_monitor",
        "streaming_gopher_screen",
        # round 14 fifth wave: both are full micro-batch topologies
        "streaming_robots_screen",
        "streaming_roc_monitor",
    }
)

# Artifact cost policy (mirrors a real pipeline's amortization): each
# memoized corpus artifact's BUILD is charged to exactly one query — its
# family's first member — by clearing the listed kinds before that query's
# every timed rep; later family members time against the warm artifact (the
# incremental cost a pipeline pays, since it materializes each artifact once
# per corpus snapshot). Kinds are the memo's (``queries/artifacts.py``).
_SHINGLE_KINDS = (
    "shingled_documents",
    "ordered_shingles",
    "minhash_signatures",
    "jaccard_pairs_075",
)
ARTIFACT_CHARGES: dict[str, tuple[str, ...]] = {
    # dedup_minhash_lsh charges the corpus shingle-table build (plus its own
    # LSH path); dedup_ngram_jaccard charges the FULL family artifact build —
    # shingles + df-ordered prefix + verified-pair set. Later members ride the
    # warm artifacts left by ngram's final rep: dedup_simhash (warm
    # shingles), dedup_cluster_cc (label propagation on the warm pair set),
    # dedup_cluster_keep_best (warm labels), dedup_incremental_screen (a
    # slice of the warm pair set).
    "dedup_minhash_lsh": _SHINGLE_KINDS,
    "dedup_ngram_jaccard": _SHINGLE_KINDS,
    # the winnowing fingerprint index; dedup_winnowing_screen rides it warm
    "dedup_winnowing": ("winnowing_index",),
    # the BPE training pass (corpus word-count aggregate + merge-table fit)
    # and the vocabulary encode; text_bpe_tokenize /
    # corpus_token_budget_plan_bpe / corpus_pack_sequences_bpe ride the warm
    # merge table and word->n_toks map
    "text_bpe_train": ("bpe_merges", "bpe_word_tokens", "bpe_word_token_lists"),
    # the word->token-list table (merge table and count map stay warm from
    # text_bpe_train); text_bpe_encode_corpus rides the warm list table
    "text_bpe_vocab_ids": ("bpe_word_token_lists",),
    # the unigram tokenizer artifact (driver-side training + the
    # distinct-word Viterbi encode); text_unigram_train itself deliberately
    # trains per call, so its row is the honest training cost
    "text_unigram_fertility": ("unigram_word_tokens",),
    # the paragraph-frequency index; the batch scrub computes inline and
    # keeps its own full two-pass cost
    "streaming_boilerplate_screen": ("boilerplate_index",),
    # the ANN band index + normed corpus vectors (the persisted
    # embedding-store index, built once per corpus snapshot)
    "streaming_ann_screen": ("ann_band_index", "ann_corpus_vectors"),
    # the CC label propagation itself (its pair generation rides the warm
    # shingle/prefix artifacts); dedup_cluster_keep_best consumes the labels
    "dedup_cluster_cc": ("cc_labels",),
}

# Headline set: the flagship plan + the heaviest representatives of each
# operator family. Names must exist in the query registry.
HEADLINE = [
    "rosetta_enriched",
    "rosetta_calls_window_agg",
    "agg_pricing_summary",
    "join_three_way_topk",
    "join_broadcast_dim",
    "join_left_outer_count",
    "window_moving_sum",
    "agg_count_distinct",
    "set_union_distinct",
]

# Names carried on the slim final stdout line (the ~2000-char capture
# window can never hold all ~200 queries' medians — the full artifact lands
# in BENCH_LOCAL.json). The set is the UNION of every query name a driver
# round ever successfully parsed from this line (r01–r04; r05+ were all
# "parsed": null because the full line outgrew the window) plus HEADLINE —
# so no entry that ever appeared in a parsed driver artifact disappears
# from the parsed stream, per the never-remove contract. ~1.6 KB with
# 3-decimal medians: fits the window whole.
SLIM_QUERIES = [
    "rosetta_enriched",
    "rosetta_calls_window_agg",
    "agg_pricing_summary",
    "join_three_way_topk",
    "join_broadcast_dim",
    "join_left_outer_count",
    "window_moving_sum",
    "agg_count_distinct",
    "set_union_distinct",
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
    "sample_stratified_hash",
    "sample_weighted_reservoir",
    "search_hybrid_rerank",
    "source_length_profile",
    "streaming_calls_window_agg",
    "text_bm25_search",
    "text_contamination_check",
    "text_lm_logprob",
    "text_ngram_lm_counts",
    "text_quality_scores",
    "text_tfidf_topk",
    "timeseries_gap_fill",
    "window_rolling_distinct",
    "window_session",
    "window_sliding",
]

# Extension ops are added to the headline set as they land.
OPTIONAL = [
    "dedup_minhash_lsh",
    # round 6: the PPJoin family members that build / ride the shared
    # verified-pair artifact (see the cost-policy comment below)
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "knn_brute_force",
    "text_quality_scores",
    "dedup_exact",
    "dedup_embedding_cosine",
    "knn_ann_ivf",
    "window_session",
    "window_sliding",
    "rosetta_ktable_latest",
    "join_asof",
    "dedup_cluster_cc",
    "pack_sequences",
    "sample_stratified_hash",
    "text_tfidf_topk",
    "text_bm25_search",
    "text_contamination_check",
    "multimodal_frame_sample",
    "multimodal_resample",
    "dedup_fuzzy_name",
    "timeseries_gap_fill",
    "window_rolling_distinct",
    # a full streaming topology (file source → watermark → update-mode agg →
    # checkpointed foreachBatch merge), timed end to end
    "streaming_calls_window_agg",
    "sample_mixture_weighted",
    "text_ngram_lm_counts",
    "embedding_dim_stats",
    "dedup_cluster_keep_best",
    # round 4 additions
    "kafka_wire_framing",
    "kmeans_inertia",
    "multimodal_resize",
    "dedup_incremental_screen",
    "embedding_label_confusion",
    "search_hybrid_rerank",
    "dedup_containment",
    "event_transition_matrix",
    "source_length_profile",
    "sample_weighted_reservoir",
    "text_lm_logprob",
    # round 5 additions
    "kafka_avro_roundtrip",
    "agg_approx_percentile",
    "agg_hll_mergeable",
    "sketch_cms_heavy_hitters",
    "dedup_span_duplicates",
    "graph_pagerank",
    "graph_triangles",
    "dedup_semantic_semdedup",
    "doc_chunk_overlap",
    "split_leakage_safe",
    "text_quality_classifier",
    "events_outliers_mad",
    "timeseries_ewma",
    "text_collocations_pmi",
    "agg_equidepth_bins",
    "text_inverted_index",
    "pipeline_curation_summary",
    "multimodal_phash_dedup",
    "join_bloom_prune",
    "agg_grouped_ols",
    "scalar_pandas_wordstats",
    "agg_pandas_trimmed",
    "streaming_interval_join_outer",
    "join_scd2_point_in_time",
    "agg_key_skew_profile",
    "sort_global_rank",
    # TPC-H decision-support suite (adapted) — multi-join planner stress
    "tpch_q5_local_supplier",
    "tpch_q7_volume_shipping",
    "tpch_q8_market_share",
    "tpch_q10_returned_items",
    "tpch_q13_order_distribution",
    "tpch_q14_promo_revenue",
    "tpch_q17_small_quantity",
    "tpch_q18_large_volume",
    "tpch_q19_disjunctive_revenue",
    "tpch_q22_sales_opportunity",
    # round 6: the suite completed — the remaining 11 shapes
    "tpch_q2_min_cost_supplier",
    "tpch_q3_shipping_priority",
    "tpch_q4_order_priority",
    "tpch_q6_forecast_revenue",
    "tpch_q9_product_profit",
    "tpch_q11_important_parts",
    "tpch_q12_late_priority",
    "tpch_q15_top_supplier",
    "tpch_q16_part_supplier_counts",
    "tpch_q20_dominant_suppliers",
    "tpch_q21_waiting_suppliers",
    "join_skew_adaptive",
    "join_range_keyless",
    "cdc_snapshot_diff",
    "profile_column_stats",
    "streaming_range_join_keyless",
    "timeseries_downsample_ohlc",
    "corpus_training_order",
    "embedding_triplet_mining",
    "streaming_downsample_ohlc",
    "scalar_map_ops",
    "pipeline_decision_log",
    "knn_recall_eval",
    "agg_hll_intersection",
    "agg_kll_mergeable_quantiles",
    "agg_theta_customer_overlap",
    "streaming_theta_distinct",
    # corpus governance
    "privacy_k_anonymity",
    "corpus_source_similarity",
    # round 7: the profiler's production (Expand-free HLL) shape, gate-checked
    "profile_column_stats_approx",
    # round 7: corpus-analysis additions + the LSH index-trust gate (rides
    # the warm dedup-family artifacts, like dedup_incremental_screen)
    "sample_temperature_mixture",
    "corpus_quality_prune_curve",
    "text_zipf_fit",
    "dedup_lsh_recall_eval",
    # round 7 second wave: selection, layout, drift, retrieval
    "sample_importance_dsir",
    "layout_zorder_pruning",
    "layout_compaction_plan",
    "profile_drift_psi",
    "corpus_perplexity_buckets",
    "text_phrase_search",
    "streaming_drift_psi",
    "search_rrf_fusion",
    "knn_matryoshka_eval",
    "dedup_winnowing",
    "agg_selfjoin_size_cms",
    # round 8: incremental winnowing screen — rides the warm fingerprint
    # index whose build dedup_winnowing charges — and its streaming twin
    # (the per-ingest gate run AS the ingest, three micro-batches)
    "dedup_winnowing_screen",
    "streaming_winnowing_screen",
    # round 9: the int8 scalar-quantization retrieval-fidelity gate (third
    # leg of the embedding-compression family) + the first-occurrence
    # novelty profile behind training-order decisions
    "knn_scalar_quant_eval",
    "text_ngram_novelty",
    # round 9: the redundancy-growth curve (rides the warm jaccard_pairs_075
    # artifact like the other PPJoin family members)
    "corpus_dedup_rate_curve",
    # round 9: the token-budget epoch planner (metadata-sized output)
    "corpus_token_budget_plan",
    # round 10: the corpus-trained BPE tokenizer family — train charges the
    # word-count aggregate + merge fit + vocabulary encode (cache cleared
    # per rep); the three consumers ride the warm merge table / word map
    "text_bpe_train",
    "text_bpe_tokenize",
    "corpus_token_budget_plan_bpe",
    "corpus_pack_sequences_bpe",
    "doc_chunk_bpe_budget",
    "text_bpe_fertility",
    # round 11: the large-vocabulary mapInPandas encode fallback (rides the
    # warm merge table; its Python cost is per distinct word PER BATCH, so
    # this row tracks the fallback's overhead vs the vocabulary-join path)
    "text_bpe_doc_tokens",
    # round 11: the tokenizer-throughput ingest monitor (streaming twin of
    # text_bpe_fertility — micro-batch machinery + the broadcast vocab map)
    "streaming_bpe_token_rate",
    # round 11: vocabulary-id export (charges the word->token-list artifact
    # build) and the full flat corpus encoding riding it warm — the
    # tokenizer artifact set's remaining two deliverables
    "text_bpe_vocab_ids",
    "text_bpe_encode_corpus",
    # round 11: the preference/ranking-eval family — the win-rate matrix and
    # BT fit both reduce to one lag-window pass + a |types|²-cell aggregate
    # (the BT row additionally times the driver-side 20-iteration integer
    # fit on that model state); the nDCG row times the salted two-phase
    # top-10 over the BM25 postings; label propagation rides the warm
    # jaccard_pairs_075 artifact like the other PPJoin family members; the
    # streaming row is the stateful per-user pair emitter end to end
    "preference_winrate_matrix",
    "preference_bradley_terry",
    "search_ndcg_mrr_eval",
    "graph_label_propagation",
    "streaming_preference_winrate",
    # round 11: the second privacy audit (one QI groupBy) and the
    # late-interaction MaxSim scorer (the knn-family broadcast-scan shape,
    # 16 query tokens against the corpus token bags)
    "privacy_l_diversity",
    "search_maxsim_late_interaction",
    # round 11: the vector ingest screen (stream-static LSH band probe) and
    # the classifier-vs-rules confusion gate (one scan, one tiny rollup)
    "streaming_ann_screen",
    "classifier_confusion_eval",
    # round 11: the Deequ-style validation report (one multi-aggregate scan
    # per audited table + broadcast FK probes)
    "quality_expectation_suite",
    # round 11: the continuous twin — per-ingest-batch constraint counters
    # through the update-mode changelog (KTable-bounded state)
    "streaming_expectation_monitor",
    # round 11: cross-lingual mirror screen (banded embedding near-dups
    # filtered on language disagreement)
    "dedup_crosslingual_mirror",
    # round 12: the CCNet boilerplate pass — batch scrub (inline two-pass
    # cost) and the ingest screen (charges the pinned index artifact)
    "text_boilerplate_scrub",
    "streaming_boilerplate_screen",
    # round 12: the PQ compression gate + the composed IVFPQ search
    "knn_pq_eval",
    "knn_ann_pq",
    # round 12: domain-grain curation (rides the warm pair artifact left
    # by the dedup family earlier in the basket)
    "corpus_domain_profile",
    # round 12: unigram tokenizer — train (honest per-call training cost)
    # and fertility (charges the unigram word->n_toks artifact)
    "text_unigram_train",
    "text_unigram_fertility",
    # round 12: model-eval completion + its sampling consumer
    "classifier_calibration_curve",
    "sample_quality_weighted",
    # round 13: C4 blocklist pass (map-side, zero-exchange) and the unigram
    # tokenizer's ingest monitor (rides the warm unigram word->n_toks map
    # charged by text_unigram_fertility earlier in the basket)
    "text_blocklist_scrub",
    "streaming_unigram_token_rate",
    # round 13: the learned-mixture fit (honest per-call cost: bigram LM
    # aggregate at collect + driver-side 5-round multiplicative weights)
    "corpus_mixture_doremi",
    # round 13: the re-crawl budget signal (one scan, one domain-key rollup)
    "corpus_domain_snapshot_diff",
    # round 13 second wave: the DoReMi loop-closure sampler (honest
    # per-call cost: LM aggregate + doc-count collect + the broadcast
    # rate-table apply) and the blocklist ingest screen (stateless
    # micro-batch classification through the shared matcher)
    "sample_mixture_doremi",
    "streaming_blocklist_screen",
    # round 13 third wave: the mixing family's streaming twin (per-ingest
    # mix-drift report against the broadcast learned target weights) and
    # the decontamination removal/retention audit behind the check
    "streaming_mixture_monitor",
    "text_decontaminate",
    # round 14: URL-grain exact dedup (the crawl's first dedup stage — one
    # digest exchange + the domain rollup), the decontamination ingest
    # screen (per-batch shingle + broadcast bench probe; honest per-call
    # index build), and the DoReMi loop's ingest sampler (stateless
    # broadcast-rate gate; rate-table fit charged at build, the batch
    # sampler's cost shape)
    "dedup_url_canonical",
    "streaming_decontaminate_screen",
    "streaming_mixture_sampler",
    # round 14 second wave: the threshold-free model-eval gate (shared
    # scored frame -> 1000-cell rank histogram) and the third privacy
    # audit (one (QI, lang) aggregate materialized once, QI-space math)
    "classifier_roc_auc",
    "privacy_t_closeness",
    # round 14 third wave: C4 line-level dedup (the last dedup grain —
    # digest-keyed keep-first rank + doc rollup), the named Gopher rule
    # gate (zero-exchange codegen scan), the Fleiss agreement gate
    # (|items|/|categories| rollups), and two ingest twins (URL dedup
    # with watermark-bounded state; the continuous classifier grade)
    "text_line_dedup",
    "text_gopher_quality",
    "annotator_fleiss_kappa",
    "streaming_url_dedup_screen",
    "streaming_classifier_monitor",
    # round 14 fourth wave: the PR companion to the ROC gate (shared cell
    # histogram, checkpointed once), the robots-compliance audit (broadcast
    # rule table + longest-match rank), and the Gopher gate's ingest twin
    "classifier_pr_curve",
    "crawl_robots_compliance",
    "streaming_gopher_screen",
    # round 14 fifth wave: the continuous policy gate (shared verdict +
    # rollup frames) and the bounded-state streaming AUC monitor (the
    # cell grid IS the key space — <=1000 rows of state by construction)
    "streaming_robots_screen",
    "streaming_roc_monitor",
]


# Bench-only rows: timeable functions that are deliberately NOT registry
# queries — the registry is the ORACLE surface, and these are production
# variants whose accuracy gate is a separate registered query. Appended
# after the registry basket. name -> (module, attribute).
BENCH_ONLY: dict[str, tuple[str, str]] = {
    # The Expand-free HLL profiler that actually runs at 100 TB; its
    # estimates are gate-checked against the exact profiler by the
    # registered profile_column_stats_approx (tolerance oracle), so the
    # bench row tracks the 10x speed win round-over-round without forcing
    # an exact multi-distinct side into the timing.
    "profile_column_stats_approx_production": (
        "kafka_streams_rosetta_demo_spark.queries.relational_queries",
        "profile_column_stats_approx_production",
    ),
}


def sf_from_dir(d: str) -> float:
    m = re.search(r"sf([0-9.]+)", d)
    return float(m.group(1)) if m else -1.0


def resolve_basket() -> tuple[list[str], dict[str, object]]:
    """Full bench order + name -> (spark, sf_dir) -> DataFrame resolution.
    Deterministic, so parent and child processes agree on section bounds."""
    import importlib

    from kafka_streams_rosetta_demo_spark.queries import load_all

    registry = load_all()
    fns: dict[str, object] = {}
    names: list[str] = []
    for n in [h for h in HEADLINE if h in registry] + [
        o for o in OPTIONAL if o in registry
    ]:
        names.append(n)
        fns[n] = registry[n].fn
    for n, (mod, attr) in BENCH_ONLY.items():
        names.append(n)
        fns[n] = getattr(importlib.import_module(mod), attr)
    return names, fns


def section_bounds(n: int, sections: int) -> list[tuple[int, int]]:
    return [
        (round(n * i / sections), round(n * (i + 1) / sections))
        for i in range(sections)
    ]


def section_timeout() -> int:
    """Per-section wall ceiling, scale-factor aware: 3600 s covers sf0.1
    with ~10x headroom; larger SFs scale it linearly so a legitimately
    long sf1/sf2 run is not killed as a hang. Overridable for CI."""
    try:
        override = int(os.environ.get("SPARK_GRAFT_BENCH_SECTION_TIMEOUT", "0"))
    except ValueError:
        print(
            "bench: ignoring malformed SPARK_GRAFT_BENCH_SECTION_TIMEOUT="
            f"{os.environ['SPARK_GRAFT_BENCH_SECTION_TIMEOUT']!r} "
            "(want integer seconds); using the scale-aware default",
            file=sys.stderr,
        )
        override = 0
    if override > 0:
        return override
    return max(3600, int(3600 * sf_from_dir(SF_DIR) / 0.1))


def run_section(section: int) -> dict[str, dict[str, object]]:
    """Execute one contiguous slice of the basket in THIS process: build a
    fresh session, warm it up, time each query median-of-REPS. Returns
    ``{"timings": {name: median_sec}, "rep_times": {name: [per-rep sec]}}``
    — the raw reps travel into the artifact so noise (one outlier rep) is
    distinguishable from regression (all reps shifted) without re-running."""
    from kafka_streams_rosetta_demo_spark.session import get_spark
    from kafka_streams_rosetta_demo_spark.sources.parquet import (
        load_table as load_parquet_table,
    )

    names, fns = resolve_basket()
    iso = [n for n in names if n in ISOLATED_STREAMING]
    contiguous = [n for n in names if n not in ISOLATED_STREAMING]
    if section < BENCH_SECTIONS:
        lo, hi = section_bounds(len(contiguous), BENCH_SECTIONS)[section]
        names = contiguous[lo:hi]
    else:
        # Sections past the contiguous ones are the per-query isolated
        # runs: one heavy streaming topology alone in this fresh process.
        k = section - BENCH_SECTIONS
        names = [iso[k]] if k < len(iso) else []
    if not names:
        return {"timings": {}, "rep_times": {}}

    spark = get_spark(app_name=f"rosetta-bench-s{section}")

    # Warm up the JVM/session so the first timed query doesn't pay startup:
    # codegen + shuffle machinery, then each table's file index / footer /
    # scan path (the reference comparison point — a running Kafka Streams
    # app — is always warm; first-query JVM startup is not query cost).
    spark.range(1000).selectExpr("sum(id)").collect()
    for t in ("events", "customer", "orders", "lineitem", "documents", "embeddings"):
        try:
            load_parquet_table(spark, SF_DIR, t).count()
        except Exception:
            pass
    # Warm the JOIN/WINDOW/AGGREGATE machinery too, not just the scan path:
    # section boundaries move as the basket grows, and a section whose first
    # rows are multi-join plans (the TPC-H block in the r14 layout) showed a
    # 2-3x cold-JIT gradient over its first ~12 queries with scan-only
    # warmup — the Janino codegen compiler, shuffle writers, and broadcast
    # machinery all JIT inside the first timed reps otherwise. Untimed, so
    # cost attribution is unchanged.
    try:
        from pyspark.sql import Window
        from pyspark.sql import functions as _F

        o = load_parquet_table(spark, SF_DIR, "orders")
        c = load_parquet_table(spark, SF_DIR, "customer")
        (
            o.join(c, o.o_custkey == c.c_custkey)
            .groupBy("c_nationkey")
            .agg(_F.count(_F.lit(1)), _F.sum("o_totalprice"))
            .collect()
        )
        (
            o.withColumn(
                "rn",
                _F.row_number().over(
                    Window.partitionBy("o_custkey").orderBy("o_orderkey")
                ),
            )
            .where("rn = 1")
            .count()
        )
        c.join(_F.broadcast(c.limit(50)), "c_custkey").count()
    except Exception:
        pass

    timings: dict[str, float] = {}
    rep_times: dict[str, list[float]] = {}
    for qi, name in enumerate(names):
        # Within a section the same aging applies at small scale; an
        # explicit GC between queries (never inside a timed region) keeps
        # each measurement at steady state. Across sections the process
        # boundary resets everything.
        if qi % 8 == 0:
            import gc

            gc.collect()
            spark.sparkContext._jvm.System.gc()
        qfn = fns[name]
        reps = []
        for _ in range(REPS + EXTRA_REPS.get(name, 0)):
            from kafka_streams_rosetta_demo_spark.queries.artifacts import (
                clear_artifacts,
            )
            from kafka_streams_rosetta_demo_spark.streaming.runner import (
                release_streaming_result_pins,
            )

            # Release any DISK_ONLY-degraded streaming result pins from the
            # previous rep/query (a no-op on the in-budget fast path) — a
            # degraded session must not stack result blocks per rep.
            release_streaming_result_pins()
            # Charge the artifact builds (ARTIFACT_CHARGES); guarded because
            # clear_artifacts() with no kinds clears every kind.
            if name in ARTIFACT_CHARGES:
                clear_artifacts(*ARTIFACT_CHARGES[name])
            t0 = time.perf_counter()
            qfn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            reps.append(time.perf_counter() - t0)
        timings[name] = round(statistics.median(reps), 3)
        rep_times[name] = [round(r, 3) for r in reps]
        print(
            f"  {name}: median {timings[name]:.3f}s "
            f"(runs: {', '.join(f'{r:.3f}' for r in reps)})",
            file=sys.stderr,
        )
    return {"timings": timings, "rep_times": rep_times}


def run_child_section(section: int) -> tuple[int | None, str]:
    """Spawn a section child in its OWN process group and reap the whole
    group on timeout. ``subprocess.run(timeout=...)`` kills only the direct
    Python child; the Spark JVM it spawned would survive as an orphan,
    keep consuming CPU/memory, and contend with the inline fallback —
    corrupting exactly the timings process isolation exists to protect.
    ``start_new_session=True`` puts python + JVM in one group; on timeout
    the whole group gets SIGKILL and is waited on before the caller
    falls back."""
    proc = subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), "--section", str(section)],
        stdout=subprocess.PIPE,
        text=True,
        start_new_session=True,
    )
    try:
        out, _ = proc.communicate(timeout=section_timeout())
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except (OSError, ProcessLookupError):
            proc.kill()
        proc.wait()  # no orphaned JVM before the inline fallback runs
        raise


def main() -> None:
    if len(sys.argv) >= 3 and sys.argv[1] == "--section":
        # Child mode: one section in this process, timings + per-rep times
        # as the last stdout line; per-query progress stays on stderr
        # (inherited).
        print(json.dumps(run_section(int(sys.argv[2]))))
        return

    timings: dict[str, float] = {}
    rep_times: dict[str, list[float]] = {}
    basket, _fns = resolve_basket()
    isolated = [n for n in basket if n in ISOLATED_STREAMING]
    for section in range(BENCH_SECTIONS + len(isolated)):
        returncode, child_out = None, ""
        try:
            returncode, child_out = run_child_section(section)
        except (OSError, subprocess.TimeoutExpired) as exc:
            print(f"bench section {section}: spawn failed ({exc})", file=sys.stderr)
        payload = None
        if returncode == 0:
            for line in reversed(child_out.strip().splitlines()):
                try:
                    candidate = json.loads(line)
                    if isinstance(candidate, dict) and "timings" in candidate:
                        payload = candidate
                        break
                except ValueError:
                    continue
        if payload is None:
            # Environments where spawning fails (or the child crashed) must
            # not break the driver contract: run the section inline. The
            # measurement-isolation loss is reported, not silent.
            print(
                f"bench section {section}: no child result, running inline "
                "(isolation lost for this section)",
                file=sys.stderr,
            )
            payload = run_section(section)
        timings.update(payload["timings"])
        rep_times.update(payload.get("rep_times", {}))

    out = {
        "metric": "headline_query_wall_time_total",
        # `value` sums the FIXED headline basket only, so it is comparable
        # round over round (round 1 measured exactly this set); the
        # extension ops added each round are reported per-query plus as
        # `extended_total` — growing coverage must not read as regression.
        "value": round(sum(timings[n] for n in HEADLINE if n in timings), 3),
        "unit": "sec",
        "queries": timings,
        # Raw per-rep wall times per query (`queries` holds the median of
        # these): one outlier rep = environment noise, all reps shifted =
        # real regression — attributable from the artifact alone.
        "query_reps": rep_times,
        "extended_total": round(sum(timings.values()), 3),
        "reps": REPS,
        "sections": BENCH_SECTIONS,
        # heavy streaming topologies timed each in their own fresh process
        # (round 13 — see module docstring); same rep/median policy
        "isolated": isolated,
        "sf": sf_from_dir(SF_DIR),
    }
    # The driver keeps only the last ~2000 chars of stdout; the full
    # artifact (184 queries x per-rep times, ~14 KB) can never fit, which is
    # why BENCH_r09..r13 all recorded "parsed": null. Contract fix (round
    # 14, VERDICT r13 task 6): the full JSON lands in the committed
    # BENCH_LOCAL.json, and stdout's FINAL line is a slim summary that fits
    # the capture window whole — the fixed headline basket (the
    # round-over-round comparable the judge reads against BASELINE.md),
    # the extended total, and a pointer to the full artifact. If the file
    # write fails (read-only checkout), the full JSON is printed first so
    # no data is lost; the slim line still ends stdout either way.
    full_line = json.dumps(out)
    try:
        with open(os.path.join(os.path.dirname(__file__), "BENCH_LOCAL.json"), "w") as fh:
            fh.write(full_line + "\n")
    except OSError:
        print(full_line)
    slim = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": "sec",
        "queries": {n: timings[n] for n in SLIM_QUERIES if n in timings},
        "extended_total": out["extended_total"],
        "n_queries": len(timings),
        "reps": REPS,
        "sf": out["sf"],
        "full": "BENCH_LOCAL.json",
    }
    print(json.dumps(slim))


if __name__ == "__main__":
    main()
