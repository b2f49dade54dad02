"""Scale-factor sweep: how query wall-time grows as the data grows.

Runs the HEAVY basket — the 10 most expensive bench queries, i.e. exactly
the plans whose 100 TB story needs empirical backing — plus a cross-family
representative set, at every available scale factor in ONE session. Reports
per query the wall-time at each SF, the growth ratio across the last leg
against its data-growth ratio, and plan-shape stability (hash/range
exchange count per SF; AQE may legitimately swap broadcast decisions — a
SHUFFLE-count change is the thing worth reading).

Legs: the driver's sf0.001/0.01/0.1, plus ``.scale_test/sf0.5`` when
present — generate it with ``python tools/gen_scaled_sf.py`` (5 disjoint
sf0.1 shards; see that tool's docstring for why verbatim replication would
distort dedup/vector pair counts). Override legs with
``SPARK_GRAFT_SCALE_SFS=/path/a,/path/b``.

Honest-cost policy: every memoized artifact cache (shingle/prefix/pair,
CC labels) is CLEARED before each (query, sf) cell, so each cell is the
query's full self-contained cost — the scaling signal, uncontaminated by
cross-query reuse (bench.py measures the warm-reuse story separately).

Usage: ``python tools/scaling_curve.py`` — writes the markdown table to
stdout (plus per-cell progress on stderr); SCALING_CURVE.md embeds the
result — regenerate after plan-affecting changes.
"""

from __future__ import annotations

import os
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_DEFAULT_SFS = [
    "/root/testdata/sf0.001",
    "/root/testdata/sf0.01",
    "/root/testdata/sf0.1",
]
_SF05 = os.path.join(_REPO, ".scale_test", "sf0.5")
_SF10 = os.path.join(_REPO, ".scale_test", "sf1.0")
REPS = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))

# The 10 most expensive queries of the r5 bench (BENCH_r05) — the heavy
# basket whose growth curves carry the 100 TB argument…
HEAVY = [
    "streaming_interval_join_outer",
    "graph_pagerank",
    "dedup_incremental_screen",
    "corpus_source_similarity",
    "streaming_calls_window_agg",
    "kmeans_inertia",
    "dedup_containment",
    "dedup_semantic_semdedup",
    "multimodal_phash_dedup",
    "join_bloom_prune",
    # round-7 heavy additions (the BENCH_r06 top of the table)
    "streaming_range_join_keyless",
    "profile_column_stats",
    "profile_column_stats_approx",
    "knn_recall_eval",
    "tpch_q2_min_cost_supplier",
    "tpch_q21_waiting_suppliers",
    "agg_hll_intersection",
]
# …plus cross-family representatives (scan-agg, joins, window, dedup,
# vectors, text ranking, curation) for breadth.
REPRESENTATIVE = [
    "agg_pricing_summary",
    "rosetta_enriched",
    "join_three_way_topk",
    "join_scd2_point_in_time",
    "window_moving_sum",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "knn_brute_force",
    "text_tfidf_topk",
    "sample_stratified_hash",
    "agg_key_skew_profile",
    # round-7 families: selection, layout, drift, fusion
    "sample_importance_dsir",
    "corpus_perplexity_buckets",
    "layout_zorder_pruning",
    "profile_drift_psi",
    "search_rrf_fusion",
    # round-9 families: embedding compression gate, novelty profiling
    "knn_scalar_quant_eval",
    "text_ngram_novelty",
]


def sf_value(d: str) -> float:
    m = re.search(r"sf([0-9.]+)", d)
    return float(m.group(1)) if m else -1.0


def clear_caches() -> None:
    from kafka_streams_rosetta_demo_spark.queries.artifacts import clear_artifacts
    from kafka_streams_rosetta_demo_spark.streaming.runner import (
        release_streaming_result_pins,
    )

    clear_artifacts()
    release_streaming_result_pins()


def main() -> None:
    from kafka_streams_rosetta_demo_spark.queries import load_all
    from kafka_streams_rosetta_demo_spark.session import get_spark
    from kafka_streams_rosetta_demo_spark.sources.parquet import load_table

    env_sfs = os.environ.get("SPARK_GRAFT_SCALE_SFS")
    if env_sfs:
        sfs = env_sfs.split(",")
    else:
        sfs = list(_DEFAULT_SFS)
        if os.path.isdir(_SF05):
            sfs.append(_SF05)
        if os.path.isdir(_SF10):
            sfs.append(_SF10)

    registry = load_all()
    basket = [n for n in HEAVY + REPRESENTATIVE if n in registry]
    env_queries = os.environ.get("SPARK_GRAFT_SCALE_QUERIES")
    if env_queries:
        basket = [n for n in env_queries.split(",") if n in registry]
    spark = get_spark(app_name="rosetta-scaling")
    spark.range(1000).selectExpr("sum(id)").collect()

    rows = []
    for name in basket:
        q = registry[name]
        per_sf: list[float] = []
        shuffles: list[int] = []
        for sf_dir in sfs:
            for t in ("events", "customer", "orders", "lineitem", "documents",
                      "embeddings"):
                try:
                    load_table(spark, sf_dir, t).count()
                except Exception:
                    pass
            reps = []
            for _ in range(REPS):
                clear_caches()
                t0 = time.perf_counter()
                q.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                reps.append(time.perf_counter() - t0)
            per_sf.append(statistics.median(reps))
            try:
                plan = (
                    q.fn(spark, sf_dir)
                    ._jdf.queryExecution()
                    .executedPlan()
                    .toString()
                )
                shuffles.append(
                    plan.count("Exchange hashpartitioning")
                    + plan.count("Exchange rangepartitioning")
                )
            except Exception:
                shuffles.append(-1)
            # long sessions age (GC-driven ContextCleaner) — collect between
            # cells, never inside a timed region
            import gc

            gc.collect()
            spark.sparkContext._jvm.System.gc()
        data_ratio = sf_value(sfs[-1]) / sf_value(sfs[-2])
        growth = per_sf[-1] / per_sf[-2] if per_sf[-2] > 0 else float("inf")
        rows.append((name, per_sf, growth, data_ratio, shuffles))
        print(
            f"  {name}: {' '.join(f'{t:.2f}s' for t in per_sf)} "
            f"last-leg growth={growth:.1f}x (data {data_ratio:.0f}x) "
            f"shuffles={shuffles}",
            file=sys.stderr,
        )

    hdr_sfs = " | ".join(f"sf{sf_value(d):g}" for d in sfs)
    print(f"| query | {hdr_sfs} | last-leg growth (data x) | shuffles (by sf) |")
    print("|---|" + "---|" * (len(sfs) + 2))
    for name, per_sf, growth, data_ratio, shuffles in rows:
        cells = " | ".join(f"{t:.2f}s" for t in per_sf)
        print(
            f"| {name} | {cells} | {growth:.1f}x ({data_ratio:.0f}x) "
            f"| {'/'.join(map(str, shuffles))} |"
        )


if __name__ == "__main__":
    main()
