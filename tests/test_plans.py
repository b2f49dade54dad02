"""Physical-plan invariants enforced as regression tests.

SCALING.md states the 100 TB contract (no cartesian products, Python off
the hot path, filters reaching the scans, broadcast nested loop only where
a tiny broadcast side makes it the *right* plan). `tools/plan_audit.py`
reports these properties; this module pins them so a refactor that silently
regresses a plan shape fails CI, not a cluster run.

Plans are taken at sf0.001 — plan *shape* does not depend on scale factor
(no stats-driven strategy change can introduce a cartesian product or a
row-Python UDF).
"""

from __future__ import annotations

import pytest

# knn_brute_force deliberately broadcasts the 8-vector query set against the
# corpus scan — a BroadcastNestedLoopJoin over |Q| x N with a constant-size
# broadcast side IS the exact-kNN plan (see its docstring). That legality is
# ENFORCED, not assumed: operators/vectors.capped_query_set raises past
# BROADCAST_QUERY_CAP (4096) rows, so the declaration here covers only the
# bounded-|Q| shape (guard pinned in test_round7_ops.py). tpch_q22's
# scalar above-average gate joins a ONE-row aggregate on a constant key;
# Catalyst constant-folds the key away and plans the same shape — a 1-row
# IdentityBroadcastMode side with the inequality as the join residual.
BNLJ_ALLOWED = {
    "knn_brute_force",
    "knn_recall_eval",  # composes knn_brute_force's declared exact baseline
    "tpch_q22_sales_opportunity",
    "tpch_q11_important_parts",  # value·1000 > total residual on a 1-row side
    "knn_matryoshka_eval",  # same declared bounded-|Q| exact-kNN shape
    "knn_scalar_quant_eval",  # same shape; int8-dequant side computed per-row (r9)
    "knn_ann_ivf",  # 1-row lazy cap-guard frame broadcast onto the query set (r8)
    "layout_zorder_pruning",  # 1-row min/max-bounds frame broadcast into the row map
    "corpus_perplexity_buckets",  # 1-row n_docs scalar broadcast for the bucket DIV
    "corpus_dedup_rate_curve",  # 1-row max(doc_id) scalar broadcast for the decile width (r9)
    "agg_selfjoin_size_cms",  # 1-row sketch-estimate frame broadcast onto the exact row
    "search_maxsim_late_interaction",  # same declared bounded-|Q| exact scoring shape as knn_brute_force (query TOKENS broadcast, cap enforced)
    "knn_pq_eval",  # same declared bounded-|Q| exact-kNN shape; PQ encode is per-row (r12)
    "knn_ann_pq",  # 1-row lazy cap-guard frame broadcast onto the query set (the knn_ann_ivf shape, r12)
    "privacy_t_closeness",  # two declared tiny-side cross joins: the 1-row corpus total onto the |langs| table, and the |langs| ppm table onto the QI group table (r14)
    "annotator_fleiss_kappa",  # 1-row pe scalar broadcast onto the |categories| report (r14)
    "classifier_pr_curve",  # 1-row recall-total scalar broadcast onto the <=1000-cell curve (r14)
}

# Queries whose parquet scan must carry pushed filters: each has a selective
# predicate on a stored column that Catalyst should deliver to the reader.
PUSHDOWN_REQUIRED = (
    "agg_pricing_summary",  # shipdate range
    "rosetta_filter_not_null",  # user_id IS NOT NULL
    "rosetta_enriched",  # flagship: events filter before windowed agg
    "join_three_way_topk",  # segment filter before the join
    "unnest_tokens",  # doc_id cap below the Generate
    "sample_stratified_hash",  # hash-bucket predicate
    "tpch_q10_returned_items",  # returnflag + quarter filters
    "tpch_q14_promo_revenue",  # ship-month range
    "tpch_q6_forecast_revenue",  # all four predicates reach the scan
    "knn_matryoshka_eval",  # vec_id < 8 pushes into the query-side scan
)


@pytest.fixture(scope="module")
def plans(spark, sf_smoke):
    from kafka_streams_rosetta_demo_spark.queries import load_all

    out = {}
    for name, q in sorted(load_all().items()):
        if name.startswith("streaming_"):
            continue  # per-micro-batch plans; pinned by test_streaming instead
        out[name] = q.fn(spark, sf_smoke)._jdf.queryExecution().executedPlan().toString()
    return out


def test_no_cartesian_product(plans):
    bad = [n for n, p in plans.items() if "CartesianProduct" in p]
    assert bad == [], f"cartesian product in: {bad}"


def test_broadcast_nested_loop_only_where_declared(plans):
    bad = [
        n
        for n, p in plans.items()
        if "BroadcastNestedLoopJoin" in p and n not in BNLJ_ALLOWED
    ]
    assert bad == [], f"undeclared BroadcastNestedLoopJoin in: {bad}"


def test_no_row_python_udf_anywhere(plans):
    # Arrow-batched Python (ArrowEvalPython / MapInPandas — the multimodal
    # featurizer) is the declared escape hatch; row-at-a-time BatchEvalPython
    # must never appear in a registered plan.
    bad = [n for n, p in plans.items() if "BatchEvalPython" in p]
    assert bad == [], f"row-at-a-time Python UDF in: {bad}"


def test_arrow_python_only_in_multimodal(plans):
    arrow = [
        n
        for n, p in plans.items()
        if (
            "ArrowEvalPython" in p
            or "InPandas" in p
            or "AggregatePython" in p
            or "MapInArrow" in p
        )
    ]
    assert set(arrow) <= {
        # round 14: the Arrow vector kernels (operators/veckernels.py) —
        # narrow zero-shuffle batch maps replacing the interpreted
        # HOF folds (PQ encode 17x, IVF assign 1.7x), bit-equality with
        # the JVM twins pinned in tests/test_veckernels.py
        "knn_ann_ivf",
        "kmeans_inertia",
        "embedding_triplet_mining",
        "dedup_semantic_semdedup",
        "knn_pq_eval",
        "knn_ann_pq",
        "knn_recall_eval",  # composes knn_ann_ivf, so inherits its kernel
        # round 15: the hyperplane band-key signature kernel
        # (hyperplane_bands_arrow) behind both banded-LSH dedup queries —
        # same narrow zero-shuffle batch-map contract, bit-equality pinned
        "dedup_embedding_cosine",
        "dedup_crosslingual_mirror",
        "multimodal_features",
        "multimodal_frame_sample",
        "multimodal_resample",
        "multimodal_resize",
        # declared jar-less Avro serde fallback: Arrow UDFs over the columnar
        # codec (streaming/avro_codec.py); the JVM from_avro/to_avro expressions
        # replace them wherever spark-avro ships (kafka_io.resolved_serde)
        "kafka_avro_roundtrip",
        # the three §2.7 Pandas surfaces, deliberately driver-green:
        # grouped-map (FlatMapGroupsInPandas), scalar (ArrowEvalPython),
        # grouped-agg (ArrowAggregatePython) — all integer-exact
        "agg_grouped_ols",
        "scalar_pandas_wordstats",
        "agg_pandas_trimmed",
        # the declared LARGE-VOCABULARY BPE encode fallback: per-document
        # mapInPandas with no distinct stage (operators/bpe.py) — Python
        # here is the query's whole point, and its plan is zero-shuffle
        "text_bpe_doc_tokens",
    }, f"unexpected Python stage in: {arrow}"


def test_selective_scans_push_filters(plans):
    missing = [
        n
        for n in PUSHDOWN_REQUIRED
        if "PushedFilters: [" not in plans[n] or "PushedFilters: []" in plans[n]
    ]
    assert missing == [], f"filter not pushed to scan in: {missing}"


def test_exists_decorrelates_to_semi_join(plans):
    # The correlated EXISTS must plan as a (broadcast or shuffled) left-semi
    # hash join — never a per-row subquery re-execution or nested loop.
    p = plans["sql_exists_correlated"]
    assert "LeftSemi" in p, p
    assert "NestedLoop" not in p


def test_multiset_ops_plan_without_joins(plans):
    # EXCEPT ALL / INTERSECT ALL lower to a single hash aggregation over the
    # union (dual multiplicity counts + generate) — a join here would mean
    # Spark fell back to a strictly worse two-shuffle plan.
    for name in ("set_except_all", "set_intersect_all"):
        p = plans[name]
        assert "Join" not in p, f"{name} planned a join:\n{p}"


def test_keep_best_broadcasts_labels_not_corpus(plans):
    # keep_best_survivors must broadcast the cluster-label frame (docs WITH a
    # near-dup — tiny) while the full-corpus quality projection streams. The
    # returned plan's only join is quality(left) x labels(right), so exactly
    # one BroadcastExchange building the RIGHT side proves the direction;
    # broadcasting the left would be the round-3 scale bug (full corpus into
    # every executor) resurfacing.
    p = plans["dedup_cluster_keep_best"]
    assert p.count("BroadcastExchange") == 1, p
    assert "BuildRight" in p and "BuildLeft" not in p, p


def test_tpch_topk_plans_as_take_ordered(plans):
    # Q10/Q18's ORDER BY ... LIMIT must plan as TakeOrderedAndProject —
    # a global Sort + Limit would materialize a total order of the grouped
    # stream, which at 100 TB is the difference between a per-partition
    # heap and a single-partition sort.
    for name in ("tpch_q10_returned_items", "tpch_q18_large_volume"):
        p = plans[name]
        assert "TakeOrderedAndProject" in p, f"{name} lost its top-k plan:\n{p}"


def test_tpch_q19_disjunction_splits_per_side(plans):
    # The famous Q19 planner behavior: from ONE declared three-branch OR,
    # Catalyst must extract the partkey equi-join (hash join, no nested
    # loop / cartesian) AND derive the lineitem-only implication of the
    # disjunction (the OR of quantity ranges) pushed into the fact scan —
    # a planner that can't split the OR reads every lineitem row.
    p = plans["tpch_q19_disjunctive_revenue"]
    assert "BroadcastHashJoin" in p or "SortMergeJoin" in p, p
    assert "NestedLoop" not in p and "Cartesian" not in p, p
    assert "LessThanOrEqual(l_quantity" in p, (
        "quantity disjunction not pushed to the lineitem scan:\n" + p
    )


def test_tpch_q22_anti_join_and_bounded_scalar_gate(plans):
    # The lapsed-customer check must be a hash ANTI join (a nested-loop anti
    # join would re-probe orders per customer), and every broadcast build
    # side must be the right side — the scalar gate's one-row aggregate and
    # the filtered orders keys — never the customer table itself.
    p = plans["tpch_q22_sales_opportunity"]
    assert "LeftAnti, BuildRight" in p, p
    assert "BuildLeft" not in p, p
    # The only nested-loop join allowed is the scalar gate's 1-row
    # IdentityBroadcastMode side (see BNLJ_ALLOWED).
    assert p.count("BroadcastNestedLoopJoin") <= 1, p


def test_runtime_bloom_filter_prunes_fact_scan(spark, sf_smoke):
    """100 TB posture: when a selective dim join cannot broadcast, Spark's
    runtime Bloom filter should still pre-prune the fact side (a
    ``bloom_filter_agg`` subquery on the dim keys injected as
    ``might_contain`` above the fact scan — the InjectRuntimeFilter rule).
    The sandbox tables sit under the default size thresholds, so this pin
    lowers them for one query to prove the engine's plans *inherit* the
    optimization the moment real table sizes cross the line; nothing in the
    engine disables it."""
    from pyspark.sql import functions as F

    from kafka_streams_rosetta_demo_spark.sources.parquet import load_table

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    old = {}
    for k in confs:
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        cust = load_table(spark, sf_smoke, "customer").where(
            F.col("c_mktsegment") == "BUILDING"
        )
        orders = load_table(spark, sf_smoke, "orders")
        df = (
            orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
            .groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, "runtime Bloom filter not injected"
        assert "bloom_filter_agg" in plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_explicit_bloom_predicate_sits_in_fact_scan_stage(plans):
    """join_bloom_prune's whole point is WHERE the membership predicate
    runs: the xxhash64 bit-test filter must sit in the lineitem scan
    stage, BEFORE any exchange — pruning after the shuffle would move the
    bytes it exists to avoid. Also pins that the predicate stays codegen:
    the word array must be a folded literal (no per-row CreateArray) and
    no interpreted higher-order `forall` (the 9x-slower first cut)."""
    p = plans["join_bloom_prune"]
    lines = p.splitlines()
    fi = next(i for i, ln in enumerate(lines) if "xxhash64" in ln and "Filter" in ln)
    si = next(
        i for i, ln in enumerate(lines) if "lineitem" in ln and "Scan" in ln
    )
    assert fi < si, "bloom filter not above the lineitem scan"
    between = lines[fi:si]
    assert not any("Exchange" in ln for ln in between), (
        "exchange between bloom predicate and fact scan:\n" + "\n".join(between)
    )
    assert "forall" not in p, "bloom predicate regressed to interpreted HOF"
    # folded literal prints as [..]; an unfolded CreateArray prints array(..)
    assert "array(" not in lines[fi], "bloom words literal not constant-folded"


def test_global_rank_avoids_single_partition_sort(plans, spark, sf_smoke):
    """sort_global_rank exists to dodge the one guaranteed 100 TB failure:
    a bare row_number() OVER (ORDER BY ...) plans Exchange SinglePartition
    (one task sorts everything). Pin both directions: the naive spelling
    really does plan a single-partition exchange (so the contrast is
    real), and the registered query's plan never does — its window is
    partitioned by the range-partition id."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from kafka_streams_rosetta_demo_spark.sources.parquet import load_table

    naive = (
        load_table(spark, sf_smoke, "documents")
        .select("doc_id", "n_chars")
        .withColumn(
            "rn", F.row_number().over(Window.orderBy("n_chars", "doc_id"))
        )
    )
    naive_plan = naive._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" in naive_plan, "naive contrast no longer single-partition"

    p = plans["sort_global_rank"]
    assert "SinglePartition" not in p, "global rank regressed to a global sort"


# Shuffle-count ceilings for flagship plans (executed at sf0.001, AQE-final).
# Each value is the CURRENT inherent data movement of the plan — a refactor
# that adds an exchange to any of these fails here, not on a cluster run.
# Ceilings are exact-at-pin-time upper bounds; legitimately cheaper plans
# (fewer shuffles) pass.
SHUFFLE_BUDGET = {
    "rosetta_enriched": 1,  # flagship: ONE (key, window) shuffle + broadcast dim
    "rosetta_calls_window_agg": 1,
    "agg_pricing_summary": 1,  # TPC-H Q1 twin: map-side partials -> one exchange
    "tpch_q5_local_supplier": 1,  # six-table snowflake on ONE fact shuffle
    "tpch_q6_forecast_revenue": 0,  # the minimal scan-aggregate
    "tpch_q21_waiting_suppliers": 3,  # late set + semi + anti, late set reused
    "tpch_q2_min_cost_supplier": 5,  # pair-distinct + grouped min + join-back
    "join_range_keyless": 2,  # bin join + final agg
    "join_broadcast_dim": 1,
    "dedup_exact": 1,  # ONE digest shuffle
    "corpus_training_order": 1,  # shard shuffle; sort is within partitions
    "timeseries_downsample_ohlc": 1,  # two-phase hash agg, endpoints map-side
    "cdc_snapshot_diff": 2,  # one per snapshot grain; outer join co-partitioned
    "profile_column_stats": 1,  # one scan, one aggregation (Expand inside)
    "embedding_triplet_mining": 3,  # cell join + two rank-1 windows
    "join_asof": 1,  # union -> one key shuffle -> carry-forward window
    "scalar_map_ops": 2,  # (user, type) partials + user rollup
    "funnel_stages": 1,  # all three stages share one user_id partitioning
    "sort_limit_topk": 0,  # TakeOrderedAndProject, no exchange
    # round-7 additions
    "profile_drift_psi": 1,  # ONE conditional-agg scan; bin frame is bounded
    "layout_zorder_pruning": 2,  # one 64-group agg per layout; scalars broadcast
    "layout_compaction_plan": 2,  # file-grain agg + plan agg; window rides day keys
    "sample_importance_dsir": 3,  # two bucket aggs + doc scoring agg
    "text_phrase_search": 2,  # posting-list join + per-doc match agg
    "knn_matryoshka_eval": 1,  # both rank windows + the recall agg share one query_id shuffle
    "search_rrf_fusion": 2,  # posting agg + doc scoring agg; 20-row rank frames are bounded
    "dedup_winnowing": 2,  # fingerprint self-join + pair count; selection is per-row
    "agg_selfjoin_size_cms": 3,  # cell grid + exact per-key agg + its rollup
    # round-8 addition
    "dedup_winnowing_screen": 3,  # f-probe join + distinct-corpus count (2-level distinct agg); final left join broadcasts
    # round-9 additions
    "text_ngram_novelty": 2,  # gram-key window min + doc_id rollup (rebalance is round-robin, not counted); no join — the first-occurrence fact never leaves the gram exchange
    "corpus_dedup_rate_curve": 3,  # dup-id distinct + doc_id join + 10-key rollup; pairs come from the checkpointed artifact (its build shuffles are charged to the family builder)
    "corpus_token_budget_plan": 1,  # one per-source aggregate; the totals reduce is SinglePartition over |sources| rows
    # round-10 additions (the BPE family: the vocabulary map is a pinned
    # artifact, so Arrow never appears in these registered plans and the
    # corpus side joins it by broadcast — no join shuffle anywhere)
    "text_bpe_train": 0,  # returned merge table IS bounded model state (LocalTableScan); the training aggregate is charged to the artifact build
    "text_bpe_tokenize": 1,  # ONE doc_id aggregate; vocab join broadcasts
    "corpus_token_budget_plan_bpe": 2,  # token-sum agg + the base planner's doc-count agg (broadcast back); both |sources|-key
    "corpus_pack_sequences_bpe": 2,  # doc-count agg + shard window
    "doc_chunk_bpe_budget": 1,  # the (doc_id, chunk) rollup REUSES the running-sum window's doc_id exchange
    "text_bpe_fertility": 1,  # one per-source aggregate
    # round-11 additions
    "text_bpe_doc_tokens": 0,  # the mapInPandas fallback IS a pure map — zero exchanges (also pinned in test_round11_ops)
    "text_bpe_vocab_ids": 1,  # ONE bounded token-frequency agg; the id window is SinglePartition over ~150 model-state rows; word agg charged to the lists artifact
    "text_bpe_encode_corpus": 2,  # token-frequency agg + the doc_id offset window; list/id sides broadcast; token-grain volume never shuffles
    "preference_winrate_matrix": 3,  # user_id lag window + (winner,loser) partial agg + |types|²-cell matrix agg
    "preference_bradley_terry": 0,  # LocalTableScan: the fit is driver-side model state (wins agg charged at collect)
    "search_ndcg_mrr_eval": 5,  # tf posting agg + salted local top-10 + global per-term window + n_candidates agg + tiny-frame joins
    "graph_label_propagation": 0,  # final frame is the per-round localCheckpoint (pagerank discipline); per-round joins run eagerly at build
    "privacy_l_diversity": 2,  # two-phase distinct: (QI, lang) partial distinct + QI rollup, both map-side-combining
    "search_maxsim_late_interaction": 3,  # (q_tok, c_doc) max agg + (q_doc, c_doc) integer sum + the per-query top-k window; scoring itself never shuffles
    "classifier_confusion_eval": 1,  # one scan computes score + reference flag per row; the confusion rollup is the only exchange (|langs| keys)
    "quality_expectation_suite": 1,  # per-table multi-aggregates + broadcast FK probes; the one exchange is the documents countDistinct
    "dedup_crosslingual_mirror": 1,  # banded candidate distinct is the one exchange; band keys map-side over the checkpointed union, lang joins broadcast pair-sized sides
    # round-12 additions
    "text_normalize_scrub": 0,  # pure per-row string normalization: one scan, no joins, no exchange
    "sample_quality_weighted": 0,  # entirely map-side: score, bucket, and hash keep decision in one scan (broadcast 5-row model)
    "classifier_calibration_curve": 1,  # one scan computes margin + reference flag; the 10-key bucket rollup is the only exchange
    "knn_ann_pq": 1,  # cell assign + PQ encode pipeline in one scan; candidates equi-join the broadcast probe table; the top-k window is the only exchange
    "knn_pq_eval": 1,  # both rank windows + the recall agg share one query_id shuffle (the matryoshka shape); PQ encoding is a per-row expression
    "text_unigram_fertility": 1,  # vocabulary broadcast join + one |sources| aggregate (the text_bpe_fertility shape); the word->n_toks map is a pinned artifact, so Arrow never appears
    "text_unigram_train": 0,  # LocalTableScan: the hard-EM fit is driver-side bounded model state (word agg charged at collect, the text_bpe_train/BT shape)
    # round-13 additions
    "text_blocklist_scrub": 0,  # curated term set rides as a literal array; JVM HOF filter over the split column — one scan, no joins, no exchange
    "corpus_mixture_doremi": 0,  # LocalTableScan: the 5-round multiplicative-weights fit is driver-side bounded model state (per-source LM agg charged at collect, the BT/unigram shape)
    "corpus_domain_snapshot_diff": 1,  # snapshot membership/change flags fuse map-side (both snapshots are views of one scan); the |domains|-key rollup is the only exchange
    "sample_mixture_doremi": 0,  # registered plan: documents scan + broadcast |sources|-row rate table + hash filter; the LM aggregate behind the rates is charged at collect (the doremi/BT shape)
    "text_decontaminate": 3,  # overlap frame's doc_id aggregate + the doc-grain join-back + the |sources| rollup; the bench n-gram set broadcasts (the check's shape + one rollup)
    "corpus_domain_profile": 4,  # two-phase distinct-source expand (2) + pair-id distinct (1) + the domain rollup; pair graph is the checkpointed family artifact (its build charged to the builder); total reduce is SinglePartition over |domains| rows
    "text_boilerplate_scrub": 5,  # two exact-distinct aggs (2 exchanges each: (keys, doc_id) partial + rollup) + the per-doc rollup; at test SF the freq/src joins broadcast (at scale the paras side adds one co-partitioned (source, ph) exchange)
    # round-14 additions
    "dedup_url_canonical": 2,  # canonicalization fuses into the scan; ONE 16-byte digest exchange (map-side partials collapse the size-2 dup classes) + the |domains| rollup — the dedup_exact shape at URL grain
    "classifier_roc_auc": 1,  # the shared scored frame's <=1000-cell histogram is the only hash exchange; the cumulative window is SinglePartition over bounded cells (declared), the final agg a 1-row reduce
    "privacy_t_closeness": 3,  # the (QI, lang) aggregate materializes once (localCheckpoint, 3 consumers); downstream: group rollup + |langs| rollup + final QI rollup — all QI-space-sized
    # round-14 third wave
    "text_line_dedup": 2,  # digest-keyed keep-first rank (per-key sort bounded by dup-class size) + the per-doc rollup — the dedup_exact shape at paragraph grain
    "text_gopher_quality": 0,  # planted append + all five rules fuse into ONE codegen scan (the blocklist shape)
    "annotator_fleiss_kappa": 0,  # registered plan reads the two checkpointed report tables (vote counts charged at the eager truncation — the t_closeness discipline); pe is a SinglePartition reduce over |categories| rows
    # round-14 fourth wave
    "classifier_pr_curve": 0,  # reads the checkpointed <=1000-cell histogram (its corpus scan charged at the eager truncation); the cumulative window + recall total are SinglePartition over bounded cells
    "crawl_robots_compliance": 2,  # broadcast literal rule table fuses map-side; the longest-match rank is one doc_id exchange (per-key group <= |rules per domain|) + the |domains| rollup
}


def test_shuffle_budgets_hold(plans):
    over = {}
    for name, budget in SHUFFLE_BUDGET.items():
        p = plans[name]
        got = p.count("Exchange hashpartitioning") + p.count(
            "Exchange rangepartitioning"
        )
        if got > budget:
            over[name] = (got, budget)
    assert not over, f"shuffle budget exceeded (got, budget): {over}"
