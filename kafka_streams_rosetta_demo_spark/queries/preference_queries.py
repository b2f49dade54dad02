"""Preference-data and ranking-evaluation queries (X155–X157).

The RLHF slice of a training-data platform the registry did not cover yet:

- ``preference_winrate_matrix`` — the pairwise win-rate matrix over
  comparison outcomes (the sanity table every preference dataset ships
  with);
- ``preference_bradley_terry`` — Bradley–Terry strengths fitted over the
  same comparisons (the reward-model-grade aggregate; Hunter 2004 MM
  iterations in exact integers, oracle-replayed as unrolled CTEs);
- ``search_ndcg_mrr_eval`` — graded nDCG@10 + MRR@10 for the BM25 ranker
  (the retrieval-eval metric family next to ``knn_recall_eval``'s
  recall@k), integer micro-unit discounts so both engines hash-match.

Comparison synthesis: the testdata has no native preference table, so —
like the purchase graph behind ``graph_pagerank`` — comparisons are derived
deterministically from ``events``: within each user's time-ordered
sequence, each consecutive pair of DIFFERENT event types is a head-to-head
judged by ``value`` (higher wins; equal values and same-type pairs are no
contest). Both engines derive the identical pair set (ties on ``ts`` break
by ``event_id``), so the whole family is hash-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ..operators.preference import (
    BT_ITERATIONS,
    BT_SCALE,
    fit_bradley_terry,
    ndcg_discount_micro,
    quantize_wins_ppm,
)
from ..sources.parquet import load_table
from . import register
from .corpus_queries import _ppm_ratio_sql  # the shared exact ppm split

# ---------------------------------------------------------------------------
# Shared comparison derivation (events -> ordered (winner, loser, n) counts)
# ---------------------------------------------------------------------------

# Ties on ts break by event_id; DuckDB's parquet timestamps are microsecond
# (date_trunc matches event_transition_matrix's proven pattern).
_CMP_CTES = """seq AS (
  SELECT user_id, event_type, value,
         lag(event_type) OVER w AS p_type,
         lag(value)      OVER w AS p_value
  FROM events
  WINDOW w AS (PARTITION BY user_id
               ORDER BY date_trunc('microseconds', ts), event_id)
),
cmp AS (
  SELECT CASE WHEN value > p_value THEN event_type ELSE p_type END AS winner,
         CASE WHEN value > p_value THEN p_type ELSE event_type END AS loser
  FROM seq
  WHERE p_type IS NOT NULL AND event_type IS NOT NULL
    AND p_type <> event_type
    AND value IS NOT NULL AND p_value IS NOT NULL AND value <> p_value
),
wcnt AS (
  SELECT winner, loser, CAST(count(*) AS BIGINT) AS n
  FROM cmp GROUP BY winner, loser
)"""


def pairwise_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered (winner, loser) -> comparison-win counts from per-user event
    sequences. ONE shuffle of events on ``user_id`` feeds the lag window
    (the sessionizer partitioning); the win count collapses map-side into
    at most |event_types|² cells — bounded model state at any corpus size."""
    return wins_from_events(load_table(spark, sf_dir, "events"))


def wins_from_events(events: DataFrame) -> DataFrame:
    """The comparison deriver over any events-shaped frame (the streaming
    twin's cross-batch test replays it over staged slices)."""
    ev = events.select("user_id", "ts", "event_id", "event_type", "value")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        "value",
        F.lag("event_type").over(w).alias("p_type"),
        F.lag("value").over(w).alias("p_value"),
    )
    cmp = seq.where(
        F.col("p_type").isNotNull()
        & F.col("event_type").isNotNull()
        & (F.col("p_type") != F.col("event_type"))
        & F.col("value").isNotNull()
        & F.col("p_value").isNotNull()
        & (F.col("value") != F.col("p_value"))
    )
    win = F.when(F.col("value") > F.col("p_value"), F.col("event_type")).otherwise(
        F.col("p_type")
    )
    lose = F.when(F.col("value") > F.col("p_value"), F.col("p_type")).otherwise(
        F.col("event_type")
    )
    return win_counts(cmp.select(win.alias("winner"), lose.alias("loser")))


def win_counts(comparisons: DataFrame) -> DataFrame:
    """``(winner, loser) -> n`` over one row per comparison — the aggregate
    of the batch deriver and of the streaming emitter's sink
    (``streaming_preference_winrate``)."""
    return comparisons.groupBy("winner", "loser").agg(F.count(F.lit(1)).alias("n"))


def winrate_matrix(wins: DataFrame) -> DataFrame:
    """Unordered win-rate matrix from ordered win counts. The ppm ratio is
    the shared exact quotient/remainder split (``_ppm_ratio_sql`` — the
    ``_budget_plan_math`` discipline): exact floor(wins_a·1e6 / n) without
    ever forming wins_a·1e6, so the int64 math stays exact past 9.2e15
    comparisons per type pair on both engines."""
    a_first = F.col("winner") < F.col("loser")
    m = wins.select(
        F.least("winner", "loser").alias("type_a"),
        F.greatest("winner", "loser").alias("type_b"),
        F.when(a_first, F.col("n")).otherwise(F.lit(0)).alias("wa"),
        F.when(a_first, F.lit(0)).otherwise(F.col("n")).alias("wb"),
    )
    agg = m.groupBy("type_a", "type_b").agg(
        (F.sum("wa") + F.sum("wb")).cast("long").alias("n_comparisons"),
        F.sum("wa").cast("long").alias("wins_a"),
        F.sum("wb").cast("long").alias("wins_b"),
    )
    return agg.select(
        "type_a",
        "type_b",
        "n_comparisons",
        "wins_a",
        "wins_b",
        F.expr(_ppm_ratio_sql("wins_a", "n_comparisons", "DIV")).alias(
            "winrate_a_ppm"
        ),
    )


_WINRATE_ORACLE = f"""
WITH {_CMP_CTES},
m AS (
  SELECT CASE WHEN winner < loser THEN winner ELSE loser END AS type_a,
         CASE WHEN winner < loser THEN loser ELSE winner END AS type_b,
         CASE WHEN winner < loser THEN n ELSE 0 END AS wa,
         CASE WHEN winner < loser THEN 0 ELSE n END AS wb
  FROM wcnt
),
agg AS (
  SELECT type_a, type_b,
         CAST(sum(wa) + sum(wb) AS BIGINT) AS n_comparisons,
         CAST(sum(wa) AS BIGINT) AS wins_a,
         CAST(sum(wb) AS BIGINT) AS wins_b
  FROM m GROUP BY type_a, type_b
)
SELECT type_a, type_b, n_comparisons, wins_a, wins_b,
       {_ppm_ratio_sql("wins_a", "n_comparisons", "//")} AS winrate_a_ppm
FROM agg
"""


@register("preference_winrate_matrix", oracle=_WINRATE_ORACLE)
def preference_winrate_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise win-rate matrix over preference comparisons: for each
    unordered type pair (a < b), total head-to-heads, wins per side, and
    a's win rate in ppm — the first table anyone profiles a preference
    dataset with (inconsistency/skew shows up here before any model fit).

    Scale: one events shuffle on user_id (lag window) + a map-side-combining
    aggregate to |types|² cells; everything after the first shuffle is
    model-state-sized. The ppm ratio uses the exact two-stage integer split
    (see :func:`winrate_matrix`)."""
    return winrate_matrix(pairwise_wins(spark, sf_dir))


# ---------------------------------------------------------------------------
# preference_bradley_terry
# ---------------------------------------------------------------------------


def _bt_oracle() -> str:
    s = BT_SCALE
    head = f"""
WITH {_CMP_CTES},
tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM wcnt),
wppm AS MATERIALIZED (
  SELECT winner, loser,
         CAST((CAST(n AS HUGEINT) * {s}) // (SELECT t FROM tot) AS BIGINT) AS w
  FROM wcnt
  WHERE (CAST(n AS HUGEINT) * {s}) // (SELECT t FROM tot) > 0
),
items AS MATERIALIZED (SELECT winner AS item FROM wppm UNION SELECT loser AS item FROM wppm),
kk AS (SELECT CAST(count(*) AS BIGINT) AS k FROM items),
np AS MATERIALIZED (
  SELECT i.item AS i, j.item AS j,
         CAST(COALESCE(w1.w, 0) + COALESCE(w2.w, 0) AS BIGINT) AS n_ppm
  FROM items i JOIN items j ON i.item <> j.item
  LEFT JOIN wppm w1 ON w1.winner = i.item AND w1.loser = j.item
  LEFT JOIN wppm w2 ON w2.winner = j.item AND w2.loser = i.item
),
wt AS MATERIALIZED (
  SELECT i.item, CAST(COALESCE(sw.sw, 0) AS BIGINT) AS wp
  FROM items i
  LEFT JOIN (SELECT winner, sum(w) AS sw FROM wppm GROUP BY winner) sw
    ON sw.winner = i.item
),
cp AS MATERIALIZED (SELECT i AS item, CAST(sum(n_ppm) AS BIGINT) AS c FROM np GROUP BY i),
t0 AS MATERIALIZED (SELECT item, CAST({s} AS BIGINT) AS th FROM items)"""
    iters = []
    for i in range(1, BT_ITERATIONS + 1):
        iters.append(f""",
d{i} AS MATERIALIZED (
  SELECT p.i AS item,
         CAST(sum((2 * p.n_ppm * {s} + ti.th + tj.th) // (2 * (ti.th + tj.th)))
              AS BIGINT) AS dn
  FROM np p
  JOIN t{i - 1} ti ON ti.item = p.i
  JOIN t{i - 1} tj ON tj.item = p.j
  WHERE p.n_ppm > 0 AND ti.th + tj.th > 0
  GROUP BY p.i
),
r{i} AS MATERIALIZED (
  SELECT t.item,
         CASE WHEN d.dn > 0 THEN (2 * w.wp * {s} + d.dn) // (2 * d.dn) ELSE t.th END
           AS th
  FROM t{i - 1} t
  LEFT JOIN d{i} d ON d.item = t.item
  JOIN wt w ON w.item = t.item
),
t{i} AS MATERIALIZED (
  SELECT item,
         CAST((2 * CAST(th AS HUGEINT) * (SELECT k FROM kk) * {s} + tt.tot)
              // (2 * tt.tot) AS BIGINT) AS th
  FROM r{i}, (SELECT CAST(sum(th) AS HUGEINT) AS tot FROM r{i}) tt
)""")
    tail = f"""
SELECT i.item AS event_type,
       w.wp AS wins_ppm,
       cp.c AS comparisons_ppm,
       t.th AS bt_theta_ppm,
       CAST(row_number() OVER (ORDER BY t.th DESC, i.item) AS BIGINT) AS bt_rank
FROM items i
JOIN t{BT_ITERATIONS} t ON t.item = i.item
JOIN wt w ON w.item = i.item
JOIN cp ON cp.item = i.item
"""
    return head + "".join(iters) + tail


_BT_SCHEMA = T.StructType(
    [
        T.StructField("event_type", T.StringType()),
        T.StructField("wins_ppm", T.LongType()),
        T.StructField("comparisons_ppm", T.LongType()),
        T.StructField("bt_theta_ppm", T.LongType()),
        T.StructField("bt_rank", T.LongType()),
    ]
)


@register("preference_bradley_terry", oracle=_bt_oracle())
def preference_bradley_terry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley–Terry strengths over the pairwise comparisons: the model
    RLHF reward training and DPO optimize, fitted with 20 integer MM
    iterations (Hunter 2004) over the ppm-quantized win matrix.

    Scale (the BPE bounded-model-state pattern): the corpus-sized
    work is ONE lag-window shuffle + ONE map-side-combining aggregate that
    collapses 100 TB of events to at most |types|² ≤ 64² rows; those rows
    collect to the driver, are ppm-quantized in arbitrary-precision Python
    (the quantization itself cannot overflow, at any raw count), and the
    20-iteration fit runs on model state only — scale-invariant past the
    aggregate. The DuckDB oracle replays the identical integer trajectory
    as 20 unrolled CTE iterations (HUGEINT headroom on the quantization
    and renormalization products that can exceed int64), so values
    hash-match exactly.

    Rare-item semantics: an event type whose every win cell floors to
    0 ppm of the total comparison count is DROPPED by the quantization
    (``quantize_wins_ppm``) and is absent from this output — not emitted
    with theta 0. Both engines drop identically, so parity holds; a
    consumer needing those types listed must pre-bucket rare items.
    """
    from ..operators.preference import MAX_BT_ITEMS

    cap = MAX_BT_ITEMS * MAX_BT_ITEMS
    rows = pairwise_wins(spark, sf_dir).limit(cap + 1).collect()
    if len(rows) > cap:  # refuse truncated model state, never compute on it
        raise ValueError(
            f"comparison matrix exceeds {cap} cells; bucket the key first"
        )
    raw = {(r["winner"], r["loser"]): int(r["n"]) for r in rows}
    fitted = fit_bradley_terry(quantize_wins_ppm(raw))
    ranked = sorted(fitted.items(), key=lambda kv: (-kv[1][0], kv[0]))
    out = [
        (item, wins, comps, theta, rank)
        for rank, (item, (theta, wins, comps)) in enumerate(ranked, start=1)
    ]
    return spark.createDataFrame(out, schema=_BT_SCHEMA)


# ---------------------------------------------------------------------------
# search_ndcg_mrr_eval — graded ranking quality of the BM25 ranker
# ---------------------------------------------------------------------------

_NDCG_K = 10
_NDCG_DISC = ndcg_discount_micro(_NDCG_K)
_NDCG_SALT = 32

# The SAME scoring definition as text_bm25_search — shared code, not
# copy-paste, so a ranker change propagates to its own eval by construction.
from .pipeline_queries import (  # noqa: E402
    _BM25_BASE_CTES,
    _BM25_SCORE_SQL,
    _bm25_term_scores,
)


def _disc_case_sql(rank_col: str) -> str:
    whens = " ".join(
        f"WHEN {r} THEN {d}" for r, d in enumerate(_NDCG_DISC, start=1)
    )
    return f"CASE {rank_col} {whens} ELSE 0 END"


_NDCG_ORACLE = f"""
WITH {_BM25_BASE_CTES},
cand AS (
  SELECT tf.doc_id, tf.term,
         CAST(least(3, tf.tf) AS BIGINT) AS rel,
         {_BM25_SCORE_SQL} AS c
  FROM tf JOIN dfreq USING (term) CROSS JOIN stats
),
ranked AS (
  SELECT term, rel,
         row_number() OVER (PARTITION BY term ORDER BY c DESC, doc_id)   AS rk,
         row_number() OVER (PARTITION BY term ORDER BY rel DESC, doc_id) AS irk
  FROM cand
)
SELECT term AS query_term,
       CAST(count(*) AS BIGINT) AS n_candidates,
       CAST(sum(CASE WHEN rk <= {_NDCG_K}
                     THEN rel * {_disc_case_sql("rk")} ELSE 0 END) AS BIGINT)
         AS dcg_micro,
       CAST(sum(CASE WHEN irk <= {_NDCG_K}
                     THEN rel * {_disc_case_sql("irk")} ELSE 0 END) AS BIGINT)
         AS idcg_micro,
       CAST((sum(CASE WHEN rk <= {_NDCG_K}
                      THEN rel * {_disc_case_sql("rk")} ELSE 0 END) * 1000000)
            // sum(CASE WHEN irk <= {_NDCG_K}
                        THEN rel * {_disc_case_sql("irk")} ELSE 0 END)
            AS BIGINT) AS ndcg_ppm,
       CAST(COALESCE(1000000 // min(CASE WHEN rk <= {_NDCG_K} AND rel >= 2
                                         THEN rk END), 0) AS BIGINT)
         AS mrr_at10_ppm
FROM ranked
GROUP BY term
"""


@register("search_ndcg_mrr_eval", oracle=_NDCG_ORACLE)
def search_ndcg_mrr_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded ranking quality of the BM25 ranker per query term: nDCG@10
    (graded relevance = tf capped at 3 — saturation-free term frequency,
    deliberately NOT the ranking signal, so the metric is informative) and
    MRR@10 over highly-relevant (rel ≥ 2) hits — the eval every retrieval
    stack runs next to recall@k (``knn_recall_eval``) before shipping a
    ranker change.

    Determinism: DCG position discounts 1/log2(r+1) are irrational, so they
    are quantized ONCE to integer micro-units in Python and embedded as the
    same literals in both engines; relevance and BM25 contributions are
    already exact integers (the ``text_bm25_search`` micro-unit discipline),
    so DCG/IDCG/nDCG/MRR are all integer math — hash-exact.

    Scale: candidates are the matched posting lists only (the IN filter
    prunes before the shuffle). Because per-query candidate lists are the
    corpus-frequency of a term (millions of docs for a common term at
    100 TB), the global top-10 is computed TWO-PHASE: a salted local top-10
    per (term, doc_id%{_NDCG_SALT}) window prunes each partition to 10 rows
    — exact, since every global top-10 row is necessarily in its salt's
    local top-10 — then the global window ranks ≤ {_NDCG_SALT}·10 rows per
    term. No single-reducer corpus-sized sort anywhere; the candidate count
    rides the same pruned aggregate's sibling group-by."""
    cand = (
        _bm25_term_scores(spark, sf_dir)
        .select(
            "term",
            "doc_id",
            F.least(F.lit(3), F.col("tf")).cast("long").alias("rel"),
            F.col("c").cast("long").alias("c"),
            F.pmod(F.col("doc_id"), F.lit(_NDCG_SALT)).alias("salt"),
        )
        .localCheckpoint(eager=True)  # feeds counts + both top-k paths once
    )
    n_cand = cand.groupBy("term").agg(F.count(F.lit(1)).alias("n_candidates"))

    disc = F.array(*[F.lit(d) for d in _NDCG_DISC])

    def topk(order_cols, rank_name):
        loc = Window.partitionBy("term", "salt").orderBy(*order_cols)
        glob = Window.partitionBy("term").orderBy(*order_cols)
        return (
            cand.withColumn("lrk", F.row_number().over(loc))
            .where(F.col("lrk") <= _NDCG_K)
            .withColumn(rank_name, F.row_number().over(glob))
            .where(F.col(rank_name) <= _NDCG_K)
        )
    sys10 = topk([F.desc("c"), F.asc("doc_id")], "rk")
    ideal10 = topk([F.desc("rel"), F.asc("doc_id")], "irk")

    dcg = sys10.groupBy("term").agg(
        F.sum(F.col("rel") * F.element_at(disc, F.col("rk").cast("int")))
        .cast("long")
        .alias("dcg_micro"),
        F.min(F.when(F.col("rel") >= 2, F.col("rk"))).alias("first_hit"),
    )
    idcg = ideal10.groupBy("term").agg(
        F.sum(F.col("rel") * F.element_at(disc, F.col("irk").cast("int")))
        .cast("long")
        .alias("idcg_micro")
    )
    return (
        n_cand.join(dcg, "term")
        .join(idcg, "term")
        .select(
            F.col("term").alias("query_term"),
            "n_candidates",
            "dcg_micro",
            "idcg_micro",
            F.expr("dcg_micro * 1000000L DIV idcg_micro").alias("ndcg_ppm"),
            F.coalesce(
                F.expr("1000000L DIV first_hit"), F.lit(0).cast("long")
            ).alias("mrr_at10_ppm"),
        )
    )
