"""Relational breadth queries (SURVEY.md §2.8).

The reference has no SQL layer and none of these operators — no sorts, limits,
set ops, distinct, grouping sets, ranking/analytic windows, subqueries,
array/JSON functions, or approximate sketches. They all exist natively in
Spark, so the engine declares them as first-class oracle-backed queries over
the TPC-H-ish testdata to widen the correctness surface.

Float discipline: any aggregate over doubles is rounded identically on both
sides (sum order differs between engines, so raw double sums are not
bit-stable); integer/string/date results are compared raw.

Scale notes are on each query: which side broadcasts, where the single
shuffle lands, why the plan survives 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import with_totals
from ..sources.parquet import load_table
from . import register

# A cutoff near the 95th percentile of o_totalprice — keeps "large orders"
# selective at any scale factor (prices are scale-free in this generator).
BIG_ORDER = 475_000.0


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Aggregation
# ---------------------------------------------------------------------------


@register(
    "agg_pricing_summary",
    oracle="""
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)                                            AS sum_qty,
       round(sum(l_extendedprice), 2)                                       AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2)                    AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)      AS sum_charge,
       round(avg(l_quantity), 6)                                            AS avg_qty,
       round(avg(l_extendedprice), 4)                                       AS avg_price,
       round(avg(l_discount), 6)                                            AS avg_disc,
       count(*)                                                             AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
)
def agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-style pricing summary: 2-key groupBy, 8 aggregates.

    Scale: partial (map-side) aggregation collapses 100 TB to 6 groups before
    the shuffle; the scan reads only the 7 referenced columns (pruned) and the
    shipdate filter pushes to parquet."""
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "agg_count_distinct",
    oracle="""
SELECT o_orderstatus,
       count(DISTINCT o_custkey) AS n_customers,
       count(*)                  AS n_orders
FROM orders
GROUP BY o_orderstatus
""",
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct aggregation (absent in the reference; Spark expands it
    to a two-phase aggregate automatically)."""
    return (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@register(
    "agg_approx_count_distinct",
    oracle="""
SELECT l_returnflag,
       count(DISTINCT l_orderkey) AS exact_orders,
       TRUE AS within_tolerance
FROM lineitem
GROUP BY l_returnflag
""",
)
def agg_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++). Sketch values differ across
    engines, so the driver-checkable contract is the sketch's *accuracy
    bound*: Spark compares its own HLL estimate to its own exact count and
    emits a ``within_tolerance`` flag (|approx - exact| ≤ 3·rsd·exact, rsd
    0.02 → 6%, which HLL++ satisfies overwhelmingly); the oracle emits the
    exact count with ``TRUE``. The exact countDistinct here is the
    verification harness, not the operator — at 100 TB the sketch alone
    runs: one pass, fixed-size state, no distinct-expansion shuffle. The
    3σ statistical bound itself is pinned in ``tests/test_sketches.py``."""
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_orderkey").alias("exact_orders"),
            F.approx_count_distinct("l_orderkey", 0.02).alias("_approx"),
        )
        .select(
            "l_returnflag",
            "exact_orders",
            (
                F.abs(F.col("_approx") - F.col("exact_orders"))
                <= F.ceil(F.col("exact_orders") * F.lit(0.06))
            ).alias("within_tolerance"),
        )
    )


@register(
    "agg_hll_mergeable",
    oracle="""
SELECT l_returnflag,
       count(DISTINCT l_orderkey) AS exact_orders,
       TRUE AS within_tolerance
FROM lineitem
GROUP BY l_returnflag
""",
)
def agg_hll_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE distinct-count sketches (Apache DataSketches HLL via
    ``hll_sketch_agg``/``hll_union_agg``) — the production 100 TB shape
    that ``approx_count_distinct`` alone doesn't show: per-partition
    sketches (here per (flag, ship-month)) materialize as binary columns a
    pipeline can STORE, then union losslessly to any coarser grain without
    touching the raw data again. Same driver-checkable contract as
    ``agg_approx_count_distinct``: the query compares the merged sketch's
    estimate to its own exact count (lgConfigK=12 → RSE ~1.6%, 3-sigma ~5%)
    and emits ``within_tolerance``; the oracle emits exact + TRUE. At scale
    only the sketch path runs — the exact side is the verification harness.
    """
    li = _t(spark, sf_dir, "lineitem")
    per_month = li.groupBy(
        "l_returnflag", F.month("l_shipdate").alias("m")
    ).agg(F.expr("hll_sketch_agg(l_orderkey, 12)").alias("sk"))
    merged = per_month.groupBy("l_returnflag").agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("_approx")
    )
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("exact_orders")
    )
    return merged.join(exact, "l_returnflag").select(
        "l_returnflag",
        "exact_orders",
        (
            F.abs(F.col("_approx") - F.col("exact_orders"))
            <= F.ceil(F.col("exact_orders") * F.lit(0.05))
        ).alias("within_tolerance"),
    )


@register(
    "agg_approx_percentile",
    oracle="""
WITH cents AS (
  SELECT l_returnflag, CAST(floor(l_extendedprice * 100) AS BIGINT) AS c
  FROM lineitem
),
r AS (
  SELECT l_returnflag, c,
         row_number() OVER (PARTITION BY l_returnflag ORDER BY c) AS rn,
         count(*)    OVER (PARTITION BY l_returnflag)             AS n
  FROM cents
)
SELECT l_returnflag, n, c AS exact_p50_cents, TRUE AS within_tolerance
FROM r WHERE rn = CAST(ceil(0.5 * n) AS BIGINT)
""",
)
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (Greenwald-Khanna sketch) under the same
    driver-checkable contract as ``agg_approx_count_distinct``: sketch
    values differ across engines, but the sketch's RANK-ERROR bound does
    not. Spark computes its own exact discrete p50 (rank-at-ceil, the
    ``source_length_profile`` pattern) AND the rank of its own approx
    answer, then emits ``within_tolerance`` = |rank(approx) - n/2| <=
    n/accuracy + 1 (GK guarantees rank error <= n/accuracy); the oracle
    emits the exact p50 with TRUE. Prices quantize to integer cents so the
    exact value is engine-comparable. At 100 TB the sketch alone runs: one
    pass, bounded state, no per-group sort — the exact-rank side here is
    the verification harness, not the operator.
    """
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.floor(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    sketch = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("approx_percentile(cents, 0.5, 1000)").alias("ap"),
    )
    w = Window.partitionBy("l_returnflag").orderBy("cents")
    wn = Window.partitionBy("l_returnflag")
    ranked = li.withColumn("rn", F.row_number().over(w)).withColumn(
        "n_all", F.count(F.lit(1)).over(wn)
    )
    exact = ranked.where(
        F.col("rn") == F.ceil(F.col("n_all") * 0.5)
    ).select("l_returnflag", F.col("cents").alias("exact_p50_cents"))
    rank_of_ap = (
        li.join(F.broadcast(sketch), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.first("n").alias("n"),
            F.count(F.when(F.col("cents") <= F.col("ap"), 1)).alias("rank_ap"),
        )
    )
    return (
        rank_of_ap.join(F.broadcast(exact), "l_returnflag")
        .select(
            "l_returnflag",
            "n",
            "exact_p50_cents",
            (
                F.abs(F.col("rank_ap") - F.col("n") * 0.5)
                <= F.col("n") / 1000.0 + 1
            ).alias("within_tolerance"),
        )
    )


@register(
    "agg_having",
    oracle="""
SELECT o_custkey, count(*) AS n_orders, round(sum(o_totalprice), 2) AS total_spent
FROM orders
GROUP BY o_custkey
HAVING count(*) >= 15
""",
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY + HAVING (post-aggregation filter)."""
    return (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_spent"),
        )
        .where(F.col("n_orders") >= 15)
    )


@register(
    "agg_rollup",
    oracle="""
SELECT o_orderstatus, o_orderpriority,
       count(*) AS n, round(sum(o_totalprice), 2) AS total
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
""",
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (status → status+priority → grand total)."""
    return (
        _t(spark, sf_dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total"))
    )


@register(
    "agg_cube",
    oracle="""
SELECT l_returnflag, l_linestatus,
       count(*) AS n, round(sum(l_quantity), 2) AS qty
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
""",
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over both dimensions."""
    return (
        _t(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("l_quantity"), 2).alias("qty"))
    )


@register(
    "agg_grouping_sets",
    oracle="""
SELECT o_orderstatus, o_orderpriority, count(*) AS n
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
""",
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via the SQL surface."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, count(*) AS n
        FROM orders_v
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@register(
    "agg_median_quantiles",
    oracle="""
SELECT l_returnflag,
       round(quantile_cont(l_extendedprice, 0.5), 4)  AS median_price,
       round(quantile_cont(l_extendedprice, 0.9), 4)  AS p90_price
FROM lineitem
GROUP BY l_returnflag
""",
)
def agg_median_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark ``percentile`` ≙ DuckDB
    ``quantile_cont``). The approximate variant for 100 TB is
    ``percentile_approx`` (see agg_approx_count_distinct for the sketch
    posture)."""
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias("median_price"),
            F.round(F.expr("percentile(l_extendedprice, 0.9)"), 4).alias("p90_price"),
        )
    )


# ---------------------------------------------------------------------------
# Joins (the reference has only J1 left-lookup; full surface here)
# ---------------------------------------------------------------------------


@register(
    "join_inner_agg",
    oracle="""
SELECT n.n_name, count(*) AS n_customers, round(sum(c.c_acctbal), 2) AS total_bal
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
""",
)
def join_inner_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner equi-join fact→dim + aggregate. The 25-row nation dim is
    broadcast: zero shuffle of the customer side."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
    )


@register(
    "join_left_outer_count",
    oracle=f"""
SELECT c.c_custkey, c.c_mktsegment, count(o.o_orderkey) AS n_big_orders
FROM customer c
LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > {BIG_ORDER}) o
       ON c.c_custkey = o.o_custkey
GROUP BY c.c_custkey, c.c_mktsegment
""",
)
def join_left_outer_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving unmatched customers (count 0) — the
    J1 null-side semantics generalized to a fact-side aggregate."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(F.col("o_totalprice") > BIG_ORDER)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(F.count("o_orderkey").alias("n_big_orders"))
    )


@register(
    "join_semi",
    oracle=f"""
SELECT c_custkey, c_name
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > {BIG_ORDER})
""",
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS): customers with at least one large order."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(F.col("o_totalprice") > BIG_ORDER)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@register(
    "join_anti",
    oracle=f"""
SELECT c_custkey, c_mktsegment
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > {BIG_ORDER})
""",
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS): customers with no large order."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(F.col("o_totalprice") > BIG_ORDER)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_mktsegment"
    )


@register(
    "join_broadcast_dim",
    oracle="""
SELECT p.p_brand,
       count(*) AS n_items,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY p.p_brand
""",
)
def join_broadcast_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact ⋈ broadcast(dim) + aggregate — the canonical 100 TB star-join
    shape: the part dim ships to every executor, lineitem never shuffles for
    the join (only the 25-group aggregate exchanges)."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
        )
    )


@register(
    "join_full_outer",
    oracle="""
WITH a AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderdate < TIMESTAMP '1996-01-01'),
     b AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '2000-01-01')
SELECT coalesce(a.o_custkey, b.o_custkey) AS custkey,
       (a.o_custkey IS NOT NULL) AS early_buyer,
       (b.o_custkey IS NOT NULL) AS late_buyer
FROM a FULL OUTER JOIN b ON a.o_custkey = b.o_custkey
""",
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of two keyed sets with coalesced key."""
    o = _t(spark, sf_dir, "orders")
    # distinct aliases avoid self-join column ambiguity (both sides derive
    # from the same scan)
    a = (
        o.where(F.col("o_orderdate") < "1996-01-01")
        .select(F.col("o_custkey").alias("a_key"))
        .distinct()
    )
    b = (
        o.where(F.col("o_orderdate") >= "2000-01-01")
        .select(F.col("o_custkey").alias("b_key"))
        .distinct()
    )
    return a.join(b, a["a_key"] == b["b_key"], "full_outer").select(
        F.coalesce("a_key", "b_key").alias("custkey"),
        F.col("a_key").isNotNull().alias("early_buyer"),
        F.col("b_key").isNotNull().alias("late_buyer"),
    )


@register(
    "join_three_way_topk",
    oracle="""
SELECT o.o_orderkey, o.o_orderpriority,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE c.c_mktsegment = 'BUILDING'
GROUP BY o.o_orderkey, o.o_orderpriority
ORDER BY revenue DESC, o_orderkey
LIMIT 10
""",
)
def join_three_way_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q3-style 3-way join + top-k (deterministic tiebreak on the key).

    Scale: segment filter prunes customers before the join; top-k is a
    TakeOrderedAndProject — no global sort materialization."""
    c = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderpriority")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Sort / limit / set ops / distinct
# ---------------------------------------------------------------------------


@register(
    "sort_limit_topk",
    oracle="""
SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice_r
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
""",
)
def sort_limit_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k with deterministic tiebreak; Spark plans it as
    TakeOrderedAndProject (per-partition heap + driver merge, no full sort)."""
    return (
        _t(spark, sf_dir, "orders")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
        .select("o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice_r"))
    )


@register(
    "set_union_distinct",
    oracle="""
SELECT o_custkey FROM orders WHERE o_orderdate < TIMESTAMP '1995-07-01'
UNION
SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '2001-01-01'
""",
)
def set_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (distinct) of two key sets."""
    o = _t(spark, sf_dir, "orders")
    a = o.where(F.col("o_orderdate") < "1995-07-01").select("o_custkey")
    b = o.where(F.col("o_orderdate") >= "2001-01-01").select("o_custkey")
    return a.union(b).distinct()


@register(
    "set_intersect",
    oracle="""
SELECT o_custkey FROM orders WHERE o_orderdate < TIMESTAMP '1995-07-01'
INTERSECT
SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '2001-01-01'
""",
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct)."""
    o = _t(spark, sf_dir, "orders")
    a = o.where(F.col("o_orderdate") < "1995-07-01").select("o_custkey")
    b = o.where(F.col("o_orderdate") >= "2001-01-01").select("o_custkey")
    return a.intersect(b)


@register(
    "set_except",
    oracle="""
SELECT o_custkey FROM orders WHERE o_orderdate < TIMESTAMP '1995-07-01'
EXCEPT
SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '2001-01-01'
""",
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct)."""
    o = _t(spark, sf_dir, "orders")
    a = o.where(F.col("o_orderdate") < "1995-07-01").select("o_custkey")
    b = o.where(F.col("o_orderdate") >= "2001-01-01").select("o_custkey")
    # subtract == EXCEPT DISTINCT (exceptAll keeps per-occurrence leftovers,
    # a different operator)
    return a.subtract(b)


@register(
    "distinct_pairs",
    oracle="""
SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
""",
)
def distinct_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT projection (hash-aggregate under the hood)."""
    return _t(spark, sf_dir, "orders").select("o_orderstatus", "o_orderpriority").distinct()


# ---------------------------------------------------------------------------
# Analytic window functions
# ---------------------------------------------------------------------------


@register(
    "window_rank_per_nation",
    oracle="""
SELECT c_custkey, c_nationkey,
       rank()       OVER w AS rnk,
       dense_rank() OVER w AS drnk,
       row_number() OVER w AS rn
FROM customer
WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
QUALIFY rn <= 5
""",
)
def window_rank_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking functions + top-N per group (the classic shuffle-once,
    no-self-join pattern)."""
    w = Window.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return (
        _t(spark, sf_dir, "customer")
        .select(
            "c_custkey",
            "c_nationkey",
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
            F.row_number().over(w).alias("rn"),
        )
        .where(F.col("rn") <= 5)
    )


@register(
    "window_lag_lead",
    oracle="""
SELECT o_custkey, o_orderkey,
       round(o_totalprice, 2)                 AS price,
       round(lag(o_totalprice)  OVER w, 2)    AS prev_price,
       round(lead(o_totalprice) OVER w, 2)    AS next_price
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
""",
)
def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead over a per-customer order timeline."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round("o_totalprice", 2).alias("price"),
        F.round(F.lag("o_totalprice").over(w), 2).alias("prev_price"),
        F.round(F.lead("o_totalprice").over(w), 2).alias("next_price"),
    )


@register(
    "window_moving_sum",
    oracle="""
SELECT o_custkey, o_orderkey,
       round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                                     ORDER BY o_orderdate, o_orderkey
                                     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2)
           AS moving_sum_3,
       count(*) OVER (PARTITION BY o_custkey) AS n_orders
FROM orders
""",
)
def window_moving_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-based moving aggregate + partition count."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-2, 0)
    )
    wc = Window.partitionBy("o_custkey")
    return _t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("moving_sum_3"),
        F.count(F.lit(1)).over(wc).alias("n_orders"),
    )


# ---------------------------------------------------------------------------
# Scalar function surface
# ---------------------------------------------------------------------------


@register(
    "scalar_strings",
    oracle="""
SELECT p_partkey,
       upper(p_type)                  AS type_upper,
       lower(p_brand)                 AS brand_lower,
       length(p_name)                 AS name_len,
       substr(p_name, 1, 8)           AS name_prefix,
       concat(p_brand, ':', p_type)   AS brand_type,
       replace(p_brand, '#', '-')     AS brand_dashed,
       trim(p_name)                   AS name_trim,
       strpos(p_type, 'BRASS')        AS brass_pos
FROM part
""",
)
def scalar_strings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String scalar surface (upper/lower/length/substr/concat/replace/trim/
    instr)."""
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_type").alias("type_upper"),
        F.lower("p_brand").alias("brand_lower"),
        F.length("p_name").alias("name_len"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
        F.replace(F.col("p_brand"), F.lit("#"), F.lit("-")).alias("brand_dashed"),
        F.trim("p_name").alias("name_trim"),
        F.instr("p_type", "BRASS").alias("brass_pos"),
    )


@register(
    "scalar_math",
    oracle="""
SELECT l_orderkey, l_linenumber,
       round(abs(l_discount - 0.05), 4)        AS abs_disc_diff,
       CAST(ceil(l_quantity) AS BIGINT)        AS qty_ceil,
       CAST(floor(l_quantity / 7) AS BIGINT)   AS qty_div7,
       round(sqrt(l_extendedprice), 6)         AS price_sqrt,
       round(ln(l_extendedprice + 1), 6)       AS price_ln,
       round(pow(l_quantity, 2), 2)            AS qty_sq,
       l_linenumber % 3                        AS line_mod3,
       greatest(l_tax, l_discount)             AS max_rate,
       least(l_tax, l_discount)                AS min_rate
FROM lineitem
WHERE l_orderkey % 100 = 0
""",
)
def scalar_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math scalar surface (abs/ceil/floor/sqrt/ln/pow/mod/greatest/least)."""
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_orderkey") % 100 == 0)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.abs(F.col("l_discount") - 0.05), 4).alias("abs_disc_diff"),
        F.ceil("l_quantity").alias("qty_ceil"),
        F.floor(F.col("l_quantity") / 7).alias("qty_div7"),
        F.round(F.sqrt("l_extendedprice"), 6).alias("price_sqrt"),
        F.round(F.log(F.col("l_extendedprice") + 1), 6).alias("price_ln"),
        F.round(F.pow("l_quantity", F.lit(2)), 2).alias("qty_sq"),
        (F.col("l_linenumber") % 3).alias("line_mod3"),
        F.greatest("l_tax", "l_discount").alias("max_rate"),
        F.least("l_tax", "l_discount").alias("min_rate"),
    )


@register(
    "scalar_dates",
    oracle="""
SELECT o_orderkey,
       extract(year FROM o_orderdate)                         AS order_year,
       extract(month FROM o_orderdate)                        AS order_month,
       extract(day FROM o_orderdate)                          AS order_day,
       strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
       strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d')    AS due_date,
       date_diff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate) AS days_since_95,
       strftime(last_day(o_orderdate), '%Y-%m-%d')            AS month_end
FROM orders
WHERE o_orderkey % 50 = 0
""",
)
def scalar_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time scalar surface (extract/trunc/add/diff/last_day) — rendered
    as strings so both engines agree on output type."""
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderkey") % 50 == 0)
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.dayofmonth("o_orderdate").alias("order_day"),
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias(
            "month_start"
        ),
        F.date_format(
            F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"), "yyyy-MM-dd"
        ).alias("due_date"),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("timestamp")).alias(
            "days_since_95"
        ),
        F.date_format(F.last_day("o_orderdate"), "yyyy-MM-dd").alias("month_end"),
    )


@register(
    "scalar_case_when",
    oracle="""
SELECT CASE WHEN o_totalprice < 100000 THEN 'small'
            WHEN o_totalprice < 300000 THEN 'medium'
            WHEN o_totalprice < 450000 THEN 'large'
            ELSE 'jumbo' END AS bucket,
       count(*) AS n,
       round(avg(o_totalprice), 2) AS avg_price
FROM orders
GROUP BY 1
""",
)
def scalar_case_when(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN bucketing + aggregate."""
    o = _t(spark, sf_dir, "orders")
    bucket = (
        F.when(F.col("o_totalprice") < 100_000, "small")
        .when(F.col("o_totalprice") < 300_000, "medium")
        .when(F.col("o_totalprice") < 450_000, "large")
        .otherwise("jumbo")
    )
    return (
        o.groupBy(bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.avg("o_totalprice"), 2).alias("avg_price"))
    )


@register(
    "scalar_json",
    oracle="""
SELECT event_id,
       json_extract_string(props, '$.k')                    AS k_str,
       TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_int
FROM events
WHERE event_id % 10 = 0
""",
)
def scalar_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction from the events props payload."""
    ev = _t(spark, sf_dir, "events").where(F.col("event_id") % 10 == 0)
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").alias("k_str"),
        F.get_json_object("props", "$.k").cast("int").alias("k_int"),
    )


@register(
    "scalar_arrays",
    oracle="""
SELECT vec_id,
       len(embedding)                                   AS dim,
       CAST(embedding[1] AS DOUBLE)                     AS first_elem,
       round(sqrt(list_sum(list_transform(embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS l2_norm
FROM embeddings
""",
)
def scalar_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array functions over the embedding column: size, element access, and a
    fold (L2 norm) — all JVM-side, no UDF."""
    e = _t(spark, sf_dir, "embeddings")
    sq_sum = F.aggregate(
        "embedding",
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.element_at("embedding", 1).cast("double").alias("first_elem"),
        F.round(F.sqrt(sq_sum), 6).alias("l2_norm"),
    )


@register(
    "pivot_status_by_flag",
    oracle="""
SELECT l_returnflag,
       CAST(coalesce(sum(CASE WHEN l_linestatus = 'O' THEN 1 END), 0) AS BIGINT) AS "O",
       CAST(coalesce(sum(CASE WHEN l_linestatus = 'F' THEN 1 END), 0) AS BIGINT) AS "F"
FROM lineitem
GROUP BY l_returnflag
""",
)
def pivot_status_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (line status → columns); empty combos coalesced to 0 so both
    engines agree."""
    li = _t(spark, sf_dir, "lineitem")
    piv = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.count(F.lit(1)))
    )
    return piv.select(
        "l_returnflag",
        F.coalesce(F.col("O"), F.lit(0)).alias("O"),
        F.coalesce(F.col("F"), F.lit(0)).alias("F"),
    )


@register(
    "sql_in_subquery",
    oracle="""
SELECT o_orderkey, o_custkey
FROM orders
WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal < 0)
  AND o_orderstatus = 'F'
""",
)
def sql_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-subquery through the SQL surface (planned as a semi join)."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    _t(spark, sf_dir, "customer").createOrReplaceTempView("customer_v")
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey
        FROM orders_v
        WHERE o_custkey IN (SELECT c_custkey FROM customer_v WHERE c_acctbal < 0)
          AND o_orderstatus = 'F'
        """
    )


# ---------------------------------------------------------------------------
# Temporal joins (absent in the reference AND in vanilla SQL engines' basic
# surface; first-class in this engine because event-time analytics needs them)
# ---------------------------------------------------------------------------


@register(
    "join_asof",
    oracle="""
WITH e AS (
  SELECT event_id, user_id, date_trunc('microseconds', ts) AS ts, event_type, value
  FROM events
),
probe AS (SELECT * FROM e WHERE event_type = 'click'),
ref   AS (SELECT * FROM e WHERE event_type = 'purchase')
SELECT p.event_id, p.user_id, p.ts,
       r.event_id AS asof_event_id,
       r.ts       AS asof_ts,
       r.value    AS asof_value
FROM probe p LEFT JOIN ref r
  ON p.user_id = r.user_id AND r.ts <= p.ts
QUALIFY row_number() OVER (
    PARTITION BY p.event_id ORDER BY r.ts DESC, r.event_id DESC
) = 1
""",
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each click matched to the user's most recent prior (or
    simultaneous) purchase; clicks with no prior purchase keep nulls.

    The engine runs the union + per-key carry-forward window form
    (operators/joins.py:asof_join) — one shuffle and one sort, no
    probe x history row explosion; the oracle states the same semantics as
    the naive range join + argmax, which is only viable at oracle scale.
    """
    from ..operators.joins import asof_join

    e = _t(spark, sf_dir, "events")
    probe = e.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    ref = e.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    return asof_join(
        probe,
        ref,
        key="user_id",
        ts_col="ts",
        seq_col="event_id",
        ref_value_cols=["event_id", "ts", "value"],
    )


@register(
    "join_range",
    oracle="""
WITH e AS (
  SELECT event_id, user_id, date_trunc('microseconds', ts) AS ts FROM events
)
SELECT a.user_id,
       a.event_id AS event_a,
       b.event_id AS event_b,
       abs(epoch_us(a.ts) - epoch_us(b.ts)) AS diff_us
FROM e a JOIN e b
  ON a.user_id = b.user_id
 AND a.event_id < b.event_id
 AND abs(epoch_us(a.ts) - epoch_us(b.ts)) <= 300000000
""",
)
def join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval (range) self-join: unordered pairs of a user's events within
    5 minutes of each other — the batch shape of a stream-stream windowed
    join.

    Scale: the equality on user_id is the join key (hash/sort-merge
    co-partitioning); the time-band predicate evaluates as a residual
    filter inside the per-key match, so there is no cross product — the
    expansion is bounded by events-per-key-per-window, exactly like the
    streaming interval join's state bound.
    """
    e = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    a = e.alias("a")
    b = e.alias("b")
    diff = F.abs(F.unix_micros(F.col("a.ts")) - F.unix_micros(F.col("b.ts")))
    return (
        a.join(
            b,
            on=(F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_id") < F.col("b.event_id"))
            & (diff <= 300_000_000),
        )
        .select(
            F.col("a.user_id").alias("user_id"),
            F.col("a.event_id").alias("event_a"),
            F.col("b.event_id").alias("event_b"),
            diff.alias("diff_us"),
        )
    )


@register(
    "unnest_tokens",
    oracle="""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words
  FROM documents WHERE doc_id < 50
)
SELECT doc_id,
       CAST(i - 1 AS INTEGER) AS pos,
       words[i]               AS token
FROM (SELECT doc_id, words, unnest(range(1, len(words) + 1)) AS i FROM w)
""",
)
def unnest_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral unnest (``posexplode``): one row per (doc, position, token) —
    the flatten step every tokenize-then-aggregate pipeline starts with.
    Generate runs map-side (no shuffle) and multiplies rows ~N-tokens-fold,
    which is why the filter sits *before* the explode — pushed to the scan,
    not applied to the exploded fan-out."""
    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 50)
    return d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "token")
    )


@register(
    "window_distribution_ranks",
    oracle="""
SELECT c_custkey, c_nationkey,
       CAST(ntile(4) OVER w AS INTEGER) AS quartile,
       CAST(CASE WHEN n > 1 THEN (rn - 1) * 1000000 // (n - 1) ELSE 0 END
            AS BIGINT) AS pct_rank_ppm,
       CAST(rn * 1000000 // n AS BIGINT) AS cume_ppm
FROM (
  SELECT c_custkey, c_nationkey, c_acctbal,
         row_number() OVER w AS rn,
         count(*) OVER (PARTITION BY c_nationkey) AS n
  FROM customer
  WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
)
WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
""",
)
def window_distribution_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions (ntile / percent_rank / cume_dist) per
    nation — completes the analytic-window surface beyond rank/lag/frames.
    One shuffle on the partition key; ties broken by c_custkey so both
    engines order identically.  percent_rank/cume_dist are emitted in exact
    parts-per-million via *integer* division — rounding the double ratio is
    engine-dependent at half-ULP ties (Spark rounds the shortest decimal
    rendering half-up, DuckDB rounds the binary double), which flipped the
    6th digit at sf0.1.  The order key includes the unique c_custkey, so
    rank == row_number and cume numerator == row_number exactly."""
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    wp = Window.partitionBy("c_nationkey")
    return (
        c.select(
            "c_custkey",
            "c_nationkey",
            F.ntile(4).over(w).alias("quartile"),
            F.row_number().over(w).alias("_rn"),
            F.count(F.lit(1)).over(wp).alias("_n"),
        )
        .select(
            "c_custkey",
            "c_nationkey",
            "quartile",
            F.expr(
                "CAST(CASE WHEN _n > 1 THEN (_rn - 1) * 1000000L div (_n - 1) "
                "ELSE 0 END AS BIGINT)"
            ).alias("pct_rank_ppm"),
            F.expr("CAST(_rn * 1000000L div _n AS BIGINT)").alias("cume_ppm"),
        )
    )


@register(
    "agg_listagg_ordered",
    oracle="""
SELECT n_name,
       string_agg(s_name, '|' ORDER BY s_name) AS suppliers
FROM supplier JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name
""",
)
def agg_listagg_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (SQL ``string_agg``/``listagg WITHIN
    GROUP``): supplier names per nation, '|'-joined in name order — built
    as ``array_join(array_sort(collect_list))`` so the order is explicit
    and engine-independent (bare ``listagg`` leaves it partition-dependent).
    The dimension join broadcasts."""
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    joined = s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
    return joined.groupBy("n_name").agg(
        F.array_join(F.array_sort(F.collect_list("s_name")), "|").alias("suppliers")
    )


# ---------------------------------------------------------------------------
# join_skew_salted
# ---------------------------------------------------------------------------

_SALTED_ORACLE = """
SELECT p.p_brand, count(*) AS n_items, round(sum(l.l_quantity), 6) AS total_qty
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY p.p_brand
"""


@register("join_skew_salted", oracle=_SALTED_ORACLE)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large × large equi-join through the salted-key path
    (:func:`..operators.joins.salted_equi_join`): the probe side's shuffle
    key carries a deterministic salt in [0, 8) and the build side is
    replicated 8×, so a pathological hot part key spreads over 8 reducers
    instead of one. Result is provably identical to the plain join (the
    oracle IS the plain join), which is the whole point — salting changes
    the shuffle layout, never the answer.

    At 100 TB this is the manual tool for skew AQE can't reach (shuffle-
    hash joins, agg-feeding exchanges); the docstring on the operator
    states the build-side replication cost and when to prefer AQE.
    """
    from ..operators.joins import salted_equi_join

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("p_partkey"), "l_quantity"
    )
    pt = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    joined = salted_equi_join(li, pt, "p_partkey", salt=8)
    return joined.groupBy("p_brand").agg(
        F.count("*").alias("n_items"),
        F.round(F.sum("l_quantity"), 6).alias("total_qty"),
    )


# ---------------------------------------------------------------------------
# join_skew_adaptive
# ---------------------------------------------------------------------------

_ADAPTIVE_ORACLE = """
WITH probe AS (
  SELECT CASE WHEN l_orderkey % 4 = 0 THEN 0 ELSE l_orderkey END AS k,
         l_quantity
  FROM lineitem
)
SELECT CASE WHEN o.o_orderkey IS NULL THEN 'unmatched' ELSE o.o_orderstatus END
         AS o_status,
       CAST(count(*) AS BIGINT) AS n_rows,
       round(sum(probe.l_quantity), 6) AS total_qty
FROM probe LEFT JOIN orders o ON probe.k = o.o_orderkey
GROUP BY 1
"""


@register("join_skew_adaptive", oracle=_ADAPTIVE_ORACLE)
def join_skew_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X111 query-shaped: the MEASURED join-strategy pre-flight end to end.
    The probe side collapses every 4th lineitem order key onto one hot key
    (a deterministic 25%-of-traffic pathology, replayed identically by the
    oracle), then :func:`..operators.joins.skew_adaptive_join` profiles the
    key (one key-column pass, four longs to the driver), and routes:

    - at gate AND bench scale the 2-column orders build side fits the
      broadcast threshold → **broadcast** (probe skew is irrelevant when
      the probe never shuffles — measured, not assumed: both sf0.01 and
      sf0.1 route here);
    - when the build outgrows the threshold, the 250000-ppm hot key trips
      the 4x-uniform-share rule → **salted** (the hot key's rows spread
      over 8 reducers instead of one) — that leg is pinned row-identical
      under a forced threshold in ``tests/test_skew.py`` (broadcast would
      hide the machinery at testdata sizes).

    Same answer either way — the oracle is the plain left join — which is
    the contract: adaptivity moves WORK, never results. The hot key has no
    build-side partner (order keys start at 1), so the left join's
    null path is exercised under skew too.
    """
    from ..operators.joins import skew_adaptive_join

    li = _t(spark, sf_dir, "lineitem").select(
        F.when(F.col("l_orderkey") % 4 == 0, F.lit(0))
        .otherwise(F.col("l_orderkey"))
        .alias("k"),
        "l_quantity",
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    joined = skew_adaptive_join(
        li, orders.withColumnRenamed("o_orderkey", "k"), "k", how="left"
    )
    return joined.groupBy(
        F.when(F.col("o_orderstatus").isNull(), F.lit("unmatched"))
        .otherwise(F.col("o_orderstatus"))
        .alias("o_status")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("l_quantity"), 6).alias("total_qty"),
    )


# ---------------------------------------------------------------------------
# agg_stats_moments
# ---------------------------------------------------------------------------

_MOMENTS_ORACLE = """
SELECT l_returnflag,
       round(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr,
       round(covar_samp(l_quantity, l_extendedprice), 6) AS qty_price_covar,
       round(stddev_samp(l_quantity), 6) AS qty_stddev,
       round(var_samp(l_extendedprice), 6) AS price_var
FROM lineitem GROUP BY l_returnflag
"""


@register("agg_stats_moments", oracle=_MOMENTS_ORACLE)
def agg_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-moment statistical aggregates (Pearson correlation, sample
    covariance/variance/stddev) per return flag — single-pass co-moment
    accumulators with map-side partial merge, the same one-shuffle shape
    as any other aggregate.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("qty_price_corr"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 6).alias("qty_price_covar"),
        F.round(F.stddev_samp("l_quantity"), 6).alias("qty_stddev"),
        F.round(F.var_samp("l_extendedprice"), 6).alias("price_var"),
    )


# ---------------------------------------------------------------------------
# window_range_frame
# ---------------------------------------------------------------------------

_RANGE_FRAME_ORACLE = """
SELECT o_orderkey, o_custkey, o_orderdate,
       round(sum(o_totalprice) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate
         RANGE BETWEEN INTERVAL 90 DAY PRECEDING AND CURRENT ROW
       ), 6) AS rolling_90d_spend
FROM orders
"""


@register("window_range_frame", oracle=_RANGE_FRAME_ORACLE)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-range window frame: per-customer trailing-90-day spend. Spark
    expresses the interval frame as ``rangeBetween`` over epoch seconds
    (dates are midnight-aligned, so the -90-day bound is exactly
    90*86400 s); peers on the same date are included by both engines
    (RANGE-frame semantics). One shuffle on the partition key, sorted
    within partitions — identical shape to the other window queries.
    """
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").cast("timestamp").cast("long"))
        .rangeBetween(-90 * 86400, 0)
    )
    return orders.select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        F.round(F.sum("o_totalprice").over(w), 6).alias("rolling_90d_spend"),
    )


# ---------------------------------------------------------------------------
# agg_histogram_bins
# ---------------------------------------------------------------------------

_HISTOGRAM_ORACLE = """
SELECT CAST(least(floor(o_totalprice * 8 / 400000.0), 7) AS BIGINT) AS bucket,
       count(*) AS n,
       round(min(o_totalprice), 6) AS lo,
       round(max(o_totalprice), 6) AS hi
FROM orders GROUP BY 1
"""


@register("agg_histogram_bins", oracle=_HISTOGRAM_ORACLE)
def agg_histogram_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram over order totals: 8 buckets on [0, 400k) with the
    overflow clamped into the top bucket. The bucket id is a pure scalar
    expression (no UDF), so at 100 TB this is a map-side bucket-id compute +
    partial count/min/max collapsing to <=8 groups before one tiny shuffle.
    (Both engines spell the bucket arithmetic identically — DuckDB 1.0 has no
    ``width_bucket`` — so edge rows land in the same bin bit-for-bit.)
    """
    orders = load_table(spark, sf_dir, "orders")
    bucket = F.least(F.floor(F.col("o_totalprice") * 8 / 400000.0), F.lit(7)).cast("long")
    return (
        orders.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("o_totalprice"), 6).alias("lo"),
            F.round(F.max("o_totalprice"), 6).alias("hi"),
        )
    )


# ---------------------------------------------------------------------------
# scalar_regex_extract
# ---------------------------------------------------------------------------

_REGEX_EXTRACT_ORACLE = """
SELECT doc_id,
       regexp_extract(text, '(key|table) ([a-z]+)', 2) AS after_kw,
       CAST(len(regexp_extract_all(text, 'key [a-z]+')) AS BIGINT) AS key_pairs
FROM documents
"""


@register("scalar_regex_extract", oracle=_REGEX_EXTRACT_ORACLE)
def scalar_regex_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex group extraction + all-matches count over document text. Both
    engines use RE2-compatible syntax and return '' when the pattern misses
    (verified on both), so parity is exact. Per-row JVM-side regex — no
    shuffle at all; the scan prunes to (doc_id, text).
    """
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.regexp_extract(F.col("text"), r"(key|table) ([a-z]+)", 2).alias("after_kw"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(r"key [a-z]+"), F.lit(0)))
        .cast("long")
        .alias("key_pairs"),
    )


# ---------------------------------------------------------------------------
# Subquery breadth: correlated EXISTS + scalar subquery (both through the SQL
# surface, both planned by Catalyst as joins — no per-row re-execution)
# ---------------------------------------------------------------------------


@register(
    "sql_exists_correlated",
    oracle="""
SELECT c_custkey, c_name
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
""",
)
def sql_exists_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS subquery. Catalyst decorrelates it into a left-semi
    hash join on ``custkey`` with the price filter pushed below the join —
    the exact plan a hand-written semi join would produce, so at 100 TB it
    is one pruned scan per side plus one shuffle (or a broadcast if the
    filtered orders side is small).
    """
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_x")
    _t(spark, sf_dir, "customer").createOrReplaceTempView("customer_x")
    return spark.sql(
        """
        SELECT c_custkey, c_name
        FROM customer_x c
        WHERE EXISTS (SELECT 1 FROM orders_x o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
        """
    )


@register(
    "sql_scalar_subquery",
    oracle="""
SELECT o_orderkey, round(o_totalprice, 2) AS price
FROM orders
WHERE o_totalprice > (SELECT max(o_totalprice) FROM orders) * 0.9
""",
)
def sql_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery as a filter bound. ``max`` is
    order-insensitive (unlike ``avg`` over doubles), so the threshold is
    bit-identical across engines. Catalyst executes the subquery once and
    injects the result as a literal — the main scan stays a single pruned
    pass with the comparison in whole-stage codegen.
    """
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_x")
    return spark.sql(
        """
        SELECT o_orderkey, round(o_totalprice, 2) AS price
        FROM orders_x
        WHERE o_totalprice > (SELECT max(o_totalprice) FROM orders_x) * 0.9
        """
    )


# ---------------------------------------------------------------------------
# window_first_last — first/last/nth value navigation over explicit frames
# ---------------------------------------------------------------------------

_FIRST_LAST_ORACLE = """
SELECT o_orderkey, o_custkey,
       first_value(o_orderkey) OVER w AS first_ok,
       last_value(o_orderkey)  OVER w AS last_ok,
       nth_value(o_orderkey, 2) OVER w AS second_ok
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


@register("window_first_last", oracle=_FIRST_LAST_ORACLE)
def window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last/nth_value navigation functions. The frame is explicit
    (UNBOUNDED..UNBOUNDED) because the engines' *default* frames differ for
    last_value; the ORDER BY includes the key so ties are impossible. One
    shuffle on the partition key — same shape as every window query.
    """
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.first("o_orderkey").over(w).alias("first_ok"),
        F.last("o_orderkey").over(w).alias("last_ok"),
        F.nth_value("o_orderkey", 2).over(w).alias("second_ok"),
    )


# ---------------------------------------------------------------------------
# agg_filtered_bool — FILTER-clause aggregates + boolean aggregates
# ---------------------------------------------------------------------------

_FILTERED_BOOL_ORACLE = """
SELECT o_orderpriority,
       count(*) AS n,
       count(*) FILTER (WHERE o_totalprice > 200000) AS n_big,
       CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_finished,
       bool_or(o_totalprice > 500000)  AS any_huge,
       bool_and(o_totalprice > 1000)   AS all_over_1k
FROM orders
GROUP BY o_orderpriority
"""


@register("agg_filtered_bool", oracle=_FILTERED_BOOL_ORACLE)
def agg_filtered_bool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional (FILTER-clause) and boolean aggregates. All map-side
    partial-aggregable, so the shuffle carries one row per priority — the
    cheapest possible aggregate shape at any scale.
    """
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("o_totalprice") > 200000, 1)).alias("n_big"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
        .cast("long")
        .alias("n_finished"),
        F.bool_or(F.col("o_totalprice") > 500000).alias("any_huge"),
        F.bool_and(F.col("o_totalprice") > 1000).alias("all_over_1k"),
    )


# ---------------------------------------------------------------------------
# Multiset (ALL) set operations — the bag-semantics variants of §2.8's set ops
# ---------------------------------------------------------------------------

_EXCEPT_ALL_ORACLE = """
SELECT o_custkey AS key FROM orders WHERE o_orderstatus = 'O'
EXCEPT ALL
SELECT o_custkey AS key FROM orders WHERE o_totalprice > 150000
"""


@register("set_except_all", oracle=_EXCEPT_ALL_ORACLE)
def set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL: bag difference (each key survives max(0, n_left−n_right)
    times). Spark plans a single hash aggregation on the key computing both
    multiplicities, then a generate — one shuffle, no join.
    """
    orders = load_table(spark, sf_dir, "orders")
    left = orders.where(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("key"))
    right = orders.where(F.col("o_totalprice") > 150000).select(F.col("o_custkey").alias("key"))
    return left.exceptAll(right)


_INTERSECT_ALL_ORACLE = """
SELECT o_custkey AS key FROM orders WHERE o_orderstatus = 'O'
INTERSECT ALL
SELECT o_custkey AS key FROM orders WHERE o_totalprice > 150000
"""


@register("set_intersect_all", oracle=_INTERSECT_ALL_ORACLE)
def set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL: bag intersection (min of the two multiplicities per
    key). Same single-shuffle dual-count plan as EXCEPT ALL.
    """
    orders = load_table(spark, sf_dir, "orders")
    left = orders.where(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("key"))
    right = orders.where(F.col("o_totalprice") > 150000).select(F.col("o_custkey").alias("key"))
    return left.intersectAll(right)


# ---------------------------------------------------------------------------
# unpivot_metrics — wide→long reshape (the inverse of pivot_status_by_flag)
# ---------------------------------------------------------------------------

_UNPIVOT_ORACLE = """
SELECT 'l_quantity' AS metric, count(*) AS n, round(sum(l_quantity), 2) AS total FROM lineitem
UNION ALL
SELECT 'l_extendedprice', count(*), round(sum(l_extendedprice), 2) FROM lineitem
UNION ALL
SELECT 'l_discount', count(*), round(sum(l_discount), 2) FROM lineitem
UNION ALL
SELECT 'l_tax', count(*), round(sum(l_tax), 2) FROM lineitem
"""


@register("unpivot_metrics", oracle=_UNPIVOT_ORACLE)
def unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot (melt) of four lineitem measures, then a per-metric
    rollup. The unpivot is a zero-shuffle Generate (each input row emits 4
    narrow rows *after* column pruning), and the aggregate collapses to 4
    groups map-side — so even though the logical row count quadruples, the
    shuffled bytes are 4 rows per task.
    """
    li = load_table(spark, sf_dir, "lineitem")
    long_df = li.unpivot(
        ids=[],
        values=["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        variableColumnName="metric",
        valueColumnName="val",
    )
    return long_df.groupBy("metric").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("val"), 2).alias("total"),
    )


# ---------------------------------------------------------------------------
# timeseries_gap_fill — densify to a daily grid + forward fill
# ---------------------------------------------------------------------------

# Day-level truncation makes the nanos-vs-micros timestamp question moot
# (a day boundary never moves), so the oracle reads ts directly.
_GAP_FILL_ORACLE = """
WITH daily AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
         max(value) AS day_max
  FROM events GROUP BY 1, 2
),
spans AS (
  SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1
),
grid AS (
  SELECT user_id,
         CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP),
                                     INTERVAL 1 DAY)) AS DATE) AS day
  FROM spans
),
joined AS (
  SELECT g.user_id, g.day, d.day_max
  FROM grid g LEFT JOIN daily d ON g.user_id = d.user_id AND g.day = d.day
)
SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
       last_value(day_max IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled,
       day_max IS NOT NULL AS observed
FROM joined
"""


@register("timeseries_gap_fill", oracle=_GAP_FILL_ORACLE)
def timeseries_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series densification: each user's daily max, expanded to an
    unbroken daily grid over their active span, missing days forward-filled
    from the last observation — the gap-fill/resample step a feature or
    sensor pipeline runs before windowed training features.

    Plan: daily pre-aggregation [1 shuffle, map-side combined], per-user
    span [same partitioning], `sequence()` + `explode` to generate the grid
    JVM-side (rows expand *after* aggregation — the 100 TB input never
    multiplies), left join back on (user, day), and one carry-forward
    window (`last(ignorenulls)`) — the same shape as the as-of join's
    forward fill. Grid size is bounded by span x users, independent of
    event volume.
    """
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).agg(F.max("value").alias("day_max"))
    spans = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    grid = spans.select(
        "user_id", F.explode(F.sequence("d0", "d1")).alias("day")
    )
    joined = grid.join(daily, ["user_id", "day"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # day renders as an ISO string: engines (and pandas) disagree on
    # whether a DATE cell is a date or a midnight timestamp.
    return joined.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.last("day_max", ignorenulls=True).over(w).alias("filled"),
        F.col("day_max").isNotNull().alias("observed"),
    )


# ---------------------------------------------------------------------------
# window_rolling_distinct — exact rolling distinct via bounded day-expansion
# ---------------------------------------------------------------------------

_ROLLING_DISTINCT_ORACLE = """
WITH user_days AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
  FROM events WHERE event_type = 'purchase'
),
observed AS (SELECT DISTINCT day FROM user_days),
contrib AS (
  SELECT user_id,
         CAST(unnest(generate_series(CAST(day AS TIMESTAMP),
                                     CAST(day + INTERVAL 6 DAY AS TIMESTAMP),
                                     INTERVAL 1 DAY)) AS DATE) AS window_day
  FROM user_days
)
SELECT strftime(window_day, '%Y-%m-%d') AS window_day,
       count(DISTINCT user_id) AS active_users_7d
FROM contrib
WHERE window_day IN (SELECT day FROM observed)
GROUP BY 1
"""


@register("window_rolling_distinct", oracle=_ROLLING_DISTINCT_ORACLE)
def window_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct purchasers per day — the rolling-cardinality
    metric (WAU-style) every analytics pipeline wants and no window frame
    can compute: COUNT(DISTINCT) does not decompose over sliding frames.

    The exact scale shape: dedupe to (user, day) grain first [1 shuffle on
    a collapsed key], then each user-day *contributes itself forward* into
    the ≤7 window-days it affects (`sequence`/`explode` — a bounded 7×
    expansion of the already-collapsed grain, not of raw events), and one
    distinct-aggregate per window-day [expand + 2-phase shuffle] finishes.
    Day grid is clamped to observed days with a left-semi join. The
    alternative — re-sorting raw events once per window offset — re-scans
    the 100 TB input 7 times; this plan touches it once. (The approximate
    cousin at extreme cardinality is an HLL sketch per day + 7-day sketch
    merge; `agg_approx_count_distinct` shows that primitive.)
    """
    ev = _t(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    user_days = ev.select(
        "user_id", F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).distinct()
    observed = user_days.select("day").distinct()
    contrib = user_days.select(
        "user_id",
        F.explode(F.sequence("day", F.date_add("day", 6))).alias("window_day"),
    )
    return (
        contrib.join(
            observed.withColumnRenamed("day", "window_day"), "window_day", "left_semi"
        )
        .groupBy(F.date_format("window_day", "yyyy-MM-dd").alias("window_day"))
        .agg(F.countDistinct("user_id").alias("active_users_7d"))
    )


# ---------------------------------------------------------------------------
# join_null_safe — <=> equality: NULL keys match each other
# ---------------------------------------------------------------------------

_NULL_SAFE_ORACLE = """
WITH k AS (
  SELECT event_id,
         CASE WHEN TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) % 7 = 0
              THEN NULL
              ELSE TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) END AS k_int
  FROM events
),
a AS (SELECT k_int, count(*) AS cnt_even FROM k WHERE event_id % 2 = 0 GROUP BY 1),
b AS (SELECT k_int, count(*) AS cnt_odd  FROM k WHERE event_id % 2 = 1 GROUP BY 1)
SELECT a.k_int, a.cnt_even, b.cnt_odd
FROM a JOIN b ON a.k_int IS NOT DISTINCT FROM b.k_int
"""


@register("join_null_safe", oracle=_NULL_SAFE_ORACLE)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi join (``<=>`` ≡ ``IS NOT DISTINCT FROM``): the NULL
    key is a real group that must match itself — a plain ``=`` join would
    silently drop it, the classic bug when joining on nullable/derived keys
    (here a JSON-extracted attribute with injected gaps).

    Aggregate-before-join shape: both sides collapse to per-key counts
    first, so the null-safe join touches key-cardinality rows, never the
    event volume — and ``<=>`` still plans as a hash join (null-safe
    equality is a proper equi-key for Spark's hash partitioning; no
    fallback to nested-loop).
    """
    k = _t(spark, sf_dir, "events").select(
        "event_id",
        F.when(
            F.get_json_object("props", "$.k").cast("int") % 7 == 0, F.lit(None)
        )
        .otherwise(F.get_json_object("props", "$.k").cast("int"))
        .alias("k_int"),
    )
    a = (
        k.where(F.col("event_id") % 2 == 0)
        .groupBy("k_int")
        .agg(F.count(F.lit(1)).alias("cnt_even"))
    )
    b = (
        k.where(F.col("event_id") % 2 == 1)
        .groupBy("k_int")
        .agg(F.count(F.lit(1)).alias("cnt_odd"))
    )
    return a.join(b, a["k_int"].eqNullSafe(b["k_int"])).select(
        a["k_int"].alias("k_int"), "cnt_even", "cnt_odd"
    )


# ---------------------------------------------------------------------------
# cdc_upsert_apply — MERGE-shaped changes-onto-snapshot application
# ---------------------------------------------------------------------------

_CDC_UPSERT_ORACLE = """
WITH snapshot AS (
  SELECT c_custkey, c_name, c_acctbal FROM customer
),
changes AS (
  SELECT c_custkey, c_name, round(c_acctbal + 1000.0, 2) AS c_acctbal
  FROM customer WHERE c_custkey % 10 = 0
  UNION ALL
  SELECT c_custkey + 1000000, 'NEW#' || CAST(c_custkey AS VARCHAR), 0.0
  FROM customer WHERE c_custkey % 25 = 0
)
SELECT coalesce(c.c_custkey, s.c_custkey) AS c_custkey,
       coalesce(c.c_name, s.c_name) AS c_name,
       coalesce(c.c_acctbal, s.c_acctbal) AS c_acctbal,
       CASE WHEN c.c_custkey IS NULL THEN 'unchanged'
            WHEN s.c_custkey IS NULL THEN 'inserted'
            ELSE 'updated' END AS change_type
FROM changes c FULL OUTER JOIN snapshot s ON c.c_custkey = s.c_custkey
"""


@register("cdc_upsert_apply", oracle=_CDC_UPSERT_ORACLE)
def cdc_upsert_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply / MERGE without a table format: a changes batch (updates +
    inserts, derived deterministically from the dimension itself) lands on
    the snapshot as one full-outer join with per-column ``coalesce`` —
    change-wins, snapshot-fills, plus the audit ``change_type`` a CDC
    pipeline logs. This is the upsert primitive under every
    lakehouse MERGE.

    Scale: full-outer joins can't broadcast, so this is one sort-merge
    join co-partitioned on the key — bucketed snapshot + changes tables
    make it shuffle-free on the snapshot side (tests/test_bucketing.py
    shows that layout); the changes batch is typically tiny next to the
    snapshot and shuffles cheaply.
    """
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    updates = cust.where(F.col("c_custkey") % 10 == 0).select(
        "c_custkey",
        "c_name",
        F.round(F.col("c_acctbal") + 1000.0, 2).alias("c_acctbal"),
    )
    inserts = cust.where(F.col("c_custkey") % 25 == 0).select(
        (F.col("c_custkey") + 1000000).alias("c_custkey"),
        F.concat(F.lit("NEW#"), F.col("c_custkey").cast("string")).alias("c_name"),
        F.lit(0.0).alias("c_acctbal"),
    )
    changes = updates.unionByName(inserts).alias("c")
    snapshot = cust.alias("s")
    joined = changes.join(
        snapshot, F.col("c.c_custkey") == F.col("s.c_custkey"), "full_outer"
    )
    return joined.select(
        F.coalesce(F.col("c.c_custkey"), F.col("s.c_custkey")).alias("c_custkey"),
        F.coalesce(F.col("c.c_name"), F.col("s.c_name")).alias("c_name"),
        F.coalesce(F.col("c.c_acctbal"), F.col("s.c_acctbal")).alias("c_acctbal"),
        F.when(F.col("c.c_custkey").isNull(), F.lit("unchanged"))
        .when(F.col("s.c_custkey").isNull(), F.lit("inserted"))
        .otherwise(F.lit("updated"))
        .alias("change_type"),
    )


# ---------------------------------------------------------------------------
# funnel_stages — ordered conversion funnel in one shuffle
# ---------------------------------------------------------------------------

_FUNNEL_ORACLE = """
WITH e AS (
  SELECT user_id, event_type, date_trunc('microseconds', ts) AS ts FROM events
),
s1 AS (
  SELECT *, min(CASE WHEN event_type = 'view' THEN ts END)
              OVER (PARTITION BY user_id) AS t1
  FROM e
),
s2 AS (
  SELECT *, min(CASE WHEN event_type = 'click' AND ts > t1
                      AND ts <= t1 + INTERVAL 24 HOUR THEN ts END)
              OVER (PARTITION BY user_id) AS t2
  FROM s1
),
s3 AS (
  SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t2
                      AND ts <= t2 + INTERVAL 24 HOUR THEN ts END)
              OVER (PARTITION BY user_id) AS t3
  FROM s2
)
SELECT user_id,
       any_value(t1) AS view_ts,
       any_value(t2) AS click_ts,
       any_value(t3) AS purchase_ts,
       CASE WHEN any_value(t3) IS NOT NULL THEN 3
            WHEN any_value(t2) IS NOT NULL THEN 2
            WHEN any_value(t1) IS NOT NULL THEN 1
            ELSE 0 END AS funnel_stage
FROM s3 GROUP BY user_id
"""


@register("funnel_stages", oracle=_FUNNEL_ORACLE)
def funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (first view → click within 24h → purchase
    within 24h of that click) — the product-analytics sequence-matching op.

    The chain is three *stacked* per-user window minima: each stage's
    anchor is the previous stage's windowed result, so ordering and the
    conversion deadline live in the CASE predicate, not in a self-join —
    no events-x-events blowup, and all three windows share one partitioning
    on user_id, so the whole funnel costs a single shuffle + one in-memory
    pass per stage. Deeper funnels add projections, not shuffles.
    """
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    u = Window.partitionBy("user_id")
    day = F.expr("INTERVAL 24 HOURS")
    s1 = ev.withColumn(
        "t1",
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(u),
    )
    s2 = s1.withColumn(
        "t2",
        F.min(
            F.when(
                (F.col("event_type") == "click")
                & (F.col("ts") > F.col("t1"))
                & (F.col("ts") <= F.col("t1") + day),
                F.col("ts"),
            )
        ).over(u),
    )
    s3 = s2.withColumn(
        "t3",
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ts") > F.col("t2"))
                & (F.col("ts") <= F.col("t2") + day),
                F.col("ts"),
            )
        ).over(u),
    )
    return s3.groupBy("user_id").agg(
        F.first("t1").alias("view_ts"),
        F.first("t2").alias("click_ts"),
        F.first("t3").alias("purchase_ts"),
        F.when(F.first("t3").isNotNull(), 3)
        .when(F.first("t2").isNotNull(), 2)
        .when(F.first("t1").isNotNull(), 1)
        .otherwise(0)
        .cast("long")
        .alias("funnel_stage"),
    )


# ---------------------------------------------------------------------------
# retention_cohorts — first-purchase-day cohorts x days-since retention
# ---------------------------------------------------------------------------

_RETENTION_ORACLE = """
WITH e AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
  FROM events WHERE event_type = 'purchase'
),
ud AS (SELECT DISTINCT user_id, day FROM e),
firstd AS (
  SELECT user_id, day, min(day) OVER (PARTITION BY user_id) AS cohort_day FROM ud
)
SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day,
       CAST(day - cohort_day AS BIGINT) AS days_since,
       count(DISTINCT user_id) AS active_users
FROM firstd GROUP BY 1, 2
"""


@register("retention_cohorts", oracle=_RETENTION_ORACLE)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention triangle: users cohorted by first purchase day, counted
    distinct on each later active day — the companion readout to
    ``funnel_stages`` in the product-analytics family.

    The shape that scales: collapse raw events to the (user, day) grain
    FIRST [1 shuffle on a distinct over a collapsed key], derive each
    user's cohort with a per-user window min on that small grain (shares
    the same partitioning), and only then aggregate to cohort cells — the
    raw event volume is touched exactly once, and the retention matrix is
    cohort-days x horizon, tiny at any scale.
    """
    ev = (
        _t(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select("user_id", F.to_date(F.date_trunc("day", "ts")).alias("day"))
        .distinct()
    )
    u = Window.partitionBy("user_id")
    withc = ev.withColumn("cohort_day", F.min("day").over(u))
    return withc.groupBy(
        F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
        F.datediff("day", "cohort_day").cast("long").alias("days_since"),
    ).agg(F.countDistinct("user_id").alias("active_users"))


# ---------------------------------------------------------------------------
# sql_lateral_topk — LATERAL correlated subquery (top-N per row)
# ---------------------------------------------------------------------------


@register(
    "sql_lateral_topk",
    oracle="""
SELECT c.c_custkey, o.o_orderkey, round(o.o_totalprice, 2) AS price
FROM customer c, LATERAL (
  SELECT o_orderkey, o_totalprice FROM orders
  WHERE o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey
  LIMIT 2
) o
WHERE c.c_custkey % 7 = 0
""",
)
def sql_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery: each outer customer row drives a
    dependent top-2-orders probe — the SQL-standard spelling of
    top-N-per-group. Catalyst rewrites the lateral relation into a
    DomainJoin and plans the same shuffle-on-custkey + per-key limit a
    hand-written ``row_number() <= 2`` window produces: no per-row
    re-execution of the inner query survives into the physical plan, which
    is what makes the construct usable at 100 TB (a true nested-loop
    lateral would rescan orders once per customer).

    Deterministic by the (price DESC, orderkey) tie-break; the outer
    filter prunes sevenths of customers *before* the join on both engines.
    """
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_x")
    _t(spark, sf_dir, "customer").createOrReplaceTempView("customer_x")
    return spark.sql(
        """
        SELECT c.c_custkey, o.o_orderkey, round(o.o_totalprice, 2) AS price
        FROM customer_x c JOIN LATERAL (
          SELECT o_orderkey, o_totalprice FROM orders_x
          WHERE o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey
          LIMIT 2
        ) o
        WHERE c.c_custkey % 7 = 0
        """
    )


# ---------------------------------------------------------------------------
# event_transition_matrix — Markov transition counts over per-user sequences
# ---------------------------------------------------------------------------


@register(
    "event_transition_matrix",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (
           PARTITION BY user_id
           ORDER BY date_trunc('microseconds', ts), event_id) AS prev_type
  FROM events
)
SELECT prev_type, event_type AS next_type, count(*) AS n,
       round(CAST(count(*) AS DOUBLE)
             / sum(count(*)) OVER (PARTITION BY prev_type), 6) AS p
FROM seq WHERE prev_type IS NOT NULL
GROUP BY prev_type, event_type
""",
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event sequences:
    for each (prev_type -> next_type) edge, the observed count and the
    row-normalized transition probability — the behavioral model behind
    next-action prediction, anomaly scoring, and bot detection.

    Each user's first event has no predecessor and drops; ties on ts break
    by event_id (the offset stand-in), so the sequence — and therefore the
    matrix — is deterministic in both engines.

    Scale: ONE shuffle of the events on user_id feeds the lag window
    (sequence reconstruction is sort-within-user, the same partitioning a
    sessionizer uses); the transition count collapses map-side into at most
    |event_types|² cells, and the probability normalization is a window
    over that tiny matrix — nothing after the first shuffle scales with the
    input.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).where(F.col("prev_type").isNotNull())
    counts = seq.groupBy(
        "prev_type", F.col("event_type").alias("next_type")
    ).agg(F.count(F.lit(1)).alias("n"))
    total = Window.partitionBy("prev_type")
    return counts.select(
        "prev_type",
        "next_type",
        "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(total), 6).alias("p"),
    )


# ---------------------------------------------------------------------------
# source_length_profile — exact discrete length percentiles per source
# ---------------------------------------------------------------------------


@register(
    "source_length_profile",
    oracle="""
WITH ranked AS (
  SELECT source, n_chars,
         row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rn,
         count(*) OVER (PARTITION BY source) AS n
  FROM documents
)
SELECT source, max(n) AS n_docs,
       max(CASE WHEN rn = CAST(ceil(0.5  * n) AS BIGINT) THEN n_chars END) AS p50,
       max(CASE WHEN rn = CAST(ceil(0.9  * n) AS BIGINT) THEN n_chars END) AS p90,
       max(CASE WHEN rn = CAST(ceil(0.99 * n) AS BIGINT) THEN n_chars END) AS p99,
       max(CASE WHEN rn = n THEN n_chars END) AS max_chars
FROM ranked GROUP BY source
""",
)
def source_length_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document-length profile: exact discrete p50/p90/p99/max of
    ``n_chars`` — the distribution scan that sizes sequence-packing budgets
    and sets length-filter cutoffs per corpus slice before a training run.

    Exactness over sketches on purpose: the discrete percentile (value at
    rank ``ceil(p*n)`` under a total (n_chars, doc_id) order) is
    engine-exact and hash-comparable, where ``approx_percentile`` sketches
    differ per engine and run. Scale: one shuffle on source + per-source
    sort — the honest cost of exact order statistics (the sketch is the
    100 TB fallback when ±epsilon is acceptable); everything after the sort
    is a per-source constant number of cells.
    """
    docs = load_table(spark, sf_dir, "documents").select("source", "n_chars", "doc_id")
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    n = Window.partitionBy("source")
    ranked = docs.select(
        "source",
        "n_chars",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(n).alias("n"),
    )

    def at(p: float):
        return F.max(
            F.when(F.col("rn") == F.ceil(F.lit(p) * F.col("n")), F.col("n_chars"))
        )

    return ranked.groupBy("source").agg(
        F.max("n").alias("n_docs"),
        at(0.5).alias("p50"),
        at(0.9).alias("p90"),
        at(0.99).alias("p99"),
        F.max(F.when(F.col("rn") == F.col("n"), F.col("n_chars"))).alias("max_chars"),
    )


# ---------------------------------------------------------------------------
# Robust outlier detection (median / MAD)
# ---------------------------------------------------------------------------

_MAD_ORACLE = """
WITH cents AS (
  SELECT event_id, event_type, CAST(floor(value * 100) AS BIGINT) AS v
  FROM events
),
med AS (
  SELECT event_type, v AS med_v FROM (
    SELECT event_type, v,
           row_number() OVER (PARTITION BY event_type ORDER BY v, event_id) AS rn,
           count(*)    OVER (PARTITION BY event_type)                       AS n
    FROM cents
  ) WHERE rn = CAST(ceil(0.5 * n) AS BIGINT)
),
dev AS (
  SELECT c.event_id, c.event_type, c.v, m.med_v, abs(c.v - m.med_v) AS d
  FROM cents c JOIN med m ON m.event_type = c.event_type
),
mad AS (
  SELECT event_type, d AS mad_v FROM (
    SELECT event_type, d,
           row_number() OVER (PARTITION BY event_type ORDER BY d, event_id) AS rn,
           count(*)    OVER (PARTITION BY event_type)                       AS n
    FROM dev
  ) WHERE rn = CAST(ceil(0.5 * n) AS BIGINT)
)
SELECT d.event_id, d.event_type, d.v AS value_cents,
       d.med_v AS median_cents, md.mad_v AS mad_cents,
       d.d AS abs_dev_cents
FROM dev d JOIN mad md ON md.event_type = d.event_type
WHERE d.d > 3 * md.mad_v
"""


@register("events_outliers_mad", oracle=_MAD_ORACLE)
def events_outliers_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group outlier detection: events whose value deviates from
    the group median by more than 3× the median absolute deviation — the
    monitoring screen that survives the skewed distributions mean/stddev
    breaks on (one whale purchase inflates σ until nothing is an outlier;
    the median/MAD pair is 50%-breakdown robust).

    Scale: exact discrete medians via the rank-at-ceil idiom (one
    sort+window pass per statistic over the same partitioning — Spark
    reuses the hash partitioning between the two passes); values quantize
    to integer cents so both medians and the 3×MAD comparison are
    engine-exact. Per-group state is two scalars; the flagged subset
    streams out with no further shuffle. At 100 TB swap the exact median
    for the GK sketch (``agg_approx_percentile``'s contract) — the plan
    shape is unchanged."""
    cents = _t(spark, sf_dir, "events").select(
        "event_id", "event_type", F.floor(F.col("value") * 100).cast("long").alias("v")
    )
    wv = Window.partitionBy("event_type").orderBy("v", "event_id")
    wn = Window.partitionBy("event_type")
    med = (
        cents.withColumn("rn", F.row_number().over(wv))
        .withColumn("n", F.count(F.lit(1)).over(wn))
        .where(F.col("rn") == F.ceil(F.col("n") * 0.5))
        .select("event_type", F.col("v").alias("med_v"))
    )
    dev = cents.join(med, "event_type").select(
        "event_id",
        "event_type",
        "v",
        "med_v",
        F.abs(F.col("v") - F.col("med_v")).alias("d"),
    )
    wd = Window.partitionBy("event_type").orderBy("d", "event_id")
    mad = (
        dev.withColumn("rn", F.row_number().over(wd))
        .withColumn("n", F.count(F.lit(1)).over(wn))
        .where(F.col("rn") == F.ceil(F.col("n") * 0.5))
        .select("event_type", F.col("d").alias("mad_v"))
    )
    return (
        dev.join(mad, "event_type")
        .where(F.col("d") > 3 * F.col("mad_v"))
        .select(
            "event_id",
            "event_type",
            F.col("v").alias("value_cents"),
            F.col("med_v").alias("median_cents"),
            F.col("mad_v").alias("mad_cents"),
            F.col("d").alias("abs_dev_cents"),
        )
    )


# ---------------------------------------------------------------------------
# EWMA smoothing (integer dyadic weights)
# ---------------------------------------------------------------------------

_EWMA_LAGS = 10

_EWMA_ORACLE = f"""
WITH cents AS (
  SELECT event_id, user_id, ts,
         CAST(floor(value * 1000000) AS BIGINT) AS v
  FROM events
),
lagged AS (
  SELECT event_id, user_id,
         {" + ".join(
             f"COALESCE(lag(v, {k}) OVER "
             f"(PARTITION BY user_id ORDER BY ts, event_id) // {2 ** k}, 0)"
             for k in range(_EWMA_LAGS)
         )} AS ewma_micro
  FROM cents
)
SELECT event_id, user_id, ewma_micro FROM lagged
"""


@register("timeseries_ewma", oracle=_EWMA_ORACLE)
def timeseries_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially-weighted moving average (α = 1/2) over each
    user's event-value history — trend smoothing with DYADIC weights: the
    k-th lag contributes ``floor(v_micro / 2^k)``, so every term and the
    sum are integers and the result is bit-identical across engines and
    partitionings (a float EWMA recurrence is neither). Ten lags bound the
    tail below one micro-unit — numerically identical to the infinite
    recurrence at this quantization.

    Scale: ONE shuffle+sort per user (all ten lags share the same window
    spec, so Catalyst evaluates them in a single Window operator over a
    single sort); everything else is per-row integer math. The streaming
    twin of this shape is a ``transformWithState`` accumulator; batch-side
    the window form wins because it needs no state store."""
    cents = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        F.floor(F.col("value") * 1_000_000).cast("long").alias("v"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # floor division of the lagged micro value by 2^k; lag() shares one
    # window spec so all ten evaluate in a single sort
    terms = [
        F.coalesce(
            F.floor(F.lag("v", k).over(w) / F.lit(2**k)).cast("long"), F.lit(0)
        )
        for k in range(_EWMA_LAGS)
    ]
    total = terms[0]
    for t in terms[1:]:
        total = total + t
    return cents.select("event_id", "user_id", total.alias("ewma_micro"))


# ---------------------------------------------------------------------------
# Equi-depth (quantile) binning without a global sort
# ---------------------------------------------------------------------------

_EQD_K = 8

_EQD_ORACLE = f"""
WITH cents AS (
  SELECT CAST(floor(l_extendedprice * 100) AS BIGINT) AS c FROM lineitem
),
tot AS (SELECT count(*) AS n FROM cents),
dist AS (SELECT c, count(*) AS k FROM cents GROUP BY c),
cum AS (SELECT c, sum(k) OVER (ORDER BY c) AS cum FROM dist),
bounds AS (
  SELECT j.j, min(cum.c) AS b
  FROM cum
  CROSS JOIN (SELECT unnest(range(1, {_EQD_K})) AS j) j
  CROSS JOIN tot
  WHERE cum.cum >= CAST(ceil(j.j * tot.n / {_EQD_K}.0) AS BIGINT)
  GROUP BY j.j
),
assigned AS (
  SELECT c, 1 + (SELECT count(*) FROM bounds WHERE bounds.b < cents.c) AS bucket
  FROM cents
)
SELECT CAST(bucket AS BIGINT) AS bucket, count(*) AS n_rows,
       min(c) AS min_cents, max(c) AS max_cents
FROM assigned GROUP BY bucket
"""


@register("agg_equidepth_bins", oracle=_EQD_ORACLE)
def agg_equidepth_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (quantile) binning of prices into 8 buckets WITHOUT a
    global sort: the naive ``ntile(8) OVER (ORDER BY price)`` funnels
    100 TB through a single-partition window — the classic scale trap.
    Instead: (1) one groupBy collapses rows to the VALUE DOMAIN (distinct
    cents — bounded by price granularity, not data volume), (2) a running
    sum over that domain-sized table locates the 7 exact rank boundaries,
    (3) the boundaries collect as bounded model state (7 longs) and every
    row buckets by a closed-form comparison against the literal array —
    map-side, zero further shuffle. Ties at a boundary stay in the lower
    bucket, deterministically. Integer cents make every statistic
    engine-exact."""
    cents = _t(spark, sf_dir, "lineitem").select(
        F.floor(F.col("l_extendedprice") * 100).cast("long").alias("c")
    )
    n = cents.count()
    dist = cents.groupBy("c").agg(F.count(F.lit(1)).alias("k"))
    # Window over the distinct-value domain (single partition by design:
    # the table is value-domain-sized, not data-sized — see docstring)
    cum = dist.withColumn(
        "cum", F.sum("k").over(Window.orderBy("c").rowsBetween(Window.unboundedPreceding, 0))
    )
    import math

    ranks = [math.ceil(j * n / _EQD_K) for j in range(1, _EQD_K)]
    bounds_row = cum.agg(
        *[
            F.min(F.when(F.col("cum") >= F.lit(r), F.col("c"))).alias(f"b{j}")
            for j, r in enumerate(ranks, start=1)
        ]
    ).collect()[0]
    bounds = [int(bounds_row[f"b{j}"]) for j in range(1, _EQD_K)]
    barr = F.array(*[F.lit(b) for b in bounds])
    bucket = (
        F.size(F.filter(barr, lambda b: b < F.col("c"))) + 1
    ).cast("long")
    return (
        cents.select("c", bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("c").alias("min_cents"),
            F.max("c").alias("max_cents"),
        )
    )


# ---------------------------------------------------------------------------
# join_scd2_point_in_time
# ---------------------------------------------------------------------------

_SCD2_ORACLE = """
WITH ev AS (
  SELECT event_id, user_id, event_type,
         date_trunc('microseconds', ts) AS ts
  FROM events
),
dim AS (
  SELECT user_id,
         event_id   AS status_id,
         event_type AS status,
         ts         AS valid_from,
         lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                    AS valid_to
  FROM ev WHERE event_type IN ('signup', 'error')
),
fact AS (
  SELECT event_id AS purchase_id, user_id, ts
  FROM ev WHERE event_type = 'purchase'
)
SELECT f.user_id,
       f.purchase_id,
       d.status_id,
       d.status,
       epoch_us(d.valid_from) AS status_since_us
FROM fact f
LEFT JOIN dim d
  ON d.user_id = f.user_id
 AND f.ts >= d.valid_from
 AND (d.valid_to IS NULL OR f.ts < d.valid_to)
"""


@register("join_scd2_point_in_time", oracle=_SCD2_ORACLE)
def join_scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 point-in-time join — the warehouse pattern the as-of join's
    carry-forward window can't express directly: a slowly-changing
    dimension is VERSIONED into half-open validity intervals
    ``[valid_from, valid_to)`` (``lead`` over the change stream, open-ended
    current version), and facts join the version valid AT their event time.
    Here the change stream is each user's signup/error events and the facts
    are their purchases; purchases before any version keep a null-padded
    row (the "unknown member" SCD2 contract).

    Semantics pins: intervals per user are disjoint by construction, so
    every fact matches at most one version; equal-timestamp version ties
    order by (ts, event_id) in BOTH engines, giving the earlier tie an
    empty [ts, ts) interval deterministically.

    Scale: one window shuffle builds the version table (dimension-sized,
    not fact-sized); the join is an equi-join on the member key with the
    interval check as a residual predicate — the fact side shuffles once
    on user_id (or not at all when the versioned dim broadcasts, as AQE
    chooses here). Never a time-expansion join: the residual prunes to
    <= 1 row, the same bound ``join_range`` documents.
    """
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "ts")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dim = (
        ev.where(F.col("event_type").isin("signup", "error"))
        .select(
            "user_id",
            F.col("event_id").alias("status_id"),
            F.col("event_type").alias("status"),
            F.col("ts").alias("valid_from"),
        )
        .withColumn("valid_to", F.lead("valid_from").over(
            Window.partitionBy("user_id").orderBy("valid_from", "status_id")
        ))
    )
    fact = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    cond = (
        (dim["user_id"] == fact["user_id"])
        & (fact["ts"] >= dim["valid_from"])
        & (dim["valid_to"].isNull() | (fact["ts"] < dim["valid_to"]))
    )
    return fact.join(dim, cond, "left").select(
        fact["user_id"],
        "purchase_id",
        "status_id",
        "status",
        F.unix_micros("valid_from").alias("status_since_us"),
    )


# ---------------------------------------------------------------------------
# agg_key_skew_profile
# ---------------------------------------------------------------------------

_SKEW_ORACLE = """
WITH per_key AS (
  SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
)
SELECT event_type,
       CAST(sum(c) AS BIGINT)              AS n_rows,
       CAST(count(*) AS BIGINT)            AS n_keys,
       CAST(sum(c * c) AS BIGINT)          AS hhi,
       CAST((1000000 * max(c)) // sum(c) AS BIGINT) AS top1_share_ppm
FROM per_key
GROUP BY event_type
"""


@register("agg_key_skew_profile", oracle=_SKEW_ORACLE)
def agg_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew diagnostic — the pre-flight a 100 TB pipeline runs on a join
    or groupBy key BEFORE choosing a strategy (plain shuffle vs salting vs
    AQE skew splitting, see ``join_skew_salted``): per key-space, row and
    key cardinality, the Herfindahl concentration index (sum of squared
    per-key counts — the integer-exact skew statistic; uniform keys give
    hhi ~ n_rows²/n_keys, a single hot key drives it toward n_rows²), and
    the hottest key's traffic share in ppm.

    Plan: ONE shuffle on (event_type, user_id) with map-side partials for
    the per-key counts, then a second tiny aggregation over the key-grain
    table (key-space-sized, not row-sized). All outputs integers —
    floor-divided ppm, no float entropy — so the oracle hash-matches
    exactly.
    """
    per_key = (
        _t(spark, sf_dir, "events")
        .groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        per_key.groupBy("event_type")
        .agg(
            F.sum("c").alias("n_rows"),
            F.count(F.lit(1)).alias("n_keys"),
            F.sum(F.col("c") * F.col("c")).alias("hhi"),
            F.max("c").alias("_max_c"),
        )
        # integer DIV, not floor(double /): keeps the ppm exact (and
        # engine-identical) even where the double quotient rounds
        .withColumn(
            "top1_share_ppm", F.expr("CAST((1000000L * _max_c) DIV n_rows AS BIGINT)")
        )
        .drop("_max_c")
    )


# ---------------------------------------------------------------------------
# join_range_keyless — interval join with NO shared key (bin-bucketed)
# ---------------------------------------------------------------------------

_RANGE_KEYLESS_ORACLE = """
WITH e AS (
  SELECT event_id, user_id, event_type,
         epoch_us(date_trunc('microseconds', ts)) AS t_us
  FROM events),
w AS (
  SELECT event_id AS win_id, t_us AS w_start, t_us + 120000000 AS w_end
  FROM e WHERE event_type = 'error')
SELECT win_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
FROM w JOIN e
  ON e.t_us >= w.w_start AND e.t_us < w.w_end AND e.event_id <> w.win_id
GROUP BY win_id
"""


@register("join_range_keyless", oracle=_RANGE_KEYLESS_ORACLE)
def join_range_keyless(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyless interval join, bin-bucketed — the scale primitive
    ``join_range`` can't reach. There, user_id equality carries the join;
    here the windows (every error event opens a 2-minute incident window)
    must match events from ANY user, so a naive plan is a cross join with
    a time residual — quadratic, and plan-banned in this repo.

    The distributed shape: bucketize time into bins the size of the window
    (120 s), explode each window into the 1–2 bins it covers, tag each
    probe event with the single bin containing it, and hash-join on the
    bin with the exact [start, end) check and the self-exclusion as
    residuals. Every (window, event) pair shares exactly one bin — the
    probe side keys by its OWN bin — so matches are produced exactly once,
    no post-join dedup. The oracle states the naive quadratic formulation;
    the engine's plan is linear in matches: shuffle volume is rows + (≤2×)
    windows, never |w|·|e|.

    Scale: bin width = window length bounds replication at 2× and makes
    per-bin fan-in the events-per-2-minutes rate — the same bound the
    streaming interval join's watermark state carries. Skewed bins (event
    storms) ride the AQE skew-join split."""
    from ..operators.joins import bin_bucketed_range_join

    e = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", F.unix_micros("ts").alias("t_us")
    )
    bin_us = 120_000_000
    w = e.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("win_id"),
        F.col("t_us").alias("w_start"),
        (F.col("t_us") + bin_us).alias("w_end"),
    )
    probes = e.select("event_id", "user_id", "t_us")
    return (
        bin_bucketed_range_join(w, probes, "w_start", "w_end", "t_us", bin_us)
        .where(F.col("event_id") != F.col("win_id"))
        .groupBy("win_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


# ---------------------------------------------------------------------------
# cdc_snapshot_diff — diff two KTable snapshots (added/removed/changed)
# ---------------------------------------------------------------------------

_SNAPSHOT_DIFF_ORACLE = """
WITH a AS (
  SELECT user_id, event_type AS state_a FROM events
  WHERE date_trunc('microseconds', ts) >= TIMESTAMP '2024-01-02 00:00:00'
    AND date_trunc('microseconds', ts) <  TIMESTAMP '2024-01-03 00:00:00'
  QUALIFY row_number() OVER (
      PARTITION BY user_id
      ORDER BY date_trunc('microseconds', ts) DESC, event_id DESC) = 1),
b AS (
  SELECT user_id, event_type AS state_b FROM events
  WHERE date_trunc('microseconds', ts) >= TIMESTAMP '2024-01-29 00:00:00'
    AND date_trunc('microseconds', ts) <  TIMESTAMP '2024-01-30 00:00:00'
  QUALIFY row_number() OVER (
      PARTITION BY user_id
      ORDER BY date_trunc('microseconds', ts) DESC, event_id DESC) = 1)
SELECT user_id,
       CASE WHEN state_a IS NULL THEN 'added'
            WHEN state_b IS NULL THEN 'removed'
            WHEN state_a = state_b THEN 'unchanged'
            ELSE 'changed' END AS change_type,
       state_a, state_b
FROM a FULL OUTER JOIN b USING (user_id)
"""


@register("cdc_snapshot_diff", oracle=_SNAPSHOT_DIFF_ORACLE)
def cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diff of two KTable snapshots — the audit counterpart of
    ``cdc_upsert_apply``. Each snapshot is latest-state-per-key
    (S2 semantics: ``max_by`` over a (ts, event_id) total order, the same
    deterministic tiebreak the KTable query pins) restricted to a 24-hour
    activity window; the diff is one full-outer join classifying every key
    as added / removed / changed / unchanged — what a pipeline publishes
    as a changelog between two materializations, and all four classes are
    live at gate scale (r6: 8/11/106/21 at sf0.01).

    Scale: each snapshot is one groupBy(user_id) with map-side ``max_by``
    partials (state = one row per key, never a sort); the full-outer join
    can't broadcast by definition, so it's a single co-partitioned
    shuffle on the key both snapshots already share — AQE reuses the
    exchange when the two sides hash alike."""
    e = _t(spark, sf_dir, "events")

    def snap(lo: str, hi: str, alias: str) -> DataFrame:
        return (
            e.where(
                (F.col("ts") >= F.lit(lo).cast("timestamp"))
                & (F.col("ts") < F.lit(hi).cast("timestamp"))
            )
            .groupBy("user_id")
            .agg(
                F.max_by("event_type", F.struct("ts", "event_id")).alias(alias)
            )
        )

    a = snap("2024-01-02 00:00:00", "2024-01-03 00:00:00", "state_a")
    b = snap("2024-01-29 00:00:00", "2024-01-30 00:00:00", "state_b")
    return a.join(b, "user_id", "full_outer").select(
        "user_id",
        F.when(F.col("state_a").isNull(), "added")
        .when(F.col("state_b").isNull(), "removed")
        .when(F.col("state_a") == F.col("state_b"), "unchanged")
        .otherwise("changed")
        .alias("change_type"),
        "state_a",
        "state_b",
    )


# ---------------------------------------------------------------------------
# profile_column_stats — single-pass multi-column table profiler
# ---------------------------------------------------------------------------

_PROFILE_ORACLE = """
SELECT 'o_custkey' AS col_name,
       CAST(count(*) FILTER (o_custkey IS NULL) AS BIGINT) AS n_nulls,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_distinct,
       CAST(min(o_custkey) AS VARCHAR) AS min_repr,
       CAST(max(o_custkey) AS VARCHAR) AS max_repr
FROM orders
UNION ALL
SELECT 'o_totalprice',
       CAST(count(*) FILTER (o_totalprice IS NULL) AS BIGINT),
       CAST(count(DISTINCT o_totalprice) AS BIGINT),
       CAST(CAST(floor(min(o_totalprice) * 100 + 0.5) AS BIGINT) AS VARCHAR),
       CAST(CAST(floor(max(o_totalprice) * 100 + 0.5) AS BIGINT) AS VARCHAR)
FROM orders
UNION ALL
SELECT 'o_orderstatus',
       CAST(count(*) FILTER (o_orderstatus IS NULL) AS BIGINT),
       CAST(count(DISTINCT o_orderstatus) AS BIGINT),
       min(o_orderstatus), max(o_orderstatus)
FROM orders
UNION ALL
SELECT 'o_orderdate',
       CAST(count(*) FILTER (o_orderdate IS NULL) AS BIGINT),
       CAST(count(DISTINCT o_orderdate) AS BIGINT),
       strftime(min(o_orderdate), '%Y-%m-%d %H:%M:%S'),
       strftime(max(o_orderdate), '%Y-%m-%d %H:%M:%S')
FROM orders
"""


@register("profile_column_stats", oracle=_PROFILE_ORACLE)
def profile_column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass table profiler: null count, exact distinct count, and
    canonical min/max per column — the validation step a training
    pipeline runs before pointing 100 TB at a tokenizer. The oracle
    states it as four UNION'd scans; the engine computes every metric in
    ONE aggregation over one scan, then pivots the single wide row into
    per-column rows with ``stack`` (map-side, 4 rows total).

    Extremes render engine-portably: numerics quantize to integer cents
    (then int→string, which both engines print identically — raw
    double→string is NOT portable), timestamps through an explicit
    format string.

    Scale: exact multi-column distincts make Catalyst Expand the input
    ×N-columns before the partial aggs — the honest cost of exactness,
    linear not quadratic. At 100 TB the production variant swaps
    ``approx_count_distinct`` (HLL, one pass, no Expand): that shape is
    itself registered and gate-checked as ``profile_column_stats_approx``
    (X80 contract), with the Expand-free plan pinned in
    ``tests/test_round7_ops.py``; exactness is kept here because the gate
    hashes values."""
    o = _t(spark, sf_dir, "orders")
    row = o.agg(
        F.sum(F.col("o_custkey").isNull().cast("long")).alias("ck_nulls"),
        F.countDistinct("o_custkey").alias("ck_dist"),
        F.min("o_custkey").cast("string").alias("ck_min"),
        F.max("o_custkey").cast("string").alias("ck_max"),
        F.sum(F.col("o_totalprice").isNull().cast("long")).alias("tp_nulls"),
        F.countDistinct("o_totalprice").alias("tp_dist"),
        F.floor(F.min("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .cast("string")
        .alias("tp_min"),
        F.floor(F.max("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .cast("string")
        .alias("tp_max"),
        F.sum(F.col("o_orderstatus").isNull().cast("long")).alias("st_nulls"),
        F.countDistinct("o_orderstatus").alias("st_dist"),
        F.min("o_orderstatus").alias("st_min"),
        F.max("o_orderstatus").alias("st_max"),
        F.sum(F.col("o_orderdate").isNull().cast("long")).alias("dt_nulls"),
        F.countDistinct("o_orderdate").alias("dt_dist"),
        F.date_format(F.min("o_orderdate"), "yyyy-MM-dd HH:mm:ss").alias("dt_min"),
        F.date_format(F.max("o_orderdate"), "yyyy-MM-dd HH:mm:ss").alias("dt_max"),
    )
    return row.select(
        F.expr(
            "stack(4, "
            "'o_custkey', ck_nulls, ck_dist, ck_min, ck_max, "
            "'o_totalprice', tp_nulls, tp_dist, tp_min, tp_max, "
            "'o_orderstatus', st_nulls, st_dist, st_min, st_max, "
            "'o_orderdate', dt_nulls, dt_dist, dt_min, dt_max) "
            "AS (col_name, n_nulls, n_distinct, min_repr, max_repr)"
        )
    )


def profile_column_stats_approx_production(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The profiler's 100 TB shape: identical to ``profile_column_stats``
    except distinct counts come from ``approx_count_distinct`` (HLL++,
    rsd 0.02) — a plain (non-distinct) aggregate, so the plan is ONE
    two-phase hash aggregate over one scan with NO Expand: the input is
    read once, not replicated ×N-columns. This is the variant a pipeline
    actually points 100 TB at; the registered gate query
    (``profile_column_stats_approx``) composes this exact frame with an
    exact-distinct harness to verify the sketch's accuracy bound. Not
    directly oracle-checkable alone (HLL estimates differ across engines),
    hence unregistered; the scaling sweep times it as the production row.
    """
    o = _t(spark, sf_dir, "orders")
    row = o.agg(
        F.sum(F.col("o_custkey").isNull().cast("long")).alias("ck_nulls"),
        F.approx_count_distinct("o_custkey", 0.02).alias("ck_adist"),
        F.min("o_custkey").cast("string").alias("ck_min"),
        F.max("o_custkey").cast("string").alias("ck_max"),
        F.sum(F.col("o_totalprice").isNull().cast("long")).alias("tp_nulls"),
        F.approx_count_distinct("o_totalprice", 0.02).alias("tp_adist"),
        F.floor(F.min("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .cast("string")
        .alias("tp_min"),
        F.floor(F.max("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .cast("string")
        .alias("tp_max"),
        F.sum(F.col("o_orderstatus").isNull().cast("long")).alias("st_nulls"),
        F.approx_count_distinct("o_orderstatus", 0.02).alias("st_adist"),
        F.min("o_orderstatus").alias("st_min"),
        F.max("o_orderstatus").alias("st_max"),
        F.sum(F.col("o_orderdate").isNull().cast("long")).alias("dt_nulls"),
        F.approx_count_distinct("o_orderdate", 0.02).alias("dt_adist"),
        F.date_format(F.min("o_orderdate"), "yyyy-MM-dd HH:mm:ss").alias("dt_min"),
        F.date_format(F.max("o_orderdate"), "yyyy-MM-dd HH:mm:ss").alias("dt_max"),
    )
    return row.select(
        F.expr(
            "stack(4, "
            "'o_custkey', ck_nulls, ck_adist, ck_min, ck_max, "
            "'o_totalprice', tp_nulls, tp_adist, tp_min, tp_max, "
            "'o_orderstatus', st_nulls, st_adist, st_min, st_max, "
            "'o_orderdate', dt_nulls, dt_adist, dt_min, dt_max) "
            "AS (col_name, n_nulls, approx_distinct, min_repr, max_repr)"
        )
    )


_PROFILE_APPROX_ORACLE = f"""
SELECT col_name, n_nulls, n_distinct, min_repr, max_repr,
       TRUE AS within_tolerance
FROM ({_PROFILE_ORACLE})
"""


@register("profile_column_stats_approx", oracle=_PROFILE_APPROX_ORACLE)
def profile_column_stats_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query for the production profiler
    (:func:`profile_column_stats_approx_production`) under the X80
    exactness contract (the ``agg_approx_count_distinct`` pattern): sketch
    estimates differ across engines, so the query emits its own EXACT
    per-column stats plus ``within_tolerance`` = |HLL estimate − exact| ≤
    3σ (rsd 0.02 → 6%), and the oracle emits exact + TRUE. The approx
    frame joined here is literally the production function's output — the
    sketch math that runs at 100 TB is what the gate checks.

    Scale: the production path is one Expand-free pass (HLL per column is
    a plain aggregate); the exact multi-distinct side here is the
    verification HARNESS, not the operator — at 100 TB only the approx
    frame runs, which is why it exists as a separately-timeable function
    (sweep row in SCALING.md) instead of prose."""
    approx = profile_column_stats_approx_production(spark, sf_dir).select(
        "col_name", "approx_distinct"
    )
    exact = profile_column_stats(spark, sf_dir)
    return exact.join(approx, "col_name").select(
        "col_name",
        "n_nulls",
        "n_distinct",
        "min_repr",
        "max_repr",
        (
            F.abs(F.col("approx_distinct") - F.col("n_distinct"))
            <= F.ceil(F.col("n_distinct") * F.lit(0.06))
        ).alias("within_tolerance"),
    )


# ---------------------------------------------------------------------------
# timeseries_downsample_ohlc — open/high/low/close bar downsampling
# ---------------------------------------------------------------------------

_OHLC_ORACLE = """
WITH e AS (
  SELECT event_type, value, date_trunc('microseconds', ts) AS ts, event_id,
         epoch_us(date_trunc('microseconds', ts)) // 21600000000 AS bucket
  FROM events)
SELECT DISTINCT event_type, bucket,
       first_value(value) OVER w AS open_v,
       max(value) OVER w AS high_v,
       min(value) OVER w AS low_v,
       last_value(value) OVER w AS close_v,
       CAST(count(*) OVER w AS BIGINT) AS n
FROM e
WINDOW w AS (PARTITION BY event_type, bucket ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


@register("timeseries_downsample_ohlc", oracle=_OHLC_ORACLE)
def timeseries_downsample_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC bar downsampling: per (series, 6-hour bucket) the first, max,
    min, and last observation plus the sample count — the metrics/trading
    resample that turns raw ticks into bars, and the general
    keep-endpoints downsampler for any high-rate series. Endpoint
    selection is made deterministic by the (ts, event_id) total order
    (ties in ts cannot flip open/close between engines).

    Scale: ONE groupBy with map-side ``min_by``/``max_by`` partials — the
    open/close never sort anything; each partial carries a single
    (key, value) candidate per group, merged associatively, so the plan
    is a plain two-phase hash aggregate. The oracle states it as window
    functions + DISTINCT; the engine's agg form shuffles only the
    collapsed per-group rows. Raw stored doubles pass through untouched
    (no arithmetic, so no quantization needed)."""
    e = _t(spark, sf_dir, "events").select(
        "event_type", "value", "ts", "event_id",
        F.expr("unix_micros(ts) div 21600000000").alias("bucket"),
    )
    return ohlc_bars(e, "event_type", "bucket")


def ohlc_bars(ev: DataFrame, *keys: str | Column) -> DataFrame:
    """The OHLC aggregate of ``ev`` grouped by ``keys`` — one stage for
    ``timeseries_downsample_ohlc`` (keyed by bucket id) and its streaming
    twin (keyed by the watermarked 6-hour ``window``). Open/close come from
    ``min_by``/``max_by`` over the (ts, event_id) total order."""
    order_key = F.struct("ts", "event_id")
    return ev.groupBy(*keys).agg(
        F.min_by("value", order_key).alias("open_v"),
        F.max("value").alias("high_v"),
        F.min("value").alias("low_v"),
        F.max_by("value", order_key).alias("close_v"),
        F.count(F.lit(1)).alias("n"),
    )


# ---------------------------------------------------------------------------
# scalar_map_ops — map type + higher-order map functions, JVM-side
# ---------------------------------------------------------------------------

_MAP_OPS_ORACLE = """
WITH c AS (
  SELECT user_id, event_type, count(*) AS n
  FROM events GROUP BY 1, 2),
k AS (
  SELECT user_id, event_type || ':' || CAST(n * 2 AS VARCHAR) AS entry
  FROM c WHERE n >= 10),
u AS (SELECT DISTINCT user_id FROM events),
agg AS (
  SELECT user_id,
         CAST(count(entry) AS INT) AS n_kept,
         coalesce(string_agg(entry, ',' ORDER BY entry), '') AS canonical
  FROM u LEFT JOIN k USING (user_id) GROUP BY user_id)
SELECT user_id, n_kept, canonical FROM agg
"""


@register("scalar_map_ops", oracle=_MAP_OPS_ORACLE)
def scalar_map_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map type + higher-order map functions, all JVM-side: per user a
    ``map<event_type, count>`` built with ``map_from_entries``, thresholded
    with ``map_filter``, rescaled with ``transform_values``, and rendered
    engine-portably by sorting ``map_entries`` into a canonical string (map
    iteration order is NOT portable — never compare raw maps or their
    ``to_json`` across engines; users whose every entry filters out keep an
    empty map, not a dropped row). The oracle states the map-free
    relational formulation.

    Scale: one (user, type) partial-agg shuffle + one user-grain rollup —
    the map stages are per-row expressions in whole-stage codegen over the
    already-collapsed grain; entry count per map is bounded by the type
    vocabulary, not event volume."""
    ev = _t(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    m = counts.groupBy("user_id").agg(
        F.map_from_entries(F.collect_list(F.struct("event_type", "n"))).alias("m")
    )
    kept = F.transform_values(
        F.map_filter("m", lambda k, v: v >= 10), lambda k, v: v * 2
    )
    entries = F.transform(
        F.map_entries(kept), lambda e: F.concat_ws(":", e["key"], e["value"])
    )
    return m.select(
        "user_id",
        F.size(kept).cast("int").alias("n_kept"),
        F.concat_ws(",", F.array_sort(entries)).alias("canonical"),
    )


# ---------------------------------------------------------------------------
# agg_hll_intersection — sketch ALGEBRA: distinct overlap via incl-exclusion
# ---------------------------------------------------------------------------

_HLL_INTERSECT_ORACLE = """
WITH o AS (
  SELECT c_mktsegment, o_custkey, year(o_orderdate) AS y
  FROM orders JOIN customer ON o_custkey = c_custkey
  WHERE year(o_orderdate) IN (1996, 1997))
SELECT c_mktsegment,
       CAST(count(DISTINCT CASE WHEN y = 1996 THEN o_custkey END)
          + count(DISTINCT CASE WHEN y = 1997 THEN o_custkey END)
          - count(DISTINCT o_custkey) AS BIGINT) AS exact_both,
       TRUE AS within_tolerance
FROM o GROUP BY c_mktsegment
"""


@register("agg_hll_intersection", oracle=_HLL_INTERSECT_ORACLE)
def agg_hll_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch ALGEBRA under the X80 exactness contract: per market segment,
    how many customers ordered in BOTH 1996 and 1997, estimated from three
    HLL sketches by inclusion-exclusion (``|A∩B| ≈ est(A) + est(B) −
    est(A∪B)``) — the composition that answers retention/overlap questions
    at 100 TB from STORED per-period sketches, no raw-data rescan.
    Intersection error compounds (three estimates, and the difference of
    large numbers loses relative precision — the known weakness of
    HLL intersection), so the tolerance budget is the sum of all three
    sketches' 3-sigma bounds; the flag makes the check driver-visible and
    the oracle emits exact + TRUE.

    Scale: one year-pruned orders scan + broadcast customer dim; the three
    sketches are conditional aggregates sharing ONE groupBy — fixed-size
    state each, no distinct-expansion shuffle on the sketch path (the
    exact side is the verification harness, as across X80)."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    o = (
        _t(spark, sf_dir, "orders")
        .where(
            (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
        )
        .select("o_custkey", F.year("o_orderdate").alias("y"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
    )
    in_a = F.when(F.col("y") == 1996, F.col("o_custkey"))
    in_b = F.when(F.col("y") == 1997, F.col("o_custkey"))
    agg = o.groupBy("c_mktsegment").agg(
        F.countDistinct(in_a).alias("xa"),
        F.countDistinct(in_b).alias("xb"),
        F.countDistinct("o_custkey").alias("xu"),
        F.approx_count_distinct(in_a, 0.02).alias("ea"),
        F.approx_count_distinct(in_b, 0.02).alias("eb"),
        F.approx_count_distinct("o_custkey", 0.02).alias("eu"),
    )
    approx_both = F.col("ea") + F.col("eb") - F.col("eu")
    exact_both = F.col("xa") + F.col("xb") - F.col("xu")
    budget = F.ceil((F.col("xa") + F.col("xb") + F.col("xu")) * F.lit(0.06))
    return agg.select(
        "c_mktsegment",
        exact_both.cast("long").alias("exact_both"),
        (F.abs(approx_both - exact_both) <= budget).alias("within_tolerance"),
    )


# ---------------------------------------------------------------------------
# agg_kll_mergeable_quantiles — store-the-sketch QUANTILES (KLL)
# ---------------------------------------------------------------------------

_KLL_ORACLE = """
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n_rows,
       TRUE AS p50_within_rank_tol,
       TRUE AS p90_within_rank_tol
FROM lineitem
GROUP BY l_returnflag
"""


@register("agg_kll_mergeable_quantiles", oracle=_KLL_ORACLE)
def agg_kll_mergeable_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE quantile sketches (DataSketches KLL via
    ``kll_sketch_agg_double``/``kll_merge_agg_double``) — the percentile
    counterpart of ``agg_hll_mergeable``: per-(flag, ship-month) sketches
    materialize as binary columns a pipeline can STORE, then merge
    losslessly to the flag grain and answer any quantile there without
    rescanning raw data. Contract is rank-based (quantile VALUES are not
    portable across engines — interpolation differs; ranks are): the
    merged sketch's p50/p90 estimates are joined back against the data
    and the observed rank of each estimate must sit within the KLL rank
    error budget (k=200 → ~1.65% at 99%; budget 3%) of its target. The
    oracle emits exact counts + TRUE.

    Scale: sketch build is one (flag, month) partial agg; the merge moves
    ~200-value sketches, never data; the verification join is the harness,
    not the operator — at 100 TB only the sketch path runs."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.date_trunc("month", "l_shipdate").alias("m"), "l_quantity"
    )
    per_month = li.groupBy("l_returnflag", "m").agg(
        F.kll_sketch_agg_double(F.col("l_quantity").cast("double")).alias("sk")
    )
    merged = per_month.groupBy("l_returnflag").agg(
        F.kll_merge_agg_double("sk").alias("msk")
    )
    ests = merged.select(
        "l_returnflag",
        F.kll_sketch_get_quantile_double("msk", F.lit(0.5)).alias("e50"),
        F.kll_sketch_get_quantile_double("msk", F.lit(0.9)).alias("e90"),
    )
    ranks = (
        li.join(F.broadcast(ests), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum((F.col("l_quantity") <= F.col("e50")).cast("long")).alias("le50"),
            F.sum((F.col("l_quantity") <= F.col("e90")).cast("long")).alias("le90"),
            # KLL quantile answers the LEFT rank boundary; values strictly
            # below the estimate bound the other side of ties
            F.sum((F.col("l_quantity") < F.col("e50")).cast("long")).alias("lt50"),
            F.sum((F.col("l_quantity") < F.col("e90")).cast("long")).alias("lt90"),
        )
    )
    tol = 0.03

    def within(lt, le, target):
        # the target rank must fall within [lt - tol·n, le + tol·n]: ties on
        # the estimate make the observed rank an interval, not a point
        t = F.col("n_rows") * target
        return (t >= F.col(lt) - F.col("n_rows") * tol) & (
            t <= F.col(le) + F.col("n_rows") * tol
        )

    return ranks.select(
        "l_returnflag",
        "n_rows",
        within("lt50", "le50", 0.5).alias("p50_within_rank_tol"),
        within("lt90", "le90", 0.9).alias("p90_within_rank_tol"),
    )


# ---------------------------------------------------------------------------
# agg_theta_customer_overlap — TRUE sketch set algebra (theta)
# ---------------------------------------------------------------------------

_THETA_ORACLE = """
WITH o AS (
  SELECT c_mktsegment, o_custkey, year(o_orderdate) AS y
  FROM orders JOIN customer ON o_custkey = c_custkey
  WHERE year(o_orderdate) IN (1996, 1997))
SELECT c_mktsegment,
       CAST(count(DISTINCT CASE WHEN y = 1996 THEN o_custkey END)
          + count(DISTINCT CASE WHEN y = 1997 THEN o_custkey END)
          - count(DISTINCT o_custkey) AS BIGINT) AS exact_both,
       CAST(count(DISTINCT o_custkey)
          - count(DISTINCT CASE WHEN y = 1997 THEN o_custkey END)
          AS BIGINT) AS exact_churned,
       TRUE AS both_within_tolerance,
       TRUE AS churned_within_tolerance
FROM o GROUP BY c_mktsegment
"""


@register("agg_theta_customer_overlap", oracle=_THETA_ORACLE)
def agg_theta_customer_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE sketch set algebra: theta sketches support ``intersection`` and
    ``difference`` as first-class operations — the right tool where
    X123's HLL inclusion-exclusion merely subtracts estimates (theta's
    intersection operates on the retained sample itself, and is EXACT
    below the nominal k=4096 entries). Per segment: customers active in
    both 1996 and 1997 (retention) and active in 1996 but not 1997
    (churn), from two stored per-year sketches. Same X80 contract: the
    query checks its own estimates against its own exact counts
    (tolerance = 3-sigma on the operand magnitudes) and emits flags; the
    oracle emits exact + TRUE.

    Scale: two conditional sketch aggregates share ONE groupBy with the
    exact verification counts; stored per-period theta sketches answer
    ANY later intersection/difference question without rescanning —
    the set-algebra generalization of the store-the-sketch pattern."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    o = (
        _t(spark, sf_dir, "orders")
        .where(
            (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
        )
        .select("o_custkey", F.year("o_orderdate").alias("y"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
    )
    in_a = F.when(F.col("y") == 1996, F.col("o_custkey"))
    in_b = F.when(F.col("y") == 1997, F.col("o_custkey"))
    agg = o.groupBy("c_mktsegment").agg(
        F.theta_sketch_agg(in_a).alias("sa"),
        F.theta_sketch_agg(in_b).alias("sb"),
        F.countDistinct(in_a).alias("xa"),
        F.countDistinct(in_b).alias("xb"),
        F.countDistinct("o_custkey").alias("xu"),
    )
    est_both = F.theta_sketch_estimate(F.theta_intersection("sa", "sb"))
    est_churn = F.theta_sketch_estimate(F.theta_difference("sa", "sb"))
    exact_both = F.col("xa") + F.col("xb") - F.col("xu")
    exact_churn = F.col("xu") - F.col("xb")
    budget = F.ceil((F.col("xa") + F.col("xb")) * F.lit(0.06))
    return agg.select(
        "c_mktsegment",
        exact_both.cast("long").alias("exact_both"),
        exact_churn.cast("long").alias("exact_churned"),
        (F.abs(est_both - exact_both) <= budget).alias("both_within_tolerance"),
        (F.abs(est_churn - exact_churn) <= budget).alias("churned_within_tolerance"),
    )


# ---------------------------------------------------------------------------
# profile_drift_psi — population-stability-index drift monitor (round 7)
# ---------------------------------------------------------------------------

# Fixed bin edges (width 50, clamped into 10 bins) — a drift MONITOR pins
# its bins once so week-over-week numbers are comparable; data-derived
# edges would make the metric drift with the data it watches.
_PSI_BINS = 10
_PSI_WIDTH = 50
_PSI_SPLIT = "2024-01-15 00:00:00"

_PSI_ORACLE = f"""
WITH binned AS (
  SELECT least(CAST(floor(value / {_PSI_WIDTH}) AS BIGINT), {_PSI_BINS - 1}) AS bin,
         ts < TIMESTAMP '{_PSI_SPLIT}' AS is_base
  FROM events
),
counts AS (
  SELECT b.bin,
         CAST(COALESCE(sum(CASE WHEN is_base THEN 1 END), 0) AS BIGINT) AS base_n,
         CAST(COALESCE(sum(CASE WHEN NOT is_base THEN 1 END), 0) AS BIGINT) AS curr_n
  FROM (SELECT unnest(range({_PSI_BINS})) AS bin) b
  LEFT JOIN binned USING (bin)
  GROUP BY b.bin
),
tot AS (
  SELECT sum(base_n + 1) AS tb, sum(curr_n + 1) AS tc FROM counts
),
ppm AS (
  SELECT bin, base_n, curr_n,
         CAST((base_n + 1) * 1000000 // tb AS BIGINT) AS p_ppm,
         CAST((curr_n + 1) * 1000000 // tc AS BIGINT) AS q_ppm
  FROM counts, tot
),
contrib AS (
  SELECT bin, base_n, curr_n, p_ppm, q_ppm,
         (p_ppm - q_ppm)
           * CAST(floor(ln(CAST(p_ppm AS DOUBLE) / q_ppm) * 1000 + 0.5) AS BIGINT)
           AS contrib_nano
  FROM ppm
)
SELECT bin, base_n, curr_n, p_ppm, q_ppm, contrib_nano,
       CAST(sum(contrib_nano) OVER () AS BIGINT) AS psi_nano_total
FROM contrib
"""


@register("profile_drift_psi", oracle=_PSI_ORACLE)
def profile_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the first two weeks of events and
    the rest — the standard production drift monitor a pipeline runs before
    trusting a new data drop (PSI > 0.2 conventionally blocks the refresh).
    Bin edges are FIXED literals (a monitor re-deriving its bins from the
    data it watches would hide exactly the drift it exists to catch);
    Laplace +1 smoothing keeps empty bins finite.

    Determinism: shares quantize to integer ppm (floor-division of
    non-negative longs, identical in both engines), the per-bin log ratio
    milli-quantizes before the multiply, and the PSI total is an integer
    sum of per-bin integers — order-free.

    Scale: ONE scan with conditional aggregation (base/current counted in
    the same partial aggregate — no second pass, no self-join), one
    10-group shuffle, then the totals of the 10-row bin frame (one global
    aggregate). The literal bin fan-out is a broadcast-range join on a
    10-row frame."""
    return psi_report(spark, psi_histogram(_t(spark, sf_dir, "events")))


def psi_histogram(ev: DataFrame) -> DataFrame:
    """Per fixed bin, the base-window and current-window event counts of
    ``ev`` (bins present in ``ev`` only) — the aggregate stage of
    ``profile_drift_psi`` and its streaming twin's state."""
    return (
        ev.select(
            F.least(
                F.floor(F.col("value") / _PSI_WIDTH).cast("long"),
                F.lit(_PSI_BINS - 1).cast("long"),
            ).alias("bin"),
            (F.col("ts") < F.lit(_PSI_SPLIT).cast("timestamp")).alias("is_base"),
        )
        .groupBy("bin")
        .agg(
            F.count(F.when(F.col("is_base"), 1)).alias("base_n"),
            F.count(F.when(~F.col("is_base"), 1)).alias("curr_n"),
        )
    )


def psi_report(spark: SparkSession, counts: DataFrame) -> DataFrame:
    """The PSI math over a :func:`psi_histogram` result: fan out to all
    ``_PSI_BINS`` bins, +1-smoothed ppm shares, milli-quantized log ratio
    per bin, and the integer PSI total on every row."""
    bins = spark.range(_PSI_BINS).select(F.col("id").alias("bin"))
    full = (
        bins.join(counts, "bin", "left")
        .fillna(0, subset=["base_n", "curr_n"])
        .select("bin", F.col("base_n").cast("long").alias("base_n"),
                F.col("curr_n").cast("long").alias("curr_n"))
    )
    full = with_totals(
        full, tb=F.sum(F.col("base_n") + 1), tc=F.sum(F.col("curr_n") + 1)
    ).select(
        "bin",
        "base_n",
        "curr_n",
        F.expr("(base_n + 1) * 1000000L DIV tb").alias("p_ppm"),
        F.expr("(curr_n + 1) * 1000000L DIV tc").alias("q_ppm"),
    )
    # ln-quantization boundary risk accepted — canonical note at
    # corpus_queries.sample_importance_dsir.
    contrib = (
        (F.col("p_ppm") - F.col("q_ppm"))
        * F.floor(
            F.log(F.col("p_ppm").cast("double") / F.col("q_ppm")) * 1000 + F.lit(0.5)
        ).cast("long")
    ).alias("contrib_nano")
    out = full.select("bin", "base_n", "curr_n", "p_ppm", "q_ppm", contrib)
    return with_totals(out, psi_nano_total=F.sum("contrib_nano"))


# ---------------------------------------------------------------------------
# layout_zorder_pruning — Z-order data layout vs min/max file skipping
# ---------------------------------------------------------------------------

_Z_BITS = 10  # 10 bits per dimension -> z in [0, 4^10)
_Z_FILES = 64  # fixed-width z-ranges -> 64 files, map-side assignment
_Z_CELL = (4**_Z_BITS) // _Z_FILES
# the probe box: a 12.5% band in EACH dimension (1.56% of the plane) —
# the "customer segment over one date window" shape that min/max file
# skipping exists for. Deliberately NOT aligned to a Z-cell boundary
# (the 64 files are 128x128 tiles; an aligned box would flatter Z-order
# with a single-file best case), so the measured win is the honest
# straddling-tiles number.
_Z_LO, _Z_HI = 300, 427


def _z_interleave(div: str) -> str:
    """Bit-interleave x and y (``_Z_BITS`` bits each) with pure integer
    arithmetic — the same source text is valid Spark SQL (div='DIV') and
    DuckDB SQL (div='//'), so engine parity is by construction."""
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"((x {div} {2**i}) % 2) * {4**i}")
        terms.append(f"((y {div} {2**i}) % 2) * {2 * 4**i}")
    return " + ".join(terms)


def _zorder_oracle() -> str:
    z = _z_interleave("//")
    return f"""
WITH scal AS (
  SELECT max(o_custkey) AS mc,
         min(date_diff('day', DATE '1970-01-01', o_orderdate)) AS mind,
         max(date_diff('day', DATE '1970-01-01', o_orderdate)) AS maxd
  FROM orders
),
xy AS (
  SELECT CAST(o_custkey * {2**_Z_BITS} // (mc + 1) AS BIGINT) AS x,
         CAST((date_diff('day', DATE '1970-01-01', o_orderdate) - mind)
              * {2**_Z_BITS} // (maxd - mind + 1) AS BIGINT) AS y
  FROM orders, scal
),
z AS (SELECT x, y, CAST(({z}) // {_Z_CELL} AS BIGINT) AS file_z,
             CAST(x // {2**_Z_BITS // _Z_FILES} AS BIGINT) AS file_lin
      FROM xy),
stats AS (
  SELECT 'zorder' AS layout, file_z AS file_id,
         min(x) AS min_x, max(x) AS max_x, min(y) AS min_y, max(y) AS max_y,
         count(*) AS rows_in_file,
         sum(CASE WHEN x BETWEEN {_Z_LO} AND {_Z_HI}
                   AND y BETWEEN {_Z_LO} AND {_Z_HI} THEN 1 ELSE 0 END) AS hits
  FROM z GROUP BY file_z
  UNION ALL
  SELECT 'linear', file_lin,
         min(x), max(x), min(y), max(y), count(*),
         sum(CASE WHEN x BETWEEN {_Z_LO} AND {_Z_HI}
                   AND y BETWEEN {_Z_LO} AND {_Z_HI} THEN 1 ELSE 0 END)
  FROM z GROUP BY file_lin
)
SELECT layout,
       CAST(count(*) AS BIGINT) AS n_files,
       CAST(sum(CASE WHEN min_x <= {_Z_HI} AND max_x >= {_Z_LO}
                      AND min_y <= {_Z_HI} AND max_y >= {_Z_LO}
                THEN 1 ELSE 0 END) AS BIGINT) AS files_scanned,
       CAST(COALESCE(sum(CASE WHEN min_x <= {_Z_HI} AND max_x >= {_Z_LO}
                               AND min_y <= {_Z_HI} AND max_y >= {_Z_LO}
                          THEN rows_in_file END), 0) AS BIGINT) AS rows_scanned,
       CAST(sum(hits) AS BIGINT) AS rows_matching
FROM stats GROUP BY layout
"""


@register("layout_zorder_pruning", oracle=_zorder_oracle())
def layout_zorder_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) data layout, measured by what it exists for:
    min/max file skipping. Orders are mapped to a 1024x1024 (custkey,
    order-day) grid, bit-interleaved into a Z-value, and assigned to 64
    fixed-width Z-range "files"; the same rows are also assigned to 64
    single-column (custkey-sorted) files. For a 12.5%-per-dimension probe
    box the query emits, per layout, how many files a min/max-pruning
    reader must open and how many rows it drags in — the Z-order row
    should scan a small fraction of the linear layout's (both see the
    identical ``rows_matching``, pinning that pruning lost nothing).

    Determinism: the interleave is pure integer arithmetic generated from
    ONE source string for both engines (no engine bit intrinsics), and
    file assignment is fixed-width Z-range binning — map-side math, NO
    global sort, which is also the 100 TB story: writing Z-ordered files
    is `repartitionByRange(z)` + write, and this query is the planner's
    evidence that the rewrite pays before a cluster-scale OPTIMIZE.

    Scale: one scan, two 64-group aggregations (map-side partials), a
    2-row union — the scalar frame (1 row of max/min bounds) broadcasts
    into the row map."""
    z_expr = _z_interleave("DIV")
    scal = F.broadcast(
        _t(spark, sf_dir, "orders").agg(
            F.max("o_custkey").alias("mc"),
            F.min(F.datediff(F.col("o_orderdate"), F.lit("1970-01-01"))).alias(
                "mind"
            ),
            F.max(F.datediff(F.col("o_orderdate"), F.lit("1970-01-01"))).alias(
                "maxd"
            ),
        )
    )
    xy = (
        _t(spark, sf_dir, "orders")
        .select("o_custkey", F.datediff(F.col("o_orderdate"), F.lit("1970-01-01")).alias("d"))
        .crossJoin(scal)
        .select(
            F.expr(f"CAST(o_custkey * {2**_Z_BITS} DIV (mc + 1) AS BIGINT)").alias("x"),
            F.expr(
                f"CAST((d - mind) * {2**_Z_BITS} DIV (maxd - mind + 1) AS BIGINT)"
            ).alias("y"),
        )
    )
    z = xy.select(
        "x",
        "y",
        F.expr(f"CAST(({z_expr}) DIV {_Z_CELL} AS BIGINT)").alias("file_z"),
        F.expr(f"CAST(x DIV {2**_Z_BITS // _Z_FILES} AS BIGINT)").alias("file_lin"),
    )
    hit = F.when(
        F.col("x").between(_Z_LO, _Z_HI) & F.col("y").between(_Z_LO, _Z_HI), 1
    ).otherwise(0)

    def _per_file(file_col: str, layout: str) -> DataFrame:
        stats = z.groupBy(F.col(file_col).alias("file_id")).agg(
            F.min("x").alias("min_x"),
            F.max("x").alias("max_x"),
            F.min("y").alias("min_y"),
            F.max("y").alias("max_y"),
            F.count(F.lit(1)).alias("rows_in_file"),
            F.sum(hit).alias("hits"),
        )
        overlap = (
            (F.col("min_x") <= _Z_HI)
            & (F.col("max_x") >= _Z_LO)
            & (F.col("min_y") <= _Z_HI)
            & (F.col("max_y") >= _Z_LO)
        )
        return stats.agg(
            F.lit(layout).alias("layout"),
            F.count(F.lit(1)).alias("n_files"),
            F.sum(overlap.cast("long")).alias("files_scanned"),
            F.coalesce(
                F.sum(F.when(overlap, F.col("rows_in_file"))), F.lit(0)
            ).alias("rows_scanned"),
            F.sum("hits").alias("rows_matching"),
        )

    return _per_file("file_z", "zorder").unionByName(_per_file("file_lin", "linear"))


# ---------------------------------------------------------------------------
# layout_compaction_plan — small-files bin packing over file metadata
# ---------------------------------------------------------------------------

_COMPACT_TARGET = 4096  # target output-file bytes

_COMPACT_ORACLE = f"""
WITH files AS (
  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         CAST(extract(hour FROM ts) AS BIGINT) AS hour,
         count(*) AS n_rows,
         CAST(sum(length(props)) AS BIGINT) AS bytes
  FROM events GROUP BY 1, 2
),
binned AS (
  SELECT day, hour, n_rows, bytes,
         CAST((sum(bytes) OVER (PARTITION BY day ORDER BY hour
                                ROWS UNBOUNDED PRECEDING) - bytes)
              // {_COMPACT_TARGET} AS BIGINT) AS bin
  FROM files
)
SELECT day, bin,
       CAST(count(*) AS BIGINT) AS n_input_files,
       CAST(sum(bytes) AS BIGINT) AS bytes_total,
       CAST(sum(n_rows) AS BIGINT) AS rows_total,
       CAST(min(hour) AS BIGINT) AS first_hour,
       CAST(max(hour) AS BIGINT) AS last_hour,
       count(*) > 1 AS worth_compacting
FROM binned GROUP BY day, bin
"""


@register("layout_compaction_plan", oracle=_COMPACT_ORACLE)
def layout_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction planner: hourly event "files" (the classic
    streaming-ingest debris — one file per micro-batch per partition) are
    greedily packed into contiguous target-size output groups per day
    partition, the exact plan a lakehouse OPTIMIZE job executes. The
    greedy rule is start-offset binning: a file joins bin
    ``floor(preceding_bytes / target)``, so bins are contiguous hour
    ranges that each start before the target boundary — deterministic,
    one-pass, and order-free integer math.

    Scale: the planner runs on file METADATA (one row per file — at
    100 TB that is listing output, millions of rows, not the data
    itself): one group-by to derive per-file stats, one per-day-partition
    window for the running sum (day keys parallelize; no global sort),
    one group-by for the plan. The data files themselves are never read
    — which is why a compaction PLAN is cheap and the rewrite it
    schedules is the only expensive part."""
    ev = _t(spark, sf_dir, "events").select(
        F.date_format(F.col("ts"), "yyyy-MM-dd").alias("day"),
        F.hour("ts").cast("long").alias("hour"),
        F.length("props").alias("pbytes"),
    )
    files = ev.groupBy("day", "hour").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("pbytes").cast("long").alias("bytes"),
    )
    w = (
        Window.partitionBy("day")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    binned = (
        files.withColumn("cum", F.sum("bytes").over(w))
        .withColumn("bin", F.expr(f"(cum - bytes) DIV {_COMPACT_TARGET}"))
        .drop("cum")
    )
    return binned.groupBy("day", "bin").agg(
        F.count(F.lit(1)).alias("n_input_files"),
        F.sum("bytes").alias("bytes_total"),
        F.sum("n_rows").alias("rows_total"),
        F.min("hour").alias("first_hour"),
        F.max("hour").alias("last_hour"),
        (F.count(F.lit(1)) > 1).alias("worth_compacting"),
    )


# ---------------------------------------------------------------------------
# agg_selfjoin_size_cms — F2 / self-join size from one sketch (AMS use case)
# ---------------------------------------------------------------------------

_F2_DEPTH = 4
_F2_WIDTH = 262_144

_F2_ORACLE = f"""
WITH h AS (
  SELECT CAST('0x' || substr(md5(k), 1, 15) AS BIGINT) AS h1,
         CAST('0x' || substr(md5(reverse(k)), 1, 15) AS BIGINT) AS h2
  FROM (SELECT CAST(user_id AS VARCHAR) AS k FROM events)
),
cells AS (
  SELECT d.d, (h1 + d.d * h2) % {_F2_WIDTH} AS bucket, count(*) AS c
  FROM h CROSS JOIN (SELECT unnest(range({_F2_DEPTH})) AS d) d
  GROUP BY 1, 2
),
x AS (
  SELECT CAST(sum(c * c) AS BIGINT) AS exact_f2,
         CAST(sum(c) AS BIGINT) AS n_events,
         CAST(count(*) AS BIGINT) AS n_keys
  FROM (SELECT user_id, count(*) AS c FROM events GROUP BY user_id)
)
SELECT exact_f2, n_events, n_keys, TRUE AS within_bound FROM x
"""


@register("agg_selfjoin_size_cms", oracle=_F2_ORACLE)
def agg_selfjoin_size_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-join size (the F2 frequency moment) of events on ``user_id``
    from ONE count-min sketch — the classic AMS planner primitive: F2/n²
    is the skew concentration a planner reads before committing a shuffle
    on this key, and Σf² is exactly the row count a self-join on it would
    produce. The estimate is the sketch's inner product with itself
    (min over depths of Σ_b c[d,b]²) — built map-side, the bounded cell
    grid is the ONLY shuffle, and the sketch is the mergeable table stat
    a 100 TB lakehouse keeps per partition. The guarantee is the CMS
    one: estimate ≥ exact, and ≤ exact + 3·n²/width per depth w.h.p. —
    and because the events-per-key density (n/keys) is what grows at
    scale while the key DOMAIN grows slower, the additive n²/width term
    stays a small fraction of F2 ≈ n²/keys whenever keys ≪ width: the
    relative error is ~3·keys/width regardless of data volume. (The
    PK-FK cross-table variant inverts that ratio — n_a·n_b/width against
    a linear join size — which is why planners use distinct-key sketches
    there and reserve the inner product for self-join/skew, as here.)

    Gate contract (X80): the query pays the exact per-key aggregate
    (what the sketch exists to avoid) and emits it with the
    within-bound flag for the deterministic md5-hashed estimate; the
    oracle emits exact + TRUE. Integer arithmetic throughout."""
    from ..operators.sketches import cms_build

    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("k")
    )
    cells = cms_build(ev, "k", _F2_DEPTH, _F2_WIDTH)
    est = (
        cells.groupBy("d")
        .agg(F.sum(F.col("c") * F.col("c")).alias("dot"))
        .agg(F.min("dot").alias("est"))
    )
    exact = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.sum(F.col("c") * F.col("c")).alias("exact_f2"),
            F.sum("c").alias("n_events"),
            F.count(F.lit(1)).alias("n_keys"),
        )
    )
    bound = (
        F.col("exact_f2").cast("double")
        + F.lit(3.0) * F.col("n_events").cast("double") * F.col("n_events") / _F2_WIDTH
    )
    return exact.crossJoin(F.broadcast(est)).select(
        "exact_f2",
        "n_events",
        "n_keys",
        (
            (F.col("est") >= F.col("exact_f2"))
            & (F.col("est").cast("double") <= bound)
        ).alias("within_bound"),
    )


# ---------------------------------------------------------------------------
# quality_expectation_suite — declarative data-quality constraints (the
# Deequ / Great-Expectations shape) evaluated as one pass per table
# ---------------------------------------------------------------------------

# The testdata is clean, so violations are INJECTED deterministically —
# identically in the oracle (the dedup_exact observable-collapse pattern) —
# to make every constraint's failure path observable: null-lang clones
# (completeness), same-id clones (uniqueness), off-by-one n_chars clones
# (consistency), and orphan orders (referential integrity). The injections
# live ONCE — the builder below and its oracle CTE constant — and both the
# batch suite and the streaming monitor consume them, so the monitor's
# hash-matches-the-batch-rows contract cannot drift by edits to one copy.

DOCS_AUD_CTE = """docs_aud AS (
  SELECT doc_id, text, lang, n_chars FROM documents
  UNION ALL
  SELECT doc_id + 3000000, text, NULL, n_chars FROM documents WHERE doc_id % 97 = 0
  UNION ALL
  SELECT doc_id, text, lang, n_chars FROM documents WHERE doc_id % 101 = 0
  UNION ALL
  SELECT doc_id + 4000000, text, lang, n_chars + 1 FROM documents WHERE doc_id % 103 = 0
)"""


def audited_documents(docs: DataFrame) -> DataFrame:
    """The deterministically-corrupted documents frame the expectation
    queries audit — byte-identical semantics to ``DOCS_AUD_CTE``."""
    return (
        docs.unionByName(
            docs.where(F.col("doc_id") % 97 == 0).select(
                (F.col("doc_id") + 3000000).alias("doc_id"),
                "text",
                F.lit(None).cast("string").alias("lang"),
                "n_chars",
            )
        )
        .unionByName(docs.where(F.col("doc_id") % 101 == 0))
        .unionByName(
            docs.where(F.col("doc_id") % 103 == 0).select(
                (F.col("doc_id") + 4000000).alias("doc_id"),
                "text",
                "lang",
                (F.col("n_chars") + 1).alias("n_chars"),
            )
        )
    )


from .corpus_queries import _ppm_ratio_sql  # noqa: E402  (shared exact split)


_EXPECT_ORACLE = f"""
WITH {DOCS_AUD_CTE},
orders_aud AS (
  SELECT o_orderkey, o_custkey FROM orders
  UNION ALL
  SELECT o_orderkey + 5000000, o_custkey + 10000000 FROM orders WHERE o_orderkey % 499 = 0
),
d AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(count(lang) AS BIGINT) AS n_lang,
         CAST(count(DISTINCT doc_id) AS BIGINT) AS n_ids,
         CAST(sum(CASE WHEN n_chars = length(text) THEN 1 ELSE 0 END) AS BIGINT) AS n_len_ok
  FROM docs_aud
),
o AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphan
  FROM orders_aud ord LEFT JOIN customer c ON c.c_custkey = ord.o_custkey
),
l AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN l_quantity >= 1 AND l_quantity <= 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_in,
         CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphan
  FROM lineitem li LEFT JOIN orders o ON o.o_orderkey = li.l_orderkey
)
SELECT * FROM (
  SELECT 'documents' AS table_name, 'lang_complete' AS constraint,
         {_ppm_ratio_sql("n_lang", "n", "//")} AS observed_ppm,
         n_lang = n AS passed FROM d
  UNION ALL
  SELECT 'documents', 'doc_id_unique',
         {_ppm_ratio_sql("n_ids", "n", "//")}, n_ids = n FROM d
  UNION ALL
  SELECT 'documents', 'n_chars_matches_text',
         {_ppm_ratio_sql("n_len_ok", "n", "//")}, n_len_ok = n FROM d
  UNION ALL
  SELECT 'orders', 'custkey_fk_customer',
         {_ppm_ratio_sql("n_orphan", "n", "//")}, n_orphan = 0 FROM o
  UNION ALL
  SELECT 'lineitem', 'quantity_in_1_50',
         {_ppm_ratio_sql("n_in", "n", "//")}, n_in = n FROM l
  UNION ALL
  SELECT 'lineitem', 'orderkey_fk_orders',
         {_ppm_ratio_sql("n_orphan", "n", "//")}, n_orphan = 0 FROM l
)
"""


@register("quality_expectation_suite", oracle=_EXPECT_ORACLE)
def quality_expectation_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality expectations (the Deequ / Great-Expectations
    contract): completeness, uniqueness, column consistency, value range,
    and referential integrity, each reported as (table, constraint,
    observed ppm, passed) — the validation report a pipeline gates its
    publish step on. Violations are injected deterministically (identically
    in the oracle) so every failure path is exercised: the suite must
    report exactly which constraints the corrupted snapshot breaks.

    Scale (the Deequ execution model): ALL of a table's metrics compute in
    ONE pass — the documents scan feeds completeness+uniqueness+consistency
    as a single multi-aggregate, the lineitem scan feeds range+FK; the two
    referential checks are left joins against the (broadcastable or
    key-partitioned) parent keys counted map-side. The report itself is six
    rows; nothing after the scans is corpus-sized. Fractions use the exact
    two-stage *1e3 integer split (no overflow past 9.2e15 rows)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "n_chars"
    )
    d = audited_documents(docs).agg(
        F.count(F.lit(1)).alias("n"),
        F.count("lang").alias("n_lang"),
        F.countDistinct("doc_id").alias("n_ids"),
        F.sum(F.when(F.col("n_chars") == F.length("text"), 1).otherwise(0))
        .cast("long")
        .alias("n_len_ok"),
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    orders_aud = orders.unionByName(
        orders.where(F.col("o_orderkey") % 499 == 0).select(
            (F.col("o_orderkey") + 5000000).alias("o_orderkey"),
            (F.col("o_custkey") + 10000000).alias("o_custkey"),
        )
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = (
        orders_aud.join(
            F.broadcast(cust), orders_aud["o_custkey"] == cust["c_custkey"], "left"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("c_custkey").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_orphan"),
        )
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    okeys = load_table(spark, sf_dir, "orders").select("o_orderkey")
    l = (
        li.join(okeys, li["l_orderkey"] == okeys["o_orderkey"], "left")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(
                    (F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 50), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_in"),
            F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_orphan"),
        )
    )

    def ppm(num: str, den: str) -> str:
        return _ppm_ratio_sql(num, den, "DIV")

    rows_d = d.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("documents").alias("table_name"),
                    F.lit("lang_complete").alias("constraint"),
                    F.expr(ppm("n_lang", "n")).alias("observed_ppm"),
                    F.expr("n_lang = n").alias("passed"),
                ),
                F.struct(
                    F.lit("documents").alias("table_name"),
                    F.lit("doc_id_unique").alias("constraint"),
                    F.expr(ppm("n_ids", "n")).alias("observed_ppm"),
                    F.expr("n_ids = n").alias("passed"),
                ),
                F.struct(
                    F.lit("documents").alias("table_name"),
                    F.lit("n_chars_matches_text").alias("constraint"),
                    F.expr(ppm("n_len_ok", "n")).alias("observed_ppm"),
                    F.expr("n_len_ok = n").alias("passed"),
                ),
            )
        ).alias("r")
    ).select("r.*")
    rows_o = o.select(
        F.lit("orders").alias("table_name"),
        F.lit("custkey_fk_customer").alias("constraint"),
        F.expr(ppm("n_orphan", "n")).alias("observed_ppm"),
        F.expr("n_orphan = 0").alias("passed"),
    )
    rows_l = l.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("lineitem").alias("table_name"),
                    F.lit("quantity_in_1_50").alias("constraint"),
                    F.expr(ppm("n_in", "n")).alias("observed_ppm"),
                    F.expr("n_in = n").alias("passed"),
                ),
                F.struct(
                    F.lit("lineitem").alias("table_name"),
                    F.lit("orderkey_fk_orders").alias("constraint"),
                    F.expr(ppm("n_orphan", "n")).alias("observed_ppm"),
                    F.expr("n_orphan = 0").alias("passed"),
                ),
            )
        ).alias("r")
    ).select("r.*")
    return rows_d.unionByName(rows_o).unionByName(rows_l)
