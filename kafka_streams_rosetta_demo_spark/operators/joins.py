"""Join operators.

Reference parity (J1/J2): the only join in the reference is an equi,
left-outer, N:1 stream-table lookup on a string key
(``calls.leftJoin(customers, joiner)``, ``CallsEnrichedApp.java:63``; the
projection body ``CallCustomerJoiner.java:15-30``). The manual
co-partitioning through-topic (``CallsEnrichedApp.java:56-58``) is
unnecessary here — the shuffle exchange (or a broadcast) co-partitions the
sides automatically (SURVEY.md J2).

Scale: a customer dimension is small relative to a 100 TB fact stream, so
the lookup wants a *broadcast* hash join — zero shuffle of the big side.
Spark's planner makes that call itself: it broadcasts the dimension when
Catalyst's size estimate fits ``autoBroadcastJoinThreshold``, so a dimension
that outgrows executor memory falls back to AQE's shuffle-hash / sort-merge
with skew splitting instead of OOMing on a hardcoded hint.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.nulls import customer_defaults


def estimated_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's optimized-plan size estimate (None when unavailable)."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return None


def stream_table_left_join(
    stream: DataFrame,
    table: DataFrame,
    stream_key: str,
    table_key: str,
) -> DataFrame:
    """J1: for each stream event, look up the current table row by key; emit
    the event even when no row exists (null side handled by the caller's
    projection, as ``CallCustomerJoiner.java:24-28`` does). The broadcast
    decision is the planner's (module docstring)."""
    return stream.join(table, on=stream[stream_key] == table[table_key], how="left")


def enrich_calls_with_customers(call_agg: DataFrame, customers: DataFrame) -> DataFrame:
    """J1 + P4 + F1-F3: the full ``CallsEnrichedApp`` topology body.

    Input ``call_agg`` is the unwrapped windowed aggregate (window_start /
    window_end timestamps + metrics); ``customers`` is the CustomerAggregate
    dimension keyed by TELEFONO. Output is the flat *CallAggregateCust* record
    (``callaggcust.avsc:14-31``): six call fields with formatted window
    bounds, five null-coalesced customer fields
    (``CallCustomerJoiner.java:15-30``).
    """
    from ..functions.datetime_fmt import ROSETTA_TS_FORMAT

    joined = stream_table_left_join(call_agg, customers, "id_telef_origen", "TELEFONO")
    # The reference defaults fields only when the whole customer row is
    # absent (customer == null, CallCustomerJoiner.java:24-28); a matched row
    # passes its fields through even if they are null (all CustomerAggregate
    # fields are nullable Avro unions, callaggcust.avsc:36-42). Gate on the
    # join key of the dimension side — null iff the lookup missed.
    miss = F.col("TELEFONO").isNull()
    d = customer_defaults

    def dflt(name: str) -> Column:
        return F.when(miss, F.lit(d[name])).otherwise(F.col(name)).alias(name.lower())

    return joined.select(
        F.col("id_telef_origen"),
        F.date_format("window_start", ROSETTA_TS_FORMAT).alias("window_start_ts"),
        F.date_format("window_end", ROSETTA_TS_FORMAT).alias("window_end_ts"),
        F.col("calls_count"),
        F.col("max_duracion_origen"),
        F.col("total_duracion_origen"),
        F.col("avg_duracion_origen"),
        dflt("DOC_CLIENTE"),
        dflt("CLIENTE_ORANGE"),
        dflt("DAYS_EXCLIENTE"),
        dflt("OPERADOR_ACTUAL"),
        dflt("RIESGO"),
    )


# ---------------------------------------------------------------------------
# Wider join surface (absent in the reference, SURVEY.md §2.8 — exposed so a
# reference user gains the full relational join set natively).
# ---------------------------------------------------------------------------


def join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str] | Column,
    how: str = "inner",
    broadcast_right: bool = False,
) -> DataFrame:
    """General equi/theta join; ``how`` ∈ inner/left/right/full/left_semi/
    left_anti/cross. ``broadcast_right`` hints the small side."""
    r = F.broadcast(right) if broadcast_right else right
    return left.join(r, on=on, how=how)


def asof_join(
    probe: DataFrame,
    ref: DataFrame,
    key: str,
    ts_col: str,
    seq_col: str,
    ref_value_cols: list[str],
    prefix: str = "asof_",
) -> DataFrame:
    """As-of (last-tick) join: for each probe row, the most recent ref row of
    the same key with ``ref.ts <= probe.ts`` (ties on ts resolved by
    ``seq_col``, a ref at exactly the probe's ts counts). Left semantics —
    probes with no earlier ref keep nulls.

    Scale shape: NOT the naive ``ref.ts <= probe.ts`` range join (which
    expands each probe against its key's whole history before the argmax).
    Instead both sides union into one frame and a single per-key
    sort + ``last(ignorenulls)`` carry-forward window matches every probe in
    O(n log n) per key — one shuffle, one sort, no row explosion. This is
    the standard distributed as-of pattern (the same plan a
    partitioned-merge as-of in kdb/pandas ``merge_asof`` implies).
    """
    from pyspark.sql import Window

    ref_struct = F.struct(
        *[F.col(c).alias(f"{prefix}{c}") for c in ref_value_cols]
    ).alias("_ref")
    refs_u = ref.select(
        F.col(key),
        F.col(ts_col).alias("_ts"),
        F.col(seq_col).alias("_seq"),
        F.lit(0).alias("_tag"),  # refs sort before probes at equal ts
        ref_struct,
    )
    probes_u = probe.select(
        "*", F.col(ts_col).alias("_ts"), F.col(seq_col).alias("_seq"), F.lit(1).alias("_tag")
    )
    u = probes_u.unionByName(refs_u, allowMissingColumns=True)
    w = (
        Window.partitionBy(key)
        .orderBy("_ts", "_tag", "_seq")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = u.withColumn("_m", F.last("_ref", ignorenulls=True).over(w))
    return matched.where(F.col("_tag") == 1).select(
        *[F.col(c) for c in probe.columns], F.col("_m.*")
    )


@dataclass(frozen=True)
class KeySkewProfile:
    """One key-space's skew statistics (the ``agg_key_skew_profile``
    diagnostic, collapsed to a single row): produced by
    :func:`key_skew_profile`, consumed by :func:`choose_join_strategy`.
    Bounded model state — four longs — like the centroid matrices."""

    n_rows: int
    n_keys: int
    hhi: int  # Herfindahl: sum of squared per-key counts (integer-exact)
    top1_share_ppm: int

    @property
    def effective_keys(self) -> float:
        """n_rows²/hhi — the number of EQUALLY-LOADED keys this distribution
        behaves like (uniform → n_keys; one dominant key → toward 1)."""
        return (self.n_rows * self.n_rows) / self.hhi if self.hhi else 0.0


def key_skew_profile(df: DataFrame, key_cols: list[str]) -> KeySkewProfile:
    """Measure a join/groupBy key's skew in one pass: a single map-side-
    partial shuffle on the key producing the per-key counts, then a scalar
    rollup. Only the key columns are scanned (column pruning reaches the
    parquet reader), and only FOUR LONGS reach the driver.

    At 100 TB this pre-flight costs one pass over one column — amortize it
    like table statistics: compute per ingest/snapshot, feed the stored
    profile back via ``choose_join_strategy(profile=...)``.
    """
    per_key = df.groupBy(*[F.col(c) for c in key_cols]).agg(
        F.count(F.lit(1)).alias("c")
    )
    row = per_key.agg(
        F.sum("c").alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        F.sum(F.col("c") * F.col("c")).alias("hhi"),
        F.expr("CAST((1000000L * max(c)) DIV sum(c) AS BIGINT)").alias(
            "top1_share_ppm"
        ),
    ).collect()[0]
    return KeySkewProfile(
        n_rows=row.n_rows or 0,
        n_keys=row.n_keys or 0,
        hhi=row.hhi or 0,
        top1_share_ppm=row.top1_share_ppm or 0,
    )


def choose_join_strategy(
    left: DataFrame,
    right: DataFrame,
    key: str,
    profile: KeySkewProfile | None = None,
    hot_key_factor: int = 4,
) -> tuple[str, KeySkewProfile | None]:
    """Pick plain / broadcast / salted for ``left ⋈ right`` on ``key`` from
    MEASURED facts instead of hand-tuning — the decision rule
    ``agg_key_skew_profile`` exists to feed:

    1. **broadcast** — the build side's Catalyst size estimate fits the
       session's ``autoBroadcastJoinThreshold``. A broadcast join never
       shuffles the probe side, so probe-key skew is irrelevant; this
       dominates every other strategy when legal.
    2. Otherwise profile the PROBE side's key (or take a precomputed
       ``profile`` — stats-refresh amortization at scale):
       **salted** when the hottest key carries ≥ ``hot_key_factor`` × the
       uniform per-reducer share (1/P of traffic for P shuffle partitions)
       or the effective key count (n²/hhi) is below P — both mean at least
       one reducer is structurally overloaded no matter how hashing lands,
       which AQE's sort-merge skew splitting only partially covers
       (shuffle-hash joins and agg-feeding exchanges are outside it).
       **plain** otherwise — let Catalyst/AQE plan it.

    Returns ``(strategy, profile_used)`` so callers can log the decision.
    """
    est = estimated_size_bytes(right)
    # Spark's own parse of the conf (sign kept, ``10m`` = 10 MiB); <= 0
    # means broadcasting is disabled.
    thr = right.sparkSession._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    if thr > 0 and est is not None and est <= thr:
        return "broadcast", None
    if profile is None:
        profile = key_skew_profile(left, [key])
    try:
        partitions = int(left.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        partitions = 200
    if profile.n_rows == 0:
        return "plain", profile
    uniform_ppm = 1_000_000 // max(partitions, 1)
    if (
        profile.top1_share_ppm >= hot_key_factor * uniform_ppm
        or profile.effective_keys < partitions
    ):
        return "salted", profile
    return "plain", profile


def skew_adaptive_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    how: str = "inner",
    salt: int = 8,
    profile: KeySkewProfile | None = None,
) -> DataFrame:
    """The one call a user makes instead of hand-choosing between
    ``join(broadcast_right=...)``, plain ``join`` and ``salted_equi_join``:
    measures (or accepts) the probe key's skew profile and routes to the
    strategy :func:`choose_join_strategy` picks. All three routes are
    semantically identical equi-joins — the choice only moves work.

    ``how`` is limited to inner/left for the salted route (the replicated
    build side makes right/full-outer null-row accounting wrong); those
    shapes fall back to plain+AQE with the profile still logged.
    """
    strategy, _ = choose_join_strategy(left, right, key, profile=profile)
    if strategy == "broadcast":
        return left.join(F.broadcast(right), key, how)
    if strategy == "salted" and how in ("inner", "left"):
        return salted_equi_join(left, right, key, salt=salt, how=how)
    return left.join(right, key, how)


def salted_equi_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Hot-key mitigation for a large × large equi-join where neither side
    can broadcast: salt the probe (left) side's shuffle key with a
    deterministic per-row value in ``[0, salt)`` and replicate the build
    (right) side ``salt`` times, so one pathological key's rows spread over
    ``salt`` partitions instead of hot-spotting one reducer.

    Semantically identical to ``left.join(right, key, how)``: each probe
    row meets exactly the one build replica whose salt matches, and an
    unmatched probe key still left-joins to null (its salted key misses
    every replica). Cost: the build side shuffles ``salt``× its size —
    worth it only when a few keys dwarf the rest *and* the join shape is
    one AQE's sort-merge skew splitting doesn't cover (shuffle-hash joins,
    or exchanges feeding an aggregation). Prefer AQE first; reach for this
    for the pathological residue.
    """
    probe_salt = F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(salt))
    salted_left = left.withColumn("_salt", probe_salt)
    salted_right = right.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)).cast("array<long>"))
    )
    return salted_left.join(salted_right, [key, "_salt"], how).drop("_salt")


def bin_bucketed_range_join(
    windows: DataFrame,
    probes: DataFrame,
    start_col: str,
    end_col: str,
    t_col: str,
    bin_width_us: int,
    how: str = "inner",
) -> DataFrame:
    """Interval join with NO shared key, as a hash join: match every probe
    row whose ``t_col`` lies in a window's ``[start_col, end_col)`` — the
    shape a naive plan expresses as a cross join with a time residual
    (quadratic, and plan-banned in this repo).

    Mechanism: bucketize time into ``bin_width_us``-wide bins. Each window
    explodes into every bin it overlaps (``ceil(len/width)+1`` at most; 1-2
    when windows are no longer than a bin); each probe keys by the ONE bin
    containing it. The bin equality carries the hash join, the exact range
    check rides as a residual — and because a probe has exactly one bin,
    every (window, probe) match is emitted exactly once: no dedup pass.

    Works unchanged on streams: both inputs keep their watermarks through
    the projection, the bin keys the StreamingSymmetricHashJoin, and the
    range residual doubles as the state-eviction bound
    (`streaming_range_join_keyless` is this operator's streaming gate
    query).

    Contract: times are non-negative integer microseconds (``div`` floors
    only for non-negative operands); empty windows (``end <= start``) are
    dropped up front — ``[s, s)`` matches nothing, and the bin sequence
    must not run backwards. Column names must be disjoint between the two
    inputs (the join keeps both sides' columns).

    Scale: shuffle volume is probes + (fan-out x) windows — linear in
    matches, never |windows| x |probes|; pick ``bin_width_us`` ≈ the
    window length so window fan-out stays ≤2 and per-bin fan-in is the
    probe arrival rate per bin; storm bins ride AQE's skew-join split.
    Cited shape: the range-join bucketing optimization Spark itself lacks
    without a hint (Databricks' range-join `bin` hint; the reference
    engine has no interval joins at all — SURVEY §2.8).

    Inner-only: under ``left_outer`` an UNMATCHED window spanning k bins
    would emit k null-padded rows (one per exploded bin) — wrong outer
    semantics. Compose outer-ness instead:
    ``windows.join(inner_result, win_key, "left_anti")`` gives the
    unmatched set exactly once per window.
    """
    if how != "inner":
        raise ValueError(
            "bin_bucketed_range_join is inner-only: an unmatched window "
            "spanning k bins would null-emit k times under an outer join; "
            "derive the unmatched set with a left_anti join on the inner "
            "result instead"
        )
    # The helper bin columns are internal; an input that already carries one
    # would be silently overwritten by withColumn and then dropped — corrupt
    # both the join and the caller's data. Same for the documented
    # column-disjointness contract: the join keeps both sides' columns, so a
    # shared name would make every downstream reference ambiguous.
    taken = {"__wbin", "__pbin"} & (set(windows.columns) | set(probes.columns))
    if taken:
        raise ValueError(
            f"bin_bucketed_range_join reserves column names {sorted(taken)}; "
            "rename them on the inputs first"
        )
    shared = set(windows.columns) & set(probes.columns)
    if shared:
        raise ValueError(
            "bin_bucketed_range_join requires column-disjoint inputs (the "
            f"join keeps both sides' columns); shared: {sorted(shared)}"
        )
    wb = windows.where(F.col(end_col) > F.col(start_col)).withColumn(
        "__wbin",
        F.explode(
            F.sequence(
                F.expr(f"{start_col} div {bin_width_us}"),
                F.expr(f"({end_col} - 1) div {bin_width_us}"),
            )
        ),
    )
    pb = probes.withColumn("__pbin", F.expr(f"{t_col} div {bin_width_us}"))
    joined = wb.join(
        pb,
        (F.col("__wbin") == F.col("__pbin"))
        & (F.col(t_col) >= F.col(start_col))
        & (F.col(t_col) < F.col(end_col)),
        how,
    )
    return joined.drop("__wbin", "__pbin")
