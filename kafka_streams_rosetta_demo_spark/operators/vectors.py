"""Embedding-vector operators: cosine math, hyperplane LSH, IVF-style ANN.

LLM-data-pipeline extensions (north-star scope) over the ``embeddings`` table
(``array<float>`` column). All vector math runs JVM-side through
``zip_with``/``aggregate`` higher-order functions — Arrow/Python never sees a
vector in the hot path.

Scale design:

- **Dot/cosine** are per-row expressions (no shuffle). Accumulation is
  sequential left-to-right in ``aggregate``, which makes the doubles
  reproducible — the DuckDB oracles accumulate in the same element order.
- **Brute-force kNN** broadcasts the (small) query set against the corpus —
  a BroadcastNestedLoopJoin that scans the 100 TB side exactly once and never
  shuffles it. Top-k lands on a per-query window, which shuffles only the
  scored pairs (|Q| x N rows); for very large |Q| use the IVF path instead.
- **Hyperplane LSH** (random projection signs) buckets vectors by band keys;
  the candidate join is an equi join on (band, key) — no crossJoin.
  Hyperplanes are derived from a fixed seed, so signatures are deterministic
  across runs and engines.
- **IVF** assigns each vector to its nearest of ``k`` fixed centroids
  (closed-form expression over literal centroid arrays — the centroid list is
  a *model parameter*, not data, so materializing it driver-side is bounded
  and legitimate). Queries probe the ``nprobe`` nearest cells; candidates
  come from an equi join on cell id.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


# BNLJ legality bound for the exact-kNN plan: broadcasting the query set
# into a nested-loop join against the corpus scan is the RIGHT plan only
# while |Q| stays bounded model state (like the centroid matrices). Past the
# cap the plan is quadratic work and a broadcast OOM — callers must switch
# to the IVF path (equi-join on cell id) or chunk the query set. Same guard
# pattern as the 63-source bitmask bound (textsim.source_similarity_matrix).
BROADCAST_QUERY_CAP = 4096


def capped_query_set(q: DataFrame, cap: int = BROADCAST_QUERY_CAP) -> DataFrame:
    """Enforce the broadcast-kNN legality cap INSIDE the plan: the returned
    frame has exactly ``q``'s rows, but any action over it raises when the
    query set exceeds ``cap`` rows — never a silent all-pairs scan.

    The guard is lazy by construction (ADVICE r7: the previous
    ``limit(cap+1).count()`` probe ran an eager Spark job at
    plan-construction time, making every kNN query builder pay an extra
    scan job): a 1-row ``count(limit(cap+1))`` aggregate — O(cap) work, it
    never scans past cap+1 rows even when someone passes the whole corpus —
    carries an ``assert_true`` that detonates at EXECUTION time, and is
    broadcast-cross-joined back onto ``q`` (1 row × q = q, a
    constant-size IdentityBroadcastMode side, no hash exchange). Plan cost:
    one SinglePartition exchange over ≤ cap+1 rows, amortized into the
    query's own run."""
    probe = (
        q.limit(cap + 1)
        .select(F.lit(1).alias("__one"))
        .agg(F.count("__one").alias("__query_set_rows"))
    )
    # The assert lives in a FILTER on the 1-row probe (assert_true yields
    # NULL when the predicate holds, so isNull keeps the row; past the cap
    # it throws instead) — as a projected-then-dropped column the optimizer
    # would prune the side effect away.
    guard = probe.where(
        F.assert_true(
            F.col("__query_set_rows") <= F.lit(cap),
            F.format_string(
                "query set exceeds the broadcast-kNN cap (%d+ > %d rows): "
                "a BroadcastNestedLoopJoin over this set is quadratic work "
                "and a broadcast OOM at scale — use the IVF path or chunk "
                "the queries",
                F.col("__query_set_rows") - F.lit(1),
                F.lit(cap),
            ),
        ).isNull()
    ).select(F.lit(1).alias("__cap_ok"))
    return q.crossJoin(F.broadcast(guard)).drop("__cap_ok")


def dot(a: Column, b: Column) -> Column:
    """Sequential double-precision dot product of two float-array columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def const_vec(values: list[float]) -> Column:
    """Literal double array built in ONE py4j call.

    ``F.lit(list)`` desugars to ``array(*[lit(x) ...])`` — one py4j
    round-trip per element (a 64x64 matrix costs ~3 s of driver time,
    measured). Rendering the literal as SQL text and parsing it JVM-side
    with ``F.expr`` is ~4 ms and exact: ``repr(float)`` is the shortest
    round-trip decimal and Spark's double parser is IEEE-correct.
    """
    return F.expr(_sql_double_array(values))


def _sql_double_array(values: list[float]) -> str:
    return "array(" + ",".join(repr(float(v)) + "D" for v in values) + ")"


def const_matrix(rows: list[list[float]]) -> Column:
    """Literal array<array<double>> in one py4j call (see const_vec)."""
    return F.expr("array(" + ",".join(_sql_double_array(r) for r in rows) + ")")


def multi_dot(vec: Column, matrix: list[list[float]]) -> Column:
    """Dot products of ``vec`` against every row of a literal ``matrix``, in
    a single pass over the vector.

    One ``aggregate`` whose accumulator is the array of running dots,
    updated per element via ``zip_with`` against the literal matrix — the
    vector is walked once, not once per matrix row, and the whole matrix is
    a single Literal node (measured: collapsing the per-element ``F.lit``
    tree cut driver-side plan build from seconds to milliseconds).
    Accumulation is sequential in element order, so results are
    bit-identical to ``dot(vec, row)`` per row — oracles can mirror it.
    """
    n, dim = len(matrix), len(matrix[0])
    m = const_matrix(matrix)
    elems = F.zip_with(
        vec,
        F.sequence(F.lit(1), F.lit(dim)),
        lambda x, i: F.struct(x.cast("double").alias("x"), i.alias("i")),
    )
    return F.aggregate(
        elems,
        F.array_repeat(F.lit(0.0), n),
        lambda acc, p: F.zip_with(
            acc,
            m,
            lambda a, mj: a + p.getField("x") * F.element_at(mj, p.getField("i")),
        ),
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def with_norm(df: DataFrame, vec_col: str = "embedding", out: str = "nrm") -> DataFrame:
    """Attach the L2 norm, wrapped in ``coalesce`` (a runtime no-op — the
    fold never yields null) so downstream null-intolerant predicates like
    ``cos >= t`` don't make Catalyst infer ``isnotnull(<norm fold>)`` and
    push the entire fold below the rebalance exchange into the single-task
    scan stage (same pathology, same fix as textsim._nonnull_guard)."""
    return df.withColumn(out, F.coalesce(norm(F.col(vec_col)), F.lit(0.0)))


def cosine(a: Column, b: Column, norm_a: Column, norm_b: Column) -> Column:
    return dot(a, b) / (norm_a * norm_b)


# ---------------------------------------------------------------------------
# Hyperplane (random projection) LSH for cosine similarity
# ---------------------------------------------------------------------------


def hyperplanes(dim: int, n: int, seed: int = 7) -> list[list[float]]:
    """Deterministic Gaussian hyperplanes (fixed seed → identical across
    runs, machines, and engines)."""
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n)]


def hyperplane_band_keys(
    df: DataFrame,
    planes: list[list[float]],
    bands: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Sign-bit signature over ``planes``, folded into ``bands`` integer band
    keys and exploded to (id, band_id, band_key) rows. Per-row map, no
    shuffle.

    Since round 15 this delegates to the Arrow kernel
    (:func:`operators.veckernels.hyperplane_bands_arrow`): the |planes| × dim
    signature fold was the hottest remaining interpreted HOF in the engine
    (4096 steps/row at the 64×64 shape — the charged ann_band_index build
    and both banded dedup queries pay it over the whole corpus), and the
    NumPy batch kernel computes the identical sequential arithmetic at a
    fraction of the cost (A/B in OPTIMIZATION_r15.md; bit-equality with the
    HOF twin pinned in tests/test_veckernels.py).
    :func:`hyperplane_band_keys_hof` keeps the original expression as the
    reference twin.

    A key property used by the dedup oracle: a vector and any *positive
    scaling* of it produce identical sign bits (dot scales by a positive
    constant), so exact-duplicate-up-to-scale pairs collide in every band —
    recall 1 by construction, not by probability.
    """
    from .veckernels import hyperplane_bands_arrow

    return hyperplane_bands_arrow(df, planes, bands, id_col=id_col, vec_col=vec_col)


def hyperplane_band_keys_hof(
    df: DataFrame,
    planes: list[list[float]],
    bands: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The pre-round-15 JVM expression twin of :func:`hyperplane_band_keys`
    — kept as the bit-equality reference for the Arrow kernel.

    All ``len(planes)`` dot products compute in a *single pass* over the
    vector: one ``aggregate`` whose accumulator is the array of running
    dots, updated per element via ``zip_with`` against the literal
    hyperplane matrix (~3x faster than one aggregate per plane, measured —
    the vector is walked once, not once per plane). Per-row expression, no
    shuffle.
    """
    rows = len(planes) // bands
    sig = df.withColumn("_dots", multi_dot(F.col(vec_col), planes))
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                sum(
                    (
                        F.when(
                            F.element_at("_dots", b * rows + r + 1) >= 0,
                            F.lit(1 << r).cast("long"),
                        ).otherwise(F.lit(0).cast("long"))
                        for r in range(rows)
                    ),
                    start=F.lit(0).cast("long"),
                ).alias("band_key"),
            )
            for b in range(bands)
        ]
    )
    return sig.select(id_col, F.explode(band_structs).alias("bk")).select(
        id_col, F.col("bk.band_id").alias("band_id"), F.col("bk.band_key").alias("band_key")
    )


def cosine_verify_pairs(
    pairs: DataFrame,
    vectors: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 3,
) -> DataFrame:
    """Join candidate (id_a, id_b) pairs to their vectors and keep pairs with
    cosine >= threshold."""
    normed = with_norm(vectors, vec_col)
    va = normed.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("v_a"), F.col("nrm").alias("n_a")
    )
    vb = normed.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("v_b"), F.col("nrm").alias("n_b")
    )
    cos = cosine(F.col("v_a"), F.col("v_b"), F.col("n_a"), F.col("n_b"))
    return (
        pairs.join(va, "id_a")
        .join(vb, "id_b")
        .where(cos >= F.lit(threshold))
        .select(
            F.col("id_a").alias("vec_a"),
            F.col("id_b").alias("vec_b"),
            F.round(cos, round_to).alias("cosine"),
        )
    )


# ---------------------------------------------------------------------------
# IVF-style ANN
# ---------------------------------------------------------------------------


def ivf_assign(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
    out: str = "cell_id",
) -> DataFrame:
    """Assign each vector to its nearest centroid by cosine (centroids are
    model parameters shipped in the task closure — a narrow per-row map,
    no join, no shuffle).

    Since round 14 this delegates to the Arrow kernel
    (:func:`operators.veckernels.ivf_assign_arrow`): the k-centroid scoring
    is the hottest per-row fold in the engine (k × dim interpreted HOF
    steps per row), and the NumPy batch kernel computes the identical
    sequential arithmetic at a fraction of the cost (1.81 s → 1.09 s on
    the sf0.1 assign shape; bit-equality with the HOF twin pinned in
    tests/test_veckernels.py). :func:`ivf_assign_hof` keeps the original
    ``array_max``-over-structs expression as the reference twin.
    """
    from .veckernels import ivf_assign_arrow

    return ivf_assign_arrow(df, centroids, vec_col=vec_col, out=out)


def ivf_assign_hof(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
    out: str = "cell_id",
) -> DataFrame:
    """The pre-round-14 JVM expression twin of :func:`ivf_assign` — an
    ``array_max`` over (score, cell_id) structs: struct ordering compares
    score first, so the max struct carries the argmax cell (ties to the
    larger cid, NaN greatest). All ``k`` centroid dots compute in one pass
    over the vector (:func:`multi_dot`), and the centroid ids/norms ride
    along as literal arrays zipped against the dot array. Kept as the
    bit-equality reference for the Arrow kernel."""
    scored = _centroid_scores(F.col(vec_col), centroids)
    return df.withColumn(out, F.array_max(scored).getField("cid"))


def ivf_probe_cells(
    queries: DataFrame,
    centroids: list[tuple[int, list[float]]],
    nprobe: int,
    vec_col: str = "embedding",
    out: str = "cell_id",
) -> DataFrame:
    """Explode each query to its ``nprobe`` nearest cells (by cosine)."""
    scored = _centroid_scores(F.col(vec_col), centroids)
    top = F.slice(F.reverse(F.array_sort(scored)), 1, nprobe)
    return queries.withColumn(out, F.explode(top.getField("cid")))


def _centroid_scores(v: Column, centroids: list[tuple[int, list[float]]]) -> Column:
    """Array of (cosine score, cell_id) structs for ``v`` vs every centroid —
    single-pass dots, literal id/norm arrays."""
    nv = norm(v)
    dots = multi_dot(v, [c for _, c in centroids])
    cids = F.expr("array(" + ",".join(str(int(cid)) + "L" for cid, _ in centroids) + ")")
    cnorms = const_vec([_l2(c) for _, c in centroids])
    return F.zip_with(
        F.zip_with(dots, cnorms, lambda d, cn: d / (nv * cn)),
        cids,
        lambda score, cid: F.struct(score.alias("score"), cid.alias("cid")),
    )


def _l2(vec: list[float]) -> float:
    return sum(x * x for x in vec) ** 0.5


def scaled_float32_injection(
    df: DataFrame,
    mod: int,
    shift: int,
    factor: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Plant observable near-duplicates: every ``mod``-th vector re-injected
    under ``id + shift``, scaled by a positive ``factor`` with float32
    rounding applied explicitly — so an oracle's ``list_transform(...,
    CAST(x * f AS FLOAT))`` reproduces the bytes exactly. Positive scaling
    preserves every hyperplane sign bit, which is what makes LSH recall on
    the planted pairs exact rather than probabilistic (see
    ``hyperplane_band_keys``)."""
    return df.where(F.col(id_col) % mod == 0).select(
        (F.col(id_col) + shift).alias(id_col),
        F.transform(
            vec_col, lambda x: (x.cast("double") * F.lit(factor)).cast("float")
        ).alias(vec_col),
    )


def banded_cosine_pairs(
    allv: DataFrame,
    threshold: float,
    dim: int = 64,
    n_planes: int = 64,
    bands: int = 4,
    seed: int = 7,
    id_col: str = "vec_id",
    round_to: int = 3,
) -> DataFrame:
    """The full banded near-dup pipeline over one vector frame: hyperplane
    sign-bit band keys (map-side) -> banded equi-join candidates -> exact
    cosine verification on candidates only. ONE definition so every
    consumer (the batch dedup query, the cross-lingual mirror screen)
    shares the same LSH configuration as its oracle's brute-force replay —
    the recall-exactness argument depends on these parameters staying in
    lockstep."""
    from .textsim import band_candidate_pairs

    planes = hyperplanes(dim=dim, n=n_planes, seed=seed)
    keys = hyperplane_band_keys(allv, planes, bands=bands, id_col=id_col)
    cand = band_candidate_pairs(keys, id_col=id_col)
    return cosine_verify_pairs(
        cand, allv, threshold=threshold, id_col=id_col, round_to=round_to
    )
