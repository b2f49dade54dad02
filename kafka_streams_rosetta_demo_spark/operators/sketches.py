"""Distributed frequency sketches: count-min over arbitrary item streams.

The reference has no approximate aggregates at all (SURVEY §2.8), but a
100 TB corpus pipeline needs frequency estimates (heavy-hitter tokens,
hot keys for skew detection, vocabulary pruning) without materializing a
full per-item count table. Count-min (Cormode & Muthukrishnan 2005) is the
standard answer: ``depth`` hash rows × ``width`` buckets of counters,
``estimate(x) = min_d cells[d][h_d(x)]`` — always an overcount, bounded by
``eps·N`` with probability ``1 - delta`` for ``width = e/eps``,
``depth = ln(1/delta)``.

Spark shape: the sketch build is ONE aggregation with bounded state — each
executor's partial map holds at most ``depth × width`` cells regardless of
input size, and cell-wise merge is exactly the map-side-combine path Spark
already runs. The only data-sized move is the ``depth×`` explode feeding
the partial agg, which never leaves the mapper. Probing is a join of the
(tiny) key set against the (bounded, ``depth·width``-row) sketch.

Determinism: the bucket hashes derive from the repo-wide ``md5_long``
(first 60 bits of md5), which DuckDB computes bit-identically — so a
query's oracle can replay the *exact* sketch, making CMS estimates
hash-checkable rather than merely tolerance-checkable.

Hash family: Kirsch–Mitzenmacher double hashing — ``h_d(x) = (h1(x) +
d·h2(x)) mod width`` from two base hashes (md5 of the item and of the
item reversed). KM preserves the CMS/Bloom error guarantees while hashing
each item TWICE total instead of once per depth row — at 100 TB of
tokens, that halves-or-better the dominant per-row cost (md5 of a salted
string per depth) and explodes only small ints, not salted strings.
``h1 + d·h2 ≤ 4·2^60 < 2^63`` — no int64 overflow at depth ≤ 7.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .textsim import md5_long

CMS_DEPTH = 4
CMS_WIDTH = 2048


def cms_bucket(item: Column, depth_idx: Column, width: int = CMS_WIDTH) -> Column:
    """Bucket of ``item`` under hash row ``depth_idx`` via KM double
    hashing. All terms non-negative, so ``%`` agrees with DuckDB."""
    h1 = md5_long(item)
    h2 = md5_long(F.reverse(item))
    return (h1 + depth_idx.cast("long") * h2) % F.lit(width)


def cms_build(
    items: DataFrame,
    col: str,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """Aggregate an item stream into CMS cells: (d, bucket, c) with at most
    ``depth × width`` rows. The two KM base hashes are computed ONCE per
    item row, BEFORE the depth explode — the explode then fans out two
    longs, not strings, and each fanned row is pure integer arithmetic.
    Partial aggregation collapses each mapper's output to the bounded cell
    grid, so the shuffle moves ≤ depth·width rows per task — the whole
    point of sketching at 100 TB."""
    hashed = items.select(
        md5_long(F.col(col)).alias("h1"),
        md5_long(F.reverse(F.col(col))).alias("h2"),
    )
    return (
        hashed.select(
            F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("d"), "h1", "h2"
        )
        .select(
            "d",
            ((F.col("h1") + F.col("d").cast("long") * F.col("h2")) % F.lit(width)).alias(
                "bucket"
            ),
        )
        .groupBy("d", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def cms_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    col: str,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """Point-query the sketch for every row of ``keys``: adds a ``cms_est``
    column (min over the ``depth`` hash rows). The sketch is bounded at
    depth·width rows by construction, so it broadcasts; the keys side can be
    arbitrarily large and streams map-side. Keys must occur in the sketched
    stream (their own occurrences guarantee the probed cells exist); probing
    truly-absent keys would need a left join with ``coalesce(c, 0)``."""
    probes = keys.select(
        "*", F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("d")
    ).withColumn("bucket", cms_bucket(F.col(col), F.col("d"), width))
    others = [c for c in keys.columns]
    return (
        probes.join(F.broadcast(sketch), ["d", "bucket"])
        .groupBy(*others)
        .agg(F.min("c").alias("cms_est"))
    )


# ---------------------------------------------------------------------------
# Bloom filter (membership sketch) — semi-join pruning
# ---------------------------------------------------------------------------

BLOOM_BITS = 1 << 16  # default floor: 65,536 bits = 1,024 packed longs = 8 KiB
BLOOM_HASHES = 6
BLOOM_BITS_PER_KEY = 14  # with k=6: fp ~ (1 - e^(-6/14))^6 ~ 0.2%

# Base hashes are xxhash64 (native, vectorized, whole-stage-codegen) masked
# to 60 bits so h1 + (k-1)*h2 can never overflow a signed long under ANSI
# arithmetic. The first cut used the repo md5_long for DuckDB replayability,
# but the bloom never needs an oracle to replay it — its gate query's
# oracle is the PLAIN join (the filter is invisible in the answer, false
# negatives are impossible by construction) — and per-row md5+conv was the
# measured hot cost (~8 us/row vs ~0.4 us for xxhash64 at sf0.1).
_BLOOM_MASK60 = (1 << 60) - 1
_BLOOM_SEED2 = -1640531527  # golden-ratio constant, fixes the second hash


def _bloom_h1(item: Column) -> Column:
    return F.xxhash64(item).bitwiseAND(F.lit(_BLOOM_MASK60))


def _bloom_h2(item: Column) -> Column:
    return F.xxhash64(item, F.lit(_BLOOM_SEED2)).bitwiseAND(F.lit(_BLOOM_MASK60))


def bloom_size_bits(n_keys: int, bits_per_key: int = BLOOM_BITS_PER_KEY) -> int:
    """Power-of-two filter size for ``n_keys`` (floored at ``BLOOM_BITS``) —
    the standard size-by-n step a production bloom build performs (you know
    the build-side count before sizing; here it is one cheap agg)."""
    import math

    target = max(BLOOM_BITS, bits_per_key * max(n_keys, 1))
    return 1 << math.ceil(math.log2(target))


def bloom_build_words(
    keys: DataFrame,
    col: str,
    n_hashes: int = BLOOM_HASHES,
    n_bits: int = BLOOM_BITS,
) -> list[int]:
    """Build the packed filter with ONE distributed pass: probes explode to
    (word-index, bit) pairs that a partial-aggregated ``bit_or`` packs
    executor-side — at most ``n_bits/64`` rows cross the shuffle or reach
    the driver regardless of key count. Like the
    kmeans centroid collect, this is O(sketch) model state, never O(rows) —
    tens of KiB here, ~128 MiB for a 1e9-key / 1% fp production filter,
    which is exactly the regime where the key set itself is too big to
    broadcast as a hash relation but its bloom still ships to every
    executor.
    """
    if n_hashes > 8:  # see bloom_prune: ANSI overflow bound on the KM probes
        raise ValueError("bloom n_hashes > 8 would overflow the 60-bit KM probes")
    c = F.col(col)
    h1, h2 = _bloom_h1(c), _bloom_h2(c)
    probes = [
        ((h1 + F.lit(d).cast("long") * h2) % F.lit(n_bits)) for d in range(n_hashes)
    ]
    rows = (
        keys.select(F.explode(F.array(*probes)).alias("p"))
        .select(
            (F.col("p") / 64).cast("int").alias("w"),
            F.expr("shiftleft(1L, CAST(p % 64 AS INT))").alias("b"),
        )
        .groupBy("w")
        .agg(F.expr("bit_or(b)").alias("bits"))
        .collect()
    )
    # bit_or packs executor-side, so the driver receives <= n_bits/64
    # already-signed words (vs one row per set bit) — a 20-60x smaller
    # collect, and no two's-complement fixup needed.
    words = [0] * (n_bits // 64)
    for r in rows:
        words[r.w] = r.bits
    return words


def bloom_prune(
    df: DataFrame,
    key: Column,
    words: list[int],
    n_hashes: int = BLOOM_HASHES,
    n_bits: int = BLOOM_BITS,
) -> DataFrame:
    """Keep only rows whose ``key`` MIGHT be in the filter — all
    ``n_hashes`` probed bits set.

    The predicate stays entirely inside whole-stage codegen: the packed
    words ride as ONE constant-folded array literal (``F.lit(words)`` —
    verified to fold, no per-row ``CreateArray``), the two KM base hashes
    materialize once per row, and the probes are UNROLLED into an AND
    chain of plain integer expressions (an earlier ``forall`` higher-order
    form evaluated interpreted, ~9x slower at sf0.1). Bit 63's sign wrap
    is harmless — both sides of ``!= 0`` see the same two's complement.
    False negatives are impossible by construction, so pruning with this
    predicate before an exact join keeps the join's result exact while
    cutting the shuffled probe volume to the matching fraction plus the
    filter's false-positive rate. The predicate sits in the scan stage,
    BEFORE the join exchange — that placement is the whole point, and
    ``tests/test_plans.py`` pins it."""
    # h1 + (k-1)*h2 <= k * (2^60 - 1): safe under ANSI long arithmetic only
    # for k <= 8 (9 * 2^60 > 2^63). Fail loudly instead of overflowing.
    if n_hashes > 8:
        raise ValueError("bloom n_hashes > 8 would overflow the 60-bit KM probes")
    # ONE parsed SQL literal, not F.lit(list): the latter materializes the
    # array via one py4j lit() call per element (~2.4 s of pure driver time
    # at 4096 words, measured); the parsed text costs ~0.1 s and folds to
    # the same constant.
    words_lit = F.expr("array(" + ",".join(f"{w}L" for w in words) + ")")
    out = (
        df.withColumn("_bloom_h1", _bloom_h1(key))
        .withColumn("_bloom_h2", _bloom_h2(key))
        .withColumn("_bloom_words", words_lit)
    )
    cond = None
    for d in range(n_hashes):
        p = (F.col("_bloom_h1") + F.lit(d).cast("long") * F.col("_bloom_h2")) % F.lit(
            n_bits
        )
        word = F.element_at(F.col("_bloom_words"), (p / 64).cast("int") + F.lit(1))
        bit = F.expr(
            f"shiftleft(1L, CAST((_bloom_h1 + {d}L * _bloom_h2) % {n_bits} % 64 AS INT))"
        )
        c = word.bitwiseAND(bit) != 0
        cond = c if cond is None else (cond & c)
    return out.where(cond).drop("_bloom_h1", "_bloom_h2", "_bloom_words")
