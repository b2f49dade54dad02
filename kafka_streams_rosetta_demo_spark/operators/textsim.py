"""Text-similarity / deduplication operators (LLM-data-pipeline extensions).

The reference engine has no document operators at all — this family is part
of the north-star scope (BASELINE.json): the operations a large-scale
training-data pipeline runs over a ~100 TB document corpus. Everything here
is expressed with JVM-side built-ins (``split``/``transform``/``xxhash64``/
``array_*``) so the hot path stays inside whole-stage codegen — no Python
UDFs.

Scale design, per operator:

- **Shingling** is a per-row ``transform`` over the split words — no shuffle.
- **MinHash signatures**: explode distinct shingles, then one hash-aggregate
  on doc id with ``n`` ``min()`` columns. Partial (map-side) aggregation
  collapses the exploded rows before the single shuffle.
- **LSH banding**: signatures explode to ``bands`` rows/doc and the
  candidate join is an *equi* join on (band, band_key) — never an all-pairs
  ``crossJoin``. Bucket skew (a degenerate band key shared by a huge cluster)
  is the classic hazard; AQE skew-join splitting is on in the session
  defaults, and the band key is a 64-bit hash so accidental collisions don't
  create hot keys.
- **Prefix filtering** (AllPairs/PPJoin-style) gives the *exact* near-dup
  join a sub-quadratic path: only the first ``|S| - ceil(t*|S|) + 1``
  shingles of each doc (in a global canonical order) are exploded into the
  inverted index. Two sets with Jaccard >= t provably share a prefix token,
  so recall is 1 by construction — this is the guaranteed-exact counterpart
  to MinHash's probabilistic recall. Index tokens ride as 8-byte xxhash64
  keys (collisions only add candidates — guide §2.3), and matched rows
  additionally pass the PPJoin LENGTH and POSITIONAL filters
  (:func:`_jaccard_candidate_filters` — provably recall-safe, measured 7.4x
  fewer candidates at sf0.1), which is what bounds the exact-verify cost.
- **Verification** re-joins candidate pairs to their distinct-shingle arrays
  and computes exact Jaccard with ``array_intersect``/``size`` — candidates
  are rare after banding, so this is cheap.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def word_shingles(text_col: str | Column, k: int = 3) -> Column:
    """Distinct word ``k``-gram shingles of a single-space-tokenized text
    column. Rows with fewer than ``k`` words yield an empty array (callers
    filter them out so both engine and oracle agree on doc inclusion)."""
    w = F.split(text_col, " ")
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size(w) - k),
            lambda i: F.concat_ws(" ", F.slice(w, i + 1, k)),
        )
    )


def with_shingles(docs: DataFrame, k: int = 3, text_col: str = "text") -> DataFrame:
    """Attach a distinct ``shingles`` array; drop docs too short to shingle.

    The array is wrapped in :func:`_nonnull_guard` — downstream Jaccard
    threshold filters are null-intolerant, and without the guard Catalyst
    infers ``isnotnull(<shingle expr>)`` and pushes the whole shingling
    computation below the rebalance exchange into the single-task scan
    stage (see _nonnull_guard)."""
    w = F.split(F.col(text_col), " ")
    return docs.where(F.size(w) >= k).withColumn(
        "shingles",
        _nonnull_guard(
            word_shingles(F.col(text_col), k), F.expr("CAST(array() AS array<string>)")
        ),
    )


def minhash_signature(
    shingled: DataFrame, id_col: str = "doc_id", n_hashes: int = 64
) -> DataFrame:
    """MinHash signature: ``minhash[j] = min over shingles of
    xxhash64(j, shingle)``, as one ``array<long>`` column. Per-row map, no
    shuffle.

    The minima range over a single document's own shingles, so the whole
    signature is a per-row expression — one ``aggregate`` pass over the
    shingle array carrying an array-of-64-running-minima accumulator. Zero
    shuffle, embarrassingly parallel at 100 TB. (An explode + 64-min groupBy
    computes the same thing with a pointless shuffle of every (doc, shingle)
    pair, and measures slower locally too.) A bit-exact NumPy XXH64 Arrow
    kernel measured 0.93–1.19x against this fold at scan parallelism
    (OPTIMIZATION_r15.md), so it was removed.
    """
    init = F.array_repeat(F.lit(1 << 62).cast("long"), n_hashes)

    def merge(acc, s):
        hashes = F.array(*[F.xxhash64(F.lit(j), s) for j in range(n_hashes)])
        return F.zip_with(acc, hashes, lambda a, b: F.least(a, b))

    return shingled.select(
        id_col, _nonnull_guard(F.aggregate("shingles", init, merge), F.array()).alias("minhash")
    )


def _nonnull_guard(col: Column, zero: Column) -> Column:
    """Wrap a provably-non-null heavy expression in ``coalesce`` so Catalyst
    stops inferring ``isnotnull(<expr>)`` from downstream null-intolerant
    join keys / filters. That inferred filter gets pushed below the
    rebalance exchange into the *scan* stage, re-running the whole
    signature computation single-threaded on raw scan partitioning
    (measured: the dominant cost of dedup_simhash at sf0.1 before this
    guard). ``coalesce`` is null-intolerant-breaking but a no-op at runtime
    — the guarded folds always produce a value.
    """
    return F.coalesce(col, zero)


def lsh_band_keys(
    signatures: DataFrame, id_col: str = "doc_id", bands: int = 16, rows: int = 4
) -> DataFrame:
    """Explode a MinHash signature into ``bands`` (band_id, band_key) rows.

    Docs sharing any band key are candidate pairs; for Jaccard ``s`` the
    collision probability is ``1 - (1 - s^rows)^bands`` (the standard S-curve
    — 16x4 puts the knee near s ~ 0.6 with P(s=0.8) > 0.999).
    """
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.xxhash64(
                    *[F.element_at("minhash", b * rows + r + 1) for r in range(rows)]
                ).alias("band_key"),
            )
            for b in range(bands)
        ]
    )
    return signatures.select(id_col, F.explode(band_structs).alias("bk")).select(
        id_col, F.col("bk.band_id").alias("band_id"), F.col("bk.band_key").alias("band_key")
    )


def band_candidate_pairs(band_keys: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) from an equi self-join on
    (band_id, band_key) — the banded join the 100 TB path requires instead of
    an all-pairs product."""
    a = band_keys.alias("a")
    b = band_keys.alias("b")
    return (
        a.join(b, on=["band_id", "band_key"])
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )


def df_ordered_shingles(shingled: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """The PPJoin preprocessing artifact: each doc's distinct shingles — as
    8-byte ``xxhash64`` TOKEN KEYS, not strings — as an array sorted by
    *global document frequency* (rarest first, ties broken by the hash; any
    total order shared by all docs preserves the prefix guarantee; df order
    is what makes the filter effective).

    Why hashed tokens (optimization round 14, guide §2.3 "shuffle keys and
    metadata instead of payloads"): every consumer of this artifact — the
    prefix slice, the inverted-index candidate join, the per-doc groupBy
    here — needs token IDENTITY only, never the shingle text; the exact
    verify step re-joins candidates to the original string-array frame. An
    18-30 byte shingle string in the ordered structs, the collect_list
    exchange, and both sides of the candidate join is pure payload; the
    8-byte key shrinks those exchanges and makes the join compares long
    equality instead of string compares. A hash collision (~2^-64 per token
    pair) can only MERGE two tokens, which only ADDS candidate pairs —
    recall stays exact: for common strings C with |C| >= ceil(t|S|), take
    the minimal common (df, h) key; every element keyed strictly greater
    sorts after it, so an element carrying that key sits inside BOTH
    prefixes and the candidate join matches on its h. False positives are
    removed by the exact string verify, so query RESULTS are unchanged
    (recall pins: tests/test_dedup.py). The hash runs as a top-level
    projection AFTER the explode so it stays whole-stage-codegen (inside a
    ``transform`` lambda it would run interpreted, CodegenFallback).

    THRESHOLD-INDEPENDENT by construction — the threshold only picks how
    much of each sorted array the prefix slice takes — so this is the
    materialize-once artifact a pipeline running Jaccard-pairs +
    incremental-screen + cluster-collapse builds a single time
    (``queries/artifacts.py`` memoizes it per (application, sf_dir), the
    same policy as the CC label cache). Cost: one explode + one window
    count over the token key (A/B-measured faster than the former
    aggregate-then-annotate-join: 0.60 s vs 0.94 s interleaved at sf0.1) +
    one per-doc groupBy — the standard PPJoin preprocessing pass, paid once
    instead of per query.
    """
    from pyspark.sql import Window

    ex = shingled.select(id_col, F.explode("shingles").alias("s")).select(
        id_col, F.xxhash64("s").alias("h")
    )
    # df as a window count over the token key instead of a groupBy+join-back:
    # same values, one exchange on h instead of aggregate-then-join (A/B'd
    # interleaved at sf0.1: 0.60 s vs 0.94 s median — OPTIMIZATION_r14.md).
    return (
        ex.withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("h")))
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_list(F.struct("df", "h"))).alias("ordered"))
    )


def prefix_tokens(
    ordered: DataFrame, threshold: float, id_col: str = "doc_id"
) -> DataFrame:
    """Slice the df-ordered arrays to the PPJoin prefix for ``threshold``:
    the first ``|S| - ceil(t*|S|) + 1`` tokens of each doc, as
    (id, n, pos, h) rows — the 8-byte hashed token plus the doc's token
    count ``n`` and the token's 1-based position ``pos`` in the shared df
    order, which the length/positional candidate filters consume. Pure
    per-row slice + posexplode over the (cached) ordered artifact — no
    shuffle."""
    n = F.size("ordered")
    prefix_len = (n - F.ceil(n * F.lit(threshold)) + F.lit(1)).cast("int")
    return ordered.select(
        id_col,
        n.alias("n"),
        F.posexplode(F.slice("ordered", 1, prefix_len)).alias("pos", "tok"),
    ).select(
        id_col, "n", (F.col("pos") + 1).alias("pos"), F.col("tok.h").alias("h")
    )


def _jaccard_candidate_filters(threshold: float) -> Column:
    """The PPJoin LENGTH and POSITIONAL candidate filters for a symmetric
    Jaccard join at ``threshold``, as one boolean over the matched
    prefix-row columns (na, pa, nb, pb) — RELAXED BY ONE FULL TOKEN so
    IEEE-double rounding of ``t*n`` can never drop a true pair (a double
    mul/cmp errs by ulps, ~1e-12 tokens at these magnitudes; the slack is
    1.0).

    Safety (exact forms): J(A,B) >= t forces (length) ``|B| >= ceil(t|A|)``
    and vice versa (t*max <= |A∩B| <= min), and (positional) for the
    matched row pairing each side's FIRST occurrence of the minimal common
    hash, every common token sits at or after that position in BOTH
    df-ordered arrays, so ``|A∩B| <= 1 + min(na-pa, nb-pb)`` while
    ``J >= t`` forces ``|A∩B| >= t(na+nb)/(1+t)``. A pair is kept when ANY
    matched row passes (that row always does for a true pair), then ids
    are made distinct — so recall stays exact while candidates shrink
    ~7x at sf0.1 (159,907 -> 21,657 measured), which is what bounds the
    exact-verify stage's cost. Recall pins: tests/test_dedup.py,
    tests/test_properties.py."""
    na, pa = F.col("na"), F.col("pa")
    nb, pb = F.col("nb"), F.col("pb")
    t = F.lit(float(threshold))
    length_ok = (nb >= F.ceil(na * t) - 1) & (na >= F.ceil(nb * t) - 1)
    ub_plus_slack = (F.lit(2) + F.least(na - pa, nb - pb)).cast("double")
    pos_ok = ub_plus_slack * (F.lit(1.0) + t) >= t * (na + nb).cast("double")
    return length_ok & pos_ok


def prefix_filter_pairs(
    shingled: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    ordered: DataFrame | None = None,
) -> DataFrame:
    """Exact-recall candidate pairs via prefix filtering (AllPairs/PPJoin).

    Each doc indexes only its df-ordered prefix (see
    :func:`df_ordered_shingles`). If ``J(A,B) >= t`` the prefixes must
    intersect, so unlike LSH banding this candidate set provably contains
    every qualifying pair.

    The df ordering is the part that survives scale: with a random order the
    prefixes of a skewed corpus fill with stopword-like shingles and the
    index join degenerates toward all-pairs (measured 55 s vs ~2 s at sf0.1
    on this corpus's tiny vocabulary); rarest-first keeps per-token posting
    lists short. Pass a precomputed ``ordered`` artifact to skip the
    preprocessing pass entirely (the cross-query reuse path).
    """
    if ordered is None:
        ordered = df_ordered_shingles(shingled, id_col)
    prefix = prefix_tokens(ordered, threshold, id_col)
    a = prefix.select(
        F.col(id_col).alias("id_a"), F.col("n").alias("na"), F.col("pos").alias("pa"), "h"
    )
    b = prefix.select(
        F.col(id_col).alias("id_b"), F.col("n").alias("nb"), F.col("pos").alias("pb"), "h"
    )
    return (
        a.join(b, on=["h"])
        .where(F.col("id_a") < F.col("id_b"))
        .where(_jaccard_candidate_filters(threshold))
        .select("id_a", "id_b")
        .distinct()
    )


def prefix_filter_pairs_cross(
    probe: DataFrame,
    corpus: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    ordered: DataFrame | None = None,
) -> DataFrame:
    """Exact-recall candidate pairs BETWEEN two shingled sets (probe x
    corpus) — the incremental-dedup shape: a new crawl batch screens against
    the existing training corpus, and the (vastly larger) corpus never
    self-joins.

    Same prefix guarantee as :func:`prefix_filter_pairs` — if ``J(A,B) >= t``
    the prefixes intersect under any total order shared by both sides — with
    the document-frequency order computed over the UNION of both sides so the
    order IS shared and the rarest-first skew argument still holds. At
    cluster scale the corpus prefix index is the artifact to materialize once
    and reuse across batches (it only changes when the corpus does). Output:
    (id_a from probe, id_b from corpus), distinct.

    Reuse path: pass ``ordered`` — a df-ordered artifact covering
    ``probe ∪ corpus`` (so the total order is shared by construction) — and
    the whole preprocessing pass is skipped; the prefix table splits back
    into sides by an id semi-join (cheap: prefix rows carry only (id, n,
    pos, hashed token)). This is how ``dedup_incremental_screen`` rides the
    same cached artifact as the Jaccard-pairs and cluster-collapse queries.
    """
    if ordered is not None:
        # The reuse path's exact-recall guarantee holds only if the artifact
        # COVERS probe ∪ corpus: an id missing from `ordered` would be
        # silently dropped by the semi-joins below and its pairs lost with no
        # signal. Enforce the docstring contract with one cheap anti-join
        # over the id columns (ids only — prefix rows never materialize).
        missing = (
            probe.select(id_col)
            .unionByName(corpus.select(id_col))
            .distinct()
            .join(ordered.select(id_col), id_col, "left_anti")
            .take(1)
        )
        if missing:
            raise ValueError(
                "prefix_filter_pairs_cross: the `ordered` artifact does not "
                f"cover probe ∪ corpus (e.g. {id_col}="
                f"{missing[0][id_col]!r} is absent) — recall would silently "
                "drop; rebuild the artifact over the union first"
            )
        prefix = prefix_tokens(ordered, threshold, id_col)
        a = prefix.join(
            probe.select(id_col).distinct(), id_col, "left_semi"
        ).select(
            F.col(id_col).alias("id_a"),
            F.col("n").alias("na"),
            F.col("pos").alias("pa"),
            "h",
        )
        b = prefix.join(
            corpus.select(id_col).distinct(), id_col, "left_semi"
        ).select(
            F.col(id_col).alias("id_b"),
            F.col("n").alias("nb"),
            F.col("pos").alias("pb"),
            "h",
        )
        return (
            a.join(b, "h")
            .where(_jaccard_candidate_filters(threshold))
            .select("id_a", "id_b")
            .distinct()
        )
    # One tagged build instead of two: the sides union with a marker, the
    # df aggregation and the per-doc ordered-prefix groupBy each run ONCE
    # over the union, and the prefix table splits back by tag — halving the
    # index-build shuffles vs building each side separately. (The
    # materialize-the-corpus-index-per-batch production variant builds the
    # corpus side alone with the same code path, amortized across batches.)
    ex = (
        probe.select(id_col, F.explode("shingles").alias("s"))
        .withColumn("_side", F.lit(0))
        .unionByName(
            corpus.select(id_col, F.explode("shingles").alias("s")).withColumn(
                "_side", F.lit(1)
            )
        )
    ).select(id_col, "_side", F.xxhash64("s").alias("h"))
    from pyspark.sql import Window

    ordered = (
        ex.withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("h")))
        .groupBy("_side", id_col)
        .agg(F.array_sort(F.collect_list(F.struct("df", "h"))).alias("ordered"))
    )
    n = F.size("ordered")
    prefix_len = (n - F.ceil(n * F.lit(threshold)) + F.lit(1)).cast("int")
    prefix = ordered.select(
        "_side",
        id_col,
        n.alias("n"),
        F.posexplode(F.slice("ordered", 1, prefix_len)).alias("pos", "tok"),
    ).select(
        "_side", id_col, "n", (F.col("pos") + 1).alias("pos"), F.col("tok.h").alias("h")
    )
    a = prefix.where(F.col("_side") == 0).select(
        F.col(id_col).alias("id_a"), F.col("n").alias("na"), F.col("pos").alias("pa"), "h"
    )
    b = prefix.where(F.col("_side") == 1).select(
        F.col(id_col).alias("id_b"), F.col("n").alias("nb"), F.col("pos").alias("pb"), "h"
    )
    return (
        a.join(b, "h")
        .where(_jaccard_candidate_filters(threshold))
        .select("id_a", "id_b")
        .distinct()
    )


def containment_filter_pairs(
    shingled: DataFrame, threshold: float, id_col: str = "doc_id"
) -> DataFrame:
    """Exact-recall candidates for the ASYMMETRIC containment join
    ``C(A,B) = |A ∩ B| / |A| >= t`` — the relation that finds documents
    quoted by, excerpted from, or engulfed by another (Jaccard misses these:
    a paragraph inside a book has tiny Jaccard but containment ~1).

    Prefix guarantee, one-sided: ``C(A,B) >= t`` forces ``|A ∩ B| >=
    ceil(t|A|)``, so B must hit one of A's first ``|A| - ceil(t|A|) + 1``
    tokens under any fixed total order — A (the contained side) indexes only
    that prefix, while B must index ALL its tokens (no symmetric pruning
    exists for asymmetric containment; this is the standard cost of the
    containment self-join). The df order keeps A-prefixes rare-token-first,
    so B's long posting lists are hit by few prefixes. Output: (id_a
    contained-candidate, id_b container), a != b, distinct.
    """
    ordered = df_ordered_shingles(shingled, id_col)
    a = prefix_tokens(ordered, threshold, id_col).select(
        F.col(id_col).alias("id_a"), F.col("n").alias("na"), F.col("pos").alias("pa"), "h"
    )
    # The container side indexes ALL its tokens — the raw hashed explode of
    # the (checkpointed) shingle frame, NOT a re-explode of the ordered
    # artifact: deriving this side from the ordered groupBy was measured to
    # defeat AQE's skew-split of the candidate join on the degenerate
    # hot-shingle fixture (tests/test_skew.py), while the raw narrow side
    # keeps it firing; the b-side positional component it would enable cut
    # candidates only ~10% further (84,837 vs 76,377 at sf0.1).
    b = shingled.select(
        F.col(id_col).alias("id_b"),
        F.size("shingles").alias("nb"),
        F.explode("shingles").alias("s"),
    ).select("id_b", "nb", F.xxhash64("s").alias("h"))
    # One-sided filters, relaxed by one token like _jaccard_candidate_filters
    # (same double-rounding argument): C(A,B) >= t forces |A∩B| >= ceil(t|A|)
    # while |A∩B| <= |B| (length) and, for the matched row pairing A's first
    # occurrence of the minimal common hash, |A∩B| <= 1 + (na - pa)
    # (positional — every common token sits at or after pa in A's df order).
    t = F.lit(float(threshold))
    length_ok = F.col("nb") >= F.ceil(F.col("na") * t) - 1
    pos_ok = (F.lit(2) + F.col("na") - F.col("pa")).cast("double") >= t * F.col(
        "na"
    ).cast("double")
    return (
        a.join(b, "h")
        .where(F.col("id_a") != F.col("id_b"))
        .where(length_ok & pos_ok)
        .select("id_a", "id_b")
        .distinct()
    )


def containment_verify(
    pairs: DataFrame,
    shingled: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact containment |A ∩ B| / |A| on candidate pairs; keeps pairs at or
    above threshold with the score rounded to 6 (an int/int division —
    identical in any engine)."""
    sa = shingled.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a"))
    sb = shingled.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b"))
    cont = F.size(F.array_intersect("sh_a", "sh_b")).cast("double") / F.size("sh_a").cast(
        "double"
    )
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .where(cont >= F.lit(threshold))
        .select(
            F.col("id_a").alias("doc_in"),
            F.col("id_b").alias("doc_out"),
            F.round(cont, 6).alias("containment"),
        )
    )


def jaccard_verify(
    pairs: DataFrame,
    shingled: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    out_a: str = "doc_a",
    out_b: str = "doc_b",
) -> DataFrame:
    """Join candidate pairs back to their distinct-shingle arrays and keep
    pairs with exact Jaccard >= threshold. Output: (out_a, out_b, jaccard
    rounded to 6 — an exact int/int division, identical in any engine)."""
    sa = shingled.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a"))
    sb = shingled.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = inter.cast("double") / union.cast("double")
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .where(jac >= F.lit(threshold))
        .select(
            F.col("id_a").alias(out_a),
            F.col("id_b").alias(out_b),
            F.round(jac, 6).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 60  # 15 hex chars of md5 → fits a signed 64-bit long


def md5_long(col: Column) -> Column:
    """First 60 bits of md5 as a non-negative long — the one hash both Spark
    and DuckDB compute identically (``conv(substr(md5(x),1,15),16,10)`` here,
    ``CAST('0x'||substr(md5(x),1,15) AS BIGINT)`` there), so SimHash oracles
    can mirror the engine bit for bit."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def winnow_fingerprints(
    docs: DataFrame,
    k: int = 3,
    w: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Winnowing fingerprints (Schleimer et al. 2003, the MOSS sampler):
    per document, hash every positional word-``k``-gram, slide a window of
    ``w`` consecutive hashes, and keep each window's MINIMUM — a ~1/w
    sample that still GUARANTEES any shared run of at least ``w+k-1``
    words between two documents shares a fingerprint (a length-(w+k-1)
    match spans one full hash window on both sides, and both windows pick
    the same minimum). Returns the distinct ``(id_col, f)`` fingerprint
    set — the inverted-index input.

    Selection is entirely per-row JVM HOFs (transform / slice / array_min)
    inside one scan; no explode until the distinct fingerprint set, which
    is at most spans/w rows per doc. Documents shorter than ``w+k-1``
    words have no full window and produce no fingerprints (callers that
    screen batches must carry such docs through a left join)."""
    words = F.split(F.lower(text_col), " ")
    eligible = docs.where(F.size(F.split(text_col, " ")) >= k + w - 1)
    h = F.expr(
        f"transform(sequence(1, size(words) - {k - 1}),"
        f" i -> CAST(conv(substring(md5(concat_ws(' ', slice(words, i, {k}))), 1, 15), 16, 10)"
        f" AS BIGINT))"
    )
    return (
        eligible.select(id_col, words.alias("words"))
        .select(id_col, h.alias("h"))
        .select(
            id_col,
            F.explode(
                F.array_distinct(
                    F.expr(
                        f"transform(sequence(1, size(h) - {w - 1}),"
                        f" i -> array_min(slice(h, i, {w})))"
                    )
                )
            ).alias("f"),
        )
    )


def simhash_signature(shingled: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """60-bit SimHash over a frame carrying a distinct ``shingles`` array
    (unit weights).

    Bit ``j`` of the signature is 1 iff ``sum over shingles of
    (2*bit_j(md5_long(shingle)) - 1) >= 0``. Entirely per-row and single-
    pass: one ``aggregate`` over the shingle hashes carries an array of 60
    running bit-sums (``zip_with`` against a bit-mask array), then a second
    fold assembles the signature long. No explode, no shuffle; ~10x faster
    than 60 independent per-bit folds (measured) because the hash array is
    walked once instead of 60 times.
    """
    masks = F.array(*[F.lit(1 << j).cast("long") for j in range(SIMHASH_BITS)])
    hvs = F.transform("shingles", lambda s: md5_long(s))
    zero_sums = F.array_repeat(F.lit(0).cast("long"), SIMHASH_BITS)

    def merge(acc, x):
        return F.zip_with(
            acc,
            masks,
            lambda a, m: a
            + F.when(x.bitwiseAND(m) != F.lit(0), F.lit(1)).otherwise(F.lit(-1)),
        )

    bit_sums = F.aggregate(hvs, zero_sums, merge)
    sig = F.aggregate(
        F.zip_with(
            bit_sums,
            masks,
            lambda s, m: F.when(s >= 0, m).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda a, b: a + b,
    )
    return shingled.select(
        id_col, _nonnull_guard(sig, F.lit(0).cast("long")).alias("simhash")
    )


def simhash_near_pairs(
    signatures: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    chunks: int = 4,
) -> DataFrame:
    """Pairs with Hamming distance <= max_hamming, found via chunk banding.

    The 60-bit signature splits into ``chunks`` 15-bit chunks; by pigeonhole
    any pair within ``chunks - 1`` bit flips shares an identical chunk, so an
    equi join on (chunk_id, chunk_value) has guaranteed recall for
    ``max_hamming <= chunks - 1`` — no crossJoin.

    The 8-byte signature *rides through* the band join instead of being
    joined back per side afterward. That removes two joins, and — the part
    that matters — removes the ``isnotnull(simhash)`` join-key filter those
    verify joins induce: Catalyst pushes join-key null filters below the
    rebalance exchange into the scan stage, which re-ran the entire
    signature fold single-threaded on the raw scan partitioning (measured
    ~2x the whole query's cost at sf0.1; the plan showed the fold inside
    the pre-exchange Filter). Carrying 8 bytes/row through the explode is
    free by comparison at any scale.
    """
    assert max_hamming <= chunks - 1, "pigeonhole guarantee requires hamming < chunks"
    width = SIMHASH_BITS // chunks
    mask = (1 << width) - 1
    chunk_arr = F.array(
        *[
            F.struct(
                F.lit(c).alias("chunk_id"),
                F.shiftright(F.col("simhash"), c * width).bitwiseAND(F.lit(mask)).alias("chunk_val"),
            )
            for c in range(chunks)
        ]
    )
    keys = signatures.select(id_col, "simhash", F.explode(chunk_arr).alias("ck")).select(
        id_col,
        "simhash",
        F.col("ck.chunk_id").alias("chunk_id"),
        F.col("ck.chunk_val").alias("chunk_val"),
    )
    a = keys.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sig_a"), "chunk_id", "chunk_val"
    )
    b = keys.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sig_b"), "chunk_id", "chunk_val"
    )
    ham = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        a.join(b, on=["chunk_id", "chunk_val"])
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            F.col("id_a").alias("doc_a"),
            F.col("id_b").alias("doc_b"),
            ham.cast("long").alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def prefix_length(n: int, threshold: float) -> int:
    """Python twin of the prefix-filter length (for tests)."""
    return n - math.ceil(threshold * n) + 1


def source_similarity_matrix(
    docs: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Pairwise distinct-shingle Jaccard between SOURCES via a per-shingle
    source-bitmask rollup — no doc-level pair join anywhere.

    Plan: distinct (shingle, source) rows aggregate per shingle into a
    source bitmask (``bit_or(1 << idx)``, one shuffle on the shingle key);
    the counted mask table is bounded by ``2^|sources|`` rows; every
    pair's intersection (``mask & bits == bits``) and union
    (``mask & bits != 0``) is a conditional sum over that tiny table
    fanned out through a literal pair array. Exact integer counts,
    similarity as integer ppm (``inter * 1e6 DIV union``).

    The source-index map is a ≤63-row collect — bounded model state, like
    the kMeans centroids. Holds to 63 sources, not 64: the mask is a
    signed long and index 63 would need ``1 << 63``, which overflows the
    sign bit. Past 63 the same one-shuffle skeleton runs on
    (shingle, source-pair) co-occurrence counts instead. NULL sources are
    rejected up front (a NULL would otherwise break the index sort and
    silently vanish from every mask via ``bit_or``'s null-absorption).

    Returns ``(source_a, source_b, inter_shingles, union_shingles,
    jaccard_ppm)`` for every unordered pair with a non-empty union.
    """
    raw = [r[0] for r in docs.select(source_col).distinct().collect()]
    if any(s is None for s in raw):
        raise ValueError(
            f"NULL values in source column {source_col!r}: filter or "
            "impute them before the bitmask rollup (a NULL source has no "
            "bit and would be silently absorbed by bit_or)"
        )
    srcs = sorted(raw)
    if len(srcs) > 63:
        raise ValueError(
            f"bitmask rollup holds to 63 sources, got {len(srcs)}; "
            "use a (shingle, source-pair) co-occurrence rollup instead"
        )
    idx = {s: i for i, s in enumerate(srcs)}
    if len(srcs) < 2:
        spark = docs.sparkSession
        return spark.createDataFrame(
            [],
            "source_a string, source_b string, inter_shingles long, "
            "union_shingles long, jaccard_ppm long",
        )

    # Shingles roll up by their 60-bit md5_long, hashed per-row INSIDE the
    # array (JVM transform, zero shuffle) — the 8-byte key, not a 20+-char
    # string, is what shuffles, and the oracle replays the same hash so
    # parity stays definitional (collision-merge is shared, and negligible
    # at 2^60). No distinct before the groupBy: bit_or is idempotent over
    # duplicate rows and the per-hash groupBy already collapses, so a
    # pre-dedup would compute the identical mask table one exchange slower.
    sh = with_shingles(
        docs.select(source_col, text_col), k=k, text_col=text_col
    ).select(
        source_col,
        F.explode(F.transform("shingles", lambda s: md5_long(s))).alias("shingle"),
    )
    # literal CASE over the bounded source map — no dim join; the shift is
    # folded into the literal so the row expression is pure string equality
    bit = F.coalesce(
        *[
            F.when(F.col(source_col) == s, F.lit(1 << i).cast("long"))
            for s, i in idx.items()
        ]
    )
    masks = (
        sh.select(bit.alias("bit"), "shingle")
        .groupBy("shingle")
        .agg(F.bit_or("bit").alias("mask"))
        .groupBy("mask")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    pairs_lit = F.array(
        *[
            F.struct(
                F.lit(a).alias("source_a"),
                F.lit(b).alias("source_b"),
                F.lit((1 << idx[a]) | (1 << idx[b])).cast("long").alias("bits"),
            )
            for i, a in enumerate(srcs)
            for b in srcs[i + 1 :]
        ]
    )
    fanned = masks.select("mask", "c", F.explode(pairs_lit).alias("p"))
    return (
        fanned.groupBy("p.source_a", "p.source_b")
        .agg(
            F.sum(
                F.when(
                    F.col("mask").bitwiseAND(F.col("p.bits")) == F.col("p.bits"),
                    F.col("c"),
                ).otherwise(F.lit(0))
            ).alias("inter_shingles"),
            F.sum(
                F.when(
                    F.col("mask").bitwiseAND(F.col("p.bits")) != 0, F.col("c")
                ).otherwise(F.lit(0))
            ).alias("union_shingles"),
        )
        .where(F.col("union_shingles") > 0)
        .withColumn(
            "jaccard_ppm",
            F.expr("inter_shingles * 1000000L DIV union_shingles"),
        )
    )
