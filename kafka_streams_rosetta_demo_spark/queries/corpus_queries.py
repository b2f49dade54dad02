"""Corpus-curation queries: the operations between "raw crawl" and
"training mix" that a 100 TB data pipeline runs after dedup — cluster-level
dedup collapse, deterministic stratified sampling, sequence packing, PII
scrubbing, and repetition-based quality filtering.

North-star scope (BASELINE.json); the reference has no document operators
(it is a telco-calls streaming demo — SURVEY §1), so these are extension
operators, each oracle-backed:

- ``dedup_cluster_cc`` — connected components over near-dup pairs: the
  collapse step that turns pairwise similarity into one canonical doc per
  transitive group.
- ``sample_stratified_hash`` — per-language rebalancing with a
  *deterministic* content-independent hash sample: reproducible across
  runs, engines, and partitionings, unlike ``df.sample`` (seeded RNG is
  partitioning-dependent, so it cannot be oracle-checked).
- ``pack_sequences`` — token-budget bin assignment for training-sequence
  packing, per-shard so it parallelizes.
- ``text_pii_scrub`` — regex redaction with an observable replacement
  count.
- ``text_repeated_ngrams`` — Gopher-style repetition quality gate
  (duplicate-3-gram fraction).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import rebalance
from ..operators.graph import connected_components, keep_best_survivors
from ..operators.textsim import (
    jaccard_verify,
    md5_long,
    prefix_filter_pairs,
    with_shingles,
)
from ..sources.parquet import load_table
from . import register

# ---------------------------------------------------------------------------
# dedup_cluster_cc
# ---------------------------------------------------------------------------

# Shared with dedup_queries._shingle_cte / _jaccard_pairs_oracle (k=3,
# t=0.75), then a recursive transitive closure: label = min doc_id reachable.
# The CTE block is shared by the per-doc labelling (dedup_cluster_cc) and the
# per-cluster canonical-survivor rollup (dedup_cluster_keep_best).
_CC_CTES = """w AS (
  SELECT doc_id, string_split(text, ' ') AS words
  FROM documents
  WHERE len(string_split(text, ' ')) >= 3
),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(words[i:i+2], ' ') AS shingle
  FROM (SELECT doc_id, words, unnest(range(1, len(words) - 1)) AS i FROM w)
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT doc_a, doc_b
  FROM inter
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE CAST(c AS DOUBLE) / CAST(sa.n + sb.n - c AS DOUBLE) >= 0.75
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach(id, label) AS (
  SELECT src, src FROM (SELECT DISTINCT src FROM edges)
  UNION
  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id
),
cc AS (
  SELECT id AS doc_id, min(label) AS cluster_id
  FROM reach GROUP BY id
)"""

_CC_ORACLE = f"""
WITH RECURSIVE {_CC_CTES}
SELECT doc_id, cluster_id FROM cc
"""

# The (id, component) label frame is THE shared artifact of the dedup
# pipeline: dedup_cluster_cc publishes it and dedup_cluster_keep_best
# consumes it. A real pipeline materializes the similarity join + label
# propagation ONCE and feeds every downstream pass — this memo reflects
# that execution shape without coupling the gate queries semantically:
# each call still returns the same deterministic frame, it just doesn't
# recompute the expensive pair graph when the process already holds it.
# connected_components already localCheckpoints its labels, so the build
# does not pin them again.
def _cc_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the edge list IS the family's shared verified-pair artifact
    # (queries/artifacts.py) — the same frame dedup_ngram_jaccard returns
    # and dedup_incremental_screen slices, so on a warm session the CC pass
    # starts straight at label propagation
    from .artifacts import _memo, jaccard_pairs_075

    return _memo(
        "cc_labels",
        spark,
        sf_dir,
        lambda _pin: connected_components(
            jaccard_pairs_075(spark, sf_dir), src="doc_a", dst="doc_b"
        ),
    )


@register("dedup_cluster_cc", oracle=_CC_ORACLE)
def dedup_cluster_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive dedup clusters: connected components over the exact
    word-3-gram Jaccard >= 0.75 pair graph; cluster id = min doc_id in the
    component (the canonical survivor a keep-one pass would retain).

    The pair generation is the PPJoin prefix filter (guaranteed recall, no
    crossJoin — same path as dedup_ngram_jaccard); the collapse is
    distributed min-label propagation (operators/graph.py), one
    join+groupBy shuffle per round, rounds bounded by component diameter.
    The oracle computes the same closure with a recursive CTE — viable only
    at oracle scale, which is exactly the point of the distributed form.
    The label frame is memoized per (application, sf_dir) — see
    ``_cc_labels`` — because ``dedup_cluster_keep_best`` consumes the same
    artifact.
    """
    comp = _cc_labels(spark, sf_dir)
    return comp.select(
        F.col("id").alias("doc_id"), F.col("component").alias("cluster_id")
    )


# ---------------------------------------------------------------------------
# sample_stratified_hash
# ---------------------------------------------------------------------------

# per-language keep-rate in percent: downsample the dominant language,
# keep the rest — the standard training-mix rebalance.
_STRATA_RATES = {"en": 20, "de": 60, "es": 60, "fr": 60, "zh": 60}

_SAMPLE_ORACLE = f"""
SELECT doc_id, lang, source,
       CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100
         AS hash_bucket
FROM documents
WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100
      < CASE lang {' '.join(f"WHEN '{k}' THEN {v}" for k, v in _STRATA_RATES.items())}
             ELSE 50 END
"""


@register("sample_stratified_hash", oracle=_SAMPLE_ORACLE)
def sample_stratified_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: keep a doc iff
    ``md5_long(doc_id) % 100 < rate(lang)`` — 20% of the dominant language,
    60% of the rest.

    Hash-bucket sampling (not ``df.sample``) is the production form: the
    keep decision is a pure per-row function of the id, so it is
    reproducible across runs/engines/partitionings, stable under re-runs of
    an incremental pipeline (a doc's fate never changes), and
    oracle-checkable. Map-side only — no shuffle, no RNG state.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    bucket = F.pmod(md5_long(F.col("doc_id").cast("string")), F.lit(100))
    rate = F.coalesce(
        *[F.when(F.col("lang") == k, F.lit(v)) for k, v in _STRATA_RATES.items()],
        F.lit(50),
    )
    return docs.withColumn("hash_bucket", bucket).where(F.col("hash_bucket") < rate)


# ---------------------------------------------------------------------------
# pack_sequences
# ---------------------------------------------------------------------------

_PACK_BUDGET = 2048  # tokens per training sequence bin
_PACK_SHARDS = 32

_PACK_ORACLE = f"""
WITH t AS (
  SELECT doc_id,
         doc_id % {_PACK_SHARDS} AS shard,
         len(string_split(text, ' ')) AS n_tokens
  FROM documents
)
SELECT doc_id, shard, n_tokens,
       CAST(floor(
         CAST(coalesce(sum(n_tokens) OVER (
            PARTITION BY shard ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS DOUBLE)
         / {_PACK_BUDGET}) AS BIGINT) AS bin_id
FROM t
"""


@register("pack_sequences", oracle=_PACK_ORACLE)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign each document to a fixed-token-budget bin
    (``bin_id``) by running-sum chunking within a shard — the deterministic,
    shuffle-light form of training-sequence packing (first-fit over a global
    order is inherently sequential; per-shard running sums parallelize).

    One shuffle on the shard key; the window's running sum is a single sort
    within each shard partition. Shard count is the packing parallelism —
    at 100 TB you raise it, and bins stay within a shard so downstream
    concatenation reads one partition per bin.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    t = docs.select(
        "doc_id",
        (F.col("doc_id") % _PACK_SHARDS).alias("shard"),
        F.size(F.split("text", " ")).alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return t.withColumn(
        "bin_id", F.floor(cum_before.cast("double") / _PACK_BUDGET).cast("long")
    )


# ---------------------------------------------------------------------------
# text_pii_scrub
# ---------------------------------------------------------------------------

# RE2-compatible patterns (no backrefs/lookarounds) so Spark's Java regex and
# DuckDB's RE2 match identically.
_EMAIL_RE = "[a-z0-9]+@[a-z0-9]+\\.[a-z]+"
_PHONE_RE = "555-[0-9]{4}"

_PII_ORACLE = f"""
WITH injected AS (
  SELECT doc_id,
         'contact user' || CAST(doc_id AS VARCHAR) || '@example.com ' || text ||
         ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text
  FROM documents
)
SELECT doc_id,
       regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                      '{_PHONE_RE}', '<PHONE>', 'g') AS clean_text,
       CAST(len(regexp_extract_all(text, '{_EMAIL_RE}'))
          + len(regexp_extract_all(text, '{_PHONE_RE}')) AS BIGINT) AS n_pii
FROM injected
"""


@register("text_pii_scrub", oracle=_PII_ORACLE)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction with an observable drop metric: replace emails and
    phone-shaped strings with placeholder tokens and count the replacements
    per document (the audit number a compliance pipeline must emit).

    The corpus is synthetic and contains no PII, so a deterministic email +
    phone is injected per doc — identically in the oracle — to make the
    scrub observable. Pure per-row regex (map-side, no shuffle); patterns
    are RE2-compatible so both engines agree.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    injected = F.concat(
        F.lit("contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com "),
        F.col("text"),
        F.lit(" call 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    t = docs.select("doc_id", injected.alias("text"))
    clean = F.regexp_replace(
        F.regexp_replace(F.col("text"), _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
    )
    n_pii = (
        F.regexp_count(F.col("text"), F.lit(_EMAIL_RE))
        + F.regexp_count(F.col("text"), F.lit(_PHONE_RE))
    ).cast("long")
    return t.select("doc_id", clean.alias("clean_text"), n_pii.alias("n_pii"))


# ---------------------------------------------------------------------------
# text_repeated_ngrams
# ---------------------------------------------------------------------------

_REP_ORACLE = """
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words
  FROM documents
  WHERE len(string_split(text, ' ')) >= 3
),
g AS (
  SELECT doc_id,
         [array_to_string(words[i:i+2], ' ')
          FOR i IN range(1, len(words) - 1)] AS grams
  FROM w
)
SELECT doc_id,
       CAST(len(grams) AS BIGINT) AS n_grams,
       round(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams), 6)
         AS dup_gram_frac,
       (1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams)) > 0.2
         AS flagged_repetitive
FROM g
"""


@register("text_repeated_ngrams", oracle=_REP_ORACLE)
def text_repeated_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality gate (Gopher-style): the fraction of word-3-grams
    that are duplicates of an earlier 3-gram in the same document; docs over
    0.2 get flagged. Single per-row pass over the token array — map-side,
    no shuffle, the cheapest of the quality filters and usually the first
    gate a crawl shard hits.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    w = F.split(F.col("text"), " ")
    t = docs.where(F.size(w) >= 3).select(
        "doc_id",
        F.transform(
            F.sequence(F.lit(0), F.size(w) - 3),
            lambda i: F.concat_ws(" ", F.slice(w, i + 1, 3)),
        ).alias("grams"),
    )
    n = F.size("grams")
    dup_frac = F.lit(1.0) - F.size(F.array_distinct("grams")).cast("double") / n
    return t.select(
        "doc_id",
        n.cast("long").alias("n_grams"),
        F.round(dup_frac, 6).alias("dup_gram_frac"),
        (dup_frac > 0.2).alias("flagged_repetitive"),
    )


# ---------------------------------------------------------------------------
# sample_cap_per_source
# ---------------------------------------------------------------------------

_CAP_K = 5

_CAP_ORACLE = f"""
SELECT doc_id, source,
       CAST(row_number() OVER (
         PARTITION BY source
         ORDER BY CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT),
                  doc_id
       ) AS BIGINT) AS rk
FROM documents
QUALIFY rk <= {_CAP_K}
"""


@register("sample_cap_per_source", oracle=_CAP_ORACLE)
def sample_cap_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap: keep at most K docs per source, chosen by
    deterministic hash order — the mix-capping pass that stops one crawl
    domain from dominating the training set, with the same
    reproducible-by-construction property as ``sample_stratified_hash``
    (hash order, not arrival order or RNG).

    One shuffle on ``source``; the per-group top-K is a rank window, and a
    skewed giant source is AQE skew territory (or pre-aggregation by
    (source, hash-bucket) at extreme skew).
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    w = Window.partitionBy("source").orderBy(
        md5_long(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        docs.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= _CAP_K)
    )


# ---------------------------------------------------------------------------
# vector_quantize_int8
# ---------------------------------------------------------------------------

# floor(x + 0.5) on both sides: Spark round() and DuckDB round() differ in
# half-rounding mode on doubles, floor is identical everywhere.
_QUANT_ORACLE = """
WITH s AS (
  SELECT vec_id,
         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0
           AS scale
  FROM embeddings
),
q AS (
  SELECT e.vec_id, s.scale,
         list_transform(e.embedding,
           x -> floor(CAST(x AS DOUBLE) / s.scale + 0.5) * s.scale) AS deq
  FROM embeddings e JOIN s ON e.vec_id = s.vec_id
)
SELECT q.vec_id,
       round(q.scale, 9) AS scale,
       round(list_max(list_transform(list_zip(q.deq, e.embedding),
             p -> abs(p[1] - CAST(p[2] AS DOUBLE)))), 9) AS max_abs_err
FROM q JOIN embeddings e ON e.vec_id = q.vec_id
"""


@register("vector_quantize_int8", oracle=_QUANT_ORACLE)
def vector_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization QA: per-vector scale = max|x|/127, then
    the round-trip (quantize → dequantize) error per vector — the check an
    embedding-storage pipeline runs before committing to int8 (4x smaller
    + SIMD-friendly ANN) for its corpus.

    Per-row expression only (two folds over the vector), no shuffle.
    ``floor(x/scale + 0.5)`` is the rounding on both engines — engine
    ``round()`` half-modes differ, floor does not.
    """
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    absd = F.transform("embedding", lambda x: F.abs(x.cast("double")))
    # internal name distinct from the output alias: an output column aliased
    # "scale" in the same select would capture the reference inside deq and
    # quantize against the *rounded* scale
    t = e.withColumn("_scale", F.array_max(absd) / F.lit(127.0))
    deq = F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") / F.col("_scale") + F.lit(0.5))
        * F.col("_scale"),
    )
    err = F.zip_with(deq, F.col("embedding"), lambda d, x: F.abs(d - x.cast("double")))
    return t.select(
        "vec_id",
        F.round("_scale", 9).alias("scale"),
        F.round(F.array_max(err), 9).alias("max_abs_err"),
    )


# ---------------------------------------------------------------------------
# doc_shard_assign — deterministic output sharding for balanced 100 TB writes
# ---------------------------------------------------------------------------

_SHARD_ORACLE = """
SELECT CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 64 AS shard,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       count(DISTINCT lang) AS n_langs
FROM documents
GROUP BY 1
"""


@register("doc_shard_assign", oracle=_SHARD_ORACLE)
def doc_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic consistent-hash shard assignment (md5(doc_id) % 64) with
    per-shard balance stats — the step that decides output file layout for a
    100 TB write. Content-independent hashing keeps shards balanced
    regardless of key skew, and the same md5-prefix trick used by
    ``sample_stratified_hash`` makes the assignment engine-portable (the
    oracle reproduces it bit-for-bit). Map-side bucket compute + partial
    agg to 64 groups; at scale the same expression feeds
    ``df.repartition(64, shard)`` for the actual write.
    """
    docs = load_table(spark, sf_dir, "documents")
    shard = F.pmod(md5_long(F.col("doc_id").cast("string")), F.lit(64))
    return docs.groupBy(shard.alias("shard")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.countDistinct("lang").alias("n_langs"),
    )


# ---------------------------------------------------------------------------
# sample_mixture_weighted — epoch-weighted dataset mixing
# ---------------------------------------------------------------------------

# Target epochs per source, in integer percent (250 = 2.5 epochs). The
# training-mix step after per-stratum rebalancing: high-quality sources are
# *up*sampled (repeated whole epochs + a deterministic fractional epoch),
# low-quality ones kept at a fraction. Integer percent avoids float weight
# arithmetic entirely — the keep/repeat decision is exact in both engines.
_MIX_EPOCHS_PCT = {"src0": 250, "src1": 250, "src2": 150, "src3": 150,
                   "src16": 25, "src17": 25, "src18": 25, "src19": 25}
_MIX_DEFAULT_PCT = 100

_MIX_CASE = " ".join(f"WHEN '{k}' THEN {v}" for k, v in _MIX_EPOCHS_PCT.items())

_MIX_ORACLE = f"""
WITH t AS (
  SELECT doc_id, source,
         CASE source {_MIX_CASE} ELSE {_MIX_DEFAULT_PCT} END AS epochs_pct,
         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':mix'), 1, 15) AS BIGINT) % 100
           AS bucket
  FROM documents
),
c AS (
  SELECT doc_id, source,
         epochs_pct // 100 + CASE WHEN bucket < epochs_pct % 100 THEN 1 ELSE 0 END
           AS n_copies
  FROM t
)
SELECT doc_id, source, n_copies, CAST(unnest(range(1, n_copies + 1)) AS BIGINT) AS copy_id
FROM c
WHERE n_copies > 0
"""


@register("sample_mixture_weighted", oracle=_MIX_ORACLE)
def sample_mixture_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-weighted dataset mixture: each source gets a target epoch count
    (2.5 → every doc appears twice, plus a deterministic 50% gets a third
    copy; 0.25 → a deterministic 25% appears once). The fractional epoch is
    decided by ``md5(doc_id || ':mix') % 100`` — salted so a doc's mixture
    fate is independent of its stratified-sampling fate, reproducible
    across runs/engines/partitionings, and stable under incremental reruns.

    Scale: entirely map-side — a per-row case expression, one hash, and an
    ``explode(sequence(...))`` fan-out; no shuffle, no RNG state, and the
    output is the materialized training mix a sequence-packing pass
    consumes next. Upsampling by repetition (not by weighted loss) is the
    common pretraining-mix mechanic this implements verbatim.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    epochs_pct = F.coalesce(
        *[F.when(F.col("source") == k, F.lit(v)) for k, v in _MIX_EPOCHS_PCT.items()],
        F.lit(_MIX_DEFAULT_PCT),
    )
    bucket = F.pmod(
        md5_long(F.concat(F.col("doc_id").cast("string"), F.lit(":mix"))), F.lit(100)
    )
    n_copies = (epochs_pct / F.lit(100)).cast("long") + (
        bucket < epochs_pct % 100
    ).cast("long")
    return (
        docs.withColumn("n_copies", n_copies)
        .where(F.col("n_copies") > 0)
        .withColumn("copy_id", F.explode(F.sequence(F.lit(1).cast("long"), "n_copies")))
    )


# ---------------------------------------------------------------------------
# dedup_cluster_keep_best — canonical-survivor selection per dedup cluster
# ---------------------------------------------------------------------------

_KEEP_BEST_ORACLE = f"""
WITH RECURSIVE {_CC_CTES},
q AS (
  SELECT c.cluster_id, c.doc_id, d.n_chars,
         row_number() OVER (PARTITION BY c.cluster_id
                            ORDER BY d.n_chars DESC, c.doc_id) AS rn
  FROM cc c JOIN documents d ON d.doc_id = c.doc_id
)
SELECT cluster_id,
       count(*) AS n_members,
       max(CASE WHEN rn = 1 THEN doc_id END)  AS keep_doc_id,
       max(CASE WHEN rn = 1 THEN n_chars END) AS keep_n_chars
FROM q GROUP BY cluster_id
"""


@register("dedup_cluster_keep_best", oracle=_KEEP_BEST_ORACLE)
def dedup_cluster_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end product of the dedup pipeline: per near-dup cluster, the one
    document to KEEP — highest quality proxy (``n_chars``), ties to the
    smallest doc_id — plus the member count the drop pass will remove.
    Same pair graph + connected components as ``dedup_cluster_cc`` — the
    shared label artifact comes from the ``_cc_labels`` memo, so within one
    process the similarity join + label propagation run ONCE for both
    outputs (the pipeline execution shape); the selection is
    ``operators.graph.keep_best_survivors`` over that label frame.

    Scale: the cluster-label frame is tiny relative to the corpus (only
    docs with a near-dup), so it is the BROADCAST side; the full-corpus
    quality projection streams through a map-side hash join, and the argmax
    window partitions by cluster_id — key cardinality = number of clusters,
    no skew (near-dup components are shallow and small by construction).
    """
    comp = _cc_labels(spark, sf_dir)
    quality = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return keep_best_survivors(comp, quality).withColumnRenamed(
        "keep_quality", "keep_n_chars"
    )


# ---------------------------------------------------------------------------
# sample_weighted_reservoir — Efraimidis-Spirakis weighted k-sample
# ---------------------------------------------------------------------------

_WRS_K = 200
_TWO_60 = 1 << 60


@register(
    "sample_weighted_reservoir",
    oracle=f"""
WITH keyed AS (
  SELECT doc_id, source, n_chars,
         ln((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':wrs'), 1, 15)
              AS BIGINT) + 1) / {_TWO_60}.0) / n_chars AS es_key
  FROM documents WHERE n_chars > 0
)
SELECT doc_id, source, n_chars, round(es_key * 1000000, 6) AS key_micro
FROM keyed
ORDER BY es_key DESC, doc_id
LIMIT {_WRS_K}
""",
)
def sample_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis-Spirakis): each doc
    draws key ``ln(u)/w`` with weight ``w = n_chars`` (token-budget
    proportional) and uniform ``u`` derived from the salted doc-id hash —
    the top-k keys ARE a weighted sample without replacement. Hash-as-
    uniform makes the draw reproducible across runs, engines, and
    partitionings — the property that lets a sampling decision be audited
    months later, which ``rand()`` forfeits.

    Scale: the key is one per-row expression; top-k plans as
    TakeOrderedAndProject (per-partition heads + one k-row merge — no
    global sort, no shuffle of the corpus). This is the one-pass
    distributed form of weighted reservoir sampling; the same key feeds a
    per-stratum variant via a row_number window over the stratum.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    u = (md5_long(F.concat(F.col("doc_id").cast("string"), F.lit(":wrs"))) + 1) / F.lit(
        float(_TWO_60)
    )
    es_key = F.log(u) / F.col("n_chars")
    return (
        docs.where(F.col("n_chars") > 0)
        .withColumn("es_key", es_key)
        .orderBy(F.desc("es_key"), F.asc("doc_id"))
        .limit(_WRS_K)
        .select(
            "doc_id",
            "source",
            "n_chars",
            F.round(F.col("es_key") * 1_000_000, 6).alias("key_micro"),
        )
    )


# ---------------------------------------------------------------------------
# doc_chunk_overlap
# ---------------------------------------------------------------------------

# Overlapping-window chunking — the pretraining/RAG ingestion step that
# turns documents into bounded-length training/retrieval units. 128-token
# chunks on a 96-token stride (32-token overlap keeps boundary context in
# both neighbors). Purely map-side: explode over a per-row start sequence.

_CHUNK = 128
_STRIDE = 96

_CHUNK_ORACLE = f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words
  FROM documents
),
starts AS (
  SELECT doc_id, words, unnest(range(1, len(words) + 1, {_STRIDE})) AS s
  FROM w
)
SELECT doc_id,
       CAST((s - 1) // {_STRIDE} AS BIGINT)      AS chunk_idx,
       CAST(s AS BIGINT)                          AS start_pos,
       CAST(len(words[s:s+{_CHUNK - 1}]) AS BIGINT) AS n_tokens,
       CAST('0x' || substr(md5(array_to_string(words[s:s+{_CHUNK - 1}], ' ')), 1, 15)
            AS BIGINT)                            AS chunk_hash
FROM starts
"""


@register("doc_chunk_overlap", oracle=_CHUNK_ORACLE)
def doc_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk every document into 128-token windows on a 96-token stride
    (32-token overlap), emitting position, length, and a content hash per
    chunk — the unit-of-work table a RAG index or sequence-packing stage
    consumes.

    Scale: zero shuffle — the start grid is a per-row ``sequence`` +
    ``explode`` and every output column derives from the row's own token
    array (JVM slice/hash). Output size is input tokens ÷ stride, a fixed
    ~1.33× token overhead from the overlap; at 100 TB the chunk table
    writes straight to a sharded layout (``doc_shard_assign``) with no
    intermediate aggregation.
    """
    from ..operators.textsim import md5_long

    w = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("words")
    )
    chunk = F.slice(F.col("words"), F.col("s"), F.lit(_CHUNK))
    return (
        w.select(
            "doc_id",
            "words",
            F.explode(
                F.sequence(F.lit(1), F.size("words"), F.lit(_STRIDE))
            ).alias("s"),
        )
        .select(
            "doc_id",
            ((F.col("s") - 1) / _STRIDE).cast("long").alias("chunk_idx"),
            F.col("s").cast("long").alias("start_pos"),
            F.size(chunk).cast("long").alias("n_tokens"),
            md5_long(F.concat_ws(" ", chunk)).alias("chunk_hash"),
        )
    )


# ---------------------------------------------------------------------------
# split_leakage_safe
# ---------------------------------------------------------------------------

# Leakage-safe train/test split: a naive hash split leaks evaluation data
# whenever a train document shares verbatim text with a test document
# (boilerplate, excerpts, mirrors). The split here is the deterministic
# md5 bucket (≈10% test), and every train doc sharing ANY 15-word span
# with any test doc is flagged — the corpus-internal form of the
# benchmark-contamination screen, using the span-fingerprint machinery.

_SPLIT_W = 15

_SPLIT_ORACLE = f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words,
         CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) % 10 = 0 AS is_test
  FROM documents
  WHERE len(string_split(text, ' ')) >= {_SPLIT_W}
),
sp AS (
  SELECT DISTINCT doc_id, is_test,
         CAST('0x' || substr(md5(array_to_string(words[i:i+{_SPLIT_W - 1}], ' ')), 1, 15)
              AS BIGINT) AS h
  FROM (SELECT doc_id, is_test, words,
               unnest(range(1, len(words) - {_SPLIT_W - 2})) AS i FROM w)
),
test_spans AS (SELECT DISTINCT h FROM sp WHERE is_test),
leaks AS (
  SELECT s.doc_id, count(*) AS n_shared
  FROM sp s JOIN test_spans t ON t.h = s.h
  WHERE NOT s.is_test
  GROUP BY s.doc_id
)
SELECT w.doc_id,
       CASE WHEN w.is_test THEN 'test' ELSE 'train' END AS split,
       COALESCE(l.n_shared, 0) AS n_shared_spans,
       (NOT w.is_test) AND COALESCE(l.n_shared, 0) > 0 AS leaked
FROM w LEFT JOIN leaks l ON l.doc_id = w.doc_id
"""


@register("split_leakage_safe", oracle=_SPLIT_ORACLE)
def split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% hash test split with span-level leakage audit:
    every train document sharing a 15-word span with any test document is
    flagged ``leaked`` (exclude or re-assign before training). Test docs
    are never flagged — the rule quarantines the train side only.

    Scale: span fingerprints are per-row JVM hashing (8-byte md5_long
    keys); the test-side span set is NOT assumed broadcastable (a 10%
    split of 100 TB is 10 TB) — the leak check is a plain distinct +
    equi-join on the span hash, the same cross-set shape as
    ``dedup_incremental_screen``. One groupBy per leaked doc finishes.
    """
    from ..operators.textsim import md5_long

    w = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text", F.split("text", " ").alias("words"))
        .where(F.size("words") >= _SPLIT_W)
        .select(
            "doc_id",
            "words",
            (md5_long(F.col("text")) % 10 == 0).alias("is_test"),
        )
        .localCheckpoint(eager=True)  # feeds spans AND the final projection
    )
    spans = w.select(
        "doc_id",
        "is_test",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size("words") - F.lit(_SPLIT_W - 1)),
                    lambda i: md5_long(
                        F.concat_ws(" ", F.slice(F.col("words"), i, F.lit(_SPLIT_W)))
                    ),
                )
            )
        ).alias("h"),
    )
    test_spans = spans.where(F.col("is_test")).select("h").distinct()
    leaks = (
        spans.where(~F.col("is_test"))
        .join(test_spans, "h")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        w.select("doc_id", "is_test")
        .join(leaks, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("is_test"), F.lit("test")).otherwise(F.lit("train")).alias("split"),
            F.coalesce("n_shared", F.lit(0)).cast("long").alias("n_shared_spans"),
            (~F.col("is_test") & (F.coalesce("n_shared", F.lit(0)) > 0)).alias("leaked"),
        )
    )


# ---------------------------------------------------------------------------
# pipeline_curation_summary
# ---------------------------------------------------------------------------

# The whole curation FUNNEL in one declarative plan: quality-classify →
# drop rejects → collapse exact duplicates → count training chunks — the
# per-source yield report a data-pipeline team reads daily. Each stage
# reuses the exact semantics of its standalone query (the classifier's
# model table, dedup_exact's md5 collapse, doc_chunk_overlap's stride
# arithmetic), demonstrating that the registered operators COMPOSE into
# one Catalyst plan rather than materializing between stages.

_CURATION_ORACLE = """
WITH all_docs AS (
  SELECT doc_id, source, lang, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, source, lang, text
  FROM documents WHERE doc_id % 10 = 0
),
model(lang, bias, w_tokens, w_stop, w_digit, threshold) AS (
  VALUES ('en', 100000, 900, 8000, -2500, 173000),
         ('zh', 200000, 1100, 2000, -2000, 265000),
         ('es', 120000, 950, 7000, -2500, 195000),
         ('de', 120000, 950, 6500, -2500, 190000),
         ('*', 80000, 800, 5000, -3000, 146000)
),
scored AS (
  SELECT d.doc_id, d.source, d.text,
         CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
         (m.bias
          + m.w_tokens * len(string_split(d.text, ' '))
          + m.w_stop * len(list_filter(string_split(d.text, ' '),
                                       t -> list_contains(['the','a','and','of','to','in','is','for'], t)))
          + m.w_digit * length(regexp_replace(d.text, '[^0-9]', '', 'g'))
         ) >= m.threshold AS keep
  FROM all_docs d
  JOIN model m ON m.lang = CASE WHEN d.lang IN ('en','zh','es','de')
                                THEN d.lang ELSE '*' END
),
kept AS (SELECT * FROM scored WHERE keep),
canon AS (
  SELECT min(doc_id) AS doc_id FROM kept GROUP BY md5(text)
),
surv AS (SELECT k.source, k.n_tokens FROM kept k JOIN canon c ON c.doc_id = k.doc_id)
SELECT s.source,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN sc.keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       COALESCE(sv.n_canonical, 0) AS n_canonical,
       COALESCE(sv.n_chunks, 0)    AS n_chunks
FROM (SELECT DISTINCT source FROM all_docs) s
JOIN scored sc ON sc.source = s.source
LEFT JOIN (
  SELECT source, count(*) AS n_canonical,
         CAST(sum((n_tokens - 1) // 96 + 1) AS BIGINT) AS n_chunks
  FROM surv GROUP BY source
) sv ON sv.source = s.source
GROUP BY s.source, sv.n_canonical, sv.n_chunks
"""


@register("pipeline_curation_summary", oracle=_CURATION_ORACLE)
def pipeline_curation_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source curation-funnel yield: documents in → quality-kept →
    exact-dedup canonical survivors → 128/96-stride training chunks, as
    ONE composed plan (the standalone queries' semantics, fused).

    Scale: the classifier stage is per-row + a broadcast model join (zero
    shuffle); the dedup collapse is one md5 groupBy; chunk counts are
    closed-form arithmetic on the token count — the funnel never explodes
    chunks to count them. One corpus scan feeds everything; Catalyst
    pipelines the stages instead of materializing intermediates, which is
    the point of declaring curation stages as DataFrame transforms rather
    than scripted passes over files."""
    from .pipeline_queries import _QC_MODEL, _QC_STOPS

    base = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang", "text"
    )
    # dedup_exact's injection: every 10th doc re-keyed — byte-identical
    # duplicates so the collapse stage of the funnel is observable
    docs = base.unionByName(
        base.where(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "source", "lang", "text"
        )
    )
    words = F.split("text", " ")
    stops = F.array(*[F.lit(s) for s in _QC_STOPS])
    model = spark.createDataFrame(
        _QC_MODEL, ["m_lang", "bias", "w_tokens", "w_stop", "w_digit", "threshold"]
    )
    known = [l for l, *_ in _QC_MODEL if l != "*"]
    score = (
        F.col("bias")
        + F.col("w_tokens") * F.size(words)
        + F.col("w_stop") * F.size(F.filter(words, lambda t: F.array_contains(stops, t)))
        + F.col("w_digit") * F.length(F.regexp_replace("text", "[^0-9]", ""))
    )
    scored = (
        docs.withColumn(
            "m_key",
            F.when(F.col("lang").isin(known), F.col("lang")).otherwise(F.lit("*")),
        )
        .join(F.broadcast(model), F.col("m_key") == F.col("m_lang"))
        .select(
            "doc_id",
            "source",
            "text",
            F.size(words).cast("long").alias("n_tokens"),
            (score >= F.col("threshold")).alias("keep"),
        )
        .localCheckpoint(eager=True)  # feeds totals AND the survivor chain
    )
    kept = scored.where("keep")
    canon = kept.groupBy(F.md5("text").alias("h")).agg(F.min("doc_id").alias("doc_id"))
    surv = kept.join(canon.select("doc_id"), "doc_id").select("source", "n_tokens")
    surv_stats = surv.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_canonical"),
        F.sum(F.expr("(n_tokens - 1) div 96 + 1")).alias("n_chunks"),
    )
    totals = scored.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("long").alias("n_kept"),
    )
    return totals.join(surv_stats, "source", "left").select(
        "source",
        "n_docs",
        "n_kept",
        F.coalesce("n_canonical", F.lit(0)).cast("long").alias("n_canonical"),
        F.coalesce("n_chunks", F.lit(0)).cast("long").alias("n_chunks"),
    )


# ---------------------------------------------------------------------------
# sort_global_rank — scalable total order + sorted batch assignment
# ---------------------------------------------------------------------------

_BATCH_SIZE = 64

_GLOBAL_RANK_ORACLE = f"""
SELECT doc_id,
       n_chars,
       CAST(row_number() OVER (ORDER BY n_chars, doc_id) AS BIGINT)
         AS global_rank,
       CAST((row_number() OVER (ORDER BY n_chars, doc_id) - 1)
            // {_BATCH_SIZE} AS BIGINT) AS batch_id
FROM documents
"""


@register("sort_global_rank", oracle=_GLOBAL_RANK_ORACLE)
def sort_global_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide exact rank by document length + sorted-batch assignment
    (length-bucketed batching — the standard trick that minimizes padding
    waste when batching variable-length sequences for training).

    The POINT is the plan shape: a bare ``row_number() OVER (ORDER BY ...)``
    — what the oracle SQL says — would plan a single-partition exchange
    (one task sorts the corpus: the guaranteed 100 TB failure). This query
    computes the IDENTICAL answer with :func:`operators.ordering.global_rank`:
    range repartition -> per-partition local ranks -> P-long offset
    literal. ``tests/test_plans.py`` pins that no single-partition sort
    exchange appears; the oracle pins that the distributed rank equals the
    naive total order bit-for-bit.
    """
    from ..operators.ordering import global_rank

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    ranked = global_rank(docs, [F.col("n_chars"), F.col("doc_id")])
    return ranked.withColumn(
        "batch_id", F.expr(f"CAST((global_rank - 1) DIV {_BATCH_SIZE} AS BIGINT)")
    )


# ---------------------------------------------------------------------------
# Privacy QA: k-anonymity profile over quasi-identifiers
# ---------------------------------------------------------------------------

_K_ANON = 5


@register(
    "privacy_k_anonymity",
    oracle=f"""
SELECT lang AS qi_lang,
       source AS qi_source,
       CAST(CAST(n_chars AS BIGINT) // 100 AS BIGINT) AS qi_len_bucket,
       CAST(count(*) AS BIGINT) AS group_size,
       count(*) < {_K_ANON} AS at_risk
FROM documents
GROUP BY lang, source, CAST(n_chars AS BIGINT) // 100
""",
)
def privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity profile: how many documents share each quasi-identifier
    combination (language, source, length bucket), and which combinations
    fall below k=5 — the release-safety audit run before publishing a
    training corpus or its metadata (a doc whose QI combo has <k peers is
    re-identifiable from metadata alone; Sweeney's k-anonymity criterion).

    Scale: ONE groupBy on the QI tuple with map-side partial counts — the
    output is QI-space-sized, not corpus-sized, and the flagged subset is
    what a suppression/generalization pass consumes. 100 TB cost = one scan
    + one bounded shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(
            F.col("lang").alias("qi_lang"),
            F.col("source").alias("qi_source"),
            F.expr("CAST(CAST(n_chars AS BIGINT) DIV 100 AS BIGINT)").alias(
                "qi_len_bucket"
            ),
        )
        .agg(F.count(F.lit(1)).alias("group_size"))
        .withColumn("at_risk", F.col("group_size") < _K_ANON)
    )


# ---------------------------------------------------------------------------
# Privacy QA: l-diversity over the same release QIs
# ---------------------------------------------------------------------------

_L_DIVERSE = 2


@register(
    "privacy_l_diversity",
    oracle=f"""
SELECT source AS qi_source,
       CAST(CAST(n_chars AS BIGINT) // 200 AS BIGINT) AS qi_len_bucket,
       CAST(count(*) AS BIGINT) AS group_size,
       CAST(count(DISTINCT lang) AS BIGINT) AS l_distinct,
       count(DISTINCT lang) < {_L_DIVERSE} AS at_risk
FROM documents
GROUP BY source, CAST(n_chars AS BIGINT) // 200
""",
)
def privacy_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-l-diversity audit (Machanavajjhala et al. 2007) — the check
    k-anonymity famously misses: a quasi-identifier group can have k peers
    and STILL leak the sensitive attribute if every peer shares the same
    value (the homogeneity attack). Here the release QIs are (source,
    length bucket) and the sensitive attribute is ``lang``: a group where
    all documents share one language tells an attacker the language of any
    member from metadata alone. Flags groups with fewer than l=2 distinct
    sensitive values; the suppression pass consumes the flagged set next to
    ``privacy_k_anonymity``'s.

    Scale: one groupBy on the QI tuple; the distinct-count is a two-phase
    (QI, lang) partial distinct then QI rollup — both map-side-combining
    hash aggregates, output QI-space-sized, the corpus read once."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(
            F.col("source").alias("qi_source"),
            F.expr("CAST(CAST(n_chars AS BIGINT) DIV 200 AS BIGINT)").alias(
                "qi_len_bucket"
            ),
        )
        .agg(
            F.count(F.lit(1)).alias("group_size"),
            F.countDistinct("lang").cast("long").alias("l_distinct"),
        )
        .withColumn("at_risk", F.col("l_distinct") < _L_DIVERSE)
    )


# ---------------------------------------------------------------------------
# Corpus-level source-similarity matrix (shingle -> source-bitmask rollup)
# ---------------------------------------------------------------------------


@register(
    "corpus_source_similarity",
    oracle="""
WITH w AS (
  SELECT doc_id, source, string_split(text, ' ') AS words
  FROM documents
  WHERE len(string_split(text, ' ')) >= 3
),
ss AS (
  SELECT DISTINCT
         CAST('0x' || substr(md5(array_to_string(words[i:i+2], ' ')), 1, 15)
              AS BIGINT) AS shingle,
         source
  FROM (SELECT doc_id, source, words,
               unnest(range(1, len(words) - 1)) AS i FROM w)
),
src AS (
  SELECT source, CAST(row_number() OVER (ORDER BY source) - 1 AS BIGINT) AS idx
  FROM (SELECT DISTINCT source FROM documents)
),
m AS (
  SELECT shingle, bit_or(CAST(1 AS BIGINT) << idx) AS mask
  FROM ss JOIN src USING (source)
  GROUP BY shingle
),
masks AS (SELECT mask, CAST(count(*) AS BIGINT) AS c FROM m GROUP BY mask),
pairs AS (
  SELECT a.source AS source_a, b.source AS source_b,
         (CAST(1 AS BIGINT) << a.idx) | (CAST(1 AS BIGINT) << b.idx) AS bits
  FROM src a JOIN src b ON a.idx < b.idx
)
SELECT source_a, source_b,
       CAST(sum(CASE WHEN (mask & bits) = bits THEN c ELSE 0 END) AS BIGINT)
         AS inter_shingles,
       CAST(sum(CASE WHEN (mask & bits) <> 0 THEN c ELSE 0 END) AS BIGINT)
         AS union_shingles,
       CAST((CAST(sum(CASE WHEN (mask & bits) = bits THEN c ELSE 0 END) AS BIGINT)
             * 1000000)
            // CAST(sum(CASE WHEN (mask & bits) <> 0 THEN c ELSE 0 END) AS BIGINT)
         AS BIGINT) AS jaccard_ppm
FROM pairs, masks
GROUP BY source_a, source_b
HAVING sum(CASE WHEN (mask & bits) <> 0 THEN c ELSE 0 END) > 0
""",
)
def corpus_source_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise shingle-Jaccard between SOURCES (not documents) — the
    corpus-composition audit that finds mirrored/overlapping crawl sources
    before they skew the training mix (two sources with high Jaccard are
    the same content counted twice).

    Plan shape — the whole matrix WITHOUT any doc-level pair join: distinct
    (shingle, source) rows aggregate per shingle into a SOURCE BITMASK
    (``bit_or(1 << idx)``, one shuffle on the shingle key), the bitmask
    table collapses to ≤2^|sources| counted rows, and every source pair's
    intersection/union is a popcount-style conditional sum over that tiny
    table fanned out via a literal pair array (no join at all after the
    shingle rollup — pairs × masks never touches doc data). Exact integer
    shingle counts; similarity as integer ppm. Holds to 63 sources (a
    signed-long mask: bit 63 is the sign bit, so index 63 would overflow);
    past that the rollup becomes a (shingle, source-pair) co-occurrence
    count with the same one-shuffle skeleton.

    The source-index map is a ≤63-row collect — bounded model state, like
    the kMeans centroids. Implementation:
    :func:`..operators.textsim.source_similarity_matrix` (property-tested
    against a pure-Python set model in ``tests/test_properties.py``)."""
    from ..operators.textsim import source_similarity_matrix

    docs = load_table(spark, sf_dir, "documents")
    return source_similarity_matrix(rebalance(docs.select("source", "text")), k=3)


# ---------------------------------------------------------------------------
# corpus_training_order — seeded deterministic shuffle for epoch ordering
# ---------------------------------------------------------------------------

_TRAINING_ORDER_ORACLE = """
WITH h AS (
  SELECT doc_id,
         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 8
           AS shard,
         CAST('0x' || substr(md5('epoch-17:' || CAST(doc_id AS VARCHAR)), 1, 15)
           AS BIGINT) AS order_key
  FROM documents)
SELECT shard,
       CAST(row_number() OVER (PARTITION BY shard
                               ORDER BY order_key, doc_id) AS BIGINT) AS pos,
       doc_id
FROM h
"""


@register("corpus_training_order", oracle=_TRAINING_ORDER_ORACLE)
def corpus_training_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded deterministic training-order shuffle: the global permutation a
    training run needs to be REPRODUCIBLE — re-running the pipeline (on
    either engine, at any partitioning) yields byte-identical epoch order.
    Each doc hashes to a shard (content-independent md5, balanced under any
    key skew — same mechanism as ``doc_shard_assign``) and to a seeded
    order key (``md5('epoch-17:' || doc_id)``: change the epoch seed and
    the whole permutation re-rolls, with zero RNG state to checkpoint);
    position is the rank within the shard under (order_key, doc_id) — a
    total order, so ties cannot reorder between engines.

    Scale: ONE hash-partition shuffle on the shard key + a per-shard sort —
    and the sort is per-shard, never global: shard count is the
    parallelism knob, exactly the layout ``repartition(n, shard)`` +
    ``sortWithinPartitions`` writes. Readers stream shards sequentially;
    a new epoch is a new seed literal, not a new materialization of the
    corpus."""
    from ..operators.textsim import md5_long

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    h = docs.select(
        "doc_id",
        F.pmod(md5_long(F.col("doc_id").cast("string")), F.lit(8)).alias("shard"),
        md5_long(F.concat(F.lit("epoch-17:"), F.col("doc_id").cast("string"))).alias(
            "order_key"
        ),
    )
    w = Window.partitionBy("shard").orderBy("order_key", "doc_id")
    return h.select(
        "shard", F.row_number().over(w).cast("long").alias("pos"), "doc_id"
    )


# ---------------------------------------------------------------------------
# pipeline_decision_log — per-document curation provenance (audit trail)
# ---------------------------------------------------------------------------

_DECISION_LOG_ORACLE = """
WITH docs AS (
  SELECT doc_id, source, lang, n_chars, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, source, lang, n_chars, text
  FROM documents WHERE doc_id % 10 = 0),
survivors AS (
  SELECT doc_id, md5(text) AS h FROM docs
  WHERE lang <> 'zh' AND n_chars >= 100),
canon AS (SELECT h, min(doc_id) AS keeper FROM survivors GROUP BY h)
SELECT d.doc_id, d.source,
       CASE WHEN d.lang = 'zh' THEN 'dropped:lang_not_supported'
            WHEN d.n_chars < 100 THEN 'dropped:too_short'
            WHEN d.doc_id <> c.keeper THEN 'dropped:exact_dup'
            ELSE 'kept' END AS decision
FROM docs d LEFT JOIN canon c ON md5(d.text) = c.h
"""


@register("pipeline_decision_log", oracle=_DECISION_LOG_ORACLE)
def pipeline_decision_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document curation provenance: every document's fate through the
    funnel as an auditable (doc_id, first-rejecting-stage) log — the
    "why was doc X dropped?" artifact `pipeline_curation_summary`'s
    source-grain yields cannot answer. Stage priority is the pipeline
    order (language gate → length gate → exact dedup), and the dedup
    keeper is elected among FILTER SURVIVORS only — a duplicate whose
    canonical copy was itself filtered out must survive, exactly as a
    staged pipeline behaves (dedup runs after filtering). The
    exact-dedup injection (every 10th doc re-keyed) makes the dup stage
    observable on data with no natural byte-duplicates.

    Scale: one corpus scan; the only shuffle is the md5 keeper groupBy
    (16-byte keys, skew-free); decisions are a CASE over a left join back
    on the digest — the log materializes per doc, which IS the product
    (write it partitioned by decision for the audit query pattern)."""
    base = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang", "n_chars", "text"
    )
    docs = base.unionByName(
        base.where(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            "source",
            "lang",
            "n_chars",
            "text",
        )
    ).withColumn("h", F.md5("text"))
    survivors = docs.where((F.col("lang") != "zh") & (F.col("n_chars") >= 100))
    canon = survivors.groupBy("h").agg(F.min("doc_id").alias("keeper"))
    return (
        docs.join(canon, "h", "left")
        .select(
            "doc_id",
            "source",
            F.when(F.col("lang") == "zh", F.lit("dropped:lang_not_supported"))
            .when(F.col("n_chars") < 100, F.lit("dropped:too_short"))
            .when(F.col("doc_id") != F.col("keeper"), F.lit("dropped:exact_dup"))
            .otherwise(F.lit("kept"))
            .alias("decision"),
        )
    )


# ---------------------------------------------------------------------------
# sample_temperature_mixture — temperature-scaled source sampling weights
# ---------------------------------------------------------------------------

# alpha = 0.5 (square-root temperature) and a 100k-doc sampling budget: the
# standard multilingual/multi-source rebalancing (small sources upsampled
# toward parity, huge sources downweighted) computed FROM the measured
# source sizes rather than a hand-written weight table — the complement of
# sample_mixture_weighted's fixed epoch plan. sqrt is IEEE-correctly-rounded
# in both engines; quantizing each per-source sqrt to integer milli-units
# BEFORE summing makes the totals and every ratio order-free integer math.
_TEMP_BUDGET = 100_000

_TEMP_MIX_ORACLE = f"""
WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
s AS (
  SELECT source, n,
         CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1000) AS BIGINT) AS sq
  FROM c
),
t AS (SELECT CAST(sum(n) AS BIGINT) AS tn, CAST(sum(sq) AS BIGINT) AS tsq FROM s)
SELECT s.source,
       s.n AS n_docs,
       CAST(s.n * 1000000 // t.tn AS BIGINT) AS natural_ppm,
       CAST(s.sq * 1000000 // t.tsq AS BIGINT) AS temp_weight_ppm,
       CAST(s.sq * {_TEMP_BUDGET} // t.tsq AS BIGINT) AS planned_docs
FROM s, t
"""


@register("sample_temperature_mixture", oracle=_TEMP_MIX_ORACLE)
def sample_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture weights: per source, sampling probability
    proportional to n^alpha (alpha = 0.5) — the rebalancing rule
    multilingual-corpus pipelines use so dominant sources stop drowning the
    tail without flat-capping them. Emits the measured share
    (``natural_ppm``), the temperature weight (``temp_weight_ppm``), and
    the per-source allocation of a 100k-doc budget.

    Determinism: each source's sqrt(n) quantizes to integer milli-units
    FIRST; all totals and ratios are then integer sums/floor-divisions —
    order-free, so engine parity is exact (sqrt itself is correctly
    rounded IEEE in both engines).

    Scale: one map-side-partial count per source (the only shuffle), then
    a window over the ~|sources| rows — the output is bounded by the
    source vocabulary, not the corpus. The weights feed
    ``sample_mixture_weighted``-style epoch plans downstream."""
    docs = load_table(spark, sf_dir, "documents").select("source")
    per = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    sq = F.floor(F.sqrt(F.col("n_docs").cast("double")) * 1000).cast("long")
    w = Window.partitionBy()
    withs = per.withColumn("sq", sq).withColumn(
        "tn", F.sum("n_docs").over(w)
    ).withColumn("tsq", F.sum("sq").over(w))
    return withs.select(
        "source",
        "n_docs",
        F.expr("n_docs * 1000000L DIV tn").alias("natural_ppm"),
        F.expr("sq * 1000000L DIV tsq").alias("temp_weight_ppm"),
        F.expr(f"sq * {_TEMP_BUDGET}L DIV tsq").alias("planned_docs"),
    )


# ---------------------------------------------------------------------------
# corpus_quality_prune_curve — retention curve over a quality-score sweep
# ---------------------------------------------------------------------------

# Candidate cutoffs in integer-ppm type-token ratio. Choosing a quality
# threshold is a CURVE decision (docs and tokens retained per candidate
# cutoff), not a point decision — this query materializes that curve in one
# corpus pass so the cutoff is picked from data, not vibes.
_PRUNE_THRESHOLDS_PPM = [0, 200_000, 300_000, 400_000, 500_000, 600_000]

_PRUNE_ORACLE = f"""
WITH q AS (
  SELECT doc_id, n_chars,
         len(list_distinct(string_split(text, ' '))) * 1000000
           // len(string_split(text, ' ')) AS ttr_ppm
  FROM documents
)
SELECT t.thr AS threshold_ppm,
       CAST(count(*) FILTER (q.ttr_ppm >= t.thr) AS BIGINT) AS docs_kept,
       CAST(COALESCE(sum(n_chars) FILTER (q.ttr_ppm >= t.thr), 0) AS BIGINT)
         AS chars_kept,
       CAST(count(*) FILTER (q.ttr_ppm >= t.thr) * 1000000
            // (SELECT count(*) FROM q) AS BIGINT) AS kept_ppm
FROM q CROSS JOIN (SELECT unnest({_PRUNE_THRESHOLDS_PPM}) AS thr) t
GROUP BY t.thr
"""


@register("corpus_quality_prune_curve", oracle=_PRUNE_ORACLE)
def corpus_quality_prune_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-pruning retention curve: for each candidate type-token-ratio
    cutoff, how many documents and characters survive — the sweep a
    pipeline runs ONCE to pick its quality threshold before committing a
    100 TB filter pass. TTR quantizes to integer ppm per document
    (distinct-words × 1e6 DIV words), so the per-threshold counts are
    exact integers in both engines.

    Scale: ONE corpus scan — the per-doc score is a per-row JVM expression
    (no explode), the threshold sweep is a literal |T|-row fan-out
    (explode of a constant array, map-side), and the rollup is one
    |T|-key aggregation with map-side partials. The oracle states the same
    curve as a CROSS JOIN + FILTER aggregate."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars", "text")
    ttr_ppm = F.expr(
        "size(array_distinct(split(text, ' '))) * 1000000L DIV size(split(text, ' '))"
    )
    scored = docs.select("n_chars", ttr_ppm.alias("ttr_ppm"))
    thr = F.explode(
        F.array(*[F.lit(t).cast("long") for t in _PRUNE_THRESHOLDS_PPM])
    ).alias("threshold_ppm")
    fanned = scored.select("n_chars", "ttr_ppm", thr)
    kept = (F.col("ttr_ppm") >= F.col("threshold_ppm")).cast("long")
    curve = fanned.groupBy("threshold_ppm").agg(
        F.sum(kept).alias("docs_kept"),
        F.sum(kept * F.col("n_chars")).alias("chars_kept"),
        F.count(F.lit(1)).alias("_n_total"),
    )
    return curve.select(
        "threshold_ppm",
        "docs_kept",
        "chars_kept",
        F.expr("docs_kept * 1000000L DIV _n_total").alias("kept_ppm"),
    )


# ---------------------------------------------------------------------------
# sample_importance_dsir — hashed-n-gram importance resampling (round 7)
# ---------------------------------------------------------------------------

_DSIR_BUCKETS = 256
_DSIR_TOPK = 25

_DSIR_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, lang,
         unnest(string_split(lower(text), ' ')) AS w
  FROM documents
),
b AS (
  SELECT doc_id, lang,
         CAST('0x' || substr(md5(w), 1, 15) AS BIGINT) % {_DSIR_BUCKETS} AS bkt
  FROM tok
),
r AS (SELECT bkt, count(*) AS rc FROM b GROUP BY bkt),
t AS (SELECT bkt, count(*) AS tc FROM b WHERE lang = 'en' GROUP BY bkt),
w AS (
  SELECT r.bkt, r.rc + 1 AS rc1, COALESCE(t.tc, 0) + 1 AS tc1
  FROM r LEFT JOIN t USING (bkt)
),
tot AS (SELECT CAST(sum(rc1) AS BIGINT) AS rt, CAST(sum(tc1) AS BIGINT) AS tt FROM w),
lw AS (
  SELECT bkt,
         CAST(floor(ln(CAST(tc1 * rt AS DOUBLE) / (rc1 * tt)) * 1000 + 0.5)
              AS BIGINT) AS lr_milli
  FROM w, tot
)
SELECT b.doc_id,
       b.lang,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(lw.lr_milli) AS BIGINT) AS score_milli
FROM b JOIN lw USING (bkt)
GROUP BY b.doc_id, b.lang
ORDER BY score_milli DESC, b.doc_id
LIMIT {_DSIR_TOPK}
"""


@register("sample_importance_dsir", oracle=_DSIR_ORACLE)
def sample_importance_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR, Xie et al. 2023):
    score every document by how much its hashed-unigram distribution looks
    like a target slice (here the English sub-corpus standing in for "the
    distribution we want more of"), and keep the top scorers. Token
    features hash into 256 buckets (``md5_long % B`` — the one
    hash both engines compute identically); each bucket's target/raw
    log-likelihood ratio is Laplace-smoothed and milli-quantized BEFORE
    the per-document sum, so every score is an order-free integer sum.

    Scale: this is the selection method that works at 100 TB precisely
    because the "model" is a 256-row table — two token-grain
    aggregations build it, then it BROADCASTS back onto the token stream
    (Catalyst sees a tiny build side) and one doc-grain aggregation
    scores the corpus; top-k is TakeOrderedAndProject, never a global
    sort. No per-document Python, no vocabulary-sized state."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    tok = docs.select(
        "doc_id",
        "lang",
        F.explode(F.split(F.lower("text"), " ")).alias("w"),
    )
    b = tok.select(
        "doc_id",
        "lang",
        F.pmod(md5_long(F.col("w")), F.lit(_DSIR_BUCKETS)).alias("bkt"),
    )
    r = b.groupBy("bkt").agg(F.count(F.lit(1)).alias("rc"))
    t = b.where(F.col("lang") == "en").groupBy("bkt").agg(
        F.count(F.lit(1)).alias("tc")
    )
    w = (
        r.join(t, "bkt", "left")
        .fillna(0, subset=["tc"])
        .select("bkt", (F.col("rc") + 1).alias("rc1"), (F.col("tc") + 1).alias("tc1"))
    )
    win = Window.partitionBy()  # bucket-table frame — bounded at B rows
    w = w.withColumn("rt", F.sum("rc1").over(win)).withColumn(
        "tt", F.sum("tc1").over(win)
    )
    # ln-quantization boundary risk, accepted (canonical note — the PSI /
    # Zipf / perplexity queries carry the same pattern): unlike sqrt, ln is
    # not IEEE-754 correctly-rounded, so Spark's Math.log and DuckDB's libm
    # log may disagree by 1 ulp; a disagreement landing EXACTLY on a
    # floor(x*Q + 0.5) boundary would flip the integer and fail the hash
    # compare. Precedent: text_lm_logprob has used this quantization since
    # r5 with zero flips across seven rounds of driver sweeps at three
    # scale factors. If one of these queries ever fails a sweep by exactly
    # one quantum, suspect this boundary before suspecting the plan.
    lw = w.select(
        "bkt",
        F.floor(
            F.log(
                (F.col("tc1") * F.col("rt")).cast("double")
                / (F.col("rc1") * F.col("tt"))
            )
            * 1000
            + F.lit(0.5)
        )
        .cast("long")
        .alias("lr_milli"),
    )
    scored = (
        b.join(F.broadcast(lw), "bkt")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("lr_milli").alias("score_milli"),
        )
    )
    return scored.orderBy(F.desc("score_milli"), "doc_id").limit(_DSIR_TOPK).select(
        "doc_id", "lang", "n_tokens", "score_milli"
    )


# ---------------------------------------------------------------------------
# corpus_token_budget_plan — per-source epoch plan for a token budget (X148)
# ---------------------------------------------------------------------------

# Training budget as a multiple of the corpus: 4x forces the planner into
# the interesting regime where upweighted sources need MULTIPLE epochs.
# The repeat cap flags sources the plan would cycle more than 4 times —
# past the point where repeated data stops substituting for fresh data
# (the data-constrained-scaling rule of thumb), i.e. the sources whose
# allocation should be renegotiated or backfilled with new collection.
_BUDGET_MULT = 4
_EPOCH_CAP_PPM = 4_000_000

# The plan math downstream of the per-source aggregate ``c`` — shared by
# the whitespace-count planner and the BPE tokenizer-grade planner so the
# two oracles can never drift apart.
_BUDGET_PLAN_TAIL = f"""s AS (
  SELECT source, n_docs, n_tokens,
         CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000) AS BIGINT) AS sq
  FROM c
),
t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tt, CAST(sum(sq) AS BIGINT) AS tsq FROM s),
w AS (
  SELECT s.source, s.n_docs, s.n_tokens,
         CAST(s.sq * 1000000 // t.tsq AS BIGINT) AS w_ppm,
         CAST(t.tt * {_BUDGET_MULT} AS BIGINT) AS budget
  FROM s, t
),
p AS (
  SELECT *, CAST(w_ppm * (budget // 1000000)
                 + (w_ppm * (budget % 1000000)) // 1000000 AS BIGINT) AS planned
  FROM w
),
e AS (
  SELECT *, planned // n_tokens AS eq,
            ((planned % n_tokens) * 1000) // n_tokens AS et1,
            ((((planned % n_tokens) * 1000) % n_tokens) * 1000) // n_tokens AS et2
  FROM p
)
SELECT source, n_docs, n_tokens,
       w_ppm AS temp_weight_ppm,
       planned AS planned_tokens,
       CAST(eq * 1000000 + et1 * 1000 + et2 AS BIGINT) AS epochs_ppm,
       eq * 1000000 + et1 * 1000 + et2 > {_EPOCH_CAP_PPM} AS over_repeat_cap
FROM e
"""

_TOKEN_BUDGET_ORACLE = f"""
WITH c AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
{_BUDGET_PLAN_TAIL}"""


@register("corpus_token_budget_plan", oracle=_TOKEN_BUDGET_ORACLE)
def corpus_token_budget_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-budget plan: allocate a training budget of
    4x the corpus's total tokens across sources by temperature-scaled
    token mass (alpha = 0.5 — the multilingual rebalancing rule,
    here over TOKENS rather than docs), and report what each source's
    allocation means in EPOCHS of that source: ``epochs_ppm`` is the
    number a pipeline actually schedules by, and ``over_repeat_cap``
    flags sources the plan would cycle more than 4 times — past the
    data-constrained-scaling point where repetition stops substituting
    for fresh data, i.e. exactly the sources whose share should be
    renegotiated before training. Completes the planning chain:
    ``sample_temperature_mixture`` chooses weights,
    ``sample_mixture_weighted`` samples docs for a fixed epoch table,
    this query turns weights into the epochs table itself.

    Determinism: per-source token counts are integer sums; each source's
    sqrt quantizes to integer milli-units BEFORE any total; every ratio
    after that is integer floor-division (the established
    quantize-before-aggregate discipline), so engine parity is exact.
    All products are quotient/remainder-decomposed so no intermediate
    exceeds int64 for corpora to ~9.2e15 tokens per source — the naive
    sq*(tt*4) form would overflow silently at ~5e10 tokens, well under
    the 100 TB scale this plans for (see the inline derivation below).

    Scale: ONE map-side-combining aggregate over the corpus (count +
    token-sum per source — the only shuffle, |sources| keys), then a
    window over the bounded source vocabulary. The plan table is
    |sources| rows regardless of corpus size — this is a metadata query
    at 100 TB, its cost is the one scan."""
    docs = load_table(spark, sf_dir, "documents").select(
        "source", F.size(F.split("text", " ")).alias("toks")
    )
    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("toks").cast("long").alias("n_tokens"),
    )
    return _budget_plan_math(per)


def _budget_plan_math(per: DataFrame) -> DataFrame:
    """The plan math over a (source, n_docs, n_tokens) aggregate — the
    engine twin of ``_BUDGET_PLAN_TAIL``, shared by the whitespace and BPE
    planners."""
    sq = F.floor(F.sqrt(F.col("n_tokens").cast("double")) * 1000).cast("long")
    w = Window.partitionBy()
    withs = (
        per.withColumn("sq", sq)
        .withColumn("tt", F.sum("n_tokens").over(w))
        .withColumn("tsq", F.sum("sq").over(w))
        # Overflow-safe int64 plan math (round-10 ADVICE): the naive
        # sq*(tt*4) product overflows BIGINT silently around a ~5e10-token
        # corpus — far below the 100 TB (~2.5e13 tokens) this query claims
        # to plan for. So quantize the temperature weight to ppm FIRST,
        # then apply it to the budget by exact quotient/remainder
        # decomposition: floor(w*B/1e6) = w*(B div 1e6) + (w*(B mod 1e6))
        # div 1e6 — every intermediate stays under 2^63 for budgets up to
        # ~9.2e18 tokens. epochs_ppm uses the same split twice (planned
        # div/mod n_tokens, then the *1e6 applied as *1e3 twice), exact
        # for any per-source n_tokens up to ~9.2e15.
        .withColumn("w_ppm", F.expr("sq * 1000000L DIV tsq"))
        .withColumn("budget", F.expr(f"tt * {_BUDGET_MULT}L"))
        .withColumn(
            "planned",
            F.expr(
                "w_ppm * (budget DIV 1000000L)"
                " + (w_ppm * (budget % 1000000L)) DIV 1000000L"
            ),
        )
        .withColumn("eq", F.expr("planned DIV n_tokens"))
        .withColumn("et1", F.expr("((planned % n_tokens) * 1000L) DIV n_tokens"))
        .withColumn(
            "et2",
            F.expr(
                "((((planned % n_tokens) * 1000L) % n_tokens) * 1000L)"
                " DIV n_tokens"
            ),
        )
    )
    return withs.select(
        "source",
        "n_docs",
        "n_tokens",
        F.col("w_ppm").alias("temp_weight_ppm"),
        F.col("planned").alias("planned_tokens"),
        F.expr("eq * 1000000L + et1 * 1000L + et2").alias("epochs_ppm"),
        F.expr(
            f"eq * 1000000L + et1 * 1000L + et2 > {_EPOCH_CAP_PPM}"
        ).alias("over_repeat_cap"),
    )


# ---------------------------------------------------------------------------
# corpus_token_budget_plan_bpe / corpus_pack_sequences_bpe — tokenizer-grade
# counts under the corpus-trained BPE merge table (round 10)
# ---------------------------------------------------------------------------

from ..operators.bpe import bpe_oracle_with, bpe_oracle_word_tokens  # noqa: E402

_BPE_DOC_WORDS = """
dw AS (
  SELECT doc_id, source, w FROM (
    SELECT doc_id, source, unnest(string_split(text, ' ')) AS w FROM documents
  ) WHERE w <> ''
)"""

_TOKEN_BUDGET_BPE_ORACLE = f"""WITH {bpe_oracle_with()},
{bpe_oracle_word_tokens()},
{_BPE_DOC_WORDS},
nd AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY source
),
tk AS (
  SELECT source, CAST(sum(wt.n_toks) AS BIGINT) AS n_tokens
  FROM dw JOIN wt ON dw.w = wt.word GROUP BY source
),
c AS (
  SELECT nd.source, nd.n_docs, tk.n_tokens
  FROM nd JOIN tk ON nd.source = tk.source
),
{_BUDGET_PLAN_TAIL}"""


@register("corpus_token_budget_plan_bpe", oracle=_TOKEN_BUDGET_BPE_ORACLE)
def corpus_token_budget_plan_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``corpus_token_budget_plan`` on TOKENIZER tokens: the same
    temperature-scaled epoch plan, but each source's ``n_tokens`` is its
    real BPE token mass under the corpus-trained merge table
    (``text_bpe_train``) instead of a whitespace count — the upgrade from
    estimate-grade to schedule-grade budgeting the round-9 verdict asked
    for. The plan math itself is byte-identical to the whitespace planner
    (shared ``_budget_plan_math`` / ``_BUDGET_PLAN_TAIL``), so the two
    queries differ ONLY in what "a token" means. ``n_docs`` counts ALL of
    a source's documents straight off the documents table — the base
    planner's semantics (round-10 ADVICE: the old count-distinct over
    non-empty words silently dropped empty/whitespace-only docs, making
    the two planners' n_docs disagree on the same corpus); a source whose
    EVERY document is empty has no token mass and no defined epoch plan,
    so it is excluded on both engines (inner join).

    Scale: the added cost over the base planner is one broadcast join of
    the exploded corpus against the vocabulary token map (word -> n_toks,
    an artifact) feeding the same map-side-combining per-source aggregate,
    plus the base planner's own |sources|-row doc-count aggregate joined
    back broadcast. Still one corpus-sized shuffle (|sources| keys); still
    a metadata query at 100 TB."""
    from ..operators.bpe import corpus_words
    from .artifacts import bpe_word_tokens

    d = corpus_words(spark, sf_dir, "doc_id", "source")
    wt = bpe_word_tokens(spark, sf_dir)
    nd = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    tk = (
        d.join(F.broadcast(wt), d.w == wt.word)
        .groupBy("source")
        .agg(F.sum("n_toks").cast("long").alias("n_tokens"))
    )
    per = tk.join(F.broadcast(nd), "source").select("source", "n_docs", "n_tokens")
    return _budget_plan_math(per)


_PACK_BPE_ORACLE = f"""WITH {bpe_oracle_with()},
{bpe_oracle_word_tokens()},
{_BPE_DOC_WORDS},
t AS (
  SELECT doc_id, doc_id % {_PACK_SHARDS} AS shard,
         CAST(sum(wt.n_toks) AS BIGINT) AS n_tokens
  FROM dw JOIN wt ON dw.w = wt.word GROUP BY doc_id
)
SELECT doc_id, shard, n_tokens,
       CAST(floor(
         CAST(coalesce(sum(n_tokens) OVER (
            PARTITION BY shard ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS DOUBLE)
         / {_PACK_BUDGET}) AS BIGINT) AS bin_id
FROM t"""


@register("corpus_pack_sequences_bpe", oracle=_PACK_BPE_ORACLE)
def corpus_pack_sequences_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``pack_sequences`` on TOKENIZER tokens: fixed-budget bin assignment
    by per-shard running sum, where the running sum accumulates real BPE
    token counts — a 2048-token training bin now actually holds ~2048
    tokenizer tokens, not ~2048 words (a ~2.3x packing error at this
    corpus's chars-per-token, which is exactly the error that overflows
    sequence buffers in a real pretrain run).

    Same shuffle shape as the whitespace packer (one exchange on the shard
    key + per-shard window sort); the per-doc BPE counts ride the
    vocabulary broadcast join. bin boundaries divide by 2^11 so the
    floor-of-double is exact."""
    from ..operators.bpe import corpus_words
    from .artifacts import bpe_word_tokens

    d = corpus_words(spark, sf_dir, "doc_id")
    wt = bpe_word_tokens(spark, sf_dir)
    t = (
        d.join(F.broadcast(wt), d.w == wt.word)
        .groupBy("doc_id")
        .agg(F.sum("n_toks").cast("long").alias("n_tokens"))
        .select(
            "doc_id",
            (F.col("doc_id") % _PACK_SHARDS).alias("shard"),
            "n_tokens",
        )
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return t.withColumn(
        "bin_id", F.floor(cum_before.cast("double") / _PACK_BUDGET).cast("long")
    )


_CHUNK_BPE = 128  # BPE tokens per chunk budget

_CHUNK_BPE_ORACLE = f"""WITH {{bpe}},
{{wt}},
dwp AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w,
         generate_subscripts(string_split(text, ' '), 1) AS pos
  FROM documents
),
d AS (SELECT doc_id, w, pos FROM dwp WHERE w <> ''),
r AS (
  SELECT d.doc_id, d.pos, wt.n_toks,
         coalesce(sum(wt.n_toks) OVER (
           PARTITION BY d.doc_id ORDER BY d.pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM d JOIN wt ON d.w = wt.word
)
SELECT doc_id,
       CAST(cum_before // {_CHUNK_BPE} AS BIGINT) AS chunk_idx,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(n_toks) AS BIGINT) AS n_bpe_tokens
FROM r GROUP BY doc_id, cum_before // {_CHUNK_BPE}"""


@register(
    "doc_chunk_bpe_budget",
    oracle=_CHUNK_BPE_ORACLE.format(
        bpe=bpe_oracle_with(), wt=bpe_oracle_word_tokens()
    ),
)
def doc_chunk_bpe_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-budget chunking: split each document into consecutive
    chunks of ~128 REAL BPE tokens (word-atomic — a word never splits, so
    a chunk may overrun by at most its last word's tokens, the standard
    boundary-snapping rule), emitting per-chunk word and token counts.
    With `corpus_token_budget_plan_bpe` (budget) and
    `corpus_pack_sequences_bpe` (pack) this completes the re-expression of
    the whole budget/pack/chunk chain on tokenizer tokens; the word-window
    chunker (`doc_chunk_overlap`, X88) remains the retrieval-overlap
    flavor.

    Scale: posexplode + the vocabulary broadcast join (no shuffle), then
    ONE exchange on doc_id for the per-doc running sum — the chunk
    boundary is a pure function of the running count, so the window sort
    is the only non-map stage. Chunk ids are integer floor-division of
    integer sums: exact on both engines."""
    from .artifacts import bpe_word_tokens

    d = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.posexplode(F.split("text", " ")).alias("pos0", "w"),
        )
        .where(F.col("w") != "")
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "w")
    )
    wt = bpe_word_tokens(spark, sf_dir)
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    r = d.join(F.broadcast(wt), d.w == wt.word).withColumn(
        "cum_before", F.coalesce(F.sum("n_toks").over(w), F.lit(0))
    )
    return (
        r.withColumn(
            "chunk_idx", F.expr(f"cum_before DIV {_CHUNK_BPE}").cast("long")
        )
        .groupBy("doc_id", "chunk_idx")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_toks").cast("long").alias("n_bpe_tokens"),
        )
    )


def _ppm_ratio_sql(num: str, den: str, div: str = "//") -> str:
    """``floor(num * 1e6 / den)`` by exact quotient/remainder decomposition
    — the same identity ``_budget_plan_math`` uses for ``epochs_ppm``:
    ``q*1e6 + floor(r*1e3/den)*1e3 + floor((r*1e3 % den)*1e3/den)`` where
    ``num = q*den + r``. The naive ``num * 1000000`` wraps int64 silently
    past ~9.2e12 (under 10 TB of text per source — inside the 100 TB
    envelope); here every intermediate stays below ``den * 1000``, exact to
    ~9.2e15 per source on both engines. ``div`` is the engine's integer
    division spelling (``//`` DuckDB, ``DIV`` Spark); all operators are
    same-precedence multiplicative, left-associative in both."""
    return (
        f"CAST({num} {div} {den} * 1000000"
        f" + ({num} % {den}) * 1000 {div} {den} * 1000"
        f" + (({num} % {den}) * 1000 % {den}) * 1000 {div} {den} AS BIGINT)"
    )


_FERTILITY_ORACLE = f"""WITH {{bpe}},
{{wt}},
{_BPE_DOC_WORDS},
j AS (SELECT dw.source, dw.w, wt.n_toks FROM dw JOIN wt ON dw.w = wt.word),
a AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_words,
         CAST(sum(n_toks) AS BIGINT) AS n_bpe_tokens,
         CAST(sum(length(w)) AS BIGINT) AS n_chars
  FROM j GROUP BY source
)
SELECT source, n_words, n_bpe_tokens,
       {_ppm_ratio_sql("n_bpe_tokens", "n_words")} AS fertility_ppm,
       {_ppm_ratio_sql("n_chars", "n_bpe_tokens")} AS chars_per_token_ppm
FROM a"""


@register(
    "text_bpe_fertility",
    oracle=_FERTILITY_ORACLE.format(
        bpe=bpe_oracle_with(), wt=bpe_oracle_word_tokens()
    ),
)
def text_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility by source: BPE tokens per word (ppm) and chars
    per token (ppm) — the standard tokenizer-vs-domain mismatch signal (a
    source whose fertility is far above the corpus norm is paying more
    sequence length per content; it also invalidates the chars/4 estimate
    X9 carries). Reads as a quality gate over the X149 tokenizer itself:
    retrain or re-cap decisions key off exactly this table.

    Scale: the vocabulary broadcast join + ONE map-side-combining
    per-source aggregate (|sources| keys) — same metadata-query shape as
    the budget planner; integer sums only, and both ppm ratios use the
    quotient/remainder decomposition (``_ppm_ratio_sql``) so no
    intermediate exceeds int64 for sources to ~9.2e15 tokens — the naive
    ``sum*1e6`` products this round replaced wrapped silently past ~9 TB
    of text per source (round-10 ADVICE)."""
    from ..operators.bpe import corpus_words
    from .artifacts import bpe_word_tokens

    d = corpus_words(spark, sf_dir, "source")
    wt = bpe_word_tokens(spark, sf_dir)
    agg = (
        d.join(F.broadcast(wt), d.w == wt.word)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_toks").cast("long").alias("n_bpe_tokens"),
            F.sum(F.length("w")).cast("long").alias("n_chars"),
        )
    )
    return agg.select(
        "source",
        "n_words",
        "n_bpe_tokens",
        F.expr(_ppm_ratio_sql("n_bpe_tokens", "n_words", "DIV")).alias(
            "fertility_ppm"
        ),
        F.expr(_ppm_ratio_sql("n_chars", "n_bpe_tokens", "DIV")).alias(
            "chars_per_token_ppm"
        ),
    )


_DOC_TOKENS_MAP_ORACLE = f"""WITH {{bpe}},
{{wt}},
{_BPE_DOC_WORDS},
dt AS (
  SELECT doc_id, CAST(sum(wt.n_toks) AS BIGINT) AS n
  FROM dw JOIN wt ON dw.w = wt.word GROUP BY doc_id
)
SELECT d.doc_id, CAST(coalesce(dt.n, 0) AS BIGINT) AS n_bpe_tokens
FROM documents d LEFT JOIN dt ON d.doc_id = dt.doc_id"""


@register(
    "text_bpe_doc_tokens",
    oracle=_DOC_TOKENS_MAP_ORACLE.format(
        bpe=bpe_oracle_with(), wt=bpe_oracle_word_tokens()
    ),
)
def text_bpe_doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document BPE token counts via the LARGE-VOCABULARY encode path:
    ``doc_bpe_token_counts_map`` runs ``encode_word`` per document inside
    ``mapInPandas`` (per-batch word memo, broadcast merge table) with NO
    distinct-vocabulary stage and NO join — the form that holds when the
    corpus's distinct-word table is itself too large to materialize as an
    artifact (web-scale text), where every other BPE-backed query's
    vocabulary-broadcast-join fast path stops applying. Every document
    appears exactly once; empty/whitespace-only documents count 0 (the
    oracle's left-join-coalesce).

    Scale: ZERO shuffles — a pure Arrow-batched map over the corpus's
    existing partitioning; executor memory is bounded by one batch's
    vocabulary (the memo resets per batch). The oracle replays training
    and sums the per-word token counts per document — so a driver-gate
    pass here proves the two encode forms (this map and the
    vocabulary-join) agree from two independent directions."""
    from ..operators.bpe import doc_bpe_token_counts_map
    from .artifacts import bpe_merges

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return doc_bpe_token_counts_map(
        docs, spark, list(bpe_merges(spark, sf_dir))
    )


_VOCAB_IDS_CTE = """tf AS (
  SELECT t AS token, CAST(sum(cnt) AS BIGINT) AS freq
  FROM (SELECT cnt, unnest(string_split(ts, chr(31))) AS t FROM s48)
  GROUP BY t
),
ids AS (
  SELECT token,
         CAST(row_number() OVER (ORDER BY freq DESC, token) - 1 AS BIGINT)
           AS token_id,
         freq
  FROM tf
)"""

_VOCAB_IDS_ORACLE = f"""WITH {{bpe}},
{_VOCAB_IDS_CTE}
SELECT token, token_id, freq FROM ids"""


def _bpe_vocab_ids_df(spark: SparkSession, lists: DataFrame) -> DataFrame:
    """(token, token_id, freq) over the FINAL tokenizer vocabulary: every
    token a replayed encoding can emit, ranked by corpus frequency (ties
    by token byte order), ids dense from 0. The vocabulary is bounded BY
    CONSTRUCTION — a replay token is either a base character or one of
    the <= N_MERGES merge products — so the id window runs over ~150
    rows of model state, not data."""
    tf = (
        lists.select(F.explode("toks").alias("token"), "cnt")
        .groupBy("token")
        .agg(F.sum("cnt").cast("long").alias("freq"))
    )
    w = Window.orderBy(F.desc("freq"), "token")
    return tf.select(
        "token",
        (F.row_number().over(w) - 1).cast("long").alias("token_id"),
        "freq",
    )


@register(
    "text_bpe_vocab_ids",
    oracle=_VOCAB_IDS_ORACLE.format(bpe=bpe_oracle_with()),
)
def text_bpe_vocab_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenizer's shippable vocabulary: every distinct token the
    corpus-trained BPE emits, with a deterministic dense id (corpus
    frequency desc, then token byte order — the standard
    frequency-ranked id assignment) and the frequency itself. This is
    the {token: id} table a training pipeline publishes next to the
    merge list; with `text_bpe_train` (merges) and
    `text_bpe_encode_corpus` (the encoded corpus) it completes the
    tokenizer artifact set.

    Scale: one map-side-combining word aggregate (doubles as the
    distinct-vocabulary stage), Arrow-batched encode once per distinct
    word, then a token-frequency aggregate whose key space is bounded BY
    CONSTRUCTION (every emitted token is a base character or one of the
    <= 48 merge products, so the final rank window orders ~150 rows of
    model state — never data). The oracle derives the same table from
    the replayed training state, so id assignment is verified end to
    end, not just token membership. The word->token-list table is a
    memoized tokenizer artifact (``bpe_word_token_lists``) charged to
    this query per the bench cost policy; the encode query rides it."""
    from .artifacts import bpe_word_token_lists

    return _bpe_vocab_ids_df(spark, bpe_word_token_lists(spark, sf_dir))


_ENCODE_CORPUS_ORACLE = f"""WITH {{bpe}},
{_VOCAB_IDS_CTE},
dwp AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w,
         generate_subscripts(string_split(text, ' '), 1) AS pos
  FROM documents
),
d AS (SELECT doc_id, w, pos FROM dwp WHERE w <> ''),
r AS (
  SELECT d.doc_id, d.pos, string_split(s.ts, chr(31)) AS tl
  FROM d JOIN s48 s ON d.w = s.word
),
o AS (
  SELECT doc_id, tl,
         CAST(coalesce(sum(len(tl)) OVER (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS off
  FROM r
),
e AS (
  SELECT doc_id, CAST(off + generate_subscripts(tl, 1) - 1 AS BIGINT) AS tok_idx,
         unnest(tl) AS t
  FROM o
)
SELECT e.doc_id, e.tok_idx, ids.token_id
FROM e JOIN ids ON e.t = ids.token"""


@register(
    "text_bpe_encode_corpus",
    oracle=_ENCODE_CORPUS_ORACLE.format(bpe=bpe_oracle_with()),
)
def text_bpe_encode_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE training-data deliverable: the whole corpus tokenized — one row
    per token, ``(doc_id, tok_idx, token_id)`` with ``tok_idx`` the
    token's position within its document and ``token_id`` from the
    frequency-ranked vocabulary (`text_bpe_vocab_ids`). Downstream this
    flat form is what packs into fixed-length training sequences
    (`corpus_pack_sequences_bpe` plans the bins; this table fills them).

    Scale: the corpus explodes to words once (posexplode — a map), joins
    the distinct-vocabulary token-list table by BROADCAST (the list table
    is |vocab| rows — an artifact-sized side), takes ONE doc_id exchange
    for the within-document running token offset (the same window shape
    as the chunker), then flattens each word's token array in place; the
    token->id map is ~150 rows of broadcast model state. Python cost is
    once per distinct word; the token-grain volume never moves through a
    shuffle — the offsets are computed at WORD grain and each token's
    index is offset + its position inside the word's array. Determinism:
    offsets are integer sums over a unique (doc_id, pos) order; id
    assignment is the oracle-verified dense ranking. Both uses of the
    word->token-list table (id derivation and the corpus join) read the
    ONE pinned ``bpe_word_token_lists`` artifact, so the word-aggregate
    stage runs once per corpus snapshot, not twice per query."""
    from .artifacts import bpe_word_token_lists

    lists = bpe_word_token_lists(spark, sf_dir)
    ids = _bpe_vocab_ids_df(spark, lists)

    d = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.posexplode(F.split("text", " ")).alias("pos0", "w"),
        )
        .where(F.col("w") != "")
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "w")
    )
    r = d.join(
        F.broadcast(lists.select("word", "toks")), d.w == F.col("word")
    ).select("doc_id", "pos", "toks")
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    o = r.withColumn(
        "off",
        F.coalesce(F.sum(F.size("toks")).over(w), F.lit(0)).cast("long"),
    )
    e = o.select(
        "doc_id", "off", F.posexplode("toks").alias("ipos", "t")
    ).select(
        "doc_id",
        (F.col("off") + F.col("ipos")).cast("long").alias("tok_idx"),
        "t",
    )
    return e.join(
        F.broadcast(ids.select("token", "token_id")), e.t == F.col("token")
    ).select("doc_id", "tok_idx", "token_id")


# ---------------------------------------------------------------------------
# text_boilerplate_scrub — CCNet/C4-style paragraph-frequency cleaning
# ---------------------------------------------------------------------------

# Paragraph grain: fixed 12-word chunks of each document (the corpus has no
# newline structure, so the paragraphizer is part of the contract — both
# engines chunk identically). A paragraph is boilerplate within its SOURCE
# when it appears in >= BOILER_DF_PERMILLE/1000 of that source's documents.
_PARA_WORDS = 12
BOILER_DF_PERMILLE = 500


def boilerplate_paras(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """THE paragraph construction (12-word chunks + the planted footer/rare
    injection + md5 digest), shared by the batch scrub and the streaming
    ingest screen so the paragraphizer can never drift between them — the
    explode_words discipline. ``docs`` must expose (id_col, source, text);
    the injection keys off ``id_col % 10`` / ``% 25`` (id shifts of 1e6
    preserve both residues, so a re-submitted doc reproduces its original's
    planted footer while its rare paragraph stays doc-unique)."""
    pw = _PARA_WORDS
    chunks = docs.select(
        id_col,
        "source",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, CAST((size(split(text, ' ')) - 1)"
                f" DIV {pw} AS INT)),"
                f" i -> array_join(slice(split(text, ' '), i * {pw} + 1, {pw}), ' '))"
            )
        ).alias("para_idx0", "para"),
    ).select(
        id_col,
        "source",
        F.col("para_idx0").cast("long").alias("para_idx"),
        "para",
    )
    nch = docs.select(
        id_col,
        "source",
        F.expr(f"CAST((size(split(text, ' ')) - 1) DIV {pw} + 1 AS BIGINT)").alias(
            "n"
        ),
    )
    footer = nch.where(f"{id_col} % 10 != 7").select(
        id_col,
        "source",
        F.col("n").alias("para_idx"),
        F.concat(
            F.lit("cookie consent banner for "),
            F.col("source"),
            F.lit(" all rights reserved"),
        ).alias("para"),
    )
    rare = nch.where(f"{id_col} % 25 = 3").select(
        id_col,
        "source",
        (F.col("n") + 1).alias("para_idx"),
        F.concat(
            F.lit("unique insight paragraph "), F.col(id_col).cast("string")
        ).alias("para"),
    )
    return (
        chunks.unionByName(footer)
        .unionByName(rare)
        .withColumn("ph", F.md5("para"))
    )


def boilerplate_paras_sql(rel: str, id_col: str = "doc_id") -> str:
    """The oracle twin of :func:`boilerplate_paras`: emits CTEs
    ``{rel}_base/{rel}_nch/{rel}_paras`` over relation ``rel`` (which must
    expose id_col, source, text). One generator feeds the batch scrub
    oracle and the streaming screen oracle."""
    pw = _PARA_WORDS
    return f"""{rel}_base AS (
  SELECT {id_col}, source, string_split(text, ' ') AS ws FROM {rel}
),
{rel}_nch AS (
  SELECT {id_col}, source,
         CAST((len(ws) - 1) // {pw} + 1 AS BIGINT) AS n FROM {rel}_base
),
{rel}_chunks AS (
  SELECT {id_col}, source, CAST(i AS BIGINT) AS para_idx,
         array_to_string(
           ws[CAST(i * {pw} + 1 AS BIGINT)
              :CAST((i + 1) * {pw} AS BIGINT)], ' ') AS para
  FROM {rel}_base,
       LATERAL unnest(generate_series(0, (len(ws) - 1) // {pw})) AS t(i)
),
{rel}_planted AS (
  SELECT n2.{id_col}, n2.source, n2.n AS para_idx,
         'cookie consent banner for ' || n2.source || ' all rights reserved'
           AS para
  FROM {rel}_nch n2 WHERE n2.{id_col} % 10 <> 7
  UNION ALL
  SELECT n3.{id_col}, n3.source, n3.n + 1 AS para_idx,
         'unique insight paragraph ' || CAST(n3.{id_col} AS VARCHAR) AS para
  FROM {rel}_nch n3 WHERE n3.{id_col} % 25 = 3
),
{rel}_paras AS (
  SELECT * FROM {rel}_chunks UNION ALL SELECT * FROM {rel}_planted
)"""

# Planted construction (the text_pii_scrub / dedup_exact discipline): the
# synthetic corpus has no natural boilerplate, so both engines inject — the
# per-source cookie-banner footer into ~90% of docs (doc_id % 10 != 7) and a
# doc-unique "rare" paragraph into docs with doc_id % 25 = 3 — making the
# scrub observable: the footer must drop, the rare paragraph must survive.
_BPS_ORACLE = f"""
WITH {boilerplate_paras_sql("documents")},
src_docs AS (
  SELECT source, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
  FROM documents GROUP BY source
),
freq AS (
  SELECT source, md5(para) AS ph,
         CAST(count(DISTINCT doc_id) AS BIGINT) AS df
  FROM documents_paras GROUP BY 1, 2
),
flagged AS (
  SELECT p.doc_id, p.source, p.para_idx, p.para,
         (f.df * 1000 >= {BOILER_DF_PERMILLE} * s.n_docs) AS boiler
  FROM documents_paras p
  JOIN freq f ON f.source = p.source AND f.ph = md5(p.para)
  JOIN src_docs s ON s.source = p.source
)
SELECT doc_id, source,
       CAST(count(*) AS BIGINT) AS n_paras,
       CAST(sum(CASE WHEN boiler THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       CAST(sum(CASE WHEN boiler THEN 0 ELSE 1 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN boiler THEN length(para) ELSE 0 END) AS BIGINT)
         AS dropped_chars,
       CAST(sum(CASE WHEN boiler THEN 0 ELSE length(para) END) AS BIGINT)
         AS kept_chars,
       md5(coalesce(string_agg(CASE WHEN NOT boiler THEN para END, chr(10)
                               ORDER BY para_idx), '')) AS scrubbed_md5,
       (doc_id % 10 <> 7) AS had_footer,
       bool_or(boiler AND para LIKE 'cookie consent banner%') AS footer_dropped,
       bool_or(NOT boiler AND para LIKE 'unique insight paragraph%')
         AS rare_kept
FROM flagged
GROUP BY doc_id, source
"""

@register("text_boilerplate_scrub", oracle=_BPS_ORACLE)
def text_boilerplate_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet/C4-style paragraph-frequency boilerplate scrub — the most-used
    web-crawl cleaning pass after dedup: paragraphs (12-word chunks; the
    paragraphizer is part of the contract) that occur in >= 50% of a
    source's documents are navigation/footer boilerplate and are dropped;
    everything else is kept IN ORDER. Per doc: paragraph counts, char
    totals, and an md5 of the scrubbed text (order-sensitive, so the
    reassembly itself is oracle-checked), plus observability flags for the
    planted construction — ``footer_dropped`` must equal ``had_footer`` and
    the doc-unique rare paragraph must always survive (pinned in tests).

    Determinism: chunk boundaries are pure integer arithmetic on the word
    array; the boilerplate flag is an exact integer cross-multiply
    (df*1000 >= permille*n_docs — no division); the scrubbed hash orders by
    the unique para_idx.

    Scale (the two-shuffle CCNet shape): paragraphize is a map-side
    projection + explode; document frequency is ONE map-side-combining
    aggregate keyed on (source, md5-digest) — 16-byte keys, never raw
    paragraph strings, on the wire; flagging is ONE co-partitioned
    equi-join back on the same key (both sides already hash-partition on
    it); the per-doc rollup shuffles by doc_id. The source-size table is
    |sources|-rows and broadcasts. Nothing is all-pairs, nothing collects.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    paras = boilerplate_paras(docs)
    src_docs = docs.groupBy("source").agg(
        F.countDistinct("doc_id").cast("long").alias("n_docs")
    )
    freq = paras.groupBy("source", "ph").agg(
        F.countDistinct("doc_id").cast("long").alias("df")
    )
    flagged = (
        paras.join(freq, ["source", "ph"])
        .join(F.broadcast(src_docs), "source")
        .withColumn(
            "boiler",
            F.col("df") * F.lit(1000) >= F.lit(BOILER_DF_PERMILLE) * F.col("n_docs"),
        )
    )
    kept_struct = F.when(~F.col("boiler"), F.struct("para_idx", "para"))
    return flagged.groupBy("doc_id", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_paras"),
        F.sum(F.when(F.col("boiler"), 1).otherwise(0)).cast("long").alias("n_dropped"),
        F.sum(F.when(F.col("boiler"), 0).otherwise(1)).cast("long").alias("n_kept"),
        F.sum(F.when(F.col("boiler"), F.length("para")).otherwise(0))
        .cast("long")
        .alias("dropped_chars"),
        F.sum(F.when(F.col("boiler"), 0).otherwise(F.length("para")))
        .cast("long")
        .alias("kept_chars"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda s: s["para"],
                ),
                "\n",
            )
        ).alias("scrubbed_md5"),
        F.max(F.expr("boiler AND para LIKE 'cookie consent banner%'")).alias(
            "footer_dropped"
        ),
        F.max(
            F.expr("NOT boiler AND para LIKE 'unique insight paragraph%'")
        ).alias("rare_kept"),
    ).select(
        "doc_id",
        "source",
        "n_paras",
        "n_dropped",
        "n_kept",
        "dropped_chars",
        "kept_chars",
        "scrubbed_md5",
        F.expr("doc_id % 10 != 7").alias("had_footer"),
        "footer_dropped",
        "rare_kept",
    )


# ---------------------------------------------------------------------------
# corpus_domain_profile — registered-domain-grain crawl curation
# ---------------------------------------------------------------------------

# Per-domain share cap for the mix recommendation: no registered domain may
# contribute more than 10% of the corpus (the C4/RefinedWeb-style guard
# against a single crawl-heavy site dominating the training mix).
DOMAIN_CAP_PERMILLE = 100

# Synthetic URL injection (the text_pii_scrub discipline — the corpus has no
# url column, so both engines derive one identically): sources map onto 7
# registered domains (source n -> site{n%7}.example.com) behind rotating
# subdomains (www./cdn./bare by doc_id % 3), so the registered-domain
# extraction — host parse, then one-label+public-suffix match that strips
# subdomains — is exercised, not assumed. ONE generator pair (Spark
# function + SQL-text generator, the boilerplate_paras discipline) feeds
# both domain-grain queries (profile + snapshot diff) and both oracles.


def domain_docs(docs: DataFrame) -> DataFrame:
    """Spark side of the shared registered-domain derivation: returns
    (doc_id, source, text, url, domain)."""
    url = F.concat(
        F.lit("https://"),
        F.expr(
            "CASE doc_id % 3 WHEN 0 THEN 'www.' WHEN 1 THEN 'cdn.' ELSE '' END"
        ),
        F.lit("site"),
        F.expr("CAST(CAST(substring(source, 4) AS INT) % 7 AS STRING)"),
        F.lit(".example.com/"),
        F.col("source"),
        F.lit("/"),
        F.col("doc_id").cast("string"),
    )
    host = F.regexp_extract(url, "^https://([^/]+)", 1)
    return docs.select(
        "doc_id",
        "source",
        "text",
        url.alias("url"),
        F.regexp_extract(host, "([a-z0-9-]+\\.example\\.com)$", 1).alias(
            "domain"
        ),
    )


def domain_docs_sql(rel: str = "documents") -> str:
    """Oracle twin of :func:`domain_docs`: emits CTEs ``{rel}_inj`` and
    ``{rel}_dom`` (doc_id, source, text, url, domain) over relation
    ``rel``."""
    return f"""{rel}_inj AS (
  SELECT doc_id, source, text,
         'https://'
         || CASE doc_id % 3 WHEN 0 THEN 'www.' WHEN 1 THEN 'cdn.' ELSE '' END
         || 'site' || CAST(CAST(substr(source, 4) AS INT) % 7 AS STRING)
         || '.example.com/' || source || '/' || CAST(doc_id AS STRING) AS url
  FROM {rel}
),
{rel}_dom AS (
  SELECT doc_id, source, text, url,
         regexp_extract(regexp_extract(url, '^https://([^/]+)', 1),
                        '([a-z0-9-]+\\.example\\.com)$', 1) AS domain
  FROM {rel}_inj
)"""


_DOMPROF_ORACLE = f"""
WITH RECURSIVE {{cc}},
{domain_docs_sql("documents")},
dom AS (
  SELECT doc_id, source,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
         domain
  FROM documents_dom
),
dup_ids AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_a AS doc_id FROM pairs
    UNION ALL
    SELECT doc_b AS doc_id FROM pairs
  )
),
prof AS (
  SELECT domain,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(count(DISTINCT d.source) AS BIGINT) AS n_sources,
         CAST(sum(d.n_toks) AS BIGINT) AS n_tokens,
         CAST(sum(CASE WHEN du.doc_id IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS dup_docs
  FROM dom d LEFT JOIN dup_ids du USING (doc_id)
  GROUP BY domain
),
tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total_docs FROM prof)
SELECT domain, n_docs, n_sources, n_tokens, dup_docs,
       {{dup_ppm}} AS dup_ppm,
       {{share_ppm}} AS share_ppm,
       least(n_docs, total_docs * {DOMAIN_CAP_PERMILLE} // 1000) AS cap_docs,
       {{kept_ppm}} AS kept_ppm
FROM prof CROSS JOIN tot
""".format(
    cc=_CC_CTES,
    dup_ppm=_ppm_ratio_sql("dup_docs", "n_docs"),
    share_ppm=_ppm_ratio_sql("n_docs", "total_docs"),
    kept_ppm=_ppm_ratio_sql(
        f"least(n_docs, total_docs * {DOMAIN_CAP_PERMILLE} // 1000)", "n_docs"
    ),
)


@register("corpus_domain_profile", oracle=_DOMPROF_ORACLE)
def corpus_domain_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered-domain-grain crawl profile + mix recommendation — the
    grain real crawl curation operates at (source-grain profiles exist;
    domains aggregate many sources): per domain, doc/source/token counts,
    near-dup participation rate (riding the shared ``jaccard_pairs_075``
    artifact — the SAME verified pair graph every dedup pass consumes),
    corpus share, and the capped doc count under the 10%-per-domain mix
    guard (C4/RefinedWeb's defense against one crawl-heavy site dominating
    the training distribution). ``kept_ppm`` < 1e6 is the actionable
    output: that domain must be downsampled before mixing.

    URL handling is exercised end-to-end: both engines inject the same
    synthetic URLs (rotating www./cdn./bare subdomains over 7 registered
    domains), parse the host, and extract the registered domain by
    leftmost one-label+suffix match — subdomains provably stripped (both
    engines share regex semantics; RE2-compatible, no backrefs).

    Determinism: all counts are integers; every rate is the shared exact
    quotient/remainder ppm split; the cap is an integer cross-multiply.

    Scale: domain derivation is per-row regex (map-side); the profile is
    ONE map-side-combining aggregate over |domains| keys (distinct-source
    via the standard two-phase expand); the dup side joins the PAIR-sized
    distinct-id frame (never the corpus) on the doc_id key; the corpus
    total is a SinglePartition window over |domains| rows — bounded model
    state, the corpus_token_budget_plan discipline."""
    from .artifacts import jaccard_pairs_075

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    dom = domain_docs(docs).select(
        "doc_id",
        "source",
        F.size(F.split("text", " ")).cast("long").alias("n_toks"),
        "domain",
    )
    pairs = jaccard_pairs_075(spark, sf_dir)
    dup_ids = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
        .withColumn("is_dup", F.lit(1))
    )
    prof = (
        dom.join(dup_ids, "doc_id", "left")
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("source").cast("long").alias("n_sources"),
            F.sum("n_toks").cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("is_dup").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("dup_docs"),
        )
    )
    w_all = Window.partitionBy()  # |domains| rows — bounded
    t = prof.withColumn("total_docs", F.sum("n_docs").over(w_all).cast("long"))
    cap = f"least(n_docs, total_docs * {DOMAIN_CAP_PERMILLE} DIV 1000)"
    return t.select(
        "domain",
        "n_docs",
        "n_sources",
        "n_tokens",
        "dup_docs",
        F.expr(_ppm_ratio_sql("dup_docs", "n_docs", "DIV")).alias("dup_ppm"),
        F.expr(_ppm_ratio_sql("n_docs", "total_docs", "DIV")).alias(
            "share_ppm"
        ),
        F.expr(cap).alias("cap_docs"),
        F.expr(_ppm_ratio_sql(cap, "n_docs", "DIV")).alias("kept_ppm"),
    )


# ---------------------------------------------------------------------------
# text_unigram_train — unigram-LM (SentencePiece-style) tokenizer trainer
# ---------------------------------------------------------------------------

from ..operators.unigram import (  # noqa: E402
    train_unigram,
    unigram_oracle_vocab,
)


@register("text_unigram_train", oracle=unigram_oracle_vocab())
def text_unigram_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer trainer (Kudo 2018; SentencePiece's default
    model) — the standard alternative to ``text_bpe_train``: seed a large
    candidate vocabulary from frequent substrings, then alternate Viterbi
    segmentation of the word-frequency table with usage re-counting and
    prune to the target size (top-32 multi-char pieces + the never-pruned
    character floor). The returned table is the shippable vocabulary:
    piece, length, usage count, dense token id (count desc, piece asc —
    the text_bpe_vocab_ids discipline), char flag.

    Integer determinism (declared divergence from the float log-likelihood
    EM of the paper — see operators/unigram.py): hard (Viterbi) EM under an
    MDL objective — fewest pieces, then largest count sum, then smallest
    split position — is a total order on integers, so the DuckDB oracle
    replays the ENTIRE trajectory (seed scoring, every DP cell
    position-by-position, every prune) as unrolled MATERIALIZED CTEs, the
    bpe_oracle_with / Bradley–Terry training-replay discipline.

    Scale (the text_bpe_train shape): the only corpus-sized work is the
    word-frequency aggregate (map-side combining, capped at VOCAB_CAP by
    (count desc, word asc)); the hard-EM loop is driver-side pure-integer
    Python over that bounded table, and the result (<=32 + |chars| rows)
    is model state — the returned plan is a LocalTableScan, like the
    Bradley–Terry fit. Words over 12 chars are excluded from TRAINING in
    both engines (the documented bound fixing the oracle's DP unroll
    depth); fertility vs the BPE tokenizer and the beats-char-split gate
    are pinned in tests/test_round12_ops.py."""
    from ..operators.bpe import corpus_word_counts
    from pyspark.sql.types import (
        BooleanType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    vocab = train_unigram(corpus_word_counts(spark, sf_dir))
    ranked = sorted(vocab.items(), key=lambda kv: (-kv[1], kv[0]))
    rows = [
        (p, len(p), c, rank, len(p) == 1)
        for rank, (p, c) in enumerate(ranked, start=1)
    ]
    schema = StructType(
        [
            StructField("piece", StringType()),
            StructField("piece_len", LongType()),
            StructField("piece_count", LongType()),
            StructField("token_id", LongType()),
            StructField("is_char", BooleanType()),
        ]
    )
    return spark.createDataFrame(rows, schema=schema)


# ---------------------------------------------------------------------------
# text_unigram_fertility — the unigram tokenizer's fertility profile
# ---------------------------------------------------------------------------

from ..operators.unigram import (  # noqa: E402
    unigram_oracle_infer_counts,
    unigram_oracle_with,
)

_UNI_FERTILITY_ORACLE = f"""WITH {{uni}},
{{infer}},
{_BPE_DOC_WORDS},
j AS (SELECT dw.source, dw.w, uwt.n_toks FROM dw JOIN uwt ON dw.w = uwt.word),
a AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_words,
         CAST(sum(n_toks) AS BIGINT) AS n_unigram_tokens,
         CAST(sum(length(w)) AS BIGINT) AS n_chars
  FROM j GROUP BY source
)
SELECT source, n_words, n_unigram_tokens,
       {_ppm_ratio_sql("n_unigram_tokens", "n_words")} AS fertility_ppm,
       {_ppm_ratio_sql("n_chars", "n_unigram_tokens")} AS chars_per_token_ppm
FROM a"""


@register(
    "text_unigram_fertility",
    oracle=_UNI_FERTILITY_ORACLE.format(
        uni=unigram_oracle_with(), infer=unigram_oracle_infer_counts()
    ),
)
def text_unigram_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``text_bpe_fertility``'s unigram twin — the round-12 deliverable
    that makes the two corpus-trained tokenizers directly comparable on
    the same table: per source, unigram-LM tokens per word (ppm) and chars
    per token (ppm). A pipeline choosing between its BPE and unigram
    vocabularies reads these two tables side by side (same sources, same
    column shapes, same ppm discipline) — the standard
    compression-vs-coverage trade study SentencePiece users run.

    Inference contract: words the trainer could have seen (<= 12 chars)
    segment by the SAME integer Viterbi the trainer used; longer words take
    the character fallback — documented, closed-form, identical on both
    engines (the oracle appends it after the unrolled inference DP).

    Scale: the word->n_toks map is a pinned tokenizer artifact
    (``unigram_word_tokens`` — train driver-side, Arrow-encode once per
    DISTINCT word), so the registered plan is the vocabulary broadcast
    join + ONE map-side-combining per-source aggregate — byte-identical
    shape to ``text_bpe_fertility``, overflow-safe ppm splits included."""
    from ..operators.bpe import corpus_words
    from .artifacts import unigram_word_tokens

    d = corpus_words(spark, sf_dir, "source")
    wt = unigram_word_tokens(spark, sf_dir)
    agg = (
        d.join(F.broadcast(wt), d.w == wt.word)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_toks").cast("long").alias("n_unigram_tokens"),
            F.sum(F.length("w")).cast("long").alias("n_chars"),
        )
    )
    return agg.select(
        "source",
        "n_words",
        "n_unigram_tokens",
        F.expr(_ppm_ratio_sql("n_unigram_tokens", "n_words", "DIV")).alias(
            "fertility_ppm"
        ),
        F.expr(_ppm_ratio_sql("n_chars", "n_unigram_tokens", "DIV")).alias(
            "chars_per_token_ppm"
        ),
    )


# ---------------------------------------------------------------------------
# text_normalize_scrub — Unicode/whitespace normalization before dedup
# ---------------------------------------------------------------------------

# Deterministic noise injection (the text_pii_scrub discipline — the
# synthetic corpus is already canonical lowercase single-spaced text, so
# both engines inject the SAME casing/whitespace/punctuation damage to make
# the normalizer observable): leading spaces, the first five chars
# uppercased, every ' table ' blown up to '  TABLE  ', and a doc-dependent
# trailing run of spaces plus '!!'.
_NORM_NOISY = (
    "'  ' || upper(substr({t}, 1, 5)) || substr({t}, 6)"
    " || repeat(' ', CAST(1 + doc_id % 3 AS {int_t})) || '!!'"
)

_NORM_ORACLE = f"""
WITH noisy AS (
  SELECT doc_id, text,
         replace({_NORM_NOISY.format(t="text", int_t="INTEGER")},
                 ' table ', '  TABLE  ') AS noisy
  FROM documents
),
cleaned AS (
  SELECT doc_id, text, noisy,
         trim(regexp_replace(regexp_replace(lower(noisy), '[^a-z0-9 ]', ' ', 'g'),
                             ' +', ' ', 'g')) AS clean
  FROM noisy
)
SELECT doc_id,
       CAST(length(noisy) AS BIGINT) AS n_noisy_chars,
       CAST(length(clean) AS BIGINT) AS n_clean_chars,
       CAST(length(noisy) - length(clean) AS BIGINT) AS removed_chars,
       md5(clean) AS clean_md5,
       clean = text AS restored
FROM cleaned
"""


@register("text_normalize_scrub", oracle=_NORM_ORACLE)
def text_normalize_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text normalization — the pass CCNet/C4 run BEFORE any dedup or
    frequency analysis, because un-normalized text fragments every
    downstream key space (casing/whitespace variants of one sentence hash
    to different shingles, different paragraphs, different exact-dup
    digests): lowercase, strip non-alphanumerics to spaces, collapse
    whitespace runs, trim. The corpus is already canonical, so both
    engines plant the same deterministic damage (leading spaces, uppercased
    prefix, doubled internal spacing around ' table ', trailing
    space-run + '!!') and the pin is the crispest possible invariant:
    normalization must restore EVERY noisy doc to byte-equality with its
    original (``restored`` all-true, checked per row by the oracle compare
    and pinned in tests) — the md5 travels so a downstream exact-dedup
    join could consume this output directly.

    Determinism: pure per-row string functions with RE2-compatible
    patterns (no backrefs); both regex engines agree on '[^a-z0-9 ]' and
    ' +'; ``replace`` substitutes every occurrence in both engines.

    Scale: entirely map-side — one scan, zero shuffle, zero joins; at
    100 TB this pipelines in front of the dedup stages (which is exactly
    where a real pipeline fuses it)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    noisy = F.expr(
        "replace("
        + _NORM_NOISY.format(t="text", int_t="INT")
        + ", ' table ', '  TABLE  ')"
    )
    n = docs.select("doc_id", "text", noisy.alias("noisy"))
    clean = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("noisy")), "[^a-z0-9 ]", " "),
            " +",
            " ",
        )
    )
    c = n.select("doc_id", "text", "noisy", clean.alias("clean"))
    return c.select(
        "doc_id",
        F.length("noisy").cast("long").alias("n_noisy_chars"),
        F.length("clean").cast("long").alias("n_clean_chars"),
        (F.length("noisy") - F.length("clean")).cast("long").alias(
            "removed_chars"
        ),
        F.md5("clean").alias("clean_md5"),
        (F.col("clean") == F.col("text")).alias("restored"),
    )


# ---------------------------------------------------------------------------
# text_blocklist_scrub — C4's curated-term filter
# ---------------------------------------------------------------------------

# The curated term set (C4 filters against the public "List of Dirty,
# Naughty, Obscene or Otherwise Bad Words"; the synthetic stand-ins keep the
# same word-grain any-hit-drops semantics). 'phish' is never planted — the
# term that must NEVER fire, proving matching is exact word equality, not
# substring. The corpus vocabulary is uniform (every natural word appears in
# most docs), so natural terms would block ~everything; instead both engines
# plant the SAME deterministic hits (the text_pii_scrub discipline):
# doc_id % 10 = 3 gets 'spam' twice, % 10 = 7 gets 'gamble' once, and
# % 100 = 23 (a subset of the spam residue) additionally gets 'exploit' —
# covering multi-hit, single-hit, multi-term, and clean docs.
_BLOCKLIST = ("exploit", "gamble", "phish", "spam")
_BL_SQL_LIST = "[" + ", ".join(f"'{t}'" for t in _BLOCKLIST) + "]"
_BL_SPARK_ARR = "array(" + ", ".join(f"'{t}'" for t in _BLOCKLIST) + ")"
_BL_INJECT = (
    "{t}"
    " || CASE WHEN doc_id % 10 = 3 THEN ' spam offer spam' ELSE '' END"
    " || CASE WHEN doc_id % 10 = 7 THEN ' gamble all night' ELSE '' END"
    " || CASE WHEN doc_id % 100 = 23 THEN ' exploit kit' ELSE '' END"
)

_BLOCKLIST_ORACLE = f"""
WITH injected AS (
  SELECT doc_id, source, {_BL_INJECT.format(t="text")} AS text
  FROM documents
),
w AS (SELECT doc_id, source, string_split(text, ' ') AS ws FROM injected),
m AS (
  SELECT doc_id, source, ws,
         list_filter(ws, x -> list_contains({_BL_SQL_LIST}, x)) AS hits,
         list_sort(list_intersect(list_distinct(ws), {_BL_SQL_LIST}))
           AS terms
  FROM w
)
SELECT doc_id, source,
       CAST(len(ws) AS BIGINT) AS n_words,
       CAST(len(hits) AS BIGINT) AS n_hits,
       CAST(len(terms) AS BIGINT) AS n_terms,
       coalesce(array_to_string(terms, ','), '') AS terms_hit,
       len(hits) = 0 AS keep
FROM m
"""
# (coalesce: DuckDB's array_to_string of an EMPTY list is NULL where
# Spark's array_join is '' — both must say "no terms" the same way)


@register("text_blocklist_scrub", oracle=_BLOCKLIST_ORACLE)
def text_blocklist_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4's second cleaning pass next to the boilerplate scrub: the
    curated-term blocklist filter (Raffel et al. 2020 drop any page
    containing a word from the public bad-words list). Word-grain exact
    matching — never substring, so 'exploit' cannot fire on
    'exploitation' — with the per-doc audit a curation pipeline must emit:
    occurrence count (``n_hits``), distinct terms hit (``n_terms`` +
    the sorted ``terms_hit`` list), and the C4 any-hit-drops ``keep`` flag.

    Scale: the term set rides inside the plan as a literal array (curated
    lists are hundreds of terms — broadcast-sized by construction; past
    literal-embedding comfort the same shape becomes a broadcast equi-join
    against the exploded word column). Matching is a JVM higher-order
    ``filter`` over the split array — one scan, entirely map-side, ZERO
    exchanges; at 100 TB this fuses into the same stage as the normalize
    pass it follows."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    return blocklist_scrub_frame(docs)


def blocklist_scrub_frame(docs: DataFrame) -> DataFrame:
    """The blocklist classification as a pure frame transform — ONE
    definition shared by the batch scrub and the streaming ingest screen
    (the boilerplate_paras discipline), so the matcher can never drift
    between them. ``docs`` must expose (doc_id, source, text)."""
    t = docs.select(
        "doc_id",
        "source",
        F.split(F.expr(_BL_INJECT.format(t="text")), " ").alias("ws"),
    )
    m = t.select(
        "doc_id",
        "source",
        "ws",
        F.expr(f"filter(ws, x -> array_contains({_BL_SPARK_ARR}, x))").alias(
            "hits"
        ),
        F.expr(
            f"array_sort(array_intersect(array_distinct(ws), {_BL_SPARK_ARR}))"
        ).alias("terms"),
    )
    return m.select(
        "doc_id",
        "source",
        F.size("ws").cast("long").alias("n_words"),
        F.size("hits").cast("long").alias("n_hits"),
        F.size("terms").cast("long").alias("n_terms"),
        F.array_join("terms", ",").alias("terms_hit"),
        (F.size("hits") == 0).alias("keep"),
    )


# ---------------------------------------------------------------------------
# corpus_domain_snapshot_diff — re-crawl budget at registered-domain grain
# ---------------------------------------------------------------------------

# Two crawl snapshots derived deterministically from ONE corpus (the corpus
# has no crawl-time column, so both engines derive identical snapshot
# membership — the text_pii_scrub discipline): snapshot A is the previous
# crawl (every doc except doc_id % 10 = 4, which did not exist yet);
# snapshot B is the re-crawl (every doc except doc_id % 10 = 6, which
# disappeared), and docs with doc_id % 10 = 8 changed content on re-crawl
# (text gains ' recrawl update' — exactly +2 tokens). All four CDC classes
# (added / removed / changed / unchanged) are live in every domain.
_SNAP_A = "doc_id % 10 <> 4"
_SNAP_B = "doc_id % 10 <> 6"
_SNAP_CHANGED = "doc_id % 10 = 8"

_DOMDIFF_ORACLE = f"""
WITH {domain_docs_sql("documents")},
d AS (
  SELECT domain,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks_a,
         CAST(len(string_split(text, ' '))
              + CASE WHEN {_SNAP_CHANGED} THEN 2 ELSE 0 END AS BIGINT)
           AS n_toks_b,
         {_SNAP_A} AS in_a,
         {_SNAP_B} AS in_b,
         {_SNAP_CHANGED} AS chg
  FROM documents_dom
),
agg AS (
  SELECT domain,
         CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS docs_a,
         CAST(sum(CASE WHEN in_b THEN 1 ELSE 0 END) AS BIGINT) AS docs_b,
         CAST(sum(CASE WHEN NOT in_a AND in_b THEN 1 ELSE 0 END) AS BIGINT)
           AS added_docs,
         CAST(sum(CASE WHEN in_a AND NOT in_b THEN 1 ELSE 0 END) AS BIGINT)
           AS removed_docs,
         CAST(sum(CASE WHEN in_a AND in_b AND chg THEN 1 ELSE 0 END)
              AS BIGINT) AS changed_docs,
         CAST(sum(CASE WHEN in_a AND in_b AND NOT chg THEN 1 ELSE 0 END)
              AS BIGINT) AS unchanged_docs,
         CAST(sum(CASE WHEN in_a THEN n_toks_a ELSE 0 END) AS BIGINT)
           AS tokens_a,
         CAST(sum(CASE WHEN in_b THEN n_toks_b ELSE 0 END) AS BIGINT)
           AS tokens_b
  FROM d GROUP BY domain
)
SELECT domain, docs_a, docs_b, added_docs, removed_docs, changed_docs,
       unchanged_docs, tokens_a, tokens_b,
       tokens_b - tokens_a AS token_delta,
       {_ppm_ratio_sql("(added_docs + removed_docs + changed_docs)", "docs_a")}
         AS churn_ppm
FROM agg
"""


@register("corpus_domain_snapshot_diff", oracle=_DOMDIFF_ORACLE)
def corpus_domain_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The r12 domain profile composed with the CDC diff shape: per
    registered domain, the doc and token deltas between two crawl
    snapshots — added / removed / changed / unchanged doc counts, token
    totals per snapshot, the net token delta, and a churn rate (exact ppm
    split over the previous snapshot) — the re-crawl budget signal a
    curation pipeline reads next to the dedup-rate curve to decide which
    domains are worth re-crawling.

    Snapshot membership and the change flag are per-row residue
    derivations shared with the oracle (see the module constants), so
    although a production deployment would FULL OUTER join two snapshot
    tables on doc_id first (the cdc_snapshot_diff shape), here both
    snapshots are views of one scan and the classification FUSES map-side:
    the registered plan is one scan + per-row domain parse/flags + ONE
    co-partitioned domain-key aggregate — a single |domains|-key exchange,
    plan-pinned. At 100 TB the two-table variant adds exactly one
    co-partitioned doc_id shuffle before this rollup; nothing else
    changes."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    d = domain_docs(docs).select(
        "domain",
        F.size(F.split("text", " ")).cast("long").alias("n_toks_a"),
        (
            F.size(F.split("text", " "))
            + F.expr(f"CASE WHEN {_SNAP_CHANGED} THEN 2 ELSE 0 END")
        )
        .cast("long")
        .alias("n_toks_b"),
        F.expr(_SNAP_A).alias("in_a"),
        F.expr(_SNAP_B).alias("in_b"),
        F.expr(_SNAP_CHANGED).alias("chg"),
    )
    agg = d.groupBy("domain").agg(
        F.sum(F.when(F.col("in_a"), 1).otherwise(0)).cast("long").alias("docs_a"),
        F.sum(F.when(F.col("in_b"), 1).otherwise(0)).cast("long").alias("docs_b"),
        F.sum(F.when(~F.col("in_a") & F.col("in_b"), 1).otherwise(0))
        .cast("long")
        .alias("added_docs"),
        F.sum(F.when(F.col("in_a") & ~F.col("in_b"), 1).otherwise(0))
        .cast("long")
        .alias("removed_docs"),
        F.sum(F.when(F.col("in_a") & F.col("in_b") & F.col("chg"), 1).otherwise(0))
        .cast("long")
        .alias("changed_docs"),
        F.sum(
            F.when(F.col("in_a") & F.col("in_b") & ~F.col("chg"), 1).otherwise(0)
        )
        .cast("long")
        .alias("unchanged_docs"),
        F.sum(F.when(F.col("in_a"), F.col("n_toks_a")).otherwise(0))
        .cast("long")
        .alias("tokens_a"),
        F.sum(F.when(F.col("in_b"), F.col("n_toks_b")).otherwise(0))
        .cast("long")
        .alias("tokens_b"),
    )
    return agg.select(
        "domain",
        "docs_a",
        "docs_b",
        "added_docs",
        "removed_docs",
        "changed_docs",
        "unchanged_docs",
        "tokens_a",
        "tokens_b",
        (F.col("tokens_b") - F.col("tokens_a")).alias("token_delta"),
        F.expr(
            _ppm_ratio_sql(
                "(added_docs + removed_docs + changed_docs)", "docs_a", "DIV"
            )
        ).alias("churn_ppm"),
    )


# ---------------------------------------------------------------------------
# dedup_url_canonical — URL-grain exact dedup (the crawl's FIRST dedup stage)
# ---------------------------------------------------------------------------

# FineWeb's pipeline dedups at URL grain before any content pass: multiple
# crawls of the same page arrive under messy URL variants (scheme flips,
# a www. subdomain, tracking query strings, trailing slashes) and must
# collapse to one canonical URL, keeping the earliest fetch. Planted
# construction (ONE generator pair, the boilerplate_paras discipline): the
# re-crawl slice ``doc_id % URL_RECRAWL_MOD = URL_RECRAWL_RESIDUE``
# re-submits each doc under a shifted id whose raw URL is the original's
# with EVERY canonicalization axis dirtied at once — http:// scheme, a
# trailing slash, and a ?utm_source query — so each re-crawl collides with
# exactly its original after canonicalization (paths embed the original
# doc_id, so nothing else can collide), the keep-min-doc_id rule provably
# keeps the original, and the www-strip axis is exercised by the
# ``doc_id % 3 = 0`` originals whose host carries the www. prefix (while
# cdn. — a genuinely distinct host — is deliberately NOT stripped).

URL_RECRAWL_MOD = 7
URL_RECRAWL_RESIDUE = 2
URL_RECRAWL_SHIFT = 2_000_000


def url_canonicalize(col: Column) -> Column:
    """Spark side of THE canonicalization: strip scheme, a leading ``www.``
    label, the query string, and a trailing slash — in that order (query
    before slash, so ``/?utm`` collapses fully). ``cdn.`` stays: it is a
    real distinct host, and over-stripping would merge different pages."""
    c = F.regexp_replace(col, "^https?://", "")
    c = F.regexp_replace(c, "^www\\.", "")
    c = F.regexp_replace(c, "\\?.*$", "")
    return F.regexp_replace(c, "/$", "")


def url_canonicalize_sql(expr: str) -> str:
    """Oracle twin of :func:`url_canonicalize` (anchored patterns, so
    DuckDB's first-occurrence replace equals Spark's replace-all)."""
    return (
        "regexp_replace(regexp_replace(regexp_replace(regexp_replace("
        f"{expr}, '^https?://', ''), '^www\\.', ''), '\\?.*$', ''), "
        "'/$', '')"
    )


def url_crawl_frame(docs: DataFrame) -> DataFrame:
    """Spark side of the shared crawl-log construction: originals plus the
    re-crawled slice, as (doc_id, domain, url) rows."""
    dom = domain_docs(docs).select("doc_id", "domain", "url")
    recrawl = dom.where(
        F.col("doc_id") % URL_RECRAWL_MOD == URL_RECRAWL_RESIDUE
    ).select(
        (F.col("doc_id") + URL_RECRAWL_SHIFT).alias("doc_id"),
        "domain",
        F.concat(
            F.lit("http://"),
            F.expr("substring(url, 9)"),
            F.lit("/?utm_source=recrawl"),
        ).alias("url"),
    )
    return dom.unionByName(recrawl)


def url_crawl_frame_sql(rel: str = "documents") -> str:
    """Oracle twin of :func:`url_crawl_frame`: emits ``{rel}_urls``
    (doc_id, domain, url) on top of the domain_docs CTEs."""
    return f"""{domain_docs_sql(rel)},
{rel}_recrawl AS (
  SELECT doc_id + {URL_RECRAWL_SHIFT} AS doc_id, domain,
         'http://' || substr(url, 9) || '/?utm_source=recrawl' AS url
  FROM {rel}_dom
  WHERE doc_id % {URL_RECRAWL_MOD} = {URL_RECRAWL_RESIDUE}
),
{rel}_urls AS (
  SELECT doc_id, domain, url FROM {rel}_dom
  UNION ALL SELECT doc_id, domain, url FROM {rel}_recrawl
)"""


_URL_DEDUP_ORACLE = f"""
WITH {url_crawl_frame_sql("documents")},
g AS (
  SELECT md5({url_canonicalize_sql("url")}) AS uh,
         min(domain) AS domain,
         CAST(count(*) AS BIGINT) AS c,
         min(doc_id) AS keeper
  FROM documents_urls GROUP BY 1
),
a AS (
  SELECT domain,
         CAST(sum(c) AS BIGINT) AS n_docs,
         CAST(count(*) AS BIGINT) AS n_canonical,
         CAST(sum(c - 1) AS BIGINT) AS n_dropped
  FROM g GROUP BY domain
)
SELECT domain, n_docs, n_canonical, n_dropped,
       {_ppm_ratio_sql("n_dropped", "n_docs")} AS dup_ppm
FROM a
"""


@register("dedup_url_canonical", oracle=_URL_DEDUP_ORACLE)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-grain exact dedup — the cheapest and FIRST dedup stage of a
    crawl pipeline (before any content shingling): canonicalize every
    fetched URL (scheme / www. / query / trailing-slash strip through the
    shared :func:`url_canonicalize`), group on the 16-byte md5 of the
    canonical form keeping the minimum doc_id (the earliest fetch), and
    report the per-domain crawl redundancy: fetch count, canonical-URL
    count, dropped re-fetches, and the exact dup ppm — what a crawl
    scheduler reads to stop re-fetching stable domains. Rides the shared
    ``domain_docs`` generator pair like the other two domain-grain queries.

    Scale (the dedup_exact shape at URL grain): canonicalization is pure
    per-row string work fused into the scan; the digest groupBy is ONE
    16-byte-key exchange with map-side partial aggregation (dup classes
    are tiny, so partials collapse hard); the |domains|-key rollup is the
    second. No joins, nothing quadratic, no driver state."""
    docs = load_table(spark, sf_dir, "documents")
    g = (
        url_crawl_frame(docs)
        .select("doc_id", "domain", F.md5(url_canonicalize(F.col("url"))).alias("uh"))
        .groupBy("uh")
        .agg(
            F.min("domain").alias("domain"),
            F.count(F.lit(1)).cast("long").alias("c"),
            F.min("doc_id").alias("keeper"),
        )
    )
    a = g.groupBy("domain").agg(
        F.sum("c").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_canonical"),
        F.sum(F.col("c") - 1).cast("long").alias("n_dropped"),
    )
    return a.select(
        "domain",
        "n_docs",
        "n_canonical",
        "n_dropped",
        F.expr(_ppm_ratio_sql("n_dropped", "n_docs", "DIV")).alias("dup_ppm"),
    )


# ---------------------------------------------------------------------------
# privacy_t_closeness — the third release-safety audit (EMD to the corpus)
# ---------------------------------------------------------------------------

_T_CLOSE_PPM = 300_000  # flag groups whose sensitive dist is > 0.3 TVD away

_TCLOSE_ORACLE = f"""
WITH gv AS (
  SELECT source, CAST(CAST(n_chars AS BIGINT) // 200 AS BIGINT) AS b, lang,
         CAST(count(*) AS BIGINT) AS c
  FROM documents GROUP BY 1, 2, 3
),
g AS (SELECT source, b, CAST(sum(c) AS BIGINT) AS g_n FROM gv GROUP BY 1, 2),
gl AS (SELECT lang, CAST(sum(c) AS BIGINT) AS c FROM gv GROUP BY 1),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM gl),
q AS (SELECT lang, {_ppm_ratio_sql("c", "n")} AS q_ppm FROM gl CROSS JOIN tot),
d AS (
  SELECT g.source, g.b, g.g_n, q.q_ppm,
         coalesce({_ppm_ratio_sql("gv.c", "g.g_n")}, 0) AS p_ppm
  FROM g CROSS JOIN q
  LEFT JOIN gv ON gv.source = g.source AND gv.b = g.b AND gv.lang = q.lang
)
SELECT source AS qi_source, b AS qi_len_bucket,
       min(g_n) AS group_size,
       CAST(sum(abs(p_ppm - q_ppm)) // 2 AS BIGINT) AS t_tvd_ppm,
       CAST(sum(abs(p_ppm - q_ppm)) // 2 AS BIGINT) > {_T_CLOSE_PPM} AS at_risk
FROM d GROUP BY source, b
"""


@register("privacy_t_closeness", oracle=_TCLOSE_ORACLE)
def privacy_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (Li, Li & Venkatasubramanian 2007) — the third leg
    of the release-safety trio, catching what BOTH k-anonymity and
    l-diversity miss: a QI group can have k peers AND l distinct sensitive
    values yet still leak if its sensitive-attribute DISTRIBUTION differs
    sharply from the corpus-wide one (the skewness attack — 90% of a
    group speaking one rare language is a strong inference even when a
    second language is present). Same release QIs as the l-diversity
    audit (source, 200-char length bucket), same sensitive attribute
    (lang); the distance is the earth-mover's distance under the equal
    ground metric for categoricals — total variation, ``0.5 * sum
    |p_group - p_corpus|`` — flagged past t = 0.3.

    Determinism (declared quantization, the house fixed-point rule): both
    distributions are floor-ppm shares (the exact split), so the TVD is an
    integer over a <=|langs| sum — identical in both engines at ANY corpus
    size, with NO large-denominator envelope (unlike the raw
    cross-multiplied form ``|c_gv * n - c_v * g_n|``, which wraps int64
    past ~3e9 docs).

    Scale: ONE (QI, lang) map-side-combining aggregate is the only
    corpus-sized exchange, and it materializes ONCE (localCheckpoint — it
    has three consumers: the group table, the |langs| global table, and
    the per-(group, lang) probe; without the pin Catalyst replays the
    corpus scan per consumer); everything downstream is QI-space-sized
    (|groups| x |langs| via the declared tiny-side cross join), never
    corpus-sized. Absent languages enter as p = 0 through the LEFT join
    (they contribute q_ppm to the distance — the part a groups-only join
    would silently miss)."""
    docs = load_table(spark, sf_dir, "documents")
    gv = (
        docs.groupBy(
            "source",
            F.expr("CAST(CAST(n_chars AS BIGINT) DIV 200 AS BIGINT)").alias("b"),
            "lang",
        )
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=True)
    )
    g = gv.groupBy("source", "b").agg(F.sum("c").cast("long").alias("g_n"))
    gl = gv.groupBy("lang").agg(F.sum("c").cast("long").alias("c"))
    tot = gl.agg(F.sum("c").cast("long").alias("n"))
    q = gl.crossJoin(F.broadcast(tot)).select(
        "lang", F.expr(_ppm_ratio_sql("c", "n", "DIV")).alias("q_ppm")
    )
    d = (
        g.crossJoin(F.broadcast(q))
        .join(gv, ["source", "b", "lang"], "left")
        .select(
            "source",
            "b",
            "g_n",
            "q_ppm",
            F.coalesce(
                F.expr(_ppm_ratio_sql("c", "g_n", "DIV")), F.lit(0)
            ).alias("p_ppm"),
        )
    )
    tvd = F.expr("CAST(sum(abs(p_ppm - q_ppm)) DIV 2 AS BIGINT)")
    return (
        d.groupBy("source", "b")
        .agg(
            F.min("g_n").alias("group_size"),
            tvd.alias("t_tvd_ppm"),
        )
        .select(
            F.col("source").alias("qi_source"),
            F.col("b").alias("qi_len_bucket"),
            "group_size",
            "t_tvd_ppm",
            (F.col("t_tvd_ppm") > _T_CLOSE_PPM).alias("at_risk"),
        )
    )


# ---------------------------------------------------------------------------
# text_line_dedup — C4-style GLOBAL line-level exact dedup (keep-first)
# ---------------------------------------------------------------------------

# C4 (Raffel et al. 2020, §2.2) deduplicates the corpus at LINE grain:
# any line occurring more than once anywhere in the corpus is kept only at
# its first occurrence and removed everywhere else — the pass that strips
# shared navigation/footer text ACROSS sites, where the per-source
# frequency scrub (text_boilerplate_scrub) only sees within-source
# repetition. Same paragraph grain as the scrub: the shared
# ``boilerplate_paras`` generator pair (one paragraphizer, one planted
# construction — the footer repeats across ~90% of docs and must collapse
# to exactly one global survivor per source, while the doc-unique rare
# paragraph must always survive).

_LINE_DEDUP_ORACLE = f"""
WITH {boilerplate_paras_sql("documents")},
ranked AS (
  SELECT doc_id, source, para_idx, para,
         row_number() OVER (PARTITION BY md5(para)
                            ORDER BY doc_id, para_idx) AS rn
  FROM documents_paras
)
SELECT doc_id, source,
       CAST(count(*) AS BIGINT) AS n_paras,
       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       CAST(sum(CASE WHEN rn = 1 THEN length(para) ELSE 0 END) AS BIGINT)
         AS kept_chars,
       CAST(sum(CASE WHEN rn > 1 THEN length(para) ELSE 0 END) AS BIGINT)
         AS dropped_chars,
       md5(coalesce(string_agg(CASE WHEN rn = 1 THEN para END, chr(10)
                               ORDER BY para_idx), '')) AS deduped_md5,
       bool_or(rn = 1 AND para LIKE 'cookie consent banner%')
         AS footer_kept,
       bool_or(rn = 1 AND para LIKE 'unique insight paragraph%')
         AS rare_kept
FROM ranked
GROUP BY doc_id, source
"""


@register("text_line_dedup", oracle=_LINE_DEDUP_ORACLE)
def text_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style global line-level exact dedup: a paragraph occurring
    anywhere else in the corpus survives only at its globally-first
    occurrence (min (doc_id, para_idx)) — every later occurrence is
    removed, whichever source or document it sits in. Completes the dedup
    grain ladder (doc / URL / span / n-gram / paragraph): this is the one
    famous grain (C4's line dedup, kept by FineWeb as the "repetition
    removal" stage) the engine did not yet cover. Per document: paragraph
    counts, char totals, the order-sensitive md5 of the deduplicated
    reassembly, and the planted-construction observability flags — the
    cross-doc footer must collapse to ONE survivor per source (the
    globally-earliest footer doc), the doc-unique rare paragraph must
    always survive.

    Determinism: the survivor rule is a rank over the unique
    (doc_id, para_idx) pair — no hash-order or arrival-order dependence;
    chunk boundaries are pure integer arithmetic (the shared
    paragraphizer); the reassembly hash orders by the unique para_idx.

    Scale (the dedup_exact shape at paragraph grain): paragraphize is a
    map-side explode; the keep-first rank is ONE exchange keyed on the
    16-byte paragraph digest (dup classes are tiny — the per-key sort is
    bounded by the class size, and nothing quadratic exists); the per-doc
    rollup is the second exchange, keyed by doc_id. No joins, no driver
    state, nothing corpus-sized on the driver."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    paras = boilerplate_paras(docs)
    w = Window.partitionBy("ph").orderBy("doc_id", "para_idx")
    ranked = paras.withColumn("rn", F.row_number().over(w))
    kept = F.col("rn") == 1
    kept_struct = F.when(kept, F.struct("para_idx", "para"))
    return (
        ranked.groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_paras"),
            F.sum(F.when(kept, 1).otherwise(0)).cast("long").alias("n_kept"),
            F.sum(F.when(kept, 0).otherwise(1)).cast("long").alias("n_dropped"),
            F.sum(F.when(kept, F.length("para")).otherwise(0))
            .cast("long")
            .alias("kept_chars"),
            F.sum(F.when(kept, 0).otherwise(F.length("para")))
            .cast("long")
            .alias("dropped_chars"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(kept_struct)),
                        lambda s: s["para"],
                    ),
                    "\n",
                )
            ).alias("deduped_md5"),
            F.max(F.expr("rn = 1 AND para LIKE 'cookie consent banner%'")).alias(
                "footer_kept"
            ),
            F.max(
                F.expr("rn = 1 AND para LIKE 'unique insight paragraph%'")
            ).alias("rare_kept"),
        )
        .select(
            "doc_id",
            "source",
            "n_paras",
            "n_kept",
            "n_dropped",
            "kept_chars",
            "dropped_chars",
            "deduped_md5",
            "footer_kept",
            "rare_kept",
        )
    )


# ---------------------------------------------------------------------------
# text_gopher_quality — the named Gopher rule gate (Rae et al. 2021, A1.1)
# ---------------------------------------------------------------------------

# Gopher's pre-filter is THE named rule set most later pipelines start from
# (MassiveText -> RefinedWeb -> Dolma all cite it): hard bounds on word
# count, mean word length, the fraction of words carrying an alphabetic
# character, the symbol-to-word ratio, and a minimum stop-word presence.
# The synthetic corpus is clean lowercase prose, so three of the five rules
# would be vacuously green; the planted construction (ONE generator pair,
# the boilerplate_paras discipline) injects a deterministic violation class
# per rule so every rule has live pass AND fail paths:
#   doc_id % 11 = 4  -> numeric junk ('90210' x ceil(n/3)) -> alpha_frac
#   doc_id % 17 = 9  -> single-char padding ('x' x 2n)     -> mean_word_len
#   doc_id % 13 = 6  -> symbol junk ('###' x (n//8 + 1))   -> symbol_ratio
# (2n and n//8+1 are sized so the violation holds for EVERY class member:
# 9*(n//8+1) > n for all n, and the padded mean needs only mean0 < 7)
# (word count and stop-word failures occur naturally: short docs and
# non-English docs). Appends happen in that fixed order in both engines.

_GOPHER_STOPS = ("the", "a", "of", "to", "in", "and")
_GOPHER_STOP_SQL = ", ".join(f"'{s}'" for s in _GOPHER_STOPS)
_GOPHER_MIN_WORDS = 50
_GOPHER_MAX_WORDS = 100_000


def gopher_docs(docs: DataFrame) -> DataFrame:
    """Spark side of THE planted-junk construction: (doc_id, source, lang,
    text) with the three deterministic violation classes appended."""
    n0 = F.size(F.split("text", " "))
    numeric = F.when(
        F.col("doc_id") % 11 == 4,
        F.concat(F.lit(" "), F.rtrim(F.repeat(F.lit("90210 "), ((n0 + 2) / 3).cast("int")))),
    ).otherwise(F.lit(""))
    chars = F.when(
        F.col("doc_id") % 17 == 9,
        F.concat(F.lit(" "), F.rtrim(F.repeat(F.lit("x "), n0 * 2))),
    ).otherwise(F.lit(""))
    symbols = F.when(
        F.col("doc_id") % 13 == 6,
        F.concat(
            F.lit(" "),
            F.rtrim(F.repeat(F.lit("### "), (n0 / 8).cast("int") + 1)),
        ),
    ).otherwise(F.lit(""))
    return docs.select(
        "doc_id",
        "source",
        "lang",
        F.concat(F.col("text"), numeric, chars, symbols).alias("text"),
    )


def gopher_docs_sql(rel: str = "documents") -> str:
    """Oracle twin of :func:`gopher_docs`: emits ``{rel}_gopher``."""
    return f"""{rel}_gn AS (
  SELECT doc_id, source, lang, text,
         len(string_split(text, ' ')) AS n0 FROM {rel}
),
{rel}_gopher AS (
  SELECT doc_id, source, lang,
         text
         || CASE WHEN doc_id % 11 = 4
                 THEN ' ' || rtrim(repeat('90210 ', (n0 + 2) // 3))
                 ELSE '' END
         || CASE WHEN doc_id % 17 = 9
                 THEN ' ' || rtrim(repeat('x ', n0 * 2)) ELSE '' END
         || CASE WHEN doc_id % 13 = 6
                 THEN ' ' || rtrim(repeat('### ', n0 // 8 + 1)) ELSE '' END
         AS text
  FROM {rel}_gn
)"""


_GOPHER_ORACLE = f"""
WITH {gopher_docs_sql("documents")},
feat AS (
  SELECT doc_id, source, lang,
         CAST(len(ws) AS BIGINT) AS n_words,
         CAST(list_sum(list_transform(ws, x -> length(x))) AS BIGINT)
           AS sum_wlen,
         CAST(len(list_filter(ws, x -> regexp_matches(x, '[a-z]')))
              AS BIGINT) AS alpha_words,
         CAST(len(list_filter(ws, x -> x LIKE '%#%' OR x LIKE '%...%'))
              AS BIGINT) AS symbol_words,
         CAST(len(list_intersect(list_distinct(ws),
                                 [{_GOPHER_STOP_SQL}])) AS BIGINT)
           AS stop_distinct
  FROM (SELECT doc_id, source, lang, string_split(text, ' ') AS ws
        FROM documents_gopher)
),
rules AS (
  SELECT *,
         (n_words >= {_GOPHER_MIN_WORDS} AND n_words <= {_GOPHER_MAX_WORDS})
           AS r_word_count,
         (3 * n_words <= sum_wlen AND sum_wlen <= 10 * n_words)
           AS r_mean_word_len,
         (5 * alpha_words >= 4 * n_words) AS r_alpha_frac,
         (10 * symbol_words <= n_words) AS r_symbol_ratio,
         (stop_distinct >= 2) AS r_stopwords
  FROM feat
)
SELECT doc_id, source, lang, n_words, sum_wlen, alpha_words, symbol_words,
       stop_distinct, r_word_count, r_mean_word_len, r_alpha_frac,
       r_symbol_ratio, r_stopwords,
       (r_word_count AND r_mean_word_len AND r_alpha_frac
        AND r_symbol_ratio AND r_stopwords) AS keep,
       CASE WHEN NOT r_word_count THEN 'word_count'
            WHEN NOT r_mean_word_len THEN 'mean_word_len'
            WHEN NOT r_alpha_frac THEN 'alpha_frac'
            WHEN NOT r_symbol_ratio THEN 'symbol_ratio'
            WHEN NOT r_stopwords THEN 'stopwords'
            ELSE 'none' END AS first_failed
FROM rules
"""


def gopher_rules_frame(docs: DataFrame) -> DataFrame:
    """THE Gopher rule evaluation — planted append + features + the five
    rule flags + verdict — shared by the batch gate and the streaming
    ingest screen (one ruleset definition, the blocklist_scrub_frame
    discipline). ``docs`` must expose (doc_id, source, lang, text)."""
    g = gopher_docs(docs)
    ws = F.split("text", " ")
    stop_arr = F.array(*[F.lit(s) for s in _GOPHER_STOPS])
    feat = g.select(
        "doc_id",
        "source",
        "lang",
        F.size(ws).cast("long").alias("n_words"),
        F.aggregate(
            F.transform(ws, lambda x: F.length(x)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("sum_wlen"),
        F.size(F.filter(ws, lambda x: x.rlike("[a-z]")))
        .cast("long")
        .alias("alpha_words"),
        F.size(
            F.filter(ws, lambda x: x.contains("#") | x.contains("..."))
        )
        .cast("long")
        .alias("symbol_words"),
        F.size(F.array_intersect(F.array_distinct(ws), stop_arr))
        .cast("long")
        .alias("stop_distinct"),
    )
    rules = feat.select(
        "*",
        (
            (F.col("n_words") >= _GOPHER_MIN_WORDS)
            & (F.col("n_words") <= _GOPHER_MAX_WORDS)
        ).alias("r_word_count"),
        (
            (3 * F.col("n_words") <= F.col("sum_wlen"))
            & (F.col("sum_wlen") <= 10 * F.col("n_words"))
        ).alias("r_mean_word_len"),
        (5 * F.col("alpha_words") >= 4 * F.col("n_words")).alias("r_alpha_frac"),
        (10 * F.col("symbol_words") <= F.col("n_words")).alias("r_symbol_ratio"),
        (F.col("stop_distinct") >= 2).alias("r_stopwords"),
    )
    return rules.select(
        "*",
        (
            F.col("r_word_count")
            & F.col("r_mean_word_len")
            & F.col("r_alpha_frac")
            & F.col("r_symbol_ratio")
            & F.col("r_stopwords")
        ).alias("keep"),
        F.when(~F.col("r_word_count"), F.lit("word_count"))
        .when(~F.col("r_mean_word_len"), F.lit("mean_word_len"))
        .when(~F.col("r_alpha_frac"), F.lit("alpha_frac"))
        .when(~F.col("r_symbol_ratio"), F.lit("symbol_ratio"))
        .when(~F.col("r_stopwords"), F.lit("stopwords"))
        .otherwise(F.lit("none"))
        .alias("first_failed"),
    )


@register("text_gopher_quality", oracle=_GOPHER_ORACLE)
def text_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher rule gate (Rae et al. 2021, appendix A1.1) — the named
    hard-threshold pre-filter most curation stacks run before any model
    scoring (distinct from ``text_quality_scores``' descriptive stats and
    ``text_quality_classifier``'s learned score: this is the fixed,
    citable ruleset with a per-rule verdict and the FIRST failing rule
    named, what an auditor asks of a filtered corpus). Five rules on word
    grain: count bounds [50, 100k], mean word length in [3, 10], >= 80%
    of words alphabetic, symbol-to-word ratio <= 10%, and >= 2 distinct
    stop words present.

    Determinism: every rule is an exact integer cross-multiply (no
    division anywhere — mean word length compares ``3n <= sum <= 10n``,
    the fractions compare ``5*alpha >= 4*n`` / ``10*sym <= n``), so both
    engines agree bit-for-bit at any scale.

    Scale: ZERO exchanges — the planted append and all five rules are
    per-row JVM higher-order functions fused into one codegen stage over
    the scan (the text_blocklist_scrub shape); nothing shuffles, nothing
    collects, no Python."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang", "text"
    )
    return gopher_rules_frame(docs)


# ---------------------------------------------------------------------------
# crawl_robots_compliance — is the crawler allowed to keep what it fetched?
# ---------------------------------------------------------------------------

# A compliant crawl pipeline must audit its fetch log against each host's
# robots.txt BEFORE the corpus ships: Google's robots semantics are
# longest-prefix-match wins, Allow beats nothing (it only wins by being the
# longer match). The corpus has no robots files, so the rule table is
# planted (ONE literal construction in both engines): each registered
# domain site{s} disallows the path prefix of source src{s+14} — sources
# 14..19 land on sites 0..5, while site6's rule names the nonexistent
# src20, so the zero-hit rule class is live — and site0 carves a
# longest-match Allow exception for /src14/1 (doc paths starting with 1),
# exercising the rule-precedence logic, not just prefix matching. The
# fetch log is the SHARED url_crawl_frame (originals + the re-crawl
# slice, whose '?utm' query and trailing slash the path extraction must
# survive).

_ROBOTS_RULES = tuple(
    (f"site{s}.example.com", f"/src{s + 14}/", "disallow") for s in range(7)
) + (("site0.example.com", "/src14/1", "allow"),)

_ROBOTS_RULES_SQL = ", ".join(
    f"('{d}', '{p}', '{v}')" for d, p, v in _ROBOTS_RULES
)

_ROBOTS_ORACLE = f"""
WITH {url_crawl_frame_sql("documents")},
rules(rdomain, prefix, verdict) AS (VALUES {_ROBOTS_RULES_SQL}),
fetches AS (
  SELECT doc_id, domain,
         regexp_extract(url, '^https?://[^/]+([^?]*)', 1) AS path
  FROM documents_urls
),
matched AS (
  SELECT f.doc_id, f.domain, r.prefix, r.verdict,
         row_number() OVER (
           PARTITION BY f.doc_id
           ORDER BY length(r.prefix) DESC NULLS LAST
         ) AS rn
  FROM fetches f
  LEFT JOIN rules r
    ON r.rdomain = f.domain AND starts_with(f.path, r.prefix)
),
winner AS (SELECT doc_id, domain, verdict FROM matched WHERE rn = 1)
SELECT domain,
       CAST(count(*) AS BIGINT) AS n_fetches,
       CAST(sum(CASE WHEN verdict = 'disallow' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_disallowed,
       CAST(sum(CASE WHEN verdict = 'allow' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_exception_allowed,
       CAST(sum(CASE WHEN verdict IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_unmatched,
       {_ppm_ratio_sql("sum(CASE WHEN verdict = 'disallow' THEN 1 ELSE 0 END)", "count(*)")}
         AS violation_ppm
FROM winner GROUP BY domain
"""


@register("crawl_robots_compliance", oracle=_ROBOTS_ORACLE)
def crawl_robots_compliance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robots.txt compliance audit over the crawl log — the legal/policy
    gate a shipped corpus must clear (and the fourth member of the crawl
    family: profile, snapshot diff, URL dedup, this): every fetch's path
    is matched against its domain's planted rule table under the real
    longest-prefix-wins precedence (an Allow wins ONLY by being the
    longer match — rule order never matters), and the report is
    per-domain: fetch count, disallowed fetches, exception-allowed
    fetches, unmatched fetches, and the exact violation ppm — what a
    crawler operator reads to purge and to fix the frontier.

    Determinism: prefix lengths decide precedence (the only overlapping
    pair has distinct lengths by construction, so the rank is total);
    matching is pure string prefix work; the ppm is the exact split.

    Scale: the rule table is a literal |rules|-row broadcast (a real
    robots corpus is |domains|-sized — still the broadcast side); the
    left prefix-join fuses map-side, the longest-match rank is ONE
    doc_id-keyed exchange (per-key group = matching rules, <= |rules per
    domain|), the domain rollup the second. Nothing corpus-sized joins
    corpus-sized."""
    winner = robots_verdicts(spark, url_crawl_frame(load_table(spark, sf_dir, "documents")))
    return robots_rollup(winner)


def robots_verdicts(spark: SparkSession, crawl: DataFrame) -> DataFrame:
    """THE per-fetch robots verdict — path extraction, broadcast rule
    join, longest-prefix-wins rank — shared by the batch audit and the
    streaming ingest screen (one precedence definition). ``crawl`` must
    expose (doc_id, domain, url); returns (doc_id, domain, verdict)."""
    from pyspark.sql import Window

    fetches = crawl.select(
        "doc_id",
        "domain",
        F.regexp_extract("url", "^https?://[^/]+([^?]*)", 1).alias("path"),
    )
    rules = spark.createDataFrame(
        list(_ROBOTS_RULES), "rdomain string, prefix string, verdict string"
    )
    matched = fetches.join(
        F.broadcast(rules),
        (F.col("rdomain") == F.col("domain"))
        & F.col("path").startswith(F.col("prefix")),
        "left",
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc_nulls_last(F.length("prefix"))
    )
    return (
        matched.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", "domain", "verdict")
    )


def robots_rollup(winner: DataFrame) -> DataFrame:
    """The |domains|-row compliance report over per-fetch verdicts — the
    shared rollup tail (plain sums, so it also runs post-compaction on
    the streaming screen's verdict log)."""
    return winner.groupBy("domain").agg(
        F.count(F.lit(1)).cast("long").alias("n_fetches"),
        F.sum(F.when(F.col("verdict") == "disallow", 1).otherwise(0))
        .cast("long")
        .alias("n_disallowed"),
        F.sum(F.when(F.col("verdict") == "allow", 1).otherwise(0))
        .cast("long")
        .alias("n_exception_allowed"),
        F.sum(F.when(F.col("verdict").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_unmatched"),
        F.expr(
            _ppm_ratio_sql(
                "sum(CASE WHEN verdict = 'disallow' THEN 1 ELSE 0 END)",
                "count(*)",
                "DIV",
            )
        ).alias("violation_ppm"),
    )
