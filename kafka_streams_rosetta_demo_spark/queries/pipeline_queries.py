"""LLM-data-pipeline queries: similarity search, text analysis, multimodal.

North-star scope beyond the reference (which has no document/vector
operators): the operations a training-data pipeline runs at 100 TB —
embedding kNN (brute-force baseline + IVF scale path), text quality/token
statistics, language-ID heuristics, document fingerprinting, and binary
multimodal columns with an Arrow-batched featurizer.

All hot-path math is JVM-side (``zip_with``/``aggregate``/``split``/
``regexp_count``); Python appears only in the multimodal featurizer
(Arrow-batched ``mapInPandas``) and the grouped-map OLS fit
(``applyInPandas``, integer-exact) — exactly the escape hatches SURVEY
§2.7 promises.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import rebalance
from ..operators.multimodal import (
    documents_as_binary,
    extract_features,
    resample_audio,
    resize_images,
    sample_frames,
)
from ..operators.textsim import md5_long, with_shingles
from ..operators.vectors import (
    capped_query_set,
    cosine,
    ivf_assign,
    ivf_probe_cells,
    with_norm,
)
from ..sources.parquet import load_table
from . import register

# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

_KNN_K = 5
_KNN_QUERIES = 8  # vectors with vec_id < 8 act as the query set

_KNN_ORACLE = f"""
WITH norms AS (
  SELECT vec_id, embedding,
         sqrt((SELECT sum(CAST(embedding[s.i] AS DOUBLE) * CAST(embedding[s.i] AS DOUBLE))
               FROM (SELECT unnest(range(1, 65)) AS i) s)) AS nrm
  FROM embeddings
),
scored AS (
  SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
         (SELECT sum(CAST(q.embedding[s.i] AS DOUBLE) * CAST(d.embedding[s.i] AS DOUBLE))
          FROM (SELECT unnest(range(1, 65)) AS i) s) / (q.nrm * d.nrm) AS cos
  FROM norms q JOIN norms d ON q.vec_id < {_KNN_QUERIES} AND d.vec_id <> q.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, round(cos, 6) AS cosine, rank
FROM ranked WHERE rank <= {_KNN_K}
"""


@register("knn_brute_force", oracle=_KNN_ORACLE)
def knn_brute_force(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k: the 8 query vectors against the full corpus.

    Plan: the tiny query side broadcasts (BroadcastNestedLoopJoin), so the
    corpus — the 100 TB side — is scanned once and never shuffled for the
    scoring; only the |Q| x N scored pairs shuffle for the per-query top-k
    window. Dot products are sequential double accumulation via
    ``zip_with``/``aggregate`` (JVM, codegen), matching the oracle's
    element-order sum exactly. This is the exactness baseline the IVF path
    is measured against (tests/test_knn.py pins IVF recall vs. this).
    """
    normed = with_norm(
        rebalance(load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding"))
    )
    # The query side loads separately, WITHOUT the rebalance: deriving it
    # from `normed` would put the `vec_id < 8` filter above the round-robin
    # exchange, forcing a full re-scan + shuffle to produce 8 rows. A direct
    # load lets the predicate push into the parquet scan (PushedFilters) —
    # at 100 TB that's row-group pruning vs. a second full pass. The norm
    # fold computes on just the query rows; values are identical.
    # capped_query_set: the broadcast-BNLJ below is legal only while |Q|
    # stays bounded — raise past the cap rather than plan all-pairs.
    q = with_norm(
        capped_query_set(
            load_table(spark, sf_dir, "embeddings")
            .select("vec_id", "embedding")
            .where(F.col("vec_id") < _KNN_QUERIES)
        )
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    scored = normed.join(
        F.broadcast(q), on=F.col("vec_id") != F.col("query_id"), how="inner"
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        cosine(F.col("q_emb"), F.col("embedding"), F.col("q_nrm"), F.col("nrm")).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _KNN_K)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cos", 6).alias("cosine"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


# The IVF search is *approximate* relative to exact kNN but fully
# deterministic given the data: centroids are the 32 lowest vec_ids
# divisible by 31, cell assignment is an argmax with a fixed tie-break
# (larger cid wins — Spark's struct array_max), probes are the 8 nearest
# cells per query ((score, cid) descending — reverse(array_sort)). The
# oracle replays that exact procedure in SQL, so hash parity checks the
# whole index path, not just the final ranking. The dot/norm subquery
# idiom is the one _KNN_ORACLE already proved rank-parity for.
_IVF_DOT = (
    "(SELECT sum(CAST({a}[s.i] AS DOUBLE) * CAST({b}[s.i] AS DOUBLE)) "
    "FROM (SELECT unnest(range(1, 65)) AS i) s)"
)

_IVF_CTES = f"""norms AS (
  SELECT vec_id, embedding,
         sqrt({_IVF_DOT.format(a="embedding", b="embedding")}) AS nrm
  FROM embeddings
),
centroids AS (
  SELECT vec_id AS cid, embedding AS cemb, nrm AS cnrm
  FROM norms WHERE vec_id % 31 = 0 ORDER BY vec_id LIMIT 32
),
assigned AS (
  SELECT vec_id, cell_id FROM (
    SELECT n.vec_id, c.cid AS cell_id,
           row_number() OVER (
             PARTITION BY n.vec_id
             ORDER BY {_IVF_DOT.format(a="n.embedding", b="c.cemb")} / (n.nrm * c.cnrm)
                      DESC, c.cid DESC) AS rn
    FROM norms n CROSS JOIN centroids c
  ) WHERE rn = 1
),
probes AS (
  SELECT query_id, cell_id FROM (
    SELECT n.vec_id AS query_id, c.cid AS cell_id,
           row_number() OVER (
             PARTITION BY n.vec_id
             ORDER BY {_IVF_DOT.format(a="n.embedding", b="c.cemb")} / (n.nrm * c.cnrm)
                      DESC, c.cid DESC) AS rn
    FROM norms n CROSS JOIN centroids c
    WHERE n.vec_id < {_KNN_QUERIES}
  ) WHERE rn <= 8
)"""

_IVF_ORACLE = f"""
WITH {_IVF_CTES},
scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         {_IVF_DOT.format(a="q.embedding", b="d.embedding")} / (q.nrm * d.nrm) AS cos
  FROM probes p
  JOIN assigned a ON a.cell_id = p.cell_id AND a.vec_id <> p.query_id
  JOIN norms q ON q.vec_id = p.query_id
  JOIN norms d ON d.vec_id = a.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, round(cos, 6) AS cosine, rank
FROM ranked WHERE rank <= {_KNN_K}
"""


@register("knn_ann_ivf", oracle=_IVF_ORACLE)
def knn_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed approximate kNN — the 100 TB scale path.

    32 fixed centroids (a deterministic id-sampled subset — sampling keeps
    this query seed-free and engine-reproducible) partition the corpus into cells via a closed-form
    argmax expression (no join, no crossJoin). Each query probes its 8
    nearest cells and ranks only those cells' members, cutting scored pairs
    ~4x here and ~(k/nprobe)-fold generally. The approximation procedure
    itself is deterministic, so the oracle replays the full index path
    (centroid pick → cell assign → probe → rank) in SQL; tests/test_knn.py
    additionally pins recall@5 against ``knn_brute_force``.

    Centroid collect is bounded model state (32 x 64 floats), not data
    movement.
    """
    normed = with_norm(
        rebalance(load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding"))
    )
    # Centroid fetch and the query side read the table directly (no
    # rebalance): both are tiny selections, and keeping them off the
    # round-robin exchange means no extra full-corpus shuffle — the
    # centroid job is a plain pruned scan, and `vec_id < 8` pushes into
    # the parquet scan on the probe side (same reasoning as
    # knn_brute_force's query side; values are identical either way).
    base = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    centroid_rows = (
        base.where(F.col("vec_id") % 31 == 0).orderBy("vec_id").limit(32).collect()
    )
    centroids = [(int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in centroid_rows]

    cells = ivf_assign(normed, centroids)
    # Same |Q| bound as knn_brute_force: the probe table broadcast below is
    # |Q| x nprobe rows — bounded only while the query set is.
    q = with_norm(
        capped_query_set(base.where(F.col("vec_id") < _KNN_QUERIES))
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    probes = ivf_probe_cells(q, centroids, nprobe=8, vec_col="q_emb")
    scored = cells.join(F.broadcast(probes), on="cell_id").where(
        F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        cosine(F.col("q_emb"), F.col("embedding"), F.col("q_nrm"), F.col("nrm")).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _KNN_K)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cos", 6).alias("cosine"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


# Inertia of the deterministic IVF init — the objective a Lloyd trainer
# minimizes, query-shaped. Trained centroids are NOT hash-comparable across
# engines (cluster means sum floats in partition order), so the probe scores
# the init; it quantizes each row's squared distance to integer micro-units
# BEFORE the per-cell sum, making the aggregate order-free. d2 = v.v -
# 2 v.c + c.c with every dot the same sequential-accumulation idiom
# _IVF_ORACLE already proved bit-parity for.
_INERTIA_ORACLE = f"""
WITH norms AS (
  SELECT vec_id, embedding,
         sqrt({_IVF_DOT.format(a="embedding", b="embedding")}) AS nrm
  FROM embeddings
),
centroids AS (
  SELECT vec_id AS cid, embedding AS cemb, nrm AS cnrm
  FROM norms WHERE vec_id % 31 = 0 ORDER BY vec_id LIMIT 32
),
assigned AS (
  SELECT vec_id, cell_id FROM (
    SELECT n.vec_id, c.cid AS cell_id,
           row_number() OVER (
             PARTITION BY n.vec_id
             ORDER BY {_IVF_DOT.format(a="n.embedding", b="c.cemb")} / (n.nrm * c.cnrm)
                      DESC, c.cid DESC) AS rn
    FROM norms n CROSS JOIN centroids c
  ) WHERE rn = 1
),
dists AS (
  SELECT a.cell_id,
         CAST(floor((
           {_IVF_DOT.format(a="n.embedding", b="n.embedding")}
           - 2 * {_IVF_DOT.format(a="n.embedding", b="c.cemb")}
           + {_IVF_DOT.format(a="c.cemb", b="c.cemb")}
         ) * 1e6 + 0.5) AS BIGINT) AS d2_micro
  FROM assigned a
  JOIN norms n ON n.vec_id = a.vec_id
  JOIN centroids c ON c.cid = a.cell_id
)
SELECT cell_id, count(*) AS n_vectors, CAST(sum(d2_micro) AS BIGINT) AS inertia_micro
FROM dists GROUP BY cell_id
"""


@register("kmeans_inertia", oracle=_INERTIA_ORACLE)
def kmeans_inertia(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell KMeans objective (sum of squared L2 distances to the
    assigned centroid) for the deterministic id-sampled init the IVF index
    uses — the probe that tells an index build whether running a Lloyd
    trainer is worth it, and the quality metric a training round must
    improve.

    Scale: assignment is the closed-form literal-matrix argmax (no join);
    the distance needs the assigned centroid's vector, which arrives via a
    broadcast join against the 32-row centroid table; the per-cell sum is
    one partial-agg shuffle with k keys. No vector ever shuffles.
    """
    from ..operators.vectors import dot as vdot

    normed = rebalance(load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding"))
    base = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    centroid_rows = (
        base.where(F.col("vec_id") % 31 == 0).orderBy("vec_id").limit(32).collect()
    )
    centroids = [(int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in centroid_rows]

    cells = ivf_assign(normed, centroids).withColumn(
        "cell_id", F.col("cell_id").cast("long")
    )
    cdf = spark.createDataFrame(
        [(cid, vec) for cid, vec in centroids], "cell_id bigint, cemb array<double>"
    )
    v, c = F.col("embedding"), F.col("cemb")
    d2 = vdot(v, v) - F.lit(2.0) * vdot(v, c) + vdot(c, c)
    micro = F.floor(d2 * 1_000_000 + F.lit(0.5)).cast("long")
    return (
        cells.join(F.broadcast(cdf), "cell_id")
        .select("cell_id", micro.alias("d2_micro"))
        .groupBy("cell_id")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum("d2_micro").alias("inertia_micro"),
        )
    )


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

_STOPWORDS = ("the", "a", "of", "to", "in", "and")
_STOP_SQL = ", ".join(f"'{s}'" for s in _STOPWORDS)

_QUALITY_ORACLE = f"""
WITH w AS (SELECT doc_id, n_chars, string_split(text, ' ') AS words FROM documents)
SELECT doc_id,
       n_chars,
       len(words) AS word_count,
       len(list_distinct(words)) AS distinct_words,
       round(CAST(list_sum(list_transform(words, x -> length(x))) AS DOUBLE) / len(words), 6) AS avg_word_len,
       round(CAST(len(list_filter(words, x -> x IN ({_STOP_SQL}))) AS DOUBLE) / len(words), 6) AS stopword_ratio,
       round(CAST(len(list_distinct(words)) AS DOUBLE) / len(words), 6) AS type_token_ratio,
       CASE WHEN len(words) < 20 THEN 'short'
            WHEN CAST(len(list_distinct(words)) AS DOUBLE) / len(words) < 0.3 THEN 'repetitive'
            ELSE 'ok' END AS quality_bucket
FROM w
"""


@register("text_quality_scores", oracle=_QUALITY_ORACLE)
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality statistics: length, lexical diversity, stopword
    density, and a coarse quality bucket — the filter signals a pretraining
    corpus pipeline computes before sampling.

    Scale: pure per-row JVM expressions over the split words (higher-order
    functions, no explode, no shuffle, no Python) — a single codegen stage
    over the scan.
    """
    docs = load_table(spark, sf_dir, "documents")
    w = F.split("text", " ")
    word_count = F.size(w)
    distinct_words = F.size(F.array_distinct(w))
    sum_len = F.aggregate(
        F.transform(w, lambda x: F.length(x)), F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    stop_count = F.size(F.filter(w, lambda x: F.array_contains(stop_arr, x)))
    ttr = distinct_words.cast("double") / word_count.cast("double")
    return docs.select(
        "doc_id",
        "n_chars",
        word_count.cast("long").alias("word_count"),
        distinct_words.cast("long").alias("distinct_words"),
        F.round(sum_len.cast("double") / word_count.cast("double"), 6).alias("avg_word_len"),
        F.round(stop_count.cast("double") / word_count.cast("double"), 6).alias("stopword_ratio"),
        F.round(ttr, 6).alias("type_token_ratio"),
        F.when(word_count < 20, F.lit("short"))
        .when(ttr < 0.3, F.lit("repetitive"))
        .otherwise(F.lit("ok"))
        .alias("quality_bucket"),
    )


_TOKEN_ORACLE = """
SELECT doc_id,
       len(string_split(text, ' ')) AS ws_tokens,
       len(regexp_extract_all(text, '[a-z0-9]+')) AS re_tokens,
       CAST(ceil(n_chars / 4.0) AS BIGINT) AS bpe_token_est
FROM documents
"""


@register("text_token_count", oracle=_TOKEN_ORACLE)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting three ways: whitespace split, a BPE-ish regex token
    pass (``[a-z0-9]+`` word pieces), and the chars/4 heuristic estimate
    used for quick corpus sizing. All JVM-side per-row expressions."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("ws_tokens"),
        F.regexp_count("text", F.lit("[a-z0-9]+")).cast("long").alias("re_tokens"),
        F.ceil(F.col("n_chars") / 4.0).cast("long").alias("bpe_token_est"),
    )


_LANG_MARKERS = {
    "en": ("the", "a", "of"),
    "es": ("el", "la", "de"),
    "de": ("der", "und", "die"),
}


def _lang_oracle() -> str:
    score = {
        lang: f"len(list_filter(words, x -> x IN ({', '.join(repr(m) for m in ms)})))"
        for lang, ms in _LANG_MARKERS.items()
    }
    return f"""
WITH w AS (SELECT doc_id, lang, string_split(text, ' ') AS words FROM documents),
s AS (
  SELECT doc_id, lang,
         {score["en"]} AS en_score,
         {score["es"]} AS es_score,
         {score["de"]} AS de_score
  FROM w
)
SELECT doc_id, lang AS labeled_lang,
       CASE WHEN greatest(en_score, es_score, de_score) = 0 THEN 'und'
            WHEN en_score >= greatest(es_score, de_score) THEN 'en'
            WHEN es_score >= de_score THEN 'es'
            ELSE 'de' END AS predicted_lang,
       CAST(greatest(en_score, es_score, de_score) AS BIGINT) AS marker_hits
FROM s
"""


@register("text_lang_id", oracle=_lang_oracle())
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language-ID heuristic (argmax over per-language stopword
    hit counts, deterministic tie order en > es > de, 'und' when no marker
    fires).

    The synthetic corpus draws every doc from one English-ish vocabulary
    regardless of its ``lang`` label, so the interesting output here is the
    *mechanism* (per-language scoring + argmax + unknown fallback — the shape
    of a real fastText-style gate), not the accuracy; real marker lists swap
    in without touching the plan. Per-row JVM expressions, no shuffle.
    """
    docs = load_table(spark, sf_dir, "documents")
    w = F.split("text", " ")

    def score(markers: tuple[str, ...]):
        arr = F.array(*[F.lit(m) for m in markers])
        return F.size(F.filter(w, lambda x: F.array_contains(arr, x)))

    en, es, de = (score(_LANG_MARKERS[lang]) for lang in ("en", "es", "de"))
    best = F.greatest(en, es, de)
    return docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        F.when(best == 0, F.lit("und"))
        .when(en >= F.greatest(es, de), F.lit("en"))
        .when(es >= de, F.lit("es"))
        .otherwise(F.lit("de"))
        .alias("predicted_lang"),
        best.cast("long").alias("marker_hits"),
    )


_FINGERPRINT_ORACLE = """
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words
  FROM documents
  WHERE len(string_split(text, ' ')) >= 3
),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(words[i:i+2], ' ') AS shingle
  FROM (SELECT doc_id, words, unnest(range(1, len(words) - 1)) AS i FROM w)
)
SELECT doc_id,
       min(CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT)) AS fingerprint,
       count(*) AS n_shingles
FROM sh GROUP BY doc_id
"""


@register("doc_fingerprint", oracle=_FINGERPRINT_ORACLE)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style document fingerprint: the minimum rolling (3-word
    shingle) hash per document — the 8-byte sketch dedup/citation systems
    store per doc. Uses the md5-prefix hash both engines compute identically,
    so the oracle is exact. Pure per-row expression (``array_min`` over the
    doc's own shingle hashes) — no explode, no shuffle."""
    docs = rebalance(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    sh = with_shingles(docs, k=3)
    return sh.select(
        "doc_id",
        F.array_min(F.transform("shingles", lambda s: md5_long(s))).alias("fingerprint"),
        F.size("shingles").cast("long").alias("n_shingles"),
    )


# ---------------------------------------------------------------------------
# Multimodal
# ---------------------------------------------------------------------------

_MM_META_ORACLE = """
SELECT doc_id,
       'raw' AS codec,
       octet_length(encode(text)) AS n_bytes,
       upper(hex(encode(substring(text, 1, 4)))) AS prefix_hex,
       md5(text) AS content_md5
FROM documents
"""


@register("multimodal_metadata", oracle=_MM_META_ORACLE)
def multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata over an opaque binary payload column: codec tag, byte
    length, magic-prefix hex (the bytes a format sniffer reads), content
    digest. The payload is the UTF-8 text bytes (no real media in the
    testdata) — the schema and expressions are exactly what a jpeg/wav
    column needs. Per-row JVM expressions over the binary column."""
    assets = documents_as_binary(load_table(spark, sf_dir, "documents"))
    return assets.select(
        "doc_id",
        F.col("meta.codec").alias("codec"),
        F.col("meta.n_bytes").alias("n_bytes"),
        F.upper(F.hex(F.expr("substring(content, 1, 4)"))).alias("prefix_hex"),
        F.col("meta.content_md5").alias("content_md5"),
    )


# The featurizer is deterministic byte math, so even this Python-side path
# gets a full SQL twin: per-payload byte list via hex-pair extraction, mean
# as an exact integer-sum fold, entropy from distinct-value counts. List
# functions (not unnest + re-aggregation) keep DuckDB's binder from
# inlining aggregates into a lateral. Float notes: the engines sum the
# entropy terms in different orders (numpy pairwise vs sequential) but
# quantize-to-6 absorbs the ~1e-15 reorder tail; the quantize itself is
# floor(x*1e6+0.5)/1e6 on BOTH sides because byte means over power-of-two
# payload lengths are dyadic rationals that hit the 6-decimal half exactly,
# where Python's round (half-even) and DuckDB's (half-away) disagree.
_MM_FEATURES_ORACLE = """
WITH payload AS (
  SELECT doc_id,
         list_transform(regexp_extract_all(hex(encode(text)), '..'),
                        x -> CAST('0x' || x AS INTEGER)) AS bs,
         CAST(octet_length(encode(text)) AS BIGINT) AS n
  FROM documents
)
SELECT doc_id, n AS n_bytes,
       CASE WHEN n = 0 THEN 0.0
            ELSE floor(CAST(list_sum(bs) AS DOUBLE) / n * 1e6 + 0.5) / 1e6
       END AS byte_mean,
       CASE WHEN n = 0 THEN 0.0
            ELSE floor(-list_sum(list_transform(
                   list_transform(list_distinct(bs),
                                  v -> len(list_filter(bs, x -> x = v))),
                   c -> (CAST(c AS DOUBLE) / n) * log2(CAST(c AS DOUBLE) / n)))
                 * 1e6 + 0.5) / 1e6
       END AS byte_entropy
FROM payload
"""


@register("multimodal_features", oracle=_MM_FEATURES_ORACLE)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched feature extraction over the binary payloads via
    ``mapInPandas`` — the decode/featurize slot of a media pipeline, with a
    deterministic byte-statistics featurizer standing in for the codec
    (which is stubbed; see operators/multimodal.py). No shuffle; Python sees
    Arrow batches, never rows. tests/test_multimodal.py pins the output
    against a pure-Python twin, and the SQL oracle replays the byte math."""
    assets = documents_as_binary(load_table(spark, sf_dir, "documents"))
    return extract_features(assets)


# Frame digests compare as md5-of-hex-string: DuckDB's md5 only takes
# VARCHAR (no blob overload), and both engines' hex() is uppercase, so the
# hex text is the shared canonical form.
_MM_FRAMES_ORACLE = """
WITH payload AS (
  SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS n
  FROM documents
),
frames AS (
  SELECT doc_id, unnest(range(0, n // 64)) AS frame_idx, hx FROM payload
)
SELECT doc_id, frame_idx,
       md5(substring(hx, CAST(frame_idx * 128 + 1 AS BIGINT), 128)) AS frame_md5
FROM frames WHERE frame_idx % 3 = 0
"""


@register("multimodal_frame_sample", oracle=_MM_FRAMES_ORACLE)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-pipeline frame sampling: fixed 64-byte frames per payload
    (partial tail dropped), every 3rd frame kept. The extraction is a
    1->N-row ``mapInPandas`` — the Arrow-batch fan-out shape a real
    frame decoder uses — and the emitted frames are digest-checked
    against the oracle's hex-slice twin. No shuffle: sampling is
    embarrassingly parallel."""
    assets = documents_as_binary(load_table(spark, sf_dir, "documents"))
    return sample_frames(assets).select(
        "doc_id", "frame_idx", F.md5(F.hex("frame")).alias("frame_md5")
    )


# Bucket k of an n-byte stream is the slice [ceil(k*n/16), ceil((k+1)*n/16))
# — the closed form of "byte j lands in bucket j*16 // n" — so the oracle
# pools each bucket with list slicing + integer division: no unnest-then-
# aggregate (DuckDB binder trap), and floor-of-mean is exact in both engines.
_MM_RESAMPLE_ORACLE = """
WITH payload AS (
  SELECT doc_id,
         list_transform(regexp_extract_all(hex(encode(text)), '..'),
                        x -> CAST('0x' || x AS INTEGER)) AS bs,
         octet_length(encode(text)) AS n
  FROM documents
  WHERE octet_length(encode(text)) >= 16
),
buckets AS (
  SELECT doc_id, unnest(range(0, 16)) AS bucket, bs, n FROM payload
)
SELECT doc_id, bucket,
       CAST(list_sum(bs[CAST((bucket * n + 15) // 16 + 1 AS BIGINT)
                        :CAST(((bucket + 1) * n + 15) // 16 AS BIGINT)])
            // (((bucket + 1) * n + 15) // 16 - (bucket * n + 15) // 16)
            AS BIGINT) AS value
FROM buckets
"""


@register("multimodal_resample", oracle=_MM_RESAMPLE_ORACLE)
def multimodal_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-pipeline downsampling: each payload's byte stream pooled to 16
    buckets, floor-of-bucket-mean (exact integer math). Arrow-batched
    ``mapInPandas`` with numpy ``bincount`` pooling — the vectorized shape a
    real resampler (polyphase filter, mel bins) plugs into."""
    assets = documents_as_binary(load_table(spark, sf_dir, "documents"))
    return resample_audio(assets)


# The resize twin pools pixel (i, j) into block (i*8 // side, j*8 // side);
# the oracle uses the closed-form inverse (block r covers rows
# [ceil(r*side/8), ceil((r+1)*side/8))) — same derivation as the resample
# oracle's bucket slices, lifted to 2-D: an outer list_transform over the
# block's rows, each row a 1-based-inclusive list slice of its columns.
# isqrt is floor(sqrt(n)) with a ±1 integer correction so fp sqrt error on
# perfect squares can't shift the side. Both engines floor-divide
# nonnegative integers, and hex()/printf('%02X') agree on uppercase, so the
# 8x8 grid compares as one 128-char hex string per doc.
_MM_RESIZE_ORACLE = """
WITH payload AS (
  SELECT doc_id,
         list_transform(regexp_extract_all(hex(encode(text)), '..'),
                        x -> CAST('0x' || x AS INTEGER)) AS bs,
         CAST(octet_length(encode(text)) AS BIGINT) AS n
  FROM documents
),
sided AS (
  SELECT doc_id, bs, n,
         CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS s0
  FROM payload
),
sq AS (
  SELECT doc_id, bs,
         s0 + (CASE WHEN (s0 + 1) * (s0 + 1) <= n THEN 1 ELSE 0 END)
            - (CASE WHEN s0 * s0 > n THEN 1 ELSE 0 END) AS side
  FROM sided
),
blocks AS (
  SELECT doc_id, side, bs, unnest(range(0, 64)) AS pixel_idx
  FROM sq WHERE side >= 8
),
pooled AS (
  SELECT doc_id, side, pixel_idx,
         CAST(list_sum(list_transform(
                range(((pixel_idx // 8) * side + 7) // 8,
                      ((pixel_idx // 8 + 1) * side + 7) // 8),
                i -> list_sum(
                       bs[CAST(i * side + ((pixel_idx % 8) * side + 7) // 8 + 1 AS BIGINT)
                          :CAST(i * side + ((pixel_idx % 8 + 1) * side + 7) // 8 AS BIGINT)])))
              // ((((pixel_idx // 8 + 1) * side + 7) // 8
                   - ((pixel_idx // 8) * side + 7) // 8)
                  * (((pixel_idx % 8 + 1) * side + 7) // 8
                     - ((pixel_idx % 8) * side + 7) // 8))
              AS BIGINT) AS v
  FROM blocks
)
SELECT doc_id, side,
       string_agg(printf('%02X', CAST(v AS INTEGER)), '' ORDER BY pixel_idx) AS pixels_hex
FROM pooled
GROUP BY doc_id, side
"""


@register("multimodal_resize", oracle=_MM_RESIZE_ORACLE)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-pipeline resize: each payload viewed as a square grayscale
    plane (side = isqrt(bytes), tail truncated) block-mean-pooled to 8x8 —
    exact integer floor-of-mean math, numpy-vectorized inside an
    Arrow-batched ``mapInPandas`` (the slot a real decoder + interpolating
    resizer plugs into; docs smaller than 8x8 drop). No shuffle:
    embarrassingly parallel per row."""
    assets = documents_as_binary(load_table(spark, sf_dir, "documents"))
    return resize_images(assets).select(
        "doc_id", "side", F.hex("pixels").alias("pixels_hex")
    )


# ---------------------------------------------------------------------------
# Retrieval / ranking baselines and benchmark-contamination detection
# ---------------------------------------------------------------------------

_TFIDF_TOPK = 3

_TFIDF_ORACLE = f"""
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
         round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfreq.df), 6) AS tfidf
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank
  FROM scored
)
SELECT doc_id, term, tf, df, tfidf, rank FROM ranked WHERE rank <= {_TFIDF_TOPK}
"""


@register("text_tfidf_topk", oracle=_TFIDF_ORACLE)
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-k most-characteristic terms per document — the classic
    keyword-relevance signal a corpus pipeline computes for topic tagging
    and near-duplicate triage.

    Plan: one scan → explode → (doc_id, term) count [1 shuffle],
    materialized once (``localCheckpoint``, the signature-table pass —
    AQE's stage planning does not reuse the exchange across the broadcast
    boundary, so without it the corpus would be scanned and re-aggregated
    twice); the vocab-sized df table broadcasts back onto the tf table,
    and the per-doc top-k window shuffles on doc_id once. The corpus count
    is one driver-side scalar — the same bounded-model-state contract as
    the CC convergence flag and the KMeans centroids. At 100 TB the only
    O(corpus) movement is the single tf shuffle — vocab and df are bounded
    by distinct-term cardinality.
    """
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        rebalance(docs.select("doc_id", F.split("text", " ").alias("words")))
        .select("doc_id", F.explode("words").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
        .localCheckpoint(eager=True)
    )
    n_docs = docs.count()
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = tf.join(F.broadcast(dfreq), "term").select(
        "doc_id",
        "term",
        "tf",
        "df",
        F.round(
            F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6
        ).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _TFIDF_TOPK)
    )


_BM25_TERMS = ("spark", "window", "merge")
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOPK = 20

# Base CTEs (corpus stats + matched postings + document frequency) and the
# ONE per-(doc, term) integer-micro-unit score expression — shared by
# text_bm25_search, the hybrid reranker, AND search_ndcg_mrr_eval's oracle,
# so a k1/b or quantization change to the ranker propagates to its own eval
# by construction.
_BM25_BASE_CTES = f"""stats AS (
  SELECT count(*) AS n_docs,
         CAST(sum(len(string_split(text, ' '))) AS DOUBLE) / count(*) AS avgdl
  FROM documents
),
tok AS (SELECT doc_id, len(string_split(text, ' ')) AS dl,
               unnest(string_split(text, ' ')) AS term
        FROM documents),
tf AS (
  SELECT doc_id, dl, term, count(*) AS tf
  FROM tok WHERE term IN {repr(tuple(_BM25_TERMS))}
  GROUP BY doc_id, dl, term
),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term)"""

_BM25_SCORE_SQL = f"""CAST(floor(
           ln(1 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
           * (tf.tf * {_BM25_K1 + 1!r})
           / (tf.tf + {_BM25_K1!r} * (1 - {_BM25_B!r} + {_BM25_B!r} * tf.dl / stats.avgdl))
           * 1000000 + 0.5) AS BIGINT)"""

_BM25_CTES = f"""{_BM25_BASE_CTES},
contrib AS (
  SELECT tf.doc_id,
         {_BM25_SCORE_SQL} AS c
  FROM tf JOIN dfreq USING (term) CROSS JOIN stats
)"""

_BM25_ORACLE = f"""
WITH {_BM25_CTES}
SELECT doc_id, round(CAST(sum(c) AS DOUBLE) / 1000000.0, 6) AS bm25
FROM contrib GROUP BY doc_id
ORDER BY bm25 DESC, doc_id LIMIT {_BM25_TOPK}
"""


def _bm25_term_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(doc, term) BM25 contribution on the exact integer micro-unit
    grain (``floor(x*1e6+0.5)``) — the ONE Spark-side definition of the
    scoring formula, consumed by ``text_bm25_search``/``search_rrf_fusion``
    (summed per doc) and ``search_ndcg_mrr_eval`` (ranked per term), the
    mirror of ``_BM25_SCORE_SQL`` on the oracle side. One posting-list
    shuffle; the tf table materializes once and the 3-row df table
    broadcasts back. Returns (doc_id, term, tf, c)."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    n_docs, sum_dl = docs.agg(
        F.count("*"), F.sum(F.size(words)).cast("long")
    ).first()
    avgdl = float(sum_dl) / n_docs
    tf = (
        rebalance(docs.select("doc_id", words.alias("words")))
        .select("doc_id", F.size("words").alias("dl"), F.explode("words").alias("term"))
        .where(F.col("term").isin(*_BM25_TERMS))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count("*").alias("tf"))
        .localCheckpoint(eager=True)
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.lit(n_docs) - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    contrib = F.floor(
        idf
        * (F.col("tf") * F.lit(_BM25_K1 + 1))
        / (
            F.col("tf")
            + F.lit(_BM25_K1)
            * (F.lit(1.0) - F.lit(_BM25_B) + F.lit(_BM25_B) * F.col("dl") / F.lit(avgdl))
        )
        * F.lit(1000000.0)
        + F.lit(0.5)
    )
    return tf.join(F.broadcast(dfreq), "term").select(
        "doc_id", "term", "tf", contrib.alias("c")
    )


def _bm25_micro_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document BM25 score: the per-term micro-unit contributions
    summed — integer, so independent of float summation order in either
    engine. ``text_bm25_search`` renders it as a rounded double
    (``round(s/1e6, 6)`` keeps all six decimals, the same bijection);
    ``search_rrf_fusion`` ranks the raw integers."""
    return (
        _bm25_term_scores(spark, sf_dir)
        .groupBy("doc_id")
        .agg(F.sum("c").cast("long").alias("s"))
    )


@register("text_bm25_search", oracle=_BM25_ORACLE)
def text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword search (k1=1.2, b=0.75): score every document against a
    fixed query-term set, return the top 20 — the lexical-retrieval baseline
    every RAG/curation stack keeps next to its embedding index.

    Cross-engine determinism: per-term contributions are scaled to integer
    micro-units (``floor(x*1e6+0.5)``) *before* the per-doc sum, so the
    result is independent of float summation order in either engine.

    Plan: one scan → explode filtered to the query terms (the IN filter
    prunes before the shuffle) → (doc, dl, term) count [1 shuffle],
    materialized once (``localCheckpoint`` — it feeds both the df count
    and the scoring probe); the 3-row df table broadcasts back; final
    per-doc sum + global top-k plans as TakeOrderedAndProject. The corpus
    stats (count, avg doc length — exact integer sums, so both engines
    derive the identical double) come back as one driver-side scalar row,
    the bounded-model-state contract. The corpus-sized movement is only
    the matched postings — at 100 TB that's |query terms| posting lists,
    the inverted-index access pattern, never the full corpus.
    """
    return (
        _bm25_micro_scores(spark, sf_dir)
        .select(
            "doc_id",
            F.round(F.col("s").cast("double") / 1000000.0, 6).alias("bm25"),
        )
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(_BM25_TOPK)
    )


# The lexical→semantic two-stage retrieval every RAG/curation stack runs:
# BM25 selects candidates, an embedding rerank orders them. Documents and
# embeddings share ids (doc_id == vec_id); candidates without an embedding
# (possible at sfs where the vector table covers a prefix of the corpus)
# drop at the inner join, mirrored on both engines. The query vector is
# vec 0's embedding — bounded model state, like the IVF centroids.
_HYBRID_ORACLE = f"""
WITH {_BM25_CTES},
cands AS (
  SELECT doc_id, round(CAST(sum(c) AS DOUBLE) / 1000000.0, 6) AS bm25
  FROM contrib GROUP BY doc_id
  ORDER BY bm25 DESC, doc_id LIMIT {_BM25_TOPK}
),
qv AS (SELECT embedding AS q FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT c.doc_id, c.bm25,
         {_IVF_DOT.format(a="e.embedding", b="qv.q")}
         / (sqrt({_IVF_DOT.format(a="e.embedding", b="e.embedding")})
            * sqrt({_IVF_DOT.format(a="qv.q", b="qv.q")})) AS cos
  FROM cands c
  JOIN embeddings e ON e.vec_id = c.doc_id
  CROSS JOIN qv
)
SELECT doc_id, bm25, round(cos, 6) AS cosine,
       CAST(row_number() OVER (ORDER BY cos DESC, doc_id) AS BIGINT) AS rank
FROM scored
"""


@register("search_hybrid_rerank", oracle=_HYBRID_ORACLE)
def search_hybrid_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 lexical candidates (same pipeline as
    ``text_bm25_search``) reranked by embedding cosine against a fixed
    query vector — the two-stage lexical→semantic shape every RAG and
    curation stack runs, with both stages' scores surfaced.

    Scale: stage 1 moves only the query terms' posting lists; the 20-row
    candidate table then BROADCASTS against one embedding-table scan (at
    100 TB this degenerates to point lookups on an id-partitioned vector
    store — the broadcast-filtered scan is the Spark-idiomatic batch form),
    and the rerank window sorts 20 rows. The query vector and its norm are
    driver-side bounded model state.
    """
    import math

    from ..operators.vectors import const_vec, dot as vdot, with_norm

    cands = text_bm25_search(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
    q_nrm = math.sqrt(sum(x * x for x in q))

    en = with_norm(emb)
    cos = vdot(F.col("embedding"), const_vec(q)) / (F.col("nrm") * F.lit(q_nrm))
    scored = (
        en.join(F.broadcast(cands), en["vec_id"] == cands["doc_id"])
        .select("doc_id", "bm25", cos.alias("cos"))
    )
    w = Window.orderBy(F.desc("cos"), F.asc("doc_id"))
    return scored.select(
        "doc_id",
        "bm25",
        F.round("cos", 6).alias("cosine"),
        F.row_number().over(w).cast("long").alias("rank"),
    )


_CONTAM_K = 5
_CONTAM_MOD = 97
_CONTAM_THRESH = 0.5


def _contam_hits_sql() -> str:
    """The SQL side of the ONE overlap definition (``sh``/``bench``/``hits``
    CTEs): distinct word 5-grams per doc, the benchmark gram set, and the
    per-doc (n_grams, n_hits) aggregate — shared verbatim by the check's
    oracle, the decontamination audit's oracle, and the ingest screen's
    oracle, so no oracle can disagree about what overlaps."""
    from .dedup_queries import _shingle_cte

    return f"""{_shingle_cte(_CONTAM_K)},
bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % {_CONTAM_MOD} = 0),
hits AS (
  SELECT sh.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         CAST(count(b.shingle) AS BIGINT) AS n_hits
  FROM sh LEFT JOIN bench b ON sh.shingle = b.shingle
  GROUP BY sh.doc_id
)"""


def _contam_oracle() -> str:
    return f"""
WITH {_contam_hits_sql()}
SELECT doc_id, n_grams, n_hits,
       round(n_hits / n_grams, 6) AS overlap_frac,
       CAST(n_hits / n_grams >= {_CONTAM_THRESH} AS INTEGER) AS contaminated
FROM hits
"""


@register("text_contamination_check", oracle=_contam_oracle())
def text_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination detection: fraction of each document's
    distinct word 5-grams that appear anywhere in a designated "benchmark"
    subset (doc_id % 97 == 0 stands in for the eval-set text) — the overlap
    screen run before training data ships.

    Plan: the shingle table materializes once (``localCheckpoint`` — the
    same signature-table pass the dedup family uses, which also stops
    ``InferFiltersFromGenerate`` from re-deriving the shingle expression
    below the exchange); the benchmark n-gram set is distinct-small by
    construction and **broadcasts**, so the corpus side is a map-side
    left join + one groupBy(doc_id) shuffle. At 100 TB the benchmark set
    is the eval suite (tiny); the corpus never self-joins.
    """
    ratio = F.col("n_hits") / F.col("n_grams")
    return _contam_hits(spark, sf_dir).select(
        "doc_id",
        "n_grams",
        "n_hits",
        F.round(ratio, 6).alias("overlap_frac"),
        (ratio >= _CONTAM_THRESH).cast("int").alias("contaminated"),
    )


def _contam_grams(docs: DataFrame) -> DataFrame:
    """(doc_id, g) distinct word 5-gram rows — the gram derivation shared
    by the batch frame and the ingest screen's per-batch probe (docs too
    short to shingle contribute no rows, by the with_shingles contract)."""
    return with_shingles(docs, k=_CONTAM_K).select(
        "doc_id", F.explode("shingles").alias("g")
    )


def _contam_bench_from_grams(doc_grams: DataFrame) -> DataFrame:
    """THE benchmark gram set: distinct 5-grams of the ``doc_id %
    _CONTAM_MOD == 0`` eval stand-in docs — one definition for the batch
    frame and the screen's static broadcast index."""
    return (
        doc_grams.where(F.col("doc_id") % _CONTAM_MOD == 0)
        .select("g")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )


def _contam_overlap(doc_grams: DataFrame, bench: DataFrame) -> DataFrame:
    """THE overlap aggregate — per-doc (doc_id, n_grams, n_hits) against
    the (broadcast) benchmark gram set; one definition for the check, the
    decontamination audit, and the ingest screen."""
    return (
        doc_grams.join(F.broadcast(bench), "g", "left")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_grams"), F.count("_hit").alias("n_hits"))
    )


def _contam_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc (doc_id, n_grams, n_hits) against the benchmark n-gram set —
    the contamination frame shared by the check and the decontamination
    rollup (one overlap definition, so the remover can never disagree with
    the screen about what overlaps). The shingle table materializes ONCE
    (localCheckpoint) and feeds both the bench derivation and the probe."""
    docs = load_table(spark, sf_dir, "documents")
    sh = with_shingles(rebalance(docs), k=_CONTAM_K).localCheckpoint(eager=True)
    dg = sh.select("doc_id", F.explode("shingles").alias("g"))
    return _contam_overlap(dg, _contam_bench_from_grams(dg))


# ---------------------------------------------------------------------------
# text_ngram_lm_counts — corpus n-gram count table (LM-style statistics)
# ---------------------------------------------------------------------------

_LM_TOPK = 100


@register(
    "text_ngram_lm_counts",
    oracle=f"""
WITH w AS (
  SELECT doc_id, string_split(lower(text), ' ') AS words
  FROM documents
  WHERE len(string_split(text, ' ')) >= 2
),
grams AS (
  SELECT array_to_string(words[i:i+1], ' ') AS bigram
  FROM (SELECT words, unnest(range(1, len(words))) AS i FROM w)
),
counts AS (
  SELECT bigram, count(*) AS n FROM grams GROUP BY bigram
)
SELECT bigram, n
FROM counts
ORDER BY n DESC, bigram
LIMIT {_LM_TOPK}
""",
)
def text_ngram_lm_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level n-gram language-model counts: lowercase word bigrams
    counted across every document, top-100 table (count desc, bigram
    asc — fully deterministic). The count table is the raw material for
    KenLM-style quality filtering and for interpolated-backoff scoring.

    Scale: explode fans each doc into ~|words| bigram rows map-side; the
    count is one groupBy with map-side partial aggregation (the combiner
    absorbs the Zipf head before the shuffle — the heaviest bigram arrives
    pre-counted per partition, so key skew does not concentrate rows), and
    the top-k plans as TakeOrderedAndProject, never a global sort of the
    full vocabulary.
    """
    docs = load_table(spark, sf_dir, "documents").select("text")
    words = F.split(F.lower("text"), " ")
    bigrams = F.expr(
        "transform(sequence(1, size(words) - 1),"
        " i -> concat(words[i-1], ' ', words[i]))"
    )
    return (
        docs.where(F.size(F.split("text", " ")) >= 2)
        .select(words.alias("words"))
        .select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "bigram")
        .limit(_LM_TOPK)
    )


# ---------------------------------------------------------------------------
# text_lm_logprob — per-doc bigram LM log-likelihood (perplexity filter)
# ---------------------------------------------------------------------------

# Per-occurrence terms quantize to integer micro-units BEFORE the per-doc
# sum (the BM25 trick), so the per-doc aggregate is float-order-free; the
# ln itself is the same libm call both engines make on identical doubles
# (precedent: text_tfidf_topk ranks on ln and hash-matches).
_LM_LOGPROB_ORACLE = """
WITH w AS (
  SELECT doc_id, string_split(lower(text), ' ') AS words
  FROM documents WHERE len(string_split(text, ' ')) >= 2
),
big AS (
  SELECT doc_id, words[i] AS prev, words[i+1] AS cur
  FROM (SELECT doc_id, words, unnest(range(1, len(words))) AS i FROM w)
),
cb AS (SELECT prev, cur, count(*) AS c2 FROM big GROUP BY prev, cur),
cp AS (SELECT prev, count(*) AS c1 FROM big GROUP BY prev),
terms AS (
  SELECT b.doc_id,
         CAST(floor(ln(CAST(cb.c2 AS DOUBLE) / cp.c1) * 1000000 + 0.5) AS BIGINT)
           AS t_micro
  FROM big b JOIN cb ON cb.prev = b.prev AND cb.cur = b.cur
             JOIN cp ON cp.prev = b.prev
)
SELECT doc_id,
       count(*) AS n_bigrams,
       CAST(sum(t_micro) AS BIGINT) AS logprob_micro_sum,
       round(CAST(sum(t_micro) AS DOUBLE) / 1000000.0 / count(*), 6)
         AS avg_logprob
FROM terms GROUP BY doc_id
"""


@register("text_lm_logprob", oracle=_LM_LOGPROB_ORACLE)
def text_lm_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document average bigram log-likelihood under the corpus's own
    bigram LM — the KenLM-style fluency signal quality pipelines threshold
    on (gibberish and boilerplate score far from the corpus mode). The
    conditional is ``C(prev cur) / C(prev ·)`` over bigram occurrences, so
    the model is self-contained: no external LM artifact, exactly
    reproducible.

    Scale: one explode pass emits bigram occurrences map-side; the two
    count tables are vocab²- and vocab-sized aggregates that join back onto
    the occurrence stream (broadcast when small, shuffle join when the
    vocabulary outgrows memory — Catalyst's size estimate decides); the
    per-doc reduction is one partial-agg shuffle on doc_id. Contributions
    quantize to integer micro-units before summing, so the score is
    independent of aggregation order in either engine.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    words = F.split(F.lower("text"), " ")
    big = (
        docs.where(F.size(F.split("text", " ")) >= 2)
        .select("doc_id", words.alias("words"))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(words) - 1),"
                    " i -> struct(words[i-1] AS prev, words[i] AS cur))"
                )
            ).alias("b"),
        )
        .select("doc_id", "b.prev", "b.cur")
    )
    cb = big.groupBy("prev", "cur").agg(F.count(F.lit(1)).alias("c2"))
    cp = big.groupBy("prev").agg(F.count(F.lit(1)).alias("c1"))
    # ln-quantization boundary risk accepted — canonical note at
    # corpus_queries.sample_importance_dsir.
    t_micro = F.floor(
        F.log(F.col("c2").cast("double") / F.col("c1")) * 1_000_000 + F.lit(0.5)
    ).cast("long")
    return (
        big.join(cb, ["prev", "cur"])
        .join(cp, "prev")
        .select("doc_id", t_micro.alias("t_micro"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("t_micro").alias("logprob_micro_sum"),
            F.round(
                F.sum("t_micro").cast("double") / 1_000_000.0 / F.count(F.lit(1)), 6
            ).alias("avg_logprob"),
        )
    )


# ---------------------------------------------------------------------------
# embedding_dim_stats — per-dimension corpus statistics (whitening prep)
# ---------------------------------------------------------------------------


@register(
    "embedding_dim_stats",
    oracle="""
SELECT i - 1 AS dim,
       count(*) AS n,
       CAST(min(CAST(x AS DOUBLE)) AS DOUBLE) AS min_val,
       CAST(max(CAST(x AS DOUBLE)) AS DOUBLE) AS max_val,
       CAST(sum(CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
         AS sum_micro,
       CAST(floor(CAST(sum(CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
            / count(*)) AS BIGINT) AS mean_micro
FROM (SELECT unnest(embedding) AS x, generate_subscripts(embedding, 1) AS i
      FROM embeddings)
GROUP BY i
""",
)
def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension corpus statistics over the embedding column — the
    scan that feeds normalization/whitening (per-dim mean for centering,
    min/max for range checks, count for nullity audits).

    Float-sum order varies with partitioning, so the mean is computed in
    integer micro-units: each component is floor(x*1e6 + 0.5) as a long
    (identical double-precision arithmetic in both engines), and longs sum
    order-independently — the cross-engine-exact form of a float mean.
    min/max are order-independent as-is.

    Scale: posexplode fans 64 rows per vector map-side, then one partial
    aggregation to exactly 64 groups — the shuffle moves 64 rows per map
    partition regardless of corpus size. (The columnar alternative — a
    single ``aggregate`` over an array-of-structs accumulator — avoids the
    fan-out but loses partial aggregation; the explode form is the one that
    scales.)
    """
    emb = load_table(spark, sf_dir, "embeddings").select("embedding")
    x = F.col("x").cast("double")
    micro = F.floor(x * 1_000_000 + F.lit(0.5)).cast("long")
    return (
        emb.select(F.posexplode("embedding").alias("dim", "x"))
        .groupBy("dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(x).alias("min_val"),
            F.max(x).alias("max_val"),
            F.sum(micro).alias("sum_micro"),
            F.floor(F.sum(micro).cast("double") / F.count(F.lit(1))).cast("long").alias("mean_micro"),
        )
    )


# ---------------------------------------------------------------------------
# embedding_label_confusion — nearest-centroid classification audit
# ---------------------------------------------------------------------------

# All math in integer micro-units end to end: components floor to longs,
# per-(label, dim) centroid means are floor(int-sum / count), and squared
# L2 distances are pure long arithmetic — so the argmin is deterministic in
# both engines with NO float-order hazard anywhere (same trick as
# embedding_dim_stats / kmeans_inertia, pushed through a whole classifier).
_CONF_ORACLE = """
WITH m AS (
  SELECT vec_id, label,
         list_transform(embedding,
                        x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS micro
  FROM embeddings
),
cent AS (
  SELECT label, s.i AS dim,
         CAST(floor(CAST(sum(micro[s.i]) AS DOUBLE) / count(*)) AS BIGINT) AS c
  FROM m, (SELECT unnest(range(1, 65)) AS i) s
  GROUP BY label, s.i
),
cvec AS (SELECT label, list(c ORDER BY dim) AS cmicro FROM cent GROUP BY label),
scored AS (
  SELECT m.vec_id, m.label AS true_label, c.label AS cand,
         (SELECT sum((m.micro[s.i] - c.cmicro[s.i]) * (m.micro[s.i] - c.cmicro[s.i]))
          FROM (SELECT unnest(range(1, 65)) AS i) s) AS d2
  FROM m CROSS JOIN cvec c
),
pred AS (
  SELECT vec_id, true_label, cand,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2, cand) AS rn
  FROM scored
)
SELECT true_label, cand AS pred_label, count(*) AS n
FROM pred WHERE rn = 1
GROUP BY 1, 2
"""


@register("embedding_label_confusion", oracle=_CONF_ORACLE)
def embedding_label_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid confusion matrix over the labeled embeddings: each
    label's centroid is the per-dimension mean, every vector classifies to
    its nearest centroid by squared L2, output is (true_label, pred_label,
    n) — the label-quality / cluster-separability audit an embedding
    pipeline runs before trusting labels for supervised filtering.

    Scale: centroid training is one posexplode + (label, dim) partial-agg
    shuffle (k x dim groups); the trained matrix collects as bounded model
    state (10 x 64 longs) and classification is a closed-form literal
    expression per row — the corpus is scanned once and shuffles only into
    the k^2-cell confusion aggregate. Ties break to the smaller label in
    both engines.
    """
    emb = load_table(spark, sf_dir, "embeddings").select("label", "embedding")
    micro = F.transform(
        "embedding", lambda v: F.floor(v.cast("double") * 1_000_000).cast("long")
    )
    cent_rows = (
        emb.select("label", F.posexplode(micro).alias("dim", "x"))
        .groupBy("label", "dim")
        .agg(
            F.floor(F.sum("x").cast("double") / F.count(F.lit(1)))
            .cast("long")
            .alias("c")
        )
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "c"))).alias("dc"))
        .select("label", F.col("dc.c").alias("cmicro"))
        .collect()
    )
    cents = sorted((int(r["label"]), [int(v) for v in r["cmicro"]]) for r in cent_rows)
    m = rebalance(emb.withColumn("micro", micro))
    scored = F.array(
        *[
            F.struct(
                F.aggregate(
                    F.zip_with(
                        F.col("micro"),
                        F.expr("array(" + ",".join(f"{v}L" for v in c) + ")"),
                        lambda a, b: (a - b) * (a - b),
                    ),
                    F.lit(0).cast("long"),
                    lambda acc, d: acc + d,
                ).alias("d2"),
                F.lit(lab).alias("lab"),
            )
            for lab, c in cents
        ]
    )
    pred = F.array_min(scored).getField("lab")
    return (
        m.select(F.col("label").alias("true_label"), pred.alias("pred_label"))
        .groupBy("true_label", "pred_label")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# text_quality_classifier
# ---------------------------------------------------------------------------

# Model-based quality filtering: the heuristic scores (text_quality_scores)
# feed a TRAINED per-language linear model in production (fastText-style
# keep/drop classifiers). The operator shape that matters at 100 TB is the
# MODEL-TABLE JOIN: weights live in a tiny broadcastable table (language ->
# coefficients), the corpus joins it once, and the score is a closed-form
# integer expression — swapping models is a data change, not a code change.
# Weights here are fixed literals (both engines embed the same VALUES
# table); all arithmetic is integer micro-units, so the score is exact.

_QC_MODEL = [
    # lang, bias, w_tokens, w_stop, w_digit, threshold  (micro-units;
    # thresholds sit near each language's median score at sf0.01, so the
    # keep/drop decision is non-trivial on real data, not vacuously uniform)
    ("en", 100_000, 900, 8_000, -2_500, 173_000),
    ("zh", 200_000, 1_100, 2_000, -2_000, 265_000),
    ("es", 120_000, 950, 7_000, -2_500, 195_000),
    ("de", 120_000, 950, 6_500, -2_500, 190_000),
    # fr falls through to the default row
    ("*", 80_000, 800, 5_000, -3_000, 146_000),
]

_QC_STOPS = ["the", "a", "and", "of", "to", "in", "is", "for"]

_QC_ORACLE = f"""
WITH model(lang, bias, w_tokens, w_stop, w_digit, threshold) AS (
  VALUES {", ".join(f"('{l}', {b}, {wt}, {ws}, {wd}, {th})" for l, b, wt, ws, wd, th in _QC_MODEL)}
),
feats AS (
  SELECT doc_id, lang,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         CAST(len(list_filter(string_split(text, ' '),
                              t -> list_contains({_QC_STOPS!r}, t))) AS BIGINT) AS stop_hits,
         CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT) AS digit_chars
  FROM documents
),
scored AS (
  SELECT f.doc_id, f.lang,
         CAST(m.bias + m.w_tokens * f.n_tokens + m.w_stop * f.stop_hits
              + m.w_digit * f.digit_chars AS BIGINT) AS score_micro,
         m.threshold
  FROM feats f
  JOIN model m
    ON m.lang = CASE WHEN f.lang IN ({", ".join(f"'{l}'" for l, *_ in _QC_MODEL if l != "*")})
                     THEN f.lang ELSE '*' END
)
SELECT doc_id, lang, score_micro, score_micro >= threshold AS keep
FROM scored
"""


@register("text_quality_classifier", oracle=_QC_ORACLE)
def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language linear quality classifier over cheap lexical features,
    with the model as a broadcast weight TABLE (language → coefficients,
    unknown languages falling through to a ``*`` default row).

    Scale: features are per-row JVM expressions (token count, stopword
    hits with multiplicity, digit-character count) — zero shuffle; the
    model join broadcasts a 5-row table; the score is one integer
    multiply-add, order-free by construction. This is the production
    filtering shape: retraining ships a new model table, the plan is
    untouched, and the corpus is read exactly once.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    words = F.split("text", " ")
    stops = F.array(*[F.lit(s) for s in _QC_STOPS])
    feats = docs.select(
        "doc_id",
        "lang",
        F.size(words).cast("long").alias("n_tokens"),
        F.size(F.filter(words, lambda t: F.array_contains(stops, t)))
        .cast("long")
        .alias("stop_hits"),
        F.length(F.regexp_replace("text", "[^0-9]", "")).cast("long").alias("digit_chars"),
    )
    model = spark.createDataFrame(
        _QC_MODEL, ["m_lang", "bias", "w_tokens", "w_stop", "w_digit", "threshold"]
    )
    known = [l for l, *_ in _QC_MODEL if l != "*"]
    joined = feats.withColumn(
        "m_key",
        F.when(F.col("lang").isin(known), F.col("lang")).otherwise(F.lit("*")),
    ).join(F.broadcast(model), F.col("m_key") == F.col("m_lang"))
    score = (
        F.col("bias")
        + F.col("w_tokens") * F.col("n_tokens")
        + F.col("w_stop") * F.col("stop_hits")
        + F.col("w_digit") * F.col("digit_chars")
    ).cast("long")
    return joined.select(
        "doc_id",
        "lang",
        score.alias("score_micro"),
        (score >= F.col("threshold")).alias("keep"),
    )


# ---------------------------------------------------------------------------
# text_collocations_pmi
# ---------------------------------------------------------------------------

# Collocation / phrase mining: bigrams whose joint frequency far exceeds
# what their unigram frequencies predict — the statistic (pointwise mutual
# information) behind phrase detectors and tokenizer-merge candidates.
# The score is the PMI *lift ratio* in integer micro-units rather than its
# log: same ranking, but exact integer arithmetic both engines agree on
# (log's last-ulp rounding is not a cross-engine contract).

_PMI_MIN_COUNT = 5
_PMI_TOPK = 50

_PMI_ORACLE = f"""
WITH w AS (
  SELECT string_split(lower(text), ' ') AS words
  FROM documents
  WHERE len(string_split(text, ' ')) >= 2
),
toks AS (SELECT unnest(words) AS tok FROM w),
uni AS (SELECT tok, count(*) AS n FROM toks GROUP BY tok),
tot AS (SELECT count(*) AS t FROM toks),
grams AS (
  SELECT words[i] AS a, words[i+1] AS b
  FROM (SELECT words, unnest(range(1, len(words))) AS i FROM w)
),
bg AS (
  SELECT a, b, count(*) AS n_ab FROM grams GROUP BY a, b
  HAVING count(*) >= {_PMI_MIN_COUNT}
)
SELECT bg.a || ' ' || bg.b AS bigram,
       bg.n_ab,
       (1000000 * bg.n_ab * tot.t) // (ua.n * ub.n) AS lift_micro
FROM bg
CROSS JOIN tot
JOIN uni ua ON ua.tok = bg.a
JOIN uni ub ON ub.tok = bg.b
ORDER BY lift_micro DESC, bigram
LIMIT {_PMI_TOPK}
"""


@register("text_collocations_pmi", oracle=_PMI_ORACLE)
def text_collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 collocations by PMI lift: ``1e6 · n_ab · T / (n_a · n_b)``
    over lowercase word bigrams with joint count ≥ 5.

    Scale: unigram and bigram count tables are each ONE groupBy with
    map-side combine (the Zipf head pre-aggregates per partition); the
    min-count filter cuts the bigram table before the two unigram joins;
    the corpus token total is a single collected scalar (bounded model
    state, the BM25 N/avgdl pattern); top-k plans as
    TakeOrderedAndProject. All integer arithmetic — at corpora where
    ``1e6·n_ab·T`` approaches int64, switch the expression to
    decimal(38,0); the ranking is unchanged."""
    docs = load_table(spark, sf_dir, "documents").select("text")
    w = docs.where(F.size(F.split("text", " ")) >= 2).select(
        F.split(F.lower("text"), " ").alias("words")
    ).localCheckpoint(eager=True)  # feeds unigrams AND bigrams
    toks = w.select(F.explode("words").alias("tok"))
    uni = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    t_total = toks.count()
    bigrams = F.expr(
        "transform(sequence(1, size(words) - 1),"
        " i -> struct(words[i-1] AS a, words[i] AS b))"
    )
    bg = (
        w.select(F.explode(bigrams).alias("g"))
        .select(F.col("g.a").alias("a"), F.col("g.b").alias("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .where(F.col("n_ab") >= _PMI_MIN_COUNT)
    )
    ua = uni.select(F.col("tok").alias("a"), F.col("n").alias("n_a"))
    ub = uni.select(F.col("tok").alias("b"), F.col("n").alias("n_b"))
    return (
        bg.join(ua, "a")
        .join(ub, "b")
        .select(
            F.concat_ws(" ", "a", "b").alias("bigram"),
            "n_ab",
            F.expr(f"(1000000 * n_ab * {t_total}L) div (n_a * n_b)").alias(
                "lift_micro"
            ),
        )
        .orderBy(F.col("lift_micro").desc(), "bigram")
        .limit(_PMI_TOPK)
    )


# ---------------------------------------------------------------------------
# text_inverted_index
# ---------------------------------------------------------------------------

# The search-index BUILD as a materialized artifact: per-term document
# frequency, total term frequency, and the head of the posting list —
# what BM25/TF-IDF queries here derive on the fly, produced once and
# written as the reusable index table a retrieval service loads.

_IDX_TOPK_TERMS = 100
_IDX_POSTINGS = 3

_IDX_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
  FROM documents
),
tf AS (SELECT term, doc_id, count(*) AS tf FROM toks GROUP BY 1, 2),
stats AS (
  SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS total_tf
  FROM tf GROUP BY term
),
ranked AS (
  SELECT term, doc_id,
         row_number() OVER (PARTITION BY term ORDER BY tf DESC, doc_id) AS rn
  FROM tf
),
top3 AS (
  SELECT term,
         array_to_string(list(CAST(doc_id AS VARCHAR) ORDER BY rn), ',') AS top_docs
  FROM ranked WHERE rn <= {_IDX_POSTINGS} GROUP BY term
)
SELECT s.term, s.df, s.total_tf, t.top_docs
FROM stats s JOIN top3 t USING (term)
ORDER BY s.df DESC, s.term
LIMIT {_IDX_TOPK_TERMS}
"""


@register("text_inverted_index", oracle=_IDX_ORACLE)
def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index construction: per-term df, total tf, and the top-3
    posting-list head (tf desc, doc asc — deterministic), reported for the
    100 highest-df terms.

    Scale: one (term, doc) shuffle builds the tf table (map-side combine
    absorbs within-partition repeats); the df aggregate and the posting
    window then both partition by term — the executed plan shows one of
    the two term exchanges reused — and the final top-100 plans as
    TakeOrderedAndProject. At 100 TB the full artifact —
    not the top-100 debug view — writes sharded by term hash
    (``doc_shard_assign``'s layout), which is exactly how the BM25 query's
    IN-filter finds its posting lists without touching the corpus."""
    toks = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("term"))
    )
    tf = toks.groupBy("term", "doc_id").agg(F.count(F.lit(1)).alias("tf"))
    stats = tf.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"), F.sum("tf").alias("total_tf")
    )
    w = Window.partitionBy("term").orderBy(F.col("tf").desc(), "doc_id")
    top3 = (
        tf.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _IDX_POSTINGS)
        .groupBy("term")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("rn", "doc_id"))),
                    lambda s: s.getField("doc_id").cast("string"),
                ),
                ",",
            ).alias("top_docs")
        )
    )
    return (
        stats.join(top3, "term")
        .orderBy(F.col("df").desc(), "term")
        .limit(_IDX_TOPK_TERMS)
    )


# ---------------------------------------------------------------------------
# multimodal_phash_dedup — perceptual-hash image dedup
# ---------------------------------------------------------------------------

# Image-level near-dup detection: the classic average-hash (aHash/pHash
# family) over the 8x8 block-mean plane the resize stage already produces —
# bit i = (pixel_i >= plane average), banded like SimHash (4x16 bits,
# pigeonhole: Hamming <= 3 guarantees one equal band), Hamming verify on
# candidates. This is the dedup family member for the MULTIMODAL column:
# byte-identical payload copies (every 15th doc re-keyed) must surface at
# Hamming 0. The average test uses 64*v >= sum (integer, no division), so
# the signature is engine-exact.

_PHASH_ORACLE = """
WITH all_docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 4000000 AS doc_id, text FROM documents WHERE doc_id % 15 = 0
),
payload AS (
  SELECT doc_id,
         list_transform(regexp_extract_all(hex(encode(text)), '..'),
                        x -> CAST('0x' || x AS INTEGER)) AS bs,
         CAST(octet_length(encode(text)) AS BIGINT) AS n
  FROM all_docs
),
sided AS (
  SELECT doc_id, bs, n,
         CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS s0
  FROM payload
),
sq AS (
  SELECT doc_id, bs,
         s0 + (CASE WHEN (s0 + 1) * (s0 + 1) <= n THEN 1 ELSE 0 END)
            - (CASE WHEN s0 * s0 > n THEN 1 ELSE 0 END) AS side
  FROM sided
),
blocks AS (
  SELECT doc_id, side, bs, unnest(range(0, 64)) AS pixel_idx
  FROM sq WHERE side >= 8
),
pooled AS (
  SELECT doc_id, side, pixel_idx,
         CAST(list_sum(list_transform(
                range(((pixel_idx // 8) * side + 7) // 8,
                      ((pixel_idx // 8 + 1) * side + 7) // 8),
                i -> list_sum(
                       bs[CAST(i * side + ((pixel_idx % 8) * side + 7) // 8 + 1 AS BIGINT)
                          :CAST(i * side + ((pixel_idx % 8 + 1) * side + 7) // 8 AS BIGINT)])))
              // ((((pixel_idx // 8 + 1) * side + 7) // 8
                   - ((pixel_idx // 8) * side + 7) // 8)
                  * (((pixel_idx % 8 + 1) * side + 7) // 8
                     - ((pixel_idx % 8) * side + 7) // 8))
              AS BIGINT) AS v
  FROM blocks
),
bits AS (
  SELECT doc_id, pixel_idx,
         CASE WHEN 64 * v >= SUM(v) OVER (PARTITION BY doc_id) THEN 1 ELSE 0 END AS bit
  FROM pooled
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(sum(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END) AS BIGINT) AS hamming
  FROM bits a JOIN bits b ON a.pixel_idx = b.pixel_idx AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= 3
"""


@register("multimodal_phash_dedup", oracle=_PHASH_ORACLE)
def multimodal_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-dup pairs over the multimodal payloads at
    Hamming <= 3 on the 64-bit average-hash of the 8x8 block-mean plane.

    Plan shape (the SimHash pattern applied to images): the Arrow-batched
    resize stage computes each payload's 8x8 plane (zero shuffle); the
    64-bit signature is per-row JVM integer math (bit = 64*pixel >= plane
    sum — no division); candidates come from a 4x16-bit band equi-join
    (pigeonhole-exact for Hamming <= 3, never all-pairs); exact Hamming
    verifies candidates only. The oracle goes brute-force all-pairs on the
    replayed plane, so recall of the banded plan is checked, not assumed.
    At 100 TB the signature table is 8 bytes/image and the band join is
    the only shuffle."""
    from ..operators.multimodal import documents_as_binary, resize_images

    base = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    allv = base.unionByName(
        base.where(F.col("doc_id") % 15 == 0).select(
            (F.col("doc_id") + 4000000).alias("doc_id"), "text"
        )
    )
    px = resize_images(documents_as_binary(allv))
    vals = F.expr(
        "transform(sequence(0, 63),"
        " i -> cast(conv(substr(hex(pixels), i*2+1, 2), 16, 10) as int))"
    )
    sig = (
        px.select("doc_id", vals.alias("vals"))
        .withColumn("total", F.expr("aggregate(vals, 0, (acc, x) -> acc + x)"))
        .select(
            "doc_id",
            F.expr(
                "transform(vals, v -> case when 64 * v >= total then 1 else 0 end)"
            ).alias("bits"),
        )
        .localCheckpoint(eager=True)  # feeds band keys AND both verify sides
    )
    banded = sig.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("k"),
        F.col("bits"),
    ).select(
        "doc_id",
        "k",
        F.expr(
            "aggregate(sequence(0, 15), 0,"
            " (acc, j) -> acc + element_at(bits, k * 16 + j + 1) * shiftleft(1, j))"
        ).alias("band"),
    )
    a = banded.select(F.col("k"), F.col("band"), F.col("doc_id").alias("doc_a"))
    b = banded.select(F.col("k"), F.col("band"), F.col("doc_id").alias("doc_b"))
    cand = (
        a.join(b, ["k", "band"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    sa = sig.select(F.col("doc_id").alias("doc_a"), F.col("bits").alias("ba"))
    sb = sig.select(F.col("doc_id").alias("doc_b"), F.col("bits").alias("bb"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.expr(
                "cast(size(filter(zip_with(ba, bb, (x, y) -> x != y), p -> p)) as bigint)"
            ).alias("hamming"),
        )
        .where(F.col("hamming") <= 3)
    )


# ---------------------------------------------------------------------------
# agg_grouped_ols — grouped-map applyInPandas as a driver-green gate query
# ---------------------------------------------------------------------------

# HUGEINT keeps n*Sxy (~1e21 at sf0.1) exact; `//` truncates toward zero in
# DuckDB while Python floors, so the oracle adds the explicit floor
# correction for negative numerators (den > 0 always: it is n^2 * Var(x)).
_OLS_ORACLE = """
WITH q AS (
  SELECT l_returnflag, l_linestatus,
         CAST(floor(l_quantity      * 100) AS BIGINT) AS x,
         CAST(floor(l_extendedprice * 100) AS BIGINT) AS y
  FROM lineitem
),
s AS (
  SELECT l_returnflag, l_linestatus,
         CAST(count(*) AS HUGEINT)               AS n,
         CAST(sum(x) AS HUGEINT)                 AS sx,
         CAST(sum(y) AS HUGEINT)                 AS sy,
         CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
         CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
  FROM q GROUP BY 1, 2
),
d AS (
  SELECT *,
         1000000 * (n * sxy - sx * sy) AS num,
         (n * sxx - sx * sx)           AS den
  FROM s
)
SELECT l_returnflag, l_linestatus,
       CAST(n  AS BIGINT) AS n,
       CAST(sx AS BIGINT) AS sum_x_cents,
       CAST(sy AS BIGINT) AS sum_y_cents,
       CAST(num // den
            - CASE WHEN num % den <> 0 AND num < 0 THEN 1 ELSE 0 END
         AS BIGINT) AS slope_ppm
FROM d
"""


@register("agg_grouped_ols", oracle=_OLS_ORACLE)
def agg_grouped_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group closed-form OLS fit (price ~ quantity) via grouped-map
    ``applyInPandas`` — the §2.7 grouped-map escape hatch promoted to a
    driver-green gate query (until now it was pytest-pinned only). This is
    the "fit a tiny model per group" shape (per-domain quality calibration,
    per-source length regressions) where the per-group logic genuinely
    wants numpy, not SQL.

    Determinism across engines: inputs quantize to integer cents JVM-side
    BEFORE crossing into Arrow; the pandas side reduces them with
    arbitrary-precision Python ints (`int(np.sum)` per column, pairwise
    products via int64 numpy then Python-int cross terms), and the slope is
    emitted as an exact floor-divided ppm integer — no float ever enters
    the result, so the oracle hash-matches bit-for-bit (DuckDB mirrors the
    math in HUGEINT with an explicit floor correction).

    Scale: one shuffle on the group key into `applyInPandas`; each group
    reduces to six integers, so executor memory holds one group's Arrow
    batch at a time (Spark splits oversized groups into multiple batches
    only for mapInPandas — for grouped-map the group must fit, which is
    the documented constraint of the surface; groups here are quarter-table
    sized ONLY because the gate data is tiny — a production fit groups by
    source/domain with millions of small groups, the shape this surface is
    for). The sums are of course also expressible as built-ins — that is
    exactly what the oracle does; the POINT of this query is pinning the
    Arrow grouped-map path itself against it.
    """
    import pandas as pd

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_linestatus",
        F.floor(F.col("l_quantity") * 100).cast("long").alias("x"),
        F.floor(F.col("l_extendedprice") * 100).cast("long").alias("y"),
    )

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        n = int(len(pdf))
        x = pdf["x"].to_numpy()
        y = pdf["y"].to_numpy()
        sx, sy = int(x.sum()), int(y.sum())
        sxx = int((x * x).sum())
        sxy = int((x * y).sum())
        num = 1_000_000 * (n * sxy - sx * sy)
        den = n * sxx - sx * sx
        return pd.DataFrame(
            {
                "l_returnflag": [pdf["l_returnflag"].iloc[0]],
                "l_linestatus": [pdf["l_linestatus"].iloc[0]],
                "n": [n],
                "sum_x_cents": [sx],
                "sum_y_cents": [sy],
                "slope_ppm": [num // den],
            }
        )

    return li.groupBy("l_returnflag", "l_linestatus").applyInPandas(
        fit,
        schema=(
            "l_returnflag string, l_linestatus string, n long, "
            "sum_x_cents long, sum_y_cents long, slope_ppm long"
        ),
    )


# ---------------------------------------------------------------------------
# scalar_pandas_wordstats / agg_pandas_trimmed — the other two §2.7 surfaces
# (scalar pandas_udf, grouped-agg pandas_udf) as driver-green gate queries
# ---------------------------------------------------------------------------

_WORDSTATS_ORACLE = """
WITH t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS toks
  FROM documents
)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(coalesce(list_max(list_transform(toks, w -> length(w))), 0)
         AS BIGINT) AS longest_len,
       CAST(coalesce(list_sum(list_transform(toks, w -> length(w))), 0)
         AS BIGINT) AS sum_token_len
FROM t
"""


@register("scalar_pandas_wordstats", oracle=_WORDSTATS_ORACLE)
def scalar_pandas_wordstats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar ``pandas_udf`` as a driver-green gate query — with
    ``agg_grouped_ols`` (grouped-map) and ``agg_pandas_trimmed``
    (grouped-agg) this makes every §2.7 Pandas surface oracle-checked, not
    just pytest-pinned. The UDF is a struct-returning vectorized batch
    function (one Arrow exchange per batch, one Python call per batch —
    never per row), standing in for "a Python-only featurizer the JVM
    can't express" while staying integer-exact so DuckDB hash-matches.

    Scale: embarrassingly parallel, zero shuffle — the plan is scan →
    ArrowEvalPython → project. The same stats ARE expressible JVM-side
    (that is what the oracle mirrors and what ``text_token_count`` does in
    production); the point of the query is pinning the Arrow scalar path.
    """
    from ..functions.pandas_hatch import wordstats

    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", wordstats(F.col("text")).alias("s")).select(
        "doc_id", "s.*"
    )


# Trim rule: drop the 2 lowest / 2 highest VALUES per group, but only when
# the group has >= 5 rows (else keep all) — keeps every group present in
# the output, with ties handled value-wise so any row_number tie order in
# the oracle yields the same kept multiset.
_TRIMMED_ORACLE = """
WITH r AS (
  SELECT source, n_chars,
         row_number() OVER (PARTITION BY source ORDER BY n_chars) AS rn,
         count(*)    OVER (PARTITION BY source)                   AS n
  FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT)      AS n_kept,
       CAST(sum(n_chars) AS BIGINT)  AS sum_kept,
       CAST((1000 * sum(n_chars)) // count(*) AS BIGINT) AS trimmed_mean_millis
FROM r
WHERE n < 5 OR (rn > 2 AND rn <= n - 2)
GROUP BY source
"""


@register("agg_pandas_trimmed", oracle=_TRIMMED_ORACLE)
def agg_pandas_trimmed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate ``pandas_udf`` as a driver-green gate query: a
    per-source 2-each-end trimmed mean of document length — an order
    statistic built-in aggregates can't compose without a window sort,
    and THE canonical use for the grouped-agg Pandas surface.

    Determinism: lengths are ints; trimming drops values (not rows), so
    tie order is irrelevant; the trimmed mean is emitted as an exact
    floor-divided milli-unit integer. Each of the three output stats is
    its own pandas UDAF over the same shuffled group — Spark evaluates
    them in one ArrowAggregatePython pass.

    Scale: one shuffle on the group key; per-group state is the group's
    value vector (the same contract as any exact order statistic — for
    heavy-hitter groups the GK sketch route in ``agg_approx_percentile``
    is the bounded-state alternative).
    """
    from ..functions.pandas_hatch import (
        trimmed_mean_millis,
        trimmed_n_kept,
        trimmed_sum_kept,
    )

    docs = load_table(spark, sf_dir, "documents").select("source", "n_chars")
    return docs.groupBy("source").agg(
        trimmed_n_kept(F.col("n_chars")).alias("n_kept"),
        trimmed_sum_kept(F.col("n_chars")).alias("sum_kept"),
        trimmed_mean_millis(F.col("n_chars")).alias("trimmed_mean_millis"),
    )


# ---------------------------------------------------------------------------
# embedding_triplet_mining — in-cell hard positives/negatives for training
# ---------------------------------------------------------------------------

_TRIPLET_DOT = (
    "(SELECT sum(CAST({a}[s.i] AS DOUBLE) * CAST({b}[s.i] AS DOUBLE)) "
    "FROM (SELECT unnest(range(1, 65)) AS i) s)"
)

_TRIPLET_ORACLE = f"""
WITH norms AS (
  SELECT vec_id, label, embedding,
         sqrt({_TRIPLET_DOT.format(a="embedding", b="embedding")}) AS nrm
  FROM embeddings
),
centroids AS (
  SELECT vec_id AS cid, embedding AS cemb, nrm AS cnrm
  FROM norms WHERE vec_id % 31 = 0
  ORDER BY vec_id LIMIT 32
),
assigned AS (
  SELECT vec_id, label, embedding, nrm, cell_id FROM (
    SELECT n.*, c.cid AS cell_id,
           row_number() OVER (
             PARTITION BY n.vec_id
             ORDER BY {_TRIPLET_DOT.format(a="n.embedding", b="c.cemb")} / (n.nrm * c.cnrm)
                      DESC, c.cid DESC) AS rn
    FROM norms n CROSS JOIN centroids c
  ) WHERE rn = 1
),
pairs AS (
  SELECT a.vec_id AS va, a.label AS la, b.vec_id AS vb, b.label AS lb,
         {_TRIPLET_DOT.format(a="a.embedding", b="b.embedding")} / (a.nrm * b.nrm)
           AS cos_ab
  FROM assigned a JOIN assigned b
    ON a.cell_id = b.cell_id AND a.vec_id <> b.vec_id
),
pos AS (
  SELECT va, vb AS pos_id,
         CAST(floor(cos_ab * 1000000 + 0.5) AS BIGINT) AS pos_sim_ppm
  FROM (SELECT *, row_number() OVER (PARTITION BY va
                                     ORDER BY cos_ab DESC, vb ASC) AS rn
        FROM pairs WHERE la = lb) WHERE rn = 1
),
neg AS (
  SELECT va, vb AS neg_id,
         CAST(floor(cos_ab * 1000000 + 0.5) AS BIGINT) AS neg_sim_ppm
  FROM (SELECT *, row_number() OVER (PARTITION BY va
                                     ORDER BY cos_ab DESC, vb ASC) AS rn
        FROM pairs WHERE la <> lb) WHERE rn = 1
)
SELECT s.vec_id, s.label, s.cell_id,
       pos.pos_id, pos.pos_sim_ppm, neg.neg_id, neg.neg_sim_ppm
FROM assigned s
LEFT JOIN pos ON pos.va = s.vec_id
LEFT JOIN neg ON neg.va = s.vec_id
"""


@register("embedding_triplet_mining", oracle=_TRIPLET_ORACLE)
def embedding_triplet_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-triplet mining for metric-learning / contrastive training: per
    vector, the most-similar SAME-label partner (hardest positive to keep
    close) and the most-similar DIFFERENT-label partner (hardest negative
    to push away), searched within the vector's IVF cell — the SemDeDup
    locality tradeoff reused for training-pair generation, so candidate
    pairs scale with sum(cell²), never corpus². Vectors whose cell lacks a
    same-label (or different-label) partner emit NULLs — the honest "no
    in-cell candidate" signal a sampler falls back on.

    Determinism: argmax by (cosine DESC, id ASC) — both engines evaluate
    the identical IEEE expression, and exact cosine ties break on the id;
    emitted similarities quantize to integer ppm.

    Scale: cell assignment is the closed-form literal-centroid argmax
    (zero join); the pairwise stage is the cell-key equi self-join; the
    two argmaxes are rank-1 windows partitioned by vector — one sort per
    cell's pair list, no global anything. Centroids are k×dim bounded
    model state."""
    emb = rebalance(
        load_table(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    )
    allv = with_norm(emb)
    centroid_rows = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .where(F.col("vec_id") % 31 == 0)
        .orderBy("vec_id")
        .limit(32)
        .collect()
    )
    centroids = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in centroid_rows
    ]
    cells = ivf_assign(allv, centroids).localCheckpoint(eager=True)
    a = cells.select(
        "cell_id",
        F.col("vec_id").alias("va"),
        F.col("label").alias("la"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = cells.select(
        "cell_id",
        F.col("vec_id").alias("vb"),
        F.col("label").alias("lb"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    pairs = (
        a.join(b, "cell_id")
        .where(F.col("va") != F.col("vb"))
        .select(
            "va",
            "la",
            "vb",
            "lb",
            cosine(F.col("ea"), F.col("eb"), F.col("na"), F.col("nb")).alias("cos_ab"),
        )
        .localCheckpoint(eager=True)  # feeds both argmax windows
    )
    w = Window.partitionBy("va").orderBy(F.col("cos_ab").desc(), F.col("vb").asc())
    ppm = F.floor(F.col("cos_ab") * 1_000_000 + F.lit(0.5)).cast("long")
    pos = (
        pairs.where(F.col("la") == F.col("lb"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            F.col("va").alias("vec_id"),
            F.col("vb").alias("pos_id"),
            ppm.alias("pos_sim_ppm"),
        )
    )
    neg = (
        pairs.where(F.col("la") != F.col("lb"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            F.col("va").alias("vec_id"),
            F.col("vb").alias("neg_id"),
            ppm.alias("neg_sim_ppm"),
        )
    )
    return (
        cells.select("vec_id", "label", "cell_id")
        .join(pos, "vec_id", "left")
        .join(neg, "vec_id", "left")
    )


# ---------------------------------------------------------------------------
# knn_recall_eval — ANN index quality as a query (IVF recall@k vs exact)
# ---------------------------------------------------------------------------

_RECALL_ORACLE = f"""
WITH ex AS (SELECT query_id, neighbor_id FROM ({_KNN_ORACLE})),
ap AS (SELECT query_id, neighbor_id FROM ({_IVF_ORACLE}))
SELECT ex.query_id,
       CAST({_KNN_K} AS INT) AS k,
       CAST(count(ap.neighbor_id) AS BIGINT) AS n_hits,
       CAST(count(ap.neighbor_id) * 1000000 // {_KNN_K} AS BIGINT) AS recall_ppm
FROM ex LEFT JOIN ap
  ON ex.query_id = ap.query_id AND ex.neighbor_id = ap.neighbor_id
GROUP BY ex.query_id
"""


@register("knn_recall_eval", oracle=_RECALL_ORACLE)
def knn_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN index quality as a first-class query: per query vector, how many
    of the exact top-k the IVF(nprobe=8) path recovered — recall@k in
    integer ppm. This is the evaluation step a pipeline runs before
    trusting an index at 100 TB (and re-runs when centroids retrain or
    nprobe changes); `tests/test_knn.py` pins a floor on the same number,
    this query makes it an auditable, oracle-checked artifact.

    Scale: both paths are the already-registered plans (broadcast query
    set; the corpus scans stay linear); the overlap join touches only
    |Q|·k rows — evaluation cost is dominated by the exact baseline,
    which a production run amortizes over a SAMPLED query set exactly
    like this one."""
    exact = knn_brute_force(spark, sf_dir).select("query_id", "neighbor_id")
    approx = (
        knn_ann_ivf(spark, sf_dir)
        .select("query_id", "neighbor_id")
        .withColumn("hit", F.lit(1))
    )
    return (
        exact.join(approx, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.lit(_KNN_K).cast("int").alias("k"),
            F.count("hit").alias("n_hits"),
            F.expr(f"count(hit) * 1000000 div {_KNN_K}").alias("recall_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# text_zipf_fit — corpus-vocabulary Zipf slope (power-law sanity check)
# ---------------------------------------------------------------------------

# Fit window: top-K tokens by (count DESC, token ASC). Zipf's law predicts
# ln(freq) ~ a - s*ln(rank) with s near 1 for natural text; a corpus whose
# fitted slope collapses toward 0 (flat = synthetic/boilerplate) or blows
# past ~2 (degenerate vocabulary) fails the distributional sanity check
# pipelines run on a new source before ingesting it.
_ZIPF_K = 200

_ZIPF_ORACLE = f"""
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS token FROM documents
),
c AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token),
r AS (
  SELECT cnt, row_number() OVER (ORDER BY cnt DESC, token) AS rank
  FROM c QUALIFY rank <= {_ZIPF_K}
),
m AS (
  SELECT CAST(floor(ln(CAST(rank AS DOUBLE)) * 1000) AS BIGINT) AS x,
         CAST(floor(ln(CAST(cnt AS DOUBLE)) * 1000) AS BIGINT) AS y
  FROM r
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(x * y) AS BIGINT) AS sxy
  FROM m
)
SELECT k AS n_points,
       CAST((sx * sy - k * sxy) * 1000000 // (k * sxx - sx * sx) AS BIGINT)
         AS neg_slope_ppm
FROM s
"""


@register("text_zipf_fit", oracle=_ZIPF_ORACLE)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-slope fit over the corpus vocabulary: OLS of ln(count) against
    ln(rank) for the top-200 tokens, emitted as the POSITIVE slope
    magnitude in integer ppm (natural text ≈ 1e6). The distribution-shape
    twin of ``text_quality_scores``' per-doc signals: it reads the corpus
    as a whole.

    Determinism: rank ties break on the token string; each ln quantizes to
    integer MILLI-units per point before any sum (the committed-precedent
    ln quantization, coarser than ``text_lm_logprob``'s micro-units), so
    every aggregate is an order-free integer sum and the slope is one
    positive integer floor-division — sign-flip issues between Spark's
    truncating DIV and DuckDB's flooring // never arise because numerator
    and denominator are both provably non-negative (slope ≤ 0 by
    construction: counts are non-increasing in rank).

    Scale: token counting is the one real shuffle (explode + map-side
    partial count); the top-K is a TakeOrderedAndProject, the fit a
    single-row aggregate over K points. At 100 TB the explode volume is
    the corpus token count — the same cost the counting pass a tokenizer
    audit already pays; everything after is bounded by K."""
    docs = load_table(spark, sf_dir, "documents").select("text")
    counts = (
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.orderBy(F.col("cnt").desc(), F.col("token"))
    top = (
        counts.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _ZIPF_K)
        .select(
            # ln-quantization boundary risk accepted — canonical note at
            # corpus_queries.sample_importance_dsir.
            F.floor(F.log(F.col("rank").cast("double")) * 1000)
            .cast("long")
            .alias("x"),
            F.floor(F.log(F.col("cnt").cast("double")) * 1000)
            .cast("long")
            .alias("y"),
        )
    )
    s = top.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    return s.select(
        F.col("k").alias("n_points"),
        F.expr("(sx * sy - k * sxy) * 1000000L DIV (k * sxx - sx * sx)").alias(
            "neg_slope_ppm"
        ),
    )


# ---------------------------------------------------------------------------
# corpus_perplexity_buckets — CCNet-style head/middle/tail partitioning
# ---------------------------------------------------------------------------

_PPL_BUCKETS = 3

_PPL_ORACLE = f"""
WITH w AS (
  SELECT doc_id, n_chars, string_split(lower(text), ' ') AS words
  FROM documents WHERE len(string_split(text, ' ')) >= 2
),
big AS (
  SELECT doc_id, n_chars, words[i] AS prev, words[i+1] AS cur
  FROM (SELECT doc_id, n_chars, words, unnest(range(1, len(words))) AS i FROM w)
),
cb AS (SELECT prev, cur, count(*) AS c2 FROM big GROUP BY prev, cur),
cp AS (SELECT prev, count(*) AS c1 FROM big GROUP BY prev),
doc AS (
  SELECT b.doc_id,
         any_value(b.n_chars) AS n_chars,
         count(*) AS n_bigrams,
         CAST(-sum(CAST(floor(ln(CAST(cb.c2 AS DOUBLE) / cp.c1) * 1000000 + 0.5)
                        AS BIGINT)) AS BIGINT) AS nll_micro_sum
  FROM big b JOIN cb ON cb.prev = b.prev AND cb.cur = b.cur
             JOIN cp ON cp.prev = b.prev
  GROUP BY b.doc_id
),
ranked AS (
  SELECT *,
         nll_micro_sum // n_bigrams AS avg_nll_micro,
         row_number() OVER (ORDER BY nll_micro_sum // n_bigrams, doc_id) AS rk,
         count(*) OVER () AS n_docs
  FROM doc
)
SELECT CAST((rk - 1) * {_PPL_BUCKETS} // n_docs AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS chars_total,
       CAST(min(avg_nll_micro) AS BIGINT) AS min_avg_nll_micro,
       CAST(max(avg_nll_micro) AS BIGINT) AS max_avg_nll_micro
FROM ranked GROUP BY 1
"""


@register("corpus_perplexity_buckets", oracle=_PPL_ORACLE)
def corpus_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style corpus partitioning: rank every document by its average
    bigram negative log-likelihood under the corpus's own LM (the
    ``text_lm_logprob`` signal) and split into equal head/middle/tail
    buckets — the preprocessing step CCNet runs so a pipeline can keep
    the fluent head, subsample the middle, and drop the tail. NLL is
    emitted POSITIVE so the per-doc integer division floors identically
    in both engines (Spark ``DIV`` truncates toward zero, DuckDB ``//``
    floors — they only agree on non-negatives).

    Scale: the per-doc NLL frame reuses the lm_logprob plan (token-grain
    aggregations + broadcastable count tables); the rank over the
    doc-grain frame uses :func:`operators.ordering.global_rank` —
    repartitionByRange + per-partition ranks + offset map, NO
    single-partition window — and the bucket id is integer math on the
    rank, which is exactly how a 100 TB pipeline assigns quantile
    buckets without sorting the corpus on one task."""
    from ..operators.ordering import global_rank

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", "text"
    )
    words = F.split(F.lower("text"), " ")
    big = (
        docs.where(F.size(F.split("text", " ")) >= 2)
        .select("doc_id", "n_chars", words.alias("words"))
        .select(
            "doc_id",
            "n_chars",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(words) - 1),"
                    " i -> struct(words[i-1] AS prev, words[i] AS cur))"
                )
            ).alias("b"),
        )
        .select("doc_id", "n_chars", "b.prev", "b.cur")
    )
    cb = big.groupBy("prev", "cur").agg(F.count(F.lit(1)).alias("c2"))
    cp = big.groupBy("prev").agg(F.count(F.lit(1)).alias("c1"))
    t_micro = F.floor(
        F.log(F.col("c2").cast("double") / F.col("c1")) * 1_000_000 + F.lit(0.5)
    ).cast("long")
    doc = (
        big.join(cb, ["prev", "cur"])
        .join(cp, "prev")
        .select("doc_id", "n_chars", t_micro.alias("t_micro"))
        .groupBy("doc_id")
        .agg(
            F.any_value("n_chars").alias("n_chars"),
            F.count(F.lit(1)).alias("n_bigrams"),
            (-F.sum("t_micro")).alias("nll_micro_sum"),
        )
        .withColumn("avg_nll_micro", F.expr("nll_micro_sum DIV n_bigrams"))
    )
    n_docs = doc.agg(F.count(F.lit(1)).alias("n_docs"))
    ranked = global_rank(
        doc, [F.col("avg_nll_micro"), F.col("doc_id")], rank_col="rk"
    ).crossJoin(F.broadcast(n_docs))
    return (
        ranked.withColumn(
            "bucket", F.expr(f"CAST((rk - 1) * {_PPL_BUCKETS} DIV n_docs AS BIGINT)")
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("chars_total"),
            F.min("avg_nll_micro").alias("min_avg_nll_micro"),
            F.max("avg_nll_micro").alias("max_avg_nll_micro"),
        )
    )


# ---------------------------------------------------------------------------
# text_phrase_search — positional-index phrase retrieval
# ---------------------------------------------------------------------------

_PHRASE = ("fast", "sort")
_PHRASE_TOPK = 20

_PHRASE_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, i AS pos, words[i] AS w
  FROM (SELECT doc_id, string_split(lower(text), ' ') AS words FROM documents),
       unnest(range(1, len(words) + 1)) AS t(i)
),
a AS (SELECT doc_id, pos FROM tok WHERE w = '{_PHRASE[0]}'),
b AS (SELECT doc_id, pos FROM tok WHERE w = '{_PHRASE[1]}'),
hits AS (
  SELECT a.doc_id, count(*) AS n_matches
  FROM a JOIN b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
  GROUP BY a.doc_id
)
SELECT h.doc_id, d.source, CAST(h.n_matches AS BIGINT) AS n_matches
FROM hits h JOIN documents d USING (doc_id)
ORDER BY n_matches DESC, doc_id
LIMIT {_PHRASE_TOPK}
"""


@register("text_phrase_search", oracle=_PHRASE_ORACLE)
def text_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional-index phrase retrieval: find documents containing the
    exact token sequence "fast sort" by intersecting the two terms'
    positional posting lists (term-B position = term-A position + 1) —
    what ``text_inverted_index``'s structure exists to answer, and the
    query shape every search backend runs for quoted phrases.

    Scale: the posting lists are FILTERED before the join — each side is
    the term's occurrence list (a small fraction of the token stream;
    selectivity is the term's document frequency), so the equi-join on
    (doc_id, adjacent-position) shuffles posting bytes, not corpus
    bytes. Per-doc match counts are one partial-agg shuffle; ranking is
    TakeOrderedAndProject. Never a regex scan of the full text column at
    rank time — that is the 100 TB difference between an index probe and
    a table scan."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    tok = docs.select(
        "doc_id",
        F.posexplode(F.split(F.lower("text"), " ")).alias("pos0", "w"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "w")
    a = tok.where(F.col("w") == _PHRASE[0]).select("doc_id", "pos")
    b = tok.where(F.col("w") == _PHRASE[1]).select(
        "doc_id", (F.col("pos") - 1).alias("pos")
    )
    hits = (
        a.join(b, ["doc_id", "pos"])
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_matches"))
    )
    return (
        hits.join(docs.select("doc_id", "source"), "doc_id")
        .orderBy(F.desc("n_matches"), "doc_id")
        .limit(_PHRASE_TOPK)
        .select("doc_id", "source", "n_matches")
    )


# ---------------------------------------------------------------------------
# search_rrf_fusion — reciprocal-rank fusion of lexical + semantic lists
# ---------------------------------------------------------------------------

_RRF_K = 60  # the standard RRF damping constant
_RRF_LIST = 20
_RRF_TOPK = 10


def _rrf_oracle() -> str:
    return f"""
WITH {_BM25_CTES},
lex AS (
  SELECT doc_id,
         row_number() OVER (
           ORDER BY CAST(sum(c) AS BIGINT) DESC, doc_id) AS lex_rank
  FROM contrib GROUP BY doc_id
  ORDER BY CAST(sum(c) AS BIGINT) DESC, doc_id LIMIT {_RRF_LIST}
),
qv AS (SELECT embedding AS q FROM embeddings WHERE vec_id = 0),
cosed AS (
  SELECT e.vec_id AS doc_id,
         CAST(floor({_IVF_DOT.format(a="e.embedding", b="qv.q")}
              / (sqrt({_IVF_DOT.format(a="e.embedding", b="e.embedding")})
                 * sqrt({_IVF_DOT.format(a="qv.q", b="qv.q")}))
              * 1000000 + 0.5) AS BIGINT) AS cos_ppm
  FROM embeddings e CROSS JOIN qv
),
sem AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY cos_ppm DESC, doc_id) AS sem_rank
  FROM cosed ORDER BY cos_ppm DESC, doc_id LIMIT {_RRF_LIST}
)
SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id,
       CAST(lex.lex_rank AS BIGINT) AS lex_rank,
       CAST(sem.sem_rank AS BIGINT) AS sem_rank,
       CAST(COALESCE(1000000 // ({_RRF_K} + lex.lex_rank), 0)
            + COALESCE(1000000 // ({_RRF_K} + sem.sem_rank), 0) AS BIGINT)
         AS rrf_micro
FROM lex FULL OUTER JOIN sem USING (doc_id)
ORDER BY rrf_micro DESC, doc_id LIMIT {_RRF_TOPK}
"""


@register("search_rrf_fusion", oracle=_rrf_oracle())
def search_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (k=60): merge the BM25 lexical top-20 and the
    embedding-cosine top-20 by summed 1/(k+rank) — the rank-based fusion
    production search stacks use when the two scorers' scales aren't
    comparable (scores from BM25 and cosine can't be averaged;
    ``search_hybrid_rerank`` re-scores, RRF fuses ranks). RRF
    contributions are exact integers (1e6 DIV (k+rank)), so the fused
    order is engine-independent; the lexical list ranks on the integer
    micro-unit BM25 sum and the semantic list on ppm-quantized cosine,
    both with doc-id tiebreaks — fully deterministic end to end.

    Scale: each list is an independent top-k (posting-list probe /
    TakeOrderedAndProject over one embedding scan); the fusion itself
    joins two 20-row frames — constant work after the retrievals, which
    is exactly why RRF is the production default: no score calibration
    pass over the corpus, no cross-list normalization state."""
    import math

    from ..operators.vectors import const_vec, dot as vdot, with_norm

    # lexical list: the shared integer micro-unit BM25 frame, ranked on
    # the raw integers so ranking never sees a rounded double
    lex_scores = (
        _bm25_micro_scores(spark, sf_dir)
        .orderBy(F.desc("s"), F.asc("doc_id"))
        .limit(_RRF_LIST)
    )
    wl = Window.orderBy(F.desc("s"), F.asc("doc_id"))  # 20-row frame
    lex = lex_scores.select(
        "doc_id", F.row_number().over(wl).cast("long").alias("lex_rank")
    )

    # semantic list: ppm-quantized cosine vs the fixed query vector
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
    q_nrm = math.sqrt(sum(x * x for x in q))
    en = with_norm(emb)
    cos_ppm = F.floor(
        vdot(F.col("embedding"), const_vec(q))
        / (F.col("nrm") * F.lit(q_nrm))
        * 1000000
        + F.lit(0.5)
    ).cast("long")
    sem_scores = (
        en.select(F.col("vec_id").alias("doc_id"), cos_ppm.alias("cos_ppm"))
        .orderBy(F.desc("cos_ppm"), F.asc("doc_id"))
        .limit(_RRF_LIST)
    )
    ws = Window.orderBy(F.desc("cos_ppm"), F.asc("doc_id"))  # 20-row frame
    sem = sem_scores.select(
        "doc_id", F.row_number().over(ws).cast("long").alias("sem_rank")
    )

    fused = lex.join(sem, "doc_id", "full_outer").select(
        "doc_id",
        "lex_rank",
        "sem_rank",
        (
            F.coalesce(
                F.expr(f"1000000L DIV ({_RRF_K} + lex_rank)"), F.lit(0)
            )
            + F.coalesce(
                F.expr(f"1000000L DIV ({_RRF_K} + sem_rank)"), F.lit(0)
            )
        ).cast("long").alias("rrf_micro"),
    )
    return fused.orderBy(F.desc("rrf_micro"), F.asc("doc_id")).limit(_RRF_TOPK)


# ---------------------------------------------------------------------------
# knn_matryoshka_eval — truncated-dimension retrieval fidelity
# ---------------------------------------------------------------------------

_MAT_HALF = 32  # prefix dims scored against the full 64

_MAT_DOT_HALF = (
    "(SELECT sum(CAST({a}[s.i] AS DOUBLE) * CAST({b}[s.i] AS DOUBLE)) "
    f"FROM (SELECT unnest(range(1, {_MAT_HALF + 1})) AS i) s)"
)

_MAT_ORACLE = f"""
WITH pairs AS (
  SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
         CAST(floor({_IVF_DOT.format(a="q.embedding", b="d.embedding")}
              / (sqrt({_IVF_DOT.format(a="q.embedding", b="q.embedding")})
                 * sqrt({_IVF_DOT.format(a="d.embedding", b="d.embedding")}))
              * 1000000 + 0.5) AS BIGINT) AS cos_full_ppm,
         CAST(floor({_MAT_DOT_HALF.format(a="q.embedding", b="d.embedding")}
              / (sqrt({_MAT_DOT_HALF.format(a="q.embedding", b="q.embedding")})
                 * sqrt({_MAT_DOT_HALF.format(a="d.embedding", b="d.embedding")}))
              * 1000000 + 0.5) AS BIGINT) AS cos_half_ppm
  FROM embeddings q CROSS JOIN embeddings d
  WHERE q.vec_id < {_KNN_QUERIES} AND d.vec_id <> q.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_full_ppm DESC, neighbor_id) AS r_full,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_half_ppm DESC, neighbor_id) AS r_half
  FROM pairs
)
SELECT query_id,
       CAST({_KNN_K} AS BIGINT) AS k,
       CAST(sum(CASE WHEN r_full <= {_KNN_K} AND r_half <= {_KNN_K}
                THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap,
       CAST(sum(CASE WHEN r_full <= {_KNN_K} AND r_half <= {_KNN_K}
                THEN 1 ELSE 0 END) * 1000000 // {_KNN_K} AS BIGINT)
         AS recall_ppm
FROM ranked GROUP BY query_id
"""


@register("knn_matryoshka_eval", oracle=_MAT_ORACLE)
def knn_matryoshka_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation evaluation: per query, how much of the exact
    full-dimension top-5 survives when retrieval scores only the FIRST 32
    of 64 dimensions — the gate a pipeline runs before storing truncated
    vectors (half the bytes, half the FLOPs at 100 TB) for MRL-style
    embeddings. Both rankings are exact and ppm-quantized with id
    tiebreaks, so the overlap is engine-deterministic and the oracle
    replays the whole procedure.

    Scale: the bounded query set broadcasts against ONE corpus scan (the
    declared knn_brute_force BNLJ shape, |Q| capped at 4096), BOTH
    cosines are computed in that single pass (the half-dim score is a
    prefix ``slice`` — no second scan), and the two rank windows ride one
    query_id shuffle. Output is |Q| rows."""
    from ..operators.vectors import capped_query_set, dot as vdot

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q = capped_query_set(emb.where(F.col("vec_id") < _KNN_QUERIES)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    pairs = (
        emb.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("query_id"))
    )

    def _cos_ppm(a, b, n):
        aa = F.slice(a, 1, n)
        bb = F.slice(b, 1, n)
        return F.floor(
            vdot(aa, bb)
            / (F.sqrt(vdot(aa, aa)) * F.sqrt(vdot(bb, bb)))
            * 1000000
            + F.lit(0.5)
        ).cast("long")

    scored = pairs.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        _cos_ppm(F.col("q_emb"), F.col("embedding"), 64).alias("cos_full_ppm"),
        _cos_ppm(F.col("q_emb"), F.col("embedding"), _MAT_HALF).alias(
            "cos_half_ppm"
        ),
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.desc("cos_full_ppm"), F.asc("neighbor_id")
    )
    wh = Window.partitionBy("query_id").orderBy(
        F.desc("cos_half_ppm"), F.asc("neighbor_id")
    )
    ranked = scored.select(
        "query_id",
        F.row_number().over(wf).alias("r_full"),
        F.row_number().over(wh).alias("r_half"),
    )
    both = F.sum(
        ((F.col("r_full") <= _KNN_K) & (F.col("r_half") <= _KNN_K)).cast("long")
    )
    return ranked.groupBy("query_id").agg(
        F.lit(_KNN_K).cast("long").alias("k"),
        both.alias("n_overlap"),
        F.expr(
            f"CAST(sum(CASE WHEN r_full <= {_KNN_K} AND r_half <= {_KNN_K} "
            f"THEN 1 ELSE 0 END) * 1000000 DIV {_KNN_K} AS BIGINT)"
        ).alias("recall_ppm"),
    )


# ---------------------------------------------------------------------------
# knn_scalar_quant_eval — int8 scalar-quantization retrieval fidelity (X145)
# ---------------------------------------------------------------------------

# Dequantized element, shared shape between Spark and the oracle: per-dim
# [lo, hi] from the corpus min/max, 8-bit code floor((x-lo)/(hi-lo)*255+0.5)
# (x in [lo,hi] by construction, so the code needs no clamp), reconstruction
# lo + code*(hi-lo)/255. Constant-width dims degenerate to lo.
_SQ_DEQ = (
    "CASE WHEN dims.hi = dims.lo THEN dims.lo "
    "ELSE dims.lo + floor((CAST({x} AS DOUBLE) - dims.lo) / (dims.hi - dims.lo)"
    " * 255 + 0.5) * (dims.hi - dims.lo) / 255 END"
)

_SQ_ORACLE = f"""
WITH dims AS (
  SELECT s.i AS i,
         min(CAST(embedding[s.i] AS DOUBLE)) AS lo,
         max(CAST(embedding[s.i] AS DOUBLE)) AS hi
  FROM embeddings CROSS JOIN (SELECT unnest(range(1, 65)) AS i) s
  GROUP BY 1
),
deq AS (
  SELECT e.vec_id, list({_SQ_DEQ.format(x="e.embedding[dims.i]")} ORDER BY dims.i) AS dhat
  FROM embeddings e CROSS JOIN dims
  GROUP BY e.vec_id
),
pairs AS (
  SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
         CAST(floor({_IVF_DOT.format(a="q.embedding", b="d.embedding")}
              / (sqrt({_IVF_DOT.format(a="q.embedding", b="q.embedding")})
                 * sqrt({_IVF_DOT.format(a="d.embedding", b="d.embedding")}))
              * 1000000 + 0.5) AS BIGINT) AS cos_full_ppm,
         CAST(floor({_IVF_DOT.format(a="q.embedding", b="dd.dhat")}
              / (sqrt({_IVF_DOT.format(a="q.embedding", b="q.embedding")})
                 * sqrt({_IVF_DOT.format(a="dd.dhat", b="dd.dhat")}))
              * 1000000 + 0.5) AS BIGINT) AS cos_sq_ppm
  FROM embeddings q
  CROSS JOIN embeddings d
  JOIN deq dd ON dd.vec_id = d.vec_id
  WHERE q.vec_id < {_KNN_QUERIES} AND d.vec_id <> q.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_full_ppm DESC, neighbor_id) AS r_full,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_sq_ppm DESC, neighbor_id) AS r_sq
  FROM pairs
)
SELECT query_id,
       CAST({_KNN_K} AS BIGINT) AS k,
       CAST(sum(CASE WHEN r_full <= {_KNN_K} AND r_sq <= {_KNN_K}
                THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap,
       CAST(sum(CASE WHEN r_full <= {_KNN_K} AND r_sq <= {_KNN_K}
                THEN 1 ELSE 0 END) * 1000000 // {_KNN_K} AS BIGINT)
         AS recall_ppm
FROM ranked GROUP BY query_id
"""


@register("knn_scalar_quant_eval", oracle=_SQ_ORACLE)
def knn_scalar_quant_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantization (int8) retrieval fidelity — the third leg of the
    embedding-compression gate family: ``knn_matryoshka_eval`` gates DIM
    truncation, IVF gates partition-pruned search, this gates PRECISION
    truncation. Per dimension, [lo, hi] = corpus min/max; each corpus
    component stores as the 8-bit code floor((x-lo)/(hi-lo)*255+0.5) (4x
    smaller than float32 — at 100 TB of embeddings, that is the difference
    between fitting the index in cluster RAM or not). Retrieval is
    ASYMMETRIC, the production ADC shape: the query stays full-precision,
    corpus vectors score as their dequantized reconstruction
    lo + code*(hi-lo)/255. The query reports per-query overlap of the
    exact top-5 with the quantized top-5 — run this before switching the
    corpus to int8 storage, exactly like the Matryoshka gate.

    Determinism: lo/hi are order-free min/max aggregates over doubles;
    codes and reconstructions are per-element closed-form IEEE expressions
    written identically here and in the oracle; both cosines are
    ppm-quantized with id tiebreaks, so DuckDB replays the whole procedure
    bit-for-bit.

    Scale: the per-dim stats are ONE posexplode aggregate over 64 keys
    (map-side combine, 64-row result — bounded model state collected to
    the driver like the KMeans centroids); dequantization is a per-row
    JVM ``transform`` against the 64-element literal bounds arrays; both
    cosines ride the declared broadcast-kNN BNLJ pass (|Q| capped at
    4096, corpus scanned once); the two rank windows share one query_id
    shuffle. Output is |Q| rows."""
    from ..operators.vectors import capped_query_set, const_vec, dot as vdot

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    # 64-row bounded model state: per-dimension quantization bounds
    stats = (
        emb.select(F.posexplode(F.col("embedding").cast("array<double>")).alias("i", "x"))
        .groupBy("i")
        .agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
        .orderBy("i")
        .collect()
    )
    lo_arr = const_vec([r["lo"] for r in stats])
    hi_arr = const_vec([r["hi"] for r in stats])

    def dequant(col):
        def elem(x, i):
            lo = F.element_at(lo_arr, i + F.lit(1))
            hi = F.element_at(hi_arr, i + F.lit(1))
            return F.when(hi == lo, lo).otherwise(
                lo + F.floor((x - lo) / (hi - lo) * 255 + F.lit(0.5)) * (hi - lo) / 255
            )

        return F.transform(col.cast("array<double>"), elem)

    q = capped_query_set(emb.where(F.col("vec_id") < _KNN_QUERIES)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    corpus = emb.select("vec_id", "embedding", dequant(F.col("embedding")).alias("dhat"))
    pairs = corpus.crossJoin(F.broadcast(q)).where(F.col("vec_id") != F.col("query_id"))

    def cos_ppm(a, b):
        return F.floor(
            vdot(a, b) / (F.sqrt(vdot(a, a)) * F.sqrt(vdot(b, b))) * 1000000
            + F.lit(0.5)
        ).cast("long")

    scored = pairs.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        cos_ppm(F.col("q_emb"), F.col("embedding")).alias("cos_full_ppm"),
        cos_ppm(F.col("q_emb"), F.col("dhat")).alias("cos_sq_ppm"),
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.desc("cos_full_ppm"), F.asc("neighbor_id")
    )
    ws = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sq_ppm"), F.asc("neighbor_id")
    )
    ranked = scored.select(
        "query_id",
        F.row_number().over(wf).alias("r_full"),
        F.row_number().over(ws).alias("r_sq"),
    )
    return ranked.groupBy("query_id").agg(
        F.lit(_KNN_K).cast("long").alias("k"),
        F.sum(
            ((F.col("r_full") <= _KNN_K) & (F.col("r_sq") <= _KNN_K)).cast("long")
        ).alias("n_overlap"),
        F.expr(
            f"CAST(sum(CASE WHEN r_full <= {_KNN_K} AND r_sq <= {_KNN_K} "
            f"THEN 1 ELSE 0 END) * 1000000 DIV {_KNN_K} AS BIGINT)"
        ).alias("recall_ppm"),
    )


# ---------------------------------------------------------------------------
# knn_pq_eval — product-quantization (PQ/ADC) retrieval fidelity
# ---------------------------------------------------------------------------

_PQ_M = 8  # subspaces (64 dims / 8 = 8 dims each)
_PQ_K = 16  # codebook entries per subspace

# Squared L2 over an index range, the _IVF_DOT idiom (sequential order,
# multiplication not pow — both engines accumulate identically).
_PQ_SQDIST = (
    "(SELECT sum(({a} - {b}) * ({a} - {b})) "
    "FROM (SELECT unnest(range({lo}, {hi})) AS i) s)"
)

_PQ_ASSIGN_DIST = _PQ_SQDIST.format(
    a="CAST(e.embedding[cb.m * 8 + s.i] AS DOUBLE)", b="cb.sub[s.i]", lo=1, hi=9
)

_PQ_CODEBOOK_CTES = f"""seeds AS (
  SELECT embedding, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS j
  FROM (SELECT vec_id, embedding FROM embeddings
        WHERE vec_id % 31 = 0 ORDER BY vec_id LIMIT {_PQ_K})
),
cb AS (
  SELECT mm.m, s.j,
         list_transform(s.embedding[mm.m * 8 + 1 : mm.m * 8 + 8],
                        x -> CAST(x AS DOUBLE)) AS sub
  FROM seeds s CROSS JOIN (SELECT unnest(range({_PQ_M})) AS m) mm
),
codes AS (
  SELECT vec_id, m, j FROM (
    SELECT e.vec_id, cb.m, cb.j,
           row_number() OVER (PARTITION BY e.vec_id, cb.m
                              ORDER BY {_PQ_ASSIGN_DIST} ASC, cb.j ASC) AS rn
    FROM embeddings e CROSS JOIN cb
  ) WHERE rn = 1
),
recon AS (
  SELECT c.vec_id, flatten(list(cb.sub ORDER BY c.m)) AS r
  FROM codes c JOIN cb ON cb.m = c.m AND cb.j = c.j
  GROUP BY c.vec_id
)"""

_PQ_ORACLE = f"""
WITH {_PQ_CODEBOOK_CTES},
pairs AS (
  SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
         CAST(floor({_PQ_SQDIST.format(
             a="CAST(q.embedding[s.i] AS DOUBLE)",
             b="CAST(d.embedding[s.i] AS DOUBLE)", lo=1, hi=65)}
              * 1000000 + 0.5) AS BIGINT) AS d_exact_micro,
         CAST(floor({_PQ_SQDIST.format(
             a="CAST(q.embedding[s.i] AS DOUBLE)", b="r.r[s.i]", lo=1, hi=65)}
              * 1000000 + 0.5) AS BIGINT) AS d_adc_micro
  FROM embeddings q
  CROSS JOIN embeddings d
  JOIN recon r ON r.vec_id = d.vec_id
  WHERE q.vec_id < {_KNN_QUERIES} AND d.vec_id <> q.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY d_exact_micro ASC, neighbor_id) AS r_exact,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY d_adc_micro ASC, neighbor_id) AS r_pq
  FROM pairs
)
SELECT query_id,
       CAST({_KNN_K} AS BIGINT) AS k,
       CAST(sum(CASE WHEN r_exact <= {_KNN_K} AND r_pq <= {_KNN_K}
                THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap,
       CAST(sum(CASE WHEN r_exact <= {_KNN_K} AND r_pq <= {_KNN_K}
                THEN 1 ELSE 0 END) * 1000000 // {_KNN_K} AS BIGINT)
         AS recall_ppm
FROM ranked GROUP BY query_id
"""


def _pq_sq(a, b):
    """Sequential multiply-accumulate squared L2 (the operators.vectors.dot
    fold) — shared by the PQ eval and the IVF+PQ search so the float path
    is one definition."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _pq_micro(c):
    """floor(x * 1e6 + 0.5) as BIGINT — the shared distance quantizer."""
    return F.floor(c * 1000000 + F.lit(0.5)).cast("long")


def _pq_codebooks(base: DataFrame) -> list[list[list[float]]]:
    """cb[m][j] = the j-th id-sampled seed's m-th 8-dim subvector as exact
    doubles (bounded model state: 16 x 64 floats collected)."""
    seed_rows = (
        base.where(F.col("vec_id") % 31 == 0)
        .orderBy("vec_id")
        .limit(_PQ_K)
        .collect()
    )
    return [
        [
            [float(x) for x in r["embedding"][m * 8 : m * 8 + 8]]
            for r in seed_rows
        ]
        for m in range(_PQ_M)
    ]


def _pq_recon_frame(base: DataFrame, cb: list[list[list[float]]]) -> DataFrame:
    """(vec_id, embedding, recon): per-row PQ encode (nearest codebook entry
    per subspace, smaller index on ties) + reconstruction — a narrow
    per-row map against the codebooks, no join, no shuffle.

    Since round 14 the encode runs in the Arrow kernel
    (:func:`operators.veckernels.pq_encode_recon_arrow`): the 8×16
    8-dim squared-distance folds were the engine's single hottest per-row
    expression (interpreted HOFs, ~3 ms/row), and the NumPy batch kernel
    computes the identical sequential arithmetic 17x faster (6.34 s →
    0.38 s on the sf0.1 corpus; bit-equality with the HOF twin pinned in
    tests/test_veckernels.py). :func:`_pq_recon_frame_hof` keeps the JVM
    expression as the reference twin."""
    from ..operators.veckernels import pq_encode_recon_arrow

    return pq_encode_recon_arrow(base.select("vec_id", "embedding"), cb)


def _pq_recon_frame_hof(base: DataFrame, cb: list[list[list[float]]]) -> DataFrame:
    """The pre-round-14 JVM expression twin of :func:`_pq_recon_frame` —
    pure expressions against the literal codebooks. Kept as the
    bit-equality reference for the Arrow kernel."""
    from ..operators.vectors import const_matrix

    emb_d = F.col("embedding").cast("array<double>")
    enc_cols = []
    for m in range(_PQ_M):
        sub = F.slice(emb_d, m * 8 + 1, 8)
        scores = F.array(
            *[
                _pq_sq(sub, F.expr(_sql_double_array_pq(cb[m][j])))
                for j in range(_PQ_K)
            ]
        )
        enc_cols.append(
            F.array_position(scores, F.array_min(scores)).alias(f"p{m}")
        )
    enc = base.select("vec_id", "embedding", *enc_cols)
    return enc.select(
        "vec_id",
        "embedding",
        F.concat(
            *[
                F.element_at(const_matrix(cb[m]), F.col(f"p{m}").cast("int"))
                for m in range(_PQ_M)
            ]
        ).alias("recon"),
    )


@register("knn_pq_eval", oracle=_PQ_ORACLE)
def knn_pq_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization (PQ, Jegou et al. 2011) retrieval fidelity with
    asymmetric distance computation (ADC) — the fourth leg of the
    embedding-compression gate family and the production compression for a
    100 TB vector index: ``knn_matryoshka_eval`` gates DIM truncation,
    ``knn_scalar_quant_eval`` gates PRECISION truncation, IVF gates
    partition pruning; PQ compresses each 64-dim float32 vector (256 B) to
    8 one-byte codes (32x). Each of the 8 subspaces (8 dims) has a 16-entry
    codebook — a deterministic id-sampled subset (the knn_ann_ivf centroid
    discipline: seed-free, engine-reproducible). Encoding picks the nearest codebook entry per
    subspace (squared L2, smaller index on ties); retrieval is ASYMMETRIC,
    the production ADC shape: the query stays full-precision and corpus
    vectors score as their reconstruction (concatenated codebook entries).
    Per query: overlap of the exact L2 top-5 with the ADC top-5.

    Determinism: codebooks are literal doubles of id-sampled float32 rows
    (exactly representable), every distance is the same sequential
    multiply-accumulate in both engines (the _IVF_DOT idiom), distances are
    micro-quantized BEFORE ranking, ranks tie-break on neighbor_id, and
    encoding tie-breaks on the smaller codebook index — so the oracle
    replays the whole index path (seed pick → per-subspace assign →
    reconstruct → ADC rank) closed-form.

    Reading the number: on THIS corpus (uniform-random synthetic
    embeddings) the measured recall is low — the honest worst case, since
    PQ's accuracy comes from exploiting cluster structure that uniform
    data lacks (16 entries per subspace cannot cover an 8-dim uniform
    cube). That is the gate doing its job: it would tell a pipeline NOT
    to ship 32x compression on this distribution. The eval still carries
    ranking signal (overlap beats the random-top-5 baseline severalfold —
    pinned in tests), and the family ordering holds (PQ at 32x never
    beats int8 at 4x).

    Scale: encoding is a per-row JVM expression against the literal
    codebooks (no join, no shuffle — at 100 TB it pipelines inside the
    corpus scan, like ivf_assign); both distances ride the declared
    broadcast-kNN BNLJ pass (|Q| capped at 4096, corpus scanned once); the
    two rank windows share one query_id shuffle. The codebook collect is
    bounded model state (16 x 64 floats). Output is |Q| rows."""
    from ..operators.vectors import capped_query_set

    base = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    recon = _pq_recon_frame(base, _pq_codebooks(base))
    emb_d = F.col("embedding").cast("array<double>")
    q = capped_query_set(base.where(F.col("vec_id") < _KNN_QUERIES)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("q_emb"),
    )
    pairs = recon.crossJoin(F.broadcast(q)).where(
        F.col("vec_id") != F.col("query_id")
    )
    scored = pairs.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        _pq_micro(_pq_sq(F.col("q_emb"), emb_d)).alias("d_exact_micro"),
        _pq_micro(_pq_sq(F.col("q_emb"), F.col("recon"))).alias("d_adc_micro"),
    )
    we = Window.partitionBy("query_id").orderBy(
        F.asc("d_exact_micro"), F.asc("neighbor_id")
    )
    wp = Window.partitionBy("query_id").orderBy(
        F.asc("d_adc_micro"), F.asc("neighbor_id")
    )
    ranked = scored.select(
        "query_id",
        F.row_number().over(we).alias("r_exact"),
        F.row_number().over(wp).alias("r_pq"),
    )
    return ranked.groupBy("query_id").agg(
        F.lit(_KNN_K).cast("long").alias("k"),
        F.sum(
            ((F.col("r_exact") <= _KNN_K) & (F.col("r_pq") <= _KNN_K)).cast(
                "long"
            )
        ).alias("n_overlap"),
        F.expr(
            f"CAST(sum(CASE WHEN r_exact <= {_KNN_K} AND r_pq <= {_KNN_K} "
            f"THEN 1 ELSE 0 END) * 1000000 DIV {_KNN_K} AS BIGINT)"
        ).alias("recall_ppm"),
    )


def _sql_double_array_pq(values):
    from ..operators.vectors import _sql_double_array

    return _sql_double_array(values)


# ---------------------------------------------------------------------------
# knn_ann_pq — IVF + PQ/ADC composed search (the FAISS IVFPQ production shape)
# ---------------------------------------------------------------------------

_IVFPQ_ORACLE = f"""
WITH {_IVF_CTES},
{_PQ_CODEBOOK_CTES},
scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         CAST(floor({_PQ_SQDIST.format(
             a="CAST(q.embedding[s.i] AS DOUBLE)", b="r.r[s.i]", lo=1, hi=65)}
              * 1000000 + 0.5) AS BIGINT) AS d_adc_micro
  FROM probes p
  JOIN assigned a ON a.cell_id = p.cell_id AND a.vec_id <> p.query_id
  JOIN norms q ON q.vec_id = p.query_id
  JOIN recon r ON r.vec_id = a.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, d_adc_micro,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY d_adc_micro ASC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, d_adc_micro, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {_KNN_K}
"""


@register("knn_ann_pq", oracle=_IVFPQ_ORACLE)
def knn_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF + PQ composed approximate search — FAISS's IVFPQ, THE production
    index shape for a 100 TB vector store: the IVF coarse quantizer
    (knn_ann_ivf's 32 deterministic centroids) prunes the search to 8
    probed cells per query, and within those cells candidates rank by
    ASYMMETRIC PQ distance (knn_pq_eval's 8x16 codebooks: full-precision
    query against 8-byte-coded corpus reconstructions) — so the scan-time
    memory per candidate is the 32x-compressed code, never the raw vector.
    Both component indexes are already oracle-verified standalone; this
    query verifies their COMPOSITION end to end (coarse assign → probe →
    PQ reconstruct → ADC rank), which is what actually ships.

    Determinism: every piece reuses the shared verified fragments — the
    IVF argmax/probe CTEs, the PQ codebook/encode CTEs, the sequential
    multiply-accumulate distance, micro-quantized before ranking with id
    tie-breaks — so the oracle replays the full composed path closed-form.

    Scale: cell assignment and PQ encoding are per-row expressions that
    pipeline inside ONE corpus scan (no join, no shuffle until the
    candidate stage); candidates come from the equi-join on cell_id
    against the broadcast |Q| x nprobe probe table — pair volume is
    probed-cell occupancy, never |Q| x N; the top-k window shuffles only
    scored candidates. Centroid + codebook collects are bounded model
    state (48 x 64 floats total)."""
    from ..operators.vectors import (
        capped_query_set,
        ivf_assign,
        ivf_probe_cells,
    )

    base = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    centroid_rows = (
        base.where(F.col("vec_id") % 31 == 0).orderBy("vec_id").limit(32).collect()
    )
    centroids = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in centroid_rows
    ]
    # ONE corpus pass carries both the coarse cell id and the PQ
    # reconstruction (each a per-row expression over the same scan)
    corpus = ivf_assign(
        rebalance(_pq_recon_frame(base, _pq_codebooks(base))),
        centroids,
    )
    q = capped_query_set(base.where(F.col("vec_id") < _KNN_QUERIES)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("q_emb"),
    )
    probes = ivf_probe_cells(q, centroids, nprobe=8, vec_col="q_emb")
    scored = (
        corpus.join(F.broadcast(probes), on="cell_id")
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _pq_micro(_pq_sq(F.col("q_emb"), F.col("recon"))).alias(
                "d_adc_micro"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("d_adc_micro"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= _KNN_K)
        .select("query_id", "neighbor_id", "d_adc_micro", "rank")
    )


# ---------------------------------------------------------------------------
# text_ngram_novelty — per-doc first-occurrence novelty profile (X146)
# ---------------------------------------------------------------------------

_NOVELTY_ORACLE = """
WITH w AS (
  SELECT doc_id, string_split(lower(text), ' ') AS words
  FROM documents WHERE len(string_split(text, ' ')) >= 3
),
gr AS (
  SELECT DISTINCT doc_id, array_to_string(words[i:i+2], ' ') AS g
  FROM (SELECT doc_id, words, unnest(range(1, len(words) - 1)) AS i FROM w)
),
f AS (
  SELECT g, min(doc_id) AS first_doc FROM gr GROUP BY 1
)
SELECT gr.doc_id,
       CAST(count(*) AS BIGINT) AS n_ngrams,
       CAST(sum(CASE WHEN f.first_doc = gr.doc_id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel,
       CAST(sum(CASE WHEN f.first_doc = gr.doc_id THEN 1 ELSE 0 END)
            * 1000000 // count(*) AS BIGINT) AS novelty_ppm
FROM gr JOIN f USING (g)
GROUP BY 1
"""


@register("text_ngram_novelty", oracle=_NOVELTY_ORACLE)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a doc's distinct
    lowercase word 3-grams whose FIRST corpus occurrence (min doc_id —
    ingest order in this corpus) is the doc itself. This is the marginal-
    novelty curve a training-order/curriculum pipeline reads before
    committing a shard order: documents that repeat what earlier data
    already said score near 0 and are candidates for down-weighting or
    dedup escalation, while high-novelty late documents argue for
    re-ordering (the signal behind `corpus_training_order` and the
    prune-curve queries, here measured per doc instead of assumed).

    Scale: one explode of distinct per-doc shingles (rebalanced first —
    the same per-row JVM shingling as the dedup family,
    `operators/textsim.word_shingles`); first-occurrence is a WINDOW
    minimum over the gram key, so the (gram -> first doc) fact never
    leaves the gram-partitioned exchange — no second materialization of
    the gram table and no join (the first-occurrence side is nearly as
    large as the gram table itself, so a broadcast or shuffle join back
    pays twice: measured 2x slower at sf0.1); the final per-doc rollup is
    one doc_id shuffle of (gram, flag) pairs. Integer counts and ppm
    division — no float order anywhere."""
    from ..operators.textsim import word_shingles

    docs = rebalance(
        load_table(spark, sf_dir, "documents").select(
            "doc_id", F.lower(F.col("text")).alias("text")
        )
    )
    # raw word_shingles, not with_shingles: the _nonnull_guard exists to
    # stop Catalyst pushing shingling below the rebalance exchange when
    # DOWNSTREAM null-intolerant join keys/filters reference the array
    # (the dedup family's shape). Nothing downstream here is
    # null-intolerant on the grams (window min + rollup), and the guard
    # itself measures ~5x slower through the explode at sf0.1 (2.2 s vs
    # 0.45 s for the same 260k-row gram count), so the bare expression is
    # both safe and the fast path.
    grams = docs.where(F.size(F.split("text", " ")) >= 3).select(
        "doc_id", F.explode(word_shingles(F.col("text"), 3)).alias("g")
    )
    novel = (
        (F.col("doc_id") == F.min("doc_id").over(Window.partitionBy("g")))
        .cast("long")
        .alias("novel")
    )
    return (
        grams.select("doc_id", novel)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_ngrams"),
            F.sum("novel").alias("n_novel"),
            F.expr(
                "CAST(sum(novel) * 1000000 DIV count(1) AS BIGINT)"
            ).alias("novelty_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# text_bpe_train / text_bpe_tokenize — corpus-trained BPE (round 10)
# ---------------------------------------------------------------------------

# The oracle replays the full training recurrence in SQL (operators/bpe.py
# bpe_oracle_with): pair counts -> arg-max merge -> list_reduce fold, one
# MATERIALIZED CTE triple per merge rank, then reads the merge rows /
# final tokenization off the chain. Training, not just application, is
# independently verified.
from ..operators.bpe import (  # noqa: E402
    N_MERGES as _BPE_N_MERGES,
    bpe_oracle_merge_table,
    bpe_oracle_with,
    bpe_oracle_word_tokens,
)

_BPE_TOKENIZE_ORACLE = f"""WITH {bpe_oracle_with()},
{bpe_oracle_word_tokens()},
d AS (
  SELECT doc_id, w FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
  ) WHERE w <> ''
)
SELECT d.doc_id,
       CAST(count(*) AS BIGINT) AS ws_tokens,
       CAST(sum(wt.n_toks) AS BIGINT) AS bpe_tokens
FROM d JOIN wt ON d.w = wt.word
GROUP BY d.doc_id
"""


@register("text_bpe_train", oracle=bpe_oracle_merge_table())
def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-trained BPE merge table: (rank, lhs, rhs, merged) for up
    to 48 merges — the tokenizer model every BPE-backed count in the
    registry replays (Sennrich et al., ACL 2016; no external vocabulary,
    the corpus trains its own).

    Scale: the ONE pass that sees the corpus is the word-count aggregate
    (map-side combining, vocabulary-keyed shuffle); training runs over the
    top-4096 frequency table as bounded driver-side model state — the
    KMeans-centroid pattern, not a per-iteration corpus scan (classic BPE
    trains on the word-frequency table, so 100 TB reduces to <=4096 rows
    before iteration one). The result is a <=48-row model table.

    The oracle replays all 48 training iterations in unrolled SQL, so the
    driver independently verifies merge SELECTION (arg-max with the
    documented tie-break), not just merge application."""
    from .artifacts import bpe_merges, bpe_word_tokens

    merges = bpe_merges(spark, sf_dir)
    # Force the vocabulary token map too: the bench cost policy charges
    # THIS query the whole tokenizer build (training + vocabulary encode),
    # and the family's other members ride both artifacts warm — without
    # this, the word-map build would land on text_bpe_tokenize's first rep
    # and vanish under the median, charged to nobody.
    bpe_word_tokens(spark, sf_dir)
    rows = [(i + 1, a, b, a + b) for i, (a, b) in enumerate(merges)]
    return spark.createDataFrame(
        rows, "rank long, lhs string, rhs string, merged string"
    )


@register("text_bpe_tokenize", oracle=_BPE_TOKENIZE_ORACLE)
def text_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-grade per-document token counts: whitespace words vs real
    BPE tokens under the corpus-trained merge table — the number a
    training pipeline actually budgets and packs on (the round-9 verdict's
    estimate-grade gap, closed).

    Scale: the Python encode runs ONCE PER DISTINCT WORD as an
    Arrow-batched ``pandas_udf`` over the vocabulary table (broadcast
    merge table, per-batch memo), then per-document counts are a broadcast
    join of the exploded corpus against that word->n_toks map + one
    doc-keyed aggregate. The corpus-sized stages are all JVM-side; Python
    touches only the vocabulary."""
    from ..operators.bpe import corpus_words
    from .artifacts import bpe_word_tokens

    d = corpus_words(spark, sf_dir, "doc_id")
    wt = bpe_word_tokens(spark, sf_dir)
    return (
        d.join(F.broadcast(wt), d.w == wt.word)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("ws_tokens"),
            F.sum("n_toks").cast("long").alias("bpe_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# search_maxsim_late_interaction — ColBERT-style multi-vector retrieval
# ---------------------------------------------------------------------------

_MS_TOKENS_PER_DOC = 8
_MS_QUERY_DOCS = 2
_MS_TOPK = 5

_MAXSIM_ORACLE = f"""
WITH tok AS MATERIALIZED (
  SELECT vec_id // {_MS_TOKENS_PER_DOC} AS d, vec_id AS t, embedding,
         sqrt((SELECT sum(CAST(embedding[s.i] AS DOUBLE) * CAST(embedding[s.i] AS DOUBLE))
               FROM (SELECT unnest(range(1, 65)) AS i) s)) AS nrm
  FROM embeddings
),
q AS (SELECT * FROM tok WHERE d < {_MS_QUERY_DOCS}),
c AS (SELECT * FROM tok WHERE d >= {_MS_QUERY_DOCS}),
cs AS (
  SELECT q.d AS q_doc, q.t AS q_tok, c.d AS c_doc,
         (SELECT sum(CAST(q.embedding[s.i] AS DOUBLE) * CAST(c.embedding[s.i] AS DOUBLE))
          FROM (SELECT unnest(range(1, 65)) AS i) s) / (q.nrm * c.nrm) AS cos
  FROM q JOIN c ON q.d <> c.d
),
tokmax AS (
  SELECT q_doc, q_tok, c_doc,
         CAST(floor(max(cos) * 1000000 + 0.5) AS BIGINT) AS mx
  FROM cs GROUP BY q_doc, q_tok, c_doc
),
sims AS (
  SELECT q_doc, c_doc, CAST(sum(mx) AS BIGINT) AS maxsim_micro
  FROM tokmax GROUP BY q_doc, c_doc
)
SELECT q_doc AS query_doc, c_doc AS doc_id, maxsim_micro,
       CAST(row_number() OVER (PARTITION BY q_doc
                               ORDER BY maxsim_micro DESC, c_doc) AS BIGINT) AS rank
FROM sims
QUALIFY rank <= {_MS_TOPK}
"""


@register("search_maxsim_late_interaction", oracle=_MAXSIM_ORACLE)
def search_maxsim_late_interaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-interaction (multi-vector) retrieval, the ColBERT MaxSim scoring
    rule (Khattab & Zaharia, SIGIR 2020): each document is a BAG of token
    vectors (8 per doc — consecutive ``vec_id`` groups, the deterministic
    multi-vector framing of the single-vector testdata);
    a query scores a document as the SUM over query tokens of each token's
    MAX cosine against the document's tokens. This is the retrieval model
    between single-vector kNN (X14) and full cross-encoders — the quality
    tier modern RAG rerankers ship.

    Determinism: token cosines are the same sequential-fold doubles as the
    kNN family (identical element order both engines), MAX of doubles is
    exact, and each token maximum is quantized to integer micro-units
    BEFORE the per-document sum — so the one float reduction whose order
    Spark does not fix (the sum over query tokens) happens in integers.

    Scale: the corpus token side — the 100 TB side — scans ONCE and never
    shuffles for scoring (query tokens broadcast; the declared bounded-|Q|
    BNLJ shape shared with ``knn_brute_force``, |Q| = query docs × tokens
    ≤ the enforced 4096 cap). The MaxSim reduction is two map-side-
    combining aggregates keyed on (q_tok, c_doc) then (q_doc, c_doc) —
    partial max/sum combine before any exchange — and the top-k is a
    per-query window over the scored docs. Production composes this with
    the X95 IVF cell pruning (PLAID's structure) so only probed cells'
    tokens are scored; this query is the exactness baseline that pruning
    is measured against."""
    toks = with_norm(
        rebalance(load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding"))
    ).select(
        F.expr(f"vec_id DIV {_MS_TOKENS_PER_DOC}").alias("c_doc"),
        "embedding",
        "nrm",
    ).where(F.col("c_doc") >= _MS_QUERY_DOCS)
    # Query side loads separately so the vec_id predicate pushes into the
    # parquet scan (the knn_brute_force footnote); capped_query_set enforces
    # the broadcast-legality bound.
    q = with_norm(
        capped_query_set(
            load_table(spark, sf_dir, "embeddings")
            .select("vec_id", "embedding")
            .where(F.col("vec_id") < _MS_QUERY_DOCS * _MS_TOKENS_PER_DOC)
        )
    ).select(
        F.expr(f"vec_id DIV {_MS_TOKENS_PER_DOC}").alias("q_doc"),
        F.col("vec_id").alias("q_tok"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    scored = toks.join(
        F.broadcast(q), on=F.col("c_doc") != F.col("q_doc"), how="inner"
    ).select(
        "q_doc",
        "q_tok",
        "c_doc",
        cosine(F.col("q_emb"), F.col("embedding"), F.col("q_nrm"), F.col("nrm")).alias(
            "cos"
        ),
    )
    tokmax = scored.groupBy("q_doc", "q_tok", "c_doc").agg(
        F.floor(F.max("cos") * F.lit(1000000.0) + F.lit(0.5))
        .cast("long")
        .alias("mx")
    )
    sims = tokmax.groupBy("q_doc", "c_doc").agg(
        F.sum("mx").cast("long").alias("maxsim_micro")
    )
    w = Window.partitionBy("q_doc").orderBy(
        F.col("maxsim_micro").desc(), F.col("c_doc")
    )
    return (
        sims.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= _MS_TOPK)
        .select(
            F.col("q_doc").alias("query_doc"),
            F.col("c_doc").alias("doc_id"),
            "maxsim_micro",
            "rank",
        )
    )


# ---------------------------------------------------------------------------
# classifier_confusion_eval — the model-based filter graded against the
# rule-based reference before it gates a corpus
# ---------------------------------------------------------------------------

from .corpus_queries import _ppm_ratio_sql  # noqa: E402  (shared exact split)

_CCE_ORACLE = f"""
WITH model(lang, bias, w_tokens, w_stop, w_digit, threshold) AS (
  VALUES {", ".join(f"('{l}', {b}, {wt}, {ws}, {wd}, {th})" for l, b, wt, ws, wd, th in _QC_MODEL)}
),
feats AS (
  SELECT doc_id, lang,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
         CAST(len(list_filter(string_split(text, ' '),
                              t -> list_contains({_QC_STOPS!r}, t))) AS BIGINT) AS stop_hits,
         CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT) AS digit_chars
  FROM documents
),
flags AS (
  SELECT f.lang,
         (m.bias + m.w_tokens * f.n_tokens + m.w_stop * f.stop_hits
          + m.w_digit * f.digit_chars) >= m.threshold AS keep,
         (f.n_tokens >= 20
          AND CAST(f.n_distinct AS DOUBLE) / CAST(f.n_tokens AS DOUBLE) >= 0.3)
           AS good
  FROM feats f
  JOIN model m
    ON m.lang = CASE WHEN f.lang IN ({", ".join(f"'{l}'" for l, *_ in _QC_MODEL if l != "*")})
                     THEN f.lang ELSE '*' END
),
cm AS (
  SELECT lang,
         CAST(sum(CASE WHEN keep AND good THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         CAST(sum(CASE WHEN keep AND NOT good THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         CAST(sum(CASE WHEN NOT keep AND good THEN 1 ELSE 0 END) AS BIGINT) AS fn,
         CAST(sum(CASE WHEN NOT keep AND NOT good THEN 1 ELSE 0 END) AS BIGINT) AS tn
  FROM flags GROUP BY lang
),
pr AS (
  SELECT lang, tp, fp, fn, tn,
         CAST(CASE WHEN tp + fp > 0
                   THEN {_ppm_ratio_sql("tp", "(tp + fp)")} ELSE 0 END
              AS BIGINT) AS precision_ppm,
         CAST(CASE WHEN tp + fn > 0
                   THEN {_ppm_ratio_sql("tp", "(tp + fn)")} ELSE 0 END
              AS BIGINT) AS recall_ppm
  FROM cm
)
SELECT lang, tp, fp, fn, tn, precision_ppm, recall_ppm,
       CAST(CASE WHEN precision_ppm + recall_ppm > 0
                 THEN (2 * precision_ppm * recall_ppm)
                      // (precision_ppm + recall_ppm)
                 ELSE 0 END AS BIGINT) AS f1_ppm
FROM pr
"""


def confusion_flags(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """THE per-doc (lang, keep, good) flag frame — the linear quality
    classifier's verdict next to the rule-based reference flag — shared by
    the batch eval (``classifier_confusion_eval``) and the streaming
    monitor (``streaming_classifier_monitor``), the boilerplate_paras
    one-definition discipline: batch and ingest grade with the SAME
    scoring, so the two can never drift. ``docs`` must expose
    (lang, text)."""
    w = F.split("text", " ")
    stops = F.array(*[F.lit(s) for s in _QC_STOPS])
    feats = docs.select(
        "lang",
        F.size(w).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(w)).cast("long").alias("n_distinct"),
        F.size(F.filter(w, lambda t: F.array_contains(stops, t)))
        .cast("long")
        .alias("stop_hits"),
        F.length(F.regexp_replace("text", "[^0-9]", "")).cast("long").alias("digit_chars"),
    )
    model = spark.createDataFrame(
        _QC_MODEL, ["m_lang", "bias", "w_tokens", "w_stop", "w_digit", "threshold"]
    )
    known = [l for l, *_ in _QC_MODEL if l != "*"]
    joined = feats.withColumn(
        "m_key",
        F.when(F.col("lang").isin(known), F.col("lang")).otherwise(F.lit("*")),
    ).join(F.broadcast(model), F.col("m_key") == F.col("m_lang"))
    keep = (
        F.col("bias")
        + F.col("w_tokens") * F.col("n_tokens")
        + F.col("w_stop") * F.col("stop_hits")
        + F.col("w_digit") * F.col("digit_chars")
    ) >= F.col("threshold")
    good = (F.col("n_tokens") >= 20) & (
        F.col("n_distinct").cast("double") / F.col("n_tokens").cast("double")
        >= 0.3
    )
    return joined.select("lang", keep.alias("keep"), good.alias("good"))


def confusion_cells(flags: DataFrame) -> DataFrame:
    """The |langs|-key confusion rollup over a (lang, keep, good) frame —
    plain sums of when-expressions, so the SAME aggregation runs as a
    batch groupBy and as a streaming update-mode aggregate."""
    return flags.groupBy("lang").agg(
        F.sum(F.when(F.col("keep") & F.col("good"), 1).otherwise(0))
        .cast("long")
        .alias("tp"),
        F.sum(F.when(F.col("keep") & ~F.col("good"), 1).otherwise(0))
        .cast("long")
        .alias("fp"),
        F.sum(F.when(~F.col("keep") & F.col("good"), 1).otherwise(0))
        .cast("long")
        .alias("fn"),
        F.sum(F.when(~F.col("keep") & ~F.col("good"), 1).otherwise(0))
        .cast("long")
        .alias("tn"),
    )


def confusion_report(cm: DataFrame) -> DataFrame:
    """Precision/recall/F1 (exact ppm split) over a (lang, tp, fp, fn, tn)
    cell table — the shared report tail."""
    p = (
        "CASE WHEN tp + fp > 0 THEN "
        + _ppm_ratio_sql("tp", "(tp + fp)", "DIV")
        + " ELSE 0L END"
    )
    r = (
        "CASE WHEN tp + fn > 0 THEN "
        + _ppm_ratio_sql("tp", "(tp + fn)", "DIV")
        + " ELSE 0L END"
    )
    return cm.select(
        "lang",
        "tp",
        "fp",
        "fn",
        "tn",
        F.expr(p).alias("precision_ppm"),
        F.expr(r).alias("recall_ppm"),
    ).select(
        "*",
        F.expr(
            "CASE WHEN precision_ppm + recall_ppm > 0"
            " THEN (2 * precision_ppm * recall_ppm)"
            " DIV (precision_ppm + recall_ppm) ELSE 0L END"
        ).alias("f1_ppm"),
    )


@register("classifier_confusion_eval", oracle=_CCE_ORACLE)
def classifier_confusion_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language confusion matrix + precision/recall/F1 (ppm) of the
    linear quality classifier (``text_quality_classifier``) graded against
    the rule-based reference labels (``text_quality_scores``'s 'ok' bucket:
    >= 20 words and type-token ratio >= 0.3) — the gate a model-based
    filter must clear before it replaces the heuristic it was trained to
    imitate (the FastText-classifier-vs-rules check every curation stack
    runs; next to ``embedding_label_confusion``'s embedding-side version).

    Determinism: the matrix cells are integer counts, both flags derive
    from exact integer features (the one double — the type-token ratio —
    is the same single division on both engines, compared, never summed),
    and precision/recall use the shared overflow-safe quotient/remainder
    split (``_ppm_ratio_sql``, exact to ~9.2e15 rows per lang — the house
    100 TB envelope discipline); F1 derives from the already-ppm-scaled
    pair, so its product is bounded by 2e12 regardless of corpus size.

    Scale: ONE corpus scan computes both the model score and the reference
    flag per row (JVM higher-order functions, no Python, no explode), the
    5-row model table broadcasts, and the confusion rollup is a map-side-
    combining |langs|-key aggregate — nothing after the scan is
    corpus-sized."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    return confusion_report(confusion_cells(confusion_flags(spark, docs)))


# ---------------------------------------------------------------------------
# classifier_calibration_curve — reliability diagram for the quality filter
# ---------------------------------------------------------------------------

_CAL_BUCKET_MICRO = 50_000  # margin per bucket
_CAL_CLAMP = 250_000  # margins clamp to [-250k, 250k) -> buckets 0..9

# The (margin, good) scored frame — classifier margin in exact integer
# micro-units plus the rule-based reference flag — shared VERBATIM by the
# calibration curve's and the ROC/AUC gate's oracles (one scoring
# definition, the _contam_hits_sql discipline).
_CLF_SCORED_WITH = f"""model(lang, bias, w_tokens, w_stop, w_digit, threshold) AS (
  VALUES {", ".join(f"('{l}', {b}, {wt}, {ws}, {wd}, {th})" for l, b, wt, ws, wd, th in _QC_MODEL)}
),
feats AS (
  SELECT doc_id, lang,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
         CAST(len(list_filter(string_split(text, ' '),
                              t -> list_contains({_QC_STOPS!r}, t))) AS BIGINT) AS stop_hits,
         CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT) AS digit_chars
  FROM documents
),
scored AS (
  SELECT (m.bias + m.w_tokens * f.n_tokens + m.w_stop * f.stop_hits
          + m.w_digit * f.digit_chars) - m.threshold AS margin,
         (f.n_tokens >= 20
          AND CAST(f.n_distinct AS DOUBLE) / CAST(f.n_tokens AS DOUBLE) >= 0.3)
           AS good
  FROM feats f
  JOIN model m
    ON m.lang = CASE WHEN f.lang IN ({", ".join(f"'{l}'" for l, *_ in _QC_MODEL if l != "*")})
                     THEN f.lang ELSE '*' END
)"""

_CAL_ORACLE = f"""
WITH {_CLF_SCORED_WITH},
b AS (
  SELECT (least(greatest(margin, -{_CAL_CLAMP}), {_CAL_CLAMP - 1})
          + {_CAL_CLAMP}) // {_CAL_BUCKET_MICRO} AS bucket_id,
         good
  FROM scored
),
agg AS (
  SELECT CAST(bucket_id AS BIGINT) AS bucket_id,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CASE WHEN good THEN 1 ELSE 0 END) AS BIGINT) AS n_good
  FROM b GROUP BY 1
)
SELECT bucket_id,
       CAST((bucket_id - 5) * {_CAL_BUCKET_MICRO} AS BIGINT) AS margin_lo_micro,
       n_docs, n_good,
       {{good_ppm}} AS good_rate_ppm,
       bucket_id >= 5 AS kept
FROM agg
""".format(good_ppm=_ppm_ratio_sql("n_good", "n_docs"))


def _clf_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark side of the shared (margin, good) scored frame — one
    scoring definition for the calibration curve AND the ROC/AUC gate
    (mirrors ``_CLF_SCORED_WITH`` in SQL): integer micro-unit margin
    against the per-language threshold, plus the rule-based reference
    flag. ONE corpus scan, 5-row broadcast model join, JVM HOFs only."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    return _clf_scored_frame(spark, docs)


def _clf_scored_frame(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """Frame form of :func:`_clf_scored` over any (lang, text) relation —
    the streaming ROC monitor scores arriving micro-batches through THIS
    same definition (one scoring, batch and ingest cannot drift)."""
    w = F.split("text", " ")
    stops = F.array(*[F.lit(s) for s in _QC_STOPS])
    feats = docs.select(
        "lang",
        F.size(w).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(w)).cast("long").alias("n_distinct"),
        F.size(F.filter(w, lambda t: F.array_contains(stops, t)))
        .cast("long")
        .alias("stop_hits"),
        F.length(F.regexp_replace("text", "[^0-9]", "")).cast("long").alias("digit_chars"),
    )
    model = spark.createDataFrame(
        _QC_MODEL, ["m_lang", "bias", "w_tokens", "w_stop", "w_digit", "threshold"]
    )
    known = [l for l, *_ in _QC_MODEL if l != "*"]
    joined = feats.withColumn(
        "m_key",
        F.when(F.col("lang").isin(known), F.col("lang")).otherwise(F.lit("*")),
    ).join(F.broadcast(model), F.col("m_key") == F.col("m_lang"))
    margin = (
        F.col("bias")
        + F.col("w_tokens") * F.col("n_tokens")
        + F.col("w_stop") * F.col("stop_hits")
        + F.col("w_digit") * F.col("digit_chars")
        - F.col("threshold")
    ).cast("long")
    good = (F.col("n_tokens") >= 20) & (
        F.col("n_distinct").cast("double") / F.col("n_tokens").cast("double")
        >= 0.3
    )
    return joined.select(margin.alias("margin"), good.alias("good"))


@register("classifier_calibration_curve", oracle=_CAL_ORACLE)
def classifier_calibration_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram for the quality classifier — the gate BEFORE a
    pipeline uses the model's scores as sampling weights (FineWeb-Edu-style
    quality-weighted mixing) rather than as a hard keep/drop: per
    score-margin bucket (10 fixed 0.05-unit bins around the per-language
    threshold, extremes clamped into the edge bins), how often the
    rule-based reference says the doc is actually good. A well-calibrated
    filter shows the good-rate rising through the kept buckets; a flat
    curve means the scores carry no ranking signal and weighting by them
    is noise. Completes the model-eval family next to
    ``classifier_confusion_eval`` (the 2x2 at the threshold; this is the
    whole curve).

    Determinism: margins are exact integer micro-units; bucketing CLAMPS
    BEFORE dividing so the integer division never sees a negative dividend
    (Spark ``DIV`` truncates toward zero, DuckDB ``//`` floors — identical
    only on non-negatives, so the clamp is load-bearing); the good flag's
    one double (type-token ratio) is a single compared division, never
    summed; rates are the shared exact ppm split.

    Scale: ONE corpus scan computes score and reference flag per row (JVM
    HOFs, 5-row broadcast model); the rollup is a 10-key map-side-combining
    aggregate. Output is <=10 rows at any corpus size."""
    b = _clf_scored(spark, sf_dir).select(
        F.expr(
            f"CAST((least(greatest(margin, -{_CAL_CLAMP}), {_CAL_CLAMP - 1})"
            f" + {_CAL_CLAMP}) DIV {_CAL_BUCKET_MICRO} AS BIGINT)"
        ).alias("bucket_id"),
        "good",
    )
    agg = b.groupBy("bucket_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("good"), 1).otherwise(0)).cast("long").alias("n_good"),
    )
    return agg.select(
        "bucket_id",
        ((F.col("bucket_id") - 5) * _CAL_BUCKET_MICRO).cast("long").alias(
            "margin_lo_micro"
        ),
        "n_docs",
        "n_good",
        F.expr(_ppm_ratio_sql("n_good", "n_docs", "DIV")).alias("good_rate_ppm"),
        (F.col("bucket_id") >= 5).alias("kept"),
    )


# ---------------------------------------------------------------------------
# sample_quality_weighted — score-proportional sampling (the X178 consumer)
# ---------------------------------------------------------------------------

# keep-rate per calibration bucket, permille: linear in the margin bucket
# (bucket 0 -> 50, bucket 9 -> 950) — the FineWeb-Edu-style schedule where
# higher-scored docs are oversampled instead of lower ones being hard-dropped.
_QW_RATES = [50 + b * 100 for b in range(10)]

_QW_ORACLE = f"""
WITH model(lang, bias, w_tokens, w_stop, w_digit, threshold) AS (
  VALUES {", ".join(f"('{l}', {b}, {wt}, {ws}, {wd}, {th})" for l, b, wt, ws, wd, th in _QC_MODEL)}
),
feats AS (
  SELECT doc_id, lang,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         CAST(len(list_filter(string_split(text, ' '),
                              t -> list_contains({_QC_STOPS!r}, t))) AS BIGINT) AS stop_hits,
         CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT) AS digit_chars
  FROM documents
),
m AS (
  SELECT f.doc_id, f.lang,
         (mo.bias + mo.w_tokens * f.n_tokens + mo.w_stop * f.stop_hits
          + mo.w_digit * f.digit_chars) - mo.threshold AS margin
  FROM feats f
  JOIN model mo
    ON mo.lang = CASE WHEN f.lang IN ({", ".join(f"'{l}'" for l, *_ in _QC_MODEL if l != "*")})
                      THEN f.lang ELSE '*' END
),
b AS (
  SELECT doc_id, lang,
         CAST((least(greatest(margin, -{_CAL_CLAMP}), {_CAL_CLAMP - 1})
               + {_CAL_CLAMP}) // {_CAL_BUCKET_MICRO} AS BIGINT) AS bucket_id,
         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
           % 1000 AS hash_bucket
  FROM m
)
SELECT doc_id, lang, bucket_id,
       CAST([{", ".join(str(r) for r in _QW_RATES)}][CAST(bucket_id AS INTEGER) + 1]
            AS BIGINT) AS keep_permille,
       hash_bucket
FROM b
WHERE hash_bucket < [{", ".join(str(r) for r in _QW_RATES)}][CAST(bucket_id AS INTEGER) + 1]
"""


@register("sample_quality_weighted", oracle=_QW_ORACLE)
def sample_quality_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-WEIGHTED sampling — the consumer the calibration curve
    (``classifier_calibration_curve``) gates: instead of the hard
    keep/drop at the threshold, each doc's keep probability scales with
    its score-margin bucket (50‰ for the worst bucket up to 950‰ for the
    best — the FineWeb-Edu recipe, where quality reweights the mix rather
    than truncating it). The keep decision is the house deterministic
    hash-bucket sample (``md5(doc_id) % 1000 < rate``, the
    sample_stratified_hash discipline): reproducible across runs, engines,
    and partitionings — seeded RNG is partitioning-dependent and could
    never be oracle-checked.

    Determinism: the margin/bucket math is X178's exact integer path
    (clamp-before-divide); the rate table is a 10-entry literal embedded
    identically in both engines; the hash is the shared 60-bit md5 prefix.

    Scale: entirely map-side — one scan computes score, bucket, and the
    keep decision per row (5-row broadcast model, zero shuffle); the
    output is the kept subset with its sampling metadata (bucket +
    keep_permille), which downstream weighting needs for unbiased loss
    scaling (1/rate importance weights)."""
    from ..operators.textsim import md5_long

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    w = F.split("text", " ")
    stops = F.array(*[F.lit(s) for s in _QC_STOPS])
    feats = docs.select(
        "doc_id",
        "lang",
        F.size(w).cast("long").alias("n_tokens"),
        F.size(F.filter(w, lambda t: F.array_contains(stops, t)))
        .cast("long")
        .alias("stop_hits"),
        F.length(F.regexp_replace("text", "[^0-9]", "")).cast("long").alias("digit_chars"),
    )
    model = spark.createDataFrame(
        _QC_MODEL, ["m_lang", "bias", "w_tokens", "w_stop", "w_digit", "threshold"]
    )
    known = [l for l, *_ in _QC_MODEL if l != "*"]
    joined = feats.withColumn(
        "m_key",
        F.when(F.col("lang").isin(known), F.col("lang")).otherwise(F.lit("*")),
    ).join(F.broadcast(model), F.col("m_key") == F.col("m_lang"))
    margin = (
        F.col("bias")
        + F.col("w_tokens") * F.col("n_tokens")
        + F.col("w_stop") * F.col("stop_hits")
        + F.col("w_digit") * F.col("digit_chars")
        - F.col("threshold")
    ).cast("long")
    m = joined.select("doc_id", "lang", margin.alias("margin"))
    rates = F.array(*[F.lit(r) for r in _QW_RATES])
    b = m.select(
        "doc_id",
        "lang",
        F.expr(
            f"CAST((least(greatest(margin, -{_CAL_CLAMP}), {_CAL_CLAMP - 1})"
            f" + {_CAL_CLAMP}) DIV {_CAL_BUCKET_MICRO} AS BIGINT)"
        ).alias("bucket_id"),
        (md5_long(F.col("doc_id").cast("string")) % 1000).alias("hash_bucket"),
    ).withColumn(
        "keep_permille",
        F.element_at(rates, (F.col("bucket_id") + 1).cast("int")).cast("long"),
    )
    return b.where(F.col("hash_bucket") < F.col("keep_permille")).select(
        "doc_id", "lang", "bucket_id", "keep_permille", "hash_bucket"
    )


# ---------------------------------------------------------------------------
# corpus_mixture_doremi — learned domain mixture weights (DoReMi-style)
# ---------------------------------------------------------------------------

from ..operators.doremi import (  # noqa: E402
    DOREMI_SKEW_SQL,
    doremi_excess,
    doremi_fit,
    doremi_oracle_iters,
)

# The WITH body (signal -> excess -> unrolled fit) is shared by the weight
# table's oracle and the sampler's oracle (sample_mixture_doremi) — one
# trajectory definition, two consumers.
_DOREMI_WITH = f"""inj AS (
  SELECT doc_id, source, {DOREMI_SKEW_SQL.format(t="text")} AS text
  FROM documents
),
w AS (
  SELECT doc_id, source, string_split(lower(text), ' ') AS words
  FROM inj WHERE len(string_split(text, ' ')) >= 2
),
big AS (
  SELECT doc_id, source, words[i] AS prev, words[i+1] AS cur
  FROM (SELECT doc_id, source, words, unnest(range(1, len(words))) AS i
        FROM w)
),
cb AS (SELECT prev, cur, count(*) AS c2 FROM big GROUP BY prev, cur),
cp AS (SELECT prev, count(*) AS c1 FROM big GROUP BY prev),
terms AS (
  SELECT b.source,
         CAST(floor(ln(CAST(cb.c2 AS DOUBLE) / cp.c1) * 1000000 + 0.5)
              AS BIGINT) AS t_micro
  FROM big b JOIN cb ON cb.prev = b.prev AND cb.cur = b.cur
             JOIN cp ON cp.prev = b.prev
),
dom AS MATERIALIZED (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_bigrams,
         CAST(-sum(t_micro) AS BIGINT) AS nll_sum
  FROM terms GROUP BY source
),
ref AS MATERIALIZED (
  SELECT CAST(sum(nll_sum) // sum(n_bigrams) AS BIGINT) AS nll_ref,
         CAST(1000000 // count(*) AS BIGINT) AS uniform_ppm
  FROM dom
),
ex AS MATERIALIZED (
  SELECT d.source, d.n_bigrams,
         CAST(d.nll_sum // d.n_bigrams AS BIGINT) AS nll_micro,
         GREATEST(CAST(0 AS BIGINT),
                  d.nll_sum // d.n_bigrams - r.nll_ref) AS excess_micro,
         r.uniform_ppm
  FROM dom d CROSS JOIN ref r
),
{doremi_oracle_iters()}"""

_DOREMI_ORACLE = f"""
WITH {_DOREMI_WITH}
SELECT e.source, e.n_bigrams, e.nll_micro, e.excess_micro, e.uniform_ppm,
       i.w_ppm AS weight_ppm,
       i.w_ppm - e.uniform_ppm AS delta_ppm
FROM ex e JOIN it5 i ON i.source = e.source
"""

_DOREMI_SCHEMA = (
    "source string, n_bigrams long, nll_micro long, excess_micro long, "
    "uniform_ppm long, weight_ppm long, delta_ppm long"
)


def _doremi_domain_rows(spark: SparkSession, sf_dir: str) -> list[tuple]:
    """The corpus-sized half of the DoReMi fit, shared by the weight table
    and the sampler: skew-injected docs -> bigram explode -> the two LM
    count tables -> ONE per-source (n_bigrams, nll_sum_micro) aggregate,
    collected as bounded |domains|-row model state."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.expr(DOREMI_SKEW_SQL.format(t="text")).alias("text")
    )
    words = F.split(F.lower("text"), " ")
    big = (
        # (round 15 examined and reverted: a §2.5 rebalance before the
        # explode measured +0.2 s — shuffling the raw text costs more than
        # the single-partition explode saves at this corpus size; the
        # §2.3 pre-aggregation below is the change that pays)
        docs.where(F.size(F.split("text", " ")) >= 2)
        .select("source", words.alias("words"))
        .select(
            "source",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(words) - 1),"
                    " i -> struct(words[i-1] AS prev, words[i] AS cur))"
                )
            ).alias("b"),
        )
        .select("source", "b.prev", "b.cur")
    )
    # round 15 (guide §2.3 "aggregate before you shuffle"): collapse the
    # bigram stream to (source, prev, cur, c_s) FIRST — one map-side-partial
    # aggregate — then derive both LM count tables and the per-source fold
    # from the collapsed rows. The original shuffled the full |tokens|-row
    # string-keyed stream three times (cb, cp, and the join probe); every
    # downstream number is an exact integer function of the collapsed
    # counts: c2 = Σ_s c_s per (prev,cur), c1 = Σ per prev, per-source
    # n_bigrams = Σ c_s and nll_sum = -Σ c_s · t_micro (t_micro is shared
    # by all rows of a (prev,cur) group, so row-sum == count-weighted sum).
    bigc = big.groupBy("source", "prev", "cur").agg(
        F.count(F.lit(1)).alias("c_s")
    ).localCheckpoint(eager=True)
    cb = bigc.groupBy("prev", "cur").agg(F.sum("c_s").alias("c2"))
    cp = bigc.groupBy("prev").agg(F.sum("c_s").alias("c1"))
    t_micro = F.floor(
        F.log(F.col("c2").cast("double") / F.col("c1")) * 1_000_000
        + F.lit(0.5)
    ).cast("long")
    dom = (
        bigc.join(cb, ["prev", "cur"])
        .join(cp, "prev")
        .select("source", "c_s", t_micro.alias("t_micro"))
        .groupBy("source")
        .agg(
            F.sum("c_s").cast("long").alias("n_bigrams"),
            (-F.sum(F.col("t_micro") * F.col("c_s"))).cast("long").alias("nll_sum"),
        )
    )
    return [
        (r["source"], int(r["n_bigrams"]), int(r["nll_sum"]))
        for r in dom.collect()
    ]


@register("corpus_mixture_doremi", oracle=_DOREMI_ORACLE)
def corpus_mixture_doremi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-style LEARNED mixture weights — the mixing-family member
    that derives per-domain sampling weights from a measured loss signal
    instead of taking them as input (sample_mixture_weighted consumes
    given weights; sample_temperature_mixture and sample_importance_dsir
    apply hand rules). Per source: the average bigram NLL under the
    corpus's own LM (micro-nats, the text_lm_logprob signal at domain
    grain), the zero-clamped excess over the corpus-wide reference, and
    the weight after DOREMI_ITERS multiplicative-update rounds with
    uniform smoothing — high-excess ("hardest") domains gain weight, the
    Group-DRO intuition the paper operationalizes. See operators/doremi.py
    for the declared integer-exact divergences (linearized exp, bigram-LM
    proxy loss) and the planted source-grain skew that makes the signal
    observable on the uniform synthetic corpus.

    Scale (the preference_bradley_terry bounded-model-state pattern): the
    corpus-sized work is the bigram explode, the two LM count tables
    (broadcast or shuffle join by Catalyst's estimate), and ONE map-side-
    combining per-source aggregate that collapses everything to |domains|
    rows; those collect to the driver (cap-guarded, refuse-don't-truncate),
    the 5-round fit runs on model state only, and the result returns as a
    LocalTableScan. The DuckDB oracle replays the identical integer
    trajectory as unrolled MATERIALIZED CTEs."""
    rows = _doremi_domain_rows(spark, sf_dir)
    excess, _, uniform = doremi_excess(rows)
    weights = doremi_fit(rows)
    out = [
        (
            src,
            n,
            s // n,
            excess[src],
            uniform,
            weights[src],
            weights[src] - uniform,
        )
        for src, n, s in sorted(rows)
    ]
    return spark.createDataFrame(out, schema=_DOREMI_SCHEMA)


# ---------------------------------------------------------------------------
# sample_mixture_doremi — apply the learned weights as keep rates
# ---------------------------------------------------------------------------

from .corpus_queries import _ppm_ratio_sql as _ppm_sql  # noqa: E402

_SMD_ORACLE = f"""
WITH {_DOREMI_WITH},
cnt AS MATERIALIZED (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY source
),
tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total FROM cnt),
-- assert-style guard (ADVICE r13): a source with docs but NO learned
-- weight (every doc under 2 tokens -> absent from the bigram fit) must
-- REFUSE here exactly like the engine's ValueError, never silently drop
-- that source's docs through the inner join below
guard AS (
  SELECT CAST(count(*) AS BIGINT) AS n_missing
  FROM cnt c LEFT JOIN it5 i ON i.source = c.source
  WHERE i.source IS NULL
),
rates0 AS MATERIALIZED (
  SELECT c.source,
         -- share floored at 1 ppm: a sub-ppm source must not divide by 0
         -- (mirrored in the engine's max(1, ...))
         GREATEST(1, {_ppm_sql("c.n_docs", "t.total")}) AS share_ppm,
         i.w_ppm
  FROM cnt c CROSS JOIN tot t JOIN it5 i ON i.source = c.source
  CROSS JOIN guard g
  WHERE CASE WHEN g.n_missing > 0
             THEN error('sources without a learned weight: '
                        || CAST(g.n_missing AS STRING))
             ELSE TRUE END
),
rates1 AS MATERIALIZED (
  SELECT source, share_ppm, w_ppm,
         w_ppm * 1000000 // share_ppm AS ratio
  FROM rates0
),
mx AS (SELECT max(ratio) AS max_ratio FROM rates1),
rates AS MATERIALIZED (
  SELECT source, CAST(ratio * 1000 // max_ratio AS BIGINT) AS keep_permille
  FROM rates1 CROSS JOIN mx
),
h AS (
  SELECT d.doc_id, d.source, r.keep_permille,
         CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15) AS BIGINT)
           % 1000 AS hash_bucket
  FROM documents d JOIN rates r ON r.source = d.source
)
SELECT doc_id, source, keep_permille, hash_bucket
FROM h WHERE hash_bucket < keep_permille
"""

_SMD_RATES_SCHEMA = "source string, keep_permille long"


def smd_keep_rates(
    cnts: dict[str, int], weights: dict[str, int]
) -> list[tuple[str, int]]:
    """The quota-resample rate derivation on bounded model state, extracted
    so its two declared failure-mode mirrors are unit-testable: a source
    with docs but NO learned weight REFUSES (mirrored by the oracle guard
    CTE's ``error()`` — ADVICE r13, never a silent inner-join drop), and a
    sub-ppm share is floored at 1 so the ratio never divides by zero
    (mirrored by the oracle's ``GREATEST(1, ...)``)."""
    missing = sorted(set(cnts) - set(weights))
    if missing:  # refuse silent rate gaps, never sample on partial weights
        raise ValueError(f"sources without a learned weight: {missing}")
    total = sum(cnts.values())
    share = {s: max(1, n * 1_000_000 // total) for s, n in cnts.items()}
    ratio = {s: weights[s] * 1_000_000 // share[s] for s in cnts}
    mx = max(ratio.values())
    return [(s, ratio[s] * 1000 // mx) for s in sorted(cnts)]


def smd_rates_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The frozen |sources|-row keep-rate table: DoReMi fit + doc-count
    shares + quota rates — what a pipeline materializes once per corpus
    snapshot and broadcasts wherever the mix is applied (the batch sampler
    AND the ingest sampler derive it through this one function)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    weights = doremi_fit(_doremi_domain_rows(spark, sf_dir))
    cnts = {
        r["source"]: int(r["n"])
        for r in docs.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    rates = smd_keep_rates(cnts, weights)
    return spark.createDataFrame(rates, schema=_SMD_RATES_SCHEMA)


def smd_apply(docs: DataFrame, rates_df: DataFrame) -> DataFrame:
    """THE deterministic keep gate — broadcast rate-table join + md5
    permille bucket + the keep filter; one application frame shared by the
    batch sampler and the streaming ingest sampler, so the two paths can
    never drift on which doc survives."""
    from ..operators.textsim import md5_long

    h = docs.join(F.broadcast(rates_df), "source").select(
        "doc_id",
        "source",
        "keep_permille",
        (md5_long(F.col("doc_id").cast("string")) % 1000).alias("hash_bucket"),
    )
    return h.where(F.col("hash_bucket") < F.col("keep_permille"))


@register("sample_mixture_doremi", oracle=_SMD_ORACLE)
def sample_mixture_doremi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The consumer that closes the DoReMi loop: turn the LEARNED mixture
    weights (corpus_mixture_doremi) into per-source keep rates and apply
    them with the house deterministic hash sample. Rate derivation is the
    standard quota resample: keep_rate_s ∝ weight_s / current_share_s,
    normalized so the most-upweighted source keeps everything (no source
    can be sampled UP without replication, so the mix is achieved by
    downsampling the rest) — all integer: shares via the exact ppm split,
    the ratio and the permille normalization by floor division, identical
    in Python, Spark, and the oracle's replay.

    Scale (the sample_quality_weighted + BT composition): the corpus-sized
    work is the per-source LM aggregate (shared with the weight table)
    plus one |sources|-row doc-count aggregate — both collapse to bounded
    driver-side model state; the registered output plan is the documents
    scan + a broadcast join of the |sources|-row rate table + the hash
    filter — zero shuffles. The oracle replays the ENTIRE composition:
    the full training trajectory, the share table, the rate
    normalization, and the md5 keep decision."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return smd_apply(docs, smd_rates_df(spark, sf_dir))


# ---------------------------------------------------------------------------
# text_decontaminate — the removal + retention audit behind the check
# ---------------------------------------------------------------------------

from .corpus_queries import _ppm_ratio_sql as _cq_ppm  # noqa: E402


def _decontam_oracle() -> str:
    return f"""
WITH {_contam_hits_sql()},
d AS (
  SELECT doc.doc_id, doc.source,
         CAST(len(string_split(doc.text, ' ')) AS BIGINT) AS n_toks,
         coalesce(h.n_hits * 2 >= h.n_grams, FALSE) AS drop_flag
  FROM documents doc LEFT JOIN hits h ON h.doc_id = doc.doc_id
  WHERE doc.doc_id % {_CONTAM_MOD} <> 0
),
a AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_train_docs,
         CAST(sum(CASE WHEN drop_flag THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dropped,
         CAST(sum(CASE WHEN drop_flag THEN 0 ELSE 1 END) AS BIGINT)
           AS n_kept,
         CAST(sum(n_toks) AS BIGINT) AS toks_train,
         CAST(sum(CASE WHEN drop_flag THEN 0 ELSE n_toks END) AS BIGINT)
           AS toks_kept
  FROM d GROUP BY source
)
SELECT source, n_train_docs, n_dropped, n_kept, toks_train, toks_kept,
       {{drop_ppm}} AS doc_drop_ppm,
       {{keep_ppm}} AS token_retention_ppm
FROM a
""".format(
        drop_ppm=_cq_ppm("n_dropped", "n_train_docs"),
        keep_ppm=_cq_ppm("toks_kept", "toks_train"),
    )




@register("text_decontaminate", oracle=_decontam_oracle())
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DECISION the contamination check feeds (Brown et al. 2020's
    benchmark decontamination, doc-grain variant): training docs whose
    distinct-5-gram overlap with the eval set reaches the threshold are
    DROPPED, and this is the per-source removal/retention audit a release
    review reads — train-corpus doc counts before/after, dropped count,
    token totals before/after, doc-drop ppm and token-retention ppm
    (exact splits). Benchmark docs themselves (the ``doc_id % 97``
    stand-in eval subset) are excluded from the training denominator —
    they are not training data to keep or drop.

    Shares the check's overlap frame (``_contam_hits`` — one overlap
    definition) and states the threshold as the exact integer
    cross-multiply ``n_hits * 2 >= n_grams`` (equivalent to the check's
    ratio >= 0.5 at any realistic gram count, and float-free). Docs too
    short to shingle have no overlap row and are kept by definition
    (LEFT join, FALSE coalesce) — mirrored in the oracle.

    Scale: the overlap frame is the check's broadcast-bench join + one
    doc_id aggregate; this adds one doc-grain LEFT join back to the
    corpus scan (co-partitioned on doc_id) and ONE |sources|-key rollup.
    At 100 TB the bench set is the eval suite — tiny and broadcast — and
    the corpus never self-joins."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(F.split("text", " ")).cast("long").alias("n_toks"),
    )
    d = (
        docs.where(F.col("doc_id") % _CONTAM_MOD != 0)
        .join(_contam_hits(spark, sf_dir), "doc_id", "left")
        .select(
            "source",
            "n_toks",
            F.coalesce(
                F.col("n_hits") * 2 >= F.col("n_grams"), F.lit(False)
            ).alias("drop_flag"),
        )
    )
    a = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_train_docs"),
        F.sum(F.when(F.col("drop_flag"), 1).otherwise(0))
        .cast("long")
        .alias("n_dropped"),
        F.sum(F.when(F.col("drop_flag"), 0).otherwise(1))
        .cast("long")
        .alias("n_kept"),
        F.sum("n_toks").cast("long").alias("toks_train"),
        F.sum(F.when(F.col("drop_flag"), 0).otherwise(F.col("n_toks")))
        .cast("long")
        .alias("toks_kept"),
    )
    return a.select(
        "source",
        "n_train_docs",
        "n_dropped",
        "n_kept",
        "toks_train",
        "toks_kept",
        F.expr(_cq_ppm("n_dropped", "n_train_docs", "DIV")).alias(
            "doc_drop_ppm"
        ),
        F.expr(_cq_ppm("toks_kept", "toks_train", "DIV")).alias(
            "token_retention_ppm"
        ),
    )


# ---------------------------------------------------------------------------
# classifier_roc_auc — ranking power of the quality filter (Mann-Whitney)
# ---------------------------------------------------------------------------

# The margin grid for the rank statistic: the calibration clamp subdivided
# into 1000 fixed 500-micro cells. Declared quantization (the house
# integer-determinism discipline): AUC is computed for the CELL-quantized
# score — margins in the same cell are ties, handled by the standard
# midrank (+T/2) correction — so the rank histogram is <=1000 rows of
# bounded model state at ANY corpus size, never a corpus-sized global sort.
_ROC_CELL_MICRO = 500

# The <=1000-cell (cell, pos, neg) rank histogram over the shared scored
# frame — ONE quantization definition feeding BOTH threshold-free gates
# (ROC AUC and the PR curve) and both oracles.
_CLF_CELLS_WITH = f"""{_CLF_SCORED_WITH},
cells AS (
  SELECT (least(greatest(margin, -{_CAL_CLAMP}), {_CAL_CLAMP - 1})
          + {_CAL_CLAMP}) // {_ROC_CELL_MICRO} AS cell,
         CAST(sum(CASE WHEN good THEN 1 ELSE 0 END) AS BIGINT) AS pos,
         CAST(sum(CASE WHEN good THEN 0 ELSE 1 END) AS BIGINT) AS neg
  FROM scored GROUP BY 1
)"""


def _clf_cells_frame(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """Frame form of the cell histogram over any (lang, text) relation —
    plain sums of when-expressions keyed by the <=1000-cell grid, so the
    SAME aggregation runs as a batch groupBy and as a bounded-state
    streaming update-mode aggregate."""
    cell = F.expr(
        f"CAST((least(greatest(margin, -{_CAL_CLAMP}), {_CAL_CLAMP - 1})"
        f" + {_CAL_CLAMP}) DIV {_ROC_CELL_MICRO} AS BIGINT)"
    )
    return (
        _clf_scored_frame(spark, docs)
        .select(cell.alias("cell"), "good")
        .groupBy("cell")
        .agg(
            F.sum(F.when(F.col("good"), 1).otherwise(0)).cast("long").alias("pos"),
            F.sum(F.when(F.col("good"), 0).otherwise(1)).cast("long").alias("neg"),
        )
    )


def _clf_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark side of ``_CLF_CELLS_WITH``: the bounded margin-cell
    histogram both threshold-free gates aggregate from."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    return _clf_cells_frame(spark, docs)


def _roc_oracle() -> str:
    num = "(2 * conc + tied)"
    den = "GREATEST(1, 2 * p * n)"  # one-class corpus: AUC defined as 0
    return f"""
WITH {_CLF_CELLS_WITH},
c AS (
  SELECT pos, neg,
         coalesce(sum(neg) OVER (ORDER BY cell
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS neg_below
  FROM cells
),
a AS (
  SELECT CAST(sum(pos) AS BIGINT) AS p,
         CAST(sum(neg) AS BIGINT) AS n,
         CAST(sum(pos * neg_below) AS BIGINT) AS conc,
         CAST(sum(pos * neg) AS BIGINT) AS tied
  FROM c
)
SELECT p AS n_pos, n AS n_neg, conc AS concordant_pairs, tied AS tied_pairs,
       {_ppm_ratio_sql(num, den)} AS auc_ppm
FROM a
"""


@register("classifier_roc_auc", oracle=_roc_oracle())
def classifier_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC AUC of the quality classifier against the rule-based reference —
    the one-number ranking-power gate that completes the model-eval family
    (confusion = the 2x2 at the threshold, calibration = the reliability
    curve, this = threshold-free discrimination): the Mann-Whitney pair
    statistic, AUC = (concordant + ties/2) / (pos * neg), computed exactly
    for the cell-quantized margin via the rank histogram — concordant
    pairs from the cumulative-negatives-below window, tie pairs from the
    same-cell cross counts, the midrank correction as the integer
    ``2*conc + tied`` over ``2*p*n`` (one exact ppm split, no halves). An
    AUC at 500000 ppm means the scores carry no ranking signal and
    quality-weighted sampling from them is noise.

    Determinism & shared frames: rides THE (margin, good) scored frame
    (``_clf_scored`` / ``_CLF_SCORED_WITH`` — the calibration curve's
    scoring definition verbatim); the 1000-cell grid is declared
    quantization (in-cell margins are ties) so both engines replay the
    identical histogram. A one-class corpus floors the denominator at 1
    (AUC reads 0, mirrored in the oracle) rather than dividing by zero.

    Scale: ONE corpus scan (the shared scored frame) -> ONE <=1000-key
    map-side-combining cell aggregate; the cumulative window is
    SinglePartition over <=1000 rows of bounded model state BY
    CONSTRUCTION (the corpus_token_budget_plan discipline) — never a
    corpus-sized sort. Exact to p * n <= ~4.6e15 pairs (the _ppm_ratio_sql
    den envelope; ~1.4e8 docs per class balanced) — past that, stratify
    the AUC per language/source and aggregate, or subsample one class."""
    return _roc_report(_clf_cells(spark, sf_dir))


def _roc_report(cells: DataFrame) -> DataFrame:
    """The Mann-Whitney AUC computation over a (cell, pos, neg) histogram
    — shared by the batch gate and the streaming monitor's compacted
    state (one report tail, the confusion_report discipline). Bounded
    model state: the window and reduce run over <=1000 rows."""
    from pyspark.sql import Window

    w = Window.orderBy("cell").rowsBetween(Window.unboundedPreceding, -1)
    c = cells.select(
        "pos",
        "neg",
        F.coalesce(F.sum("neg").over(w), F.lit(0)).cast("long").alias("neg_below"),
    )
    a = c.agg(
        F.sum("pos").cast("long").alias("p"),
        F.sum("neg").cast("long").alias("n"),
        F.sum(F.col("pos") * F.col("neg_below")).cast("long").alias("conc"),
        F.sum(F.col("pos") * F.col("neg")).cast("long").alias("tied"),
    )
    return a.select(
        F.col("p").alias("n_pos"),
        F.col("n").alias("n_neg"),
        F.col("conc").alias("concordant_pairs"),
        F.col("tied").alias("tied_pairs"),
        F.expr(
            _ppm_ratio_sql("(2 * conc + tied)", "GREATEST(1, 2 * p * n)", "DIV")
        ).alias("auc_ppm"),
    )


# ---------------------------------------------------------------------------
# annotator_fleiss_kappa — inter-annotator agreement for the label pipeline
# ---------------------------------------------------------------------------

# Labeled data (quality labels, preference judgements, eval suites) is only
# as good as its annotators agree; Fleiss' kappa (Fleiss 1971) is the
# standard multi-rater chance-corrected agreement gate a labeling pipeline
# must clear before its labels train or evaluate anything. The corpus has
# one label per vector, so the panel is planted (the text_pii_scrub
# discipline — deterministic, identical in both engines): three raters per
# item, rater k flipping the true label with probability k*15% decided by
# the md5 residue of (vec_id, k), the flip target spread over the label
# space by a second hash digit. Rater 0 is the gold rater; raters 1 and 2
# are the noisy crowd.

_FLEISS_RATERS = 3
_FLEISS_FLIP_PCT_STEP = 15  # rater k flips k*15% of its items

_FLEISS_ORACLE = f"""
WITH lspace AS (
  SELECT CAST(max(label) + 1 AS BIGINT) AS nl FROM embeddings
),
votes AS (
  SELECT e.vec_id,
         CASE WHEN h % 100 < k * {_FLEISS_FLIP_PCT_STEP}
              THEN (e.label + 1 + (h // 100) % (l.nl - 1)) % l.nl
              ELSE CAST(e.label AS BIGINT) END AS category
  FROM (SELECT vec_id, label,
               CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR) || ':'
                                       || CAST(k AS VARCHAR)), 1, 15)
                    AS BIGINT) AS h,
               k
        FROM embeddings, LATERAL unnest(range(0, {_FLEISS_RATERS})) AS r(k)
       ) e
  CROSS JOIN lspace l
),
a AS (
  SELECT vec_id, category, CAST(count(*) AS BIGINT) AS c
  FROM votes GROUP BY 1, 2
),
items AS (
  SELECT vec_id, CAST(sum(c * c) AS BIGINT) AS ssq FROM a GROUP BY vec_id
),
gtot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_items,
         CAST(sum(ssq - {_FLEISS_RATERS}) AS BIGINT) AS pbar_num
  FROM items
),
cats AS (
  SELECT category,
         CAST(sum(c) AS BIGINT) AS n_assigned,
         CAST(sum(CASE WHEN c = {_FLEISS_RATERS} THEN 1 ELSE 0 END)
              AS BIGINT) AS unanimous_items
  FROM a GROUP BY category
),
scored AS (
  SELECT c.category, c.n_assigned, c.unanimous_items, g.n_items,
         {_ppm_ratio_sql("c.n_assigned", "(3 * g.n_items)")} AS p_c_ppm,
         {_ppm_ratio_sql("g.pbar_num", "(6 * g.n_items)")} AS pbar_ppm
  FROM cats c CROSS JOIN gtot g
),
pe AS (
  SELECT CAST(sum(p_c_ppm * p_c_ppm) // 1000000 AS BIGINT) AS pe_ppm
  FROM scored
)
SELECT s.category, s.n_assigned, s.unanimous_items, s.n_items,
       s.p_c_ppm, s.pbar_ppm, p.pe_ppm,
       CASE WHEN 1000000 - p.pe_ppm <= 0 THEN 0
            WHEN s.pbar_ppm >= p.pe_ppm
            THEN {_ppm_ratio_sql("(s.pbar_ppm - p.pe_ppm)", "(1000000 - p.pe_ppm)")}
            ELSE -{_ppm_ratio_sql("(p.pe_ppm - s.pbar_ppm)", "(1000000 - p.pe_ppm)")}
       END AS kappa_ppm
FROM scored s CROSS JOIN pe p
"""


@register("annotator_fleiss_kappa", oracle=_FLEISS_ORACLE)
def annotator_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa over the planted three-rater panel — the
    inter-annotator agreement gate of the model-eval family (confusion =
    filter vs rules, calibration = score reliability, ROC AUC = ranking
    power, this = can the LABELS themselves be trusted). Per assigned
    category: vote share (exact ppm), unanimous-item count, and the global
    observed-agreement / chance-agreement / kappa triple on every row —
    the report a labeling vendor is graded on.

    Determinism: votes derive from md5 residues of (vec_id, rater) — no
    RNG, no partition dependence; P-bar avoids per-item rounding by the
    single exact split sum(ssq-3)/(6N); chance agreement squares the
    already-ppm vote shares under one documented integer formula
    (sum(p_ppm^2) // 1e6, <= |categories| * 1e12 — int64-safe); kappa's
    numerator is sign-split BEFORE the quotient/remainder division so
    Spark's truncating DIV and DuckDB's flooring // can never disagree on
    a below-chance panel (the calibration-curve negative-dividend
    discipline).

    Scale: the panel explode is map-side (3x); vote counts are ONE
    (vec_id, category)-key partial aggregate; the item and category
    rollups reduce to |items| and |categories| rows; every global is a
    1-row broadcast cross join and the category report is
    |categories|-sized — nothing after the first aggregate is
    corpus-shaped, no Python, no driver loops beyond the 1-row scalars."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    lspace = emb.agg((F.max("label") + 1).cast("long").alias("nl"))
    votes = (
        emb.select(
            "vec_id",
            "label",
            F.explode(F.array(*[F.lit(k) for k in range(_FLEISS_RATERS)])).alias("k"),
        )
        .withColumn(
            "h",
            md5_long(
                F.concat(
                    F.col("vec_id").cast("string"),
                    F.lit(":"),
                    F.col("k").cast("string"),
                )
            ),
        )
        .crossJoin(F.broadcast(lspace))
        .select(
            "vec_id",
            F.when(
                F.col("h") % 100 < F.col("k") * _FLEISS_FLIP_PCT_STEP,
                (
                    F.col("label")
                    + 1
                    + F.expr("(h DIV 100) % (nl - 1)")
                )
                % F.col("nl"),
            )
            .otherwise(F.col("label").cast("long"))
            .alias("category"),
        )
    )
    # the vote-count table feeds BOTH rollups (per-item ssq and per-category
    # totals) — without truncation Catalyst replays the corpus scan + vote
    # aggregate once per consumer (measured 7 exchanges naive vs 3); one
    # materialization of the <= raters*N-row table is the privacy_t_closeness
    # / label-propagation discipline
    a = (
        votes.groupBy("vec_id", "category")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=True)
    )
    items = a.groupBy("vec_id").agg(
        F.sum(F.col("c") * F.col("c")).cast("long").alias("ssq")
    )
    glob = items.agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.sum(F.col("ssq") - _FLEISS_RATERS).cast("long").alias("pbar_num"),
    )
    cats = a.groupBy("category").agg(
        F.sum("c").cast("long").alias("n_assigned"),
        F.sum(F.when(F.col("c") == _FLEISS_RATERS, 1).otherwise(0))
        .cast("long")
        .alias("unanimous_items"),
    )
    # |categories|-row report base with two consumers (pe + the final
    # select) — truncate so the category rollup is not replayed
    scored = (
        cats.crossJoin(F.broadcast(glob))
        .select(
            "category",
            "n_assigned",
            "unanimous_items",
            "n_items",
            F.expr(_ppm_ratio_sql("n_assigned", "(3 * n_items)", "DIV")).alias(
                "p_c_ppm"
            ),
            F.expr(_ppm_ratio_sql("pbar_num", "(6 * n_items)", "DIV")).alias(
                "pbar_ppm"
            ),
        )
        .localCheckpoint(eager=True)
    )
    pe = scored.agg(
        F.expr("CAST(sum(p_c_ppm * p_c_ppm) DIV 1000000 AS BIGINT)").alias("pe_ppm")
    )
    kp = (
        "CASE WHEN 1000000 - pe_ppm <= 0 THEN 0L"
        " WHEN pbar_ppm >= pe_ppm THEN "
        + _ppm_ratio_sql("(pbar_ppm - pe_ppm)", "(1000000 - pe_ppm)", "DIV")
        + " ELSE -"
        + _ppm_ratio_sql("(pe_ppm - pbar_ppm)", "(1000000 - pe_ppm)", "DIV")
        + " END"
    )
    return scored.crossJoin(F.broadcast(pe)).select(
        "category",
        "n_assigned",
        "unanimous_items",
        "n_items",
        "p_c_ppm",
        "pbar_ppm",
        "pe_ppm",
        F.expr(kp).alias("kappa_ppm"),
    )


# ---------------------------------------------------------------------------
# classifier_pr_curve — the imbalanced-data view of the quality filter
# ---------------------------------------------------------------------------

_PR_ORACLE = f"""
WITH {_CLF_CELLS_WITH},
tot AS (SELECT CAST(sum(pos) AS BIGINT) AS tot_pos FROM cells),
cum AS (
  SELECT cell, pos, neg,
         CAST(sum(pos) OVER (ORDER BY cell DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_tp,
         CAST(sum(neg) OVER (ORDER BY cell DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_fp
  FROM cells
)
SELECT c.cell, c.pos, c.neg, c.cum_tp, c.cum_fp,
       {_ppm_ratio_sql("c.cum_tp", "(c.cum_tp + c.cum_fp)")} AS precision_ppm,
       {_ppm_ratio_sql("c.cum_tp", "GREATEST(1, t.tot_pos)")} AS recall_ppm
FROM cum c CROSS JOIN tot t
"""


@register("classifier_pr_curve", oracle=_PR_ORACLE)
def classifier_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision-recall curve of the quality classifier — the
    imbalanced-data companion to the ROC gate (when 'good' docs are rare,
    ROC flatters: a filter can post 0.95 AUC while its precision at usable
    recall is garbage — PR is the view a curation engineer actually sets
    the threshold from). One row per occupied margin cell, read as
    "predict keep at threshold >= this cell": cumulative TP/FP from the
    top margin down, exact precision and recall ppm.

    Shared frames: rides THE margin-cell histogram (``_clf_cells`` /
    ``_CLF_CELLS_WITH`` — the ROC gate's quantization verbatim, itself on
    the calibration curve's scored frame), so all three threshold-free
    reports derive from one scoring + one quantization definition.

    Determinism: the descending-cell cumulative is over the unique cell
    key (total order, no ties); precision's denominator is the row's own
    cum count (>= 1 by occupancy); recall floors the one-class corpus
    denominator at 1 (the ROC discipline).

    Scale: same shape as ROC — ONE corpus scan into a <=1000-key
    map-side-combining aggregate; the cumulative window and the 1-row
    total broadcast are bounded model state BY CONSTRUCTION, never a
    corpus-sized sort."""
    from pyspark.sql import Window

    # the cell histogram feeds BOTH the cumulative curve and the 1-row
    # recall total — truncate so the corpus scan runs once, not per
    # consumer (the annotator_fleiss_kappa discipline; <=1000 rows)
    cells = _clf_cells(spark, sf_dir).localCheckpoint(eager=True)
    wd = Window.orderBy(F.desc("cell")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = cells.select(
        "cell",
        "pos",
        "neg",
        F.sum("pos").over(wd).cast("long").alias("cum_tp"),
        F.sum("neg").over(wd).cast("long").alias("cum_fp"),
    )
    tot = cells.agg(F.sum("pos").cast("long").alias("tot_pos"))
    return cum.crossJoin(F.broadcast(tot)).select(
        "cell",
        "pos",
        "neg",
        "cum_tp",
        "cum_fp",
        F.expr(_ppm_ratio_sql("cum_tp", "(cum_tp + cum_fp)", "DIV")).alias(
            "precision_ppm"
        ),
        F.expr(_ppm_ratio_sql("cum_tp", "GREATEST(1, tot_pos)", "DIV")).alias(
            "recall_ppm"
        ),
    )
