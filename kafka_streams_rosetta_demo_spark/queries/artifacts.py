"""Materialize-once similarity artifacts shared across the dedup family.

A curation pipeline never runs ONE similarity pass — it runs Jaccard pairs,
the incremental screen, and the cluster collapse over the SAME corpus in one
job. Each of those rebuilds two identical intermediates when written naively:

- the **shingled frame** (``with_shingles`` over documents) — per-row, but
  re-scanning + re-shingling the corpus per query multiplies the scan cost;
- the **df-ordered prefix artifact** (``df_ordered_shingles``) — the PPJoin
  preprocessing pass (one explode + window df count + per-doc groupBy),
  which is THRESHOLD-INDEPENDENT, so every prefix-filter query at any
  threshold can slice the same arrays.

Both are memoized here, as is every other corpus-derived artifact, in ONE
memo (``_memo``) keyed per (kind, Spark application, sf_dir, table, corpus
fingerprint) — the CC label frame of ``corpus_queries._cc_labels`` included:
the frames pin to executor memory via eager ``localCheckpoint`` (at cluster
scale the equivalent is a persisted table the pipeline materializes once per
corpus snapshot and reuses across batches/queries; it only changes when the
corpus does). Pinning goes through ``pin_with_budget``, which enforces a
graceful memory boundary: artifacts whose plan-size estimate exceeds the
session's storage budget degrade to an eager ``persist(DISK_ONLY)`` instead
of OOMing the JVM (the sf2.0 boundary finding, SCALING.md).

bench.py declares the cost policy in one table, ``bench.ARTIFACT_CHARGES``:
each artifact kind's BUILD is charged to exactly one query per family by
``clear_artifacts(*kinds)`` before each of that query's timed reps
(``dedup_minhash_lsh`` builds the shingle frame; ``dedup_ngram_jaccard``
the ordered artifact), so those numbers stay the honest artifact-build cost,
while later family members (``dedup_incremental_screen``,
``dedup_cluster_cc``) time against the warm artifacts — the incremental cost
a real pipeline pays.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ..operators import rebalance
from ..operators.textsim import df_ordered_shingles, with_shingles
from ..sources.parquet import load_table

# Keyed by (kind, application, sf_dir, table, corpus fingerprint): the
# localCheckpoint blocks live in that application's executors, so a new
# session must rebuild; the fingerprint (file names + sizes + mtimes of the
# table's parquet leaves, a handful of os.stat calls) makes a snapshot
# REWRITTEN in place under the same path miss the memo instead of serving
# artifacts for the old corpus — the staleness hazard a long-lived session
# could otherwise fall into.
_MEMO: dict[tuple, object] = {}

# Frames pin_with_budget had to persist(DISK_ONLY) (the degraded over-budget
# path), under the SAME key as the memo entry they back. localCheckpoint
# frames need no tracking — dropping the memo reference lets the
# ContextCleaner reclaim their blocks — but persisted frames hold disk blocks
# until an explicit unpersist, so clear_artifacts releases them eagerly
# (bench cost policy) and an insert releases a stale key's pins at eviction
# time (corpus rewritten in place mid-session).
_MEMO_PINS: dict[tuple, list[DataFrame]] = {}


# Non-local sf_dirs whose empty fingerprint has already been warned about —
# one line per path per process, not one per cache lookup.
_FP_WARNED: set[str] = set()


def corpus_fingerprint(sf_dir: str, table: str = "documents") -> tuple:
    """Cheap content fingerprint of one parquet table under ``sf_dir``:
    sorted (relative name, size, mtime_ns) of its data files. Pure metadata
    — no file is opened — so it costs microseconds per cache lookup, yet
    any in-place rewrite (new file set, new sizes, or new mtimes) changes
    it. Missing LOCAL paths fingerprint as an empty tuple (the subsequent
    read fails with the real error, not a stale cache hit). A NON-local
    sf_dir (``s3://``, ``hdfs://`` — anything ``os.stat`` cannot see) also
    fingerprints empty, but there the table may well exist: every rewrite
    of the same remote path would share one cache key and the staleness
    guard is silently off — so that case warns, once per path (round-10
    ADVICE; a Hadoop-FS listing upgrade is the cluster-grade fix, but this
    module's memos are per-application scratch state, and an operator who
    sees the warning can key rewrites by path instead)."""
    path = os.path.join(sf_dir, f"{table}.parquet")
    entries: list[tuple[str, int, int]] = []
    try:
        if os.path.isdir(path):
            for root, _dirs, files in os.walk(path):
                for f in files:
                    if f.startswith(("_", ".")):
                        continue
                    st = os.stat(os.path.join(root, f))
                    rel = os.path.relpath(os.path.join(root, f), path)
                    entries.append((rel, st.st_size, st.st_mtime_ns))
        else:
            st = os.stat(path)
            entries.append((os.path.basename(path), st.st_size, st.st_mtime_ns))
    except OSError:
        from urllib.parse import urlparse

        scheme = urlparse(sf_dir).scheme
        if scheme not in ("", "file") and sf_dir not in _FP_WARNED:
            _FP_WARNED.add(sf_dir)
            print(
                f"artifacts: corpus fingerprint unavailable for non-local "
                f"{sf_dir!r} ({scheme}://) — artifact memos for this path "
                "cannot detect in-place corpus rewrites; rebuild the "
                "session (or clear_artifacts()) after rewriting it",
                file=sys.stderr,
            )
        return ()
    return tuple(sorted(entries))


def _memo_key(
    kind: str, spark: SparkSession, sf_dir: str, table: str = "documents"
) -> tuple:
    return (
        kind,
        spark.sparkContext.applicationId,
        sf_dir,
        table,
        corpus_fingerprint(sf_dir, table),
    )


def _memo(
    kind: str,
    spark: SparkSession,
    sf_dir: str,
    build: Callable[[Callable[[DataFrame], DataFrame]], object],
    table: str = "documents",
):
    """The memoized artifact ``kind`` of ``sf_dir``'s ``table``: a warm
    lookup returns the identical object; a miss calls ``build(pin)``, where
    ``pin(df)`` is :func:`pin_with_budget` labelled ``kind`` with any
    DISK_ONLY pin tracked under this entry, and inserts the result."""
    key = _memo_key(kind, spark, sf_dir, table)
    if key in _MEMO:
        return _MEMO[key]
    pins: list[DataFrame] = []
    value = build(lambda df: pin_with_budget(df, spark, kind, pins))
    _memo_insert(key, value, pins)
    return value


def _memo_insert(key: tuple, value, pins: list[DataFrame]) -> None:
    """Insert into the memo, EVICTING every entry for the same
    (application, sf_dir, table) under a different fingerprint: a
    long-lived session rewriting its corpus N times must not accumulate N
    dead artifact copies. Eviction deletes the stale reference — the
    ContextCleaner reclaims localCheckpoint blocks once unreferenced — AND
    eagerly unpersists the evicted entry's DISK_ONLY-degraded pins, which
    would otherwise hold N disk copies until a clear_artifacts call, which
    only bench/sweep harnesses make. Stale-key entries are unreachable by
    construction — every lookup re-derives the fingerprinted key — so
    releasing them here is safe."""
    for k in [k for k in _MEMO if k[1:4] == key[1:4] and k[4] != key[4]]:
        del _MEMO[k]
        _release_pin_list(_MEMO_PINS.pop(k, []))
    _MEMO[key] = value
    _MEMO_PINS.setdefault(key, []).extend(pins)


def clear_artifacts(*kinds: str) -> None:
    """Drop the memo entries of the named ``kinds`` — of every kind when
    called with none — eagerly unpersisting any that took the degraded
    DISK_ONLY path so their disk blocks free now rather than at GC time.
    bench.py calls it before each timed rep with the kinds
    ``bench.ARTIFACT_CHARGES`` charges to that query."""
    for key in [k for k in _MEMO if not kinds or k[0] in kinds]:
        del _MEMO[key]
        _release_pin_list(_MEMO_PINS.pop(key, []))


# Opt-in override for the in-memory pin budget ("256m", "2g", or bytes).
# Unset = 30% of the JVM max heap — the unified-memory storage share
# (memory.fraction 0.6 x storageFraction 0.5) a pinned artifact may use
# without starving execution memory.
_BUDGET_CONF = "spark.graft.artifact.storageBudget"

# In-memory expansion factor over the summed leaf-scan bytes, calibrated to
# the observed boundary (SCALING.md): an 11.8 MB documents.parquet (sf2.0)
# killed a bare 1g-heap JVM building the winnowing index — dictionary-
# compressed parquet text explodes through decompression (~4x), per-span
# row explosion, boxed JVM strings (2 bytes/char + object headers), and the
# aggregation's execution memory. 32x puts that known-fatal build just past
# a 1g session's ~307 MiB budget while leaving every bench-scale build
# (sf0.1 documents = 0.6 MB -> ~19 MiB estimate vs a 4.9 GiB budget) on the
# fast in-memory path.
_EXPANSION = 32

# Catalyst marks relations it cannot size (some LogicalRDDs) with a huge
# sentinel; anything past 1 PiB is "unknown", not a measurement.
_UNKNOWN_SIZE = 1 << 50


def _estimated_build_bytes(df: DataFrame) -> int:
    """Estimate the in-memory footprint of materializing ``df``: the sum of
    its leaf relations' size estimates (file-stat-accurate for parquet
    scans, carried-over stats for checkpointed inputs) times ``_EXPANSION``.
    Leaves, NOT the full optimized plan: Catalyst propagates join estimates
    multiplicatively, so any artifact built through a join reports absurd
    full-plan sizes (observed ~2^60 bytes for the PPJoin pair build at
    sf0.1) — the leaf scan volume is what actually bounds the build's
    memory pressure. Unknown-size leaves (sentinel stats) contribute
    nothing, which degrades to the pre-boundary behavior rather than
    forcing every such artifact onto disk."""
    plan = df._jdf.queryExecution().optimizedPlan()
    leaves = plan.collectLeaves()
    total = 0
    any_known = False
    for i in range(leaves.size()):
        size = int(leaves.apply(i).stats().sizeInBytes())
        if 0 < size < _UNKNOWN_SIZE:
            total += size
            any_known = True
    if not any_known and leaves.size() > 0:
        # Every leaf is unknown-size: the estimate is 0 and the OOM guard
        # is effectively bypassed for this artifact. Say so once, loudly —
        # a silent bypass is the exact failure class pin_with_budget
        # exists to catch.
        print(
            "artifacts: build-size estimate unavailable (all "
            f"{leaves.size()} plan leaves report unknown stats); the "
            "in-memory pin budget check is bypassed for this artifact",
            file=sys.stderr,
        )
    return total * _EXPANSION


def _storage_budget(spark: SparkSession) -> int:
    """The in-memory pin budget: 30% of the heap the pinned blocks actually
    live in. ``localCheckpoint``/``persist`` blocks live on EXECUTORS, so on
    a real cluster the relevant heap is ``spark.executor.memory``; in local
    mode driver and executor share one JVM and ``Runtime.maxMemory()`` is
    both. Explicit override (``spark.graft.artifact.storageBudget``) always
    wins — that is the cluster operator's direct knob. Both sizes are parsed
    by Spark's own rules: the override is a byte string (bare number =
    bytes), ``spark.executor.memory`` a MiB string (bare number = MiB)."""
    jvm = spark.sparkContext._jvm
    units = jvm.org.apache.spark.network.util.JavaUtils
    override = spark.conf.get(_BUDGET_CONF, None)
    if override:
        return int(units.byteStringAsBytes(override))
    master = spark.conf.get("spark.master", "")
    if not master.startswith("local"):
        exec_mem = spark.conf.get("spark.executor.memory", None)
        if exec_mem:
            return int(units.byteStringAsMb(exec_mem) * (1 << 20) * 0.3)
    max_heap = int(jvm.java.lang.Runtime.getRuntime().maxMemory())
    return int(max_heap * 0.3)


def pin_with_budget(
    df: DataFrame,
    spark: SparkSession,
    what: str,
    pins: list[DataFrame] | None = None,
) -> DataFrame:
    """Materialize-and-pin an artifact with a graceful memory boundary.

    The sf2.0 scaling leg showed the failure mode (SCALING.md): a bare
    1g-heap session building the winnowing index's ``localCheckpoint``
    OOMs INSIDE the JVM and takes the whole session down — the worst
    possible failure for a long-running pipeline. So before pinning,
    compare the leaf-scan build estimate (free — no job) against the
    session's storage budget (30% of the JVM max heap, the unified-
    memory storage share, overridable via ``spark.graft.artifact.
    storageBudget``). Within budget → eager ``localCheckpoint`` exactly as
    before (the fast path every existing bench/correctness number
    measures). Over budget → an eager ``persist(DISK_ONLY)`` instead:
    serialized blocks stream to local disk as they materialize, heap
    pressure stays bounded, and the artifact still behaves as a
    materialize-once table (at cluster scale the equivalent is persisting
    the artifact as a real table, which is already this module's stated
    scale posture). The downgrade is loud (one stderr line) but not fatal
    — a pipeline should degrade to disk, never die.

    Public for the streaming runner's result-snapshot adapters: the
    bare-1g sf2.0 record showed their unguarded ``localCheckpoint`` was the
    next OOM site after the round-9 artifact fix."""
    est = _estimated_build_bytes(df)
    budget = _storage_budget(spark)
    if est >= budget:
        from pyspark import StorageLevel

        print(
            f"artifacts: {what} build-estimated ~{est / (1 << 20):.0f} MiB >= "
            f"in-memory pin budget ~{budget / (1 << 20):.0f} MiB; pinning "
            f"DISK_ONLY instead of localCheckpoint (raise driver/executor "
            f"memory or set {_BUDGET_CONF} to adjust)",
            file=sys.stderr,
        )
        pinned = df.persist(StorageLevel.DISK_ONLY)
        pinned.count()  # eager, matching localCheckpoint(eager=True)
        if pins is not None:
            pins.append(pinned)  # unpersist must target the REGISTERED plan
        # Return a FRESH Dataset over the same plan. The size probe above
        # forced this Dataset's QueryExecution (its withCachedData phase)
        # BEFORE the persist registered the cache, so an action on the
        # exact returned object would silently bypass the cache and
        # re-read source files the caller may have deleted by then
        # (observed at sf2.0: streaming snapshot pinned DISK_ONLY, sink
        # tmpdir deleted, collect -> FAILED_READ FILE_NOT_EXIST).
        # select("*") builds a new QueryExecution whose cache lookup sees
        # the registered InMemoryRelation; downstream plans on top of the
        # artifact were never affected (they always build fresh).
        return pinned.select("*")
    return df.localCheckpoint(eager=True)


def _release_pin_list(pins: list[DataFrame]) -> None:
    for df in pins:
        try:
            df.unpersist(blocking=False)
        except Exception:
            pass  # session already stopped — blocks are gone anyway
    pins.clear()


def shingled_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus shingle table: (doc_id, text, shingles) over the documents
    table, word-3-gram, rebalanced, pinned with an eager localCheckpoint.
    Feeds MinHash signatures, every exact-Jaccard verify side, and the
    ordered-prefix build."""
    return _memo(
        "shingled_documents",
        spark,
        sf_dir,
        lambda pin: pin(
            with_shingles(
                rebalance(
                    load_table(spark, sf_dir, "documents").select("doc_id", "text")
                ),
                k=3,
            )
        ),
    )


def ordered_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The threshold-independent df-ordered prefix artifact over the full
    corpus shingle table. Because it covers ALL documents, any subset split
    (e.g. the incremental screen's batch/corpus halves) shares its total
    order by construction — the cross-set prefix guarantee holds."""
    return _memo(
        "ordered_shingles",
        spark,
        sf_dir,
        lambda pin: pin(
            df_ordered_shingles(shingled_documents(spark, sf_dir), "doc_id")
        ),
    )


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus 64-hash MinHash signature table: (doc_id, sig array<long>),
    built over the cached shingle frame and pinned like the other artifacts.
    A signature is a CORPUS property (seeded hash family, no threshold or
    banding parameter in it), so every LSH banding layout — 16x4 here, any
    other (bands, rows) factorization of 64 elsewhere — and every
    signature-level estimator slices this one table. At cluster scale this
    IS the signature table a pipeline materializes next to the corpus
    snapshot; per the bench cost policy its build is charged to the family's
    first member (``dedup_minhash_lsh``) and reruns ride it warm."""
    from ..operators.textsim import minhash_signature

    return _memo(
        "minhash_signatures",
        spark,
        sf_dir,
        lambda pin: pin(
            minhash_signature(shingled_documents(spark, sf_dir), n_hashes=64)
        ),
    )


def jaccard_pairs_075(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The family's terminal shared artifact: every unordered corpus doc
    pair with exact word-3-gram Jaccard >= 0.75 — ``(doc_a < doc_b,
    jaccard)``. This is simultaneously the ANSWER of the Jaccard-pairs
    query, the EDGE LIST of the cluster collapse, and the superset the
    incremental screen's cross-set matches are a slice of (a batch/corpus
    split of the same corpus selects exactly the pairs with one foot on
    each side) — so a pipeline running all three pays prefix-index build +
    candidate join + verification ONCE.

    Built via the exact-recall PPJoin path over the cached shingle/ordered
    artifacts; bounded output (near-dup pairs, not candidates) pinned
    executor-side like the other artifacts.
    """
    from ..operators.textsim import jaccard_verify, prefix_filter_pairs

    def build(pin):
        sh = shingled_documents(spark, sf_dir)
        return pin(
            jaccard_verify(
                prefix_filter_pairs(
                    sh, threshold=0.75, ordered=ordered_shingles(spark, sf_dir)
                ),
                sh,
                threshold=0.75,
            )
        )

    return _memo("jaccard_pairs_075", spark, sf_dir, build)


# BPE tokenizer artifacts: the merge table (bounded Python model state,
# <= N_MERGES pairs) and the vocabulary token-count map (word -> n_toks,
# pinned like the other corpus artifacts).


def bpe_merges(spark: SparkSession, sf_dir: str) -> tuple:
    """The corpus-trained BPE merge table: tuple of (left, right) pairs in
    rank order. One corpus-wide word-count aggregate + driver-side training
    over the capped frequency table (``operators/bpe.py`` module docstring
    has the 100 TB argument); memoized per corpus snapshot."""
    from ..operators.bpe import corpus_word_counts, train_bpe

    return _memo(
        "bpe_merges",
        spark,
        sf_dir,
        lambda _pin: tuple(train_bpe(corpus_word_counts(spark, sf_dir))),
    )


def bpe_word_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The vocabulary token-count map (word, n_toks): Arrow-batched encode
    over the DISTINCT corpus words, pinned. Every per-document BPE count in
    the registry is a broadcast join against this one table."""
    from ..operators.bpe import word_token_counts

    return _memo(
        "bpe_word_tokens",
        spark,
        sf_dir,
        lambda pin: pin(
            word_token_counts(spark, sf_dir, list(bpe_merges(spark, sf_dir)))
        ),
    )


def bpe_word_token_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The vocabulary token-LIST map (word, cnt, toks array<string>):
    the list-valued sibling of :func:`bpe_word_tokens`, carrying corpus
    frequency. Feeds vocabulary-id assignment and the full corpus
    encoding; pinned and memoized like the other tokenizer artifacts
    (bench cost policy: charged to ``text_bpe_vocab_ids``, its first
    consumer)."""
    from ..operators.bpe import word_token_lists

    return _memo(
        "bpe_word_token_lists",
        spark,
        sf_dir,
        lambda pin: pin(
            word_token_lists(spark, sf_dir, list(bpe_merges(spark, sf_dir)))
        ),
    )


def winnowing_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus winnowing fingerprint index: distinct ``(doc_id, f)``
    over ALL documents (k=3 word-grams, w=4 windows — the MOSS sampler).
    Because the fingerprint selection is a PER-DOCUMENT function (each
    doc's window minima depend only on its own hash sequence), the index
    over the full corpus restricts to any subset split exactly — a
    batch/corpus split of the same corpus reads its two sides from this
    one table, which is the cross-set screen's warm-artifact guarantee.
    At cluster scale this is the ~1/w-sized fingerprint table a pipeline
    materializes next to the corpus snapshot and probes per ingest."""
    from ..operators.textsim import winnow_fingerprints

    return _memo(
        "winnowing_index",
        spark,
        sf_dir,
        lambda pin: pin(
            winnow_fingerprints(
                rebalance(
                    load_table(spark, sf_dir, "documents").select("doc_id", "text")
                ),
                k=3,
                w=4,
            )
        ),
    )


# ---------------------------------------------------------------------------
# Artifact persistence — write the memoized indexes as real tables, reload
# them across sessions/jobs (VERDICT r10 task 2)
# ---------------------------------------------------------------------------

ARTIFACT_SHARDS = 8

# kind -> (builder, shard key, column order). The shard key is the column
# downstream consumers join/probe on, so the written layout colocates a key's
# rows in one shard file (the X97 posture: the winnowing index is
# "term-hash-sharded" — probes prune by `_shard`).
_ARTIFACT_SPECS: dict[str, tuple] = {
    "winnowing_index": (winnowing_index, "f", ("doc_id", "f")),
    "jaccard_pairs_075": (jaccard_pairs_075, "doc_a", ("doc_a", "doc_b", "jaccard")),
    "minhash_signatures": (minhash_signatures, "doc_id", ("doc_id", "minhash")),
    "bpe_word_tokens": (bpe_word_tokens, "word", ("word", "n_toks")),
    "bpe_word_token_lists": (bpe_word_token_lists, "word", ("word", "cnt", "toks")),
}


def _write_fingerprint_meta(spark: SparkSession, path: str, sf_dir: str) -> None:
    # Underscore-prefixed children are invisible to Spark's data discovery
    # (the _spark_metadata convention), so the sidecar rides inside the
    # artifact directory on ANY Hadoop filesystem without polluting reads.
    fp = corpus_fingerprint(sf_dir)
    spark.createDataFrame([(repr(fp),)], "fp string").coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{path}/_corpus_fingerprint")


def _check_fingerprint_meta(spark: SparkSession, path: str, sf_dir: str) -> None:
    (row,) = spark.read.parquet(f"{path}/_corpus_fingerprint").collect()
    now = repr(corpus_fingerprint(sf_dir))
    if row.fp != now:
        raise ValueError(
            f"artifact at {path!r} was built from a different snapshot of "
            f"{sf_dir!r} (stored fingerprint != current) — rebuild and "
            "re-save it; serving a stale index silently is the failure "
            "mode this gate exists to stop"
        )


def save_artifact(spark: SparkSession, sf_dir: str, kind: str, path: str) -> None:
    """Materialize one memoized corpus artifact (building it if cold) and
    WRITE it as a hash-sharded parquet index at ``path`` — the step a
    production pipeline runs once per corpus snapshot so later jobs reload
    the index instead of rebuilding it (the winnowing probe, the PPJoin
    pair set, the tokenizer's merge table + vocabulary map are all
    build-once/probe-many). The corpus fingerprint is stored alongside
    (``_corpus_fingerprint`` sidecar, invisible to data reads) and checked
    on reload, so an index can never silently serve a different snapshot.

    Layout: ``write_sharded_parquet`` on the column consumers probe/join
    on — balanced files under key skew, exact output file count, and
    ``_shard`` partition pruning for point probes. ``bpe_merges`` is
    bounded model state (<= N_MERGES rows), written as one plain parquet
    file ordered by rank."""
    from ..sources.formats import write_sharded_parquet

    if kind == "bpe_merges":
        merges = bpe_merges(spark, sf_dir)
        rows = [(i + 1, a, b) for i, (a, b) in enumerate(merges)]
        spark.createDataFrame(
            rows, "rank long, lhs string, rhs string"
        ).coalesce(1).write.mode("overwrite").parquet(path)
        _write_fingerprint_meta(spark, path, sf_dir)
        return
    builder, shard_key, cols = _ARTIFACT_SPECS[kind]
    write_sharded_parquet(
        builder(spark, sf_dir).select(*cols), path, shard_key, ARTIFACT_SHARDS
    )
    _write_fingerprint_meta(spark, path, sf_dir)


def load_artifact(spark: SparkSession, sf_dir: str, kind: str, path: str):
    """Reload a written artifact index into THIS session's memo, after
    verifying its stored corpus fingerprint still matches ``sf_dir`` (a
    mismatch raises — never silently serve an index of a rewritten
    corpus; fingerprint-less remote corpora skip the check with the
    one-time ``corpus_fingerprint`` warning). Every registered query that
    consumes the artifact then rides the loaded table instead of
    rebuilding — reload parity (loaded index -> query answers
    hash-identical to the memo-built ones, with the builders blocked) is
    pinned in ``tests/test_artifacts.py``. Returns the loaded artifact
    (DataFrame, or the merge tuple for ``bpe_merges``)."""
    if corpus_fingerprint(sf_dir):
        _check_fingerprint_meta(spark, path, sf_dir)
    pins: list[DataFrame] = []
    if kind == "bpe_merges":
        rows = spark.read.parquet(path).orderBy("rank").collect()
        value = tuple((r.lhs, r.rhs) for r in rows)
    else:
        _builder, _shard_key, cols = _ARTIFACT_SPECS[kind]
        value = pin_with_budget(
            spark.read.parquet(path).select(*cols),
            spark,
            f"{kind} (reloaded from {path})",
            pins,
        )
    _memo_insert(_memo_key(kind, spark, sf_dir), value, pins)
    return value


# Per-DOCUMENT artifacts are append-exact: each row depends only on its own
# document (winnowing selection and MinHash signatures are per-doc
# functions), so an ingest batch extends the written index without touching
# existing rows. Corpus-GLOBAL artifacts are deliberately excluded — the
# PPJoin pair set needs cross-batch candidates, and the BPE tables carry
# corpus frequencies — those rebuild per snapshot (their builders say so).
_APPENDABLE_KINDS = ("winnowing_index", "minhash_signatures")


def append_artifact(
    spark: SparkSession, sf_dir: str, kind: str, path: str, new_docs: DataFrame
) -> None:
    """Extend a WRITTEN per-document artifact index with an ingest batch —
    the incremental maintenance path: fingerprint/sign ONLY ``new_docs``
    (never rescanning the corpus), append the rows into the existing
    hash-shard layout (same shard expression, so probes keep pruning), and
    re-stamp the sidecar with ``sf_dir``'s CURRENT corpus fingerprint so a
    reload against the post-ingest snapshot passes the staleness gate.
    Call AFTER the batch lands in the corpus table; extended-index ==
    full-rebuild parity is pinned in ``tests/test_artifacts.py``."""
    from pyspark.sql import functions as F

    from ..operators.textsim import minhash_signature, winnow_fingerprints, with_shingles
    from ..sources.formats import shard_column

    if kind not in _APPENDABLE_KINDS:
        raise ValueError(
            f"artifact kind {kind!r} is not per-document/append-exact "
            f"(appendable: {_APPENDABLE_KINDS}); rebuild it per snapshot"
        )
    docs = new_docs.select("doc_id", "text")
    if kind == "winnowing_index":
        rows, shard_key = winnow_fingerprints(docs, k=3, w=4), "f"
    else:
        rows = minhash_signature(with_shingles(docs, k=3), n_hashes=64)
        shard_key = "doc_id"
    cols = _ARTIFACT_SPECS[kind][2]
    out = rows.select(*cols).withColumn(
        "_shard", shard_column(F.col(shard_key), ARTIFACT_SHARDS)
    )
    (
        out.repartition(ARTIFACT_SHARDS, "_shard")
        .sortWithinPartitions("_shard")
        .write.mode("append")
        .partitionBy("_shard")
        .parquet(path)
    )
    _write_fingerprint_meta(spark, path, sf_dir)


# The hyperplane-LSH band index over the embeddings corpus — the persisted
# ANN index an embedding store maintains and every ingest batch probes
# (streaming_ann_screen). Keyed by the EMBEDDINGS table fingerprint (this
# family derives from embeddings, not documents).


def ann_band_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(match_id, band_id, band_key) hyperplane sign-bit bands over the
    embeddings corpus — 4 bands of 16 bits from 64 deterministic seeded
    hyperplanes, built once per corpus snapshot and probed by every ingest
    batch. Pinned executor-side like the text-side indexes."""
    from pyspark.sql import functions as F

    from ..operators.vectors import hyperplane_band_keys, hyperplanes

    def build(pin):
        corpus = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        planes = hyperplanes(dim=64, n=64, seed=7)
        return pin(
            hyperplane_band_keys(corpus, planes, bands=4).select(
                F.col("vec_id").alias("match_id"), "band_id", "band_key"
            )
        )

    return _memo("ann_band_index", spark, sf_dir, build, table="embeddings")


def ann_corpus_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(match_id, c_emb, c_nrm) — the normed corpus vector side the screen's
    exact-cosine verification joins; pinned so repeated ingest batches never
    rescan the corpus or recompute norms."""
    from pyspark.sql import functions as F

    from ..operators.vectors import with_norm

    def build(pin):
        corpus = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        return pin(
            with_norm(corpus).select(
                F.col("vec_id").alias("match_id"),
                F.col("embedding").alias("c_emb"),
                F.col("nrm").alias("c_nrm"),
            )
        )

    return _memo("ann_corpus_vectors", spark, sf_dir, build, table="embeddings")


# ---------------------------------------------------------------------------
# Unigram-LM tokenizer artifacts
# ---------------------------------------------------------------------------


def unigram_word_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(word, n_toks) under the corpus-trained unigram-LM vocabulary —
    the unigram twin of :func:`bpe_word_tokens`: train driver-side on the
    capped frequency table, Arrow-batched Viterbi count once per DISTINCT
    word, pin. Per-document unigram counts join against this one table
    (broadcast), so Arrow never appears in the registered plans."""
    from ..operators.bpe import corpus_word_counts, corpus_words
    from ..operators.unigram import train_unigram, unigram_token_count_udf
    from pyspark.sql import functions as F

    def build(pin):
        vocab = train_unigram(corpus_word_counts(spark, sf_dir))
        words = (
            corpus_words(spark, sf_dir).select(F.col("w").alias("word")).distinct()
        )
        udf = unigram_token_count_udf(spark, vocab)
        return pin(words.select("word", udf(F.col("word")).alias("n_toks")))

    return _memo("unigram_word_tokens", spark, sf_dir, build)


# ---------------------------------------------------------------------------
# Boilerplate-scrub index artifact
# ---------------------------------------------------------------------------


def boilerplate_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-source paragraph-frequency table (source, ph, df, n_docs)
    over the corpus — the boilerplate index a crawl pipeline materializes
    once per corpus snapshot and every ingest batch probes. Same
    construction as the batch scrub's first pass (shared
    ``boilerplate_paras`` paragraphizer), pinned and memoized."""
    from pyspark.sql import functions as F

    from .corpus_queries import boilerplate_paras

    def build(pin):
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "source", "text"
        )
        src_docs = docs.groupBy("source").agg(
            F.countDistinct("doc_id").cast("long").alias("n_docs")
        )
        freq = (
            # (round 15 examined and reverted: rebalancing the raw doc rows
            # before the paragraph explode measured 1.07-1.31x WORSE across 4
            # in-session reps — the md5/explode is cheaper than shuffling the
            # text payload, and the (source, ph) aggregate redistributes anyway)
            boilerplate_paras(docs)
            .groupBy("source", "ph")
            .agg(F.countDistinct("doc_id").cast("long").alias("df"))
        )
        return pin(freq.join(F.broadcast(src_docs), "source"))

    return _memo("boilerplate_index", spark, sf_dir, build)
