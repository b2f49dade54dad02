"""Recall and correctness pins for the dedup family.

The banded/bucketed plans (MinHash LSH, SimHash chunks, hyperplane LSH) are
probabilistic *candidate generators* whose oracle parity holds because
candidate recall is 1 on this data. These tests pin that property directly —
a band/row/seed regression shows up here before it shows up as a driver
hash mismatch.
"""

from __future__ import annotations

import itertools

import duckdb
import pytest

from kafka_streams_rosetta_demo_spark.operators.textsim import (
    band_candidate_pairs,
    lsh_band_keys,
    minhash_signature,
    prefix_filter_pairs,
    prefix_length,
    with_shingles,
)
from kafka_streams_rosetta_demo_spark.sources.parquet import load_table

# the memoized shingle-family artifacts (queries/artifacts.py)
_SHINGLE_KINDS = (
    "shingled_documents",
    "ordered_shingles",
    "minhash_signatures",
    "jaccard_pairs_075",
)


def brute_force_pairs(sf_dir: str, k: int, threshold: float) -> set[tuple[int, int]]:
    con = duckdb.connect()
    docs = con.execute(
        f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet'"
    ).fetchall()
    sets = {
        d: {" ".join(t.split()[i : i + k]) for i in range(len(t.split()) - k + 1)}
        for d, t in docs
        if len(t.split()) >= k
    }
    out = set()
    for (a, sa), (b, sb) in itertools.combinations(sets.items(), 2):
        inter = len(sa & sb)
        if inter and inter / (len(sa) + len(sb) - inter) >= threshold:
            out.add((min(a, b), max(a, b)))
    return out


def test_minhash_lsh_candidate_recall(spark, sf_correctness):
    """Every true pair at J >= 0.8 must be an LSH candidate (16x4 bands).

    Two planted rows pin the signature fold's edge cases: an empty shingle
    array yields the fold's initializer, and a null array yields ``[]``
    through the coalesce guard."""
    truth = brute_force_pairs(sf_correctness, k=3, threshold=0.8)
    assert truth, "testdata lost its planted near-duplicates"
    docs = load_table(spark, sf_correctness, "documents").select("doc_id", "text")
    sh = with_shingles(docs, k=3).select("doc_id", "shingles")
    edge = spark.createDataFrame(
        [(10_000_001, []), (10_000_002, None)], "doc_id bigint, shingles array<string>"
    )
    sig = minhash_signature(sh.unionByName(edge), n_hashes=64)
    by_id = {r.doc_id: r.minhash for r in sig.where("doc_id >= 10000001").collect()}
    assert by_id == {10_000_001: [1 << 62] * 64, 10_000_002: []}

    cand = band_candidate_pairs(
        lsh_band_keys(sig.where("doc_id < 10000001"), bands=16, rows=4)
    )
    got = {(r.id_a, r.id_b) for r in cand.collect()}
    missed = truth - got
    assert not missed, f"LSH missed true pairs: {sorted(missed)}"


def test_prefix_filter_exact_recall(spark, sf_correctness):
    """Prefix filtering guarantees recall for J >= t — verify the guarantee
    holds as implemented (df ordering, ceil, slice off-by-ones)."""
    truth = brute_force_pairs(sf_correctness, k=3, threshold=0.75)
    assert truth
    docs = load_table(spark, sf_correctness, "documents").select("doc_id", "text")
    sh = with_shingles(docs, k=3)
    cand = prefix_filter_pairs(sh, threshold=0.75)
    got = {(r.id_a, r.id_b) for r in cand.collect()}
    missed = truth - got
    assert not missed, f"prefix filter broke its recall guarantee: {sorted(missed)}"


def test_prefix_filter_cross_exact_recall(spark, sf_correctness):
    """The cross-set prefix filter (batch x corpus, shared union df order)
    must surface every true batch-corpus pair at J >= t."""
    from kafka_streams_rosetta_demo_spark.operators.textsim import (
        prefix_filter_pairs_cross,
    )

    truth = {
        (a, b) if a % 5 == 0 else (b, a)
        for a, b in brute_force_pairs(sf_correctness, k=3, threshold=0.75)
        if (a % 5 == 0) != (b % 5 == 0)
    }
    assert truth, "split left no cross batch/corpus near-dup pairs"
    docs = load_table(spark, sf_correctness, "documents").select("doc_id", "text")
    sh = with_shingles(docs, k=3)
    from pyspark.sql import functions as F

    cand = prefix_filter_pairs_cross(
        sh.where(F.col("doc_id") % 5 == 0),
        sh.where(F.col("doc_id") % 5 != 0),
        threshold=0.75,
    )
    got = {(r.id_a, r.id_b) for r in cand.collect()}
    missed = truth - got
    assert not missed, f"cross prefix filter broke recall: {sorted(missed)}"


def test_containment_prefix_exact_recall(spark, sf_correctness):
    """The one-sided containment prefix filter must surface every true pair
    at C(A,B) = |A∩B|/|A| >= t."""
    import duckdb as _duck

    from kafka_streams_rosetta_demo_spark.operators.textsim import (
        containment_filter_pairs,
    )

    con = _duck.connect()
    docs = con.execute(
        f"SELECT doc_id, text FROM '{sf_correctness}/documents.parquet'"
    ).fetchall()
    sets = {
        d: {" ".join(t.split()[i : i + 3]) for i in range(len(t.split()) - 2)}
        for d, t in docs
        if len(t.split()) >= 3
    }
    truth = {
        (a, b)
        for a in sets
        for b in sets
        if a != b and len(sets[a] & sets[b]) / len(sets[a]) >= 0.9
    }
    assert truth, "testdata lost its planted near-duplicates"
    sdocs = load_table(spark, sf_correctness, "documents").select("doc_id", "text")
    sh = with_shingles(sdocs, k=3)
    got = {(r.id_a, r.id_b) for r in containment_filter_pairs(sh, threshold=0.9).collect()}
    missed = truth - got
    assert not missed, f"containment prefix filter broke recall: {sorted(missed)}"


def test_prefix_length_formula():
    # |S| - ceil(t|S|) + 1, never below 1
    assert prefix_length(10, 0.7) == 4
    assert prefix_length(1, 0.9) == 1
    assert prefix_length(100, 0.95) == 6


def test_candidate_filters_keep_exact_boundary_pairs(spark):
    """The PPJoin length/positional candidate filters (round-14
    optimization) must not drop pairs sitting EXACTLY at the threshold —
    the adversarial case for the one-token relaxation that guards against
    double rounding. Symmetric boundary: |A|=|B|=7 words, 6 shared ->
    J = 6/8 = 0.75 exactly. Containment boundary: |A|=10 words, 9 inside
    B -> C = 9/10 = 0.9 exactly. k=1 shingles make the token sets the
    word sets."""
    from pyspark.sql import functions as F

    from kafka_streams_rosetta_demo_spark.operators.textsim import (
        containment_filter_pairs,
        jaccard_verify,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g"),          # A
            (2, "a b c d e f z"),          # B: 6 shared of union 8 -> J=0.75
            (3, " ".join(f"w{i}" for i in range(10))),            # C
            (4, " ".join(f"w{i}" for i in range(9)) + " q0 q1"),  # D ⊇ 9 of C
        ],
        "doc_id long, text string",
    )
    sh = with_shingles(docs, k=1)
    jac = {(r.id_a, r.id_b) for r in prefix_filter_pairs(sh, threshold=0.75).collect()}
    assert (1, 2) in jac, "boundary J=0.75 pair dropped by the candidate filters"
    ver = jaccard_verify(prefix_filter_pairs(sh, 0.75), sh, 0.75)
    assert {(r.doc_a, r.doc_b) for r in ver.collect()} >= {(1, 2)}
    cont = {
        (r.id_a, r.id_b)
        for r in containment_filter_pairs(sh, threshold=0.9).collect()
    }
    assert (3, 4) in cont, "boundary C=0.9 pair dropped by the candidate filters"


def test_exact_dedup_collapses_injected_duplicates(spark, sf_correctness):
    from kafka_streams_rosetta_demo_spark.queries import load_all

    out = load_all()["dedup_exact"].fn(spark, sf_correctness).toPandas()
    n_docs = load_table(spark, sf_correctness, "documents").count()
    assert len(out) == n_docs  # one row per distinct text
    dup_groups = out[out.n_copies == 2]
    assert len(dup_groups) == n_docs // 10
    # canonical id is always the original (pre-injection) doc id
    assert (dup_groups.canonical_doc_id < 1000000).all()


def test_embedding_lsh_finds_planted_scaled_duplicates(spark, sf_correctness):
    from kafka_streams_rosetta_demo_spark.queries import load_all

    out = load_all()["dedup_embedding_cosine"].fn(spark, sf_correctness).toPandas()
    n_vecs = load_table(spark, sf_correctness, "embeddings").count()
    planted = n_vecs // 20  # vec_id % 20 == 0, ids are 0..n-1
    assert len(out) == planted
    assert set(out.vec_b - out.vec_a) == {1000000}
    assert out.cosine.tolist() == pytest.approx([1.0] * len(out))


def test_semdedup_injected_pairs_detected(spark, sf_smoke):
    """The 1.5x-scaled injections are in-cell by construction (cosine is
    scale-invariant, so source and copy share an argmax cell up to float32
    rounding noise); the survivor rule must mark the higher id of each
    detected pair as dominated and count both sides."""
    from kafka_streams_rosetta_demo_spark.queries import load_all

    rows = load_all()["dedup_semantic_semdedup"].fn(spark, sf_smoke).collect()
    by_id = {r.vec_id: r for r in rows}
    injected = [r for r in rows if r.vec_id >= 1_000_000]
    assert injected, "no injected vectors in output"
    detected = [r for r in injected if r.n_cell_dups > 0]
    # float32 rounding can flip a near-tied argmax cell for isolated
    # vectors; the overwhelming majority must still pair with their source
    assert len(detected) >= 0.9 * len(injected)
    for r in detected:
        src = by_id[r.vec_id - 1_000_000]
        if src.cell_id == r.cell_id:
            # in-cell pair: copy (higher id) dominated, source keeps
            assert r.keep is False
            assert src.n_cell_dups > 0


def test_shared_pair_artifact_forms_agree(spark, sf_correctness):
    """The family's shared verified-pair artifact must be interchangeable
    with the standalone builds it replaced:

    - ``prefix_filter_pairs`` with the cached ``ordered`` artifact equals
      the self-contained build (the preprocessing pass is a pure
      factorization);
    - the incremental screen's slice of the pair artifact (pairs with one
      foot in the batch) equals the cross-set prefix-filter form it
      replaced (``prefix_filter_pairs_cross`` + verify + count).
    """
    from pyspark.sql import functions as F

    from kafka_streams_rosetta_demo_spark.operators.textsim import (
        jaccard_verify,
        prefix_filter_pairs,
        prefix_filter_pairs_cross,
    )
    from kafka_streams_rosetta_demo_spark.queries import load_all
    from kafka_streams_rosetta_demo_spark.queries.artifacts import (
        clear_artifacts,
        ordered_shingles,
        shingled_documents,
    )

    clear_artifacts(*_SHINGLE_KINDS)
    sh = shingled_documents(spark, sf_correctness)
    ordered = ordered_shingles(spark, sf_correctness)

    with_artifact = {
        tuple(r)
        for r in prefix_filter_pairs(sh, 0.75, ordered=ordered)
        .select("id_a", "id_b")
        .collect()
    }
    standalone = {
        tuple(r)
        for r in prefix_filter_pairs(sh, 0.75).select("id_a", "id_b").collect()
    }
    # candidate supersets may differ only in pairs verification discards;
    # the exact-recall guarantee is what must be shared — compare verified
    va = {
        (r.doc_a, r.doc_b)
        for r in jaccard_verify(
            spark.createDataFrame(
                [(a, b) for a, b in with_artifact], "id_a long, id_b long"
            ),
            sh,
            0.75,
        ).collect()
    }
    vs = {
        (r.doc_a, r.doc_b)
        for r in jaccard_verify(
            spark.createDataFrame(
                [(a, b) for a, b in standalone], "id_a long, id_b long"
            ),
            sh,
            0.75,
        ).collect()
    }
    assert va == vs

    # screen: artifact-slice form (the registered query) == cross-prefix form
    batch = sh.where(F.col("doc_id") % 5 == 0)
    corpus = sh.where(F.col("doc_id") % 5 != 0)
    cand = prefix_filter_pairs_cross(batch, corpus, threshold=0.75, ordered=ordered)
    ver = jaccard_verify(cand, sh, threshold=0.75)
    dups = ver.groupBy(F.col("doc_a").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("n_dups")
    )
    legacy = {
        (r.doc_id, r.n_corpus_dups, r.keep)
        for r in batch.select("doc_id")
        .join(dups, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_dups", F.lit(0)).alias("n_corpus_dups"),
            (F.coalesce("n_dups", F.lit(0)) == 0).alias("keep"),
        )
        .collect()
    }
    registered = {
        (r.doc_id, r.n_corpus_dups, r.keep)
        for r in load_all()["dedup_incremental_screen"]
        .fn(spark, sf_correctness)
        .collect()
    }
    assert registered == legacy


def test_minhash_signature_artifact_form_equality(spark, sf_correctness):
    """The memoized 64-hash signature artifact (queries/artifacts.py) must be
    a pure factorization: identical rows to the standalone
    ``minhash_signature`` build, a warm second call must return the SAME
    pinned frame (no rebuild), and ``dedup_minhash_lsh`` must emit identical
    pairs cold vs warm."""
    from kafka_streams_rosetta_demo_spark.operators.textsim import (
        minhash_signature,
    )
    from kafka_streams_rosetta_demo_spark.queries import load_all
    from kafka_streams_rosetta_demo_spark.queries.artifacts import (
        clear_artifacts,
        minhash_signatures,
        shingled_documents,
    )

    registry = load_all()
    clear_artifacts(*_SHINGLE_KINDS)
    art = minhash_signatures(spark, sf_correctness)
    standalone = minhash_signature(
        shingled_documents(spark, sf_correctness), n_hashes=64
    )
    got = {(r.doc_id, tuple(r.minhash)) for r in art.collect()}
    want = {(r.doc_id, tuple(r.minhash)) for r in standalone.collect()}
    assert got == want

    # warm call is the same pinned frame — the rebuild genuinely skipped
    assert minhash_signatures(spark, sf_correctness) is art

    cold = clear_artifacts(*_SHINGLE_KINDS) or sorted(
        map(tuple, registry["dedup_minhash_lsh"].fn(spark, sf_correctness).collect())
    )
    warm = sorted(
        map(tuple, registry["dedup_minhash_lsh"].fn(spark, sf_correctness).collect())
    )
    assert cold == warm
