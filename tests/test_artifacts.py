"""The corpus-artifact memo (``queries/artifacts.py``): one fingerprint-keyed
memo for every corpus-derived artifact, one DISK_ONLY pin dict, one
``clear_artifacts``.

Pinned here: a warm lookup returns the identical object; a corpus rewritten
in place misses the memo and releases the stale entry's DISK_ONLY pins at
insert; a clear releases pins, and clearing one kind leaves the others
warm; the budget pin degrades to disk under a tiny storage budget;
save/load/append parity with the builders blocked; the non-local
fingerprint warns once; and no other package module keeps its own memo.
"""

from __future__ import annotations

import os

import pytest

from kafka_streams_rosetta_demo_spark.queries import artifacts


def _pins(kind: str) -> dict:
    """The memo's DISK_ONLY pin lists for one artifact kind, by key."""
    return {k: v for k, v in artifacts._MEMO_PINS.items() if k[0] == kind}


def _write_docs(spark, path: str, rows: list[tuple[int, str]]) -> None:
    df = spark.createDataFrame(
        [(i, t, "src") for i, t in rows], "doc_id long, text string, source string"
    )
    df.coalesce(1).write.mode("overwrite").parquet(os.path.join(path, "documents.parquet"))


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


_SHINGLE_KINDS = (
    "shingled_documents",
    "ordered_shingles",
    "minhash_signatures",
    "jaccard_pairs_075",
)
_BPE_KINDS = ("bpe_merges", "bpe_word_tokens", "bpe_word_token_lists")


# ---------------------------------------------------------------------------
# warm lookups, budget pins, clears
# ---------------------------------------------------------------------------


def test_winnowing_query_rides_the_shared_index(spark, sf_smoke):
    """dedup_winnowing and dedup_winnowing_screen must read the SAME
    memoized fingerprint index (the warm-artifact contract bench.py's cost
    policy charges to dedup_winnowing)."""
    from kafka_streams_rosetta_demo_spark.queries.dedup_queries import (
        dedup_winnowing,
        dedup_winnowing_screen,
    )

    artifacts.clear_artifacts("winnowing_index")
    dedup_winnowing(spark, sf_smoke).count()
    key = artifacts._memo_key("winnowing_index", spark, sf_smoke)  # fingerprinted
    built = artifacts._MEMO.get(key)
    assert built is not None, "dedup_winnowing did not build the index"
    dedup_winnowing_screen(spark, sf_smoke).count()
    assert artifacts._MEMO.get(key) is built, "screen rebuilt the index"


def test_artifact_pin_degrades_to_disk_under_tiny_memory_budget(spark, sf_smoke, capfd):
    """VERDICT r8 task 6: the sf2.0 sweep OOMed a bare 1g-heap session
    building the winnowing index's localCheckpoint and killed the JVM.
    The artifact layer now compares Catalyst's plan-size estimate against
    the session's storage budget BEFORE pinning; over budget it must
    degrade to an eager DISK_ONLY persist — a loud, clean, disk-backed
    success, never a dead session — and the artifact must stay
    semantically identical to the in-memory build."""
    from pyspark import StorageLevel

    artifacts.clear_artifacts("winnowing_index")
    spark.conf.set(artifacts._BUDGET_CONF, "1")  # 1 byte: everything is over
    try:
        disk = artifacts.winnowing_index(spark, sf_smoke)
        assert disk.storageLevel == StorageLevel.DISK_ONLY
        assert "pinning DISK_ONLY" in capfd.readouterr().err
        disk_count = disk.count()
    finally:
        spark.conf.unset(artifacts._BUDGET_CONF)
        artifacts.clear_artifacts("winnowing_index")
    mem = artifacts.winnowing_index(spark, sf_smoke)
    assert mem.storageLevel != StorageLevel.DISK_ONLY  # normal path restored
    assert mem.count() == disk_count
    assert mem.exceptAll(disk).count() == 0 and disk.exceptAll(mem).count() == 0
    disk.unpersist()
    artifacts.clear_artifacts("winnowing_index")


def test_clear_artifacts_releases_disk_pins(spark, sf_smoke, capfd):
    """bench clears artifact caches before each timed rep; when a rep ran
    degraded (DISK_ONLY), the clear must unpersist the old blocks eagerly
    rather than stacking a fresh copy per rep behind the GC."""
    from pyspark import StorageLevel

    artifacts.clear_artifacts("winnowing_index")
    spark.conf.set(artifacts._BUDGET_CONF, "1")
    try:
        artifacts.winnowing_index(spark, sf_smoke)
        (pin_list,) = _pins("winnowing_index").values()
        assert len(pin_list) == 1
        pinned = pin_list[0]
        assert pinned.storageLevel == StorageLevel.DISK_ONLY
        artifacts.clear_artifacts("winnowing_index")
        assert _pins("winnowing_index") == {}
        assert pinned.storageLevel == StorageLevel.NONE, "blocks not released"
    finally:
        spark.conf.unset(artifacts._BUDGET_CONF)
        artifacts.clear_artifacts("winnowing_index")


def test_clearing_one_kind_releases_its_own_disk_pins(spark, sf_smoke, capfd):
    """text_bpe_vocab_ids is charged the word token-LIST build alone, so
    bench clears only that kind before each of its reps. A degraded rep's
    DISK_ONLY copy of the list table must be released by that clear (the
    old list-only clear left it held, one disk copy per rep), while the
    sibling count map stays the identical warm memo object."""
    from pyspark import StorageLevel

    artifacts.clear_artifacts(*_BPE_KINDS)
    spark.conf.set(artifacts._BUDGET_CONF, "1")
    try:
        tokens = artifacts.bpe_word_tokens(spark, sf_smoke)
        artifacts.bpe_word_token_lists(spark, sf_smoke)
        ((pinned,),) = _pins("bpe_word_token_lists").values()
        assert pinned.storageLevel == StorageLevel.DISK_ONLY
        artifacts.clear_artifacts("bpe_word_token_lists")
        assert pinned.storageLevel == StorageLevel.NONE, "list pin still held"
        assert artifacts.bpe_word_tokens(spark, sf_smoke) is tokens
    finally:
        spark.conf.unset(artifacts._BUDGET_CONF)
        artifacts.clear_artifacts(*_BPE_KINDS)
        capfd.readouterr()


# ---------------------------------------------------------------------------
# content fingerprinting: a rewritten corpus snapshot must rebuild, never
# serve stale artifacts
# ---------------------------------------------------------------------------


class TestArtifactFingerprint:
    def test_fingerprint_changes_on_rewrite(self, spark, tmp_path):
        sf = str(tmp_path)
        _write_docs(spark, sf, [(0, "a b c d e f"), (1, "a b c d e g")])
        fp1 = artifacts.corpus_fingerprint(sf)
        assert fp1, "fingerprint should see the written files"
        _write_docs(spark, sf, [(0, "x y z w v u"), (1, "x y z w v t")])
        fp2 = artifacts.corpus_fingerprint(sf)
        assert fp1 != fp2

    def test_missing_table_fingerprints_empty(self, tmp_path):
        assert artifacts.corpus_fingerprint(str(tmp_path)) == ()

    def test_rewritten_corpus_rebuilds_artifact(self, spark, tmp_path):
        """The round-9 verdict's staleness hazard, closed: a snapshot
        rewritten IN PLACE under the same sf_dir must miss the
        (application, sf_dir, fingerprint) cache and rebuild — observable
        as the artifact's content tracking the new corpus."""
        sf = str(tmp_path)
        try:
            _write_docs(
                spark,
                sf,
                [(0, "alpha beta gamma delta epsilon zeta"), (1, "one two three four five six")],
            )
            first = artifacts.shingled_documents(spark, sf)
            n1 = first.count()
            assert n1 == 2
            # memo hit while the files are untouched: identical object back
            assert artifacts.shingled_documents(spark, sf) is first

            # rewrite in place (new sizes/mtimes under the SAME path)
            _write_docs(
                spark,
                sf,
                [
                    (10, "red orange yellow green blue indigo"),
                    (11, "red orange yellow green blue violet"),
                    (12, "cat dog bird fish mouse horse"),
                ],
            )
            second = artifacts.shingled_documents(spark, sf)
            assert second is not first, "rewritten corpus must miss the memo"
            ids = sorted(r.doc_id for r in second.select("doc_id").collect())
            assert ids == [10, 11, 12], "artifact must reflect the NEW corpus"
        finally:
            artifacts.clear_artifacts(*_SHINGLE_KINDS)

    def test_cc_label_cache_uses_fingerprinted_key(self, spark, tmp_path):
        from kafka_streams_rosetta_demo_spark.queries.corpus_queries import (
            _cc_labels,
        )

        sf = str(tmp_path)
        try:
            dup = "the quick brown fox jumps over the lazy dog again and again"
            _write_docs(spark, sf, [(0, dup), (1, dup), (2, "totally different words here now ok")])
            first = _cc_labels(spark, sf)
            assert first is _cc_labels(spark, sf)
            _write_docs(spark, sf, [(5, dup), (6, dup)])
            # upstream artifacts re-key themselves too
            artifacts.clear_artifacts(*_SHINGLE_KINDS)
            second = _cc_labels(spark, sf)
            assert second is not first
        finally:
            artifacts.clear_artifacts("cc_labels", *_SHINGLE_KINDS)


# ---------------------------------------------------------------------------
# memo hygiene: eviction releases the evicted entry's DISK_ONLY pins;
# non-local fingerprints warn once
# ---------------------------------------------------------------------------


class TestArtifactCacheHygiene:
    def test_eviction_unpersists_stale_disk_pins(self, spark, tmp_path, capfd):
        """A corpus rewritten in place mid-session must release the OLD
        fingerprint's DISK_ONLY artifact blocks at memo insert time — not
        hold them until a bench-only clear_artifacts call runs."""
        import shutil
        import time

        from pyspark import StorageLevel

        sf = str(tmp_path)
        docs = spark.createDataFrame(
            [(i, f"alpha beta gamma delta {i}", "s") for i in range(60)],
            "doc_id long, text string, source string",
        )
        docs.write.parquet(f"{sf}/documents.parquet")

        artifacts.clear_artifacts("winnowing_index")
        spark.conf.set(artifacts._BUDGET_CONF, "1")  # force DISK_ONLY
        try:
            artifacts.winnowing_index(spark, sf)
            (old_pins,) = _pins("winnowing_index").values()
            old_pinned = old_pins[0]
            assert old_pinned.storageLevel == StorageLevel.DISK_ONLY

            # rewrite the corpus in place (new mtime/fileset -> new key)
            time.sleep(0.05)
            shutil.rmtree(f"{sf}/documents.parquet")
            docs.limit(30).write.parquet(f"{sf}/documents.parquet")

            artifacts.winnowing_index(spark, sf)
            assert len(_pins("winnowing_index")) == 1  # only the new key
            assert (
                old_pinned.storageLevel == StorageLevel.NONE
            ), "evicted entry's disk pin not released at insert time"
        finally:
            spark.conf.unset(artifacts._BUDGET_CONF)
            artifacts.clear_artifacts("winnowing_index")
            capfd.readouterr()

    def test_nonlocal_fingerprint_warns_once(self, capfd):
        """An os.stat-invisible (remote-scheme) sf_dir fingerprints empty —
        the staleness guard is off there — and says so exactly once."""
        path = "s3://bucket-that-does-not-exist/sfX"
        assert artifacts.corpus_fingerprint(path) == ()
        assert artifacts.corpus_fingerprint(path) == ()
        err = capfd.readouterr().err
        assert err.count("corpus fingerprint unavailable") == 1

    def test_local_missing_path_stays_silent(self, tmp_path, capfd):
        """A missing LOCAL path is the normal does-not-exist case — no
        warning, just the empty fingerprint."""
        assert artifacts.corpus_fingerprint(str(tmp_path / "nope")) == ()
        assert "fingerprint unavailable" not in capfd.readouterr().err


# ---------------------------------------------------------------------------
# persist/reload parity (VERDICT r10 task 2): written index -> cleared memos
# -> reload -> consumer queries hash-identical, with the builders BLOCKED so
# a silent rebuild cannot fake the parity.
# ---------------------------------------------------------------------------


class TestArtifactPersistReload:
    def test_winnowing_index_reload_parity(self, spark, sf_smoke, tmp_path, monkeypatch):
        """dedup_winnowing_screen must answer identically whether the
        fingerprint index came from this session's build or from a written
        parquet index reloaded cold — with the builder raising, so the
        reload path is provably the one that served."""
        from kafka_streams_rosetta_demo_spark.operators import textsim
        from kafka_streams_rosetta_demo_spark.queries.dedup_queries import (
            dedup_winnowing_screen,
        )

        artifacts.clear_artifacts("winnowing_index")
        baseline = _rows(dedup_winnowing_screen(spark, sf_smoke))

        path = str(tmp_path / "winnow_idx")
        artifacts.save_artifact(spark, sf_smoke, "winnowing_index", path)
        artifacts.clear_artifacts("winnowing_index")  # simulate a fresh session

        def boom(*a, **k):
            raise AssertionError("builder ran — reload did not serve")

        monkeypatch.setattr(textsim, "winnow_fingerprints", boom)
        loaded = artifacts.load_artifact(spark, sf_smoke, "winnowing_index", path)
        assert loaded.columns == ["doc_id", "f"]
        assert _rows(dedup_winnowing_screen(spark, sf_smoke)) == baseline
        monkeypatch.undo()
        artifacts.clear_artifacts("winnowing_index")

    def test_bpe_reload_parity(self, spark, sf_smoke, tmp_path, monkeypatch):
        """The tokenizer's two artifacts (merge table + vocabulary map)
        round-trip through disk and serve text_bpe_fertility identically,
        with training and the vocabulary encode both blocked."""
        from kafka_streams_rosetta_demo_spark.operators import bpe as bpe_mod
        from kafka_streams_rosetta_demo_spark.queries.corpus_queries import (
            text_bpe_fertility,
        )

        artifacts.clear_artifacts(*_BPE_KINDS)
        baseline = _rows(text_bpe_fertility(spark, sf_smoke))
        saved_merges = artifacts.bpe_merges(spark, sf_smoke)

        mpath = str(tmp_path / "bpe_merges")
        wpath = str(tmp_path / "bpe_word_tokens")
        artifacts.save_artifact(spark, sf_smoke, "bpe_merges", mpath)
        artifacts.save_artifact(spark, sf_smoke, "bpe_word_tokens", wpath)
        artifacts.clear_artifacts(*_BPE_KINDS)

        def boom(*a, **k):
            raise AssertionError("builder ran — reload did not serve")

        monkeypatch.setattr(bpe_mod, "train_bpe", boom)
        monkeypatch.setattr(bpe_mod, "word_token_counts", boom)
        monkeypatch.setattr(bpe_mod, "corpus_word_counts", boom)
        merges = artifacts.load_artifact(spark, sf_smoke, "bpe_merges", mpath)
        assert merges == saved_merges  # rank order survives the round trip
        artifacts.load_artifact(spark, sf_smoke, "bpe_word_tokens", wpath)
        assert _rows(text_bpe_fertility(spark, sf_smoke)) == baseline
        monkeypatch.undo()
        artifacts.clear_artifacts(*_BPE_KINDS)

    def test_pairs_and_signatures_reload_parity(self, spark, sf_smoke, tmp_path, monkeypatch):
        """The remaining two registered artifact kinds — the PPJoin pair
        set and the MinHash signature table — also round-trip: their
        consumer queries answer identically off the reloaded indexes with
        the pair/signature builders blocked (shingling stays allowed —
        it is a separate artifact these two consume)."""
        from kafka_streams_rosetta_demo_spark.operators import textsim
        from kafka_streams_rosetta_demo_spark.queries.dedup_queries import (
            dedup_minhash_lsh,
            dedup_ngram_jaccard,
        )

        artifacts.clear_artifacts(*_SHINGLE_KINDS)
        pairs_baseline = _rows(dedup_ngram_jaccard(spark, sf_smoke))
        lsh_baseline = _rows(dedup_minhash_lsh(spark, sf_smoke))

        ppath = str(tmp_path / "pairs075")
        spath = str(tmp_path / "minhash_sigs")
        artifacts.save_artifact(spark, sf_smoke, "jaccard_pairs_075", ppath)
        artifacts.save_artifact(spark, sf_smoke, "minhash_signatures", spath)
        artifacts.clear_artifacts(*_SHINGLE_KINDS)

        def boom(*a, **k):
            raise AssertionError("builder ran — reload did not serve")

        monkeypatch.setattr(textsim, "prefix_filter_pairs", boom)
        monkeypatch.setattr(textsim, "minhash_signature", boom)
        artifacts.load_artifact(spark, sf_smoke, "jaccard_pairs_075", ppath)
        artifacts.load_artifact(spark, sf_smoke, "minhash_signatures", spath)
        assert _rows(dedup_ngram_jaccard(spark, sf_smoke)) == pairs_baseline
        assert _rows(dedup_minhash_lsh(spark, sf_smoke)) == lsh_baseline
        monkeypatch.undo()
        artifacts.clear_artifacts(*_SHINGLE_KINDS)

    def test_stale_fingerprint_rejected_on_load(self, spark, tmp_path):
        """An index saved from one corpus snapshot must refuse to load
        against a rewritten snapshot of the same path — the silent-stale
        failure the sidecar gate exists to stop."""
        import shutil
        import time

        sf = str(tmp_path / "corpus")
        docs = spark.createDataFrame(
            [(i, f"alpha beta gamma {i}", "s") for i in range(40)],
            "doc_id long, text string, source string",
        )
        docs.write.parquet(f"{sf}/documents.parquet")
        path = str(tmp_path / "idx")
        artifacts.save_artifact(spark, sf, "winnowing_index", path)

        time.sleep(0.05)
        shutil.rmtree(f"{sf}/documents.parquet")
        docs.limit(10).write.parquet(f"{sf}/documents.parquet")

        with pytest.raises(ValueError, match="different snapshot"):
            artifacts.load_artifact(spark, sf, "winnowing_index", path)
        artifacts.clear_artifacts("winnowing_index")

    def test_append_extends_index_to_full_rebuild_parity(self, spark, tmp_path):
        """The incremental-maintenance path: index saved over 80% of a
        corpus, the remaining 20% ingested and APPENDED (only the batch is
        fingerprinted — no corpus rescan), reload against the post-ingest
        snapshot == the full-rebuild index row-for-row, for both
        per-document kinds."""
        from pyspark.sql import functions as F

        sf = str(tmp_path / "corpus")
        all_docs = spark.createDataFrame(
            [(i, f"gamma delta epsilon zeta {i % 7} {i}", "s") for i in range(50)],
            "doc_id long, text string, source string",
        )
        base = all_docs.where(F.col("doc_id") % 5 != 0)
        batch = all_docs.where(F.col("doc_id") % 5 == 0)

        for kind in ("winnowing_index", "minhash_signatures"):
            path = str(tmp_path / f"idx_{kind}")
            base.write.mode("overwrite").parquet(f"{sf}/documents.parquet")
            artifacts.clear_artifacts("winnowing_index", *_SHINGLE_KINDS)
            artifacts.save_artifact(spark, sf, kind, path)

            # the ingest lands in the corpus table, then extends the index
            batch.write.mode("append").parquet(f"{sf}/documents.parquet")
            artifacts.append_artifact(spark, sf, kind, path, batch)

            artifacts.clear_artifacts("winnowing_index", *_SHINGLE_KINDS)
            loaded = _rows(artifacts.load_artifact(spark, sf, kind, path))

            artifacts.clear_artifacts("winnowing_index", *_SHINGLE_KINDS)
            builder, _shard_key, cols = artifacts._ARTIFACT_SPECS[kind]
            assert loaded == _rows(builder(spark, sf).select(*cols)), kind
        artifacts.clear_artifacts("winnowing_index", *_SHINGLE_KINDS)

        # corpus-global kinds refuse the append path
        with pytest.raises(ValueError, match="not per-document"):
            artifacts.append_artifact(
                spark, sf, "jaccard_pairs_075", str(tmp_path / "nope"), batch
            )


# ---------------------------------------------------------------------------
# one memo: no other package module keeps its own
# ---------------------------------------------------------------------------


def test_only_the_artifact_module_memoizes():
    """Static guard: the corpus-artifact memo and its clear live in
    ``queries/artifacts.py`` alone. No other package module may define a
    ``clear_*`` function or bind a module-level ``*_CACHE`` name — a second
    hand-written memo would need its own fingerprint key, stale-entry
    eviction, pin release and bench charge. ``sources/parquet.py``'s
    events-schema cache is the one exception: it caches schemas, not
    artifacts."""
    import ast
    import pathlib

    import kafka_streams_rosetta_demo_spark as pkg

    allowed = {("sources/parquet.py", "_EVENTS_SCHEMA_CACHE")}
    root = pathlib.Path(pkg.__file__).parent
    sites = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        if rel == "queries/artifacts.py":
            continue
        tree = ast.parse(path.read_text())
        for node in ast.walk(tree):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                if node.name.startswith("clear_"):
                    sites.append((rel, node.name))
        for node in tree.body:
            targets = (
                node.targets if isinstance(node, ast.Assign)
                else [node.target] if isinstance(node, ast.AnnAssign)
                else []
            )
            for t in targets:
                for name in ast.walk(t):
                    if (
                        isinstance(name, ast.Name)
                        and name.id.endswith("_CACHE")
                        and (rel, name.id) not in allowed
                    ):
                        sites.append((rel, name.id))
    assert not sites, sites
