"""The corpus-artifact memo (``queries/artifacts.py``): one fingerprint-keyed
memo for every corpus-derived artifact, one DISK_ONLY pin dict, one
``clear_artifacts``.

Pinned here: a warm lookup returns the identical object; a corpus rewritten
in place misses the memo and releases the stale entry's DISK_ONLY pins at
insert; a clear releases pins, and clearing one kind leaves the others
warm; the budget pin degrades to disk under a tiny storage budget; the
non-local fingerprint warns once; no other package module keeps its own
memo; and no package code outlives every production caller.
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


def test_artifact_budget_size_parser(spark):
    """The budget override is a byte string read by Spark's own rules
    (``JavaUtils.byteStringAsBytes``): binary units, a bare number is
    bytes."""
    for raw, want in [
        ("256m", 256 << 20),
        ("2g", 2 << 30),
        ("1536K", 1536 << 10),
        ("12345", 12345),
        ("1gb", 1 << 30),
    ]:
        spark.conf.set(artifacts._BUDGET_CONF, raw)
        try:
            assert artifacts._storage_budget(spark) == want, raw
        finally:
            spark.conf.unset(artifacts._BUDGET_CONF)


def test_cluster_budget_reads_bare_executor_memory_as_mib(spark):
    """On a cluster the budget is 30% of ``spark.executor.memory``, which
    Spark reads as MiB when the value is a bare number
    (``JavaUtils.byteStringAsMb``): ``4096`` is 4 GiB. Read as bytes, it
    made a 1,228-byte budget that sent every artifact to DISK_ONLY."""
    from types import SimpleNamespace

    for exec_mem in ("4096", "4g", "4096m"):
        confs = {"spark.master": "spark://head:7077", "spark.executor.memory": exec_mem}
        cluster = SimpleNamespace(
            conf=SimpleNamespace(get=lambda k, d=None: confs.get(k, d)),
            sparkContext=spark.sparkContext,
        )
        assert artifacts._storage_budget(cluster) == int((4 << 30) * 0.3), exec_mem


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


# ---------------------------------------------------------------------------
# reachability: no package code outlives every production caller
# ---------------------------------------------------------------------------

# Top-level package names that no production root reaches but that stay, as
# (module under the package, name), grouped by the test that compares the
# production path against them.
_REFERENCE_ONLY = {
    # higher-order-function twins of the Arrow vector kernels
    # (tests/test_veckernels.py)
    ("operators.vectors", "hyperplane_band_keys_hof"),
    ("operators.vectors", "ivf_assign_hof"),
    ("queries.pipeline_queries", "_pq_recon_frame_hof"),
    # pure-Python twins of the multimodal decode kernels
    # (tests/test_multimodal.py, tests/test_properties.py)
    ("operators.multimodal", "expected_resize"),
    ("operators.multimodal", "expected_resample"),
    ("operators.multimodal", "expected_features"),
    ("operators.multimodal", "expected_frames"),
    # PPJoin references (tests/test_dedup.py): the prefix-length formula, and
    # the cross-set join dedup_incremental_screen's pair slice must equal
    ("operators.textsim", "prefix_length"),
    ("operators.textsim", "prefix_filter_pairs_cross"),
    # the record-at-a-time Avro codec, pinned byte-for-byte against the
    # JVM's AvroFileFormat (tests/test_avro_codec.py)
    ("streaming.avro_codec", "encode_record"),
    ("streaming.avro_codec", "decode_record"),
    ("streaming.avro_codec", "read_ocf"),
    ("streaming.avro_codec", "write_ocf"),
    # the runner entry point that takes the caller's checkpoint: restart and
    # redelivery tests stop and resume a topology on a checkpoint they own
    ("streaming.runner", "run_append_query_to_df"),
    # the JVM-side table I/O whose Avro container files read_ocf is checked
    # against (tests/test_formats.py)
    ("sources.formats", "read_table"),
    ("sources.formats", "write_table"),
    # the reference's .avsc records, field for field: the golden and codec
    # tests (tests/test_rosetta_golden.py, tests/test_avro_codec.py,
    # tests/test_streaming.py) check the engine's output schemas against them
    ("schemas", "CALL_AGGREGATE"),
    ("schemas", "CALL_AGGREGATE_CUST"),
    ("schemas", "CUSTOMER_AGGREGATE"),
}


def _unreached_package_defs(repo) -> list[str]:
    """Top-level package ``def``/``class`` names and module-level constants
    (assigned names, dunders aside) that no production root reaches, by a
    static walk of the AST (no import, no Spark).

    Roots: every ``@register``ed query, the package's module-level
    statements, ``bench.py``, ``__spark_entry__.py``, ``tools/*.py``, the
    non-test ``perfbench/*.py`` and ``_REFERENCE_ONLY``. A reached def
    reaches every top-level def its body names: a ``Name`` resolves in its
    own module or through an import alias (re-exports followed), an
    ``Attribute`` on a package module resolves there, any other
    ``Attribute`` reaches every top-level def of that name, and a
    ``("package.module", "name")`` string pair is ``bench.BENCH_ONLY``'s
    dynamic import. Import statements, docstrings and comments are not
    uses, so an ``__init__`` re-export keeps nothing alive."""
    import ast

    pkg = "kafka_streams_rosetta_demo_spark"
    trees, is_init = {}, {}
    for path in sorted((repo / pkg).rglob("*.py")):
        parts = path.relative_to(repo).with_suffix("").parts
        mod = ".".join(parts[:-1] if parts[-1] == "__init__" else parts)
        trees[mod] = ast.parse(path.read_text())
        is_init[mod] = parts[-1] == "__init__"
    roots = [repo / "bench.py", repo / "__spark_entry__.py"]
    roots += sorted((repo / "tools").glob("*.py"))
    roots += sorted(p for p in (repo / "perfbench").glob("*.py") if not p.name.startswith("test_"))
    root_trees = {p.relative_to(repo).as_posix(): ast.parse(p.read_text()) for p in roots}

    defs: dict[tuple, list] = {}
    for mod, tree in trees.items():
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs.setdefault((mod, node.name), []).append(node)
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                for t in targets:
                    for n in ast.walk(t):
                        if isinstance(n, ast.Name):
                            defs.setdefault((mod, n.id), []).append(node)
    by_name: dict[str, set] = {}
    for key in defs:
        by_name.setdefault(key[1], set()).add(key)

    # alias -> import targets, collected over the whole module (function-local
    # imports included): ("mod", dotted) or ("name", dotted module, name)
    aliases: dict[str, dict[str, set]] = {}
    for mod, tree in [*trees.items(), *root_trees.items()]:
        table = aliases.setdefault(mod, {})
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                for a in node.names:
                    name = a.name if a.asname else a.name.split(".")[0]
                    table.setdefault(a.asname or name, set()).add(("mod", name))
            elif isinstance(node, ast.ImportFrom):
                base = node.module or ""
                if node.level:
                    here = mod.split(".")[: None if is_init.get(mod) else -1]
                    here = here[: len(here) - node.level + 1]
                    base = ".".join(here + ([node.module] if node.module else []))
                for a in node.names:
                    table.setdefault(a.asname or a.name, set()).add(("name", base, a.name))

    def resolve(mod, name, seen=frozenset()):
        """What ``name`` in ``mod`` denotes: {("mod", m)} or {("def", key)}."""
        if f"{mod}.{name}" in trees:
            return {("mod", f"{mod}.{name}")}
        if (mod, name) in defs:
            return {("def", (mod, name))}
        out = set()
        for t in aliases.get(mod, {}).get(name, ()):
            if t[0] == "mod":
                out.add(t)
            elif (t[1], t[2]) not in seen:
                out |= resolve(t[1], t[2], seen | {(mod, name)})
        return out

    def modules_of(mod, expr) -> set:
        if isinstance(expr, ast.Name):
            return {m for kind, m in resolve(mod, expr.id) if kind == "mod"}
        if isinstance(expr, ast.Attribute):
            return {
                f"{m}.{expr.attr}"
                for m in modules_of(mod, expr.value)
                if f"{m}.{expr.attr}" in trees
            }
        return set()

    def uses(mod, tree) -> set:
        out = set()
        for sub in ast.walk(tree):
            if isinstance(sub, ast.Name):
                out |= {k for kind, k in resolve(mod, sub.id) if kind == "def"}
            elif isinstance(sub, ast.Attribute):
                bases = modules_of(mod, sub.value)
                if not bases:
                    out |= by_name.get(sub.attr, set())
                for m in bases:
                    out |= {k for kind, k in resolve(m, sub.attr) if kind == "def"}
            elif isinstance(sub, ast.Tuple) and len(sub.elts) == 2:
                m, name = (getattr(e, "value", None) for e in sub.elts)
                if m in trees and isinstance(name, str):
                    out |= {k for kind, k in resolve(m, name) if kind == "def"}
        return out

    todo = [(f"{pkg}.{m}", n) for m, n in _REFERENCE_ONLY]
    assert set(todo) <= defs.keys(), set(todo) - defs.keys()
    for mod, tree in root_trees.items():
        todo += uses(mod, tree)
    for mod, tree in trees.items():
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                if any(
                    isinstance(d, ast.Call) and getattr(d.func, "id", None) == "register"
                    for d in node.decorator_list
                ):
                    todo.append((mod, node.name))
            elif not isinstance(
                node, (ast.ClassDef, ast.Assign, ast.AnnAssign, ast.Import, ast.ImportFrom, ast.Expr)
            ) or (isinstance(node, ast.Expr) and not isinstance(node.value, ast.Constant)):
                todo += uses(mod, node)
    reached = set()
    while todo:
        key = todo.pop()
        if key not in reached:
            reached.add(key)
            for node in defs[key]:
                todo += uses(key[0], node)
    return sorted(
        f"{mod}.{name}"
        for (mod, name), nodes in defs.items()
        if (mod, name) not in reached and not (name.startswith("__") and name.endswith("__"))
    )


def test_every_package_def_has_a_production_caller():
    """Static guard: every top-level package function, class and constant
    is reached from a registered query, the bench, the driver entry, a tool
    or perfbench — or is a reference implementation on ``_REFERENCE_ONLY``.
    Code only tests call is deleted, not kept: state is rebuilt from
    lineage on demand, so a path no production run takes is untested
    surface, not a feature."""
    import pathlib

    import kafka_streams_rosetta_demo_spark as pkg

    unreached = _unreached_package_defs(pathlib.Path(pkg.__file__).parents[1])
    assert not unreached, unreached
