"""bench.py harness pins: the children's name lists tile the basket, the
artifact cost table covers every memo kind, the parent degrades to inline
timing when no child can run, one ``--queries`` child prints one record,
and no ``tools/`` script carries a query timer of its own."""

from __future__ import annotations

import json
import os
import pathlib
import re
import subprocess
import sys

import bench

REPO = pathlib.Path(__file__).resolve().parents[1]


def test_bench_section_bounds_partition_exactly():
    """Section bounds must tile [0, n) exactly — contiguous, disjoint,
    exhaustive — for every plausible (n, sections); a dropped or repeated
    query in the merged timings would silently corrupt the bench artifact."""
    for n in (0, 1, 7, 129, 131, 200):
        for k in (1, 2, 4, 8):
            bounds = bench.section_bounds(n, k)
            assert bounds[0][0] == 0 and bounds[-1][1] == n
            for (_, hi), (lo2, _) in zip(bounds, bounds[1:]):
                assert hi == lo2


def test_bench_basket_resolves_and_sections_cover_it():
    """Every basket name resolves to a callable, the bench-only rows are
    present, and the children's name lists are the contiguous sections of
    the non-isolated basket, in order, then one list per isolated topology."""
    names = bench.resolve_basket()
    fns = bench.query_fns(names)
    assert len(names) == len(set(names))
    assert all(callable(fns[n]) for n in names)
    assert "profile_column_stats_approx_production" in names
    assert "dedup_winnowing_screen" in names
    lists = bench.child_name_lists(names)
    isolated = [n for n in names if n in bench.ISOLATED_STREAMING]
    assert lists[-len(isolated):] == [[n] for n in isolated]
    sections = lists[: -len(isolated)]
    assert len(sections) == bench.BENCH_SECTIONS
    contiguous = [n for n in names if n not in bench.ISOLATED_STREAMING]
    assert [n for s in sections for n in s] == contiguous


def test_bench_artifact_charges_cover_every_memo_kind():
    """The bench cost policy is one table, ``bench.ARTIFACT_CHARGES``: each
    charged query is in the basket, each charged kind is a memo kind, and
    each memo kind is charged to at least one query — so a new artifact
    cannot silently ride warm into its first consumer's number. The table
    reproduces the per-query clears it replaced exactly."""
    import ast

    import kafka_streams_rosetta_demo_spark as pkg

    # memo kinds = the literal first argument of every _memo(...) call
    kinds = set()
    for path in pathlib.Path(pkg.__file__).parent.rglob("*.py"):
        for node in ast.walk(ast.parse(path.read_text())):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Name)
                and node.func.id == "_memo"
            ):
                kind = node.args[0]
                assert isinstance(kind, ast.Constant), (path, node.lineno)
                kinds.add(kind.value)
    assert len(kinds) == 13, sorted(kinds)

    names = bench.resolve_basket()
    charges = bench.ARTIFACT_CHARGES
    assert set(charges) <= set(names), set(charges) - set(names)
    charged = {k for ks in charges.values() for k in ks}
    assert charged <= kinds, charged - kinds
    assert kinds <= charged, kinds - charged

    shingles = {
        "shingled_documents",
        "ordered_shingles",
        "minhash_signatures",
        "jaccard_pairs_075",
    }
    assert {q: set(ks) for q, ks in charges.items()} == {
        "dedup_minhash_lsh": shingles,
        "dedup_ngram_jaccard": shingles,
        "dedup_winnowing": {"winnowing_index"},
        "text_bpe_train": {"bpe_merges", "bpe_word_tokens", "bpe_word_token_lists"},
        "text_bpe_vocab_ids": {"bpe_word_token_lists"},
        "text_unigram_fertility": {"unigram_word_tokens"},
        "streaming_boilerplate_screen": {"boilerplate_index"},
        "streaming_ann_screen": {"ann_band_index", "ann_corpus_vectors"},
        "dedup_cluster_cc": {"cc_labels"},
    }


def test_bench_parent_falls_back_inline_when_spawn_fails(monkeypatch, tmp_path, capsys):
    """If the children cannot run (restricted environments), the parent
    must time each name list inline and still honor the one-JSON-line
    stdout contract — isolation degrades, the bench never breaks. Simulated
    by pointing bench.__file__ at a nonexistent path (every child exits
    with an error) and stubbing the child body; BENCH_LOCAL lands in tmp,
    not the repo."""
    monkeypatch.setattr(bench, "__file__", str(tmp_path / "bench.py"))
    monkeypatch.setattr(bench, "BENCH_SECTIONS", 2)
    monkeypatch.setattr(
        bench,
        "time_queries",
        lambda names: (
            {"timings": {"rosetta_enriched": 1.5}, "rep_times": {"rosetta_enriched": [1.6, 1.5, 1.4]}}
            if names[0] == "rosetta_enriched"
            else {"timings": {"dedup_exact": 0.5}, "rep_times": {"dedup_exact": [0.5, 0.5, 0.6]}}
        ),
    )
    bench.main()
    err = capsys.readouterr()
    out_lines = [l for l in err.out.strip().splitlines() if l.startswith("{")]
    # stdout's FINAL line is the slim contract line (round 14: only the
    # last ~2000 chars of stdout are captured, so the line that ends stdout
    # must fit the capture window whole). Its `queries` dict carries
    # SLIM_QUERIES ∩ timings — the union of every name ever parsed from
    # this line (r01–r04) plus the headline set, so nothing a parsed
    # artifact ever held disappears from the parsed stream; dedup_exact is
    # in that union, rosetta_enriched in the headline set.
    d = json.loads(out_lines[-1])
    assert d["queries"] == {"rosetta_enriched": 1.5, "dedup_exact": 0.5}
    assert d["value"] == 1.5  # headline sum counts only headline names
    assert d["extended_total"] == 2.0
    assert d["n_queries"] == 2
    assert d["full"] == "BENCH_LOCAL.json"
    assert len(json.dumps(d)) < 2000  # must fit the capture window
    assert "running inline" in err.err
    # the FULL artifact (every query + per-rep times) lands in BENCH_LOCAL
    full = json.loads((tmp_path / "BENCH_LOCAL.json").read_text())
    assert full["queries"] == {"rosetta_enriched": 1.5, "dedup_exact": 0.5}
    assert full["query_reps"] == {
        "rosetta_enriched": [1.6, 1.5, 1.4],
        "dedup_exact": [0.5, 0.5, 0.6],
    }
    assert full["extended_total"] == 2.0


def test_queries_child_prints_one_record_for_its_names(sf_smoke):
    """``bench.py --queries a,...`` is the one query timer (the bench's
    sections, ``tools/ab_query.py``'s legs): it times exactly the names it
    is given and prints one ``{"timings", "rep_times"}`` line on stdout."""
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR=sf_smoke,
        SPARK_GRAFT_BENCH_REPS="1",
        SPARK_GRAFT_CPUS="2",
        SPARK_GRAFT_DRIVER_MEM="1g",
    )
    out = subprocess.run(
        [sys.executable, str(REPO / "bench.py"), "--queries", "rosetta_enriched"],
        env=env,
        cwd=REPO,
        stdout=subprocess.PIPE,
        text=True,
        timeout=600,
        check=True,
    ).stdout
    records = [json.loads(l) for l in out.splitlines() if l.startswith("{")]
    assert len(records) == 1, out
    (record,) = records
    assert set(record) == {"timings", "rep_times"}
    assert list(record["timings"]) == ["rosetta_enriched"]
    assert record["timings"]["rosetta_enriched"] > 0
    assert list(record["rep_times"]) == ["rosetta_enriched"]
    assert len(record["rep_times"]["rosetta_enriched"]) == 1


def test_tools_carry_no_query_timer_of_their_own():
    """Static guard: timing a query in a fresh process is bench.py's job
    (``run_child``, ``timed_noop_run``). No ``tools/`` script writes to the
    noop sink or starts a Python child of its own — each such copy drifts
    from the bench's warm-up, rep and reaping policy."""
    noop = re.compile(r"""format\(\s*["']noop["']\s*\)""")
    offenders = [
        path.name
        for path in sorted((REPO / "tools").glob("*.py"))
        if noop.search(path.read_text()) or "sys.executable" in path.read_text()
    ]
    assert offenders == []
