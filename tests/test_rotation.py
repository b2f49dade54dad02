"""The correctness gate samples the first 50 registry entries, so iteration
order IS the evidence-rotation policy: never-driver-checked queries must lead,
then the least-recently-checked, so every query cycles back into the window
across rounds without list maintenance."""

from __future__ import annotations

import json

from kafka_streams_rosetta_demo_spark.queries import (
    REGISTRY,
    _staleness_order,
    load_all,
)


def test_staleness_order_fronts_unchecked_then_oldest(tmp_path):
    load_all()  # populate REGISTRY
    names = list(REGISTRY)
    checked_r1 = names[:5]
    checked_r2 = names[3:8]
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps({n: {} for n in checked_r1})
    )
    (tmp_path / "CORRECTNESS_r02.json").write_text(
        json.dumps({n: {} for n in checked_r2})
    )
    order = _staleness_order(root=tmp_path)
    assert set(order) == set(names)
    never = [n for n in names if n not in set(checked_r1) | set(checked_r2)]
    # never-checked first (registration order), then r1-only, then r2
    assert order[: len(never)] == never
    assert order[len(never) : len(never) + 3] == names[:3]  # r1-only rows
    assert set(order[len(never) + 3 :]) == set(checked_r2)


def test_staleness_order_none_without_history(tmp_path, monkeypatch):
    load_all()
    assert _staleness_order(root=tmp_path) is None
    # without history the registry keeps registration order
    import kafka_streams_rosetta_demo_spark.queries as registry

    monkeypatch.setattr(registry, "_staleness_order", lambda: None)
    assert list(load_all()) == list(REGISTRY)


def test_load_all_fronts_least_evidenced_queries():
    """Against the real repo history: the first 50 of load_all() must be
    exactly the 50 stalest names (never-checked queries, if any remain,
    all inside the window)."""
    reg = load_all()
    order = list(reg)
    stale = _staleness_order()
    if stale is None:  # fresh clone without round artifacts
        return
    assert order[:50] == stale[:50]
    assert len(order) == len(stale)
