"""Declared query registry — the driver-facing correctness surface.

Every implemented operator from SURVEY.md §2 (and every extension operator)
registers here as a named query: a ``(spark, sf_dir) -> DataFrame`` callable
plus, when SQL-expressible, an ANSI-SQL oracle string DuckDB runs on the same
parquet tables. ``__spark_entry__.py`` re-exports this registry verbatim.

Column-name contract: the driver compares Spark vs oracle after sorting
columns by name, so every computed column is aliased identically on both
sides.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from ..session import ensure_conf  # noqa: E402  (re-export for query modules)

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    fn: QueryFn
    oracle: str | None  # None → non-SQL-expressible; driver does rows-only check
    doc: str = ""


REGISTRY: dict[str, Query] = {}


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")

        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            # The caller (driver) owns the session; pin the one conf our
            # semantics depend on. DuckDB timestamps are UTC-naive, and the
            # reference's SimpleDateFormat rendering must not drift with the
            # host TZ (CallsCustomerJoiner renders in JVM-default TZ — a
            # portability bug we fix, not inherit). Check-then-set so a
            # correctly-configured session is never mutated mid-flight.
            ensure_conf(spark, "spark.sql.session.timeZone", "UTC")
            return fn(spark, sf_dir)

        wrapped.__doc__ = fn.__doc__
        wrapped.__name__ = fn.__name__
        REGISTRY[name] = Query(name=name, fn=wrapped, oracle=oracle, doc=fn.__doc__ or "")
        return fn

    return deco


def _staleness_order(root=None) -> list[str] | None:
    """Order registry names by correctness-evidence staleness: queries whose
    MOST RECENT gate row failed (``err`` set, or any of
    rows/schema/hash_match false) first — a failed row is a reason to
    re-check immediately, not evidence to coast on — then never-checked,
    then ascending by the round a query last earned a gate row (ties keep
    registration order, which is deterministic). Reads the committed
    ``CORRECTNESS_r*.json`` round artifacts next to ``__spark_entry__.py``;
    returns None when none exist."""
    import json
    import re
    from pathlib import Path

    root = Path(root) if root is not None else Path(__file__).resolve().parents[2]
    # name -> (round of most recent row, did that row fail)
    last: dict[str, tuple[int, bool]] = {}
    found = False
    for p in sorted(root.glob("CORRECTNESS_r*.json")):
        m = re.search(r"r(\d+)", p.name)
        if not m:
            continue
        try:
            rows = json.loads(p.read_text())
        except (OSError, ValueError):
            continue
        found = True
        rnd = int(m.group(1))
        for name, row in rows.items():
            failed = False
            if isinstance(row, dict):
                failed = bool(row.get("err")) or not (
                    row.get("rows_match", True)
                    and row.get("schema_match", True)
                    and row.get("hash_match", True)
                )
            prev = last.get(name)
            if prev is None or rnd >= prev[0]:
                last[name] = (rnd, failed)
    if not found:
        return None
    names = list(REGISTRY)
    return sorted(
        names,
        key=lambda n: (
            not last.get(n, (0, False))[1],  # most-recent-row-failed first
            last.get(n, (-1, False))[0],  # then never-checked, then oldest
            names.index(n),
        ),
    )


def load_all() -> dict[str, Query]:
    """Import every query module (side effect: registration) and return the
    registry, ordered so the driver's first-50 correctness sample covers the
    queries with the least (or stalest) prior evidence — or in registration
    order when no ``CORRECTNESS_r*.json`` history exists."""
    from . import (  # noqa: F401
        corpus_queries,
        dedup_queries,
        graph_queries,
        pipeline_queries,
        preference_queries,
        relational_queries,
        rosetta_queries,
        sketch_queries,
        streaming_queries,
        tpch_queries,
    )

    return {name: REGISTRY[name] for name in _staleness_order() or REGISTRY}


def queries() -> dict[str, QueryFn]:
    return {name: q.fn for name, q in load_all().items()}


def oracle_sql() -> dict[str, str]:
    return {name: q.oracle for name, q in load_all().items() if q.oracle is not None}
