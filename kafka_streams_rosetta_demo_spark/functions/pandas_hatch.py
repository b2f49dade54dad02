"""The Pandas-UDF escape hatch (SURVEY §2.7).

The reference's only user-defined code compiles away to built-in expressions
(the aggregator lambdas ``CallsAggregationApp.java:59-78`` → A3 aggregates;
the ``ValueJoiner`` ``CallCustomerJoiner.java:13-41`` → P4 projection), so
nothing *needs* Python. But the engine promises the idiomatic UDF surface
for the logic Spark's built-ins genuinely can't express — model scoring,
tokenizers, codec hooks — in its three shapes, each run by a registered
gate query:

- **scalar** (``@pandas_udf``): vectorized column → column, Arrow batches —
  ``wordstats`` here (``scalar_pandas_wordstats``).
- **grouped-agg** (``@pandas_udf`` over a grouped frame): series → scalar —
  the ``trimmed_*`` UDFs here (``agg_pandas_trimmed``).
- **grouped-map** (``applyInPandas``): whole group in, whole frame out —
  the per-group OLS fit of ``agg_grouped_ols`` (``queries/pipeline_queries.py``).

Rules of the hatch (why these UDFs look the way they do):

- UDFs are the slow path; everything expressible with
  ``pyspark.sql.functions`` stays JVM-side.
- Always Arrow-batched (``pandas_udf``/``applyInPandas``), never
  row-at-a-time ``udf()`` — 10-100x throughput difference.
- Deterministic and integer-exact: no wall clock, no RNG, no float sums,
  so results are engine-reproducible and a SQL oracle hash-matches them.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

# The UDFs are defined at module level so `pd` is a resolvable global for
# the type-hint inference (`from __future__ import annotations` stringifies
# hints; a function-local pandas import would make them unresolvable).
# returnType is a DataType object, not a DDL string: DDL parsing needs an
# active SparkSession, which must not be a precondition for importing this
# module (the driver imports the registry before building its session).

_WORDSTATS_T = T.StructType(
    [
        T.StructField("n_tokens", T.LongType()),
        T.StructField("longest_len", T.LongType()),
        T.StructField("sum_token_len", T.LongType()),
    ]
)


@pandas_udf(_WORDSTATS_T)
def wordstats(text: pd.Series) -> pd.DataFrame:
    """Struct-returning scalar Pandas UDF: integer word statistics per
    document — one Arrow exchange and one Python call per batch, and
    integer-exact so a SQL oracle hash-matches it."""
    rows = []
    for t in text:
        toks = [w for w in t.split(" ") if w]
        lens = [len(w) for w in toks]
        rows.append((len(toks), max(lens, default=0), sum(lens)))
    return pd.DataFrame(rows, columns=["n_tokens", "longest_len", "sum_token_len"])


def _trim_ends(v: pd.Series) -> pd.Series:
    """Drop the 2 lowest / 2 highest VALUES when the group has >= 5 rows
    (else keep all) — value-wise, so tie order can't change the result."""
    n = len(v)
    if n < 5:
        return v
    s = v.sort_values()
    return s.iloc[2 : n - 2]


@pandas_udf(T.LongType())
def trimmed_n_kept(v: pd.Series) -> int:
    return int(len(_trim_ends(v)))


@pandas_udf(T.LongType())
def trimmed_sum_kept(v: pd.Series) -> int:
    return int(_trim_ends(v).sum())


@pandas_udf(T.LongType())
def trimmed_mean_millis(v: pd.Series) -> int:
    t = _trim_ends(v)
    return (1000 * int(t.sum())) // int(len(t))
