"""Date/time scalar functions (F1/F2).

The reference formats window bounds with
``SimpleDateFormat("dd/MM/yyyy HH:mm")`` (``CallCustomerJoiner.java:32-35``)
and derives window end as start + 1 hour via ``DateUtils.addHours``
(``CallCustomerJoiner.java:37-40``). Spark's ``date_format`` uses the same
pattern language for these letters; the session is pinned to UTC
(:mod:`..session`) so rendering is deterministic.
"""

from __future__ import annotations

# SimpleDateFormat pattern, CallCustomerJoiner.java:32 — identical in Spark.
ROSETTA_TS_FORMAT = "dd/MM/yyyy HH:mm"

