"""Null-coalescing defaults (F3).

``CallCustomerJoiner.java:24-28``: when the customer side of the left join is
absent, string fields default to ``"Unknown"`` and int fields to ``0``. KS
coalesces only when the whole row is missing; per-column ``coalesce`` is
equivalent here because matched rows pass fields through untouched
(SURVEY.md F3 note).
"""

from __future__ import annotations

# (column -> default) for the CustomerAggregate enrichment fields,
# CallCustomerJoiner.java:24-28.
customer_defaults: dict[str, object] = {
    "DOC_CLIENTE": "Unknown",
    "CLIENTE_ORANGE": 0,
    "DAYS_EXCLIENTE": 0,
    "OPERADOR_ACTUAL": "Unknown",
    "RIESGO": "Unknown",
}

