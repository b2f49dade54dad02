"""PySpark-native analytics engine with the query and data-processing
capabilities of ``cmoharold/Kafka-Streams-Rosetta-demo``.

The reference is a two-app Kafka Streams 2.6 telco demo:

1. ``CallsAggregationApp`` — 1-hour tumbling-window aggregation of call
   records per originating phone number
   (``calls_agg/.../CallsAggregationApp.java:36-88``).
2. ``CallsEnrichedApp`` — rekey + stream-table left join enriching the
   windowed aggregates with customer attributes
   (``calls_enr_customers/.../CallsEnrichedApp.java:45-68``,
   ``CallCustomerJoiner.java:15-41``).

This engine re-expresses that surface — and a much wider relational /
LLM-data-pipeline surface (dedup, similarity search, text analysis,
multimodal columns) — as idiomatic PySpark: declarative DataFrame/SQL
plans optimized by Catalyst, Structured Streaming for the streaming
semantics, Pandas UDFs only where built-ins cannot express the op.

Layout:

- :mod:`.session`    — SparkSession factory (UTC, AQE, Arrow).
- :mod:`.worker_daemon` — the session's Python worker daemon (cheap zip-import invalidation).
- :mod:`.schemas`    — StructType equivalents of the reference .avsc schemas.
- :mod:`.sources`    — parquet/Kafka source + sink adapters.
- :mod:`.functions`  — scalar helpers (date formatting, null defaults).
- :mod:`.operators`  — rekey/filter/window-agg/join + dedup/similarity/text/multimodal.
- :mod:`.plans`      — composed end-to-end pipelines (the flagship Rosetta plan).
- :mod:`.streaming`  — Structured Streaming wiring (Kafka, KTable state, watermarks).
- :mod:`.queries`    — the declared query registry with DuckDB oracle twins.
"""

__version__ = "0.1.0"
