"""Source / sink adapters (SURVEY.md §2.1).

Batch parquet loaders live in :mod:`.parquet`; the Kafka + Avro streaming
edge (S1/S3/S5) lives in :mod:`..streaming.kafka_io` and is import-gated
because no broker exists in the test environment.
"""

from .parquet import load_table, rosetta_calls, rosetta_customers

__all__ = [
    "load_table",
    "rosetta_calls",
    "rosetta_customers",
]
