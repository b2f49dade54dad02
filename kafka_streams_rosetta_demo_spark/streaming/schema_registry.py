"""Confluent Schema Registry client (public REST contract), gated offline.

The reference registers and resolves schemas over HTTP at startup: every
serde is configured with ``schema.registry.url``
(``CallsAggregationApp.java:31,101``, ``CallsEnrichedApp.java:40``), the
Confluent serializer registers the writer schema under the subject
``<topic>-value`` (TopicNameStrategy, the Confluent default) and stamps the
returned id into the 5-byte wire header every record carries. This module
implements exactly that public contract — nothing more:

- ``POST /subjects/{subject}/versions``  → ``{"id": N}`` (register; the
  registry dedups, so re-registering an identical schema returns the same id)
- ``GET  /schemas/ids/{id}``             → ``{"schema": "..."}``
- ``GET  /subjects/{subject}/versions/latest`` → ``{"id", "version", "schema"}``

Design constraints, same as ``admin.py``'s gated AdminClient:

- stdlib HTTP only (``urllib``) — no client library to install, and the
  sandbox has no live registry, so everything is unit-tested against a stub
  ``http.server`` speaking the same contract (``tests/test_schema_registry.py``).
- The id→schema cache is the serde hot path's contract: consumers resolve
  each distinct wire-header id ONCE per process, then decode millions of
  records against the cached schema (the Confluent consumer does the same).
  Registration is a driver-side, once-per-query action — never per record,
  never on executors.
- Offline is a first-class state, not an error: ``KafkaTopicSpec`` ships a
  static ``schema_id`` for brokerless runs, and ``resolve_spec_schema_id``
  falls back to it when no registry answers — the engine's queries must not
  change behavior because a sidecar service is absent.
"""

from __future__ import annotations

import json
import urllib.error
import urllib.request
from dataclasses import dataclass, field


class SchemaRegistryError(RuntimeError):
    """Registry answered with an error body (HTTP 4xx/5xx + JSON message)."""


class SchemaRegistryUnavailable(SchemaRegistryError):
    """No registry answered at all (connection refused / timeout / DNS)."""


# Confluent wire format facts (public): 1 magic byte 0x00 + 4-byte big-endian
# schema id prefix every framed record. KafkaTopicSpec owns the framing; the
# registry owns the id space. Keeping the constants here documents the split.
WIRE_MAGIC = b"\x00"
WIRE_HEADER_LEN = 5


def topic_value_subject(topic: str) -> str:
    """TopicNameStrategy, the Confluent default the reference runs under:
    the value schema of topic T registers under subject ``T-value``."""
    return f"{topic}-value"


@dataclass
class SchemaRegistryClient:
    """Minimal Confluent-REST client with an id→schema cache.

    ``base_url`` is the reference's ``schema.registry.url`` config value
    (``CallsAggregationApp.java:31``). All methods raise
    :class:`SchemaRegistryUnavailable` when nothing answers — callers that
    can run offline catch it (see :func:`resolve_spec_schema_id`).
    """

    base_url: str
    timeout: float = 5.0
    # id → schema JSON string. Bounded by the number of DISTINCT schema ids
    # a process ever sees (one per subject version in play), not by record
    # count — the same bounded-model-state rule as the engine's broadcast
    # dimension tables.
    _id_cache: dict[int, str] = field(default_factory=dict)
    # (subject, canonical schema) → id, so re-registration is also one call
    _reg_cache: dict[tuple[str, str], int] = field(default_factory=dict)

    # -- transport ----------------------------------------------------------

    def _request(self, method: str, path: str, body: dict | None = None) -> dict:
        url = self.base_url.rstrip("/") + path
        data = None
        headers = {"Accept": "application/vnd.schemaregistry.v1+json"}
        if body is not None:
            data = json.dumps(body).encode("utf-8")
            headers["Content-Type"] = "application/vnd.schemaregistry.v1+json"
        req = urllib.request.Request(url, data=data, headers=headers, method=method)
        try:
            with urllib.request.urlopen(req, timeout=self.timeout) as resp:
                return json.loads(resp.read().decode("utf-8"))
        except urllib.error.HTTPError as e:
            # registry error bodies are JSON {"error_code": N, "message": s}
            try:
                detail = json.loads(e.read().decode("utf-8"))
            except Exception:
                detail = {"message": str(e)}
            raise SchemaRegistryError(
                f"{method} {path} -> HTTP {e.code}: {detail.get('message', detail)}"
            ) from e
        except (urllib.error.URLError, OSError, TimeoutError) as e:
            raise SchemaRegistryUnavailable(
                f"schema registry at {self.base_url} unreachable: {e}"
            ) from e

    # -- public contract ------------------------------------------------------

    def register(self, subject: str, schema_json: str, schema_type: str = "AVRO") -> int:
        """``POST /subjects/{subject}/versions`` → schema id. Idempotent on
        the registry side (identical schema → same id); cached client-side so
        a topology that serializes N streams registers each subject once."""
        key = (subject, _canonical(schema_json))
        if key in self._reg_cache:
            return self._reg_cache[key]
        body: dict = {"schema": schema_json}
        if schema_type != "AVRO":  # AVRO is the protocol default; omit like clients do
            body["schemaType"] = schema_type
        out = self._request("POST", f"/subjects/{subject}/versions", body)
        sid = int(out["id"])
        self._reg_cache[key] = sid
        self._id_cache.setdefault(sid, schema_json)
        return sid

    def get_schema(self, schema_id: int) -> str:
        """``GET /schemas/ids/{id}`` → schema JSON string, cached. This is
        the consumer hot path: one HTTP round-trip per DISTINCT wire id,
        then pure cache hits."""
        if schema_id in self._id_cache:
            return self._id_cache[schema_id]
        out = self._request("GET", f"/schemas/ids/{schema_id}")
        schema = out["schema"]
        self._id_cache[schema_id] = schema
        return schema

    def latest_version(self, subject: str) -> dict:
        """``GET /subjects/{subject}/versions/latest`` → the full version
        record (``subject``, ``id``, ``version``, ``schema``)."""
        out = self._request("GET", f"/subjects/{subject}/versions/latest")
        self._id_cache[int(out["id"])] = out["schema"]
        return out


def _canonical(schema_json: str) -> str:
    """Whitespace/key-order-insensitive cache key for a JSON schema string.
    (Not Avro canonical form — good enough for the client-side dedup cache;
    the registry itself owns true schema identity.)"""
    try:
        return json.dumps(json.loads(schema_json), sort_keys=True, separators=(",", ":"))
    except ValueError:
        return schema_json


def resolve_spec_schema_id(
    spec, client: SchemaRegistryClient | None, strict: bool = False
):
    """Producer-side startup step, reference shape: register the topic's
    value schema under ``<topic>-value`` and return a spec whose wire
    header carries the REGISTRY-ASSIGNED id (what ``SpecificAvroSerde``
    does on first serialize, ``CallsAggregationApp.java:33,101``).

    Offline fallback is explicit and silent-by-design: with no client, or a
    client whose registry is unreachable, the spec's static ``schema_id``
    stands — brokerless runs (this sandbox, CI) must produce byte-identical
    frames run over run, and a flaky sidecar must not fail a batch job that
    never needed it. A genuine registry ERROR (it answered; it refused)
    still raises — that's a schema-compatibility problem, not an
    availability one.

    ``strict=True`` disables the fallback: when the caller KNOWS a registry
    was configured (e.g. the live smoke with ``SCHEMA_REGISTRY_URL`` set),
    an unreachable registry must surface as a failure — records framed with
    static ids the registry never assigned would resolve to the wrong (or
    no) schema for every downstream Confluent consumer.
    """
    if client is None:
        return spec
    from dataclasses import replace

    try:
        sid = client.register(topic_value_subject(spec.topic), spec._schema_json())
    except SchemaRegistryUnavailable:
        if strict:
            raise
        return spec
    return replace(spec, schema_id=sid)


def schema_for_wire_value(value: bytes, client: SchemaRegistryClient) -> str:
    """Consumer-side resolution, reference shape: strip the Confluent header
    from one on-wire value and fetch (cached) the writer schema its id names.
    A malformed header raises ``ValueError`` — the S5 deser-error condition."""
    if len(value) < WIRE_HEADER_LEN or value[:1] != WIRE_MAGIC:
        raise ValueError("not a Confluent-framed value (bad magic/short header)")
    sid = int.from_bytes(value[1:WIRE_HEADER_LEN], "big")
    return client.get_schema(sid)
