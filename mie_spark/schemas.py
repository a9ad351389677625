"""Fixed, versioned schemas for the knowledge-graph relations.

Mirrors the reference's declared CozoDB relations one-to-one
(pkg/memory/schema.go:19-139): 5 node tables keyed by `id`, 7 edge
tables with composite keys, per-node-type embedding tables, and a KV
meta table. Types map String/Float/Bool/Int/<F32;dim> →
StringType/DoubleType/BooleanType/LongType/ArrayType(FloatType)
(SURVEY.md §1.5). Timestamps are Unix seconds (writer.go:47).

No schema inference anywhere — every write validates against these.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    FloatType,
    LongType,
    StringType,
    StructField,
    StructType,
)

SCHEMA_VERSION = "1"

DEFAULT_EMBEDDING_DIM = 768  # nomic default; 1536 for OpenAI (schema.go:18)


def _s(name: str) -> StructField:
    return StructField(name, StringType())


def _i(name: str) -> StructField:
    return StructField(name, LongType())


FACT = StructType(
    [
        _s("id"),
        _s("content"),
        _s("category"),
        StructField("confidence", DoubleType()),
        _s("source_agent"),
        _s("source_conversation"),
        StructField("valid", BooleanType()),
        _i("created_at"),
        _i("updated_at"),
    ]
)

DECISION = StructType(
    [
        _s("id"),
        _s("title"),
        _s("rationale"),
        _s("alternatives"),  # JSON-in-string, default "[]" (store.go:178)
        _s("context"),
        _s("source_agent"),
        _s("source_conversation"),
        _s("status"),
        _i("created_at"),
        _i("updated_at"),
    ]
)

ENTITY = StructType(
    [
        _s("id"),
        _s("name"),
        _s("kind"),
        _s("description"),
        _s("source_agent"),
        _i("created_at"),
        _i("updated_at"),
    ]
)

EVENT = StructType(
    [
        _s("id"),
        _s("title"),
        _s("description"),
        _s("event_date"),  # ISO date *string* (mcp.go:586-589)
        _s("source_agent"),
        _s("source_conversation"),
        _i("created_at"),
        _i("updated_at"),
    ]
)

TOPIC = StructType(
    [_s("id"), _s("name"), _s("description"), _i("created_at"), _i("updated_at")]
)


def embedding_schema(id_col: str) -> StructType:
    return StructType(
        [_s(id_col), StructField("embedding", ArrayType(FloatType()))]
    )


META = StructType([_s("key"), _s("value")])

# node table name → (schema, key columns)
NODE_TABLES: dict[str, StructType] = {
    "mie_fact": FACT,
    "mie_decision": DECISION,
    "mie_entity": ENTITY,
    "mie_event": EVENT,
    "mie_topic": TOPIC,
}

# edge table name → (key columns, optional value columns) — helpers.go:49-57
EDGE_TABLES: dict[str, tuple[list[str], list[str]]] = {
    "mie_invalidates": (["new_fact_id", "old_fact_id"], ["reason"]),
    "mie_decision_topic": (["decision_id", "topic_id"], []),
    "mie_decision_entity": (["decision_id", "entity_id"], ["role"]),
    "mie_event_decision": (["event_id", "decision_id"], []),
    "mie_fact_entity": (["fact_id", "entity_id"], []),
    "mie_fact_topic": (["fact_id", "topic_id"], []),
    "mie_entity_topic": (["entity_id", "topic_id"], []),
}

EMBEDDING_TABLES: dict[str, str] = {
    "mie_fact_embedding": "fact_id",
    "mie_decision_embedding": "decision_id",
    "mie_entity_embedding": "entity_id",
    "mie_event_embedding": "event_id",
}


# Auxiliary analytics-state tables (not part of the reference's graph
# schema): table -> (schema, key columns). These back engine features
# that need transactional keyed storage — e.g. the exactly-once
# streaming rollup keeps its aggregate state AND its per-batch commit
# ledger here so both land in ONE atomic_upsert_rows commit.
AUX_TABLES: dict[str, tuple[StructType, list[str]]] = {
    "mie_rollup_hourly": (
        StructType(
            [
                _s("hour"),
                _s("event_type"),
                _i("n"),
                _i("value_cents"),
            ]
        ),
        ["hour", "event_type"],
    ),
    "mie_stream_commits": (
        StructType([_s("stream_id"), _i("batch_id"), _i("committed_at")]),
        ["stream_id", "batch_id"],
    ),
}


def edge_schema(table: str) -> StructType:
    keys, vals = EDGE_TABLES[table]
    return StructType([_s(c) for c in keys + vals])


def table_schema(table: str) -> StructType:
    if table in NODE_TABLES:
        return NODE_TABLES[table]
    if table in EDGE_TABLES:
        return edge_schema(table)
    if table in EMBEDDING_TABLES:
        return embedding_schema(EMBEDDING_TABLES[table])
    if table == "mie_meta":
        return META
    if table in AUX_TABLES:
        return AUX_TABLES[table][0]
    raise KeyError(f"unknown table {table!r}")


def key_columns(table: str) -> list[str]:
    if table in NODE_TABLES:
        return ["id"]
    if table in EDGE_TABLES:
        return EDGE_TABLES[table][0]
    if table in EMBEDDING_TABLES:
        return [EMBEDDING_TABLES[table]]
    if table == "mie_meta":
        return ["key"]
    if table in AUX_TABLES:
        return AUX_TABLES[table][1]
    raise KeyError(f"unknown table {table!r}")


ALL_TABLES: list[str] = (
    list(NODE_TABLES) + list(EDGE_TABLES) + list(EMBEDDING_TABLES) + ["mie_meta"]
)
# AUX_TABLES are deliberately NOT in ALL_TABLES: reset/backup/export
# operate on the reference-parity graph schema; analytics state is
# owned by the feature that writes it.
