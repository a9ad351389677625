"""The driver-side read path of MieClient against its Spark twin.

``MieStore.table_arrow`` reads a table's current snapshot on the driver
with pyarrow, and the agent tools' reads (semantic, exact, graph and
list queries, point lookups, conflict probes, stats) run on it with no
Spark job. These tests pin it to the Spark side: ``table_arrow`` to
``table().collect()`` on every table, and each client read to the Spark
plan it replaced, kept here as its oracle (``_spark_*``). Similarities
must match bit for bit and orders exactly.
"""

from __future__ import annotations

import os

import numpy as np
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from mie_spark import schemas as S
from mie_spark.api import MieClient, tools
from mie_spark.embedding import MockEmbeddingProvider
from mie_spark.functions.vectors import cosine_sim
from mie_spark.storage import MieStore, _arrow_schema

# -- table_arrow == table().collect() ------------------------------------------


def _value(field: StructField, i: int):  # noqa: ANN202
    t = field.dataType
    if isinstance(t, LongType):
        return None if i % 5 == 4 else i * 7 - 10
    if isinstance(t, DoubleType):
        return i / 4 - 1  # exact in float32 too
    if isinstance(t, BooleanType):
        return None if i % 5 == 3 else i % 2 == 0
    if isinstance(t, ArrayType):
        return None if i % 5 == 2 else [float(i), 0.5, -1.25][: 1 + i % 3]
    return f"{field.name}-{i}-é" if i % 5 != 1 else None


def _rows(table: str, n: int) -> list[dict]:
    keys = S.key_columns(table)
    rows = []
    for i in range(n):
        row = {f.name: _value(f, i) for f in S.table_schema(table)}
        for k in keys:  # keys are never NULL and always unique
            row[k] = f"{k}:{i:03d}"
        rows.append(row)
    return rows


def _narrow(table: str) -> StructType:
    """The table's schema as an older build wrote it: its last value
    column not yet added, long stored as int and double as float."""
    schema = S.table_schema(table)
    values = [f.name for f in schema if f.name not in S.key_columns(table)]
    narrow = {LongType(): IntegerType(), DoubleType(): FloatType()}
    return StructType(
        [
            StructField(f.name, narrow.get(f.dataType, f.dataType))
            for f in schema
            if not values or f.name != values[-1]
        ]
    )


def _write_snapshot(spark, store, table: str, rows, bucketed: bool) -> None:  # noqa: ANN001
    """Write ``rows`` under the narrow schema as the table's next
    snapshot, flat (pre-bucketing) or partitioned by ``bkt``."""
    schema = _narrow(table)
    df = spark.createDataFrame(
        [tuple(r[f.name] for f in schema) for r in rows], schema
    )
    snap, version = store._next_snapshot(table)
    if bucketed:
        df.withColumn("bkt", store._bkt(table)).write.partitionBy("bkt").parquet(snap)
    else:
        df.coalesce(2).write.parquet(snap)
    with open(os.path.join(store.path, table, "_CURRENT"), "w") as fh:
        fh.write(version)


def _assert_same_table(store: MieStore, table: str) -> None:
    got = store.table_arrow(table)
    assert got.schema == _arrow_schema(table)
    want = [r.asDict() for r in store.table(table).collect()]
    assert sorted(got.to_pylist(), key=repr) == sorted(want, key=repr), table


@pytest.mark.parametrize("table", S.ALL_TABLES)
def test_table_arrow_matches_table(spark, tmp_path, table):
    """Empty; a flat pre-bucketing snapshot under an older schema (a
    missing column, int and float where the table now has long and
    double); a bucketed one under that schema; and the same after a
    row merge, whose untouched buckets keep the older files."""
    store = MieStore(spark, path=str(tmp_path / "empty"), merge_buckets=4)
    if table != "mie_meta":  # the store writes its schema version
        assert store.table_arrow(table).num_rows == 0
    _assert_same_table(store, table)

    rows = _rows(table, 12)
    for bucketed in (False, True):
        store = MieStore(spark, path=str(tmp_path / f"b{bucketed}"), merge_buckets=4)
        _write_snapshot(spark, store, table, rows, bucketed)
        _assert_same_table(store, table)
    store.upsert_rows(table, _rows(table, 14)[11:])
    assert store._is_bucketed(store._snapshot_dir(table))
    _assert_same_table(store, table)


# -- the Spark plans the driver reads replaced (oracles) -----------------------


def _spark_ranking(client, qvec, nodes: dict[str, DataFrame]) -> DataFrame:  # noqa: ANN001
    q = F.array(*[F.lit(float(x)) for x in qvec])
    merged = None
    for table, df in nodes.items():
        emb_table, id_col = {
            "mie_fact": ("mie_fact_embedding", "fact_id"),
            "mie_decision": ("mie_decision_embedding", "decision_id"),
            "mie_entity": ("mie_entity_embedding", "entity_id"),
            "mie_event": ("mie_event_embedding", "event_id"),
        }[table]
        emb = client.store.table(emb_table)
        part = emb.join(df, emb[id_col] == df["id"]).select(
            F.col("id").alias("node_id"),
            F.lit(table).alias("node_type"),
            cosine_sim(F.col("embedding"), q).alias("similarity"),
        )
        merged = part if merged is None else merged.unionByName(part)
    # NULL and NaN similarities (no usable vector) are what the driver
    # ranking leaves out; the old plan ranked them too, then raised
    sim = F.col("similarity")
    return merged.filter(sim.isNotNull() & ~F.isnan(sim))


def _spark_semantic(client, query, node_types=None, limit=10, valid_only=True):  # noqa: ANN001
    nodes = {}
    for table in client._tables_for(node_types):
        if table == "mie_topic":
            continue
        df = client.store.table(table)
        nodes[table] = df.filter(F.col("valid")) if table == "mie_fact" and valid_only else df
    if not nodes:
        return []
    top = (
        _spark_ranking(client, client.embedder.embed_query(query), nodes)
        .orderBy(F.col("similarity").desc(), F.col("node_id"))
        .limit(limit)
        .collect()
    )
    return [(r["node_id"], r["node_type"], r["similarity"]) for r in top]


def _spark_conflicts(client, content, category=None, threshold=0.85, k=10):  # noqa: ANN001
    facts = client.store.table("mie_fact").filter(F.col("valid"))
    if category:
        facts = facts.filter(F.col("category") == category)
    ranked = _spark_ranking(client, client.embedder.embed_query(content), {"mie_fact": facts})
    content_of = facts.select(F.col("id").alias("node_id"), "content", "category")
    rows = (
        ranked.filter(F.col("similarity") >= threshold)
        .join(content_of, "node_id")
        .orderBy(F.col("similarity").desc(), F.col("node_id"))
        .limit(k)
        .collect()
    )
    return [
        {
            "fact_id": r["node_id"],
            "content": r["content"],
            "category": r["category"],
            "similarity": r["similarity"],
        }
        for r in rows
    ]


def _spark_exact(client, query, node_types=None, limit=50, valid_only=True):  # noqa: ANN001
    from mie_spark.api.client import _SEARCH_COLS

    out = []
    for table in client._tables_for(node_types):
        cols = _SEARCH_COLS[table]
        cond = F.col(cols[0]).contains(query)
        for col in cols[1:]:
            cond = cond | F.col(col).contains(query)
        if table == "mie_fact" and valid_only:
            cond = cond & F.col("valid")
        hits = (
            client.store.table(table)
            .filter(cond)
            .orderBy(F.col("created_at").desc(), F.col("id"))
            .limit(limit)
            .collect()
        )
        out.extend({**r.asDict(), "node_type": table} for r in hits)
    return out[:limit]


def _spark_list(client, node_type, category=None, kind=None, status=None,  # noqa: ANN001
                valid_only=False, limit=100, offset=0):
    table = client._resolve_type(node_type)
    df = client.store.table(table)
    if category and table == "mie_fact":
        df = df.filter(F.col("category") == category)
    if kind and table == "mie_entity":
        df = df.filter(F.col("kind") == kind)
    if status and table == "mie_decision":
        df = df.filter(F.col("status") == status)
    if valid_only and table == "mie_fact":
        df = df.filter(F.col("valid"))
    rows = (
        df.orderBy(F.col("created_at").desc(), F.col("id"))
        .offset(offset)
        .limit(max(1, min(limit, 100)))
        .collect()
    )
    return [r.asDict() for r in rows], df.count()


def _spark_first(df: DataFrame, cond) -> dict | None:  # noqa: ANN001
    rows = df.filter(cond).orderBy("id").limit(1).collect()
    return rows[0].asDict() if rows else None


def _spark_traverse(client, edge_table, filter_col, node_table, join_col,  # noqa: ANN001
                    node_id, extra_cols=()):
    edges = client.store.table(edge_table).filter(F.col(filter_col) == F.lit(node_id))
    nodes = client.store.table(node_table)
    joined = F.broadcast(edges).join(nodes, edges[join_col] == nodes["id"])
    cols = [nodes[c.name] for c in S.NODE_TABLES[node_table]]
    cols += [edges[c] for c in extra_cols]
    return sorted((r.asDict() for r in joined.select(*cols).collect()), key=lambda r: r["id"])


def _spark_chain(client, fact_id):  # noqa: ANN001
    edges = client.store.table("mie_invalidates").filter(
        (F.col("new_fact_id") == fact_id) | (F.col("old_fact_id") == fact_id)
    )
    facts = client.store.table("mie_fact")
    old_f, new_f = facts.alias("old_f"), facts.alias("new_f")
    joined = (
        edges.join(old_f, edges["old_fact_id"] == F.col("old_f.id"))
        .join(new_f, edges["new_fact_id"] == F.col("new_f.id"))
        .select(
            edges["new_fact_id"],
            edges["old_fact_id"],
            edges["reason"],
            F.col("old_f.content").alias("old_content"),
            F.col("new_f.content").alias("new_content"),
        )
    )
    return sorted(
        (r.asDict() for r in joined.collect()),
        key=lambda r: (r["new_fact_id"], r["old_fact_id"]),
    )


# -- semantic ranking: bit-identical to the Spark plan -------------------------


class _FixedQuery(MockEmbeddingProvider):
    """The mock embedder, except that ``embed_query`` returns a set
    vector: the tests choose stored and query vectors directly."""

    def __init__(self, dim: int, query: list[float]):
        super().__init__(dim)
        self.query = query

    def embed_query(self, text: str) -> list[float]:
        return self.query


def _f32(k: int) -> float:
    return float(np.float32(k / 7))  # a float32 with a full mantissa


DIM = 12  # above numpy's 8-way unrolled sum, so a pairwise fold would show
SHARED = [0.5, -0.25, 1.0, 2.0] * (DIM // 4)
ORTHO = [-0.0, 1.0] * (DIM // 2)
# a vector and query whose cosine differs between the left-to-right
# fold and numpy's pairwise sum
FOLD_V = [_f32(k) for k in [-154, -29, 437, 778, -854, 867, 62, -285, 345, 142, -491, -356]]
FOLD_Q = [_f32(k) for k in [438, 188, 8, -324, 520, -217, -344, 779, -472, -546, 427, 246]]
_float = st.one_of(
    st.integers(-999, 999).map(_f32), st.floats(-4, 4, width=32, allow_nan=False)
)
_vector = st.one_of(
    st.lists(_float, min_size=DIM, max_size=DIM),
    st.sampled_from(
        [
            [0.0] * DIM,  # zero norm: no similarity
            [1.0] * (DIM + 1),  # wider than the query
            [1.0] * (DIM - 1),  # narrower than the query
            [1.0, None] + [1.0] * (DIM - 2),  # a NULL element
            None,  # a NULL vector
            SHARED,  # a shared vector: ties
            [-0.0, 0.0] * (DIM // 2),
            [1.0, -0.0] * (DIM // 2),  # dot with ORTHO is a sum of -0.0
            FOLD_V,
        ]
    ),
)


def _fact_rows(vectors: list, valid: list, categories: list) -> dict[str, list[dict]]:
    facts, emb = [], []
    for i, (v, ok, cat) in enumerate(zip(vectors, valid, categories)):
        fid = f"fact:{(i * 7919) % 1000:04d}"  # id order differs from write order
        facts.append({"id": fid, "content": f"c{i}", "category": cat, "valid": ok,
                      "created_at": i})
        emb.append({"fact_id": fid, "embedding": v})
    facts.append({"id": "fact:9999", "content": "no vector", "category": "general",
                  "valid": True, "created_at": 0})
    return {"mie_fact": facts, "mie_fact_embedding": emb}


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    data=st.lists(
        st.tuples(_vector, st.sampled_from([True, False, None]),
                  st.sampled_from(["general", "technical"])),
        min_size=1, max_size=12,
    ),
    query=st.one_of(st.lists(_float, min_size=DIM, max_size=DIM),
                    st.sampled_from([SHARED, ORTHO, FOLD_Q])),
    limit=st.integers(1, 14),
    threshold=st.sampled_from([-1.0, 0.0, 0.5, 0.99]),
)
@example(data=[(FOLD_V, True, "general"), (SHARED, True, "technical")],
         query=FOLD_Q, limit=2, threshold=-1.0)
def test_semantic_ranking_matches_spark(spark, data, query, limit, threshold):
    vectors, valid, categories = map(list, zip(*data))
    client = MieClient(spark, embedder=_FixedQuery(DIM, query), embedding_dim=DIM)
    client.store.atomic_upsert_rows(_fact_rows(vectors, valid, categories))
    for valid_only in (True, False):
        got = [
            (h["id"], h["node_type"], h["similarity"])
            for h in client.semantic_search("q", ["fact"], limit, valid_only)
        ]
        want = _spark_semantic(client, "q", ["fact"], limit, valid_only)
        assert [(i, t, s.hex()) for i, t, s in got] == [
            (i, t, s.hex()) for i, t, s in want
        ]
    for category in (None, "technical"):
        got = client.check_conflicts_for_content("q", category, threshold, limit)
        want = _spark_conflicts(client, "q", category, threshold, limit)
        assert got == want
        assert [g["similarity"].hex() for g in got] == [w["similarity"].hex() for w in want]


def test_semantic_search_skips_vectors_of_another_width(spark, tmp_path):
    """A store written with one embedding width and searched with
    another: the rows whose vector length differs from the query's are
    left out (their Spark similarity is NULL), not a TypeError."""
    path = str(tmp_path / "widths")
    MieClient(spark, path=path, embedding_dim=4).store_fact("alpha beta", "general")
    wide = MieClient(spark, path=path, embedding_dim=8)
    fid = wide.store_fact("gamma delta", "general")
    hits = wide.semantic_search("gamma delta", limit=5)
    assert [h["id"] for h in hits] == [fid]
    assert hits[0]["similarity"] > 0.999


def test_semantic_search_over_every_embedded_type(spark):
    client = MieClient(spark, embedding_dim=8)
    client.store_fact("shared words here", "general")
    client.store_decision("shared words", "here")
    client.store_entity("shared", "other", "words here")
    client.store_event("shared words", "here")
    client.store_topic("shared words here")
    for types in (None, ["fact", "entity"], ["topic"]):
        got = [(h["id"], h["node_type"], h["similarity"])
               for h in client.semantic_search("shared words here", types, 10)]
        assert got == _spark_semantic(client, "shared words here", types, 10)
    assert client.semantic_search("x", ["topic"]) == []


# -- exact search, lookups, listing --------------------------------------------


@pytest.fixture()
def graph(spark):
    """A small store with every node type, NULL text and timestamps,
    non-ASCII text and every edge the traversals follow."""
    client = MieClient(spark, embedding_dim=4)
    store = client.store
    facts = [
        {"id": "fact:a", "content": "Straße café", "category": "general",
         "valid": True, "created_at": 5},
        {"id": "fact:b", "content": None, "category": "technical",
         "valid": True, "created_at": 5},
        {"id": "fact:c", "content": "plain café text", "category": "technical",
         "valid": False, "created_at": None},
        {"id": "fact:d", "content": "ΟΔΟΣ and İstanbul", "category": None,
         "valid": None, "created_at": 9},
        {"id": "fact:e", "content": "plain text", "category": "technical",
         "valid": True, "created_at": None},
        {"id": None, "content": "plain café, no id", "category": "technical",
         "valid": True, "created_at": 5},
    ]
    entities = [
        {"id": "ent:1", "name": "Straße", "kind": "place", "description": None,
         "created_at": 3},
        {"id": "ent:2", "name": "ΟΔΟΣ", "kind": "place", "description": "a road",
         "created_at": None},
        {"id": "ent:3", "name": "İstanbul", "kind": "place", "description": "",
         "created_at": 3},
        {"id": "ent:4", "name": None, "kind": "other", "description": "café",
         "created_at": 1},
        {"id": "ent:5", "name": "straße", "kind": "other", "description": "x",
         "created_at": 2},
    ]
    decisions = [
        {"id": "dec:1", "title": "Use café", "rationale": None, "status": "active",
         "created_at": 1},
        {"id": "dec:2", "title": None, "rationale": "plain", "status": "superseded",
         "created_at": 2},
        {"id": "dec:3", "title": "Use café too", "rationale": "r", "status": "active",
         "created_at": 2},
    ]
    store.atomic_upsert_rows(
        {
            "mie_fact": facts,
            "mie_entity": entities,
            "mie_decision": decisions,
            "mie_event": [{"id": "evt:1", "title": "café opening",
                           "description": None, "created_at": 4}],
            "mie_topic": [{"id": "top:1", "name": "food", "description": "café"},
                          {"id": "top:2", "name": None, "description": None}],
            "mie_fact_entity": [
                {"fact_id": f, "entity_id": e}
                for f, e in [("fact:a", "ent:1"), ("fact:a", "ent:5"), ("fact:b", "ent:1"),
                             ("fact:a", "ent:gone"), ("fact:gone", "ent:1")]
            ],
            "mie_decision_entity": [
                {"decision_id": "dec:1", "entity_id": "ent:1", "role": "subject"},
                {"decision_id": "dec:1", "entity_id": "ent:2", "role": None},
                {"decision_id": "dec:3", "entity_id": "ent:1", "role": "object"},
            ],
            "mie_fact_topic": [{"fact_id": "fact:a", "topic_id": "top:1"},
                               {"fact_id": "fact:a", "topic_id": "top:2"}],
            "mie_invalidates": [
                {"new_fact_id": "fact:a", "old_fact_id": "fact:c", "reason": "newer"},
                {"new_fact_id": "fact:c", "old_fact_id": "fact:e", "reason": None},
                {"new_fact_id": "fact:gone", "old_fact_id": "fact:c", "reason": "x"},
            ],
        }
    )
    return client


@pytest.mark.parametrize("query", ["café", "", "plain", "Straße", "ΟΔΟΣ", "nothing"])
@pytest.mark.parametrize("limit", [2, 50])
def test_exact_search_matches_spark(graph, query, limit):
    for valid_only in (True, False):
        for types in (None, ["fact"], ["decision", "entity"]):
            assert graph.exact_search(query, types, limit, valid_only) == _spark_exact(
                graph, query, types, limit, valid_only
            )


def test_find_trio_matches_spark(graph):
    store = graph.store
    for name in ["straße", "STRASSE", "ΟΔΟΣ", "οδος", "οδοσ", "İstanbul",
                 "i̇stanbul", "istanbul", "", "missing"]:
        want = _spark_first(store.table("mie_entity"), F.lower(F.col("name")) == name.lower())
        assert graph.find_entity_by_name(name) == want, name
    for content in ["Straße café", "plain text", "plain café, no id", "", "missing"]:
        want = _spark_first(store.table("mie_fact"), F.col("content") == content)
        assert graph.find_fact_by_content(content) == want
    for title in ["café", "Use", "", "missing"]:
        want = _spark_first(store.table("mie_decision"), F.col("title").contains(title))
        assert graph.find_decision_by_title(title) == want
    for nid in ["fact:a", "fact:b", "ent:4", "dec:2", "top:2", "fact:missing"]:
        assert graph.get_node_by_id(nid) == _spark_first(
            store.table(_table_of(nid)), F.col("id") == nid
        )
    assert graph._fetch_nodes_by_ids(["fact:a", "ent:2", "fact:missing"]) == {
        "fact:a": graph.get_node_by_id("fact:a"),
        "ent:2": graph.get_node_by_id("ent:2"),
    }


def _table_of(node_id: str) -> str:
    from mie_spark import ids

    return ids.node_type_of(node_id)


@pytest.mark.parametrize(
    "node_type,filters",
    [
        ("fact", {}),
        ("fact", {"category": "technical"}),
        ("fact", {"valid_only": True}),
        ("entity", {"kind": "place"}),
        ("decision", {"status": "active"}),
        ("topic", {}),
        ("event", {"category": "ignored"}),
    ],
)
@pytest.mark.parametrize("limit,offset", [(100, 0), (2, 0), (2, 1), (3, 4), (1, 10)])
def test_list_nodes_matches_spark(graph, node_type, filters, limit, offset):
    assert graph.list_nodes(node_type, limit=limit, offset=offset, **filters) == _spark_list(
        graph, node_type, limit=limit, offset=offset, **filters
    )


def test_traversals_and_chain_match_spark(graph):
    cases = [
        ("get_entities_for_fact", ("mie_fact_entity", "fact_id", "mie_entity", "entity_id"), ()),
        ("get_facts_for_entity", ("mie_fact_entity", "entity_id", "mie_fact", "fact_id"), ()),
        ("get_entities_for_decision",
         ("mie_decision_entity", "decision_id", "mie_entity", "entity_id"), ("role",)),
        ("get_decisions_for_entity",
         ("mie_decision_entity", "entity_id", "mie_decision", "decision_id"), ()),
        ("get_topics_for_fact", ("mie_fact_topic", "fact_id", "mie_topic", "topic_id"), ()),
    ]
    ids = ["fact:a", "fact:b", "fact:c", "ent:1", "ent:2", "dec:1", "dec:3", "nope"]
    seen = 0
    for method, args, extra in cases:
        for nid in ids:
            got = getattr(graph, method)(nid)
            assert got == _spark_traverse(graph, *args, nid, extra), (method, nid)
            seen += len(got)
    assert seen > 8
    for fid in ["fact:a", "fact:c", "fact:e", "fact:gone", "fact:b"]:
        assert graph.get_invalidation_chain(fid) == _spark_chain(graph, fid), fid
    # both directions: fact:c is the old side of one edge, the new of another
    chain = graph.get_invalidation_chain("fact:c")
    assert {(e["new_fact_id"], e["old_fact_id"]) for e in chain} == {
        ("fact:a", "fact:c"), ("fact:c", "fact:e")
    }


def test_stats_match_spark(graph):
    store = graph.store
    facts = store.table("mie_fact")
    assert graph.get_stats() == {
        "facts": facts.count(),
        "valid_facts": facts.filter(F.col("valid")).count(),
        "invalid_facts": facts.count() - facts.filter(F.col("valid")).count(),
        "decisions": store.table("mie_decision").count(),
        "active_decisions": (
            store.table("mie_decision").filter(F.col("status") == "active").count()
        ),
        "entities": store.table("mie_entity").count(),
        "events": store.table("mie_event").count(),
        "topics": store.table("mie_topic").count(),
        "relationships": sum(store.table(t).count() for t in S.EDGE_TABLES),
    }


# -- no Spark job per agent tool call ------------------------------------------


def test_agent_tool_reads_run_no_spark_job(spark_jobs, graph):
    calls = {
        "semantic": lambda: tools.query(graph, "café", "semantic"),
        "exact": lambda: tools.query(graph, "café", "exact"),
        "list": lambda: tools.list_nodes(graph, "entity", kind="place", offset=1),
        "analyze": lambda: tools.analyze(graph, "plain text", "technical"),
        "status": lambda: tools.status(graph),
        "invalidate": lambda: tools.update(graph, "invalidate", "fact:e",
                                           new_fact_id="fact:a", reason="r"),
        "update_description": lambda: tools.update(
            graph, "update_description", "ent:1", description="new"),
        "update_status": lambda: tools.update(graph, "update_status", "dec:1",
                                              status="superseded"),
    }
    for hop, node in [("entities_for_fact", "fact:a"), ("facts_for_entity", "ent:1"),
                      ("entities_for_decision", "dec:1"), ("decisions_for_entity", "ent:1"),
                      ("topics_for_fact", "fact:a"), ("invalidation_chain", "fact:c")]:
        calls[hop] = lambda hop=hop, node=node: tools.query(
            graph, "", "graph", graph_traversal=hop, node_id=node)
    jobs = {name: spark_jobs(fn) for name, fn in calls.items()}
    assert jobs == dict.fromkeys(calls, 0)
    assert graph.get_node_by_id("ent:1")["description"] == "new"
    # the counter does see Spark jobs: the Spark plan of the same read runs some
    assert spark_jobs(lambda: _spark_semantic(graph, "café")) >= 1


def test_hybrid_semantic_ranks_follow_semantic_search(spark):
    client = MieClient(spark, embedding_dim=8)
    for text in ["kafka consumer lag", "postgres vacuum", "kafka topic layout",
                 "lag in replicas", "unrelated words"]:
        client.store_fact(text, "technical")
    sem = [h["id"] for h in client.semantic_search("kafka lag", limit=3)]
    hits = client.hybrid_search("kafka lag", limit=10, k_each=3)
    ranks = {h["id"]: h["rank_sem"] for h in hits if h["rank_sem"] is not None}
    assert ranks == {nid: i for i, nid in enumerate(sem, 1)}
