"""Seeded input generators for the three benchmark workloads.

Everything a run feeds the program comes from here, as a pure function
of ``--seed``: the same seed gives byte-identical inputs. The seed
changes contents, ids, argument choices and operation order, never the
per-tool operation counts (see ``AGENT_OPS`` / ``INGEST_*`` /
``CORPUS_QUERIES``), so runs on different seeds do the same amount of
work.

The mock embedder (the config default) maps a text to one of 10,000
vectors, chosen by its djb2 hash mod 10,000 ("residue"); texts whose
residues are close get cosine similarity near 1. The generators pick
texts so that every embedded node has its own residue, which makes two
checks exact: a semantic query for a stored text ranks that node
strictly first, and the only identical-vector pairs in the ingest
workload are the near-duplicates it plants on purpose.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field
from typing import Any

import numpy as np

from mie_spark import ids
from mie_spark.validators import VALID_ENTITY_KINDS, VALID_FACT_CATEGORIES

_U64 = (1 << 64) - 1
RESIDUES = 10_000

WORDS = (
    "alpha amber anchor apex arrow atlas aurora basil beacon birch bolt "
    "canyon cedar cinder cobalt comet coral crest delta dune echo ember "
    "falcon fern fjord flint forge frost garnet glacier granite harbor "
    "hazel helix indigo iris ivory jade juniper kelp lagoon lantern lark "
    "lotus lunar maple marble meadow mesa mist nectar nimbus nova oak "
    "onyx opal orbit osprey pebble pine plume prism quartz quill raven "
    "reef ridge river saffron sage sierra slate sparrow spruce summit "
    "tundra umber vale velvet willow zephyr"
).split()

# timed operations per agent_session run, by kind: the batched ingest
# comes first, the seed orders the tool calls after it
AGENT_OPS = {
    "ingest": 1,
    "store": 1,
    "bulk_store": 1,
    "query_semantic": 1,
    "query_exact": 1,
    "query_graph": 1,
    "list": 1,
    "update": 1,
}
BULK_ITEMS = 2

# memory graph the agent session imports in its first (batched) op
AGENT_FACTS = 200
AGENT_ENTITIES = 40

# memory_ingest: facts committed in batches, plus planted duplicates
INGEST_BATCHES = 2
INGEST_BATCH_FACTS = 1000
INGEST_ENTITIES = 100
INGEST_PLANTED_PAIRS = 8

# corpus_pipeline: one oracle-backed registry query per operator family
CORPUS_QUERIES = (
    "q5_local_supplier_volume",
    "v3_similarity_self_join",
    "dedup_minhash_lsh",
    "text_bm25_topk",
    "g_pagerank",
    "ev_sessionize",
    "st_hourly_agg",
)


def corpus_order(seed: int) -> list[str]:
    """The seeded order in which corpus_pipeline runs its queries."""
    order = list(CORPUS_QUERIES)
    random.Random(seed).shuffle(order)
    return order


def _djb2(text: str, h: int = 5381) -> int:
    for ch in text:
        h = (((h << 5) & _U64) + h + ord(ch)) & _U64
    return h


def residue(text: str) -> int:
    """The mock embedder's vector index for ``text``: djb2 over code
    points with uint64 wrap-around, mod 10,000 (mie_spark.embedding)."""
    return _djb2(text) % RESIDUES


class ResiduePool:
    """Hands out texts whose residues are pairwise at least ``gap``
    apart (circularly), by appending a nonce word until one fits."""

    def __init__(self, rng: random.Random, gap: int = 1):
        self.rng = rng
        self.gap = gap
        self.taken: set[int] = set()

    def _free(self, r: int) -> bool:
        return all(
            (r + d) % RESIDUES not in self.taken for d in range(1 - self.gap, self.gap)
        )

    def claim(self, base: str, joiner: str = " ") -> str:
        text = base
        while not self._free(residue(text)):
            text = f"{base}{joiner}{self.rng.choice(WORDS)}{self.rng.randrange(10_000)}"
        self.taken.add(residue(text))
        return text

    def twin(self, text: str) -> str:
        """A near-duplicate of ``text`` (one trailing word added) with
        the SAME residue, hence an identical mock embedding. Does not
        claim a new residue."""
        target = residue(text)
        head = _djb2(text + " ")
        while True:
            tail = f"{self.rng.choice(WORDS)}{self.rng.randrange(1_000_000)}"
            if _djb2(tail, head) % RESIDUES == target:
                return f"{text} {tail}"


def _sentence(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(WORDS) for _ in range(n))


# --------------------------------------------------------------------------
# memory graph (agent_session set-up, memory_ingest batches)
# --------------------------------------------------------------------------


@dataclass
class MemoryGraph:
    facts: list[dict[str, Any]] = field(default_factory=list)
    entities: list[dict[str, Any]] = field(default_factory=list)
    fact_entity: list[dict[str, Any]] = field(default_factory=list)

    def neighbours(self) -> dict[str, set[str]]:
        """fact id -> entity ids, and entity id -> fact ids."""
        out: dict[str, set[str]] = {}
        for e in self.fact_entity:
            out.setdefault(e["fact_id"], set()).add(e["entity_id"])
            out.setdefault(e["entity_id"], set()).add(e["fact_id"])
        return out


def _entity_rows(rng: random.Random, pool: ResiduePool, n: int, tag: str) -> list[dict]:
    rows = []
    for i in range(n):
        name = f"{tag}{i}-{rng.choice(WORDS)}"
        kind = rng.choice(VALID_ENTITY_KINDS)
        # entities embed "name description": claim on that text
        desc = pool.claim(f"{name} {_sentence(rng, 4)}")[len(name) + 1:]
        rows.append(
            {
                "id": ids.entity_id(name, kind),
                "name": name,
                "kind": kind,
                "description": desc,
                "source_agent": "perfbench",
                "created_at": 1_700_000_000 + i,
                "updated_at": 1_700_000_000 + i,
            }
        )
    return rows


def _fact_row(content: str, category: str, ts: int) -> dict[str, Any]:
    return {
        "id": ids.fact_id(content, category),
        "content": content,
        "category": category,
        "confidence": 0.8,
        "source_agent": "perfbench",
        "source_conversation": "",
        "valid": True,
        "created_at": ts,
        "updated_at": ts,
    }


def memory_graph(seed: int, n_facts: int, n_entities: int, pool: ResiduePool) -> MemoryGraph:
    """Two fact->entity edges per fact; every embedded text has its own
    residue."""
    rng = random.Random(seed)
    g = MemoryGraph()
    g.entities = _entity_rows(rng, pool, n_entities, "ent")
    for i in range(n_facts):
        content = pool.claim(f"fact {i} {_sentence(rng, 8)}")
        g.facts.append(
            _fact_row(content, rng.choice(VALID_FACT_CATEGORIES), 1_700_000_000 + i)
        )
    for f in g.facts:
        for ent in rng.sample(g.entities, 2):
            g.fact_entity.append({"fact_id": f["id"], "entity_id": ent["id"]})
    return g


# --------------------------------------------------------------------------
# agent_session
# --------------------------------------------------------------------------


@dataclass
class AgentPlan:
    graph: MemoryGraph
    ops: list[tuple[str, dict[str, Any]]]


def agent_plan(seed: int) -> AgentPlan:
    """The memory graph the session imports, plus the tool-call script
    that follows it in seeded order. Queries target imported facts
    (semantic, exact) and imported edges (graph); each bulk_store links
    its fact to the topic stored earlier in the same batch (target_ref)."""
    rng = random.Random(seed * 7919 + 1)
    pool = ResiduePool(rng, gap=2)
    g = memory_graph(seed, AGENT_FACTS, AGENT_ENTITIES, pool)
    ops: list[tuple[str, dict[str, Any]]] = []
    targets = rng.sample(g.facts, AGENT_OPS["query_semantic"] + AGENT_OPS["query_exact"])
    for k in range(AGENT_OPS["store"]):
        ops.append(("store", {
            "type": "fact",
            "content": pool.claim(f"stored {k} {_sentence(rng, 8)}"),
            "category": rng.choice(VALID_FACT_CATEGORIES),
        }))
    for k in range(AGENT_OPS["bulk_store"]):
        items: list[dict[str, Any]] = [
            {"type": "topic", "name": f"topic{k}-{rng.choice(WORDS)}", "description": "bulk"}
        ]
        for j in range(1, BULK_ITEMS):
            items.append({
                "type": "fact",
                "content": pool.claim(f"bulk {k}.{j} {_sentence(rng, 8)}"),
                "category": rng.choice(VALID_FACT_CATEGORIES),
                "relationships": [{"edge_table": "mie_fact_topic", "to_ref": 0}],
            })
        ops.append(("bulk_store", {"items": items}))
    for kind in ("query_semantic", "query_exact"):
        for _ in range(AGENT_OPS[kind]):
            ops.append((kind, {"fact": targets.pop()}))
    hops = ("entities_for_fact", "facts_for_entity")
    for k in range(AGENT_OPS["query_graph"]):
        hop = hops[(seed + k) % 2]
        node = rng.choice(g.facts if hop == "entities_for_fact" else g.entities)
        ops.append(("query_graph", {"traversal": hop, "node_id": node["id"]}))
    for _ in range(AGENT_OPS["list"]):
        ops.append(("list", {"node_type": "entity", "kind": rng.choice(VALID_ENTITY_KINDS)}))
    for _ in range(AGENT_OPS["update"]):
        ent = rng.choice(g.entities)
        ops.append(
            ("update", {"node_id": ent["id"], "description": f"updated {_sentence(rng, 5)}"})
        )
    rng.shuffle(ops)
    return AgentPlan(graph=g, ops=ops)


# --------------------------------------------------------------------------
# memory_ingest
# --------------------------------------------------------------------------


@dataclass
class IngestPlan:
    entities: list[dict[str, Any]]
    batches: list[list[dict[str, Any]]]  # fact rows per batch
    edges: list[list[dict[str, Any]]]  # fact->entity rows per batch
    planted: set[tuple[str, str]]  # (a_id, b_id) with a_id < b_id


def ingest_plan(seed: int) -> IngestPlan:
    rng = random.Random(seed * 104_729 + 2)
    pool = ResiduePool(rng, gap=1)
    entities = _entity_rows(rng, pool, INGEST_ENTITIES, "ing")
    n = INGEST_BATCHES * INGEST_BATCH_FACTS
    facts = [
        _fact_row(
            pool.claim(f"ingested {i} {_sentence(rng, 10)}"),
            rng.choice(VALID_FACT_CATEGORIES),
            1_700_100_000 + i,
        )
        for i in range(n - INGEST_PLANTED_PAIRS)
    ]
    planted: set[tuple[str, str]] = set()
    for src in rng.sample(facts, INGEST_PLANTED_PAIRS):
        twin = _fact_row(pool.twin(src["content"]), src["category"], src["created_at"] + n)
        facts.append(twin)
        planted.add(tuple(sorted((src["id"], twin["id"]))))
    rng.shuffle(facts)
    batches = [
        facts[b * INGEST_BATCH_FACTS:(b + 1) * INGEST_BATCH_FACTS]
        for b in range(INGEST_BATCHES)
    ]
    edges = [
        [
            {"fact_id": f["id"], "entity_id": e["id"]}
            for f in batch
            for e in rng.sample(entities, 2)
        ]
        for batch in batches
    ]
    return IngestPlan(entities=entities, batches=batches, edges=edges, planted=planted)


# --------------------------------------------------------------------------
# corpus_pipeline: a small TPC-H-like star schema + events + documents +
# embeddings, the shapes mie_spark.queries reads
# --------------------------------------------------------------------------

CORPUS_TABLES = (
    "region", "nation", "customer", "supplier", "orders", "lineitem",
    "events", "documents", "embeddings",
)
CORPUS_ROWS = {
    "customer": 3_000,
    "supplier": 200,
    "orders": 25_000,
    "lineitem": 100_000,
    "events": 30_000,
    "documents": 800,
    "embeddings": 1_000,
}
DOC_WORDS = (
    "spark hash merge window batch part line column order small sort fast "
    "value scan slow group agg filter query big key row table stream data "
    "vector customer join the a"
).split()


def write_corpus(seed: int, out_dir: str) -> dict[str, int]:
    """Write the corpus parquet files for ``seed``; returns row counts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    n = CORPUS_ROWS
    os.makedirs(out_dir, exist_ok=True)
    us = np.int64(1_000_000)
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )

    def money(lo: float, hi: float, size: int) -> np.ndarray:
        return rng.integers(int(lo * 100), int(hi * 100), size) / 100.0

    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n["customer"]), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
            "c_acctbal": money(-999, 9999, n["customer"]),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
                n["customer"],
            ),
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n["supplier"]), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
            "s_acctbal": money(-999, 9999, n["supplier"]),
        }
    )
    day0 = np.datetime64("1995-01-01", "D")
    o_days = rng.integers(0, 2400, n["orders"])
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n["orders"]), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]), pa.int64()),
            "o_orderstatus": rng.choice(["O", "F", "P"], n["orders"]),
            "o_totalprice": money(900, 400_000, n["orders"]),
            "o_orderdate": pa.array(
                (day0 + o_days).astype("datetime64[us]"), pa.timestamp("us")
            ),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                n["orders"],
            ),
        }
    )
    l_order = np.sort(rng.integers(0, n["orders"], n["lineitem"]))
    starts = np.r_[0, np.flatnonzero(np.diff(l_order)) + 1]
    line_no = np.arange(n["lineitem"]) - np.repeat(starts, np.diff(np.r_[starts, n["lineitem"]]))
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(l_order, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, 20_000, n["lineitem"]), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], n["lineitem"]), pa.int64()),
            "l_linenumber": pa.array(line_no + 1, pa.int32()),
            "l_quantity": rng.integers(1, 51, n["lineitem"]).astype(np.float64),
            "l_extendedprice": money(900, 100_000, n["lineitem"]),
            "l_discount": rng.integers(0, 11, n["lineitem"]) / 100.0,
            "l_tax": rng.integers(0, 9, n["lineitem"]) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n["lineitem"]),
            "l_linestatus": rng.choice(["O", "F"], n["lineitem"]),
            "l_shipdate": pa.array(
                (day0 + o_days[l_order] + rng.integers(1, 120, n["lineitem"])).astype(
                    "datetime64[us]"
                ),
                pa.timestamp("us"),
            ),
        }
    )
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ev_ts = np.sort(t0 + rng.integers(0, 30 * 86_400 * us, n["events"]))
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n["events"]), pa.int64()),
            "ts": pa.array(ev_ts.astype("datetime64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 400, n["events"]), pa.int64()),
            "event_type": rng.choice(["view", "click", "purchase", "signup", "error"], n["events"]),
            "value": money(0, 200, n["events"]),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n["events"])],
        }
    )
    texts = [
        " ".join(rng.choice(DOC_WORDS, int(rng.integers(8, 90))))
        for _ in range(n["documents"])
    ]
    # planted near-duplicates: a long document with one token changed
    for i in rng.choice(n["documents"] - 1, 40, replace=False):
        toks = texts[i].split()
        if len(toks) >= 40:
            toks[int(rng.integers(0, len(toks)))] = str(rng.choice(DOC_WORDS))
            texts[i + 1] = " ".join(toks)
    tables["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n["documents"]), pa.int64()),
            "text": texts,
            "lang": rng.choice(["en", "en", "en", "de", "fr", "es", "zh"], n["documents"]),
            "source": [f"src{i % 20}" for i in range(n["documents"])],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    vecs = rng.standard_normal((n["embeddings"], 64)).astype(np.float32)
    for i in rng.choice(n["embeddings"] - 1, 30, replace=False):
        vecs[i + 1] = vecs[i] + 0.3 * rng.standard_normal(64).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n["embeddings"]), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n["embeddings"]), pa.int32()),
        }
    )
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
