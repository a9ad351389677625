"""MieClient — the knowledge-graph memory API over MieStore.

Reproduces the reference's memory layer semantics (pkg/memory/{reader,
writer,conflicts}.go) over MieStore tables. The agent tools' reads —
semantic, exact and graph queries, listing, point lookups, the conflict
probe and stats — run on the driver over ``MieStore.table_arrow`` with
pyarrow and numpy, no Spark job (the reference answers them in-process
from its embedded engine). Whole-store work — pairwise conflict
detection, hybrid search's BM25 side, export and ``raw_query`` — stays
a DataFrame plan. Writes are key-upserts with content-hash identity.
Each write call — a store, a tool call, an update, an import — builds
its rows into one batch and commits it as ONE store transaction
(MieClient._commit): the nodes, their embeddings, the edges and the
usage counter become visible together, and a failure anywhere writes
nothing. (The reference writes embeddings fire-and-forget,
writer.go:71-73; SURVEY §2.7 V6.)

Deliberate semantic fix, documented in SURVEY §2.10: `threshold`
ALWAYS means minimum cosine *similarity* here. The reference's
conflicts tool documents similarity but consumes it as a distance
bound (tools/conflicts.go:20-22 vs memory/conflicts.go:95).
"""

from __future__ import annotations

from typing import Any

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mie_spark import ids
from mie_spark import validators as V
from mie_spark.embedding import MockEmbeddingProvider
from mie_spark.schemas import (
    EDGE_TABLES,
    EMBEDDING_TABLES,
    NODE_TABLES,
    key_columns,
)
from mie_spark.storage import MieStore, now_s

# node table → its embedding table + the text that gets embedded
_EMBED_SOURCE = {
    "mie_fact": ("mie_fact_embedding", "fact_id"),
    "mie_decision": ("mie_decision_embedding", "decision_id"),
    "mie_entity": ("mie_entity_embedding", "entity_id"),
    "mie_event": ("mie_event_embedding", "event_id"),
}

# embedding input text per node table — the only definition: _commit
# embeds every node row it writes through it
_EMBED_TEXT = {
    "mie_fact": lambda r: r.get("content") or "",
    "mie_decision": lambda r: f"{r.get('title') or ''} {r.get('rationale') or ''}",
    "mie_entity": lambda r: f"{r.get('name') or ''} {r.get('description') or ''}",
    "mie_event": lambda r: f"{r.get('title') or ''} {r.get('description') or ''}",
}

# exact-search columns per node type (reader.go:138-162: content for
# facts; two-column OR for the rest)
_SEARCH_COLS = {
    "mie_fact": ("content",),
    "mie_decision": ("title", "rationale"),
    "mie_entity": ("name", "description"),
    "mie_event": ("title", "description"),
    "mie_topic": ("name", "description"),
}

_TYPE_ALIASES = {
    "fact": "mie_fact",
    "decision": "mie_decision",
    "entity": "mie_entity",
    "event": "mie_event",
    "topic": "mie_topic",
}

# usage kind → (counter key, last-at key) in mie_meta
_USAGE_KEYS = {
    "store": ("total_stores", "last_store_at"),
    "query": ("total_queries", "last_query_at"),
}


def node_row(table: str, item: dict[str, Any]) -> dict[str, Any]:
    """One store item → its validated node row: content-hash id,
    defaults and timestamps (writer.go Store*). ``item`` holds the
    node's fields by column name; the id inputs are required, every
    other text column defaults to "". The single type dispatch behind
    the store_* methods, tools.store, tools.bulk_store and import_json."""
    get = item.get
    if table == "mie_fact":
        category = V.coerce_category(get("category"))
        row = {
            "id": ids.fact_id(item["content"], category),
            "category": category,
            "confidence": V.clamp_confidence(get("confidence")),
            "valid": True,
        }
    elif table == "mie_decision":
        row = {
            "id": ids.decision_id(item["title"], item["rationale"]),
            "alternatives": get("alternatives") or "[]",
            "status": get("status", "active"),
        }
        V.validate_decision_status(row["status"])
    elif table == "mie_entity":
        V.validate_entity_kind(item["kind"])
        row = {"id": ids.entity_id(item["name"], item["kind"])}
    elif table == "mie_event":
        row = {"id": ids.event_id(item["title"], get("event_date", ""))}
    elif table == "mie_topic":
        row = {"id": ids.topic_id(item["name"])}
    else:
        raise ValueError(f"unknown node table {table!r}")
    ts = now_s()
    for f in NODE_TABLES[table]:
        if f.name in ("created_at", "updated_at"):
            row[f.name] = ts
        else:
            row.setdefault(f.name, get(f.name, ""))
    return row


def item_row(item: dict[str, Any]) -> tuple[str, dict[str, Any]]:
    """(table, node row) of a tool-call store item, dispatched on its
    ``type`` (fact/decision/entity/event/topic)."""
    node_type = item.get("type")
    table = _TYPE_ALIASES.get(node_type) if isinstance(node_type, str) else None
    if table is None:
        raise ValueError(f"unknown store type {node_type!r}")
    return table, node_row(table, item)


def edge_rows(
    edge_table: str, from_id: str, to_id: str, values: dict[str, Any]
) -> dict[str, list[dict[str, Any]]]:
    """One whitelisted edge (writer.go:264-310) as a one-row batch; the
    edge table's value columns (role, reason) are read from ``values``."""
    if edge_table not in EDGE_TABLES:
        raise ValueError(
            f"invalid edge table {edge_table!r}; valid: {sorted(EDGE_TABLES)}"
        )
    keys, vals = EDGE_TABLES[edge_table]
    if "role" in values:
        V.validate_entity_role(values["role"])
    row = {keys[0]: from_id, keys[1]: to_id}
    for col in vals:
        row[col] = values.get(col, "")
    return {edge_table: [row]}


def extend_batch(
    batch: dict[str, list[dict[str, Any]]], rows: dict[str, list[dict[str, Any]]]
) -> None:
    """Append ``rows`` to ``batch`` table by table, keeping write order."""
    for table, more in rows.items():
        batch.setdefault(table, []).extend(more)


class MieClient:
    def __init__(
        self,
        spark: SparkSession,
        path: str | None = None,
        embedder=None,
        embedding_dim: int = 4,
    ):
        self.spark = spark
        self.embedder = embedder or MockEmbeddingProvider(embedding_dim)
        self.store = MieStore(spark, path, embedding_dim=embedding_dim)

    @classmethod
    def from_config(cls, spark: SparkSession, cfg=None) -> "MieClient":
        """Build a client from a discovered .mie/config.yaml (walk-up +
        env overrides, mie_spark/config.py; reference: cmd/mie uses
        LoadConfig on every command, config.go:74-107). The embedding
        provider honors the config when embedding is enabled, else the
        deterministic mock."""
        from mie_spark import embedding as emb
        from mie_spark.config import load_config, resolve_storage_path

        if cfg is None:
            cfg = load_config()
        embedder = None
        dim = cfg.embedding.dimensions
        if cfg.embedding.enabled and cfg.embedding.provider != "mock":
            name = cfg.embedding.provider
            if name == "ollama":
                embedder = emb.OllamaEmbeddingProvider(
                    model=cfg.embedding.model or "nomic-embed-text",
                    base_url=cfg.embedding.base_url or "http://localhost:11434",
                )
            elif name == "openai":
                embedder = emb.OpenAIEmbeddingProvider(
                    model=cfg.embedding.model or "text-embedding-3-small",
                    base_url=cfg.embedding.base_url or "https://api.openai.com/v1",
                    api_key=cfg.embedding.api_key,
                )
            elif name == "nomic":
                embedder = emb.NomicEmbeddingProvider(
                    api_key=cfg.embedding.api_key,
                    model=cfg.embedding.model or "nomic-embed-text-v1.5",
                    base_url=cfg.embedding.base_url
                    or "https://api-atlas.nomic.ai/v1",
                )
            else:
                raise ValueError(f"unknown embedding provider {name!r}")
        return cls(
            spark,
            path=resolve_storage_path(cfg),
            embedder=embedder,
            embedding_dim=dim,
        )

    # ------------------------------------------------------------------
    # write path (writer.go)
    # ------------------------------------------------------------------

    def store_fact(
        self,
        content: str,
        category: str | None = None,
        confidence: float | None = None,
        source_agent: str = "",
        source_conversation: str = "",
    ) -> str:
        return self._store_node(
            "mie_fact", content=content, category=category, confidence=confidence,
            source_agent=source_agent, source_conversation=source_conversation,
        )

    def store_decision(
        self,
        title: str,
        rationale: str,
        alternatives: str = "[]",
        context: str = "",
        status: str = "active",
        source_agent: str = "",
        source_conversation: str = "",
    ) -> str:
        return self._store_node(
            "mie_decision", title=title, rationale=rationale,
            alternatives=alternatives, context=context, status=status,
            source_agent=source_agent, source_conversation=source_conversation,
        )

    def store_entity(
        self, name: str, kind: str, description: str = "", source_agent: str = ""
    ) -> str:
        return self._store_node(
            "mie_entity", name=name, kind=kind, description=description,
            source_agent=source_agent,
        )

    def store_event(
        self,
        title: str,
        description: str = "",
        event_date: str = "",
        source_agent: str = "",
        source_conversation: str = "",
    ) -> str:
        return self._store_node(
            "mie_event", title=title, description=description, event_date=event_date,
            source_agent=source_agent, source_conversation=source_conversation,
        )

    def store_topic(self, name: str, description: str = "") -> str:
        return self._store_node("mie_topic", name=name, description=description)

    def _store_node(self, table: str, **item: Any) -> str:
        row = node_row(table, item)
        batch = {table: [row]}
        self._commit({**batch, **self._embedding_rows(batch)})
        return row["id"]

    def add_relationship(
        self, edge_table: str, from_id: str, to_id: str, **values: str
    ) -> None:
        """Whitelisted edge insert (writer.go:264-310)."""
        self._commit(edge_rows(edge_table, from_id, to_id, values))

    def invalidate_fact(
        self, new_fact_id: str | None, old_fact_id: str, reason: str = ""
    ) -> None:
        """Flip valid=false on the old fact and — when a superseding
        fact is given — insert the invalidation edge (writer.go:230-261),
        in one transaction: readers never see the fact flipped without
        its edge or vice versa. ``new_fact_id=None`` invalidates without
        a replacement: NO edge is written (a self-loop edge claiming the
        fact supersedes itself would corrupt the invalidation chain and
        every export carrying it)."""
        self._commit(self._invalidation_rows(new_fact_id, old_fact_id, reason))

    def _invalidation_rows(
        self,
        new_fact_id: str | None,
        old_fact_id: str,
        reason: str,
        pending: dict[str, list[dict[str, Any]]] | None = None,
    ) -> dict[str, list[dict[str, Any]]]:
        """The rows of one invalidation. The old fact is read from
        ``pending`` (a batch not yet committed) when staged there, so
        an invalidation sees the writes staged before it."""
        # both ids must be fact ids: get_node_by_id dispatches on the
        # prefix, so an entity/decision id would otherwise fetch a row
        # of the WRONG table and upsert it into mie_fact as garbage
        for nid in (new_fact_id, old_fact_id):
            if nid is not None and ids.node_type_of(nid) != "mie_fact":
                raise ValueError(f"invalidate_fact requires fact ids, got {nid!r}")
        staged = [
            r for r in (pending or {}).get("mie_fact", []) if r["id"] == old_fact_id
        ]
        old = dict(staged[-1]) if staged else self.get_node_by_id(old_fact_id)
        if old is None:
            raise KeyError(f"fact not found: {old_fact_id}")
        old["valid"] = False
        old["updated_at"] = now_s()
        rows: dict[str, list[dict[str, Any]]] = {"mie_fact": [old]}
        if new_fact_id is not None and new_fact_id != old_fact_id:
            rows["mie_invalidates"] = [
                {
                    "new_fact_id": new_fact_id,
                    "old_fact_id": old_fact_id,
                    "reason": reason,
                }
            ]
        return rows

    def update_description(self, node_id: str, description: str) -> None:
        """RMW description update for entity/event/topic (writer.go:313-362).
        The description is part of an entity's or event's embedded text,
        so its vector is re-embedded and commits with the row."""
        table = ids.node_type_of(node_id)
        if table not in ("mie_entity", "mie_event", "mie_topic"):
            raise ValueError(f"{table} does not have a description update path")
        row = self.get_node_by_id(node_id)
        if row is None:
            raise KeyError(f"node not found: {node_id}")
        row["description"] = description
        row["updated_at"] = now_s()
        batch = {table: [row]}
        self._commit({**batch, **self._embedding_rows(batch)})

    def update_status(self, decision_id: str, status: str) -> None:
        V.validate_decision_status(status)
        row = self.get_node_by_id(decision_id)
        if row is None:
            raise KeyError(f"decision not found: {decision_id}")
        row["status"] = status
        row["updated_at"] = now_s()
        self._commit({"mie_decision": [row]})

    def _embedding_rows(
        self, batch: dict[str, list[dict[str, Any]]]
    ) -> dict[str, list[dict[str, Any]]]:
        """The embedding rows of the node rows in ``batch``: one
        ``embed`` call per node table, text from ``_EMBED_TEXT``, the
        last staged row of an id wins like the upsert itself. Callers
        pass the nodes they build; rows that keep their text (an
        invalidation's flipped fact, a status update) are not embedded."""
        out: dict[str, list[dict[str, Any]]] = {}
        for table, (emb_table, id_col) in _EMBED_SOURCE.items():
            latest = {r["id"]: r for r in batch.get(table, ())}
            if latest:
                vecs = self.embedder.embed(
                    [_EMBED_TEXT[table](r) for r in latest.values()]
                )
                out[emb_table] = [
                    {id_col: nid, "embedding": v} for nid, v in zip(latest, vecs)
                ]
        return out

    def _commit(
        self,
        batch: dict[str, list[dict[str, Any]]],
        usage: str | None = None,
        n: int = 1,
    ) -> dict[str, int]:
        """Publish one write batch ({table: rows in write order}) as ONE
        store transaction — the single write path of every store,
        update, import and usage record. ``usage`` ("store"/"query")
        adds ``n`` to that usage counter and stamps its last-at time.
        Nodes, embeddings, edges and counter become visible together or
        not at all."""
        updates = {t: rows for t, rows in batch.items() if rows}
        counters = None
        if usage is not None and n:
            counter, stamp = _USAGE_KEYS[usage]
            updates["mie_meta"] = [
                *updates.get("mie_meta", []),
                {"key": stamp, "value": str(now_s())},
            ]
            counters = {counter: n}
        return self.store.atomic_upsert_rows(updates, counters)

    # ------------------------------------------------------------------
    # read path (reader.go)
    # ------------------------------------------------------------------

    def _fetch_nodes_by_ids(self, node_ids: list[str]) -> dict[str, dict[str, Any]]:
        """Batch point-lookup: ONE driver-side read per node type
        instead of one per id."""
        by_table: dict[str, list[str]] = {}
        for nid in node_ids:
            by_table.setdefault(ids.node_type_of(nid), []).append(nid)
        out: dict[str, dict[str, Any]] = {}
        for table, nids in by_table.items():
            t = self.store.table_arrow(table)
            for r in t.filter(_in(t["id"], nids)).to_pylist():
                out[r["id"]] = r
        return out

    def get_node_by_id(self, node_id: str) -> dict[str, Any] | None:
        """Point lookup with prefix dispatch (reader.go:308-382)."""
        t = self.store.table_arrow(ids.node_type_of(node_id))
        rows = t.filter(pc.equal(t["id"], node_id)).to_pylist()
        return rows[0] if rows else None

    def exact_search(
        self,
        query: str,
        node_types: list[str] | None = None,
        limit: int = 50,
        valid_only: bool = True,
    ) -> list[dict[str, Any]]:
        """Substring search (F2/F3): byte-wise UTF-8 substring match on
        the type's text columns, two-column OR where the reference ORs
        (reader.go:138-162), newest first. NULL text never matches."""
        out: list[dict[str, Any]] = []
        for table in self._tables_for(node_types):
            t = self.store.table_arrow(table)
            hit = None
            for col in _SEARCH_COLS[table]:
                m = pc.match_substring(t[col], query)
                hit = m if hit is None else pc.or_kleene(hit, m)
            if table == "mie_fact" and valid_only:
                hit = pc.and_kleene(hit, t["valid"])
            hits = _order(t.filter(hit), _NEWEST_FIRST).slice(0, limit)
            out.extend({**r, "node_type": table} for r in hits.to_pylist())
        return out[:limit]

    def semantic_search(
        self,
        query: str,
        node_types: list[str] | None = None,
        limit: int = 10,
        valid_only: bool = True,
    ) -> list[dict[str, Any]]:
        """Exact top-k cosine over the requested types' embeddings,
        merged and truncated (reader.go:38-119), ranked on the driver
        by :meth:`_cosine_top` — no Spark job, and no per-type
        over-fetch (the reference needs k·5 because it post-filters
        `valid` after ANN; we filter before ranking)."""
        return [
            {
                **row,
                "node_type": table,
                "similarity": sim,
                "distance": 1.0 - sim,
            }
            for row, table, sim in self._cosine_top(
                query, self._embedded_nodes(node_types, valid_only), limit
            )
        ]

    def _embedded_nodes(
        self, node_types: list[str] | None, valid_only: bool
    ) -> dict[str, Any]:
        """{node table: its rows} for the requested types that carry an
        embedding table (topics do not, schema.go); invalid facts are
        left out when ``valid_only``."""
        out = {}
        for table in self._tables_for(node_types):
            if table in _EMBED_SOURCE:
                t = self.store.table_arrow(table)
                if table == "mie_fact" and valid_only:
                    t = t.filter(t["valid"])
                out[table] = t
        return out

    def _cosine_top(
        self, query: str, nodes: dict[str, Any], k: int
    ) -> list[tuple[dict[str, Any], str, float]]:
        """The top ``k`` (node row, node table, similarity) of the
        ``nodes`` ({node table: Arrow rows}) by cosine similarity of
        their stored embedding to ``query``'s, ranked (similarity desc,
        node id asc) across the tables: the one ranking core of
        semantic, hybrid and conflict search. A node without an
        embedding row is left out, as by the inner join it replaces;
        so is one whose vector :func:`_cosine` cannot score."""
        if not nodes:
            return []
        q = np.asarray(self.embedder.embed_query(query), dtype=np.float64)
        parts = []
        for table, t in nodes.items():
            emb_table, id_col = _EMBED_SOURCE[table]
            emb = self.store.table_arrow(emb_table)
            keep = _in(emb[id_col], t["id"])
            if not pc.all(keep).as_py():  # filtering copies every vector
                emb = emb.filter(keep)
            sims = _cosine(emb["embedding"], q)
            parts.append(
                pa.table(
                    {
                        "node_id": emb[id_col],
                        "node_type": pa.array([table] * len(sims), pa.string()),
                        "similarity": sims,
                    }
                ).filter(~np.isnan(sims))
            )
        top = _order(
            pa.concat_tables(parts), [("similarity", True), ("node_id", False)]
        ).slice(0, k)
        rows = {
            r["id"]: r
            for table, t in nodes.items()
            for r in t.filter(_in(t["id"], top["node_id"])).to_pylist()
        }
        return [
            (rows[r["node_id"]], r["node_type"], r["similarity"])
            for r in top.to_pylist()
        ]

    def hybrid_search(
        self,
        query: str,
        node_types: list[str] | None = None,
        limit: int = 10,
        valid_only: bool = True,
        k_each: int = 50,
        rrf_k: int = 60,
    ) -> list[dict[str, Any]]:
        """Hybrid retrieval: BM25 keyword ranking over each type's text
        columns fused with the cosine semantic ranking by reciprocal
        rank (score = Σ 1/(rrf_k + rank) over the lists containing the
        node). This is the fourth query mode the reference lacks — its
        exact and semantic modes (pkg/tools/query.go:32-41) run as
        separate probes with a client-side merge (reader.go:110-118);
        here each ranking is truncated to ``k_each`` before ranks are
        assigned (so no global-rank shuffle, see operators/retrieval.py)
        and the fusion is one plan. The keyword side is a Spark plan;
        the semantic side is the driver-side :meth:`_cosine_top`.

        Returns nodes sorted by fused score; each carries ``rrf`` plus
        its keyword/semantic ranks (None where absent from that list).
        """
        from mie_spark.operators.retrieval import (
            bm25_scores,
            rank_topk,
            rrf_fuse,
        )

        terms = [t for t in query.lower().split() if t]
        if not terms:
            return []
        per_type: list[DataFrame] = []
        for table in self._tables_for(node_types):
            nodes = self.store.table(table)
            if table == "mie_fact" and valid_only:
                nodes = nodes.filter(F.col("valid"))
            cols = _SEARCH_COLS[table]
            per_type.append(
                nodes.select(
                    F.col("id").alias("node_id"),
                    F.concat_ws(" ", *[F.col(c) for c in cols]).alias(
                        "text"
                    ),
                )
            )
        if not per_type:
            return []
        corpus = per_type[0]
        for df in per_type[1:]:
            corpus = corpus.unionByName(df)
        kw_scores = bm25_scores(corpus, terms, id_col="node_id")
        kw = rank_topk(kw_scores, "score_u", "node_id", k_each)

        embedded = self._embedded_nodes(node_types, valid_only)
        fused_rankings = [kw]
        rank_cols = ["rank_kw"]
        if embedded:
            # the semantic half is ranked on the driver; its top k_each
            # joins the fusion as a small (node_id, rank) frame
            sem_top = self._cosine_top(query, embedded, k_each)
            fused_rankings.append(
                self.spark.createDataFrame(
                    [(row["id"], i) for i, (row, _, _) in enumerate(sem_top, 1)],
                    "node_id string, rank int",
                )
            )
            rank_cols.append("rank_sem")
        fused = rrf_fuse(fused_rankings, "node_id", rank_cols, k=rrf_k)
        top = fused.limit(limit).collect()
        nodes = self._fetch_nodes_by_ids([r["node_id"] for r in top])
        results = []
        for r in top:
            results.append(
                {
                    **nodes.get(r["node_id"], {}),
                    "node_type": ids.node_type_of(r["node_id"]),
                    "rrf": float(r["rrf"]),
                    "rank_kw": r["rank_kw"],
                    "rank_sem": r["rank_sem"] if embedded else None,
                }
            )
        return results

    def find_entity_by_name(self, name: str) -> dict[str, Any] | None:
        """Case-insensitive first match (reader.go:384-393); both sides
        are lower-cased by Python's ``str.lower``."""
        t = self.store.table_arrow("mie_entity")
        want = name.lower()
        hit = [n is not None and n.lower() == want for n in t["name"].to_pylist()]
        return _first(t.filter(pa.array(hit, pa.bool_())))

    def find_fact_by_content(self, content: str) -> dict[str, Any] | None:
        t = self.store.table_arrow("mie_fact")
        return _first(t.filter(pc.equal(t["content"], content)))

    def find_decision_by_title(self, title: str) -> dict[str, Any] | None:
        """Substring first match on decision title (reader.go:438-462:
        `str_includes(title, ...)` + limit 1). Completes the reference's
        find-trio alongside find_entity_by_name / find_fact_by_content;
        the lowest id wins, which makes the pick deterministic where
        Cozo's unordered `:limit 1` is not."""
        t = self.store.table_arrow("mie_decision")
        return _first(t.filter(pc.match_substring(t["title"], title)))

    def list_nodes(
        self,
        node_type: str,
        category: str | None = None,
        kind: str | None = None,
        status: str | None = None,
        valid_only: bool = False,
        limit: int = 100,
        offset: int = 0,
    ) -> tuple[list[dict[str, Any]], int]:
        """Filtered scan + order + pagination + total (tools/list.go).
        Limit clamped to 100 like the tool layer (list.go:28-35)."""
        limit = max(1, min(limit, 100))
        table = self._resolve_type(node_type)
        t = self.store.table_arrow(table)
        for col, value, owner in (
            ("category", category, "mie_fact"),
            ("kind", kind, "mie_entity"),
            ("status", status, "mie_decision"),
        ):
            if value and table == owner:
                t = t.filter(pc.equal(t[col], value))
        if valid_only and table == "mie_fact":
            t = t.filter(t["valid"])
        rows = _order(t, _NEWEST_FIRST).slice(offset, limit)
        return rows.to_pylist(), t.num_rows

    def get_stats(self) -> dict[str, int]:
        """Node/edge census (reader.go:616-665), from driver-side reads
        of the node and edge tables."""
        facts = self.store.table_arrow("mie_fact")
        decisions = self.store.table_arrow("mie_decision")
        stats = {
            "facts": facts.num_rows,
            "valid_facts": facts.filter(facts["valid"]).num_rows,
            "decisions": decisions.num_rows,
            "active_decisions": decisions.filter(
                pc.equal(decisions["status"], "active")
            ).num_rows,
        }
        stats["invalid_facts"] = stats["facts"] - stats["valid_facts"]
        for table, key in (
            ("mie_entity", "entities"),
            ("mie_event", "events"),
            ("mie_topic", "topics"),
        ):
            stats[key] = self.store.table_arrow(table).num_rows
        stats["relationships"] = sum(
            self.store.table_arrow(t).num_rows for t in EDGE_TABLES
        )
        return stats

    # ------------------------------------------------------------------
    # graph traversals (reader.go:463-614) — J1-J4, J6
    # ------------------------------------------------------------------

    def _traverse(
        self, edge_table: str, filter_col: str, node_table: str, join_col: str,
        node_id: str, extra_cols: list[str] | None = None,
    ) -> list[dict[str, Any]]:
        """The ``node_table`` rows joined to ``node_id`` by an edge of
        ``edge_table`` (plus the edge's ``extra_cols``), by node id."""
        edges = self.store.table_arrow(edge_table)
        edges = edges.filter(pc.equal(edges[filter_col], node_id))
        # the edge key is (filter_col, join_col): one edge per neighbour
        by_node = {e[join_col]: e for e in edges.to_pylist()}
        nodes = self.store.table_arrow(node_table)
        hits = nodes.filter(_in(nodes["id"], edges[join_col]))
        return [
            {**n, **{c: by_node[n["id"]][c] for c in extra_cols or ()}}
            for n in _order(hits, [("id", False)]).to_pylist()
        ]

    def get_entities_for_fact(self, fact_id: str) -> list[dict[str, Any]]:
        return self._traverse(
            "mie_fact_entity", "fact_id", "mie_entity", "entity_id", fact_id
        )

    def get_facts_for_entity(self, entity_id: str) -> list[dict[str, Any]]:
        return self._traverse(
            "mie_fact_entity", "entity_id", "mie_fact", "fact_id", entity_id
        )

    def get_entities_for_decision(self, decision_id: str) -> list[dict[str, Any]]:
        """Traversal carrying the edge's own `role` attribute (J3)."""
        return self._traverse(
            "mie_decision_entity",
            "decision_id",
            "mie_entity",
            "entity_id",
            decision_id,
            extra_cols=["role"],
        )

    def get_decisions_for_entity(self, entity_id: str) -> list[dict[str, Any]]:
        return self._traverse(
            "mie_decision_entity", "entity_id", "mie_decision", "decision_id", entity_id
        )

    def get_topics_for_fact(self, fact_id: str) -> list[dict[str, Any]]:
        return self._traverse(
            "mie_fact_topic", "fact_id", "mie_topic", "topic_id", fact_id
        )

    def get_invalidation_chain(self, fact_id: str) -> list[dict[str, Any]]:
        """Both-direction chain (reader.go:547-583). The reference needs
        a two-rule Datalog union because or() can't wrap `=`; one OR
        filter replaces it (J6). An edge shows only when both of its
        facts exist; edges come ordered by (new, old) fact id."""
        edges = self.store.table_arrow("mie_invalidates")
        edges = edges.filter(
            pc.or_kleene(
                pc.equal(edges["new_fact_id"], fact_id),
                pc.equal(edges["old_fact_id"], fact_id),
            )
        )
        facts = self.store.table_arrow("mie_fact")
        ends = edges["new_fact_id"].to_pylist() + edges["old_fact_id"].to_pylist()
        content = {
            r["id"]: r["content"]
            for r in facts.filter(_in(facts["id"], ends)).to_pylist()
        }
        return [
            {
                "new_fact_id": e["new_fact_id"],
                "old_fact_id": e["old_fact_id"],
                "reason": e["reason"],
                "old_content": content[e["old_fact_id"]],
                "new_content": content[e["new_fact_id"]],
            }
            for e in _order(
                edges, [("new_fact_id", False), ("old_fact_id", False)]
            ).to_pylist()
            if e["old_fact_id"] in content and e["new_fact_id"] in content
        ]

    # ------------------------------------------------------------------
    # conflicts (conflicts.go) — V3/V4, vectorized
    # ------------------------------------------------------------------

    def detect_conflicts(
        self, threshold: float = 0.85, limit: int = 50
    ) -> list[dict[str, Any]]:
        """Pairwise similarity over *valid* facts via the bucketed
        ``similarity_self_join`` operator (canonical a<b ordering) —
        replaces the reference's O(n) sequential embed+probe loop
        (conflicts.go:73-154) with the same sub-quadratic plan the
        dedup family uses (broadcast-BLAS under the size cap, banded
        hyperplane LSH above it — never a crossJoin). threshold is
        minimum similarity (quirk fix, SURVEY §2.10)."""
        from mie_spark.operators.vector import similarity_self_join

        emb = self.store.table("mie_fact_embedding")
        valid = self.store.table("mie_fact").filter(F.col("valid"))
        # the self-join probes this view several times (dim probe, size
        # check, matrix collect) and the content joins read it twice
        # more — persist so the embedding⋈fact join executes once
        ve = (
            emb.join(valid, emb["fact_id"] == valid["id"])
            .select("fact_id", "embedding", "content")
            .persist()
        )
        try:
            sims = similarity_self_join(
                ve, "embedding", threshold, id_col="fact_id"
            ).withColumnRenamed("sim", "similarity")
            content = ve.select("fact_id", "content")
            pairs = (
                sims.join(
                    content.select(
                        F.col("fact_id").alias("a_id"),
                        F.col("content").alias("a_content"),
                    ),
                    "a_id",
                )
                .join(
                    content.select(
                        F.col("fact_id").alias("b_id"),
                        F.col("content").alias("b_content"),
                    ),
                    "b_id",
                )
                .orderBy(F.col("similarity").desc(), F.col("a_id"), F.col("b_id"))
                .limit(limit)
                .select("a_id", "b_id", "a_content", "b_content", "similarity")
            )
            return [r.asDict() for r in pairs.collect()]
        finally:
            ve.unpersist()

    def check_conflicts_for_content(
        self,
        content: str,
        category: str | None = None,
        threshold: float = 0.85,
        k: int = 10,
    ) -> list[dict[str, Any]]:
        """New-content probe before store (conflicts.go:172-241): the
        valid facts (of ``category``, when given) whose similarity to
        ``content`` is at least ``threshold``, top ``k``."""
        facts = self.store.table_arrow("mie_fact")
        facts = facts.filter(facts["valid"])
        if category:
            facts = facts.filter(pc.equal(facts["category"], category))
        return [
            {
                "fact_id": row["id"],
                "content": row["content"],
                "category": row["category"],
                "similarity": sim,
            }
            for row, _, sim in self._cosine_top(content, {"mie_fact": facts}, k)
            if sim >= threshold
        ]

    # ------------------------------------------------------------------
    # export / import / raw query / usage (S5-S7, A5)
    # ------------------------------------------------------------------

    def export_rows(self, table: str) -> list[dict[str, Any]]:
        """The rows of ``table`` sorted by its key columns, the order
        every export emits: the store's own row order depends on which
        buckets commits rewrote, so two exports of the same rows are
        byte-identical only when sorted."""
        t = self.store.table_arrow(table)
        return _order(t, [(k, False) for k in key_columns(table)]).to_pylist()

    def export_json(self) -> dict[str, list[dict[str, Any]]]:
        """Full-graph JSON export (reader.go:707-764)."""
        out: dict[str, list[dict[str, Any]]] = {}
        for table in list(NODE_TABLES) + list(EDGE_TABLES):
            out[table] = self.export_rows(table)
        return out

    def export_graph(
        self,
        node_types: list[str] | None = None,
        include_embeddings: bool = False,
    ) -> dict[str, Any]:
        """`ExportGraph` parity (client.go:245-247, reader.go:707-779;
        ExportOptions/ExportData shapes at tools/client.go:240-257):
        a VERSIONED export of the selected node types with per-type
        stats — empty/None node_types means all five, unknown names
        are ignored exactly like the reference's switch. Edges ride
        along under 'relationships' (the ExportData field the
        reference populates from the edge tables), filtered to those
        whose endpoint types were both selected; include_embeddings
        adds each selected type's embedding table. export_json stays
        the flat everything-dump the CLI round-trips."""
        # exact ExportData JSON field names (tools/client.go:251-255);
        # ExportedAt serializes as an RFC3339 UTC string in the
        # reference (reader.go:710), not unix seconds — derive it from
        # the same now_s() clock so tests can freeze time one place.
        import datetime as _dt

        exported_at = (
            _dt.datetime.fromtimestamp(now_s(), tz=_dt.timezone.utc)
            .strftime("%Y-%m-%dT%H:%M:%SZ")
        )
        plural = {
            "fact": "facts",
            "decision": "decisions",
            "entity": "entities",
            "event": "events",
            "topic": "topics",
        }
        chosen = [t for t in (node_types or list(plural)) if t in plural]
        out: dict[str, Any] = {
            "version": "1",
            "exported_at": exported_at,
            "stats": {},
        }
        for nt in chosen:
            rows = self.export_rows(f"mie_{nt}")
            out[plural[nt]] = rows
            out["stats"][plural[nt]] = len(rows)
        prefixes = {
            "mie_invalidates": ("fact", "fact"),
            "mie_decision_topic": ("decision", "topic"),
            "mie_decision_entity": ("decision", "entity"),
            "mie_event_decision": ("event", "decision"),
            "mie_fact_entity": ("fact", "entity"),
            "mie_fact_topic": ("fact", "topic"),
            "mie_entity_topic": ("entity", "topic"),
        }
        rels: dict[str, list[dict[str, Any]]] = {}
        for table, (a, b) in prefixes.items():
            if a in chosen and b in chosen:
                rels[table] = self.export_rows(table)
        if rels:
            out["relationships"] = rels
        if include_embeddings:
            emb: dict[str, list[dict[str, Any]]] = {}
            for table, key in EMBEDDING_TABLES.items():
                nt = key.removesuffix("_id")
                if nt in chosen:
                    emb[table] = self.export_rows(table)
            out["embeddings"] = emb
        return out

    # Reference-named aliases for drop-in parity — the reference exposes
    # the same traversals under these names (GetRelatedEntities
    # reader.go:464; GetRelatedFacts reader.go:586, itself an alias of
    # GetFactsAboutEntity; IncrementCounter client.go:250-292, which our
    # store implements atomically).
    def get_related_entities(self, fact_id: str) -> list[dict[str, Any]]:
        return self.get_entities_for_fact(fact_id)

    def get_related_facts(self, entity_id: str) -> list[dict[str, Any]]:
        return self.get_facts_for_entity(entity_id)

    def increment_counter(self, key: str) -> int:
        return self.store.meta_increment(key)

    def import_json(
        self, data: dict[str, list[dict[str, Any]]], dry_run: bool = False
    ) -> int:
        """Re-store imported nodes: IDs re-derive from content and
        embeddings regenerate, exactly like the reference import
        (cmd/mie/import.go:116-207). Provenance fields (source_agent /
        source_conversation) survive the round trip, and facts exported
        with valid=False are re-flagged after the re-store — the
        mie_invalidates edges import as exported, so leaving the flag True
        would desync the graph from its own invalidation edges.

        Every row is built and validated before anything is written,
        and the import commits as one transaction: a bad row imports
        nothing. Returns the number of node and edge rows (embedding
        tables in the input are regenerated, not counted); ``dry_run``
        validates and counts without writing (import.go's --dry-run)."""
        batch = {
            t: [node_row(t, item) for item in data.get(t, [])] for t in NODE_TABLES
        }
        for t, (keys, _) in EDGE_TABLES.items():
            for r in data.get(t, []):
                # role "" or NULL is how an edge without a role is stored
                # (add_relationship with no role): it imports as such
                values = {k: v for k, v in r.items() if k != "role" or v}
                extend_batch(batch, edge_rows(t, r[keys[0]], r[keys[1]], values))
        n = sum(len(rows) for rows in batch.values())
        if dry_run:
            return n
        extend_batch(batch, self._embedding_rows(batch))
        facts = batch["mie_fact"]
        latest = {r["id"]: r for r in facts}
        facts += [
            dict(latest[r["id"]], valid=False)
            for r, item in zip(facts, data.get("mie_fact", []))
            if item.get("valid") is False
        ]
        self._commit(batch)
        return n

    def export_sql_script(self) -> str:
        """Rows rendered as replayable INSERT statements — the Spark
        analog of the reference's Datalog-script export
        (pkg/tools/export.go:59-115)."""
        lines: list[str] = []
        for table in list(NODE_TABLES) + list(EDGE_TABLES):
            for d in self.export_rows(table):
                cols = ", ".join(d.keys())
                vals = ", ".join(_sql_literal(v) for v in d.values())
                lines.append(f"INSERT INTO {table} ({cols}) VALUES ({vals});")
        return "\n".join(lines)

    def import_sql_script(
        self,
        script: str,
        dry_run: bool = False,
        regenerate_embeddings: bool = True,
    ) -> int:
        """Replay a script produced by ``export_sql_script`` — the S6
        import half (cmd/mie/import.go:209-227: the reference replays
        its exported Datalog through RawQuery; here the INSERTs replay
        through the store's idempotent upsert, so importing the same
        script twice is a no-op). Statements are split quote-aware
        (content strings may contain ``;``, ``,``, newlines, escaped
        quotes). The whole script commits as one transaction. Returns
        the number of rows parsed; ``dry_run`` parses and validates
        without writing (import.go's --dry-run).

        ``regenerate_embeddings`` (default on) re-embeds imported nodes
        so semantic search and conflict detection see them immediately —
        scripts carry no vectors. The reference's raw replay skips this
        (imported facts stay invisible to vector search until its async
        embedder is poked); pass False for byte-faithful parity."""
        import re

        stmt_re = re.compile(
            r"INSERT INTO (\w+)\s*\(([^)]*)\)\s*VALUES\s*\((.*)\)$", re.DOTALL
        )
        known = set(NODE_TABLES) | set(EDGE_TABLES)
        batches: dict[str, list[dict[str, Any]]] = {}
        n = 0
        for stmt in _split_sql_statements(script):
            m = stmt_re.match(stmt)
            if not m:
                raise ValueError(f"unsupported statement: {stmt[:80]!r}")
            table = m.group(1)
            if table not in known:
                raise ValueError(f"unknown table in script: {table!r}")
            cols = [c.strip() for c in m.group(2).split(",")]
            vals = _parse_sql_row(m.group(3))
            if len(cols) != len(vals):
                raise ValueError(
                    f"column/value arity mismatch in: {stmt[:80]!r}"
                )
            batches.setdefault(table, []).append(dict(zip(cols, vals)))
            n += 1
        if dry_run:
            return n
        if regenerate_embeddings:
            extend_batch(batches, self._embedding_rows(batches))
        self._commit(batches)
        return n

    def raw_query(self, sql: str) -> DataFrame:
        """The raw escape hatch: reference exposes CozoScript
        (cmd/mie/query.go:22-123); here it is the whole Spark SQL
        surface over the registered graph tables."""
        for table in list(NODE_TABLES) + list(EDGE_TABLES) + list(EMBEDDING_TABLES):
            self.store.table(table).createOrReplaceTempView(table)
        self.store.table("mie_meta").createOrReplaceTempView("mie_meta")
        return self.spark.sql(sql)

    def record_query(self) -> None:
        self._commit({}, usage="query")

    def record_store(self) -> None:
        self._commit({}, usage="store")

    def get_usage(self) -> dict[str, Any]:
        meta = self.store.meta_values(
            [
                "total_queries",
                "total_stores",
                "last_query_at",
                "last_store_at",
                "schema_version",
            ]
        )
        return {
            "total_queries": int(meta.get("total_queries") or 0),
            "total_stores": int(meta.get("total_stores") or 0),
            "last_query_at": meta.get("last_query_at"),
            "last_store_at": meta.get("last_store_at"),
            "schema_version": meta.get("schema_version"),
        }

    def reset(self) -> None:
        self.store.reset()

    def backup(self, dest: str) -> dict[str, str]:
        """Point-in-time copy of every table (cozodb.go:174-201 Backup),
        written as plain parquet under ``dest``."""
        return self.store.backup(dest)

    def restore(self, src: str) -> dict[str, str]:
        """Replace store state with a backup's (cozodb.go:203-232)."""
        return self.store.restore(src)

    # ------------------------------------------------------------------

    def _resolve_type(self, node_type: str) -> str:
        table = _TYPE_ALIASES.get(node_type, node_type)
        if table not in NODE_TABLES:
            raise ValueError(f"unknown node type {node_type!r}")
        return table

    def _tables_for(self, node_types: list[str] | None) -> list[str]:
        if not node_types:
            return list(NODE_TABLES)
        return [self._resolve_type(t) for t in node_types]


# list order of exact search and list_nodes: newest first, then id
_NEWEST_FIRST = [("created_at", True), ("id", False)]


def _in(values: Any, candidates: Any) -> Any:
    """Mask: which of ``values`` are among ``candidates``; a NULL value
    matches nothing, as in a join."""
    return pc.is_in(
        values, value_set=pa.array(candidates, pa.string()), skip_nulls=True
    )


def _order(t: Any, keys: list[tuple[str, bool]]) -> Any:
    """The rows of Arrow table ``t`` in Spark's ORDER BY order for
    ``keys`` ((column, descending) pairs; no NaN in the columns):
    ascending puts NULLs first and descending puts them last, Spark's
    defaults. Stable, so equal keys keep their row order."""
    cols: dict[str, Any] = {}
    sort_keys = []
    for i, (col, desc) in enumerate(keys):
        if not desc:
            cols[f"valid{i}"] = pc.is_valid(t[col])
            sort_keys.append((f"valid{i}", "ascending"))
        cols[f"key{i}"] = t[col]
        sort_keys.append((f"key{i}", "descending" if desc else "ascending"))
    order = pc.sort_indices(
        pa.table(cols), sort_keys=sort_keys, null_placement="at_end"
    )
    return t.take(order)


def _first(t: Any) -> dict[str, Any] | None:
    """The lowest-id row of Arrow table ``t`` (None when empty)."""
    rows = _order(t, [("id", False)]).slice(0, 1).to_pylist()
    return rows[0] if rows else None


_COSINE_BLOCK = 2048  # rows per block of _cosine's fold


def _cosine(emb: Any, q: np.ndarray) -> np.ndarray:
    """Cosine similarity of each vector in ``emb`` (an Arrow list
    column) to ``q``, bit-identical to Spark's ``cosine_sim``
    (functions/vectors.py): elements widened to float64, each dot
    product and squared norm folded left to right from +0.0, then
    dot / (|e|·|q|). NaN where Spark's value is NULL or NaN — a NULL
    vector or element, a length other than ``q``'s, a zero norm — so
    callers drop those rows.

    The fold runs column by column over blocks of at most
    ``_COSINE_BLOCK`` rows, each flattened, widened and transposed once
    so that a column is contiguous: every element still sees the same
    left-to-right sequence of float64 operations, and the temporaries
    stay one block in size (widening the whole (rows, d) table took
    several float64 copies of it: a 50k x 768 query peaked past
    1.3 GB)."""
    d = len(q)
    sims = np.full(len(emb), np.nan)
    fits = pc.fill_null(pc.equal(pc.list_value_length(emb), d), False)
    fits = fits.to_numpy(zero_copy_only=False)
    if d == 0 or not fits.any():
        return sims
    if not fits.all():  # filtering copies every vector
        emb = emb.filter(pa.array(fits))
    dots = np.zeros(len(emb))
    sq = np.zeros(len(emb))
    for lo in range(0, len(emb), _COSINE_BLOCK):
        # flatten one block at a time: flattening a whole chunked
        # column copies all of it
        part = pc.list_flatten(emb.slice(lo, _COSINE_BLOCK))
        e = part.to_numpy(zero_copy_only=False).reshape(-1, d)
        # widen explicitly: float32 * a numpy float64 scalar is float32
        block = np.ascontiguousarray(e.T, dtype=np.float64)
        bdots, bsq = dots[lo : lo + len(e)], sq[lo : lo + len(e)]
        for j, col in enumerate(block):
            bdots += col * q[j]
            bsq += col * col
    den = np.sqrt(sq) * np.sqrt(np.cumsum(q * q)[-1])
    with np.errstate(divide="ignore", invalid="ignore"):
        sims[fits] = np.where(den != 0, dots / den, np.nan)
    return sims


def _sql_literal(value: Any) -> str:
    if value is None:
        return "NULL"
    if isinstance(value, bool):
        return "TRUE" if value else "FALSE"
    if isinstance(value, (int, float)):
        return str(value)
    escaped = str(value).replace("'", "''")
    return f"'{escaped}'"


def _split_sql_statements(script: str) -> list[str]:
    """Split on ``;`` outside string literals ('' is the escape)."""
    out: list[str] = []
    buf: list[str] = []
    in_str = False
    i = 0
    while i < len(script):
        ch = script[i]
        if in_str:
            buf.append(ch)
            if ch == "'":
                if i + 1 < len(script) and script[i + 1] == "'":
                    buf.append("'")
                    i += 2
                    continue
                in_str = False
            i += 1
            continue
        if ch == "'":
            in_str = True
            buf.append(ch)
            i += 1
            continue
        if ch == ";":
            stmt = "".join(buf).strip()
            if stmt:
                out.append(stmt)
            buf = []
            i += 1
            continue
        buf.append(ch)
        i += 1
    tail = "".join(buf).strip()
    if tail:
        out.append(tail)
    return out


def _parse_sql_row(values: str) -> list[Any]:
    """Parse one VALUES(...) body back into python values — the exact
    inverse of _sql_literal (strings with '' escapes, ints, floats,
    TRUE/FALSE/NULL)."""
    import re

    vals: list[Any] = []
    i, n = 0, len(values)
    while i < n:
        while i < n and values[i] in " ,\n\t":
            i += 1
        if i >= n:
            break
        if values[i] == "'":
            i += 1
            buf: list[str] = []
            while i < n:
                if values[i] == "'":
                    if i + 1 < n and values[i + 1] == "'":
                        buf.append("'")
                        i += 2
                        continue
                    i += 1
                    break
                buf.append(values[i])
                i += 1
            vals.append("".join(buf))
        else:
            j = i
            while j < n and values[j] != ",":
                j += 1
            tok = values[i:j].strip()
            i = j
            up = tok.upper()
            if up == "NULL":
                vals.append(None)
            elif up == "TRUE":
                vals.append(True)
            elif up == "FALSE":
                vals.append(False)
            elif re.fullmatch(r"-?\d+", tok):
                vals.append(int(tok))
            else:
                vals.append(float(tok))
    return vals
