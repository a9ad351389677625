"""The 9-tool API surface (pkg/tools/*.go, registered in
cmd/mie/mcp.go:228-238), as plain Python functions over MieClient.

Transport (MCP/JSON-RPC/stdio) is a non-Spark concern and out of engine
scope (SURVEY §7 Phase 5); these functions return dicts — any server
shell can render them. Clamps and error-accumulation semantics follow
the reference: list ≤100 (list.go:28-35), query ≤50 (query.go:23-29),
bulk ≤50 items (bulk_store.go:13), per-item errors collected rather
than aborting the batch (bulk_store.go:23-138).
"""

from __future__ import annotations

from typing import Any

from mie_spark.api.client import MieClient, edge_rows, extend_batch, item_row
from mie_spark.ids import node_type_of

MAX_BULK_ITEMS = 50
MAX_QUERY_LIMIT = 50
MAX_LIST_LIMIT = 100
EXPORT_TRUNCATE_BYTES = 100_000  # export.go truncates at 100KB


def analyze(client: MieClient, content: str, category: str | None = None) -> dict:
    """Pre-store analysis: what's similar + what conflicts
    (pkg/tools/analyze.go:19-149)."""
    similar = client.semantic_search(content, limit=10)
    conflicts = client.check_conflicts_for_content(content, category, threshold=0.85)
    return {
        "similar": similar,
        "conflicts": conflicts,
        "recommendation": (
            "conflicts_found: review before storing"
            if conflicts
            else "no conflicts: safe to store"
        ),
    }


def store(client: MieClient, item: dict[str, Any]) -> dict:
    """Type-dispatched store with optional invalidation + relationship
    edges (pkg/tools/store.go:32-292), committed with the usage counter
    as ONE transaction: a bad invalidation or relationship writes
    nothing, not even the node."""
    table, row = item_row(item)
    batch = {table: [row]}
    if item.get("invalidates"):
        extend_batch(
            batch,
            client._invalidation_rows(
                row["id"], item["invalidates"], item.get("invalidation_reason", ""),
                batch,
            ),
        )
    for rel in item.get("relationships", []):
        extend_batch(
            batch, edge_rows(rel["edge_table"], rel["from_id"], rel["to_id"], rel)
        )
    # only the new node is embedded: an invalidated fact keeps its text
    extend_batch(batch, client._embedding_rows({table: [row]}))
    client._commit(batch, usage="store")
    return {"id": row["id"], "type": item.get("type")}


def bulk_store(client: MieClient, items: list[dict[str, Any]]) -> dict:
    """Two-phase bulk store with intra-batch `target_ref` resolution
    (pkg/tools/bulk_store.go:23-138): phase 1 builds and embeds every
    node and records its id by batch index; phase 2 builds invalidations
    and relationships, where `target_ref: N` means "the node stored from
    item N of this batch" (J7, bulk_store.go:142-170). Per-item errors
    accumulate; one bad item never aborts the batch — a failing item's
    rows of that phase are left out, and when the batch fails to embed,
    the items are embedded one by one so only those whose text fails are
    reported. Everything that succeeded commits as ONE transaction, with
    the usage counter raised once per node."""
    if len(items) > MAX_BULK_ITEMS:
        raise ValueError(f"bulk store limited to {MAX_BULK_ITEMS} items")
    staged: dict[int, tuple[str, dict[str, Any]]] = {}
    errors: list[dict[str, Any]] = []
    for idx, item in enumerate(items):
        try:
            staged[idx] = item_row(item)
        except Exception as exc:  # noqa: BLE001 — error accumulation semantics
            errors.append({"index": idx, "error": str(exc)})
    nodes: dict[str, list[dict[str, Any]]] = {}
    for table, row in staged.values():
        nodes.setdefault(table, []).append(row)
    try:
        embedded = client._embedding_rows(nodes)
    except Exception:  # noqa: BLE001 — embed item by item to find the failing ones
        embedded = {}
        for idx, (table, row) in list(staged.items()):
            try:
                extend_batch(embedded, client._embedding_rows({table: [row]}))
            except Exception as exc:  # noqa: BLE001
                errors.append({"index": idx, "error": str(exc)})
                del staged[idx]
                nodes[table].remove(row)
        errors.sort(key=lambda e: e["index"])
    batch = {**nodes, **embedded}
    stored_ids = {idx: row["id"] for idx, (_, row) in staged.items()}

    def resolve(ref_or_id: Any) -> str:
        if ref_or_id is None:
            # silently coercing to str(None)='None' would insert a
            # bogus edge; surface it through the error accumulator
            raise KeyError("relationship needs to_ref or to_id")
        # bool is an int subtype: a JSON `true` must not index stored_ids
        if isinstance(ref_or_id, int) and not isinstance(ref_or_id, bool):
            if ref_or_id not in stored_ids:
                raise KeyError(f"target_ref {ref_or_id} did not store successfully")
            return stored_ids[ref_or_id]
        return str(ref_or_id)

    for idx, item in enumerate(items):
        if idx not in stored_ids:
            continue
        rows: dict[str, list[dict[str, Any]]] = {}
        try:
            target = item.get("invalidates_ref", item.get("invalidates"))
            if target is not None:
                rows = client._invalidation_rows(
                    stored_ids[idx], resolve(target),
                    item.get("invalidation_reason", ""), batch,
                )
            for rel in item.get("relationships", []):
                extend_batch(
                    rows,
                    edge_rows(
                        rel["edge_table"],
                        resolve(rel.get("from_ref", rel.get("from_id", idx))),
                        resolve(rel.get("to_ref", rel.get("to_id"))),
                        rel,
                    ),
                )
        except Exception as exc:  # noqa: BLE001
            errors.append({"index": idx, "phase": 2, "error": str(exc)})
            continue
        extend_batch(batch, rows)
    client._commit(batch, usage="store", n=len(stored_ids))
    return {
        "stored": [
            {"index": i, "id": stored_ids[i]} for i in sorted(stored_ids)
        ],
        "errors": errors,
    }


def query(
    client: MieClient,
    q: str,
    mode: str = "semantic",
    node_types: list[str] | None = None,
    limit: int = 10,
    graph_traversal: str | None = None,
    node_id: str | None = None,
) -> dict:
    """Mode dispatch semantic/exact/hybrid/graph — the reference's three
    modes (pkg/tools/query.go:32-41; graph mode exposes the six
    traversals, query.go:153-165) plus the hybrid BM25+vector RRF mode
    the reference lacks (client.hybrid_search)."""
    limit = max(1, min(limit, MAX_QUERY_LIMIT))
    if mode == "semantic":
        results = client.semantic_search(q, node_types, limit)
    elif mode == "exact":
        results = client.exact_search(q, node_types, limit)
    elif mode == "hybrid":
        results = client.hybrid_search(q, node_types, limit)
    elif mode == "graph":
        if not node_id or not graph_traversal:
            raise ValueError("graph mode requires node_id and graph_traversal")
        traversals = {
            "entities_for_fact": client.get_entities_for_fact,
            "facts_for_entity": client.get_facts_for_entity,
            "entities_for_decision": client.get_entities_for_decision,
            "decisions_for_entity": client.get_decisions_for_entity,
            "topics_for_fact": client.get_topics_for_fact,
            "invalidation_chain": client.get_invalidation_chain,
        }
        if graph_traversal not in traversals:
            raise ValueError(
                f"unknown traversal {graph_traversal!r}; valid: {sorted(traversals)}"
            )
        results = traversals[graph_traversal](node_id)[:limit]
    else:
        raise ValueError(f"unknown query mode {mode!r}")
    client.record_query()
    return {"mode": mode, "results": results, "count": len(results)}


def update(client: MieClient, operation: str, node_id: str, **kwargs: Any) -> dict:
    """invalidate / update_description / update_status with ID-prefix
    validation (pkg/tools/update.go:19-104)."""
    node_type_of(node_id)  # raises on malformed ids
    if operation == "invalidate":
        # node_id is the fact being invalidated; new_fact_id (optional)
        # is the superseding fact recorded on the edge — absent, the
        # fact is flipped invalid with no edge (a node_id fallback here
        # would write a self-superseding loop into mie_invalidates)
        client.invalidate_fact(
            kwargs.get("new_fact_id"), node_id, kwargs.get("reason", "")
        )
    elif operation == "update_description":
        client.update_description(node_id, kwargs["description"])
    elif operation == "update_status":
        client.update_status(node_id, kwargs["status"])
    else:
        raise ValueError(f"unknown update operation {operation!r}")
    return {"operation": operation, "id": node_id, "ok": True}


def list_nodes(client: MieClient, node_type: str, **filters: Any) -> dict:
    """Filters + sort + pagination + total (pkg/tools/list.go:19-134)."""
    limit = max(1, min(int(filters.pop("limit", MAX_LIST_LIMIT)), MAX_LIST_LIMIT))
    # JSON "number" arrives as float (10.0); slicing the listed rows
    # needs an int — coerce and clamp like limit
    offset = max(0, int(filters.pop("offset", 0)))
    rows, total = client.list_nodes(node_type, limit=limit, offset=offset, **filters)
    return {"results": rows, "total": total, "limit": limit}


def conflicts(client: MieClient, threshold: float = 0.85, limit: int = 50) -> dict:
    """Conflict scan + recency-based supersession recommendation
    (pkg/tools/conflicts.go:14-78). threshold = min similarity — the
    reference's similarity/distance quirk is fixed here (SURVEY §2.10)."""
    pairs = client.detect_conflicts(threshold, limit)
    # ONE batch lookup for every id in every pair: the per-pair
    # get_node_by_id loop costs 2×|pairs| sequential full scans on the
    # parquet engine just to read created_at
    nodes = client._fetch_nodes_by_ids(
        list({nid for p in pairs for nid in (p["a_id"], p["b_id"])})
    )
    recommendations = []
    for p in pairs:
        a = nodes.get(p["a_id"], {})
        b = nodes.get(p["b_id"], {})
        newer, older = (
            (p["a_id"], p["b_id"])
            if (a.get("created_at") or 0) >= (b.get("created_at") or 0)
            else (p["b_id"], p["a_id"])
        )
        recommendations.append(
            {"keep": newer, "supersede": older, "similarity": p["similarity"]}
        )
    return {"conflicts": pairs, "recommendations": recommendations}


def export(client: MieClient, fmt: str = "json") -> dict:
    """json or sql-script rendering, truncated at 100KB
    (pkg/tools/export.go:15-122)."""
    import json as _json

    if fmt == "json":
        payload = _json.dumps(client.export_json(), default=str)
    elif fmt == "sql":
        payload = client.export_sql_script()
    else:
        raise ValueError(f"unknown export format {fmt!r}")
    truncated = len(payload) > EXPORT_TRUNCATE_BYTES
    return {
        "format": fmt,
        "data": payload[:EXPORT_TRUNCATE_BYTES],
        "truncated": truncated,
    }


def status(client: MieClient) -> dict:
    """Stats + usage + health (pkg/tools/status.go:14-78)."""
    return {
        "stats": client.get_stats(),
        "usage": client.get_usage(),
        "healthy": True,
        "engine": "spark",
    }
