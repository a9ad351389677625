"""MCP stdio transport: the 9 tools served over JSON-RPC 2.0.

Parity surface for the reference's MCP server (cmd/mie/mcp.go:228-268:
newline-delimited JSON-RPC on stdin/stdout, tool handlers dispatching
into pkg/tools). The engine-side semantics all live in
mie_spark/api/tools.py; this module is ONLY framing: parse a request,
dispatch, render the result as MCP ``content``. No external MCP SDK —
the protocol subset a stdio client needs (initialize / tools/list /
tools/call / ping) is a few dozen lines of stdlib json.

Run: ``python -m mie_spark.api.mcp [store_path]`` (creates its own
SparkSession); or embed via ``McpStdioServer(client).serve(...)``.
"""

from __future__ import annotations

import json
import sys
from typing import Any, Callable, TextIO

from mie_spark.api import tools
from mie_spark.api.client import MieClient

PROTOCOL_VERSION = "2024-11-05"

_STR = {"type": "string"}
_NUM = {"type": "number"}


def _schema(required: list[str], **props: dict) -> dict:
    return {
        "type": "object",
        "properties": props,
        "required": required,
    }


# name → (handler(client, arguments) -> dict, description, inputSchema).
# Same 9 names the reference registers (cmd/mie/mcp.go:228-238).
TOOL_REGISTRY: dict[str, tuple[Callable[[MieClient, dict], dict], str, dict]] = {
    "mie_analyze": (
        lambda c, a: tools.analyze(c, a["content"], a.get("category")),
        "Pre-store analysis: similar items and conflicts for content",
        _schema(["content"], content=_STR, category=_STR),
    ),
    "mie_store": (
        lambda c, a: tools.store(c, a),
        "Store one memory item. Per-type fields: fact needs content "
        "(+category/confidence); decision needs title+rationale "
        "(+alternatives/context/status); entity needs name+kind "
        "(+description); event needs title (+description/event_date); "
        "topic needs name (+description). Optional: invalidates (fact "
        "id this item supersedes, +invalidation_reason) and "
        "relationships (edges to create: edge_table/from_id/to_id)",
        _schema(
            ["type"],
            type=_STR,
            content=_STR,
            category=_STR,
            confidence=_NUM,
            title=_STR,
            rationale=_STR,
            alternatives=_STR,
            context=_STR,
            status=_STR,
            name=_STR,
            kind=_STR,
            description=_STR,
            event_date=_STR,
            source_agent=_STR,
            source_conversation=_STR,
            invalidates=_STR,
            invalidation_reason=_STR,
            relationships={"type": "array", "items": {"type": "object"}},
        ),
    ),
    "mie_bulk_store": (
        lambda c, a: tools.bulk_store(c, a["items"]),
        "Store up to 50 items; per-item errors are accumulated",
        _schema(["items"], items={"type": "array"}),
    ),
    "mie_query": (
        lambda c, a: tools.query(
            c,
            a.get("query", a.get("q", "")),
            a.get("mode", "semantic"),
            a.get("node_types"),
            int(a.get("limit", 10)),
            a.get("graph_traversal"),
            a.get("node_id"),
        ),
        "Query memory: semantic | exact | hybrid | graph traversal",
        _schema(["query"], query=_STR, mode=_STR, limit=_NUM,
                node_types={"type": "array", "items": {"type": "string"}},
                graph_traversal=_STR, node_id=_STR),
    ),
    "mie_update": (
        lambda c, a: tools.update(
            c,
            a["operation"],
            a["node_id"],
            **{k: v for k, v in a.items() if k not in ("operation", "node_id")},
        ),
        "invalidate / update_description / update_status on a node",
        _schema(["operation", "node_id"], operation=_STR, node_id=_STR,
                new_fact_id=_STR, reason=_STR, description=_STR, status=_STR),
    ),
    "mie_list": (
        lambda c, a: tools.list_nodes(
            c,
            a["node_type"],
            **{k: v for k, v in a.items() if k != "node_type"},
        ),
        "List nodes of a type with filters, sort, pagination",
        _schema(["node_type"], node_type=_STR, limit=_NUM, offset=_NUM,
                category=_STR, kind=_STR, status=_STR,
                valid_only={"type": "boolean"}),
    ),
    "mie_conflicts": (
        lambda c, a: tools.conflicts(
            c, float(a.get("threshold", 0.85)), int(a.get("limit", 50))
        ),
        "Scan stored facts for semantic conflicts",
        _schema([], threshold=_NUM, limit=_NUM),
    ),
    "mie_export": (
        lambda c, a: tools.export(c, a.get("format", "json")),
        "Export memory as json or a replayable sql script",
        _schema([], format=_STR),
    ),
    "mie_status": (
        lambda c, a: tools.status(c),
        "Store statistics, usage counters, health",
        _schema([]),
    ),
}


class McpStdioServer:
    def __init__(self, client: MieClient):
        self.client = client

    # -- protocol ----------------------------------------------------------

    def handle(self, req: dict) -> dict | None:
        """One JSON-RPC request → response dict (None for notifications)."""
        rid = req.get("id")
        method = req.get("method", "")
        try:
            if method == "initialize":
                result = {
                    "protocolVersion": PROTOCOL_VERSION,
                    "capabilities": {"tools": {}},
                    "serverInfo": {"name": "mie-spark", "version": "0.1"},
                }
            elif method == "ping":
                result = {}
            elif method == "tools/list":
                result = {
                    "tools": [
                        {"name": n, "description": d, "inputSchema": s}
                        for n, (_, d, s) in TOOL_REGISTRY.items()
                    ]
                }
            elif method == "tools/call":
                result = self._call(req.get("params") or {})
            elif method.startswith("notifications/"):
                return None
            else:
                if rid is None:
                    return None  # unknown notification: still no response
                return self._error(rid, -32601, f"method not found: {method}")
        except Exception as exc:  # noqa: BLE001 — tool errors become MCP isError
            if rid is None:
                return None  # notifications never get a response, even on error
            return {
                "jsonrpc": "2.0",
                "id": rid,
                "result": {
                    "content": [{"type": "text", "text": f"{type(exc).__name__}: {exc}"}],
                    "isError": True,
                },
            }
        if rid is None:
            return None  # notification: no response
        return {"jsonrpc": "2.0", "id": rid, "result": result}

    def _call(self, params: dict) -> dict:
        name = params.get("name", "")
        if name not in TOOL_REGISTRY:
            raise ValueError(f"unknown tool {name!r}; valid: {sorted(TOOL_REGISTRY)}")
        handler, _, _ = TOOL_REGISTRY[name]
        out = handler(self.client, params.get("arguments") or {})
        return {
            "content": [{"type": "text", "text": json.dumps(out, default=str)}],
            "isError": False,
        }

    @staticmethod
    def _error(rid: Any, code: int, message: str) -> dict:
        return {
            "jsonrpc": "2.0",
            "id": rid,
            "error": {"code": code, "message": message},
        }

    # -- transport ---------------------------------------------------------

    def serve(self, stdin: TextIO, stdout: TextIO) -> None:
        """Newline-delimited JSON-RPC loop (MCP stdio framing). EOF ends
        the session; malformed JSON gets a -32700 parse error."""
        for line in stdin:
            line = line.strip()
            if not line:
                continue
            try:
                req = json.loads(line)
            except json.JSONDecodeError as exc:
                resp: dict | None = self._error(None, -32700, f"parse error: {exc}")
            else:
                resp = self.handle(req)
            if resp is not None:
                stdout.write(json.dumps(resp) + "\n")
                stdout.flush()


def main() -> None:
    from mie_spark.config import default_config, load_config
    from mie_spark.session import get_spark

    path = sys.argv[1] if len(sys.argv) > 1 else None
    # the session factory `cli --mcp` uses, so raw_query has one SQL
    # semantics (ANSI off, UTC) however the server was started
    spark = get_spark("mie_mcp")
    # Build from the SAME config plane as the CLI (--mcp) path: a bare
    # MieClient(spark, path=path) would pin embedding_dim to its 4-dim
    # default, and serving a store written by the 768-dim configured
    # mock would then mix vector widths — semantic search and the
    # conflict probe skip every stored vector whose width differs from
    # the query's (client._cosine), so no pre-existing row would ever be
    # found. Config discovery failures fall back to defaults
    # (same tolerance as cli._load_cfg with fallback).
    try:
        cfg = load_config()
    except (FileNotFoundError, ValueError):
        cfg = default_config()
    if path:
        cfg.storage.engine = "parquet"
        cfg.storage.path = path
    McpStdioServer(MieClient.from_config(spark, cfg)).serve(sys.stdin, sys.stdout)


if __name__ == "__main__":
    main()
