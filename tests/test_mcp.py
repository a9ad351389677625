"""MCP stdio transport tests: the JSON-RPC framing over the 9 tools
(reference: cmd/mie/mcp.go). Engine semantics are covered by
tests/test_client.py; these pin the protocol surface — handshake, tool
listing, call dispatch, error shapes, and the newline-delimited loop.
"""

from __future__ import annotations

import io
import json

import pytest

from mie_spark.api import MieClient
from mie_spark.api.mcp import TOOL_REGISTRY, McpStdioServer


@pytest.fixture()
def server(spark):
    return McpStdioServer(MieClient(spark, path=None, embedding_dim=4))


def _call(server, method, params=None, rid=1):
    return server.handle(
        {"jsonrpc": "2.0", "id": rid, "method": method, "params": params or {}}
    )


def _tool_payload(resp):
    assert resp["result"]["isError"] is False, resp
    return json.loads(resp["result"]["content"][0]["text"])


def test_initialize_and_list(server):
    init = _call(server, "initialize")
    assert init["result"]["serverInfo"]["name"] == "mie-spark"
    listed = _call(server, "tools/list")
    names = {t["name"] for t in listed["result"]["tools"]}
    assert names == set(TOOL_REGISTRY) and len(names) == 9


def test_store_query_status_roundtrip(server):
    stored = _tool_payload(
        _call(
            server,
            "tools/call",
            {
                "name": "mie_store",
                "arguments": {
                    "type": "fact",
                    "content": "MCP transport works",
                    "category": "general",
                },
            },
        )
    )
    assert stored["id"].startswith("fact:")
    queried = _tool_payload(
        _call(
            server,
            "tools/call",
            {
                "name": "mie_query",
                "arguments": {"query": "MCP transport", "mode": "exact"},
            },
        )
    )
    assert queried["count"] == 1
    assert queried["results"][0]["id"] == stored["id"]
    st = _tool_payload(_call(server, "tools/call", {"name": "mie_status"}))
    assert st["healthy"] is True and st["engine"] == "spark"


def test_unknown_tool_is_mcp_error(server):
    resp = _call(server, "tools/call", {"name": "mie_nonsense"})
    assert resp["result"]["isError"] is True
    assert "unknown tool" in resp["result"]["content"][0]["text"]


def test_unknown_method_is_jsonrpc_error(server):
    resp = _call(server, "no/such/method")
    assert resp["error"]["code"] == -32601


def test_notifications_get_no_response(server):
    assert (
        server.handle({"jsonrpc": "2.0", "method": "notifications/initialized"})
        is None
    )
    # even failing or unknown requests stay silent when they carry no id
    assert (
        server.handle(
            {
                "jsonrpc": "2.0",
                "method": "tools/call",
                "params": {"name": "mie_nonsense"},
            }
        )
        is None
    )
    assert server.handle({"jsonrpc": "2.0", "method": "no/such"}) is None


def test_serve_loop_framing(server):
    stdin = io.StringIO(
        "\n".join(
            [
                json.dumps({"jsonrpc": "2.0", "id": 1, "method": "initialize"}),
                "this is not json",
                json.dumps({"jsonrpc": "2.0", "id": 2, "method": "ping"}),
            ]
        )
        + "\n"
    )
    stdout = io.StringIO()
    server.serve(stdin, stdout)
    lines = [json.loads(ln) for ln in stdout.getvalue().splitlines()]
    assert lines[0]["id"] == 1 and "result" in lines[0]
    assert lines[1]["error"]["code"] == -32700
    assert lines[2]["id"] == 2 and lines[2]["result"] == {}


def _store(server, rid, **arguments):
    return _tool_payload(
        _call(server, "tools/call", {"name": "mie_store", "arguments": arguments},
              rid=rid)
    )


def test_store_update_invalidate_flow(server):
    """e2e_test.go TestMCPStoreAndUpdate: store old + replacement facts,
    invalidate the old via mie_update with the replacement id, then a
    valid_only list shows only the replacement."""
    old = _store(server, 2, type="fact",
                 content="Seawater freezes at exactly -5 Celsius",
                 category="general")
    new = _store(server, 3, type="fact",
                 content="Seawater freezes at about -2 Celsius",
                 category="general")
    upd = _tool_payload(
        _call(server, "tools/call", {
            "name": "mie_update",
            "arguments": {
                "operation": "invalidate",
                "node_id": old["id"],
                "new_fact_id": new["id"],
                "reason": "Incorrect temperature",
            },
        }, rid=4)
    )
    assert upd["ok"] is True
    listed = _tool_payload(
        _call(server, "tools/call", {
            "name": "mie_list",
            "arguments": {"node_type": "fact", "valid_only": True},
        }, rid=5)
    )
    assert listed["total"] == 1
    assert listed["results"][0]["id"] == new["id"]


def test_store_multiple_types_and_exact_query(server):
    """e2e_test.go TestMCPStoreMultipleTypes / TestMCPStoreAndQuery."""
    _store(server, 2, type="fact", content="Acme Corp ships anvils",
           category="general")
    ent = _store(server, 3, type="entity", name="Acme Corp", kind="company",
                 description="A fictional company")
    _store(server, 4, type="topic", name="logistics",
           description="shipping things")
    assert ent["id"].startswith("ent:")
    q = _tool_payload(
        _call(server, "tools/call", {
            "name": "mie_query",
            "arguments": {"query": "Acme Corp", "mode": "exact",
                          "node_types": ["entity"]},
        }, rid=5)
    )
    assert q["count"] == 1
    assert q["results"][0]["id"] == ent["id"]


def test_export_over_mcp(server):
    """e2e_test.go TestMCPExport: stored content appears in the export
    payload; truncation flag present."""
    _store(server, 2, type="fact", content="exportable fact",
           category="general")
    exp = _tool_payload(
        _call(server, "tools/call",
              {"name": "mie_export", "arguments": {"format": "json"}}, rid=3)
    )
    assert exp["truncated"] is False
    assert "exportable fact" in exp["data"]


def test_analyze_and_conflicts_over_mcp(server):
    """e2e_test.go TestMCPAnalyze / TestMCPConflicts: identical content
    stored twice is surfaced by both the pre-store analysis and the
    conflict scan with a supersession recommendation."""
    first = _store(server, 2, type="fact", content="The sky is blue",
                   category="general")
    ana = _tool_payload(
        _call(server, "tools/call", {
            "name": "mie_analyze",
            "arguments": {"content": "The sky is blue"},
        }, rid=3)
    )
    assert any(s["id"] == first["id"] for s in ana.get("similar", []))
    # identical text in a second category: distinct id, identical mock
    # embedding -> similarity 1.0 (the e2e conflict fixture's shape)
    _store(server, 4, type="fact", content="The sky is blue",
           category="technical")
    conf = _tool_payload(
        _call(server, "tools/call",
              {"name": "mie_conflicts", "arguments": {"threshold": 0.99}},
              rid=5)
    )
    assert conf["recommendations"], "near-identical facts must be flagged"
    rec = conf["recommendations"][0]
    assert {"keep", "supersede", "similarity"} <= set(rec)


def test_module_entry_point_uses_the_session_factory(spark, tmp_path, monkeypatch):
    """``python -m mie_spark.api.mcp`` builds its session through
    ``get_spark``, like ``cli --mcp``, so both entry points give
    raw_query the same SQL semantics; an EOF on stdin ends the loop."""
    import sys

    from mie_spark import session
    from mie_spark.api import mcp

    calls = []

    def factory(app_name="mie_spark", master=None):
        calls.append(app_name)
        return spark

    monkeypatch.setattr(session, "get_spark", factory)
    monkeypatch.chdir(tmp_path)
    monkeypatch.delenv("MIE_CONFIG_PATH", raising=False)
    monkeypatch.setattr(sys, "argv", ["mcp", str(tmp_path / "store")])
    monkeypatch.setattr(sys, "stdin", io.StringIO(""))
    out = io.StringIO()
    monkeypatch.setattr(sys, "stdout", out)
    mcp.main()
    assert calls == ["mie_mcp"]
    assert out.getvalue() == ""
