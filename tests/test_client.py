"""MieClient integration tests against an ephemeral store, modeled on
the reference's integration suite (pkg/memory/integration_test.go):
lifecycle (:104), semantic ranking (:237), conflicts (:287), idempotency
(:338), traversal (:388), export (:465), stats (:540), edge cases
(:613-757), list filters (:815).
"""

from __future__ import annotations

import pytest

from mie_spark.api import MieClient
from mie_spark.api import tools
from mie_spark.embedding import MockEmbeddingProvider


@pytest.fixture()
def client(spark):
    return MieClient(spark, path=None, embedding_dim=4)


def test_full_lifecycle(client):
    """store → query → traverse → invalidate → export."""
    fid = client.store_fact("User prefers PostgreSQL for databases", "preference")
    eid = client.store_entity("PostgreSQL", "technology", "relational database")
    client.add_relationship("mie_fact_entity", fid, eid)

    hits = client.exact_search("PostgreSQL", node_types=["fact"])
    assert [h["id"] for h in hits] == [fid]
    assert hits[0]["category"] == "preference"
    assert hits[0]["valid"] is True

    ents = client.get_entities_for_fact(fid)
    assert [e["id"] for e in ents] == [eid]
    facts = client.get_facts_for_entity(eid)
    assert [f["id"] for f in facts] == [fid]

    fid2 = client.store_fact("User now prefers MySQL", "preference")
    client.invalidate_fact(fid2, fid, "changed preference")
    assert client.get_node_by_id(fid)["valid"] is False
    chain = client.get_invalidation_chain(fid)
    assert len(chain) == 1
    assert chain[0]["new_fact_id"] == fid2
    assert chain[0]["old_content"] == "User prefers PostgreSQL for databases"

    export = client.export_json()
    assert len(export["mie_fact"]) == 2
    assert len(export["mie_fact_entity"]) == 1
    assert len(export["mie_invalidates"]) == 1


def test_idempotent_upsert(client):
    """Content-hash identity makes repeated stores a no-op
    (integration_test.go:338 TestIntegrationIdempotency)."""
    a = client.store_fact("same content", "general")
    b = client.store_fact("same content", "general")
    assert a == b
    _, total = client.list_nodes("fact")
    assert total == 1


def test_semantic_search_ranks_self_first(client):
    client.store_fact("alpha beta gamma", "general")
    client.store_fact("totally different text", "general")
    top = client.semantic_search("alpha beta gamma", limit=2)
    assert top[0]["content"] == "alpha beta gamma"
    assert top[0]["similarity"] > 0.999
    assert top[0]["similarity"] >= top[1]["similarity"]


def test_semantic_search_excludes_invalid(client):
    fid = client.store_fact("obsolete statement", "general")
    fid2 = client.store_fact("fresh statement", "general")
    client.invalidate_fact(fid2, fid)
    hits = client.semantic_search("obsolete statement", limit=5)
    assert fid not in [h.get("id") for h in hits]


def test_conflict_detection_identical_content(client):
    """Same text in two categories → distinct IDs, identical embeddings
    → similarity 1.0 conflict pair (integration_test.go:287)."""
    a = client.store_fact("the sky is blue", "general")
    b = client.store_fact("the sky is blue", "technical")
    assert a != b
    pairs = client.detect_conflicts(threshold=0.99)
    assert len(pairs) == 1
    assert {pairs[0]["a_id"], pairs[0]["b_id"]} == {a, b}
    assert pairs[0]["similarity"] > 0.999

    probe = client.check_conflicts_for_content("the sky is blue", threshold=0.99)
    assert len(probe) == 2


def test_decision_entity_role_traversal(client):
    did = client.store_decision("Adopt Spark", "scales horizontally")
    eid = client.store_entity("Spark", "technology")
    client.add_relationship("mie_decision_entity", did, eid, role="subject")
    rels = client.get_entities_for_decision(did)
    assert rels[0]["role"] == "subject"
    back = client.get_decisions_for_entity(eid)
    assert back[0]["id"] == did


def test_validators(client):
    with pytest.raises(ValueError):
        client.store_entity("X", "not-a-kind")
    with pytest.raises(ValueError):
        client.store_decision("t", "r", status="bogus")
    with pytest.raises(ValueError):
        client.add_relationship("mie_decision_entity", "dec:x", "ent:y", role="nope")
    with pytest.raises(ValueError):
        client.add_relationship("not_a_table", "a", "b")
    # invalid category coerces, invalid confidence clamps (writer.go:39-44)
    fid = client.store_fact("x", "weird-category", confidence=7.0)
    node = client.get_node_by_id(fid)
    assert node["category"] == "general"
    assert node["confidence"] == 0.8


def test_unicode_and_escaping(client):
    """Japanese/emoji/quotes/backslashes round-trip
    (integration_test.go:613-757)."""
    for content in ("日本語のテキスト", "emoji 🎉✓", 'quotes "and" \'more\'', "back\\slash"):
        fid = client.store_fact(content, "general")
        assert client.get_node_by_id(fid)["content"] == content
        assert client.find_fact_by_content(content)["id"] == fid


def test_list_filters_and_pagination(client):
    for i in range(5):
        client.store_fact(f"tech fact {i}", "technical")
    client.store_fact("personal fact", "personal")
    rows, total = client.list_nodes("fact", category="technical", limit=3)
    assert total == 5
    assert len(rows) == 3
    rows2, _ = client.list_nodes("fact", category="technical", limit=3, offset=3)
    assert len(rows2) == 2
    assert {r["id"] for r in rows} & {r["id"] for r in rows2} == set()


def test_stats(client):
    client.store_fact("a", "general")
    fid = client.store_fact("b", "general")
    fid2 = client.store_fact("c", "general")
    client.invalidate_fact(fid2, fid)
    client.store_entity("E", "other")
    client.store_topic("T")
    s = client.get_stats()
    assert s["facts"] == 3
    assert s["valid_facts"] == 2
    assert s["invalid_facts"] == 1
    assert s["entities"] == 1
    assert s["topics"] == 1
    assert s["relationships"] == 1  # the invalidation edge


def test_find_entity_case_insensitive(client):
    eid = client.store_entity("PostgreSQL", "technology")
    assert client.find_entity_by_name("POSTGRESQL")["id"] == eid


def test_find_decision_by_title_substring(client):
    """reader.go:438-462: str_includes on title, limit 1."""
    did = client.store_decision("Adopt PostgreSQL for the core store", "rationale")
    client.store_decision("Unrelated choice", "r2")
    assert client.find_decision_by_title("PostgreSQL")["id"] == did
    # full title matches too; substring semantics, not equality
    assert client.find_decision_by_title("Adopt PostgreSQL for the core store")["id"] == did
    assert client.find_decision_by_title("no such title") is None


def test_export_import_roundtrip(client, spark):
    client.store_fact("exported fact", "general")
    client.store_entity("Exported", "other", "desc")
    data = client.export_json()
    other = MieClient(spark, path=None, embedding_dim=4)
    n = other.import_json(data)
    assert n == 2
    assert other.find_fact_by_content("exported fact") is not None
    # IDs re-derive identically because identity is content-hash
    assert (
        other.find_fact_by_content("exported fact")["id"]
        == client.find_fact_by_content("exported fact")["id"]
    )


def test_sql_script_roundtrip(client, spark):
    """S6 both halves: export_sql_script → import_sql_script replays
    into a fresh store with identical contents — including content that
    stresses the parser (quotes, commas, semicolons, newlines)."""
    content = "it's tricky; really, 'quoted'\nand multiline"
    fid = client.store_fact(content, "general")
    eid = client.store_entity("Scripted", "technology", "desc, with; stuff")
    client.add_relationship("mie_fact_entity", fid, eid)

    script = client.export_sql_script()
    other = MieClient(spark, path=None, embedding_dim=4)
    assert other.import_sql_script(script, dry_run=True) == 3
    assert other.find_fact_by_content(content) is None
    n = other.import_sql_script(script)
    assert n == 3
    fact = other.find_fact_by_content(content)
    assert fact is not None and fact["id"] == fid
    assert other.export_sql_script() == script
    # idempotent: replaying is a no-op (upsert by content-hash key)
    other.import_sql_script(script)
    assert other.export_sql_script() == script
    # imported nodes are re-embedded (scripts carry no vectors), so
    # semantic search and conflict detection see them immediately
    hits = other.semantic_search("tricky multiline", limit=5)
    assert fid in {h["id"] for h in hits}
    assert (
        other.semantic_search("tricky", limit=5)[0]["id"]
        == client.semantic_search("tricky", limit=5)[0]["id"]
    )


def test_import_sql_script_rejects_garbage(client):
    with pytest.raises(ValueError, match="unsupported statement"):
        client.import_sql_script("DROP TABLE mie_fact;")
    with pytest.raises(ValueError, match="unknown table"):
        client.import_sql_script(
            "INSERT INTO evil_table (a) VALUES (1);"
        )


def test_raw_query_escape_hatch(client):
    client.store_fact("raw sql target", "technical")
    df = client.raw_query(
        "SELECT category, count(*) AS n FROM mie_fact GROUP BY category"
    )
    rows = {r["category"]: r["n"] for r in df.collect()}
    assert rows == {"technical": 1}


def test_parquet_engine_persistence(spark, tmp_path):
    path = str(tmp_path / "mie_store")
    c1 = MieClient(spark, path=path, embedding_dim=4)
    fid = c1.store_fact("persisted fact", "general")
    del c1
    c2 = MieClient(spark, path=path, embedding_dim=4)
    assert c2.get_node_by_id(fid)["content"] == "persisted fact"
    c2.reset()
    assert c2.get_node_by_id(fid) is None


def test_meta_get_empty_table_fast_path(spark, tmp_path):
    """meta_get's no-snapshot fast path (r13 optimization) must be
    indistinguishable from the Spark path it short-circuits: a key in
    an empty mie_meta is absent, and the first write restores the
    normal read path."""
    import shutil

    from mie_spark.storage import MieStore

    path = str(tmp_path / "meta_store")
    store = MieStore(spark, path=path, embedding_dim=4)
    # init's ensure_schema exercised the fast path once (fresh store)
    # and then wrote schema_version through the real merge:
    assert store.meta_get("schema_version") == "1"
    assert store.meta_get("never_written") is None
    # recreate the fresh-table state post-init: no snapshot dir at all
    shutil.rmtree(f"{path}/mie_meta")
    assert store.meta_get("schema_version") is None  # fast path, no job
    store.meta_set("schema_version", "1")
    assert store.meta_get("schema_version") == "1"  # spark path again


def test_usage_counters(client):
    client.record_store()
    client.record_store()
    client.record_query()
    usage = client.get_usage()
    assert usage["total_stores"] == 2
    assert usage["total_queries"] == 1
    assert usage["schema_version"] == "1"


# ----------------------------------------------------------------------
# tool layer (pkg/tools) — modeled on the mock-Querier tool tests
# ----------------------------------------------------------------------


def test_tool_store_and_query(client):
    out = tools.store(
        client,
        {
            "type": "fact",
            "content": "Spark uses Catalyst",
            "category": "technical",
        },
    )
    assert out["id"].startswith("fact:")
    res = tools.query(client, "Catalyst", mode="exact", node_types=["fact"])
    assert res["count"] == 1


def test_tool_bulk_store_with_refs(client):
    """Cross-item target_ref resolution (bulk_store_test.go:89-158)."""
    out = tools.bulk_store(
        client,
        [
            {"type": "entity", "name": "Postgres", "kind": "technology"},
            {
                "type": "fact",
                "content": "Postgres is relational",
                "category": "technical",
                "relationships": [
                    {"edge_table": "mie_fact_entity", "from_ref": 1, "to_ref": 0}
                ],
            },
            {"type": "fact", "content": "old belief", "category": "general"},
            {
                "type": "fact",
                "content": "new belief",
                "category": "general",
                "invalidates_ref": 2,
            },
        ],
    )
    assert out["errors"] == []
    assert len(out["stored"]) == 4
    fact_id = out["stored"][1]["id"]
    ents = client.get_entities_for_fact(fact_id)
    assert ents[0]["name"] == "Postgres"
    old_id = out["stored"][2]["id"]
    assert client.get_node_by_id(old_id)["valid"] is False


def test_tool_bulk_store_error_accumulation(client):
    out = tools.bulk_store(
        client,
        [
            {"type": "entity", "name": "ok", "kind": "other"},
            {"type": "entity", "name": "bad", "kind": "invalid-kind"},
            {"type": "fact", "content": "still stored", "category": "general"},
        ],
    )
    assert len(out["stored"]) == 2
    assert len(out["errors"]) == 1
    assert out["errors"][0]["index"] == 1


def test_tool_bulk_store_cap(client):
    with pytest.raises(ValueError):
        tools.bulk_store(client, [{"type": "topic", "name": f"t{i}"} for i in range(51)])


def test_tool_analyze_conflicts(client):
    tools.store(client, {"type": "fact", "content": "the sky is blue", "category": "general"})
    out = tools.analyze(client, "the sky is blue")
    assert out["conflicts"]
    assert "review" in out["recommendation"]


def test_tool_update_and_status(client):
    eid = client.store_entity("Renamed", "other", "old description")
    tools.update(client, "update_description", eid, description="new description")
    assert client.get_node_by_id(eid)["description"] == "new description"
    did = client.store_decision("D", "R")
    tools.update(client, "update_status", did, status="superseded")
    assert client.get_node_by_id(did)["status"] == "superseded"
    st = tools.status(client)
    assert st["healthy"] is True
    assert st["stats"]["entities"] == 1


@pytest.mark.parametrize("kind", ["entity", "event"])
def test_update_description_reembeds(client, kind):
    """The description is part of an entity's and an event's embedded
    text, so an update re-embeds the node in the same commit: the stored
    vector is the new text's embedding and semantic search follows it."""
    if kind == "entity":
        nid = client.store_entity("alpha", "other", "old words")
        emb_table, id_col = "mie_entity_embedding", "entity_id"
    else:
        nid = client.store_event("alpha", "old words", "2024-01-02")
        emb_table, id_col = "mie_event_embedding", "event_id"
    other = client.store_entity("beta", "other", "zebra quantum")
    tools.update(client, "update_description", nid, description="zebra quantum")

    rows = client.store.table(emb_table).filter(f"{id_col} = '{nid}'").collect()
    want = client.embedder.embed(["alpha zebra quantum"])[0]
    assert len(rows) == 1
    assert rows[0]["embedding"] == pytest.approx(want, rel=1e-6)
    hits = client.semantic_search("alpha zebra quantum", limit=2)
    assert [h["id"] for h in hits] == [nid, other]
    assert hits[0]["similarity"] == pytest.approx(1.0, abs=1e-5)


def test_tool_conflicts_recommendation(client):
    a = client.store_fact("the sky is blue", "general")
    b = client.store_fact("the sky is blue", "technical")
    out = tools.conflicts(client, threshold=0.99)
    assert len(out["recommendations"]) == 1
    rec = out["recommendations"][0]
    assert {rec["keep"], rec["supersede"]} == {a, b}


def test_tool_export_truncation_flag(client):
    client.store_fact("short export", "general")
    out = tools.export(client, "json")
    assert not out["truncated"]
    sql = tools.export(client, "sql")
    assert "INSERT INTO mie_fact" in sql["data"]


def test_concurrent_writers_lose_nothing(client):
    """10 threads storing distinct facts concurrently — every row must
    survive (reference: integration_test.go:765 runs 10 goroutines under
    the race detector; our MieStore serializes writers on a lock the
    same way its RWMutex does)."""
    import threading

    errs = []

    def worker(i: int) -> None:
        try:
            for j in range(5):
                client.store_fact(f"concurrent fact {i}-{j}", category="technical")
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(10)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    rows, _total = client.list_nodes("fact", limit=100)
    got = {r["content"] for r in rows if r["content"].startswith("concurrent fact")}
    assert got == {f"concurrent fact {i}-{j}" for i in range(10) for j in range(5)}


def test_hybrid_search_fuses_keyword_and_semantic(client):
    """The hybrid mode must surface both keyword-only and semantically
    similar nodes, ranked by fused reciprocal rank."""
    fid1 = client.store_fact("User prefers PostgreSQL for analytics", "preference")
    fid2 = client.store_fact("PostgreSQL PostgreSQL tuning guide notes", "technical")
    fid3 = client.store_fact("Completely unrelated gardening tips", "general")

    hits = client.hybrid_search("PostgreSQL analytics", limit=5)
    got = [h["id"] for h in hits]
    assert fid1 in got and fid2 in got
    top = hits[0]
    # every hit carries the fusion diagnostics
    assert set(("rrf", "rank_kw", "rank_sem")) <= set(top)
    assert top["rrf"] >= hits[-1]["rrf"]
    # keyword-matching docs must rank above the unrelated one if present
    if fid3 in got:
        assert got.index(fid1) < got.index(fid3)


def test_hybrid_search_via_query_tool(client):
    from mie_spark.api import tools

    client.store_fact("Kafka consumer lag monitoring", "technical")
    out = tools.query(client, "Kafka lag", mode="hybrid")
    assert out["mode"] == "hybrid"
    assert out["count"] >= 1
    assert any("Kafka" in (r.get("content") or "") for r in out["results"])


def test_hybrid_search_empty_query_and_empty_store(spark):
    c = MieClient(spark, path=None, embedding_dim=4)
    assert c.hybrid_search("   ") == []
    assert c.hybrid_search("anything") == []


def test_backup_restore_roundtrip_disk(spark, tmp_path):
    """store → backup → mutate → restore → state equals backup
    (cozodb.go:174-232 Backup/Restore parity on the parquet engine)."""
    path = str(tmp_path / "store")
    bdir = str(tmp_path / "bak")
    c = MieClient(spark, path=path, embedding_dim=4)
    fid = c.store_fact("survives the backup", "general")
    manifest = c.backup(bdir)
    assert "mie_fact" in manifest

    doomed = c.store_fact("added after the backup", "general")
    c.invalidate_fact(doomed, fid, reason="supersedes for test")
    restored = c.restore(bdir)
    assert restored == manifest
    restored_fact = c.get_node_by_id(fid)
    assert restored_fact["content"] == "survives the backup"
    assert restored_fact["valid"] is True
    assert c.get_node_by_id(doomed) is None

    # a fresh client over the same path sees the restored state too
    c2 = MieClient(spark, path=path, embedding_dim=4)
    assert c2.get_node_by_id(fid)["content"] == "survives the backup"


def test_backup_restore_roundtrip_mem(spark, tmp_path):
    """Backup/restore on an ephemeral (path-less) store."""
    bdir = str(tmp_path / "bak")
    c = MieClient(spark, path=None, embedding_dim=4)
    fid = c.store_fact("mem engine fact", "general")
    c.backup(bdir)
    extra = c.store_fact("post-backup fact", "general")
    c.restore(bdir)
    assert c.get_node_by_id(fid)["content"] == "mem engine fact"
    assert c.get_node_by_id(extra) is None


def test_restore_clears_tables_absent_from_backup(spark, tmp_path):
    c = MieClient(spark, path=str(tmp_path / "s"), embedding_dim=4)
    c.store_fact("only fact", "general")
    bdir = str(tmp_path / "bak")
    c.backup(bdir)
    eid = c.store_entity("NewEntity", "technology", "added later")
    c.restore(bdir)
    assert c.get_node_by_id(eid) is None


def test_restore_rejects_non_backup_dir(spark, tmp_path):
    c = MieClient(spark, path=None, embedding_dim=4)
    with pytest.raises(FileNotFoundError, match="_MANIFEST"):
        c.restore(str(tmp_path))


def _all_rows(store):
    from mie_spark.schemas import ALL_TABLES

    return {
        t: sorted(map(str, store.table(t).collect())) for t in ALL_TABLES
    }


def test_restore_failure_partway_changes_no_table(spark, tmp_path, monkeypatch):
    """restore is all-or-nothing: a copy that fails on the second table
    must leave EVERY table serving its pre-restore rows (the first
    table's copy is prepared but never committed), and a retried
    restore then succeeds over the orphan it left."""
    import os
    import shutil

    from mie_spark.storage import MieStore

    path = str(tmp_path / "s")
    store = MieStore(spark, path=path, embedding_dim=4)
    store.upsert_rows("mie_fact", [{"id": "fact:1", "content": "backed up"}])
    store.upsert_rows("mie_entity", [{"id": "ent:1", "name": "backed up"}])
    bdir = str(tmp_path / "bak")
    store.backup(bdir)
    at_backup = _all_rows(store)
    store.upsert_rows("mie_fact", [{"id": "fact:2", "content": "later"}])
    store.upsert_rows("mie_entity", [{"id": "ent:2", "name": "later"}])
    before = _all_rows(store)

    real_copytree = shutil.copytree
    copied = []

    def copytree_fails_second_table(src, *args, **kwargs):
        # copytree recurses through itself: count only table-level calls
        if os.path.dirname(os.fspath(src)) == bdir:
            copied.append(os.path.basename(src))
            if len(copied) == 2:
                raise OSError("injected copy failure")
        return real_copytree(src, *args, **kwargs)

    monkeypatch.setattr(shutil, "copytree", copytree_fails_second_table)
    with pytest.raises(OSError, match="injected copy failure"):
        store.restore(bdir)
    monkeypatch.undo()

    assert _all_rows(store) == before
    assert _all_rows(MieStore(spark, path=path, embedding_dim=4)) == before
    store.restore(bdir)
    assert _all_rows(store) == at_backup


def test_ephemeral_store_reads_latest_version(spark):
    """A path-less store is the parquet engine on a temp dir: a second
    write of a key replaces the first."""
    from mie_spark.storage import MieStore

    store = MieStore(spark, embedding_dim=4)
    store.upsert_rows("mie_fact", [{"id": "fact:1", "content": "v1"}])
    store.upsert_rows("mie_fact", [{"id": "fact:1", "content": "v2"}])
    assert [r["content"] for r in store.table("mie_fact").collect()] == ["v2"]


def test_ephemeral_stores_are_isolated(spark):
    from mie_spark.storage import MieStore

    a = MieStore(spark, embedding_dim=4)
    b = MieStore(spark, embedding_dim=4)
    a.upsert_rows("mie_fact", [{"id": "fact:a", "content": "only in a"}])
    b.upsert_rows("mie_fact", [{"id": "fact:b", "content": "only in b"}])
    assert [r["id"] for r in a.table("mie_fact").collect()] == ["fact:a"]
    assert [r["id"] for r in b.table("mie_fact").collect()] == ["fact:b"]


def test_ephemeral_store_reset_leaves_empty_usable_store(spark):
    from mie_spark.schemas import SCHEMA_VERSION
    from mie_spark.storage import MieStore

    store = MieStore(spark, embedding_dim=4)
    store.upsert_rows("mie_fact", [{"id": "fact:1", "content": "gone"}])
    store.reset()
    assert store.table("mie_fact").count() == 0
    assert store.meta_get("schema_version") == str(SCHEMA_VERSION)
    store.upsert_rows("mie_fact", [{"id": "fact:2", "content": "after"}])
    assert [r["id"] for r in store.table("mie_fact").collect()] == ["fact:2"]


def test_lazy_reader_survives_exactly_one_commit(spark, tmp_path):
    """GC keeps the 2 newest snapshot versions: a lazy table() reader
    opened before one commit still reads its files, and its snapshot
    dir is gone after a second commit."""
    import os

    path = str(tmp_path / "s")
    c = MieClient(spark, path=path, embedding_dim=4)
    c.store_fact("version one", "general")
    reader = c.store.table("mie_fact")  # lazy scan of snapshot v(k)
    first_snap = c.store._snapshot_dir("mie_fact")
    c.store_fact("churn", "general")
    assert os.path.isdir(first_snap)
    assert reader.count() == 1  # the held handle still reads its files
    # one more commit pushes the first snapshot past the horizon
    c.store_fact("one more", "general")
    assert not os.path.isdir(first_snap)


def test_store_with_zone_and_pin_files_still_works(spark, tmp_path):
    """Stores written by earlier builds carry a ``_ZONES.json`` zone-map
    sidecar in every snapshot dir and may carry a ``_PINNED`` list in a
    table dir. Such a store opens, reads the same rows through both
    reads, merges row commits and round-trips through backup and
    restore. GC no longer honours the pin file: a version it
    lists is removed once two newer commits exist."""
    import json
    import os

    from mie_spark.storage import MieStore

    path = str(tmp_path / "old")
    old = MieStore(spark, path=path, embedding_dim=4)
    for i in range(3):
        old.upsert_rows("mie_fact", [{"id": f"fact:{i}", "content": f"c{i}"}])
    for table in os.listdir(path):
        tdir = os.path.join(path, table)
        for v in os.listdir(tdir):
            snap = os.path.join(tdir, v)
            if v.startswith("v") and os.path.isdir(snap):
                zones = {
                    os.path.relpath(p, snap): {"id": ["a", "z"]}
                    for p in MieStore._part_files(snap)
                }
                with open(os.path.join(snap, "_ZONES.json"), "w") as fh:
                    json.dump(zones, fh)
    pinned = os.path.basename(old._snapshot_dir("mie_fact"))
    with open(os.path.join(path, "mie_fact", "_PINNED"), "w") as fh:
        fh.write(pinned)

    store = MieStore(spark, path=path, embedding_dim=4)
    expected = {f"fact:{i}": f"c{i}" for i in range(3)}
    assert {r["id"]: r["content"] for r in store.table("mie_fact").collect()} == expected
    arrow = store.table_arrow("mie_fact")
    assert dict(zip(arrow["id"].to_pylist(), arrow["content"].to_pylist())) == expected

    store.atomic_upsert_rows({"mie_fact": [{"id": "fact:1", "content": "rows"}]})
    assert os.path.isdir(os.path.join(path, "mie_fact", pinned))
    store.atomic_upsert_rows({"mie_fact": [{"id": "fact:9", "content": "again"}]})
    assert not os.path.isdir(os.path.join(path, "mie_fact", pinned))
    expected.update({"fact:1": "rows", "fact:9": "again"})
    assert {r["id"]: r["content"] for r in store.table("mie_fact").collect()} == expected

    bdir = str(tmp_path / "bak")
    store.backup(bdir)
    fresh = MieStore(spark, path=str(tmp_path / "fresh"), embedding_dim=4)
    fresh.restore(bdir)
    assert {r["id"]: r["content"] for r in fresh.table("mie_fact").collect()} == expected


def test_backup_dir_reuse_does_not_merge_snapshots(spark, tmp_path):
    """Re-backup into the same directory must replace, not merge: Spark
    part-file names never collide across snapshots, so a merged dir
    would read as the union of both backups."""
    bdir = str(tmp_path / "bak")
    c = MieClient(spark, path=str(tmp_path / "s"), embedding_dim=4)
    c.store_fact("first", "general")
    c.backup(bdir)
    c.store_fact("second", "general")
    c.backup(bdir)  # reuse the same dest
    c.store_fact("third", "general")
    c.restore(bdir)
    rows = [r["content"] for r in c.store.table("mie_fact").collect()]
    assert sorted(rows) == ["first", "second"]


def test_restore_rejects_truncated_backup(spark, tmp_path):
    """A manifest-listed table whose directory is missing means a
    partial copy; restore must raise BEFORE touching live data."""
    import shutil

    bdir = str(tmp_path / "bak")
    c = MieClient(spark, path=str(tmp_path / "s"), embedding_dim=4)
    fid = c.store_fact("precious", "general")
    c.backup(bdir)
    shutil.rmtree(f"{bdir}/mie_fact")
    with pytest.raises(FileNotFoundError, match="incomplete"):
        c.restore(bdir)
    assert c.get_node_by_id(fid)["content"] == "precious"


def test_export_import_preserves_valid_flag_and_provenance(client, spark):
    """Round-trip parity (import.go:116-207): invalidated facts stay
    invalid after import (their mie_invalidates edges import verbatim,
    so a valid=True re-store would desync the graph), and provenance
    fields survive on every node type."""
    old = client.store_fact("superseded fact", "general",
                            source_agent="alice", source_conversation="conv1")
    new = client.store_fact("current fact", "general")
    client.invalidate_fact(new, old, reason="updated")
    did = client.store_decision("Use Spark", "it scales", source_agent="bob",
                                source_conversation="conv2")
    eid = client.store_entity("Spark", "technology", "engine",
                              source_agent="carol")

    data = client.export_json()
    fresh = MieClient(spark, path=None, embedding_dim=4)
    fresh.import_json(data)

    old_fact = fresh.get_node_by_id(old)
    assert old_fact["valid"] is False
    assert old_fact["source_agent"] == "alice"
    assert old_fact["source_conversation"] == "conv1"
    assert fresh.get_node_by_id(new)["valid"] is True
    assert fresh.get_node_by_id(did)["source_agent"] == "bob"
    assert fresh.get_node_by_id(did)["source_conversation"] == "conv2"
    assert fresh.get_node_by_id(eid)["source_agent"] == "carol"


def test_invalidate_fact_rejects_non_fact_ids(client):
    eid = client.store_entity("NotAFact", "technology", "x")
    fid = client.store_fact("a real fact", "general")
    with pytest.raises(ValueError, match="requires fact ids"):
        client.invalidate_fact(fid, eid)
    with pytest.raises(ValueError, match="requires fact ids"):
        client.invalidate_fact(eid, fid)
    # no garbage row leaked into mie_fact
    assert client.get_node_by_id(eid)["name"] == "NotAFact"


def _bucket_inodes(snap: str) -> dict[str, set[int]]:
    import os

    out: dict[str, set[int]] = {}
    for d in os.listdir(snap):
        if d.startswith("bkt="):
            out[d] = {
                os.stat(os.path.join(snap, d, f)).st_ino
                for f in os.listdir(os.path.join(snap, d))
                if f.endswith(".parquet")
            }
    return out


def test_bucketed_merge_rewrites_only_touched_buckets(spark, tmp_path):
    """The snapshot store's MERGE is bucket-pruned: an upsert batch
    touching one key-hash bucket rewrites ONLY that bucket's files in
    the new snapshot version; every other bucket is hard-linked (same
    inode) from the previous version — O(batch) I/O, not O(table)."""
    import os

    from mie_spark.storage import MieStore

    store = MieStore(
        spark, path=str(tmp_path / "b"), embedding_dim=4, merge_buckets=8
    )
    store.upsert_rows(
        "mie_fact",
        [{"id": f"fact:{i}", "content": f"c{i}"} for i in range(200)],
    )
    v1 = store._snapshot_dir("mie_fact")
    before = _bucket_inodes(v1)
    assert len(before) > 1  # 200 hashed keys span several buckets

    store.upsert_rows("mie_fact", [{"id": "fact:7", "content": "UPDATED"}])
    v2 = store._snapshot_dir("mie_fact")
    assert v2 != v1
    after = _bucket_inodes(v2)
    assert set(after) == set(before)  # full table, every bucket present
    rewritten = [d for d in after if not (after[d] and after[d] <= before[d])]
    linked = [d for d in after if after[d] and after[d] <= before[d]]
    assert len(rewritten) == 1  # exactly the touched bucket
    assert len(linked) == len(before) - 1  # all others carried by hard link

    rows = {r["id"]: r["content"] for r in store.table("mie_fact").collect()}
    assert len(rows) == 200
    assert rows["fact:7"] == "UPDATED"
    assert rows["fact:8"] == "c8"


def test_export_graph_options_and_aliases(spark, tmp_path):
    """ExportGraph parity (client.go:245, reader.go:707; ExportOptions
    tools/client.go:240): node-type filtering, per-type stats, edge
    tables only when both endpoint types are selected, embeddings
    opt-in — plus the reference-named traversal/counter aliases."""
    c = MieClient(spark, path=str(tmp_path / "s"), embedding_dim=4)
    eid = c.store_entity("acme", "company", "a company")
    fid = c.store_fact("acme ships widgets", "general")
    c.add_relationship("mie_fact_entity", fid, eid)

    full = c.export_graph()
    assert full["version"] == "1" and "exported_at" in full
    # ExportedAt is an RFC3339 UTC string in the reference
    # (reader.go:710), not unix seconds (ADVICE r7)
    import re

    assert re.fullmatch(
        r"\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}Z", full["exported_at"]
    ), full["exported_at"]
    assert full["stats"]["facts"] == 1 and full["stats"]["entities"] == 1
    assert {r["id"] for r in full["facts"]} == {fid}
    assert len(full["relationships"]["mie_fact_entity"]) == 1

    only_facts = c.export_graph(node_types=["fact", "bogus"])
    assert "entities" not in only_facts and "facts" in only_facts
    # edges need BOTH endpoint types selected: fact-entity drops out,
    # the fact->fact invalidation table (both endpoints facts) stays
    assert set(only_facts["relationships"]) == {"mie_invalidates"}

    with_emb = c.export_graph(node_types=["fact"], include_embeddings=True)
    assert len(with_emb["embeddings"]["mie_fact_embedding"]) == 1

    assert [r["id"] for r in c.get_related_entities(fid)] == [eid]
    assert [r["id"] for r in c.get_related_facts(eid)] == [fid]
    assert c.increment_counter("custom_counter") == 1
    assert c.increment_counter("custom_counter") == 2


def _fact_rows(store, table="mie_fact"):
    return {
        r["id"]: r["content"] for r in store.table(table).collect()
    }


def test_atomic_upsert_crash_before_commit_leaves_old_state(spark, tmp_path):
    """Multi-table transaction, crash injected AFTER table 1's snapshot
    is prepared but BEFORE the manifest rename (the commit point): a
    fresh store on the same path must see the OLD state of BOTH tables
    — no half-applied write, and the interrupted version numbers are
    safely reused by the next write."""
    from mie_spark.storage import MieStore

    path = str(tmp_path / "txn1")
    store = MieStore(spark, path=path, embedding_dim=4)
    store.upsert_rows("mie_fact", [{"id": "fact:1", "content": "old"}])
    store.upsert_rows(
        "mie_invalidates",
        [{"new_fact_id": "fact:0", "old_fact_id": "fact:z", "reason": "seed"}],
    )

    calls = {"n": 0}
    orig = store._merge_arrow

    def crashing(table, new):
        out = orig(table, new)
        calls["n"] += 1
        if calls["n"] >= 2:  # both snapshots prepared, commit imminent
            raise RuntimeError("injected crash before manifest rename")
        return out

    store._merge_arrow = crashing
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="injected crash"):
        store.atomic_upsert_rows(
            {
                "mie_fact": [{"id": "fact:1", "content": "NEW"}],
                "mie_invalidates": [
                    {
                        "new_fact_id": "fact:9",
                        "old_fact_id": "fact:1",
                        "reason": "supersede",
                    }
                ],
            }
        )

    reader = MieStore(spark, path=path, embedding_dim=4)
    assert _fact_rows(reader)["fact:1"] == "old"
    edges = reader.table("mie_invalidates").collect()
    assert {(r["new_fact_id"], r["old_fact_id"]) for r in edges} == {
        ("fact:0", "fact:z")
    }
    # the orphan prepared snapshots must not poison later writes
    reader.upsert_rows("mie_fact", [{"id": "fact:2", "content": "later"}])
    assert set(_fact_rows(reader)) == {"fact:1", "fact:2"}


def test_atomic_upsert_crash_after_commit_rolls_forward(spark, tmp_path):
    """Crash injected AFTER the manifest rename but BEFORE any per-table
    pointer flip: the transaction is committed, so readers — both one
    that only consults the manifest-aware read path and a fresh store
    that runs recovery — must see the NEW state of BOTH tables. Readers
    never observe fact-flipped-but-edge-missing."""
    import os

    from mie_spark.storage import TXN_FILE, MieStore

    path = str(tmp_path / "txn2")
    store = MieStore(spark, path=path, embedding_dim=4)
    store.upsert_rows("mie_fact", [{"id": "fact:1", "content": "old"}])

    orig = store._commit_snapshot

    def no_flip(table, version):
        raise RuntimeError("injected crash before pointer flips")

    store._commit_snapshot = no_flip
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="injected crash"):
        store.atomic_upsert_rows(
            {
                "mie_fact": [{"id": "fact:1", "content": "NEW"}],
                "mie_invalidates": [
                    {
                        "new_fact_id": "fact:9",
                        "old_fact_id": "fact:1",
                        "reason": "supersede",
                    }
                ],
            }
        )
    store._commit_snapshot = orig

    # manifest survived the crash = the commit point landed
    assert os.path.exists(os.path.join(path, TXN_FILE))
    # the crashed store itself already serves the committed state
    # (manifest-aware read path), atomically for BOTH tables
    assert _fact_rows(store)["fact:1"] == "NEW"
    assert store.table("mie_invalidates").count() == 1

    # a fresh open rolls the pointers forward and clears the manifest
    reader = MieStore(spark, path=path, embedding_dim=4)
    assert not os.path.exists(os.path.join(path, TXN_FILE))
    assert _fact_rows(reader)["fact:1"] == "NEW"
    edges = reader.table("mie_invalidates").collect()
    assert [(r["new_fact_id"], r["old_fact_id"]) for r in edges] == [
        ("fact:9", "fact:1")
    ]


def test_atomic_upsert_mem_engine_all_or_nothing(spark):
    """Ephemeral store: a bad batch (unknown table 2) must leave table
    1 untouched — every table is prepared before anything commits."""
    from mie_spark.storage import MieStore

    store = MieStore(spark, path=None, embedding_dim=4)
    store.upsert_rows("mie_fact", [{"id": "fact:1", "content": "old"}])
    import pytest as _pytest

    with _pytest.raises(Exception):
        store.atomic_upsert_rows(
            {
                "mie_fact": [{"id": "fact:1", "content": "NEW"}],
                "no_such_table": [{"id": "x"}],
            }
        )
    assert _fact_rows(store)["fact:1"] == "old"

    out = store.atomic_upsert_rows(
        {
            "mie_fact": [{"id": "fact:1", "content": "NEW"}],
            "mie_invalidates": [
                {
                    "new_fact_id": "fact:9",
                    "old_fact_id": "fact:1",
                    "reason": "supersede",
                }
            ],
        }
    )
    assert out == {"mie_fact": 1, "mie_invalidates": 1}
    assert _fact_rows(store)["fact:1"] == "NEW"


def test_atomic_upsert_concurrent_writers_serialize(spark, tmp_path):
    """Two threads race atomic_upsert_rows against the same store: the
    write lock serializes them, both transactions land, and no rows
    are lost (the lost-update anomaly unserialized writers would
    produce on the read-snapshot -> merge -> commit cycle)."""
    import threading

    from mie_spark.storage import MieStore

    store = MieStore(spark, path=str(tmp_path / "conc"), embedding_dim=4)
    errs = []

    def writer(tag):
        try:
            for i in range(3):
                store.atomic_upsert_rows(
                    {
                        "mie_fact": [
                            {"id": f"fact:{tag}-{i}", "content": tag}
                        ],
                        "mie_invalidates": [
                            {
                                "new_fact_id": f"fact:{tag}-{i}",
                                "old_fact_id": f"fact:{tag}-{i - 1}",
                                "reason": tag,
                            }
                        ],
                    }
                )
        except Exception as e:  # surface in the main thread
            errs.append(e)

    ts = [threading.Thread(target=writer, args=(t,)) for t in ("a", "b")]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs, errs
    facts = {r["id"] for r in store.table("mie_fact").collect()}
    assert facts == {f"fact:{t}-{i}" for t in ("a", "b") for i in range(3)}
    assert store.table("mie_invalidates").count() == 6
    import os

    from mie_spark.storage import TXN_FILE

    assert not os.path.exists(os.path.join(str(tmp_path / "conc"), TXN_FILE))


def test_schema_evolution_add_column_read_and_merge(spark, tmp_path):
    """Add-column schema evolution: a snapshot written BEFORE a column
    entered the canonical schema must (a) read back with the new
    column as typed NULLs, and (b) be upsert-mergeable — the next
    merge writes the full current schema. Simulated by writing a snapshot with a
    REDUCED schema (as an old build would have) and reading with the
    current one."""
    from pyspark.sql import functions as F

    from mie_spark import schemas as S
    from mie_spark.storage import MieStore

    path = str(tmp_path / "evo")
    store = MieStore(spark, path=path, embedding_dim=4)
    full = S.table_schema("mie_fact")
    reduced = type(full)([f for f in full.fields if f.name != "confidence"])

    import pytest as _pytest
    from unittest import mock

    with mock.patch.object(
        S, "NODE_TABLES", {**S.NODE_TABLES, "mie_fact": reduced}
    ):
        # old build: writes rows that have never heard of `confidence`
        old_store = MieStore(spark, path=path, embedding_dim=4)
        old_store.upsert_rows(
            "mie_fact",
            [
                {"id": f"fact:{i}", "content": f"c{i}", "valid": True}
                for i in range(40)
            ],
        )

    # new build reads the old snapshot: typed NULLs, no scan failure
    rows = store.table("mie_fact").collect()
    assert len(rows) == 40
    assert all(r["confidence"] is None for r in rows)
    assert store.table("mie_fact").schema["confidence"].dataType.simpleString() == "double"

    # merge on top of the pre-evolution snapshot: old rows keep NULL,
    # the new row carries a value, and the rewrite lands cleanly
    store.upsert_rows(
        "mie_fact",
        [{"id": "fact:1", "content": "c1-new", "confidence": 0.9}],
    )
    by_id = {r["id"]: r for r in store.table("mie_fact").collect()}
    assert len(by_id) == 40
    assert by_id["fact:1"]["confidence"] == 0.9
    assert by_id["fact:1"]["content"] == "c1-new"
    assert by_id["fact:2"]["confidence"] is None


def _patched_fact_schema(fields_map):
    """A mie_fact schema with some fields' types swapped — simulates a
    build whose canonical schema predates a widening."""
    from pyspark.sql.types import StructField, StructType

    from mie_spark import schemas as S

    full = S.table_schema("mie_fact")
    return StructType(
        [
            StructField(f.name, fields_map.get(f.name, f.dataType))
            for f in full.fields
        ]
    )


def test_schema_evolution_type_widening_mixed_vintages(spark, tmp_path):
    """Type-widening schema evolution (int->long, float->double): a
    snapshot whose hard-linked buckets MIX pre- and post-widening file
    vintages must read back with the wide canonical types. This is the
    exact case the r8 mergeSchema read could not survive (parquet
    schema merge throws CANNOT_MERGE_SCHEMAS on int vs long); the
    explicit-schema read up-casts in the scan (SPARK-40876)."""
    from unittest import mock

    from pyspark.sql.types import FloatType, IntegerType

    from mie_spark import schemas as S
    from mie_spark.storage import MieStore

    path = str(tmp_path / "widen")
    narrow = _patched_fact_schema(
        {"confidence": FloatType(), "created_at": IntegerType()}
    )
    with mock.patch.object(
        S, "NODE_TABLES", {**S.NODE_TABLES, "mie_fact": narrow}
    ):
        old_store = MieStore(spark, path=path, embedding_dim=4)
        old_store.upsert_rows(
            "mie_fact",
            [
                {
                    "id": f"fact:{i}",
                    "content": f"c{i}",
                    "confidence": 0.5,
                    "created_at": 1000 + i,
                }
                for i in range(40)
            ],
        )

    # new build merges ONE row: one bucket rewritten wide, the rest
    # hard-linked narrow -> a genuinely mixed-vintage snapshot
    store = MieStore(spark, path=path, embedding_dim=4)
    store.upsert_rows(
        "mie_fact",
        [{"id": "fact:1", "content": "c1-new", "confidence": 0.9,
          "created_at": 2000}],
    )
    t = store.table("mie_fact")
    assert t.schema["confidence"].dataType.simpleString() == "double"
    assert t.schema["created_at"].dataType.simpleString() == "bigint"
    by_id = {r["id"]: r for r in t.collect()}
    assert len(by_id) == 40
    assert by_id["fact:1"]["confidence"] == pytest.approx(0.9)
    assert by_id["fact:1"]["created_at"] == 2000
    assert by_id["fact:2"]["confidence"] == pytest.approx(0.5)
    assert by_id["fact:2"]["created_at"] == 1002


def test_schema_evolution_drop_column_read_and_merge(spark, tmp_path):
    """Drop-column schema evolution: files written when a column still
    existed read back WITHOUT it (stale file columns are ignored, the
    Delta dead-column contract), and the next merge writes only the
    current schema."""
    from unittest import mock

    from pyspark.sql.types import StructType

    from mie_spark import schemas as S
    from mie_spark.storage import MieStore

    path = str(tmp_path / "dropcol")
    full = S.table_schema("mie_fact")
    extended = StructType(list(full.fields) + [S._s("legacy_notes")])
    with mock.patch.object(
        S, "NODE_TABLES", {**S.NODE_TABLES, "mie_fact": extended}
    ):
        old_store = MieStore(spark, path=path, embedding_dim=4)
        old_store.upsert_rows(
            "mie_fact",
            [
                {"id": f"fact:{i}", "content": f"c{i}",
                 "legacy_notes": f"note{i}"}
                for i in range(10)
            ],
        )

    store = MieStore(spark, path=path, embedding_dim=4)
    t = store.table("mie_fact")
    assert "legacy_notes" not in t.columns
    assert t.count() == 10
    # merge on top: the rewrite lands cleanly without the dead column
    store.upsert_rows("mie_fact", [{"id": "fact:1", "content": "c1-new"}])
    by_id = {r["id"]: r for r in store.table("mie_fact").collect()}
    assert len(by_id) == 10
    assert by_id["fact:1"]["content"] == "c1-new"


def test_atomic_upsert_crash_between_pointer_flips(spark, tmp_path):
    """The subtlest crash point: AFTER the manifest rename and AFTER
    table 1's pointer flip but BEFORE table 2's. The manifest is the
    law: readers must see the NEW state of BOTH tables throughout
    (table 1 via its flipped pointer, table 2 via the manifest), and
    recovery on reopen finishes the second flip without disturbing
    the first."""
    import os

    import pytest as _pytest

    from mie_spark.storage import TXN_FILE, MieStore

    path = str(tmp_path / "txn3")
    store = MieStore(spark, path=path, embedding_dim=4)
    store.upsert_rows("mie_fact", [{"id": "fact:1", "content": "old"}])

    orig = store._commit_snapshot
    calls = {"n": 0}

    def flip_once_then_crash(table, version):
        calls["n"] += 1
        if calls["n"] >= 2:
            raise RuntimeError("injected crash between pointer flips")
        orig(table, version)

    store._commit_snapshot = flip_once_then_crash
    with _pytest.raises(RuntimeError, match="between pointer flips"):
        store.atomic_upsert_rows(
            {
                "mie_fact": [{"id": "fact:1", "content": "NEW"}],
                "mie_invalidates": [
                    {
                        "new_fact_id": "fact:9",
                        "old_fact_id": "fact:1",
                        "reason": "supersede",
                    }
                ],
            }
        )
    store._commit_snapshot = orig

    # exactly one table's pointer flipped, but visibility is still
    # all-or-nothing through the surviving manifest
    assert os.path.exists(os.path.join(path, TXN_FILE))
    assert {r["content"] for r in store.table("mie_fact").collect()} == {"NEW"}
    assert store.table("mie_invalidates").count() == 1

    reader = MieStore(spark, path=path, embedding_dim=4)  # roll-forward
    assert not os.path.exists(os.path.join(path, TXN_FILE))
    assert {r["content"] for r in reader.table("mie_fact").collect()} == {"NEW"}
    assert reader.table("mie_invalidates").count() == 1
    # and the store keeps working normally afterwards
    reader.upsert_rows("mie_fact", [{"id": "fact:2", "content": "later"}])
    assert reader.table("mie_fact").count() == 2


def test_second_txn_finishes_pending_rollforward_first(spark, tmp_path):
    """Review finding (r8): if txn1's roll-forward dies mid-flip and
    the process keeps running, txn2's commit must FINISH txn1's flips
    before replacing the manifest — otherwise replacing it would
    unpublish txn1's committed-but-unflipped versions in-process."""
    import pytest as _pytest

    from mie_spark.storage import MieStore

    path = str(tmp_path / "txn4")
    store = MieStore(spark, path=path, embedding_dim=4)
    store.upsert_rows("mie_fact", [{"id": "fact:1", "content": "old"}])

    orig = store._commit_snapshot
    calls = {"n": 0}

    def crash_first_flip(table, version):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("mid-flip crash in txn1")
        orig(table, version)

    store._commit_snapshot = crash_first_flip
    with _pytest.raises(RuntimeError, match="mid-flip"):
        store.atomic_upsert_rows(
            {
                "mie_fact": [{"id": "fact:1", "content": "TXN1"}],
                "mie_invalidates": [
                    {
                        "new_fact_id": "fact:9",
                        "old_fact_id": "fact:1",
                        "reason": "txn1",
                    }
                ],
            }
        )
    store._commit_snapshot = orig

    # txn2 touches a DIFFERENT table pair; it must not clobber txn1
    store.atomic_upsert_rows(
        {"mie_entity": [{"id": "ent:1", "name": "n", "kind": "other"}]}
    )
    assert {r["content"] for r in store.table("mie_fact").collect()} == {
        "TXN1"
    }
    assert store.table("mie_invalidates").count() == 1
    assert store.table("mie_entity").count() == 1
    # and the NEXT regular write merges from txn1's base, not below it
    store.upsert_rows("mie_fact", [{"id": "fact:2", "content": "later"}])
    by_id = {r["id"]: r["content"] for r in store.table("mie_fact").collect()}
    assert by_id == {"fact:1": "TXN1", "fact:2": "later"}


# ----------------------------------------------------------------------
# one write path: every write call is one transaction
# ----------------------------------------------------------------------


def _table_counts(client):
    tables = ["mie_fact", "mie_fact_embedding", "mie_entity",
              "mie_entity_embedding", "mie_invalidates", "mie_fact_entity"]
    return {t: client.store.table(t).count() for t in tables}


@pytest.mark.parametrize(
    "extra, error",
    [
        ({"invalidates": "ent:0123456789abcdef"}, "requires fact ids"),
        ({"relationships": [{"edge_table": "mie_bogus", "from_id": "fact:a",
                             "to_id": "ent:b"}]}, "invalid edge table"),
        ({"relationships": [{"edge_table": "mie_decision_entity",
                             "from_id": "dec:a", "to_id": "ent:b",
                             "role": "not-a-role"}]}, "role"),
    ],
)
def test_tool_store_failure_writes_nothing(client, extra, error):
    """A store whose invalidation or relationship is bad raises before
    anything is written: no node, no embedding, no usage count."""
    item = {"type": "fact", "content": "never lands", "category": "general", **extra}
    with pytest.raises(ValueError, match=error):
        tools.store(client, item)
    assert client.find_fact_by_content("never lands") is None
    assert client.store.table("mie_fact_embedding").count() == 0
    assert client.get_usage()["total_stores"] == 0


@pytest.mark.parametrize(
    "bad, error",
    [
        ({"mie_entity": [{"name": "fine", "kind": "technology"},
                         {"name": "broken", "kind": "not-a-kind"}]}, ValueError),
        ({"mie_fact_entity": [{"fact_id": "fact:x"}]}, KeyError),
    ],
)
def test_import_json_bad_row_imports_nothing(client, bad, error):
    """Every row is validated before the import writes: one invalid
    entity kind, or an edge row without its key, leaves the store
    exactly as it was."""
    client.store_fact("already here", "general")
    before = _table_counts(client)
    data = {
        "mie_fact": [{"content": f"imported {i}", "category": "general"} for i in range(3)],
        **bad,
    }
    with pytest.raises(error):
        client.import_json(data)
    assert _table_counts(client) == before
    assert client.find_fact_by_content("imported 0") is None


def test_store_crash_in_embedding_merge_exposes_nothing(spark, tmp_path):
    """A crash while the embedding table's snapshot is prepared leaves
    neither the fact nor its embedding visible, to this store or to a
    fresh open of the same path."""
    from mie_spark.storage import MieStore

    path = str(tmp_path / "crash")
    client = MieClient(spark, path=path, embedding_dim=4)
    orig = client.store._merge_arrow

    def crashing(table, new):
        if table == "mie_fact_embedding":
            raise RuntimeError("injected crash in embedding merge")
        return orig(table, new)

    client.store._merge_arrow = crashing
    with pytest.raises(RuntimeError, match="injected crash"):
        tools.store(client, {"type": "fact", "content": "half written", "category": "general"})
    client.store._merge_arrow = orig
    for store in (client.store, MieStore(spark, path=path, embedding_dim=4)):
        assert store.table("mie_fact").count() == 0
        assert store.table("mie_fact_embedding").count() == 0
        assert store.meta_get("total_stores") is None


def _count_commits(client):
    calls = []
    orig = client.store._commit_txn

    def counted(versions):
        calls.append(sorted(versions))
        return orig(versions)

    client.store._commit_txn = counted
    return calls


def test_write_calls_commit_once(client, spark):
    """Each write call — bulk_store, tools.store with relationships,
    update, query's usage record, import_json, import_sql_script —
    reaches the store's commit exactly once."""
    calls = _count_commits(client)
    items = [{"type": "topic", "name": "bulk topic"}]
    items += [
        {"type": "fact", "content": f"bulk fact {j}", "category": "general",
         "relationships": [{"edge_table": "mie_fact_topic", "to_ref": 0}]}
        for j in range(8)
    ]
    items.append({"type": "fact", "content": "bulk replacement", "category": "general",
                  "invalidates_ref": 1})
    out = tools.bulk_store(client, items)
    assert out["errors"] == [] and len(out["stored"]) == 10
    assert calls == [["mie_fact", "mie_fact_embedding", "mie_fact_topic",
                      "mie_invalidates", "mie_meta", "mie_topic"]]
    assert client.get_node_by_id(out["stored"][1]["id"])["valid"] is False
    assert client.store.table("mie_fact_topic").count() == 8
    assert client.get_usage()["total_stores"] == 10

    calls.clear()
    fid = out["stored"][2]["id"]
    res = tools.store(client, {
        "type": "entity", "name": "Postgres", "kind": "technology",
        "relationships": [{"edge_table": "mie_fact_entity", "from_id": fid,
                           "to_id": "ent:placeholder"}],
    })
    assert len(calls) == 1 and "mie_fact_entity" in calls[0]
    assert client.get_usage()["total_stores"] == 11

    calls.clear()
    tools.update(client, "update_description", res["id"], description="db")
    assert len(calls) == 1
    calls.clear()
    tools.query(client, "bulk", mode="exact")
    assert calls == [["mie_meta"]]

    data = client.export_json()
    script = client.export_sql_script()
    for replay in (lambda c: c.import_json(data), lambda c: c.import_sql_script(script)):
        other = MieClient(spark, path=None, embedding_dim=4)
        other_calls = _count_commits(other)
        replay(other)
        assert len(other_calls) == 1
        assert other.store.table("mie_fact_embedding").count() == 9


def test_import_json_keeps_roleless_decision_edges(client, spark):
    """A decision→entity edge stored without a role exports with role ""
    (or NULL, from a replayed SQL script) and imports back as such."""
    did = client.store_decision("Pick a queue", "durability")
    eid = client.store_entity("Kafka", "technology")
    client.add_relationship("mie_decision_entity", did, eid)
    data = client.export_json()
    assert data["mie_decision_entity"][0]["role"] == ""
    for role in ("", None):
        data["mie_decision_entity"][0]["role"] = role
        other = MieClient(spark, path=None, embedding_dim=4)
        assert other.import_json(data) == 3
        rels = other.get_entities_for_decision(did)
        assert [r["id"] for r in rels] == [eid]
        assert other.store.table("mie_decision_entity").first()["role"] == ""


class _RecordingEmbedder(MockEmbeddingProvider):
    """Mock embedder that records every text and fails on marked ones."""

    def __init__(self, dimension: int = 4):
        super().__init__(dimension)
        self.texts: list[str] = []

    def embed(self, texts):
        if any("unembeddable" in t for t in texts):
            raise RuntimeError("embedding provider rejected the text")
        self.texts.extend(texts)
        return super().embed(texts)


def test_bulk_store_embedding_failure_reports_only_its_item(client):
    """A text the provider rejects fails its own item, as any other
    per-item error does; the rest of the batch commits with embeddings."""
    client.embedder = _RecordingEmbedder()
    out = tools.bulk_store(client, [
        {"type": "entity", "name": "Redis", "kind": "technology"},
        {"type": "fact", "content": "an unembeddable text", "category": "general"},
        {"type": "fact", "content": "Redis is in memory", "category": "technical",
         "relationships": [{"edge_table": "mie_fact_entity", "to_ref": 0}]},
        {"type": "fact", "content": "depends on the failed one", "category": "general",
         "invalidates_ref": 1},
    ])
    assert [s["index"] for s in out["stored"]] == [0, 2, 3]
    assert [e["index"] for e in out["errors"]] == [1, 3]
    assert "rejected" in out["errors"][0]["error"]
    assert client.find_fact_by_content("an unembeddable text") is None
    assert client.store.table("mie_fact_embedding").count() == 2
    assert client.store.table("mie_entity_embedding").count() == 1
    assert client.store.table("mie_fact_entity").count() == 1
    assert client.get_usage()["total_stores"] == 3


def test_only_new_node_text_is_embedded(client):
    """An invalidation, a status update and a description update embed
    nothing: only a newly stored node's text goes to the provider."""
    old = client.store_fact("the old belief", "general")
    did = client.store_decision("Use a cache", "latency")
    tid = client.store_topic("caching")
    client.embedder = _RecordingEmbedder()
    tools.store(client, {"type": "fact", "content": "the new belief",
                         "category": "general", "invalidates": old})
    assert client.embedder.texts == ["the new belief"]
    assert client.get_node_by_id(old)["valid"] is False
    tools.update(client, "update_status", did, status="superseded")
    tools.update(client, "update_description", tid, description="cache layers")
    tools.update(client, "invalidate", old)
    assert client.embedder.texts == ["the new belief"]
