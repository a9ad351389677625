"""The three benchmark workloads, driven through the program's public
functions on the program's own session.

Each workload is closed loop with one client thread: the next call is
issued only after the previous one returned. ``setup`` runs several
times and its median is ``setup_s``; the timed phase runs once. Every
operation is checked, and a failed check counts against ``ok_rate``.
Checks that need Spark run after the timed phase, so they never add to
an operation's latency.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
import traceback
from collections import defaultdict
from typing import Any, Callable

from perfbench import gen

SETUP_REPEATS = 3
EMBED_DIM = 768  # the config default (mie_spark.config.EmbeddingConfig)


class Recorder:
    """Timed operations, their checks, and per-op Spark job counts."""

    def __init__(self, spark: Any, tracer: Any = None,
                 cpu_clock: Callable[[], float] | None = None):
        self.spark = spark
        self.tracer = tracer
        self.cpu_clock = cpu_clock or (lambda: 0.0)
        self.ops: list[dict[str, Any]] = []
        self.failures: list[str] = []
        self.extra: dict[str, float] = {}  # workload-specific report values
        self.setup_times: list[float] = []

    def setups(self, fn: Callable[[int], Any]) -> tuple[float, Any]:
        """Run ``fn(i)`` SETUP_REPEATS times; (median seconds, last result)."""
        result = None
        for i in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            result = fn(i)
            self.setup_times.append(time.perf_counter() - t0)
        return statistics.median(self.setup_times), result

    def op(self, kind: str, fn: Callable[[], Any],
           check: Callable[[Any], None] | None = None) -> Any:
        op_id = f"{kind}#{len(self.ops) + 1}"
        sc = self.spark.sparkContext
        sc.setJobGroup(op_id, kind)
        if self.tracer is not None:
            self.tracer.op_id = op_id
        rec: dict[str, Any] = {"id": op_id, "kind": kind, "ok": True}
        result = None
        cpu0 = self.cpu_clock()
        t0 = time.perf_counter()
        try:
            result = fn()
        except Exception:  # noqa: BLE001 — a failing op is counted, the run goes on
            rec["ok"] = False
            self.failures.append(f"{op_id} raised:\n{traceback.format_exc()}")
        rec["s"] = time.perf_counter() - t0
        rec["cpu_s"] = self.cpu_clock() - cpu0
        if self.tracer is not None:
            self.tracer.op_id = None
            rec.update(self._spark_counts(op_id))
        sc.setJobGroup("perfbench-untimed", "untimed")
        self.ops.append(rec)
        if rec["ok"] and check is not None:
            self.check(rec, lambda: check(result))
        return result

    def check(self, rec: dict[str, Any], fn: Callable[[], None]) -> None:
        """Run one correctness check against an op; a failure marks it."""
        try:
            fn()
        except Exception:  # noqa: BLE001 — a failed check is a counted failure
            if rec["ok"]:
                rec["ok"] = False
            self.failures.append(f"{rec['id']} check failed:\n{traceback.format_exc()}")

    def _spark_counts(self, op_id: str) -> dict[str, int]:
        tracker = self.spark.sparkContext.statusTracker()
        jobs = tracker.getJobIdsForGroup(op_id)
        stages = tasks = 0
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                stages += 1
                st = tracker.getStageInfo(sid)
                tasks += st.numTasks if st else 0
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks}

    def by_kind(self, kind: str) -> list[dict[str, Any]]:
        return [r for r in self.ops if r["kind"] == kind]


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise AssertionError(what)


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def embedding_rows(client: Any, table: str, id_col: str,
                   rows: list[dict], text: Callable[[dict], str]) -> dict[str, list]:
    vecs = client.embedder.embed([text(r) for r in rows])
    return {table: [{id_col: r["id"], "embedding": v} for r, v in zip(rows, vecs)]}


def _text(kind: str) -> Callable[[dict], str]:
    return {
        "fact": lambda r: r["content"],
        "entity": lambda r: f"{r['name']} {r['description']}",
    }[kind]


# --------------------------------------------------------------------------
# agent_session
# --------------------------------------------------------------------------


def agent_session(spark: Any, work: str, seed: int, rec: Recorder) -> tuple[float, float]:
    from mie_spark import ids, validators
    from mie_spark.api import tools
    from mie_spark.api.client import MieClient
    from perfbench.tracing import user_bytes

    plan = gen.agent_plan(seed)
    g = plan.graph

    def setup(i: int) -> Any:
        # a fresh parquet-engine store (directory layout, schema
        # version), read back once through the store's scan path
        client = MieClient(spark, path=fresh_dir(os.path.join(work, f"agent{i}")),
                           embedding_dim=EMBED_DIM)
        expect(client.store.meta_get("schema_version") is not None, "schema version")
        return client

    setup_s, client = rec.setups(setup)
    for i in range(SETUP_REPEATS - 1):
        shutil.rmtree(os.path.join(work, f"agent{i}"))

    # the session opens by importing its memory graph in one batched,
    # transactional commit (nodes, embeddings and edges together)
    updates = {
        "mie_fact": g.facts,
        "mie_entity": g.entities,
        "mie_fact_entity": g.fact_entity,
    }
    want_counts = {t: len(rows) for t, rows in updates.items()}
    want_counts.update(mie_fact_embedding=len(g.facts), mie_entity_embedding=len(g.entities))

    def ingest() -> dict[str, int]:
        updates.update(embedding_rows(client, "mie_fact_embedding", "fact_id", g.facts, _text("fact")))
        updates.update(embedding_rows(client, "mie_entity_embedding", "entity_id", g.entities, _text("entity")))
        return client.store.atomic_upsert_rows(updates)

    rec.op("ingest", ingest, lambda r: expect(r == want_counts, f"counts {r} != {want_counts}"))
    ingest_s = rec.ops[-1]["s"]
    user = sum(user_bytes(rows) for rows in updates.values())
    rec.extra["ingest_rows_per_s"] = sum(want_counts.values()) / ingest_s
    rec.extra["bytes_per_user_byte"] = store_disk_bytes(client.store.path) / user

    neighbours = g.neighbours()
    kinds = defaultdict(int)
    for e in g.entities:
        kinds[e["kind"]] += 1
    post: list[tuple[dict, str, Any]] = []  # (op record, what, expected) checked after the loop

    for kind, args in plan.ops:
        if kind == "store":
            item = args
            want = ids.fact_id(item["content"], validators.coerce_category(item["category"]))
            rec.op(kind, lambda: tools.store(client, item),
                   lambda r: expect(r["id"] == want, f"store id {r['id']} != {want}"))
        elif kind == "bulk_store":
            items = args["items"]
            want_ids = [ids.topic_id(items[0]["name"])] + [
                ids.fact_id(it["content"], validators.coerce_category(it["category"]))
                for it in items[1:]
            ]

            def bulk_ok(r: dict, want_ids: list[str] = want_ids) -> None:
                expect(not r["errors"], f"bulk errors {r['errors']}")
                got = [s["id"] for s in r["stored"]]
                expect(got == want_ids, f"bulk ids {got} != {want_ids}")

            rec.op(kind, lambda: tools.bulk_store(client, items), bulk_ok)
            for fid in want_ids[1:]:
                post.append((rec.ops[-1], "edge", (fid, want_ids[0])))
        elif kind in ("query_semantic", "query_exact"):
            fact = args["fact"]
            mode = kind.split("_", 1)[1]

            def first_hit(r: dict, fact: dict = fact) -> None:
                got = [x.get("id") for x in r["results"]]
                if mode == "semantic":
                    expect(got[:1] == [fact["id"]], f"semantic top {got[:1]} != {fact['id']}")
                else:
                    expect(fact["id"] in got, f"exact hit {fact['id']} not in {got}")

            rec.op(kind, lambda: tools.query(client, fact["content"], mode), first_hit)
        elif kind == "query_graph":
            hop, node = args["traversal"], args["node_id"]

            def same_neighbours(r: dict, node: str = node) -> None:
                got = {x["id"] for x in r["results"]}
                want = neighbours.get(node, set())
                expect(got == want, f"{hop}({node}) = {sorted(got)} != {sorted(want)}")

            rec.op(kind, lambda: tools.query(
                client, "", "graph", limit=50, graph_traversal=hop, node_id=node,
            ), same_neighbours)
        elif kind == "list":
            ekind = args["kind"]
            want_total = kinds[ekind]
            rec.op(kind, lambda: tools.list_nodes(client, "entity", kind=ekind),
                   lambda r: expect(r["total"] == want_total,
                                    f"list total {r['total']} != {want_total}"))
        elif kind == "update":
            node, desc = args["node_id"], args["description"]
            rec.op(kind, lambda: tools.update(client, "update_description", node, description=desc),
                   lambda r: expect(r["ok"], "update not ok"))
            post.append((rec.ops[-1], "description", (node, desc)))
    timed_s = sum(r["s"] for r in rec.ops)
    _agent_post_checks(client, rec, post)
    return setup_s, timed_s


def _agent_post_checks(client: Any, rec: Recorder, post: list) -> None:
    """Durable effects of the timed writes, read back in two scans:
    bulk_store's target_ref edges and update's new descriptions."""
    from pyspark.sql import functions as F

    store = client.store
    edges = [x for _, what, x in post if what == "edge"]
    descs = [x for _, what, x in post if what == "description"]
    have = {(r["fact_id"], r["topic_id"]) for r in store.table("mie_fact_topic")
            .filter(F.col("fact_id").isin([f for f, _ in edges])).collect()} if edges else set()
    got_desc = {r["id"]: r["description"] for r in store.table("mie_entity")
                .filter(F.col("id").isin([n for n, _ in descs])).collect()} if descs else {}
    for op, what, x in post:
        if what == "edge":
            rec.check(op, lambda x=x: expect(x in have, f"edge {x} missing"))
        else:
            rec.check(op, lambda x=x: expect(got_desc.get(x[0]) == x[1], f"description of {x[0]}"))


# --------------------------------------------------------------------------
# memory_ingest
# --------------------------------------------------------------------------


def store_disk_bytes(path: str) -> int:
    """On-disk bytes of a store, counting each hard-linked file once."""
    seen, total = set(), 0
    for root, _, files in os.walk(path):
        for f in files:
            st = os.stat(os.path.join(root, f))
            if st.st_ino not in seen:
                seen.add(st.st_ino)
                total += st.st_size
    return total


def memory_ingest(spark: Any, work: str, seed: int, rec: Recorder) -> tuple[float, float]:
    from mie_spark.api import tools
    from mie_spark.api.client import MieClient
    from perfbench.tracing import user_bytes

    plan = gen.ingest_plan(seed)

    def setup(i: int) -> Any:
        client = MieClient(spark, path=fresh_dir(os.path.join(work, f"ingest{i}")),
                           embedding_dim=EMBED_DIM)
        updates = {"mie_entity": plan.entities}
        updates.update(embedding_rows(client, "mie_entity_embedding", "entity_id",
                                      plan.entities, _text("entity")))
        client.store.atomic_upsert_rows(updates)
        if i + 1 < SETUP_REPEATS:
            shutil.rmtree(client.store.path)
        return client, updates

    setup_s, (client, setup_rows) = rec.setups(setup)
    ingested = user_bytes([r for rows in setup_rows.values() for r in rows])

    for facts, edges in zip(plan.batches, plan.edges):
        updates = {"mie_fact": facts, "mie_fact_entity": edges}

        def batch(updates: dict = updates, facts: list = facts) -> dict[str, int]:
            # embedding the batch is part of ingesting it
            updates.update(embedding_rows(client, "mie_fact_embedding", "fact_id", facts, _text("fact")))
            return client.store.atomic_upsert_rows(updates)

        want = {"mie_fact": len(facts), "mie_fact_embedding": len(facts),
                "mie_fact_entity": len(edges)}
        rec.op("ingest_batch", batch, lambda r, want=want: expect(r == want, f"counts {r} != {want}"))
        ingested += sum(user_bytes(rows) for rows in updates.values())

    n_facts = sum(len(b) for b in plan.batches)
    n_edges = sum(len(e) for e in plan.edges)

    def found_planted(r: dict) -> None:
        got = {tuple(sorted((p["a_id"], p["b_id"]))) for p in r["conflicts"]}
        top = {tuple(sorted((p["a_id"], p["b_id"]))) for p in r["conflicts"][: len(plan.planted)]}
        expect(plan.planted <= got, f"planted pairs missing: {sorted(plan.planted - got)}")
        expect(top == plan.planted, "planted pairs are not the most similar")

    rec.op("conflicts", lambda: tools.conflicts(client), found_planted)

    def tally(r: dict) -> None:
        s = r["stats"]
        want = {"facts": n_facts, "valid_facts": n_facts, "entities": len(plan.entities),
                "decisions": 0, "relationships": n_edges}
        got = {k: s[k] for k in want}
        expect(got == want, f"status {got} != {want}")

    rec.op("status", lambda: tools.status(client), tally)
    rec.op("export", lambda: tools.export(client),
           lambda r: expect(r["data"].startswith('{"mie_fact": [{"id": "fact:')
                            and r["truncated"], "export payload"))

    batches = rec.by_kind("ingest_batch")
    ingest_s = sum(r["s"] for r in batches)
    rows = sum(len(b) * 2 + len(e) for b, e in zip(plan.batches, plan.edges))
    rec.extra["ingest_rows_per_s"] = rows / ingest_s
    rec.extra["bytes_per_user_byte"] = store_disk_bytes(client.store.path) / ingested
    rec.extra["conflicts_s"] = rec.by_kind("conflicts")[0]["s"]
    rec.extra["status_s"] = rec.by_kind("status")[0]["s"]
    return setup_s, sum(r["s"] for r in rec.ops)


# --------------------------------------------------------------------------
# corpus_pipeline
# --------------------------------------------------------------------------


def corpus_pipeline(spark: Any, work: str, seed: int, rec: Recorder) -> tuple[float, float]:
    from mie_spark.queries import ORACLES, QUERIES
    from mie_spark.sources import load_table

    def setup(i: int) -> str:
        sf_dir = fresh_dir(os.path.join(work, f"corpus{i}"))
        gen.write_corpus(seed, sf_dir)
        # warm-up outside the timing: a catalog scan, a join, a shuffle
        # and a pandas kernel on every core, so the first timed query
        # does not also pay the session's first parquet read, planner
        # compilation and Python-worker start-up
        nation, region = (load_table(spark, sf_dir, t) for t in ("nation", "region"))
        joined = nation.join(region, nation.n_regionkey == region.r_regionkey)
        joined.repartition(spark.sparkContext.defaultParallelism).mapInPandas(
            lambda frames: frames, joined.schema
        ).groupBy("r_name").count().collect()
        return sf_dir

    setup_s, sf_dir = rec.setups(setup)
    for i in range(SETUP_REPEATS - 1):
        shutil.rmtree(os.path.join(work, f"corpus{i}"))

    order = gen.corpus_order(seed)
    results: dict[str, Any] = {}
    for name in order:
        def run(name: str = name) -> Any:
            t0 = time.perf_counter()
            df = QUERIES[name](spark, sf_dir)
            t1 = time.perf_counter()
            pdf = df.toPandas()
            rec.extra[f"queries.{name}.build_s"] = t1 - t0
            rec.extra[f"queries.{name}.exec_s"] = time.perf_counter() - t1
            return pdf

        results[name] = rec.op(name, run)
    timed_s = sum(r["s"] for r in rec.ops)

    import duckdb

    con = duckdb.connect()
    for t in gen.CORPUS_TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet").replace("'", "''")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    for r in rec.ops:
        if r["ok"]:
            name = r["kind"]
            rec.check(r, lambda name=name: same_rows(results[name], con.execute(ORACLES[name]).df()))
    con.close()
    rec.extra["pipeline_s"] = timed_s
    return setup_s, timed_s


def same_rows(spark_pdf: Any, oracle_pdf: Any) -> None:
    """Order-insensitive equality of two result frames: same columns,
    same rows, floats equal to 1e-9 relative."""
    cols = sorted(spark_pdf.columns)
    expect(cols == sorted(oracle_pdf.columns), f"columns {cols} != {sorted(oracle_pdf.columns)}")
    a = spark_pdf[cols].sort_values(cols).reset_index(drop=True)
    b = oracle_pdf[cols].sort_values(cols).reset_index(drop=True)
    expect(len(a) == len(b), f"rows {len(a)} != {len(b)}")
    expect(len(a) > 0, "empty result")
    for c in cols:
        x, y = a[c], b[c]
        if x.dtype.kind == "f" or y.dtype.kind == "f":
            x, y = x.astype(float), y.astype(float)
            expect(bool(((x - y).abs() <= 1e-9 * (1 + y.abs())).all() or x.equals(y)),
                   f"column {c} differs")
        else:
            expect(bool((x.astype(str) == y.astype(str)).all()) or x.equals(y),
                   f"column {c} differs")


WORKLOADS = {
    "agent_session": agent_session,
    "memory_ingest": memory_ingest,
    "corpus_pipeline": corpus_pipeline,
}
