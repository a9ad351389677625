"""Tests of the benchmark harness itself (no Spark session needed).

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import collections
import hashlib
import os
import time

import pandas as pd
import pytest

from perfbench import gen, tracing, workloads


class _StubContext:
    def setJobGroup(self, group: str, desc: str) -> None:  # noqa: N802 — Spark's name
        pass


class _StubSpark:
    sparkContext = _StubContext()


def _ok_rate(rec: workloads.Recorder) -> float:
    return sum(r["ok"] for r in rec.ops) / len(rec.ops)


def test_corrupted_expectation_raises_error_rate():
    rec = workloads.Recorder(_StubSpark())
    plan = gen.agent_plan(1)
    kind, item = next(op for op in plan.ops if op[0] == "store")
    right = gen.ids.fact_id(item["content"], item["category"])
    result = {"id": right, "type": "fact"}  # what tools.store returns
    rec.op(kind, lambda: result,
           lambda r: workloads.expect(r["id"] == right, "id"))
    assert _ok_rate(rec) == 1.0
    corrupted = right[:-1] + ("0" if right[-1] != "0" else "1")
    rec.op(kind, lambda: result,
           lambda r: workloads.expect(r["id"] == corrupted, "id"))
    assert _ok_rate(rec) == 0.5
    assert rec.failures and "check failed" in rec.failures[0]


def test_post_check_failure_marks_its_op():
    rec = workloads.Recorder(_StubSpark())
    rec.op("update", lambda: {"ok": True})
    rec.check(rec.ops[-1], lambda: workloads.expect(False, "description not written"))
    assert _ok_rate(rec) == 0.0


def test_raising_op_counts_as_failed():
    rec = workloads.Recorder(_StubSpark())

    def boom() -> None:
        raise RuntimeError("engine down")

    rec.op("query_exact", boom, lambda r: None)
    assert not rec.ops[0]["ok"] and "engine down" in rec.failures[0]


def test_corrupted_oracle_rows_fail_the_comparison():
    spark_side = pd.DataFrame({"a_id": [1, 2, 3], "sim": [0.5, 0.25, 0.125]})
    workloads.same_rows(spark_side, spark_side.iloc[::-1].copy())  # order-insensitive
    for bad in (
        spark_side.assign(sim=[0.5, 0.25, 0.126]),
        spark_side.assign(a_id=[1, 2, 4]),
        spark_side.iloc[:2],
    ):
        with pytest.raises(AssertionError):
            workloads.same_rows(spark_side, bad)


def test_seed_changes_inputs_not_op_counts():
    a, b = gen.agent_plan(1), gen.agent_plan(2)
    assert [f["content"] for f in a.graph.facts] != [f["content"] for f in b.graph.facts]
    assert a.ops != b.ops
    for plan in (a, b):
        counts = collections.Counter(kind for kind, _ in plan.ops)
        assert counts == {k: n for k, n in gen.AGENT_OPS.items() if k != "ingest"}
        assert len(plan.graph.facts) == gen.AGENT_FACTS
        assert len(plan.graph.fact_entity) == 2 * gen.AGENT_FACTS
    assert gen.agent_plan(1).ops == a.ops  # same seed, same inputs

    c, d = gen.ingest_plan(1), gen.ingest_plan(2)
    assert [len(x) for x in c.batches] == [len(x) for x in d.batches]
    assert c.planted != d.planted
    assert sorted(gen.corpus_order(1)) == sorted(gen.corpus_order(2)) == sorted(gen.CORPUS_QUERIES)


def test_corpus_seed_changes_bytes_not_row_counts(tmp_path):
    rows = {}
    digests = {}
    for seed in (1, 2):
        out = tmp_path / str(seed)
        rows[seed] = gen.write_corpus(seed, str(out))
        with open(out / "lineitem.parquet", "rb") as fh:
            digests[seed] = hashlib.sha256(fh.read()).hexdigest()
    assert rows[1] == rows[2]
    assert digests[1] != digests[2]


def test_embedded_texts_have_distinct_residues():
    plan = gen.agent_plan(3)
    texts = [f["content"] for f in plan.graph.facts]
    texts += [f"{e['name']} {e['description']}" for e in plan.graph.entities]
    residues = [gen.residue(t) for t in texts]
    assert len(set(residues)) == len(residues)

    ing = gen.ingest_plan(3)
    by_id = {f["id"]: f for batch in ing.batches for f in batch}
    for a, b in ing.planted:
        assert gen.residue(by_id[a]["content"]) == gen.residue(by_id[b]["content"])
    all_res = collections.Counter(gen.residue(f["content"]) for f in by_id.values())
    assert sum(1 for n in all_res.values() if n > 1) == len(ing.planted)


def test_layer_self_times_partition_the_traced_time():
    t = tracing.Tracer()

    def leaf() -> None:
        time.sleep(0.02)

    storage_leaf = t.wrapper(leaf, "MieStore.table", "storage")

    def client_call() -> None:
        time.sleep(0.01)
        storage_leaf()

    api_inner = t.wrapper(client_call, "MieClient.exact_search", "api")

    def tool() -> None:
        time.sleep(0.01)
        api_inner()

    api_tool = t.wrapper(tool, "tools.query", "api")
    t.op_id = "query_exact#1"
    api_tool()
    m = t.layer_metrics()
    total = t.spans[-1]["end"] - t.spans[-1]["start"]
    assert m["api.query.calls"] == 1
    assert m["layer.api.self_s"] + m["layer.storage.self_s"] == pytest.approx(total)
    assert m["api.query.self_s"] == pytest.approx(m["layer.api.self_s"])
    assert m["storage.table_calls"] == 1 and m["storage.table_s"] >= 0.02


def test_commit_bytes_count_only_new_files(tmp_path):
    snap_old, snap_new = tmp_path / "t" / "v1", tmp_path / "t" / "v2"
    for snap in (snap_old, snap_new):
        os.makedirs(snap)
    (snap_old / "shared.parquet").write_bytes(b"x" * 100)
    os.link(snap_old / "shared.parquet", snap_new / "shared.parquet")
    (snap_new / "fresh.parquet").write_bytes(b"y" * 40)
    (tmp_path / "t" / "_CURRENT").write_text("v2")
    assert tracing.new_snapshot_bytes(str(tmp_path), "t") == 40
    assert workloads.store_disk_bytes(str(tmp_path)) == 100 + 40 + 2
