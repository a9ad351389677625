"""Zone-map file skipping on the snapshot store: per-file column
min/max collected from parquet FOOTERS at commit time (`_ZONES.json`
sidecar), `scan_pruned` reading only files whose zones intersect the
predicate, and `compact(cluster_by=...)` arranging rows so the zones
are actually selective — the Delta/Iceberg data-skipping shape on the
bucketed snapshot layout.
"""

from __future__ import annotations

import json
import os

from mie_spark.storage import ZONES_FILE, MieStore


def _part_files(snap: str) -> list[str]:
    return [
        os.path.relpath(os.path.join(r, f), snap)
        for r, _, fs in os.walk(snap)
        for f in fs
        if f.endswith(".parquet")
    ]


def _rows(n: int) -> list[dict]:
    # created_at strictly increasing with i: the natural zone column
    return [
        {"id": f"fact:{i}", "content": f"c{i}", "created_at": 1000 + i * 10}
        for i in range(n)
    ]


def test_manifest_written_and_covers_every_file(spark, tmp_path):
    store = MieStore(spark, path=str(tmp_path / "z"), merge_buckets=4)
    store.upsert_rows("mie_fact", _rows(80))
    snap = store._snapshot_dir("mie_fact")
    manifest = store.zones("mie_fact")
    assert manifest is not None
    assert set(manifest) == set(_part_files(snap))
    # every file has exact created_at (int) and id (string) zones
    for fz in manifest.values():
        lo, hi = fz["created_at"]
        assert 1000 <= lo <= hi <= 1000 + 79 * 10
        assert fz["id"][0].startswith("fact:")


def test_scan_pruned_is_exact_and_skips_files(spark, tmp_path):
    store = MieStore(spark, path=str(tmp_path / "z"), merge_buckets=4)
    for lo in (0, 100, 200):  # three merges -> fragmented buckets
        store.upsert_rows(
            "mie_fact",
            [
                {"id": f"fact:{lo + i}", "content": "x", "created_at": (lo + i) * 10}
                for i in range(100)
            ],
        )
    # cluster by the zone column so files cover narrow created_at bands
    n_files = store.compact("mie_fact", cluster_by=("created_at",))
    assert n_files > 1
    full = store.table("mie_fact")
    for bounds in [(500, 900), (None, 240), (2500, None), (99999, None)]:
        pruned = store.scan_pruned("mie_fact", {"created_at": bounds})
        lo, hi = bounds
        expect = full
        if lo is not None:
            expect = expect.filter(expect.created_at >= lo)
        if hi is not None:
            expect = expect.filter(expect.created_at <= hi)
        assert sorted(r["id"] for r in pruned.collect()) == sorted(
            r["id"] for r in expect.collect()
        )
    # a selective band reads strictly fewer files than the snapshot has
    band = store.scan_pruned("mie_fact", {"created_at": (500, 900)})
    assert 0 < len(band.inputFiles()) < n_files
    # a disjoint band prunes to ZERO files (no scan at all)
    nothing = store.scan_pruned("mie_fact", {"created_at": (99999, None)})
    assert nothing.count() == 0


def test_scan_pruned_falls_back_without_manifest(spark, tmp_path):
    store = MieStore(spark, path=str(tmp_path / "z"), merge_buckets=4)
    store.upsert_rows("mie_fact", _rows(30))
    os.remove(os.path.join(store._snapshot_dir("mie_fact"), ZONES_FILE))
    out = store.scan_pruned("mie_fact", {"created_at": (1100, 1200)})
    assert {r["id"] for r in out.collect()} == {
        f"fact:{i}" for i in range(30) if 1100 <= 1000 + i * 10 <= 1200
    }
    # ephemeral store: same semantics
    mem = MieStore(spark, path=None)
    mem.upsert_rows("mie_fact", _rows(10))
    out = mem.scan_pruned("mie_fact", {"created_at": (1000, 1030)})
    assert out.count() == 4


def test_incremental_merge_reuses_linked_zone_stats(spark, tmp_path):
    """A bucket-pruned merge pays footer reads only for files it wrote:
    hard-linked files keep their previous manifest entries verbatim."""
    store = MieStore(spark, path=str(tmp_path / "z"), merge_buckets=8)
    store.upsert_rows("mie_fact", _rows(200))
    v1 = store._snapshot_dir("mie_fact")
    with open(os.path.join(v1, ZONES_FILE)) as fh:
        m1 = json.load(fh)
    store.upsert_rows(
        "mie_fact", [{"id": "fact:7", "content": "UPD", "created_at": 99}]
    )
    v2 = store._snapshot_dir("mie_fact")
    with open(os.path.join(v2, ZONES_FILE)) as fh:
        m2 = json.load(fh)
    assert set(m2) == set(_part_files(v2))
    carried = [
        rel
        for rel in m2
        if rel in m1 and os.path.exists(os.path.join(v1, rel))
        and os.path.samefile(os.path.join(v1, rel), os.path.join(v2, rel))
    ]
    assert carried and all(m2[rel] == m1[rel] for rel in carried)
    # the rewritten bucket's new zone includes the updated created_at
    touched = [rel for rel in m2 if rel not in carried]
    assert any(fz["created_at"][0] == 99 for rel, fz in m2.items() if rel in touched)


def test_delete_keeps_manifest_consistent(spark, tmp_path):
    store = MieStore(spark, path=str(tmp_path / "z"), merge_buckets=4)
    store.upsert_rows("mie_fact", _rows(60))
    store.delete_rows("mie_fact", [("fact:3",), ("fact:44",)])
    snap = store._snapshot_dir("mie_fact")
    manifest = store.zones("mie_fact")
    assert set(manifest) == set(_part_files(snap))
    out = store.scan_pruned("mie_fact", {"created_at": (None, None)})
    assert out.count() == 58


def test_scan_pruned_survives_schema_evolution(spark, tmp_path):
    """The zone-map range scan reads individual kept FILES — exactly
    where a pre-evolution file missing a new column would explode if
    the canonical select didn't NULL-fill. Write under a reduced
    schema, then range-scan with the current one."""
    from unittest import mock

    from mie_spark import schemas as S
    from mie_spark.storage import MieStore

    path = str(tmp_path / "zevo")
    full = S.table_schema("mie_fact")
    reduced = type(full)([f for f in full.fields if f.name != "confidence"])
    with mock.patch.object(
        S, "NODE_TABLES", {**S.NODE_TABLES, "mie_fact": reduced}
    ):
        old = MieStore(spark, path=path, embedding_dim=4)
        old.upsert_rows(
            "mie_fact",
            [
                {"id": f"fact:{i}", "content": f"c{i}", "created_at": i}
                for i in range(50)
            ],
        )

    store = MieStore(spark, path=path, embedding_dim=4)
    out = store.scan_pruned("mie_fact", {"created_at": (10, 19)}).collect()
    assert {r["id"] for r in out} == {f"fact:{i}" for i in range(10, 20)}
    assert all(r["confidence"] is None for r in out)
