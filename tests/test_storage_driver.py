"""The driver-side row commit path of MieStore against its Spark twin.

``atomic_upsert_rows`` merges row batches on the driver with pyarrow and
files each row under ``bkt=K`` with a pure-Python XXH64; the streaming
path (``atomic_upsert_dfs``) merges DataFrames with one Spark plan and
Spark's own ``pmod(xxhash64(keys), merge_buckets)``. These tests pin
the two to each other: the bucket hash on every key type, the merged
table contents and the snapshot layout — and that an agent-sized write
or meta read runs no Spark job at all.
"""

from __future__ import annotations

import os
from unittest import mock

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql.types import (
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from mie_spark import schemas as S
from mie_spark.storage import MieStore, _key_bucket

BUCKET_COUNTS = (1, 16, 7)

STRINGS = [
    "",
    "a",
    "é",
    "日本語",
    "😀 emoji",
    "x" * 31,
    "y" * 32,  # one full 32-byte stripe: the 4-lane loop runs
    "z" * 33,
    "ü" * 40,  # multi-byte, > 32 bytes
    "fact:" + "0123456789abcdef" * 4,
    None,
]
LONGS = [0, 1, -1, 7, -123456789, 2**31, 2**63 - 1, -(2**63), None]


def _key_schema(table: str) -> StructType:
    schema = S.table_schema(table)
    return StructType([schema[k] for k in S.key_columns(table)])


def _values(dtype) -> list:  # noqa: ANN001
    if isinstance(dtype, StringType):
        return STRINGS
    assert isinstance(dtype, LongType), f"untested key type {dtype}"
    return LONGS


def _assert_buckets_match(spark, table: str, rows: list[tuple]) -> None:
    """Spark's _bkt for every merge_buckets in BUCKET_COUNTS, in one
    job, against the driver twin."""
    stores = [MieStore(spark, merge_buckets=n) for n in BUCKET_COUNTS]
    df = spark.createDataFrame(rows, _key_schema(table))
    got = df.select(
        *df.columns, *[s._bkt(table).alias(f"b{n}") for s, n in zip(stores, BUCKET_COUNTS)]
    ).collect()
    assert len(got) == len(rows)
    for r in got:
        key = tuple(r[c] for c in df.columns)
        for n in BUCKET_COUNTS:
            assert _key_bucket(key, n) == r[f"b{n}"], (table, key, n)


@pytest.mark.parametrize("table", S.ALL_TABLES + list(S.AUX_TABLES))
def test_key_bucket_matches_spark_on_every_table(spark, table):
    """Every key column of every table, on the edge values: empty,
    non-ASCII and >= 32-byte strings, NULLs, 0, negatives and the
    signed 64-bit bounds; composite keys take the cross product."""
    cols = [_values(f.dataType) for f in _key_schema(table)]
    rows = [()]
    for vals in cols:
        rows = [r + (v,) for r in rows for v in vals]
    _assert_buckets_match(spark, table, rows)


_STRING = st.none() | st.text(max_size=80)
_LONG = st.none() | st.integers(min_value=-(2**63), max_value=2**63 - 1)


@pytest.mark.parametrize(
    "table, strategy",
    [
        ("mie_fact", st.tuples(_STRING)),  # one string key
        ("mie_fact_entity", st.tuples(_STRING, _STRING)),  # two-string edge key
        ("mie_stream_commits", st.tuples(_STRING, _LONG)),  # string + long
    ],
)
def test_key_bucket_property(spark, table, strategy):
    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(st.lists(strategy, min_size=1, max_size=40))
    def check(rows):
        _assert_buckets_match(spark, table, rows)

    check()


# -- differential: driver merge vs Spark merge -------------------------------

TABLES = ("mie_fact", "mie_fact_embedding", "mie_fact_entity", "mie_stream_commits")


def _fact(i: int, content: str = "c") -> dict:
    return {
        "id": f"fact:{i:03d}",
        "content": f"{content}{i}",
        "category": "general",
        "confidence": 0.5,
        "valid": i % 3 != 0,
        "created_at": 1000 + i,
        "updated_at": 2000 + i,
    }


def _batch(ids: list[int], content: str = "c") -> dict[str, list[dict]]:
    return {
        "mie_fact": [_fact(i, content) for i in ids],
        "mie_fact_embedding": [
            {"fact_id": f"fact:{i:03d}", "embedding": [float(i), 0.5, -1.0]}
            for i in ids
        ],
        "mie_fact_entity": [
            {"fact_id": f"fact:{i:03d}", "entity_id": f"ent:{i % 4}"} for i in ids
        ],
        "mie_stream_commits": [
            {"stream_id": f"s{i % 2}", "batch_id": i - 50, "committed_at": i}
            for i in ids
        ],
    }


def _frames(spark, batch: dict[str, list[dict]]) -> dict:
    out = {}
    for table, rows in batch.items():
        schema = S.table_schema(table)
        out[table] = spark.createDataFrame(
            [tuple(r.get(f.name) for f in schema) for r in rows], schema
        )
    return out


def _contents(store: MieStore, table: str) -> list[tuple]:
    return sorted(
        (tuple(r) for r in store.table(table).collect()), key=repr
    )


def test_driver_merge_matches_spark_merge(spark, tmp_path):
    """One batch sequence through atomic_upsert_rows (driver) and
    atomic_upsert_dfs (Spark): a first write under an older, narrower
    schema (int created_at, float confidence), a merge into existing
    buckets, an overwrite of existing keys with an intra-batch
    duplicate, and a write that touches new and old buckets. Both
    stores end with identical tables; in the driver store every row of
    a bkt=K file hashes to K under Spark's _bkt, and _ZONES.json lists
    every part file."""
    driver = MieStore(spark, path=str(tmp_path / "driver"), merge_buckets=4)
    spark_side = MieStore(spark, path=str(tmp_path / "spark"), merge_buckets=4)
    narrow = StructType(
        [
            StructField(
                f.name,
                {"confidence": FloatType(), "created_at": IntegerType()}.get(
                    f.name, f.dataType
                ),
            )
            for f in S.table_schema("mie_fact")
        ]
    )
    with mock.patch.object(S, "NODE_TABLES", {**S.NODE_TABLES, "mie_fact": narrow}):
        first = _batch(list(range(0, 30)))
        assert driver.atomic_upsert_rows(first) == spark_side.atomic_upsert_dfs(
            _frames(spark, first)
        )

    dup = _batch([5, 6, 40])
    dup = {t: rows + rows[:1] for t, rows in dup.items()}  # exact duplicate row
    steps = [
        _batch([30, 31, 32]),  # merge into existing buckets
        dup,  # overwrite existing keys + intra-batch duplicate
        _batch(list(range(25, 45)), content="new"),  # overwrites and inserts
    ]
    for batch in steps:
        got = driver.atomic_upsert_rows(batch)
        assert got == spark_side.atomic_upsert_dfs(_frames(spark, batch))

    assert len(_contents(driver, "mie_fact")) == 45
    for table in TABLES:
        assert _contents(driver, table) == _contents(spark_side, table), table
        snap = driver._snapshot_dir(table)
        misfiled = (
            driver._read_snapshot(table, snap)
            .filter(F.col("bkt") != driver._bkt(table))
            .count()
        )
        assert misfiled == 0, table
        files = {os.path.relpath(p, snap) for p in driver._part_files(snap)}
        assert set(driver.zones(table)) == files, table


def test_driver_merge_rewrites_pre_bucketing_snapshot(spark, tmp_path):
    """A snapshot written before the bucketed layout (flat part files,
    no bkt=K dirs) is read whole by the next row merge and rewritten
    bucketed, with every row in the bucket Spark's _bkt gives it."""
    path = str(tmp_path / "flat")
    store = MieStore(spark, path=path, merge_buckets=4)
    rows = _batch(list(range(12)))["mie_fact"]
    flat = os.path.join(path, "mie_fact", "v1")
    spark.createDataFrame(
        [tuple(r.get(f.name) for f in S.FACT) for r in rows], S.FACT
    ).coalesce(1).write.parquet(flat)
    with open(os.path.join(path, "mie_fact", "_CURRENT"), "w") as fh:
        fh.write("v1")

    store.upsert_rows("mie_fact", [_fact(3, "new"), _fact(20)])
    snap = store._snapshot_dir("mie_fact")
    assert store._is_bucketed(snap)
    by_id = {r["id"]: r["content"] for r in store.table("mie_fact").collect()}
    assert len(by_id) == 13
    assert by_id["fact:003"] == "new3" and by_id["fact:004"] == "c4"
    misfiled = (
        store._read_snapshot("mie_fact", snap)
        .filter(F.col("bkt") != store._bkt("mie_fact"))
        .count()
    )
    assert misfiled == 0


# -- no Spark job for an agent-sized write or meta read ----------------------


def test_small_writes_and_meta_reads_run_no_spark_job(spark, spark_jobs, tmp_path):
    path = str(tmp_path / "jobs")
    stores: list[MieStore] = []
    assert spark_jobs(lambda: stores.append(MieStore(spark, path=path))) == 0
    store = stores[0]
    assert store.meta_get("schema_version") == S.SCHEMA_VERSION
    assert spark_jobs(lambda: store.meta_values(["schema_version"])) == 0
    assert spark_jobs(lambda: store.meta_increment("n")) == 0
    assert spark_jobs(lambda: MieStore(spark)) == 0
    batch = _batch([1, 2, 3])
    assert spark_jobs(lambda: store.atomic_upsert_rows(batch, {"n": 1})) == 0
    assert store.meta_get("n") == "2"
    # the counter does see Spark jobs: a table scan runs at least one
    assert spark_jobs(lambda: store.table("mie_fact").count()) >= 1
