"""MieStore's row commit path: ``atomic_upsert_rows``.

The store merges row batches on the driver with pyarrow and files each
row under ``bkt=K`` with a pure-Python XXH64. Stores written by earlier
builds filed rows with Spark's ``pmod(xxhash64(keys), merge_buckets)``,
so these tests pin the driver hash to Spark's on every key type, the
merged tables to a last-write-wins model, and the snapshot layout to
Spark's hash — and that an agent-sized write or meta read runs no Spark
job at all. The store's cache of decoded part files must read exactly
as a cold decode does, and decode nothing a warm read or merge needs.
"""

from __future__ import annotations

import os
from unittest import mock

import pyarrow as pa
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
from mie_spark import storage
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


def _spark_bkt(table: str, n: int):  # noqa: ANN202
    """Spark's bucket of a row: the hash stores written by earlier
    builds' Spark merge filed every row with."""
    keys = [F.col(k) for k in S.key_columns(table)]
    return F.pmod(F.xxhash64(*keys), F.lit(n)).cast("int")


def _assert_buckets_match(spark, table: str, rows: list[tuple]) -> None:
    """Spark's bucket for every merge_buckets in BUCKET_COUNTS, in one
    job, against the driver twin."""
    df = spark.createDataFrame(rows, _key_schema(table))
    got = df.select(
        *df.columns, *[_spark_bkt(table, n).alias(f"b{n}") for n in BUCKET_COUNTS]
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


# -- driver merge vs a last-write-wins model ---------------------------------

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


def _contents(store: MieStore, table: str) -> list[tuple]:
    return sorted(
        (tuple(r) for r in store.table(table).collect()), key=repr
    )


def _model_put(model: dict, batch: dict[str, list[dict]]) -> dict[str, int]:
    """Last-write-wins by key, as sequential ``:put``: each table of
    ``model`` maps a key tuple to its row in canonical column order.
    Returns the batch's unique-key count per table."""
    counts = {}
    for table, rows in batch.items():
        names = S.table_schema(table).names
        seen = set()
        for r in rows:
            key = tuple(r[k] for k in S.key_columns(table))
            model.setdefault(table, {})[key] = tuple(r.get(c) for c in names)
            seen.add(key)
        counts[table] = len(seen)
    return counts


def test_driver_merge_matches_model(spark, tmp_path):
    """One batch sequence through atomic_upsert_rows against a
    pure-Python last-write-wins model: a first write under an older,
    narrower schema (int created_at, float confidence), a merge into
    existing buckets, an overwrite of existing keys with an intra-batch
    duplicate, and a write that touches new and old buckets. The store
    ends with the model's tables, and every row of a bkt=K file hashes
    to K under Spark's bucket hash."""
    driver = MieStore(spark, path=str(tmp_path / "driver"), merge_buckets=4)
    model: dict = {}
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
        assert driver.atomic_upsert_rows(first) == _model_put(model, first)

    dup = _batch([5, 6, 40])
    dup = {t: rows + rows[:1] for t, rows in dup.items()}  # exact duplicate row
    steps = [
        _batch([30, 31, 32]),  # merge into existing buckets
        dup,  # overwrite existing keys + intra-batch duplicate
        _batch(list(range(25, 45)), content="new"),  # overwrites and inserts
    ]
    for batch in steps:
        assert driver.atomic_upsert_rows(batch) == _model_put(model, batch)

    assert len(_contents(driver, "mie_fact")) == 45
    for table in TABLES:
        assert _contents(driver, table) == sorted(model[table].values(), key=repr), table
        snap = driver._snapshot_dir(table)
        misfiled = (
            driver._read_snapshot(table, snap)
            .filter(F.col("bkt") != _spark_bkt(table, driver.merge_buckets))
            .count()
        )
        assert misfiled == 0, table


def test_driver_merge_rewrites_pre_bucketing_snapshot(spark, tmp_path):
    """A snapshot written before the bucketed layout (flat part files,
    no bkt=K dirs) is read whole by the next row merge and rewritten
    bucketed, with every row in the bucket Spark's hash gives it."""
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
        .filter(F.col("bkt") != _spark_bkt("mie_fact", store.merge_buckets))
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


# -- the decoded-part cache ----------------------------------------------------


def _cold(store: MieStore, table: str):  # noqa: ANN202
    """``table`` decoded from disk by a store with an empty cache."""
    return MieStore(store.spark, path=store.path).table_arrow(table)


def _assert_warm_is_cold(store: MieStore) -> None:
    for table in TABLES + ("mie_meta",):
        warm = store.table_arrow(table)
        cold = _cold(store, table)
        assert warm.schema == cold.schema, table
        assert warm.equals(cold), table


@pytest.fixture()
def decodes():
    """Counts part files decoded from disk."""
    with mock.patch.object(storage, "_decode_part", wraps=storage._decode_part) as spy:
        yield spy


def test_cached_reads_equal_cold_decodes(spark, tmp_path):
    """Commits interleaved with reads, a first write under a narrower
    schema among them: every table_arrow equals a decode from disk."""
    store = MieStore(spark, path=str(tmp_path / "s"), merge_buckets=4)
    narrow = StructType(
        [
            StructField(f.name, FloatType() if f.name == "confidence" else f.dataType)
            for f in S.FACT
        ]
    )
    with mock.patch.object(S, "NODE_TABLES", {**S.NODE_TABLES, "mie_fact": narrow}):
        store.atomic_upsert_rows(_batch(list(range(10))))
        _assert_warm_is_cold(store)
    _assert_warm_is_cold(store)
    for step in ([3, 4, 50], list(range(5, 25)), [7]):
        store.atomic_upsert_rows(_batch(step, content="v"), {"n": 1})
        _assert_warm_is_cold(store)
        store.meta_increment("n")
        _assert_warm_is_cold(store)
    assert store.meta_get("n") == "6"


def test_warm_reads_decode_nothing(spark, tmp_path, decodes):
    """After a first write, reads decode no part file; neither does a
    one-bucket commit nor the read after it. A store opened on the same
    directory decodes each file once."""
    store = MieStore(spark, path=str(tmp_path / "s"), merge_buckets=4)
    store.atomic_upsert_rows(_batch(list(range(40))))
    decodes.reset_mock()
    for table in TABLES + ("mie_meta",):
        store.table_arrow(table)
    assert decodes.call_count == 0

    store.upsert_rows("mie_fact", [_fact(3, "new")])
    facts = store.table_arrow("mie_fact")
    assert decodes.call_count == 0
    assert dict(zip(facts["id"].to_pylist(), facts["content"].to_pylist()))["fact:003"] == "new3"

    other = MieStore(spark, path=store.path, merge_buckets=4)
    decodes.reset_mock()
    other.table_arrow("mie_fact")
    assert decodes.call_count == len(store._part_files(store._snapshot_dir("mie_fact")))
    decodes.reset_mock()
    other.table_arrow("mie_fact")
    assert decodes.call_count == 0


def test_replaced_part_file_is_decoded_again(spark, tmp_path, decodes):
    """A part file swapped (os.replace) for another with the same name,
    size and mtime is a new inode: the next read decodes it."""
    import pyarrow.parquet as pq

    store = MieStore(spark, path=str(tmp_path / "s"), merge_buckets=1)
    store.upsert_rows("mie_fact", [_fact(i, "aaaa") for i in range(4)])
    (part,) = store._part_files(store._snapshot_dir("mie_fact"))
    rows = store.table_arrow("mie_fact")

    def swap(content: str) -> None:
        t = rows.set_column(1, "content", pa.array([content] * rows.num_rows))
        tmp = part + ".tmp"
        pq.write_table(t, tmp, compression="none", use_dictionary=False,
                       write_statistics=False)
        old = os.stat(part)
        if content == "bbbb":  # the same name, size and mtime as the file it replaces
            assert os.stat(tmp).st_size == old.st_size
            os.utime(tmp, ns=(old.st_atime_ns, old.st_mtime_ns))
        os.replace(tmp, part)

    swap("aaaa")  # a file the test controls, so the swap can keep its size
    assert set(store.table_arrow("mie_fact")["content"].to_pylist()) == {"aaaa"}
    decodes.reset_mock()
    swap("bbbb")
    assert set(store.table_arrow("mie_fact")["content"].to_pylist()) == {"bbbb"}
    assert decodes.call_count == 1


def test_cache_stays_under_its_bound(spark, tmp_path):
    bound = 6_000
    with mock.patch.object(storage, "_DECODED_BYTES", bound):
        store = MieStore(spark, path=str(tmp_path / "s"), merge_buckets=4)
        for lo in range(0, 60, 15):
            store.atomic_upsert_rows(_batch(list(range(lo, lo + 15))))
            for table in TABLES + ("mie_meta",):
                store.table_arrow(table)
            cached = store._parts._tables.values()
            assert store._parts._bytes == sum(t.nbytes for t in cached) <= bound
        assert len(cached) < sum(
            len(store._part_files(store._snapshot_dir(t))) for t in TABLES
        )
        _assert_warm_is_cold(store)


def test_restore_and_reset_show_their_rows(spark, tmp_path):
    """Warm reads across restore (which backs up and restores the
    memory tables, not the streaming ledger) and reset."""
    store = MieStore(spark, path=str(tmp_path / "s"), merge_buckets=4)
    store.atomic_upsert_rows(_batch(list(range(12))))
    memory = [t for t in TABLES if t in S.ALL_TABLES]
    before = {t: store.table_arrow(t) for t in memory}
    store.backup(str(tmp_path / "backup"))
    store.atomic_upsert_rows(_batch(list(range(6, 20)), content="after"))
    store.table_arrow("mie_fact")

    store.restore(str(tmp_path / "backup"))
    for t in memory:
        assert sorted(store.table_arrow(t).to_pylist(), key=repr) == sorted(
            before[t].to_pylist(), key=repr
        ), t
    _assert_warm_is_cold(store)

    store.reset()
    for t in TABLES:
        assert store.table_arrow(t).num_rows == 0, t
    assert store.meta_get("schema_version") == S.SCHEMA_VERSION
    store.upsert_rows("mie_fact", [_fact(1, "fresh")])
    assert store.table_arrow("mie_fact")["content"].to_pylist() == ["fresh1"]
    _assert_warm_is_cold(store)


def test_cache_accounting_survives_concurrent_readers(spark, tmp_path):
    """Eight readers and a writer share one store's cache under a small
    bound and a short switch interval: its byte count stays equal to
    the bytes it holds, within the bound, and readers see whole rows."""
    import sys
    import threading

    bound = 3_000  # about two buckets: nearly every read decodes and evicts
    with mock.patch.object(storage, "_DECODED_BYTES", bound):
        store = MieStore(spark, path=str(tmp_path / "s"), merge_buckets=4)
        store.atomic_upsert_rows(_batch(list(range(20))))
        errors: list[BaseException] = []

        def read() -> None:
            try:
                for _ in range(30):
                    for table in TABLES:
                        try:
                            assert store.table_arrow(table).num_rows >= 20
                        except FileNotFoundError:
                            pass  # two commits overtook the read: GC's contract
            except BaseException as exc:  # noqa: BLE001 — reported below
                errors.append(exc)

        def write() -> None:
            try:
                for lo in range(20, 40, 4):
                    store.atomic_upsert_rows(_batch(list(range(lo, lo + 4))))
            except BaseException as exc:  # noqa: BLE001 — reported below
                errors.append(exc)

        old = sys.getswitchinterval()
        sys.setswitchinterval(1e-6)
        try:
            threads = [threading.Thread(target=read) for _ in range(8)]
            threads.append(threading.Thread(target=write))
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=120)
        finally:
            sys.setswitchinterval(old)
        assert not any(t.is_alive() for t in threads)
        assert errors == []
        cached = store._parts._tables.values()
        assert store._parts._bytes == sum(t.nbytes for t in cached) <= bound
        assert store.table_arrow("mie_fact").num_rows == 40
