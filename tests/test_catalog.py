"""events.ts encoding dispatch (sources/catalog.py).

The corpus has shipped ``ts`` as TIMESTAMP(NANOS) (readable only via
legacy.parquet.nanosAsLong, arriving as long), as TIMESTAMP(MICROS)
without isAdjustedToUTC (arriving as TIMESTAMP_NTZ), and could ship as
plain UTC micros. A corpus re-encoding broke every events read
mid-round-3, so all three paths are pinned here against synthetic
parquet written with explicit pyarrow types: same rows in, identical
session-tz timestamps out.

Opening a table runs no Spark job: the read schema is built on the
driver from the parquet footer. The parity tests below pin it to what
Spark's own inference (``spark.read.parquet(path).schema``) returns —
names, types, nullability and metadata — for every corpus table, every
``events.ts`` encoding, a Spark-written directory and each Arrow type
the mapping covers; types it does not cover are left to Spark.
"""

from __future__ import annotations

import datetime as dt

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from conftest import SF_ORACLE, SF_SMOKE
from pyspark.sql import functions as F

from mie_spark.sources.catalog import (
    TABLES,
    load_table,
    normalize_event_ts,
    parquet_ts_is_nanos,
    read_parquet,
)
from mie_spark.streaming import (
    read_documents_stream,
    read_events_stream,
    read_lineitem_stream,
)

_ROWS = {
    "event_id": [1, 2, 3],
    "user_id": [10, 11, 12],
    "event_type": ["view", "click", "purchase"],
    "value": [1.0, 2.0, 3.0],
    "props": ["{}", "{}", "{}"],
}
_TIMES = [
    dt.datetime(2024, 3, 1, 12, 0, 0, 250000),
    dt.datetime(2024, 3, 1, 12, 30, 0, 500000),
    dt.datetime(2024, 3, 2, 9, 15, 30, 750000),
]


def _write_events(dirpath, ts_type) -> str:
    table = pa.table(
        {
            "event_id": pa.array(_ROWS["event_id"], pa.int64()),
            "ts": pa.array(_TIMES, ts_type),
            "user_id": pa.array(_ROWS["user_id"], pa.int64()),
            "event_type": pa.array(_ROWS["event_type"], pa.string()),
            "value": pa.array(_ROWS["value"], pa.float64()),
            "props": pa.array(_ROWS["props"], pa.string()),
        }
    )
    path = str(dirpath / "events.parquet")
    pq.write_table(table, path)
    return str(dirpath)


_EXPECTED = [t.strftime("%Y-%m-%d %H:%M:%S.%f") for t in _TIMES]


@pytest.mark.parametrize(
    "ts_type,is_nanos",
    [
        (pa.timestamp("ns"), True),  # TIMESTAMP(NANOS): nanosAsLong path
        (pa.timestamp("us"), False),  # MICROS / NTZ: cast path
        (pa.timestamp("us", tz="UTC"), False),  # UTC micros: passthrough
    ],
    ids=["nanos", "micros-ntz", "micros-utc"],
)
def test_ts_encodings_normalize_identically(spark, tmp_path, ts_type, is_nanos):
    sf_dir = _write_events(tmp_path, ts_type)
    assert parquet_ts_is_nanos(f"{sf_dir}/events.parquet") is is_nanos
    df = load_table(spark, sf_dir, "events")
    assert str(df.schema["ts"].dataType) == "TimestampType()"
    # nanos falls back to Spark's inference (nanosAsLong); the others map
    path = f"{sf_dir}/events.parquet"
    _assert_same_schema(read_parquet(spark, path, nanos_ts=True), spark.read.parquet(path))
    got = [
        r["ts"].strftime("%Y-%m-%d %H:%M:%S.%f")
        for r in df.orderBy("event_id").collect()
    ]
    assert got == _EXPECTED


# -- the footer schema equals Spark's inference --------------------------------


def _assert_same_schema(got, want) -> None:  # noqa: ANN001
    """Names, types, nullability and field metadata, in order."""
    assert got.schema.jsonValue() == want.schema.jsonValue()


@pytest.mark.parametrize("sf_dir", [SF_SMOKE, SF_ORACLE], ids=["sf0.001", "sf0.01"])
@pytest.mark.parametrize("name", TABLES)
def test_corpus_schema_matches_spark_inference(spark, sf_dir, name):
    path = f"{sf_dir}/{name}.parquet"
    inferred = spark.read.parquet(path)
    _assert_same_schema(read_parquet(spark, path), inferred)
    if name == "events":
        inferred = normalize_event_ts(inferred)
    _assert_same_schema(load_table(spark, sf_dir, name), inferred)


def test_spark_written_directory_schema_matches(spark, spark_jobs, tmp_path):
    # part files whose footers carry Spark's own schema (row metadata),
    # with non-nullable columns: the INT96 timestamp and the struct are
    # outside the Arrow mapping, so 0 jobs means the stored schema served
    path = str(tmp_path / "documents.parquet")
    spark.range(6).select(
        "id",
        F.col("id").cast("int").alias("n"),
        F.timestamp_seconds("id").alias("ts"),
        F.array(F.col("id").cast("float")).alias("vec"),
        F.struct(F.col("id").alias("a")).alias("s"),
        F.lit("x").alias("text"),
    ).repartition(2).write.parquet(path)
    assert spark_jobs(lambda: read_parquet(spark, path)) == 0
    _assert_same_schema(read_parquet(spark, path), spark.read.parquet(path))
    _assert_same_schema(load_table(spark, str(tmp_path), "documents"), spark.read.parquet(path))


_COVERED = {
    "int32": pa.array([1, None], pa.int32()),
    "int64": pa.array([1, None], pa.int64()),
    "int8": pa.array([1, None], pa.int8()),
    "int16": pa.array([1, None], pa.int16()),
    "double": pa.array([1.5, None], pa.float64()),
    "float": pa.array([1.5, None], pa.float32()),
    "string": pa.array(["a", None], pa.string()),
    "large_string": pa.array(["a", None], pa.large_string()),
    "binary": pa.array([b"a", None], pa.binary()),
    "bool": pa.array([True, None], pa.bool_()),
    "date": pa.array([dt.date(2024, 3, 1), None], pa.date32()),
    "decimal": pa.array([1, None], pa.decimal128(12, 2)),
    "ts_us": pa.array([_TIMES[0], None], pa.timestamp("us")),
    "ts_ms": pa.array([_TIMES[0], None], pa.timestamp("ms")),
    "ts_s": pa.array([_TIMES[0], None], pa.timestamp("s")),
    "ts_us_utc": pa.array([_TIMES[0], None], pa.timestamp("us", tz="UTC")),
    "ts_us_ny": pa.array([_TIMES[0], None], pa.timestamp("us", tz="America/New_York")),
    "list_float": pa.array([[1.0, None], None], pa.list_(pa.float32())),
    "list_float_required": pa.array(
        [[1.0], None], pa.list_(pa.field("element", pa.float32(), nullable=False))
    ),
    "large_list_double": pa.array([[1.0], None], pa.large_list(pa.float64())),
}


@pytest.mark.parametrize("kind", _COVERED)
def test_arrow_type_sweep_matches_without_a_job(spark, spark_jobs, tmp_path, kind):
    path = str(tmp_path / f"{kind}.parquet")
    pq.write_table(pa.table({"id": pa.array([1, 2], pa.int64()), "c": _COVERED[kind]}), path)
    assert spark_jobs(lambda: read_parquet(spark, path)) == 0
    _assert_same_schema(read_parquet(spark, path), spark.read.parquet(path))


_NOT_COVERED = {
    "uint32": pa.array([1], pa.uint32()),  # Spark widens to bigint
    "uint64": pa.array([1], pa.uint64()),  # Spark reads decimal(20,0)
    "fixed_binary": pa.array([b"ab"], pa.binary(2)),
    "duration": pa.array([1], pa.duration("s")),  # Spark reads bigint
    "struct": pa.array([{"a": 1}]),
    "map": pa.array([[("k", 1)]], pa.map_(pa.string(), pa.int64())),
    "dictionary": pa.array(["a"]).dictionary_encode(),
}


@pytest.mark.parametrize("kind", _NOT_COVERED)
def test_uncovered_types_are_left_to_spark_inference(spark, spark_jobs, tmp_path, kind):
    path = str(tmp_path / f"{kind}.parquet")
    pq.write_table(pa.table({"id": pa.array([1], pa.int64()), "c": _NOT_COVERED[kind]}), path)
    # the footer holds a type outside the mapping: read_parquet leaves
    # the schema to Spark, which runs its inference job
    assert spark_jobs(lambda: read_parquet(spark, path)) >= 1
    _assert_same_schema(read_parquet(spark, path), spark.read.parquet(path))


def test_partitioned_directory_is_left_to_spark_inference(spark, spark_jobs, tmp_path):
    path = str(tmp_path / "part.parquet")
    spark.range(4).withColumn("k", F.col("id") % 2).write.partitionBy("k").parquet(path)
    assert spark_jobs(lambda: read_parquet(spark, path)) >= 1
    _assert_same_schema(read_parquet(spark, path), spark.read.parquet(path))
    assert read_parquet(spark, path).columns == ["id", "k"]


def test_opening_tables_runs_no_spark_job(spark, spark_jobs):
    def open_all() -> None:
        for name in TABLES:
            load_table(spark, SF_ORACLE, name)
        read_events_stream(spark, SF_ORACLE)
        read_documents_stream(spark, SF_ORACLE)
        read_lineitem_stream(spark, SF_ORACLE)

    assert spark_jobs(open_all) == 0
