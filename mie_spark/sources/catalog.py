"""Table catalog over the parquet test corpus.

The driver generates a TPC-H-ish star schema plus ``events`` (stream
table), ``documents`` (text corpus) and ``embeddings`` (vector corpus)
at several scale factors (TESTDATA.md). Every query entry point takes a
``sf_dir`` so the same plan runs unchanged from sf0.001 smoke tests to
a 100 TB cluster layout — only the path changes.

Parquet scans here are the root of every plan, so this is where scan
hygiene is enforced: column pruning and predicate pushdown are left to
Catalyst, nothing is cached eagerly, and opening a table runs no Spark
job. Spark's own schema inference is a one-task job per table opened
(90-160 ms warm on 4 vCPUs); instead the driver reads the parquet footer
with pyarrow, maps it to the ``StructType`` Spark would infer and hands
that to ``spark.read.schema`` (15-50 ms).
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Footer key under which Spark stores the writer's schema; Spark's
# inference takes it in preference to the parquet column types.
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"

# Arrow type (as pyarrow reads the footer) -> the type Spark infers for
# that parquet column at the default parquet confs (binaryAsString off,
# inferTimestampNTZ.enabled on; the program sets neither). Types missing
# here and in _spark_type (unsigned ints, TIMESTAMP(NANOS) and INT96,
# durations, structs, maps, ...) leave the schema to Spark's inference.
_SCALARS = {
    pa.bool_(): T.BooleanType(),
    pa.int8(): T.ByteType(),
    pa.int16(): T.ShortType(),
    pa.int32(): T.IntegerType(),
    pa.int64(): T.LongType(),
    pa.float32(): T.FloatType(),
    pa.float64(): T.DoubleType(),
    pa.string(): T.StringType(),
    pa.large_string(): T.StringType(),
    pa.binary(): T.BinaryType(),
    pa.large_binary(): T.BinaryType(),
    pa.date32(): T.DateType(),
}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy parquet scan for one table; no caching and no Spark job (see
    ``read_parquet``).

    ``events.ts`` has shipped in two physical encodings across corpus
    versions: TIMESTAMP(NANOS) (which Spark's vectorized reader only
    accepts as long via legacy.parquet.nanosAsLong) and TIMESTAMP(MICROS)
    without isAdjustedToUTC (which Spark reads as TIMESTAMP_NTZ). Either
    way, downstream plans want one canonical type — session-tz TIMESTAMP
    — so we normalize based on what the footer actually says. The session
    timezone is pinned to UTC (mie_spark/session.py), making the NTZ cast
    wall-clock-preserving and identical to DuckDB's reading.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        return normalize_event_ts(read_parquet(spark, path, nanos_ts=True))
    return read_parquet(spark, path)


def read_parquet(spark: SparkSession, path: str, nanos_ts: bool = False) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema built on the driver
    from one footer read, so no inference job runs. Where the footer is
    unreadable on the driver (a remote URI, a partitioned directory) or
    holds a type outside the mapping, Spark infers the schema as before.

    ``nanos_ts``: if the footer's ``ts`` is TIMESTAMP(NANOS) (or
    unreadable), set legacy.parquet.nanosAsLong so Spark reads it as a
    long. The conf must stay set through EXECUTION of any plan built
    over this scan (restoring it immediately would break the lazy read),
    so it is session-sticky — but only set when the footer actually
    carries TIMESTAMP(NANOS), so sessions over micros-encoded corpora
    never see mutated behavior.
    """
    footer = _footer_schema(path)
    if nanos_ts and _ts_is_nanos(footer):
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = None if footer is None else _spark_schema(footer)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


def _ts_is_nanos(footer: pa.Schema | None) -> bool:
    """Spark refuses TIMESTAMP(NANOS) columns outright unless
    legacy.parquet.nanosAsLong is set, so the conf decision needs the
    footer's physical type BEFORE the first spark.read."""
    if footer is None:
        return True  # conservative: Spark may still meet nanos
    ts = footer.field("ts").type
    return pa.types.is_timestamp(ts) and ts.unit == "ns"


def _footer_schema(path: str) -> pa.Schema | None:
    """The Arrow schema, with the footer's key-value metadata, of the
    footer Spark's inference would read: the file's own, or for a flat
    directory of part files the first one (Spark skips names starting
    with ``_`` or ``.``). None for a partitioned directory or a path
    pyarrow cannot open."""
    try:
        if os.path.isdir(path):
            parts = sorted(e for e in os.listdir(path) if not e.startswith(("_", ".")))
            if not parts or any(os.path.isdir(os.path.join(path, e)) for e in parts):
                return None
            path = os.path.join(path, parts[0])
        return pq.read_schema(path)
    except (OSError, pa.ArrowException):
        return None


def _spark_schema(footer: pa.Schema) -> T.StructType | None:
    """The schema ``spark.read.parquet`` infers from ``footer``, or None
    if a column's type is outside the mapping. Nullability is Spark's
    business: it reads every file-source column as nullable."""
    spark_json = (footer.metadata or {}).get(_SPARK_SCHEMA_KEY)
    if spark_json is not None:
        return T.StructType.fromJson(json.loads(spark_json))
    fields = []
    for field in footer:
        dtype = _spark_type(field.type)
        if dtype is None:
            return None
        fields.append(T.StructField(field.name, dtype, True))
    return T.StructType(fields)


def _spark_type(t: pa.DataType) -> T.DataType | None:
    if pa.types.is_timestamp(t):
        if t.unit == "ns":  # nanosAsLong-dependent, or INT96
            return None
        # isAdjustedToUTC (any Arrow tz) reads as TIMESTAMP, else as NTZ
        return T.TimestampType() if t.tz else T.TimestampNTZType()
    if pa.types.is_decimal(t):
        return T.DecimalType(t.precision, t.scale) if t.precision <= 38 else None
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        element = _spark_type(t.value_type)
        return None if element is None else T.ArrayType(element, True)
    return _SCALARS.get(t)


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Coerce ``ts`` to session-tz TIMESTAMP whatever the scan produced."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, LongType):
        # nanos-as-long: integer division — ns values overflow double
        # mantissa, so no `/`
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(ts_type, TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every corpus table as a temp view so ``spark.sql`` — the
    raw-query escape hatch (reference: `mie query "<cozoscript>"`,
    cmd/mie/query.go:22-123) — sees the same names DuckDB's oracle does."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
