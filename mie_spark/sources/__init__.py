from mie_spark.sources.catalog import (
    TABLES,
    load_table,
    normalize_event_ts,
    parquet_ts_is_nanos,
    read_parquet,
    register_views,
)

__all__ = [
    "TABLES",
    "load_table",
    "normalize_event_ts",
    "parquet_ts_is_nanos",
    "read_parquet",
    "register_views",
]
