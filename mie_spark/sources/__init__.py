from mie_spark.sources.catalog import (
    TABLES,
    load_table,
    normalize_event_ts,
    read_parquet,
    register_views,
)

__all__ = [
    "TABLES",
    "load_table",
    "normalize_event_ts",
    "read_parquet",
    "register_views",
]
