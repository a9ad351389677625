"""SparkSession factory tuned for both local testing and cluster scale.

Local runs use ``local[$SPARK_GRAFT_CPUS]`` (default all cores). The same
config block is what we would ship to a 1000-executor cluster: AQE owns
runtime shuffle sizing and skew handling, Arrow accelerates any
pandas-UDF path, and broadcast-join thresholds stay at Spark defaults so
Catalyst promotes small dimension tables automatically.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession

# Shuffle partition default for local test runs. On a real cluster AQE
# coalesces from a much larger initial number; locally 32 matches core
# count so no partition starves or spills at sf<=0.1.
_LOCAL_SHUFFLE_PARTITIONS = "32"


def get_spark(app_name: str = "mie_spark", master: str | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    AQE is the load-bearing setting: at 100 TB it re-plans shuffle
    partition counts, converts sort-merge joins to broadcast when a
    runtime side turns out small, and splits skewed partitions — all
    decisions we refuse to hard-code at build time.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if master is None:
        master = f"local[{cpus}]"

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Adaptive execution: runtime shuffle sizing, skew-join splitting,
        # and demotion/promotion of join strategies.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", _LOCAL_SHUFFLE_PARTITIONS)
        # Arrow for every pandas_udf / mapInPandas boundary.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Cap Arrow batches by BYTES as well as rows: with binary
        # payload columns (the multimodal operators) a 10k-row batch
        # is ~70 MB, and the 64 MB default × 32 workers × the
        # JVM↔Python copies thrashed the heap into GC-lock storms —
        # the r12 sf10 pHash run spent 263 s of its 277 on GC; 8 MB
        # batches read 16 s. Narrow-row batches (~1 MB at the 10k-row
        # cap) are untouched.
        .config("spark.sql.execution.arrow.maxBytesPerBatch", str(8 * 1024 * 1024))
        # Parquet scan sizing: 128 MiB splits keep partitions
        # executor-memory-friendly at any scale factor.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # ANSI off: the reference engine (CozoDB) is permissive about
        # coercions; ANSI-on would change overflow/cast semantics.
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # lower/upper through the JVM (UTF8String.toLowerCase: an ASCII
        # fast path, else String.toLowerCase in the default locale), as
        # in Spark 3.x. Spark 4's default ICU case mapping loads ICU's
        # data on the first call in a JVM: after the benchmark's warm-up
        # (4 vCPUs, C1 JIT), the first lower() over its 800-document
        # corpus took 2.9-3.6 s with ICU and 0.3-0.5 s without (0.1-0.3 s
        # warm). tests/test_session.py pins the results.
        .config("spark.sql.icu.caseMappings.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()


@contextmanager
def conf_overrides(spark: SparkSession, overrides: dict[str, str]) -> Iterator[None]:
    """Set session confs for the ``with`` block and restore the previous
    values (unsetting confs that had none) on exit, error included."""
    prev: dict[str, str | None] = {}
    try:
        # set INSIDE the try: if the Nth set raises, the finally below
        # still restores the N-1 already applied
        for k, v in overrides.items():
            prev[k] = spark.conf.get(k, None)
            spark.conf.set(k, v)
        yield
    finally:
        for k, old in prev.items():
            if old is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, old)
