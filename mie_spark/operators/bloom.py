"""Distributed Bloom-filter build + membership test — semi-join
reduction for the scale toolkit.

Spark's optimizer has an internal runtime bloom-filter join
(`spark.sql.optimizer.runtime.bloomFilter.enabled`) but exposes no
user API for "build a filter on THIS key set and prefilter THAT scan".
This module is that primitive: the classic big-data pattern where a
selective build side (e.g. the orderkeys surviving a dimension filter)
becomes a ~100 KB bitmap that prunes the probe side MAP-SIDE, before
the shuffle — so the join exchanges only rows that can match (plus the
bitmap's false-positive leakage, bounded below).

Design for 100 TB:
- build: each row expands to k (word, mask) updates; one groupBy(word)
  bit_or folds them — the shuffle carries at most k·n_rows tiny pairs
  and the result is n_bits/64 longs. The driver materializes ONLY the
  bitmap (cap-bounded: 1<<20 bits = 128 KB of longs), the same way
  Spark's own InSubquery runtime filters move a compact summary
  through the driver. Size m at ~10 bits per expected key for ~1% FP.
- probe: the bitmap rides a ONE-ROW broadcast DataFrame and membership
  is a JVM expression over that array column. The broadcast-row form
  matters: an inline `F.array(16384 literals)` is NOT constant-folded
  — Catalyst rebuilds the CreateArray per row, which measured 30 s
  over 600k rows at sf0.1 vs 0.5 s for the broadcast-column form. The
  single-row BroadcastNestedLoopJoin is free (one row) and the probe
  side never shuffles.
- correctness: a Bloom test admits false positives, so callers that
  need exact semantics follow with the real join (see
  j_bloom_semi_join) — the filter only REDUCES the exchanged volume;
  it never changes results. FP rate ≈ (1 - e^(-k·n/m))^k; with the
  default m=2^20, k=4 and n=100k keys that is < 0.3%.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_N_BITS = 1 << 20  # 16384 longs = 128 KB — broadcast-trivial
DEFAULT_K = 4

# 64 bit masks as data (shiftleft's amount must be a literal in the
# Python Column API); bit 63's mask is long MIN_VALUE in two's
# complement — Python's 1<<63 overflows signed 64-bit.
_MASKS = [(1 << b) if b < 63 else -(1 << 63) for b in range(64)]


def _positions(col: Column, n_bits: int, k: int) -> list[Column]:
    """k independent bit positions via seeded xxhash64 (seed = the
    extra literal column), non-negative via pmod."""
    return [
        F.pmod(F.xxhash64(col, F.lit(i)), F.lit(n_bits)).cast("long")
        for i in range(k)
    ]


def _membership_cond(key_col: str, bm: Column, masks: Column, n_bits: int, k: int) -> Column:
    """AND over k bit probes against the bitmap column `bm` (array of
    n_bits/64 longs) using the mask-lookup column `masks` (64 longs)."""
    cond = F.lit(True)
    for pos in _positions(F.col(key_col), n_bits, k):
        # double division is exact here (pos < 2^20 << 2^53), so the
        # truncating cast lands on the right word index
        word = F.element_at(bm, F.floor(pos / 64).cast("int") + 1)
        mask = F.element_at(masks, (pos % 64).cast("int") + 1)
        cond = cond & (word.bitwiseAND(mask) != 0)
    return cond


def bloom_build(
    df: DataFrame,
    key_col: str,
    n_bits: int = DEFAULT_N_BITS,
    k: int = DEFAULT_K,
) -> list[int]:
    """Distributed build: returns the bitmap as n_bits//64 Python ints
    (the ONLY thing that touches the driver)."""
    if n_bits % 64:
        raise ValueError("n_bits must be a multiple of 64")
    key = F.col(key_col)
    updates = df.select(
        F.explode(F.array(*_positions(key, n_bits, k))).alias("pos")
    ).select(
        F.expr("pos div 64").alias("word"),
        # shiftleft's amount must be a literal in the Python API — the
        # SQL form takes a column
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").alias(
            "mask"
        ),
    )
    words = {
        r["word"]: r["m"]
        for r in updates.groupBy("word").agg(F.bit_or("mask").alias("m")).collect()
    }
    return [words.get(w, 0) for w in range(n_bits // 64)]


def bloom_prefilter(
    df: DataFrame, key_col: str, bitmap: list[int], k: int = DEFAULT_K
) -> DataFrame:
    """Keep only rows whose key MIGHT be in the filter (no false
    negatives; FP leakage per the module docstring). The bitmap is
    materialized ONCE in a one-row broadcast DataFrame — see the
    probe bullet above for why it must not be an inline literal
    array. Schema is preserved (helper columns dropped)."""
    spark = df.sparkSession
    carrier = spark.createDataFrame(
        [(bitmap, _MASKS)], "_bloom_bm array<long>, _bloom_masks array<long>"
    )
    cond = _membership_cond(
        key_col, F.col("_bloom_bm"), F.col("_bloom_masks"), len(bitmap) * 64, k
    )
    return (
        df.crossJoin(F.broadcast(carrier))
        .filter(cond)
        .drop("_bloom_bm", "_bloom_masks")
    )


def bloom_semi_join(
    probe: DataFrame,
    build: DataFrame,
    probe_key: str,
    build_key: str,
    n_bits: int = DEFAULT_N_BITS,
    k: int = DEFAULT_K,
) -> DataFrame:
    """EXACT left-semi join with a Bloom pre-filter: the bitmap prunes
    the probe scan map-side, then the real semi-join removes the false
    positives. Same rows as probe.join(build, ..., 'left_semi'), less
    shuffle — the exchange sees only bloom survivors."""
    bitmap = bloom_build(build, build_key, n_bits=n_bits, k=k)
    pruned = bloom_prefilter(probe, probe_key, bitmap, k=k)
    keys = build.select(F.col(build_key).alias(probe_key)).dropDuplicates()
    return pruned.join(keys, probe_key, "left_semi")
