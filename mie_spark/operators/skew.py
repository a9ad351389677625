"""Skew mitigation: salted two-stage aggregation.

At 1000-executor scale a single hot key (one user with 10% of all
events, one null-ish default id) turns a shuffle into one straggler
task that runs for hours. AQE's skew-join splitting handles sort-merge
cases adaptively, but not aggregations; explicit salting is the
deterministic fallback for them.

Semantics are identical to the unsalted operation — tests assert
row-for-row equality with the plain plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


_PARTIAL = {
    "sum": F.sum,
    "count": lambda c: F.count(c),
    "min": F.min,
    "max": F.max,
}
# how partial results combine per key: counts add, min of mins, etc.
_COMBINE = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}


def salted_groupby_agg(
    df: DataFrame,
    key: str,
    aggs: dict[str, tuple[str, str]],
    n_salt: int = 8,
) -> DataFrame:
    """Two-stage aggregation for skewed group keys: aggregate on
    (key, salt) first — spreading a hot key over n_salt partial groups —
    then combine partials per key.

    ``aggs`` maps output name -> (agg, input column) where agg is one of
    sum/count/min/max (the decomposable aggregates: the second stage
    applies the matching combiner). Spark's hash aggregate already does
    map-side partials, but every partial for a key still meets in ONE
    reducer; the salt stage caps any reducer's share of a hot key at
    1/n_salt. The salt is row-id round-robin, not a content hash: the
    canonical hot key ("one null-ish default id") is usually millions
    of byte-identical rows, which a content hash would map to ONE salt.
    Every decomposable aggregate here is salt-assignment-invariant, so
    the layout-dependent salt is harmless.
    """
    for name, (agg, _) in aggs.items():
        if agg not in _PARTIAL:
            raise ValueError(f"{name}: non-decomposable aggregate {agg!r}")
    salt = F.pmod(F.monotonically_increasing_id(), F.lit(n_salt)).cast("int")
    partial = (
        df.withColumn("_salt", salt)
        .groupBy(key, "_salt")
        .agg(
            *[
                _PARTIAL[agg](col).alias(f"_p_{name}")
                for name, (agg, col) in aggs.items()
            ]
        )
    )
    return partial.groupBy(key).agg(
        *[
            _COMBINE[agg](f"_p_{name}").alias(name)
            for name, (agg, _) in aggs.items()
        ]
    )
