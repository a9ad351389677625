"""Bloom-filter semi-join reduction (operators/bloom.py) and the
blocked record-linkage join: exactness, no-false-negatives, bounded
false-positive leakage, and the plan shapes that make them scale."""

from __future__ import annotations

from pyspark.sql import functions as F

from mie_spark.operators.bloom import (
    bloom_build,
    bloom_prefilter,
    bloom_semi_join,
)
from mie_spark.sources import load_table

SF = "/root/testdata/sf0.001"


def _urgent_orders(spark):
    return load_table(spark, SF, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )


def test_bloom_semi_join_is_exact(spark):
    """The bloom prefilter only prunes; the follow-up join removes
    leakage, so the result set equals the plain left-semi join's."""
    li = load_table(spark, SF, "lineitem")
    o = _urgent_orders(spark)
    got = {
        tuple(r)
        for r in bloom_semi_join(li, o, "l_orderkey", "o_orderkey")
        .select("l_orderkey", "l_partkey", "l_suppkey")
        .collect()
    }
    want = {
        tuple(r)
        for r in li.join(
            o.select(F.col("o_orderkey").alias("l_orderkey")),
            "l_orderkey",
            "left_semi",
        )
        .select("l_orderkey", "l_partkey", "l_suppkey")
        .collect()
    }
    assert got == want and got


def test_bloom_no_false_negatives(spark):
    """Every inserted key must pass the membership test — a Bloom
    filter can lie positive, never negative."""
    o = _urgent_orders(spark)
    bitmap = bloom_build(o, "o_orderkey")
    n_keys = o.count()
    assert bloom_prefilter(o, "o_orderkey", bitmap).count() == n_keys
    # the semi-join's membership path keeps every key too: a false
    # negative would drop the row before the exact join could keep it
    assert bloom_semi_join(o, o, "o_orderkey", "o_orderkey").count() == n_keys


def test_bloom_false_positive_rate_bounded(spark):
    """Keys that were NOT inserted leak through at ~(1-e^(-kn/m))^k —
    with m=2^20, k=4 and a few thousand keys that is well under 1%;
    assert a loose 5% so the test is stable, while still catching a
    degenerate hash (100% leakage) instantly."""
    o = _urgent_orders(spark)
    bitmap = bloom_build(o, "o_orderkey")
    others = (
        load_table(spark, SF, "orders")
        .join(o.select("o_orderkey"), "o_orderkey", "left_anti")
    )
    n = others.count()
    fp = bloom_prefilter(others, "o_orderkey", bitmap).count()
    assert fp / max(n, 1) < 0.05, f"FP rate {fp}/{n}"


def test_bloom_prefilter_no_probe_shuffle_no_python(spark):
    """The probe-side test must stay a JVM expression evaluated map-
    side: the only join is the one-row bitmap-carrier broadcast (free),
    the probe side never hits a shuffle exchange, and no Python eval
    appears. An inline literal bitmap would ALSO pass this plan check
    while costing O(bitmap) per row — the bench guards that separately;
    here we pin the plan shape."""
    li = load_table(spark, SF, "lineitem")
    o = _urgent_orders(spark)
    bitmap = bloom_build(o, "o_orderkey")
    plan = (
        bloom_prefilter(li, "l_orderkey", bitmap)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    for forbidden in (
        "Exchange hashpartitioning",
        "Exchange rangepartitioning",
        "BatchEvalPython",
        "ArrowEvalPython",
        "SortMergeJoin",
        "CartesianProduct",
    ):
        assert forbidden not in plan, plan


def test_fuzzy_names_blocked_join_is_hash_join(spark):
    """Record linkage must run as an equi-join on the length block key
    with levenshtein as a residual predicate — never a nested-loop /
    cartesian over the name pairs."""
    from mie_spark.queries.dedup import dedup_fuzzy_names

    plan = (
        dedup_fuzzy_names(spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "levenshtein" in plan  # residual inside the hash join
