"""GraphX-parity vertex-centric primitives in DataFrame form.

BASELINE's north star names GraphX; GraphFrames (the DataFrame face of
it) is an external jar this pure-PySpark build can't ship. These two
functions are the DataFrame re-expression of its core API —
``aggregateMessages`` (one superstep: triplet join → per-edge message →
reduce by target vertex) and the ``Pregel`` loop (superstep cadence,
lineage-truncating checkpoints, optional convergence halt) — so every
iterative graph algorithm in :mod:`mie_spark.operators.graph` shares
ONE message/aggregate/update skeleton instead of re-implementing the
loop hygiene per algorithm.

Scale stance (unchanged from the hand-rolled loops these replace):

- One superstep = one shuffle keyed on the node id; the vertex-state
  table keeps the same partitioning across supersteps so the triplet
  join co-locates (AQE keeps it local when the edge side is
  pre-partitioned by src, as pagerank does).
- ``localCheckpoint`` per superstep truncates lineage — without it the
  plan grows linearly and Catalyst re-analysis dominates after ~20
  rounds (the classic iterative-Spark failure mode). Fixed-iteration
  algorithms use ``eager=False`` so the whole loop still runs as one
  job; convergence-checked algorithms materialize eagerly because the
  halt probe is an action anyway.
- The halt probe is a cheap aggregate action, never a ``collect()`` of
  the state.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Sequence
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from mie_spark.session import conf_overrides


def iter_nparts(spark: SparkSession, n_rows: int) -> int:
    """Scale-adaptive partition count for ITERATION STATE (r13, guide
    §2: derive partitioning from input size instead of a constant).

    Iterative loops shuffle the same small vertex-state table once or
    twice per superstep; sizing those exchanges to the session-wide
    ``spark.sql.shuffle.partitions`` means a 1k-node graph pays
    32-partition scheduling 16+ times per query while a 10B-edge graph
    would underscale. One partition per ``spark.mie.graph.rowsPerPartition``
    rows (default 250k — vertex-state rows are tens of bytes, so that is
    single-digit MB per task), clamped to [1, defaultParallelism].
    Measured on g_ppr at sf0.1 (1k nodes): 4.1 s → 2.7 s with the loop
    exchanges at p=2 instead of 32.
    """
    per = int(
        spark.conf.get(
            "spark.mie.graph.rowsPerPartition",
            os.environ.get("MIE_GRAPH_ROWS_PER_PARTITION", "250000"),
        )
    )
    cap = spark.sparkContext.defaultParallelism
    return max(1, min(cap, -(-int(n_rows) // max(1, per))))


@contextmanager
def iter_shuffle_partitions(
    spark: SparkSession, nparts: int, adaptive: bool = False
):
    """Scope the loop-construction confs: ``spark.sql.shuffle.partitions``
    = nparts, and (by default) ``spark.sql.adaptive.enabled`` = false.

    Under AQE every ``localCheckpoint`` in an iterative loop plans AND
    executes its stages at call time (adaptive execution materializes
    query stages during ``toRdd`` — one JOB per query stage, so one
    superstep with 3 exchanges schedules ~4 jobs), so the whole
    superstep chain runs inside the operator function — a conf override
    here covers exactly the loop's exchanges and is restored before
    control returns to the caller.

    AQE is turned OFF inside the loop (r14; ``spark.mie.graph.loopAdaptive
    =true`` restores the r13 behavior): with a plain physical plan,
    ``toRdd`` compiles without running anything, each lazy checkpoint
    is genuinely lazy, and the whole fixed-iteration loop executes as
    ONE job at first materialization instead of ~4 jobs x supersteps —
    the job-scheduling floor was ~85% of these queries' cost at sf0.1
    and is pure overhead at any scale. What AQE would have contributed
    inside the loop it cannot contribute anyway: the exchanges are
    already sized by :func:`iter_nparts` (coalescing has nothing to
    shrink), and AQE skew handling only splits JOIN partitions above
    256 MB — vertex-state rows are tens of bytes, so a partition that
    big holds ~10M vertices; per-superstep message joins at that size
    are better served by more ``iter_nparts`` partitions (raise
    ``spark.mie.graph.rowsPerPartition`` granularity) than by runtime
    splitting. Callers' own queries (outside the loop) keep AQE: the
    conf is restored on exit, and the loop's plans are frozen RDDs by
    then. Measured (r14, same-session alternating A/B, sf0.1 AND the
    10x sf1 replica): AQE-off wins or ties on 8 of the 9 loop
    operators at BOTH scales (g_pagerank 2.63->2.28 s, g_sssp
    3.19->2.60 at sf1); tools_r14_pregel_ab.py reproduces the A/B.

    ``adaptive=True`` keeps AQE on for a loop that measurably NEEDS
    runtime re-planning: kcore's per-round semi-joins filter a
    shrinking edge table whose size the static planner cannot know,
    and AQE's runtime broadcast conversion beats the static plan at
    both scales (sf1: 4.68 s AQE-on vs 5.16 AQE-off — the one
    exception, kept on its measured config).
    ``spark.mie.graph.loopAdaptive=true`` forces AQE on everywhere
    (the r13 behavior) as the deployment escape hatch.
    """
    overrides = {"spark.sql.shuffle.partitions": str(nparts)}
    force_on = spark.conf.get("spark.mie.graph.loopAdaptive", "false") == "true"
    if not adaptive and not force_on:
        overrides["spark.sql.adaptive.enabled"] = "false"
    with conf_overrides(spark, overrides):
        yield

# A reducer is either a list of aggregate Columns over the message
# column ``msg`` (the GraphX mergeMsg fast path — sum/min/count run as
# one map-side-combined groupBy) or a callable DataFrame->DataFrame for
# reductions that aren't a single agg expression (e.g. label
# propagation's most-frequent-label argmax, which needs a count + a
# per-node window).
Reducer = Sequence[Column] | Callable[[DataFrame], DataFrame]


def aggregate_messages(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    *,
    to_dst: Column | None = None,
    to_src: Column | None = None,
    agg: Reducer,
    node_col: str = "node",
) -> DataFrame:
    """One aggregateMessages superstep over ``edges`` (src, dst, *attrs).

    ``to_dst`` is evaluated over the triplet formed by joining the
    sending vertex's state onto the edge (state of ``src`` for messages
    flowing src→dst, state of ``dst`` for ``to_src``); it may reference
    edge attributes and vertex-state columns by name. ``vertices=None``
    skips the state join entirely (messages that only depend on the
    edge, e.g. degree counting sends ``lit(1)`` both ways).

    Returns one row per message-receiving node: ``groupBy(node_col)``
    over the union of both message directions, reduced by ``agg``.
    """
    if to_dst is None and to_src is None:
        raise ValueError("at least one of to_dst/to_src is required")
    parts = []
    if to_dst is not None:
        t = (
            edges
            if vertices is None
            else edges.join(vertices, edges["src"] == vertices[node_col])
        )
        parts.append(t.select(F.col("dst").alias(node_col), to_dst.alias("msg")))
    if to_src is not None:
        t = (
            edges
            if vertices is None
            else edges.join(vertices, edges["dst"] == vertices[node_col])
        )
        parts.append(t.select(F.col("src").alias(node_col), to_src.alias("msg")))
    msgs = parts[0]
    for p in parts[1:]:
        msgs = msgs.unionAll(p)
    if callable(agg):
        return agg(msgs)
    return msgs.groupBy(node_col).agg(*agg)


def pregel(
    vertices: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    rounds: int,
    *,
    eager: bool = True,
    halt: Callable[[DataFrame, DataFrame], bool] | None = None,
) -> DataFrame:
    """Run ``step`` (full vertex-state update for one superstep, built
    from :func:`aggregate_messages`) for at most ``rounds`` supersteps.

    Each new state is ``localCheckpoint(eager=...)``-ed — the lineage
    cadence every iterative DataFrame algorithm needs. ``halt(prev,
    new)`` (optional) is evaluated after each superstep; returning True
    stops the loop with ``new`` as the result — algorithms with a
    convergence probe pair it with ``eager=True`` since the probe
    materializes the state anyway, while fixed-iteration algorithms
    pass ``halt=None, eager=False`` and run the whole loop as one job.
    """
    state = vertices
    for i in range(rounds):
        new = step(state, i).localCheckpoint(eager=eager)
        if halt is not None and halt(state, new):
            return new
        state = new
    return state
