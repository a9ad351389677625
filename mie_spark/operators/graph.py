"""Iterative graph analytics as DataFrame loops.

The reference's graph layer is relational adjacency (edge tables joined
to node tables, pkg/memory/schema.go:97-132) and only ever does 1-hop
traversals; multi-hop analytics (components, centrality) is the
north-star extension. GraphFrames isn't available in this container, so
every algorithm here is expressed over the shared vertex-centric
primitives in :mod:`mie_spark.operators.pregel` —
``aggregate_messages`` (one superstep: triplet join → message → reduce
by target) and ``pregel`` (superstep cadence + checkpoint hygiene +
convergence halt) — the DataFrame re-expression of GraphX's API, which
is also what GraphFrames compiles to.

Scale stance (100 TB / 1000 executors):

- Each superstep is one shuffle on the node id; the label/rank table is
  partitioned identically across iterations so the join co-locates.
- ``localCheckpoint`` every iteration truncates the lineage: without
  it, plan size grows linearly and Catalyst re-analysis dominates after
  ~20 rounds (the classic iterative-Spark failure mode). The cadence
  lives in ``pregel``, not in each algorithm.
- Connected components uses hash-min propagation PLUS pointer jumping
  (label-table self-join), which converges in O(log n) rounds on path
  graphs where plain propagation needs O(n) rounds.
- Convergence is detected with a cheap aggregate action per round, not
  ``collect()`` of the labels.
- The fixed-iteration rank operators (``pagerank``,
  ``personalized_pagerank``, ``hits``) first ask the optimizer how big
  the edge list is. When its size estimate is at most the session's
  ``spark.sql.autoBroadcastJoinThreshold`` — the size the session
  already agrees to collect on the driver for a broadcast join — the
  edges are collected once and the recurrence runs as numpy
  scatter-adds over one array per vertex-state column (Pregelix's
  "state stays put between supersteps", taken to the driver). Each
  Spark superstep otherwise costs a plan, a checkpoint and a job
  whatever the graph size: a 200-node supplier graph took 17 jobs and
  about 3 s as a loop. Above the threshold (or with it at -1) the
  DataFrame loop below is the only path.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType
from pyspark.sql.window import Window

from mie_spark.operators.pregel import (
    aggregate_messages,
    iter_nparts,
    iter_shuffle_partitions,
    pregel,
)


def _undirect(edges: DataFrame) -> DataFrame:
    """Symmetrize a directed edge list (src,dst) -> both directions."""
    fwd = edges.select(F.col("src"), F.col("dst"))
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return fwd.unionByName(rev)


class _SmallGraph(NamedTuple):
    """An edge list collected to the driver, nodes mapped to 0..N-1.

    ``src``/``dst`` index ``nodes`` (a NULL endpoint indexes the NULL
    node, which the Spark loop also counts); ``live_src`` marks edges
    whose src is not NULL, ``live`` edges with both ends not NULL — the
    only edges whose messages reach a vertex, because the loop's
    equi-joins never match a NULL key."""

    node_field: StructField
    nodes: pa.Array
    src: np.ndarray
    dst: np.ndarray
    live_src: np.ndarray
    live: np.ndarray
    seeds: pa.Array | None


def _small_graph(
    edges: DataFrame, sources: DataFrame | None = None
) -> _SmallGraph | None:
    """Collect ``edges`` (and ``sources``) in one action when the
    optimizer's size estimate of both together is at most the session's
    broadcast threshold; None means run the Spark loop."""
    spark = edges.sparkSession
    # the long form: the string conf reads "10485760b"; -1 means never
    limit = spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    frames = [edges] if sources is None else [edges, sources]
    est = sum(
        int(f._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        for f in frames
    )
    if limit < 0 or est > limit:
        return None
    node_field = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .schema["node"]
    )
    t = node_field.dataType
    rows = edges.select(
        F.col("src").cast(t).alias("src"),
        F.col("dst").cast(t).alias("dst"),
        F.lit(False).alias("seed"),
    )
    if sources is not None:
        # one action for both inputs: the seeds ride in src
        rows = rows.unionByName(
            sources.select(
                F.col("node").cast(t).alias("src"),
                F.lit(None).cast(t).alias("dst"),
                F.lit(True).alias("seed"),
            )
        )
    tbl = rows.toArrow()
    is_seed = tbl.column("seed")
    e = tbl.filter(pc.invert(is_seed))
    src = e.column("src").combine_chunks()
    dst = e.column("dst").combine_chunks()
    nodes = pc.unique(pa.concat_arrays([src, dst]))

    def index(a: pa.Array) -> np.ndarray:
        return pc.index_in(a, nodes).to_numpy(zero_copy_only=False).astype(np.intp)

    live_src = src.is_valid().to_numpy(zero_copy_only=False)
    return _SmallGraph(
        node_field=node_field,
        nodes=nodes,
        src=index(src),
        dst=index(dst),
        live_src=live_src,
        live=live_src & dst.is_valid().to_numpy(zero_copy_only=False),
        seeds=(
            None
            if sources is None
            else pc.unique(tbl.filter(is_seed).column("src").combine_chunks())
        ),
    )


def _driver_frame(
    spark: SparkSession,
    g: _SmallGraph,
    cols: dict[str, np.ndarray],
    nullable: bool,
) -> DataFrame:
    """(node, *cols) as a DataFrame with the Spark loop's schema."""
    schema = StructType(
        [g.node_field]
        + [StructField(c, DoubleType(), nullable) for c in cols]
    )
    data = {"node": g.nodes}
    # NaN stands for the loop's NULL (x / 0.0 outside ANSI mode)
    data.update({c: pa.array(v, from_pandas=True) for c, v in cols.items()})
    return spark.createDataFrame(pa.table(data), schema)


def _rank_driver(
    g: _SmallGraph,
    rank: np.ndarray,
    teleport: np.ndarray,
    iterations: int,
    damping: float,
) -> np.ndarray:
    """rank_{i+1} = teleport + d·Σ_{u→v} rank_i(u)/outdeg(u), the loop's
    per-element arithmetic; a NULL-dst edge counts in outdeg but its
    message is dropped, as the loop's left join drops it."""
    n = len(g.nodes)
    outdeg = np.bincount(g.src[g.live_src], minlength=n).astype(np.float64)
    s, d = g.src[g.live], g.dst[g.live]
    for _ in range(iterations):
        contrib = np.bincount(d, weights=rank[s] / outdeg[s], minlength=n)
        rank = teleport + damping * contrib
    return rank


def connected_components(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over an undirected view of ``edges``.

    Returns (node, component) where component = min node id in the
    component. ``nodes`` (single column ``node``) adds isolated
    vertices that appear in no edge.

    Algorithm: hash-min label propagation with pointer jumping.
    Per round:
      1. propagate: label(u) = min(label(u), min over neighbors v of label(v))
      2. shortcut:  label(u) = label(label(u))   (path compression)
    The shortcut join is what makes long chains collapse in O(log n)
    rounds instead of O(diameter).
    """
    # Materialize the undirected edge list ONCE (r13; the luby_mis r11
    # lesson, missed here): every superstep's aggregate_messages and
    # the initial label census otherwise re-derive the caller's FULL
    # edge lineage — for pipe_keep_best/pipe_dedup_clusters that is
    # the entire MinHash-LSH pipeline, re-run per iteration (measured
    # A/B at sf0.1: 5.5 -> 3.0 / 5.5 -> 2.7 s; even the plain parquet
    # caller g_connected_components reads 3.4 -> 2.4 s). Eager
    # materialization with lineage truncated — fills Graph.cache's role
    # of computing the adjacency once, but unlike cache it is NOT
    # recomputable on executor loss (fine in local mode; cluster-mode
    # work should weigh persist(MEMORY_AND_DISK) here, ADVICE r13).
    adj = _undirect(edges).localCheckpoint()
    labels = adj.select(F.col("src").alias("node")).distinct()
    if nodes is not None:
        labels = labels.unionByName(nodes.select("node")).distinct()
    labels = labels.withColumn("comp", F.col("node")).localCheckpoint()
    spark = edges.sparkSession
    p = iter_nparts(spark, labels.count())

    def step(labels: DataFrame, _i: int) -> DataFrame:
        # 1-hop min over neighbors (sent along both edge directions)
        nbr_min = aggregate_messages(
            adj, labels, to_dst=F.col("comp"), agg=[F.min("msg").alias("nbr_comp")]
        )
        propagated = labels.join(nbr_min, "node", "left").select(
            "node",
            F.least(F.col("comp"), F.coalesce("nbr_comp", F.col("comp"))).alias(
                "comp"
            ),
        )
        # pointer jumping: comp(u) := comp(comp(u))
        parents = propagated.select(
            F.col("node").alias("p_node"), F.col("comp").alias("p_comp")
        )
        return propagated.join(
            parents, propagated.comp == parents.p_node, "left"
        ).select(
            "node",
            F.least(F.col("comp"), F.coalesce("p_comp", F.col("comp"))).alias(
                "comp"
            ),
        )

    def converged(old: DataFrame, new: DataFrame) -> bool:
        return (
            new.alias("new")
            .join(old.alias("old"), "node")
            .filter(F.col("new.comp") != F.col("old.comp"))
            .limit(1)
            .count()
            == 0
        )

    with iter_shuffle_partitions(spark, p):
        labels = pregel(labels, step, max_iter, halt=converged)
    return labels.select("node", F.col("comp").alias("component"))


def bfs(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int = 64,
) -> DataFrame:
    """Hop-distance BFS from ``sources`` over directed (src, dst) edges.

    Returns (node, dist) for every node reachable within ``max_hops``,
    with dist = minimum hop count. This is the generic multi-hop
    traversal the reference cannot express (its graph layer is strictly
    1-hop joins, pkg/tools/query.go:153-165); frontier expansion is the
    standard distributed formulation (Pregel superstep as a join).

    Scale notes: each hop is one shuffle join of the (small) frontier
    against the edge table partitioned by src — at cluster scale the
    frontier broadcasts while the edge table never moves. The visited
    set grows monotonically; the left_anti join that dedups the next
    frontier is keyed on node id, so it co-partitions with the frontier.
    Early exit when a frontier comes back empty, so the loop runs
    diameter+1 jobs, not max_hops.
    """
    edges = edges.select("src", "dst").localCheckpoint()
    dist = (
        sources.select(F.col("node"))
        .distinct()
        .withColumn("dist", F.lit(0))
        .localCheckpoint()
    )
    frontier = dist
    spark = edges.sparkSession
    with iter_shuffle_partitions(spark, iter_nparts(spark, edges.count())):
        return _bfs_loop(edges, dist, frontier, max_hops)


def _bfs_loop(
    edges: DataFrame, dist: DataFrame, frontier: DataFrame, max_hops: int
) -> DataFrame:
    for hop in range(1, max_hops + 1):
        # One eager materialization per hop (the frontier); the visited
        # set stays a lazy union of already-checkpointed frontiers, so
        # its lineage is depth-1 per element and never re-executes.
        # aggregate_messages' groupBy IS the frontier dedup (same
        # exchange as a distinct); the payload column is dropped.
        nxt = (
            aggregate_messages(
                edges,
                frontier,
                to_dst=F.lit(1),
                agg=[F.count(F.lit(1)).alias("_m")],
            )
            .select("node")
            .join(dist.select("node"), "node", "left_anti")
            .withColumn("dist", F.lit(hop))
            .localCheckpoint()
        )
        if nxt.limit(1).count() == 0:
            break
        dist = dist.unionByName(nxt)
        frontier = nxt
    return dist


def pagerank(
    edges: DataFrame,
    iterations: int = 8,
    damping: float = 0.85,
) -> DataFrame:
    """Fixed-iteration PageRank over directed (src,dst) edges.

    rank_0 = 1/N; rank_{i+1}(v) = (1-d)/N + d * Σ_{u→v} rank_i(u)/outdeg(u).
    Dangling mass is dropped (not redistributed) — the DuckDB oracle in
    mie_spark/queries/graph.py implements the identical recurrence, so
    the two engines agree bit-for-bit up to float rounding.

    When the optimizer's size estimate of ``edges`` is at most the
    session's ``spark.sql.autoBroadcastJoinThreshold``, the edges are
    collected once and the recurrence runs on the driver as numpy
    scatter-adds (one Spark action in all, instead of a plan, a
    checkpoint and a job per superstep); the result has the loop's
    schema and its ranks up to summation order. Above the threshold:
    one shuffle per iteration (groupBy dst); the degree table is
    computed once and re-joined — at scale both sides are partitioned
    by node id so AQE keeps the join co-located.
    """
    g = _small_graph(edges)
    if g is not None:
        n = len(g.nodes)
        rank = np.zeros(0)  # empty graph: empty ranks, not a ZeroDivisionError
        if n:
            rank = _rank_driver(
                g,
                np.full(n, 1.0 / n),
                np.full(n, (1.0 - damping) / n),
                iterations,
                damping,
            )
        return _driver_frame(edges.sparkSession, g, {"rank": rank}, False)
    all_nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n = all_nodes.count()
    if n == 0:  # empty graph: empty ranks, not a ZeroDivisionError
        return all_nodes.withColumn("rank", F.lit(0.0))
    spark = edges.sparkSession
    p = iter_nparts(spark, n)
    with iter_shuffle_partitions(spark, p):
        deg = edges.groupBy(F.col("src").alias("node")).agg(
            F.count(F.lit(1)).cast("double").alias("outdeg")
        )
        # Fold outdeg into the edge table ONCE (it is loop-invariant), and
        # pre-shuffle it by src — sized by iter_nparts, not the session
        # constant (r13): every iteration's join then reuses this layout
        # instead of re-joining deg and re-deriving edges 8 times.
        # localCheckpoint preserves the physical partitioning, so the
        # per-iteration join only shuffles the (tiny) rank side, into p
        # partitions.
        edgesd = (
            edges.join(deg, deg.node == edges.src)
            .select("src", "dst", "outdeg")
            .repartition(p, F.col("src"))
            .localCheckpoint()
        )
        ranks = all_nodes.withColumn("rank", F.lit(1.0 / n))

        def step(ranks: DataFrame, _i: int) -> DataFrame:
            contribs = aggregate_messages(
                edgesd,
                ranks,
                to_dst=F.col("rank") / F.col("outdeg"),
                agg=[F.sum("msg").alias("contrib")],
            )
            return all_nodes.join(contribs, "node", "left").select(
                "node",
                (
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping) * F.coalesce("contrib", F.lit(0.0))
                ).alias("rank"),
            )

        # lazy checkpoints: lineage still truncates at materialization,
        # but fixed-iteration algorithms need no per-round action (unlike
        # CC's convergence check). Under AQE each checkpoint still
        # executes its stages at call time, which is exactly why the
        # shuffle-partition override scopes to this block.
        return pregel(ranks, step, iterations, eager=False)


def personalized_pagerank(
    edges: DataFrame,
    sources: DataFrame,
    iterations: int = 8,
    damping: float = 0.85,
) -> DataFrame:
    """Personalized PageRank: teleport lands on the ``sources`` set
    (uniformly) instead of all nodes — the similarity-to-seed-set
    ranking used for recommendation and local community scoring.
    rank_0 = teleport; rank_{i+1}(v) = (1-d)*tele(v) + d*Σ_{u→v}
    rank_i(u)/outdeg(u), tele(v) = 1/|S| for v ∈ S else 0.

    Built from the same two calls as :func:`pagerank` — one
    ``aggregate_messages`` superstep + the ``pregel`` runner with lazy
    checkpoints — which is the point of the primitive: a new
    vertex-centric algorithm is a new ``step`` closure, not a new loop.
    The teleport vector is computed once (broadcast indicator join) and
    reused every superstep. A NULL source counts in |S| but teleports
    nowhere, as the indicator join never matches it.

    Below the session's broadcast threshold (the estimate of ``edges``
    plus ``sources``) both are collected in one action and the
    recurrence runs on the driver, exactly as :func:`pagerank` does."""
    g = _small_graph(edges, sources)
    if g is not None:
        ns = len(g.seeds)
        if ns == 0:
            raise ValueError("personalized_pagerank requires a non-empty source set")
        hit = pc.is_in(g.nodes, value_set=g.seeds, skip_nulls=True)
        tele = np.where(hit.to_numpy(zero_copy_only=False), 1.0, 0.0) / ns
        rank = _rank_driver(g, tele, (1.0 - damping) * tele, iterations, damping)
        return _driver_frame(edges.sparkSession, g, {"rank": rank}, True)
    all_nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n = all_nodes.count()
    src = sources.select("node").distinct().withColumn("_t", F.lit(1.0))
    ns = src.count()
    if ns == 0:
        raise ValueError("personalized_pagerank requires a non-empty source set")
    spark = edges.sparkSession
    # n is a cheap count over the already-checkpointed node table; it
    # sizes the loop's exchanges (r13 — see iter_nparts)
    p = iter_nparts(spark, n)
    with iter_shuffle_partitions(spark, p):
        deg = edges.groupBy(F.col("src").alias("node")).agg(
            F.count(F.lit(1)).cast("double").alias("outdeg")
        )
        edgesd = (
            edges.join(deg, deg.node == edges.src)
            .select("src", "dst", "outdeg")
            .repartition(p, F.col("src"))
            .localCheckpoint()
        )
        base = (
            all_nodes.join(F.broadcast(src), "node", "left")
            .select("node", (F.coalesce("_t", F.lit(0.0)) / ns).alias("tele"))
            .localCheckpoint()
        )
        ranks = base.select("node", F.col("tele").alias("rank"))

        def step(ranks: DataFrame, _i: int) -> DataFrame:
            contribs = aggregate_messages(
                edgesd,
                ranks,
                to_dst=F.col("rank") / F.col("outdeg"),
                agg=[F.sum("msg").alias("contrib")],
            )
            return base.join(contribs, "node", "left").select(
                "node",
                (
                    F.lit(1.0 - damping) * F.col("tele")
                    + F.lit(damping) * F.coalesce("contrib", F.lit(0.0))
                ).alias("rank"),
            )

        return pregel(ranks, step, iterations, eager=False)


def chain_motif(
    edges: DataFrame,
    hops: int,
    distinct_nodes: bool = True,
) -> DataFrame:
    """Fixed-length path motif (n0)->(n1)->...->(n_hops): the generic
    form of the reference's six hand-written 1-hop traversal modes
    (pkg/tools/query.go:153-165). Each extension is an equi-join of the
    edge table on the chain's tail — hops-1 shuffle joins, each keyed
    on a node id, so AQE broadcast-demotes when the partial-path side
    is small. distinct_nodes excludes cyclic repeats (the usual motif
    semantics), applied as a final filter so Catalyst can push parts of
    it into the joins.
    """
    if hops < 1:
        raise ValueError("hops must be >= 1")
    cur = edges.select(F.col("src").alias("n0"), F.col("dst").alias("n1"))
    for i in range(1, hops):
        step = edges.select(
            F.col("src").alias(f"n{i}"), F.col("dst").alias(f"n{i + 1}")
        )
        cur = cur.join(step, f"n{i}")
    if distinct_nodes:
        cols = [f"n{i}" for i in range(hops + 1)]
        for i in range(len(cols)):
            for j in range(i + 1, len(cols)):
                cur = cur.filter(F.col(cols[i]) != F.col(cols[j]))
    return cur.select(*[f"n{i}" for i in range(hops + 1)])


def sssp(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int = 16,
) -> DataFrame:
    """Weighted single-source shortest paths, bounded Bellman-Ford.

    ``edges`` is (src, dst, w) with non-negative integer weights;
    ``sources`` is (node). Returns (node, dist) where dist is the
    minimum total weight over paths of at most ``max_hops`` edges —
    the same bounded-radius stance as :func:`bfs` (an unbounded
    relaxation over a 100 TB graph is a diameter-length barrier chain
    no engine should sign up for; k bounds the job count).

    Distributed formulation: each round relaxes only edges leaving the
    FRONTIER (nodes improved last round), takes the per-target min,
    and outer-merges into the running dist table — the standard
    delta-stepping-without-buckets shape. Each round is two shuffles
    (relax groupBy + merge join), both keyed on node id, so AQE keeps
    them co-partitioned; early exit when no node improves. Weights
    stay integers end-to-end for engine-exact comparisons.
    """
    edges = edges.select("src", "dst", "w").localCheckpoint()
    dist = (
        sources.select("node")
        .distinct()
        .withColumn("dist", F.lit(0).cast("bigint"))
        .localCheckpoint()
    )
    frontier = dist
    spark = edges.sparkSession
    with iter_shuffle_partitions(spark, iter_nparts(spark, edges.count())):
        return _sssp_loop(edges, dist, frontier, max_hops)


def _sssp_loop(
    edges: DataFrame, dist: DataFrame, frontier: DataFrame, max_hops: int
) -> DataFrame:
    for _ in range(max_hops):
        cand = aggregate_messages(
            edges,
            frontier,
            to_dst=F.col("dist") + F.col("w"),
            agg=[F.min("msg").alias("nd")],
        )
        merged = dist.join(cand, "node", "full_outer")
        # least() skips nulls: new node → nd, unimproved → dist
        frontier = (
            merged.filter(
                F.col("dist").isNull() | (F.col("nd") < F.col("dist"))
            )
            .select("node", F.col("nd").alias("dist"))
            .localCheckpoint()
        )
        if frontier.limit(1).count() == 0:
            break
        dist = merged.select(
            "node", F.least("dist", "nd").alias("dist")
        ).localCheckpoint()
    return dist


def kcore(edges: DataFrame, k: int, rounds: int = 8) -> DataFrame:
    """Bounded-round k-core peel: repeatedly drop nodes of degree < k
    (and their incident edges) for at most ``rounds`` iterations, with
    early exit once a pass removes nothing. If the peel converges
    within the budget the result IS the true k-core; the fixed budget
    is what makes the operator oracle-checkable (the oracle unrolls
    exactly ``rounds`` passes) and what bounds the job chain on a
    100 TB graph — k-core peeling's worst case is O(|V|) sequential
    rounds on pathological chains, which no engine should sign up for
    unbounded.

    Per round: one degree aggregate (shuffle on node) and two
    left-semi joins filtering the edge list (shuffle on src / dst);
    ``localCheckpoint`` truncates lineage so round N's plan does not
    replay rounds 1..N-1. The early-exit probe compares edge counts —
    one cheap count action per round, the same hygiene as the other
    iterative operators above.

    Returns the surviving nodes with their core degrees.
    """
    def degrees(e: DataFrame) -> DataFrame:
        # degree = count of a unit message sent along BOTH edge ends
        # (no vertex state, so no state join)
        return aggregate_messages(
            e,
            to_dst=F.lit(1),
            to_src=F.lit(1),
            agg=[F.count(F.lit(1)).alias("deg")],
        )

    e = edges.select("src", "dst").localCheckpoint()
    n_edges = e.count()
    spark = edges.sparkSession
    # adaptive=True (r14): kcore is the ONE loop that measurably needs
    # AQE — each round's semi-joins probe a SHRINKING edge table whose
    # size only runtime stats see, and AQE's broadcast conversion beats
    # the static plan at sf0.1 and sf1 (A/B: tools_r14_pregel_ab.py).
    with iter_shuffle_partitions(
        spark, iter_nparts(spark, n_edges), adaptive=True
    ):
        for _ in range(rounds):
            keep = degrees(e).filter(F.col("deg") >= k).select("node")
            e2 = (
                e.join(keep.withColumnRenamed("node", "src"), "src", "left_semi")
                .join(keep.withColumnRenamed("node", "dst"), "dst", "left_semi")
                .select("src", "dst")
                .localCheckpoint()
            )
            n2 = e2.count()
            e = e2
            if n2 == n_edges:
                break
            n_edges = n2
        return degrees(e)


def label_propagation(edges: DataFrame, rounds: int = 4) -> DataFrame:
    """Synchronous label propagation (community detection) over an
    undirected view of ``edges``: every node starts labeled with its
    own id; each round it adopts the most frequent label among its
    neighbors, ties broken by the smaller label (a total order, so the
    update is deterministic); a node keeps its current label only when
    it has no neighbors. Returns (node, label) after exactly ``rounds`` SYNCHRONOUS
    rounds — fixed synchronous updates are what make the operator
    oracle-checkable (the oracle unrolls the identical rounds) and what
    bound the job chain on a 100 TB graph; asynchronous LPA converges
    faster but is order-dependent and unverifiable.

    Per round: one (node, label) count aggregate, one per-node argmax
    window (both shuffle on the node key), one left join back;
    ``localCheckpoint`` truncates lineage so round N's plan does not
    replay rounds 1..N-1 — the same iterative-Spark hygiene as
    connected_components / pagerank / kcore."""
    # distinct: a duplicated input edge must not double its neighbor's
    # vote (matches the oracle's UNION-distinct symmetrization)
    adj = _undirect(edges).distinct().localCheckpoint()
    labels = (
        adj.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    spark = edges.sparkSession
    p = iter_nparts(spark, labels.count())

    def most_frequent(msgs: DataFrame) -> DataFrame:
        """Custom reducer: per-node argmax label (count desc, label asc)
        — not a single agg expression, hence the callable form."""
        w = Window.partitionBy("node").orderBy(F.col("c").desc(), F.col("msg"))
        return (
            msgs.groupBy("node", "msg")
            .agg(F.count(F.lit(1)).alias("c"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", F.col("msg").alias("new_label"))
        )

    def step(labels: DataFrame, _i: int) -> DataFrame:
        pick = aggregate_messages(
            adj, labels, to_src=F.col("label"), agg=most_frequent
        )
        return labels.join(pick, "node", "left").select(
            "node", F.coalesce("new_label", "label").alias("label")
        )

    with iter_shuffle_partitions(spark, p):
        return pregel(labels, step, rounds)


def hits(edges: DataFrame, iterations: int = 8) -> DataFrame:
    """HITS hubs & authorities (Kleinberg) over directed (src,dst)
    edges, simultaneous (Jacobi) update: auth_{i+1}(v) = Σ_{u→v}
    hub_i(u) and hub_{i+1}(u) = Σ_{u→v} auth_i(v), BOTH read round-i
    state — the power iterations on AᵀA and AAᵀ run in lockstep.
    Per-round normalization is deliberately deferred: with doubles the
    scores stay far inside range for any bounded iteration count, so
    one L1 normalization at the end yields the same direction without
    needing a global scalar inside the loop (which would force an
    action per superstep). Returns (node, hub, auth), each unit-L1.

    Same skeleton as :func:`pagerank`: one ``aggregate_messages``
    superstep (here sending a 2-field struct both ways: hub flows
    src→dst into auth, auth flows dst→src into hub) + the ``pregel``
    runner with lazy checkpoints. One superstep = the two
    triplet-join shuffles + one node-keyed reduce; state is 3 columns
    per node, never materialized on the driver — unless the edge list's
    size estimate is at most the session's broadcast threshold, where
    the edges are collected once and the same Jacobi update runs as
    numpy scatter-adds (see :func:`pagerank`). A zero L1 norm gives
    NULL scores, as the loop's double division by zero does outside
    ANSI mode."""
    g = _small_graph(edges)
    if g is not None:
        n = len(g.nodes)
        hub, auth = np.ones(n), np.ones(n)
        s, d = g.src[g.live], g.dst[g.live]
        for _ in range(iterations):
            hub, auth = (
                np.bincount(s, weights=auth[d], minlength=n),
                np.bincount(d, weights=hub[s], minlength=n),
            )
        hn, an = hub.sum(), auth.sum()
        return _driver_frame(
            edges.sparkSession,
            g,
            {
                "hub": hub / hn if hn else np.full(n, np.nan),
                "auth": auth / an if an else np.full(n, np.nan),
            },
            True,
        )
    all_nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    spark = edges.sparkSession
    p = iter_nparts(spark, all_nodes.count())
    with iter_shuffle_partitions(spark, p):
        edgesd = (
            edges.select("src", "dst")
            .repartition(p, F.col("src"))
            .localCheckpoint()
        )
        state = all_nodes.select(
            "node", F.lit(1.0).alias("hub"), F.lit(1.0).alias("auth")
        )

        def step(state: DataFrame, _i: int) -> DataFrame:
            msgs = aggregate_messages(
                edgesd,
                state,
                to_dst=F.struct(F.col("hub").alias("a"), F.lit(0.0).alias("h")),
                to_src=F.struct(F.lit(0.0).alias("a"), F.col("auth").alias("h")),
                agg=[F.sum("msg.a").alias("auth"), F.sum("msg.h").alias("hub")],
            )
            return all_nodes.join(msgs, "node", "left").select(
                "node",
                F.coalesce("hub", F.lit(0.0)).alias("hub"),
                F.coalesce("auth", F.lit(0.0)).alias("auth"),
            )

        out = pregel(state, step, iterations, eager=False)
    norms = out.agg(F.sum("hub").alias("hn"), F.sum("auth").alias("an"))
    return out.crossJoin(F.broadcast(norms)).select(
        "node",
        (F.col("hub") / F.col("hn")).alias("hub"),
        (F.col("auth") / F.col("an")).alias("auth"),
    )


def luby_mis(
    edges: DataFrame, rounds: int = 12, statuses: bool = False
) -> DataFrame:
    """Maximal independent set by Luby's algorithm — the classic
    randomized vertex-centric algorithm (GraphX-parity breadth for the
    pregel primitive), made DETERMINISTIC the repo's usual way: each
    round's priority is md5(round:node) instead of an RNG draw, so the
    result is a pure function of the graph (reproducible, replayable).
    ``statuses=True`` returns the raw (node, status) ledger — 0
    undecided (round budget exhausted), 1 in the set, 2 excluded —
    which is what a FIXED-round run grades against an unrolled oracle;
    the default returns (node, in_mis).

    Per round (two aggregate_messages supersteps): every undecided
    node whose (priority, node) is strictly smaller than all undecided
    neighbors' joins the MIS; then MIS neighbors drop out. Expected
    O(log n) rounds; the halt probe stops as soon as no node is
    undecided. Returns (node, in_mis) for every node.

    Scale: per round, two node-keyed shuffles carrying (node, 34-byte
    priority) — never adjacency lists; a hub's priority comparison is
    one map-combined min over its incident messages.
    """
    # Materialize the undirected edge list ONCE: every round references
    # it twice (both phases' triplet joins), so an unmaterialized edge
    # derivation — g_mis feeds the planted-edge EXPRESSION over
    # documents — would recompute 2*rounds times (the BFS/pagerank
    # edge-checkpoint doctrine; g_mis r11 profile).
    e = _undirect(edges).select("src", "dst").localCheckpoint()
    nodes = e.select(F.col("src").alias("node")).distinct()
    state = nodes.withColumn("status", F.lit(0))  # 0 undec / 1 mis / 2 out
    spark = edges.sparkSession
    p = iter_nparts(spark, e.count())

    def step(st: DataFrame, i: int) -> DataFrame:
        pr = F.md5(
            F.concat_ws(":", F.lit(str(i)), F.col("node").cast("string"))
        )
        cur = st.withColumn(
            "p", F.when(F.col("status") == 0, pr)
        )
        # phase 1: min (priority, node) among UNDECIDED neighbors
        m1 = aggregate_messages(
            e,
            cur,
            to_dst=F.when(
                F.col("status") == 0,
                F.struct(F.col("p").alias("p"), F.col("node").alias("n")),
            ),
            agg=[F.min("msg").alias("minp")],
        )
        pr_self = F.struct(F.col("p").alias("p"), F.col("node").alias("n"))
        st1 = (
            cur.join(m1, "node", "left")
            .select(
                "node",
                F.when(F.col("status") != 0, F.col("status"))
                .when(
                    F.col("minp").isNull() | (pr_self < F.col("minp")),
                    F.lit(1),
                )
                .otherwise(F.lit(0))
                .alias("status"),
            )
        )
        # phase 2: neighbors of MIS members drop out
        m2 = aggregate_messages(
            e,
            st1,
            to_dst=F.when(F.col("status") == 1, F.lit(1)),
            agg=[F.max("msg").alias("near_mis")],
        )
        return st1.join(m2, "node", "left").select(
            "node",
            F.when(
                (F.col("status") == 0) & (F.col("near_mis") == 1), F.lit(2)
            )
            .otherwise(F.col("status"))
            .alias("status"),
        )

    with iter_shuffle_partitions(spark, p):
        done = pregel(
            state,
            step,
            rounds,
            # a fixed-round (statuses) run must execute EVERY round so the
            # unrolled oracle replays the identical computation; the early
            # halt is an optimization only valid when reporting membership
            # (extra rounds are no-ops once nothing is undecided). With no
            # halt probe there is nothing to materialize per round either:
            # lazy checkpoints run the whole loop as ONE job (the pregel
            # fixed-iteration doctrine; g_mis r11 — eager cadence cost ~2x
            # the baseline row at sf0.1, 6 extra materialization jobs)
            eager=not statuses,
            halt=None
            if statuses
            else (
                lambda _prev, new: new.filter(F.col("status") == 0).count() == 0
            ),
        )
    if statuses:
        return done.select("node", F.col("status").cast("long").alias("status"))
    return done.select("node", (F.col("status") == 1).alias("in_mis"))
