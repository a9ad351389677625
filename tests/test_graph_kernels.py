"""Closed-form kernel tests for the iterative graph operators on
crafted graphs — the oracle queries prove convergence on corpus-derived
graphs; these pin the semantics on adversarial shapes (chains that
exhaust the round budget, cores of known membership)."""

from __future__ import annotations

import math

import pyarrow as pa
import pytest
from conftest import SF_SMOKE
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from mie_spark.operators.graph import kcore
from mie_spark.session import conf_overrides


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, ["src", "dst"])


def test_kcore_triangle_with_tail(spark):
    """Triangle (1,2,3) + tail 3-4-5: the 2-core is exactly the
    triangle, each member at degree 2, and the tail peels over TWO
    rounds (5 first, then 4) — exercises the cascade, not just one
    pass."""
    e = _edges(spark, [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)])
    got = {r["node"]: r["deg"] for r in kcore(e, k=2).collect()}
    assert got == {1: 2, 2: 2, 3: 2}


def test_kcore_chain_peels_to_empty(spark):
    """A 6-node path has no 2-core; peeling strips one layer per round
    from each end (3 rounds) — must converge to empty within budget."""
    e = _edges(spark, [(i, i + 1) for i in range(1, 6)])
    assert kcore(e, k=2).count() == 0


def test_kcore_round_budget_is_exact(spark):
    """A 20-node path with rounds=2 must behave EXACTLY like two peel
    passes (ends trimmed twice, 15 interior edges left) — the bounded
    budget is part of the operator contract (the oracle unrolls the
    same number of rounds), not a best-effort hint."""
    e = _edges(spark, [(i, i + 1) for i in range(1, 20)])
    got = {r["node"] for r in kcore(e, k=2, rounds=2).collect()}
    assert got == set(range(3, 19))


def test_kcore_keeps_whole_clique(spark):
    """K5 is its own 4-core: nothing peels, early exit on round 1."""
    pairs = [(a, b) for a in range(1, 6) for b in range(a + 1, 6)]
    got = {r["node"]: r["deg"] for r in kcore(_edges(spark, pairs), k=4).collect()}
    assert got == {n: 4 for n in range(1, 6)}


def test_kcore_empty_edges(spark):
    e = spark.createDataFrame([], "src long, dst long")
    assert kcore(e, k=2).count() == 0


def test_connected_components_matches_union_find(spark):
    """CC semantics pinned against a Python union-find — through a
    DERIVED edge lineage (filter + projection over a wider frame), the
    shape whose per-superstep re-derivation the r13 edge checkpoint
    removed, plus an isolated vertex via ``nodes``."""
    from mie_spark.operators.graph import connected_components

    raw = spark.createDataFrame(
        [(a, b, a + b) for a, b in
         [(1, 2), (2, 3), (10, 11), (5, 5), (20, 21), (21, 22), (22, 20)]],
        ["src", "dst", "w"],
    )
    edges = raw.filter(F.col("w") > 3).select("src", "dst")  # drops (1,2)
    nodes = spark.createDataFrame([(99,)], ["node"])
    got = {
        (r["node"], r["component"])
        for r in connected_components(edges, nodes=nodes).collect()
    }
    # union-find over the same filtered edge set
    parent = {}
    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in [(2, 3), (10, 11), (5, 5), (20, 21), (21, 22), (22, 20)]:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    find(99)
    want = {(n, find(n)) for n in parent}
    assert got == want


def test_label_propagation_matches_python_reference(spark):
    """Empty edges yield an empty labeling, and on a small graph the
    distributed loop must match an independent Python implementation of
    the SAME synchronous rule (most-frequent neighbor label, ties to
    min) round for round."""
    from collections import Counter

    from mie_spark.operators.graph import label_propagation

    empty = spark.createDataFrame([], "src long, dst long")
    assert label_propagation(empty, rounds=2).count() == 0

    raw = [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12), (3, 10),
           (20, 21), (21, 22), (20, 22), (22, 1)]
    edges = spark.createDataFrame(raw, "src long, dst long")

    # independent reference: synchronous rounds over adjacency sets
    adj: dict[int, set[int]] = {}
    for s_, d_ in raw:
        adj.setdefault(s_, set()).add(d_)
        adj.setdefault(d_, set()).add(s_)
    labels = {n: n for n in adj}
    for _ in range(4):
        nxt = {}
        for n in adj:
            counts = Counter(labels[v] for v in adj[n])
            best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
            nxt[n] = best
        labels = nxt

    out = {
        r["node"]: r["label"]
        for r in label_propagation(edges, rounds=4).collect()
    }
    assert out == labels


def test_aggregate_messages_directions_and_reducers(spark):
    """The GraphX-parity superstep primitive, exercised directly:
    to_dst carries src state, to_src carries dst state, both-direction
    unit messages count degree without a state join, and a callable
    reducer sees the raw (node, msg) frame."""
    from mie_spark.operators.pregel import aggregate_messages

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3)], ["src", "dst"]
    )
    verts = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)], ["node", "val"]
    )
    # to_dst: each target sums its senders' state
    got = {
        r["node"]: r["s"]
        for r in aggregate_messages(
            edges, verts, to_dst=F.col("val"), agg=[F.sum("msg").alias("s")]
        ).collect()
    }
    assert got == {2: 10.0, 3: 30.0}
    # to_src: each source sees its targets' state
    got = {
        r["node"]: r["s"]
        for r in aggregate_messages(
            edges, verts, to_src=F.col("val"), agg=[F.sum("msg").alias("s")]
        ).collect()
    }
    assert got == {1: 50.0, 2: 30.0}
    # both directions, no vertex join: undirected degree
    deg = {
        r["node"]: r["d"]
        for r in aggregate_messages(
            edges,
            to_dst=F.lit(1),
            to_src=F.lit(1),
            agg=[F.count(F.lit(1)).alias("d")],
        ).collect()
    }
    assert deg == {1: 2, 2: 2, 3: 2}
    # callable reducer gets the raw message frame
    mx = aggregate_messages(
        edges,
        verts,
        to_dst=F.col("val"),
        agg=lambda msgs: msgs.groupBy("node").agg(F.max("msg").alias("m")),
    )
    assert {r["node"]: r["m"] for r in mx.collect()} == {2: 10.0, 3: 20.0}

    import pytest as _pytest

    with _pytest.raises(ValueError, match="to_dst/to_src"):
        aggregate_messages(edges, verts, agg=[F.sum("msg").alias("s")])


def test_pregel_runner_halt_and_rounds(spark):
    """pregel runs exactly `rounds` supersteps without halt, and stops
    early (returning the NEW state) when halt fires."""
    from mie_spark.operators.pregel import pregel

    v0 = spark.createDataFrame([(1, 0)], ["node", "x"])

    def step(state, i):
        return state.select("node", (F.col("x") + 1).alias("x"))

    out = pregel(v0, step, 5)
    assert out.collect()[0]["x"] == 5

    out = pregel(
        v0, step, 5, halt=lambda old, new: new.collect()[0]["x"] >= 2
    )
    assert out.collect()[0]["x"] == 2


def test_hits_hand_computed(spark):
    """HITS on a 3-node graph, one simultaneous round, against hand
    arithmetic: edges 1->2, 2->3, 3->1, 1->3 with hub=auth=1 init.
    Round 1: auth = in-sum of hubs = (1,1,2); hub = out-sum of auths =
    (2,1,1). L1-normalized: auth (.25,.25,.5), hub (.5,.25,.25)."""
    from mie_spark.operators.graph import hits

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (1, 3)], "src long, dst long"
    )
    out = {r["node"]: (r["hub"], r["auth"]) for r in hits(edges, 1).collect()}
    assert out == {1: (0.5, 0.25), 2: (0.25, 0.25), 3: (0.25, 0.5)}


def test_hits_pure_cycle_is_uniform(spark):
    """On a pure cycle every node has in/out degree 1, so hubs and
    authorities stay uniform at any iteration count — the degeneracy
    that made g_hits use the ring+shortcut graph."""
    import pytest

    from mie_spark.operators.graph import hits

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], "src long, dst long"
    )
    for r in hits(edges, 3).collect():
        assert r["hub"] == pytest.approx(1 / 3)
        assert r["auth"] == pytest.approx(1 / 3)


def test_random_walks_deterministic_and_shuffle_invariant(spark):
    """g_random_walks must be a PURE function of the graph: two runs at
    different shuffle-partition settings produce the identical walk
    set (the md5-argmin hop rule is order-independent by construction —
    this pins that no nondeterministic tie-break leaked in), and every
    hop follows an actual edge."""
    from mie_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    a = {tuple(r) for r in QUERIES["g_random_walks"](spark, sf).collect()}
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        b = {tuple(r) for r in QUERIES["g_random_walks"](spark, sf).collect()}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert a == b and a
    edges = {
        (r["c"], r["p"])
        for r in spark.sql(
            f"""SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
            FROM parquet.`{sf}/orders.parquet` o
            JOIN parquet.`{sf}/lineitem.parquet` l
              ON l.l_orderkey = o.o_orderkey"""
        ).collect()
    }
    for start_c, p1, c2, p3 in a:
        assert (start_c, p1) in edges
        assert (c2, p1) in edges
        assert (c2, p3) in edges


def test_luby_mis_independent_maximal_deterministic(spark):
    """Luby MIS on crafted graphs: the result must be INDEPENDENT (no
    edge inside the set), MAXIMAL (every out-node has a MIS neighbor),
    and deterministic (md5 priorities — two runs identical). Triangle:
    exactly one member. Star: either the center alone or all leaves."""
    from mie_spark.operators.graph import luby_mis

    def check(pairs):
        e = _edges(spark, pairs)
        res = {r["node"]: r["in_mis"] for r in luby_mis(e).collect()}
        res2 = {r["node"]: r["in_mis"] for r in luby_mis(e).collect()}
        assert res == res2  # deterministic
        adj = {}
        for a, b in pairs:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        mis = {n for n, m in res.items() if m}
        for a, b in pairs:  # independence
            assert not (a in mis and b in mis)
        for n in adj:  # maximality
            if n not in mis:
                assert adj[n] & mis, f"node {n} has no MIS neighbor"
        return mis

    assert len(check([(1, 2), (2, 3), (1, 3)])) == 1  # triangle
    check([(0, i) for i in range(1, 6)])  # star
    check([(i, i + 1) for i in range(1, 8)])  # path
    check([(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 6), (6, 4)])  # two triangles + bridge


# -- rank operators: driver path vs the Spark loop ----------------------------

_IDS = {
    "bigint": st.integers(0, 7),
    "string": st.sampled_from(["a", "b", "c", "d", "e", "f", "g", "h"]),
}


@st.composite
def _rank_inputs(draw):
    """Small random digraphs: 8 ids, so duplicate edges, self-loops and
    sink nodes are common; roughly one endpoint in six is NULL."""
    kind = draw(st.sampled_from(sorted(_IDS)))
    node = st.one_of(*[_IDS[kind]] * 5, st.none())
    edges = draw(st.lists(st.tuples(node, node), max_size=20))
    sources = draw(st.lists(node, min_size=1, max_size=4))
    return kind, edges, sources, draw(st.integers(0, 4))


def _same_ranks(got, want) -> None:
    assert got.schema == want.schema
    key = lambda r: (r["node"] is None, r["node"])  # noqa: E731
    g, w = sorted(got.collect(), key=key), sorted(want.collect(), key=key)
    assert [r["node"] for r in g] == [r["node"] for r in w]
    for a, b in zip(g, w):
        for c in got.columns[1:]:
            if b[c] is None:
                assert a[c] is None
            else:
                assert math.isclose(a[c], b[c], rel_tol=1e-12, abs_tol=0.0), (a, b)


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(_rank_inputs())
@example(("bigint", [(1, 2), (2, 2), (2, 2), (2, 3), (3, None), (None, 1)], [1, None, 9], 3))
@example(("string", [("a", "b"), ("b", "a"), ("a", "c")], ["c"], 2))
@example(("bigint", [], [1], 3))
def test_rank_operators_driver_path_matches_spark_loop(spark, case):
    """pagerank, personalized_pagerank and hits below the broadcast
    threshold (driver path) equal the Spark loop, forced by a threshold
    of -1: same schema, same node set, ranks within 1e-12 relative
    (the two paths sum messages in different orders)."""
    from mie_spark.operators import graph

    kind, pairs, seeds, iters = case
    t = {"bigint": pa.int64(), "string": pa.string()}[kind]
    # from Arrow, not a Python list: a list becomes an RDD scan whose
    # size the optimizer does not know, and that always runs the loop
    edges = spark.createDataFrame(
        pa.table(
            {
                "src": pa.array([p[0] for p in pairs], t),
                "dst": pa.array([p[1] for p in pairs], t),
            }
        )
    )
    sources = spark.createDataFrame(pa.table({"node": pa.array(seeds, t)}))
    runs = {
        "pagerank": lambda: graph.pagerank(edges, iters),
        "ppr": lambda: graph.personalized_pagerank(edges, sources, iters),
        "hits": lambda: graph.hits(edges, iters),
    }
    assert graph._small_graph(edges, sources) is not None
    fast = {k: run() for k, run in runs.items()}
    with conf_overrides(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        assert graph._small_graph(edges, sources) is None
        for k, run in runs.items():
            _same_ranks(fast[k], run())


def test_ppr_empty_sources_raise_on_both_paths(spark):
    from mie_spark.operators.graph import personalized_pagerank

    edges = spark.createDataFrame(pa.table({"src": [1, 2], "dst": [2, 3]}))
    sources = spark.createDataFrame(pa.table({"node": pa.array([], pa.int64())}))
    with pytest.raises(ValueError, match="non-empty source set"):
        personalized_pagerank(edges, sources)
    with conf_overrides(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        with pytest.raises(ValueError, match="non-empty source set"):
            personalized_pagerank(edges, sources)


@pytest.mark.parametrize("name", ["g_pagerank", "g_ppr", "g_hits"])
def test_rank_queries_run_at_most_three_spark_jobs(spark, spark_jobs, name):
    """The registry's rank queries collect their small graph once and
    iterate on the driver: at most 3 Spark jobs each (g_pagerank's
    Spark loop ran 17)."""
    from mie_spark.queries import QUERIES

    assert spark_jobs(lambda: QUERIES[name](spark, SF_SMOKE).collect()) <= 3
