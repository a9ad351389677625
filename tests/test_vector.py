"""Vector-search tests: ANN recall against the exact ranking (the
oracle can't grade approximate paths, so recall is asserted here) and
IVF training determinism.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from mie_spark.operators.vector import (
    ann_topk_ivf,
    ann_topk_lsh,
    cosine_topk,
    similarity_self_join,
    train_ivf_centroids,
)
from mie_spark.sources import load_table

SF = "/root/testdata/sf0.01"


def _emb_and_query(spark):
    emb = load_table(spark, SF, "embeddings").filter(F.col("vec_id") != 0)
    q = list(
        load_table(spark, SF, "embeddings")
        .filter(F.col("vec_id") == 0)
        .select("embedding")
        .first()[0]
    )
    return emb, q


def test_ivf_recall_at_10(spark):
    emb, q = _emb_and_query(spark)
    exact = {r["vec_id"] for r in cosine_topk(emb, "embedding", q, 10).collect()}
    approx = {
        r["vec_id"] for r in ann_topk_ivf(emb, "embedding", q, 10).collect()
    }
    recall = len(exact & approx) / 10
    assert recall >= 0.5, f"IVF recall@10 too low: {recall}"


def test_lsh_recall_at_10(spark):
    emb, q = _emb_and_query(spark)
    exact = {r["vec_id"] for r in cosine_topk(emb, "embedding", q, 10).collect()}
    approx = {
        r["vec_id"]
        for r in ann_topk_lsh(emb, "embedding", q, 10, n_planes=4).collect()
    }
    recall = len(exact & approx) / 10
    assert recall >= 0.3, f"LSH recall@10 too low: {recall}"


def test_published_recall_floors_sf01(spark):
    """Pins the SCALE.md recall table (measured r6 at sf0.1, 20
    queries): ivf-pq 0.910@10 / 0.989@50, ivf-flat 0.710@10. A 5-query
    spot check with floors a margin below the published 20-query means
    — sampling error on 5 queries is larger, but a real regression
    (broken codebooks, wrong probe ranking) lands far below these."""
    from mie_spark.operators.vector import ann_topk_pq
    from mie_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.1", "embeddings")
    queries = {
        r["vec_id"]: list(r["embedding"])
        for r in emb.filter(F.col("vec_id") < 5).collect()
    }
    corpus = emb.filter(F.col("vec_id") >= 5)
    pq10, pq50, ivf10 = [], [], []
    for q in queries.values():
        exact10 = {r["vec_id"] for r in cosine_topk(corpus, "embedding", q, 10).collect()}
        exact50 = {r["vec_id"] for r in cosine_topk(corpus, "embedding", q, 50).collect()}
        got10 = {r["vec_id"] for r in ann_topk_pq(corpus, "embedding", q, 10).collect()}
        got50 = {r["vec_id"] for r in ann_topk_pq(corpus, "embedding", q, 50).collect()}
        iv10 = {r["vec_id"] for r in ann_topk_ivf(corpus, "embedding", q, 10).collect()}
        pq10.append(len(got10 & exact10) / 10)
        pq50.append(len(got50 & exact50) / 50)
        ivf10.append(len(iv10 & exact10) / 10)
    assert sum(pq10) / 5 >= 0.7, f"ivf-pq recall@10 collapsed: {pq10}"
    assert sum(pq50) / 5 >= 0.85, f"ivf-pq recall@50 collapsed: {pq50}"
    assert sum(ivf10) / 5 >= 0.4, f"ivf recall@10 collapsed: {ivf10}"


def test_ivf_centroids_deterministic(spark):
    emb, _ = _emb_and_query(spark)
    c1 = train_ivf_centroids(emb, "embedding", n_centroids=8, lloyd_iters=1)
    c2 = train_ivf_centroids(emb, "embedding", n_centroids=8, lloyd_iters=1)
    assert c1 == c2


def test_ivf_probe_widening_converges_to_exact(spark):
    """Probing every cell must equal the exact ranking — IVF is a pure
    partition-pruning optimization, not a different metric."""
    emb, q = _emb_and_query(spark)
    exact = [r["vec_id"] for r in cosine_topk(emb, "embedding", q, 10).collect()]
    full = [
        r["vec_id"]
        for r in ann_topk_ivf(
            emb, "embedding", q, 10, n_centroids=8, n_probe=8
        ).collect()
    ]
    assert exact == full


def test_self_join_above_cap_is_banded_not_cartesian(spark, monkeypatch):
    """Past the broadcast-matrix size cap the self-join must take the
    banded-LSH path, NOT an all-pairs crossJoin: the plan may contain no
    CartesianProduct/BroadcastNestedLoopJoin, precision must stay exact
    (subset of the exact pairs), and recall must stay high even on this
    corpus's weak (sim≈0.47) planted pairs."""
    import mie_spark.operators.vector as V

    emb = load_table(spark, SF, "embeddings")
    blocked = {
        (r["a_id"], r["b_id"]): round(r["sim"], 9)
        for r in V.similarity_self_join(emb, "embedding", threshold=0.45).collect()
    }
    monkeypatch.setattr(V, "_BLOCKED_MAX_CELLS", 0)
    banded_df = V.similarity_self_join(emb, "embedding", threshold=0.45)
    plan = banded_df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    banded = {
        (r["a_id"], r["b_id"]): round(r["sim"], 9)
        for r in banded_df.collect()
    }
    assert set(banded) <= set(blocked)  # exact cosine filter: no false pairs
    assert len(banded) / len(blocked) >= 0.7
    for k in banded:
        assert abs(blocked[k] - banded[k]) < 1e-6


def test_graded_self_join_queries_take_exact_path_at_oracle_scale(spark):
    """The oracle-graded queries (dedup_embedding_cosine,
    v3_similarity_self_join) advertise EXACT all-pairs semantics; the
    auto dispatch must pick the blocked BLAS path at the driver's
    grading scale (sf0.01), and the recorded marker proves it — if the
    corpus ever outgrows _BLOCKED_MAX_CELLS this test fails instead of
    the oracle silently losing weak pairs."""
    import mie_spark.operators.vector as V
    from mie_spark.queries.dedup import dedup_embedding_cosine
    from mie_spark.queries.vector import v3_similarity_self_join

    for fn in (v3_similarity_self_join, dedup_embedding_cosine):
        V.last_self_join_dispatch.update(path=None, was_exact=None)
        fn(spark, SF)  # dispatch happens at plan-construction time
        assert V.last_self_join_dispatch == {
            "path": "blocked",
            "was_exact": True,
        }, f"{fn.__name__} no longer takes the exact path at oracle scale"


def test_self_join_auto_degrade_warns(spark, monkeypatch, caplog):
    """Crossing _BLOCKED_MAX_CELLS under auto dispatch switches
    SEMANTICS (exhaustive → banded recall); that must emit a visible
    warning and record was_exact=False."""
    import logging

    import mie_spark.operators.vector as V

    emb = load_table(spark, SF, "embeddings")
    monkeypatch.setattr(V, "_BLOCKED_MAX_CELLS", 0)
    with caplog.at_level(logging.WARNING, logger="mie_spark.operators.vector"):
        V.similarity_self_join(emb, "embedding", threshold=0.45)
    assert any("APPROXIMATE" in r.message for r in caplog.records)
    assert V.last_self_join_dispatch == {"path": "banded", "was_exact": False}


def test_self_join_carries_string_ids(spark):
    """Ids are opaque: the conflict scan feeds string ``fact:…`` keys
    through the same operator. Pair set must match the long-id run
    (modulo the id prefix), via the blocked path and the banded path."""
    import mie_spark.operators.vector as V

    emb = load_table(spark, SF, "embeddings")
    with_str = emb.select(
        F.concat(F.lit("fact:"), F.format_string("%04d", "vec_id")).alias("vec_id"),
        "embedding",
    )
    long_pairs = {
        ("fact:%04d" % r["a_id"], "fact:%04d" % r["b_id"])
        for r in V.similarity_self_join(emb, "embedding", threshold=0.45).collect()
    }
    str_pairs = {
        (r["a_id"], r["b_id"])
        for r in V.similarity_self_join(with_str, "embedding", threshold=0.45).collect()
    }
    assert str_pairs == long_pairs


def test_self_join_lsh_bucketed_recall(spark):
    """The bucketed (approximate) self-join must keep high recall on the
    strong pairs the exact join finds — at scale it's the only path
    whose shuffle stays sub-quadratic."""
    from mie_spark.operators.vector import similarity_self_join

    emb = load_table(spark, SF, "embeddings")
    exact = {
        (r["a_id"], r["b_id"])
        for r in similarity_self_join(emb, "embedding", threshold=0.45).collect()
    }
    approx = {
        (r["a_id"], r["b_id"])
        for r in similarity_self_join(
            emb, "embedding", threshold=0.45, n_buckets=2
        ).collect()
    }
    assert approx <= exact  # never invents pairs (same exact filter)
    if exact:
        assert len(approx & exact) / len(exact) >= 0.5


def test_embed_corpus_matches_provider(spark):
    """The worker-inlined mock in v_embed_corpus must stay bit-equal to
    MockEmbeddingProvider (the inline exists only because the grading
    driver's workers can't import mie_spark)."""
    from mie_spark.embedding import MockEmbeddingProvider
    from mie_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    out = {
        r["doc_id"]: (r["dim"], r["l2_norm"], r["c0"])
        for r in QUERIES["v_embed_corpus"](spark, sf).collect()
    }
    provider = MockEmbeddingProvider(dimension=8)
    docs = load_table(spark, sf, "documents").select("doc_id", "text").collect()
    for r in docs:
        vec = provider.embed_query(r["text"])
        norm = round(sum(x * x for x in vec) ** 0.5, 6)
        assert out[r["doc_id"]] == (8, norm, round(vec[0], 6))


def test_pq_recall_at_10(spark):
    """Flat PQ (ADC shortlist + exact rerank) must track the exact
    ranking closely — the rerank makes precision exact, so recall is
    the only degree of freedom."""
    from mie_spark.operators.vector import ann_topk_pq

    emb, q = _emb_and_query(spark)
    exact = {r["vec_id"] for r in cosine_topk(emb, "embedding", q, 10).collect()}
    approx = {r["vec_id"] for r in ann_topk_pq(emb, "embedding", q, 10).collect()}
    recall = len(exact & approx) / 10
    assert recall >= 0.7, f"PQ recall@10 too low: {recall}"


def test_pq_codebooks_deterministic(spark):
    from mie_spark.operators.vector import train_pq_codebooks

    emb, _ = _emb_and_query(spark)
    c1 = train_pq_codebooks(emb, "embedding", m=8, k_codes=16, lloyd_iters=2)
    c2 = train_pq_codebooks(emb, "embedding", m=8, k_codes=16, lloyd_iters=2)
    assert c1 == c2
    assert len(c1) == 8 and all(len(cb) == 16 for cb in c1)


def test_similarity_self_join_empty_input(spark):
    """Empty input → empty pair set, not a first()/None crash — in both
    the auto-dispatch and explicit-bucket paths."""
    from pyspark.sql.types import ArrayType, FloatType, LongType, StructField, StructType

    empty = spark.createDataFrame(
        [],
        StructType([
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
        ]),
    )
    assert similarity_self_join(empty, "embedding", 0.5).count() == 0
    assert similarity_self_join(empty, "embedding", 0.5, n_buckets=4).count() == 0


def test_zero_vector_does_not_poison_ivf(spark):
    """A single all-zero embedding must not NaN-poison k-means: with
    ANSI off x/0.0 is NULL, so an unguarded normalize turns one row
    into a NULL array and every centroid into NaN."""
    import random

    from mie_spark.operators.vector import ann_topk_ivf, train_ivf_centroids

    rng = random.Random(7)
    rows = [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(200)]
    rows.append((200, [0.0] * 8))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cents = train_ivf_centroids(df, "embedding", n_centroids=4, lloyd_iters=2)
    assert all(all(c == c for c in cent) for cent in cents), "NaN centroid"
    out = ann_topk_ivf(df, "embedding", rows[0][1], 5)
    assert out.count() == 5


def test_mmr_matches_independent_recomputation(spark):
    """Greedy MMR recomputed with plain Python loops (no numpy, no
    shared code path beyond the candidate pool) must select the same
    ids in the same order with the same scores — pins both the
    recurrence and the tie-break."""
    from mie_spark.operators.vector import mmr_rerank
    from mie_spark.queries.vector import _query_vec
    from mie_spark.sources import load_table

    SF = "/root/testdata/sf0.001"
    qv = _query_vec(spark, SF)
    emb = load_table(spark, SF, "embeddings").filter(F.col("vec_id") != 0)
    got = [
        (r["vec_id"], r["rank"], r["mmr"])
        for r in mmr_rerank(emb, "embedding", qv, k=10, pool=50, lam=0.7)
        .orderBy("rank")
        .collect()
    ]

    import math

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a)) or 1.0
        nb = math.sqrt(sum(x * x for x in b)) or 1.0
        return dot / (na * nb)

    rows = emb.select("vec_id", "embedding").collect()
    scored = sorted(
        ((cos(list(r["embedding"]), qv), r["vec_id"], list(r["embedding"])) for r in rows),
        key=lambda t: (-t[0], t[1]),
    )[:50]
    lam = 0.7
    sel, max_sim = [], {}
    cand = [(vid, rel, vec) for rel, vid, vec in scored]
    while len(sel) < 10 and len(sel) < len(cand):
        best = None
        for vid, rel, vec in cand:
            if vid in {v for v, _ in sel}:
                continue
            s = rel if not sel else lam * rel - (1 - lam) * max_sim[vid]
            if best is None or s > best[1]:
                best = (vid, s, vec)
        sel.append((best[0], round(best[1], 6)))
        for vid, rel, vec in cand:
            c = cos(vec, best[2])
            max_sim[vid] = max(max_sim.get(vid, -1e18), c)
    want = [(vid, i + 1, s) for i, (vid, s) in enumerate(sel)]
    assert [(g[0], g[1]) for g in got] == [(w[0], w[1]) for w in want]
    for g, w in zip(got, want):
        assert abs(g[2] - w[2]) <= 1e-6


def test_mmr_empty_pool_and_label_free_input(spark):
    """Empty candidate pool returns an empty, correctly-typed frame;
    label_col=None works on vector frames without a label column."""
    from mie_spark.operators.vector import mmr_rerank
    from mie_spark.sources import load_table

    SFD = "/root/testdata/sf0.001"
    emb = load_table(spark, SFD, "embeddings")
    empty = emb.filter(F.lit(False))
    out = mmr_rerank(empty, "embedding", [1.0] * 64, k=5)
    assert out.count() == 0
    assert out.columns == ["vec_id", "label", "rank", "rel", "mmr"]

    unlabeled = emb.drop("label").limit(30)
    qv = list(emb.filter(F.col("vec_id") == 0).first()["embedding"])
    out2 = mmr_rerank(unlabeled, "embedding", qv, k=5, pool=20, label_col=None)
    rows = out2.collect()
    assert out2.columns == ["vec_id", "rank", "rel", "mmr"]
    assert len(rows) == 5 and [r["rank"] for r in rows] == [1, 2, 3, 4, 5]


def test_pq_empty_input(spark):
    """Empty-input doctrine: the on-the-fly PQ path returns an empty
    top-k like its LSH/IVF siblings (training codebooks on a 0-row
    sample used to die inside numpy with an AxisError)."""
    from mie_spark.operators.vector import ann_topk_pq

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    out = ann_topk_pq(empty, "embedding", [1.0, 0.0, 0.0, 0.0], k=5)
    assert out.count() == 0


def test_binary_quantize_packs_sign_bits(spark):
    from mie_spark.operators.vector import binary_quantize

    df = spark.createDataFrame(
        [(1, [1.0, -1.0, 0.0, 2.0])], ["vec_id", "v"]
    )
    row = binary_quantize(df, "v", dim=4).collect()[0]
    # bits 0 and 3 set (strictly positive only): 0b1001 = 9
    assert row["w0"] == 9


def test_binary_quantize_64_dims_two_words(spark):
    from mie_spark.operators.vector import binary_quantize

    vec = [1.0] * 32 + [-1.0] * 31 + [1.0]  # all of word0, only bit 31 of word1
    df = spark.createDataFrame([(1, vec)], ["vec_id", "v"])
    row = binary_quantize(df, "v", dim=64).collect()[0]
    assert row["w0"] == 0xFFFFFFFF
    assert row["w1"] == 1 << 31


def test_hamming_topk_self_query_first(spark):
    from mie_spark.operators.vector import hamming_topk

    import random

    rng = random.Random(7)
    rows = [
        (i, f"l{i}", [rng.uniform(-1, 1) for _ in range(64)]) for i in range(40)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "label", "embedding"])
    out = hamming_topk(df, "embedding", rows[5][2], k=3, candidates=10).collect()
    assert out[0]["vec_id"] == 5
    assert out[0]["hamming"] == 0
    assert abs(out[0]["sim"] - 1.0) < 1e-9
    # hamming is a long on the Spark side (dtype doctrine)
    assert isinstance(out[0]["hamming"], int)


def test_hamming_topk_recall_floor(spark):
    """Binary-quantized hamming retrieval (cand=100, ~5% of corpus)
    measured 0.625 recall@10 vs exact cosine at sf0.1 on the
    near-uniform synthetic corpus (tools_recall_bench.py, worst case
    for sign codes); pin a floor at sf0.01 so a packing/rerank
    regression fails loudly."""
    from mie_spark.operators.vector import cosine_topk, hamming_topk
    from mie_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    queries = {
        r["vec_id"]: list(r["embedding"])
        for r in emb.filter(F.col("vec_id") < 5).collect()
    }
    corpus = emb.filter(F.col("vec_id") >= 5)
    hits = 0
    for qvec in queries.values():
        exact = {r["vec_id"] for r in cosine_topk(corpus, "embedding", qvec, 10).collect()}
        got = {r["vec_id"] for r in hamming_topk(corpus, "embedding", qvec, 10, candidates=100).collect()}
        hits += len(got & exact)
    assert hits / (10 * len(queries)) >= 0.5


def test_hnsw_recall_and_indexed_parity(spark):
    """Segment-parallel HNSW (operators/hnsw.py) at the reference's
    operating point (m=16, ef_construction=200, ef=200 —
    pkg/memory/schema.go:145-152, reader.go:63,69): recall@10 vs the
    exact ranking must be ~perfect (every shard is searched; with
    ef >= |shard| the beam is effectively exhaustive within a
    connected segment graph), and the result must be deterministic
    across runs."""
    from mie_spark.operators.hnsw import hnsw_topk

    emb, q = _emb_and_query(spark)
    exact = [
        (r["vec_id"], round(r["sim"], 9))
        for r in cosine_topk(emb, "embedding", q, 10).collect()
    ]
    got = [
        (r["vec_id"], round(r["sim"], 9))
        for r in hnsw_topk(emb, "embedding", q, k=10).collect()
    ]
    recall = len({v for v, _ in exact} & {v for v, _ in got}) / 10
    assert recall >= 0.9, f"HNSW recall@10 too low: {recall}"

    # determinism: the graph is a pure function of the shard contents
    again = [
        (r["vec_id"], round(r["sim"], 9))
        for r in hnsw_topk(emb, "embedding", q, k=10).collect()
    ]
    assert got == again


def test_hnsw_heuristic_selection_on_clustered_corpus():
    """VERDICT r9 missing #1: the reference's cozo index enables
    Algorithm-4 heuristic neighbor selection (extend_candidates: true,
    keep_pruned_connections: true — pkg/memory/schema.go:149-151), and
    clustered corpora are exactly where plain closest-m selection
    loses the inter-cluster bridge edges and recall collapses. Pin the
    gap: 80 tight clusters x 50 points in 16-d, 50 random queries, at
    the reference's m=16/ef_c=200/ef=200 operating point the heuristic
    graph must stay near-exact while the simple graph measurably
    trails (measured 1.000 vs 0.630 when this pin was written)."""
    import numpy as np

    from mie_spark.operators.hnsw import _unit, build_hnsw, search_hnsw

    rng = np.random.RandomState(11)
    centers = _unit(rng.randn(80, 16))
    X = _unit(np.repeat(centers, 50, axis=0) + 0.02 * rng.randn(4000, 16))
    queries = _unit(rng.randn(50, 16))

    def recall(heuristic: bool) -> float:
        layers, entry = build_hnsw(X, seed=42, heuristic=heuristic)
        total = 0.0
        for q in queries:
            exact = set(np.argsort(-(X @ q))[:10])
            hits = {n for _, n in search_hnsw(layers, entry, X, q, k=10)}
            total += len(hits & exact) / 10
        return total / len(queries)

    r_heuristic, r_simple = recall(True), recall(False)
    assert r_heuristic >= 0.95, r_heuristic
    assert r_simple <= 0.85, (
        f"simple selection unexpectedly fine ({r_simple}) — the A/B "
        "corpus no longer separates the strategies; tighten it"
    )
    assert r_heuristic > r_simple


def test_hnsw_auto_shards_targets_segment_size(spark):
    """shards="auto" sizes the segment count from the corpus
    (max(AUTO_MIN_SHARDS, ceil(n / AUTO_SHARD_TARGET))) — the Lucene
    lever the scale curve names: at growing n the production answer is
    MORE segments at constant size, never bigger graphs, and below
    8 * target the parallelism floor keeps small corpora on 8 segments
    (the historical fixed default, so auto strictly dominates it).
    Pins the resolution rule and that hnsw_topk over auto shards keeps
    the exact-rerank recall contract."""
    import numpy as np

    from mie_spark.operators.hnsw import (
        AUTO_MIN_SHARDS,
        AUTO_SHARD_TARGET,
        _resolve_shards,
        hnsw_topk,
        shard_of,
    )
    from mie_spark.operators.vector import cosine_topk

    rng = np.random.RandomState(9)
    n = 2 * AUTO_SHARD_TARGET + 500  # under the floor -> 8 shards
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in rng.randn(8)]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    assert _resolve_shards(df, "vec_id", "auto") == AUTO_MIN_SHARDS
    assert _resolve_shards(df.limit(10), "vec_id", "auto") == AUTO_MIN_SHARDS
    assert _resolve_shards(df, "vec_id", 8) == 8
    # above the floor the target governs: constant ~4096-vector segments
    big = spark.range(AUTO_MIN_SHARDS * AUTO_SHARD_TARGET + 500)
    assert _resolve_shards(big, "id", "auto") == AUTO_MIN_SHARDS + 1

    shards = df.select(shard_of(F.col("vec_id"), AUTO_MIN_SHARDS)).distinct()
    assert sorted(r["_shard"] for r in shards.collect()) == list(range(AUTO_MIN_SHARDS))
    q = [float(x) for x in rng.randn(8)]
    got = {r["vec_id"] for r in hnsw_topk(df, "embedding", q, k=10, shards="auto").collect()}
    exact = {r["vec_id"] for r in cosine_topk(df, "embedding", q, 10).collect()}
    assert len(got & exact) / 10 >= 0.9


def test_kcenter_matches_numpy_and_radius_property(spark):
    """v_kcenter_coreset vs an independent numpy farthest-point
    recompute at sf0.001 (same seed = min vec_id, same squared-L2,
    same id tie-break), plus the defining k-center property: the
    coverage radius sequence is non-increasing from the first real
    pick onward."""
    import numpy as np

    from mie_spark.queries import QUERIES
    from mie_spark.sources import load_table

    sf = "/root/testdata/sf0.001"
    got = sorted(
        QUERIES["v_kcenter_coreset"](spark, sf).collect(),
        key=lambda r: r["rank"],
    )
    emb = (
        load_table(spark, sf, "embeddings")
        .filter("vec_id <> 0")
        .select("vec_id", "embedding")
        .collect()
    )
    ids = np.array([r["vec_id"] for r in emb])
    V = np.array([list(r["embedding"]) for r in emb], dtype=np.float64)
    order = np.argsort(ids)
    ids, V = ids[order], V[order]
    chosen = [0]  # position of min vec_id after the sort
    mind = ((V - V[0]) ** 2).sum(axis=1)
    expect = [(1, int(ids[0]), 0.0)]
    for rank in range(2, 11):
        mind[chosen] = -np.inf
        best = int(np.argmax(mind))  # first max -> lowest id tie-break
        expect.append((rank, int(ids[best]), round(float(mind[best]), 6)))
        chosen.append(best)
        mind = np.minimum(mind, ((V - V[best]) ** 2).sum(axis=1))
    assert [(r["rank"], r["vec_id"], r["dist"]) for r in got] == expect
    radii = [r["dist"] for r in got][1:]
    assert all(a >= b for a, b in zip(radii, radii[1:]))


def test_embed_drift_gate_invariants(spark):
    """v_embed_drift (r13): panel membership, Jaccard algebra, and the
    numpy ground truth for the quantized-integer ranking — the exact
    top-10 sets under both models recomputed independently."""
    import numpy as np

    from mie_spark.queries import QUERIES

    rows = {r["qid"]: r for r in QUERIES["v_embed_drift"](spark, SF).collect()}
    emb = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in load_table(spark, SF, "embeddings").collect()
    }
    assert set(rows) == {i for i in emb if i % 29 == 0}
    # numpy replay of the spec: unit-normalize, quantize to 2^-20 grid,
    # integer dot, top-10 by (dot desc, vec_id asc)
    def quant(v):
        u = v / np.sqrt(np.sum(v * v))
        x = u * 1048576.0
        # HALF-AWAY-FROM-ZERO like F.round/DuckDB round — np.round is
        # half-EVEN and would diverge on an exact dyadic midpoint
        return (np.sign(x) * np.floor(np.abs(x) + 0.5)).astype(np.int64)

    qa = {i: quant(v) for i, v in emb.items()}
    qb = {i: quant(v[:16]) for i, v in emb.items()}
    for qid, r in rows.items():
        def topk(q):
            scored = sorted(
                ((-int(q[qid] @ q[i]), i) for i in emb if i != qid)
            )[:10]
            return {i for _, i in scored}

        inter = len(topk(qa) & topk(qb))
        assert r["overlap10"] == inter, qid
        assert 0 <= r["overlap10"] <= 10
        u = 20 - inter
        assert r["jaccard_ppm"] == (2 * inter * 1_000_000 + u) // (2 * u)
        assert r["drift"] == (r["corpus_jaccard_ppm"] < 600000)
    ppms = [r["jaccard_ppm"] for r in rows.values()]
    n = len(ppms)
    assert rows[0]["corpus_jaccard_ppm"] == (2 * sum(ppms) + n) // (2 * n)


def test_embed_drift_broadcasts_panel(spark):
    """The probe panel must ride a broadcast — the corpus never
    shuffles for the scoring join."""
    from mie_spark.queries import QUERIES

    plan = (
        QUERIES["v_embed_drift"](spark, SF)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
