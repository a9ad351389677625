"""Vector / similarity query coverage: SURVEY.md §2.7 (V1-V7).

The query vector is the stored embedding of vec_id=0 (the "embed the
query" step of the reference's semantic search, reader.go:53-60, is a
driver-side single-vector operation there too). Exact brute-force
results define correctness; the LSH entry is the approximate scale path
and carries no SQL oracle.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mie_spark.operators.vector import (
    ann_topk_lsh,
    cosine_topk,
    knn_join_to_nodes,
    similarity_self_join,
)
from mie_spark.queries import query
from mie_spark.sources import load_table


def _query_vec(spark: SparkSession, sf_dir: str) -> list[float]:
    emb = load_table(spark, sf_dir, "embeddings")
    return list(emb.filter(F.col("vec_id") == 0).select("embedding").first()[0])


# --- V2: exact top-k cosine search (reader.go:62-93) ------------------------

@query(
    "v2_cosine_topk",
    oracle="""
    WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
    top AS (
      -- rank and cut on the UNROUNDED similarity (like the Spark heap):
      -- an outer ORDER BY `sim` would resolve to the rounded output
      -- alias in DuckDB, and a 6-dp tie straddling the k boundary
      -- would then admit a different row than Spark's exact ranking
      SELECT vec_id, label,
             round(list_cosine_similarity(embedding::DOUBLE[], qe), 6) AS sim
      FROM embeddings, q
      WHERE vec_id <> 0
      ORDER BY list_cosine_similarity(embedding::DOUBLE[], qe) DESC, vec_id
      LIMIT 10
    )
    SELECT vec_id, label, sim FROM top
    """,
)
def v2_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") != 0)
    top = cosine_topk(emb, "embedding", _query_vec(spark, sf_dir), k=10)
    return top.select("vec_id", "label", F.round("sim", 6).alias("sim"))


# --- V3: all-pairs near-duplicate / conflict scan (conflicts.go:34-170) -----

@query(
    "v3_similarity_self_join",
    oracle="""
    SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.45
    """,
)
def v3_similarity_self_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One vectorized join replaces the reference's O(n) loop of
    sequential HNSW probes; threshold is minimum *similarity* (fixes the
    distance/similarity quirk, SURVEY §2.10)."""
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = similarity_self_join(emb, "embedding", threshold=0.45)
    return pairs.select("a_id", "b_id", F.round("sim", 6).alias("sim"))


# --- J5/V2: rank-then-join back to node table (reader.go:62-93) -------------

@query(
    "v_knn_join_nodes",
    oracle="""
    WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
    top AS (
      SELECT vec_id, round(list_cosine_similarity(embedding::DOUBLE[], qe), 6) AS sim
      FROM embeddings, q WHERE vec_id <> 0
      ORDER BY list_cosine_similarity(embedding::DOUBLE[], qe) DESC, vec_id LIMIT 25
    )
    SELECT t.vec_id, t.sim, d.lang, d.n_chars
    FROM top t JOIN documents d ON t.vec_id = d.doc_id
    WHERE d.lang = 'en'
    """,
)
def v_knn_join_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic-search shape: top-k in vector space, join survivors back
    to the node table, post-filter (valid=true analog: lang='en'). The
    k-row side broadcasts; the node scan stays pruned to 3 columns."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") != 0)
    docs = load_table(spark, sf_dir, "documents")
    joined = knn_join_to_nodes(
        emb, docs, _query_vec(spark, sf_dir), k=25, emb_id="vec_id", node_id="doc_id"
    )
    return joined.filter(F.col("lang") == "en").select(
        "vec_id", F.round("sim", 6).alias("sim"), "lang", "n_chars"
    )


# --- V5: normalization (embedding.go:481-502) --------------------------------

@query(
    "v5_norms",
    oracle="""
    SELECT vec_id,
           round(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])), 6) AS l2,
           len(embedding) AS dim
    FROM embeddings
    """,
)
def v5_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mie_spark.functions.vectors import l2_norm

    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.round(l2_norm(F.col("embedding")), 6).alias("l2"),
        F.size("embedding").cast("long").alias("dim"),
    )


# --- V1-analog: LSH-bucketed approximate top-k (no SQL oracle: ANN) ----------

@query("v_ann_hnsw_topk")
def v_ann_hnsw_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's ACTUAL index structure — HNSW at its exact
    operating point (m=16, ef_construction=200, ef=200, cosine;
    /root/reference/pkg/memory/schema.go:145-152, reader.go:63,69) —
    distributed the Lucene way: one graph per key-hash segment built
    in parallel (applyInPandas), every segment searched, exact global
    re-rank of segments x k candidates (operators/hnsw.py). Closes the
    last 'missing' line from VERDICT r8 (LSH/IVF/PQ were the sanctioned
    substitution; this is the real graph). Rows-only like the rest of
    the ANN family; recall floor + determinism + indexed==on-the-fly
    parity pinned in tests/test_vector.py; the deterministic stages
    (shard/pool/re-rank) hash-grade via v_hnsw_rerank.

    shards="auto" since r11 (constant ~4096-vector segments — the
    Lucene lever): the sf1->sf10 curve measured fixed-8 shards going
    super-linear (per-shard n·log n·ef_c growing 10x) while auto stays
    near-linear by adding segments at constant size; see SCALE.md r11
    and AUTO_SHARD_TARGET in operators/hnsw.py."""
    from mie_spark.operators.hnsw import hnsw_topk

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") != 0)
    top = hnsw_topk(
        emb, "embedding", _query_vec(spark, sf_dir), k=10, shards="auto"
    )
    return top.select("vec_id", F.round("sim", 6).alias("sim"))


def _hnsw_rerank_oracle() -> str:
    """v_ann_hnsw_topk's DETERMINISTIC stages replayed in SQL: the
    md5 segment assignment (operators/hnsw.py shard_of — the engine-
    portable hash every HNSW path uses since r11), the per-shard
    k-candidate pool, and the exact global re-rank over the pooled
    shards x k rows. Pool and cut rank on the UNROUNDED similarity
    (the v2_cosine_topk oracle doctrine), emit rounded."""
    return """
    WITH q AS (
      SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0
    ),
    scored AS (
      SELECT vec_id,
             (('0x' || substr(md5(vec_id::VARCHAR), 1, 15))::BIGINT % 8)
               AS shard,
             list_cosine_similarity(embedding::DOUBLE[], qe) AS s
      FROM embeddings, q WHERE vec_id <> 0
    ),
    pooled AS (
      SELECT shard, vec_id, s,
             row_number() OVER (PARTITION BY shard
                                ORDER BY s DESC, vec_id) AS shard_rank
      FROM scored
      QUALIFY shard_rank <= 10
    )
    SELECT shard, shard_rank::BIGINT AS shard_rank, vec_id,
           round(s, 6) AS sim,
           CASE WHEN g <= 10 THEN g END AS global_rank
    FROM (
      SELECT *, row_number() OVER (ORDER BY s DESC, vec_id)::BIGINT AS g
      FROM pooled
    )
    """


@query("v_hnsw_rerank", oracle=_hnsw_rerank_oracle())
def v_hnsw_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-graded sub-oracle for v_ann_hnsw_topk (VERDICT r10 item 5 —
    with it every ANN family has one: LSH/IVF/PQ/HNSW): emits the full
    candidate POOL of the segment-parallel pipeline — each shard's
    k=10 candidates with their exact float64 cosines — plus the global
    rank for the rows the final re-rank keeps (NULL otherwise), so the
    oracle verifies output == exact top-k of the candidates AND the
    candidate pool itself.

    What this grades deterministically: the md5 shard assignment
    (operators/hnsw.py shard_of — the SAME expression hnsw_topk
    uses), the per-shard
    pooling shape (k per shard by sim desc, id asc), and the exact
    global re-rank hnsw_topk applies to its shards x k candidates.
    The one stage this can't replay is the graph traversal itself —
    per-shard HNSW beam search — which stays pinned by the recall
    floors (1.000@10/@50) and determinism tests in tests/test_vector.py;
    here its candidates are the per-shard EXACT top-k, i.e. what the
    traversal returns at the pinned operating point.

    Plan shape: one scan with the sim expression fused (JVM fold), one
    shuffle on the 3-bit shard key for the per-shard rank, then a
    global window over the BOUNDED shards x k = 80-row pool (registered
    bounded exception, tools_window_audit.py) — at 100 TB the pool is
    still 80 rows."""
    from mie_spark.functions.vectors import cosine_sim
    from mie_spark.operators.hnsw import shard_of

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") != 0)
    qv = _query_vec(spark, sf_dir)
    q = F.array(*[F.lit(float(x)) for x in qv])
    scored = emb.select(
        "vec_id",
        shard_of(F.col("vec_id"), 8).alias("shard"),
        cosine_sim(F.col("embedding"), q).alias("_s"),
    )
    w_shard = Window.partitionBy("shard").orderBy(F.col("_s").desc(), "vec_id")
    pooled = scored.withColumn(
        "shard_rank", F.row_number().over(w_shard).cast("long")
    ).filter(F.col("shard_rank") <= 10)
    w_glob = Window.orderBy(F.col("_s").desc(), "vec_id")
    g = F.row_number().over(w_glob).cast("long")
    return pooled.withColumn("g", g).select(
        "shard",
        "shard_rank",
        "vec_id",
        F.round("_s", 6).alias("sim"),
        F.when(F.col("g") <= 10, F.col("g")).alias("global_rank"),
    )


@query("v_ann_lsh_topk")
def v_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate path behind the same semantics as v2_cosine_topk;
    recall checked in tests/test_vector.py against the exact result."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") != 0)
    top = ann_topk_lsh(emb, "embedding", _query_vec(spark, sf_dir), k=10, n_planes=4)
    return top.select("vec_id", "label", F.round("sim", 6).alias("sim"))


def _lsh_bucket_oracle() -> str:
    """v_ann_lsh_topk's bucketing stage as SQL: the seed-42 hyperplanes
    are module constants (dim 64, 4 planes — exactly what the ANN query
    uses), so DuckDB can recompute every vector's signature AND the
    query's, then the Hamming distance that defines the multi-probe
    set. Same inline-literal technique as dedup_semantic's SRP oracle;
    the sign margins (measured min |dot| = 8e-4 at sf0.01, 6e-6 at
    sf0.1) sit >= 8 orders above the engines' float-fold divergence
    (~1e-15 on unit-scale 64-term dots), so the bit pattern is stable."""
    from mie_spark.operators.vector import _planes

    planes = _planes(None, "", 4, dim=64)  # type: ignore[arg-type]

    def bits(vec: str) -> str:
        return " + ".join(
            f"(CASE WHEN list_dot_product({vec}, {p}::DOUBLE[]) >= 0 "
            f"THEN {1 << i} ELSE 0 END)"
            for i, p in enumerate(planes)
        )

    return f"""
    WITH q AS (
      SELECT ({bits('embedding::DOUBLE[]')})::BIGINT AS qsig
      FROM embeddings WHERE vec_id = 0
    ),
    b AS (
      SELECT vec_id, ({bits('embedding::DOUBLE[]')})::BIGINT AS sig
      FROM embeddings WHERE vec_id <> 0
    )
    SELECT vec_id, sig,
           bit_count(xor(sig, q.qsig))::BIGINT AS hd,
           bit_count(xor(sig, q.qsig)) <= 1 AS probed
    FROM b CROSS JOIN q
    """


@query("v_lsh_buckets", oracle=_lsh_bucket_oracle())
def v_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-graded sub-oracle for v_ann_lsh_topk (the same technique
    that gave pipe_bpe_encode and v_mmr_topk their graded stages): the
    ANN query's APPROXIMATION structure — every vector's 4-bit
    sign-pattern signature, its Hamming distance to the query
    signature, and the multi-probe membership (hd <= 1) that decides
    which vectors the ANN scan may see at all — is deterministic given
    the seed-42 hyperplanes, so it grades exactly even though the
    final top-k is recall-graded. Combined with the recall-floor
    pytest, the only un-hash-graded part of the LSH path left is the
    exact cosine rerank, which v2_cosine_topk grades on its own.

    Plan shape: the signature is 4 fused dot-product expressions over
    the scan (JVM, whole-stage codegen), the query signature is one
    driver-side 64-float fold — map-only, zero shuffles."""
    from mie_spark.operators.vector import _hyperplane_signature, _planes

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") != 0)
    planes = _planes(None, "", 4, dim=64)  # type: ignore[arg-type]
    qv = _query_vec(spark, sf_dir)
    qsig = 0
    for i, p in enumerate(planes):
        if sum(float(a) * float(b) for a, b in zip(qv, p)) >= 0:
            qsig |= 1 << i
    sig = _hyperplane_signature(F.col("embedding"), planes).cast("long")
    hd = F.bit_count(F.col("sig").bitwiseXOR(F.lit(qsig)))
    return emb.select("vec_id", sig.alias("sig")).select(
        "vec_id",
        "sig",
        hd.cast("long").alias("hd"),
        (hd <= 1).alias("probed"),
    )


# --- V1-analog: IVF-cell approximate top-k (no SQL oracle: ANN) --------------

@query("v_ann_ivf_topk")
def v_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF scale path: deterministic spherical k-means cells, probe the 6
    nearest of 16 cells (~37% of data scanned at uniform cell sizes).
    Recall vs the exact ranking is asserted in tests/test_vector.py."""
    from mie_spark.operators.vector import ann_topk_ivf

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") != 0)
    top = ann_topk_ivf(emb, "embedding", _query_vec(spark, sf_dir), k=10)
    return top.select("vec_id", "label", F.round("sim", 6).alias("sim"))


def _ivf_cells_oracle() -> str:
    """v_ann_ivf_topk's cell-assignment stage as SQL (VERDICT r9 #4 —
    the v_lsh_buckets pattern applied to IVF): the spherical-k-means
    training is a pure function of the corpus (init = embeddings of
    the 16 smallest ids, 2 Lloyd iterations, centroid = mean of member
    UNIT vectors), so DuckDB replays it with two unrolled CTE rounds
    and re-derives every vector's cell plus the 6-cell probe set.

    Stability: every discrete decision is an argmax whose top-1/top-2
    gap was measured at 1.1e-5..7.3e-4 per Lloyd round (sf0.01 and
    sf0.1; probe boundary 6.1e-4) — >= 8 orders above the engines'
    float-fold divergence on 64-term unit dots (~1e-15), the same
    margin doctrine as the SRP/LSH sign oracles. Ties break to the
    lowest cell on both sides (np.argmax takes the first maximum;
    ORDER BY sim DESC, cell)."""
    unit = (
        "list_transform({v}, x -> x / "
        "sqrt(list_dot_product({v}, {v})))"
    )

    def assign(cent_u: str, out: str) -> str:
        return f"""
    {out} AS (
      SELECT vec_id, u, cell FROM (
        SELECT emb.vec_id, emb.u, c.cell,
               row_number() OVER (
                 PARTITION BY emb.vec_id
                 ORDER BY list_dot_product(emb.u, c.cu) DESC, c.cell
               ) AS rn
        FROM emb CROSS JOIN {cent_u} c
      ) WHERE rn = 1
    )"""

    def recompute(prev_c: str, asg: str, out: str) -> str:
        # centroid = mean of member unit vectors; cells that lose all
        # members keep their previous centroid (the Spark trainer only
        # updates cells present in the partial sums)
        return f"""
    {out} AS (
      SELECT p.cell, coalesce(l.c, p.c) AS c
      FROM {prev_c} p LEFT JOIN (
        SELECT cell, list(m ORDER BY pos) AS c FROM (
          SELECT cell, pos, sum(val) / count(*) AS m FROM (
            SELECT cell, unnest(u) AS val,
                   generate_subscripts(u, 1) AS pos
            FROM {asg}
          ) GROUP BY cell, pos
        ) GROUP BY cell
      ) l USING (cell)
    )"""

    e = "embedding::DOUBLE[]"
    return f"""
    WITH emb AS (
      SELECT vec_id, {e} AS raw, {unit.format(v=e)} AS u
      FROM embeddings WHERE vec_id <> 0
    ),
    q AS (
      SELECT {unit.format(v=e)} AS qu
      FROM embeddings WHERE vec_id = 0
    ),
    c0 AS (
      SELECT (row_number() OVER (ORDER BY vec_id)) - 1 AS cell, raw AS c
      FROM (SELECT vec_id, raw FROM emb ORDER BY vec_id LIMIT 16)
    ),
    c0u AS (SELECT cell, {unit.format(v='c')} AS cu FROM c0),
    {assign('c0u', 'a1')},
    {recompute('c0', 'a1', 'c1')},
    c1u AS (SELECT cell, {unit.format(v='c')} AS cu FROM c1),
    {assign('c1u', 'a2')},
    {recompute('c1', 'a2', 'c2')},
    c2u AS (SELECT cell, {unit.format(v='c')} AS cu FROM c2),
    {assign('c2u', 'final')},
    probes AS (
      SELECT cell FROM (
        SELECT c.cell,
               row_number() OVER (
                 ORDER BY list_dot_product(q.qu, c.cu) DESC, c.cell
               ) AS rn
        FROM c2u c CROSS JOIN q
      ) WHERE rn <= 6
    )
    SELECT f.vec_id, f.cell::BIGINT AS cell,
           f.cell IN (SELECT cell FROM probes) AS probed
    FROM final f
    """


@query("v_ivf_cells", oracle=_ivf_cells_oracle())
def v_ivf_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-graded sub-oracle for v_ann_ivf_topk (VERDICT r9 #4): the
    IVF path's APPROXIMATION structure — which cell every vector lands
    in under the deterministically-trained centroids, and which cells
    the query probes — grades exactly, leaving only the exact cosine
    rerank un-hash-graded (and v2_cosine_topk grades that shape on its
    own). Drops the rows-only count to 8.

    Spark side is the exact code path ann_topk_ivf takes
    (train_ivf_centroids → _nearest_centroid → driver probe ranking),
    emitting the assignment instead of filtering by it. Plan: training
    is one shuffle per Lloyd round over (batches × cells) partial rows;
    the graded projection is map-only — scan → Arrow-batched BLAS
    argmax → project, zero shuffles."""
    from mie_spark.operators.vector import (
        _driver_cos,
        _nearest_centroid,
        train_ivf_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") != 0)
    centroids = train_ivf_centroids(emb, "embedding", n_centroids=16)
    qv = _query_vec(spark, sf_dir)
    probe = sorted(
        range(len(centroids)),
        key=lambda i: (-_driver_cos(qv, centroids[i]), i),
    )[:6]
    cell = _nearest_centroid(F.col("embedding"), centroids).cast("long")
    return emb.select("vec_id", cell.alias("cell")).select(
        "vec_id", "cell", F.col("cell").isin(*probe).alias("probed")
    )


# --- V1-analog: product-quantized approximate top-k (no SQL oracle: ANN) -----

@query("v_ann_pq_topk")
def v_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ compressed path: ADC over 16-byte codes (32× smaller than the
    64-dim float vectors) shortlists candidates, exact cosine reranks;
    recall asserted in tests/test_vector.py."""
    from mie_spark.operators.vector import ann_topk_pq

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") != 0)
    top = ann_topk_pq(emb, "embedding", _query_vec(spark, sf_dir), k=10)
    return top.select("vec_id", "label", F.round("sim", 6).alias("sim"))


def _pq_codes_oracle() -> str:
    """v_ann_pq_topk's code-assignment stage as SQL (the v_ivf_cells
    doctrine applied to product quantization): codebook training is a
    pure function of the corpus — sample = the 4096 smallest ids,
    unit-normalized; per subspace j of 16, init = evenly spaced sample
    rows (numpy linspace replicated op-for-op: k * ((n-1)/31.0)
    truncated, endpoint pinned exactly), 4 Lloyd rounds of
    squared-distance argmin + member mean — so DuckDB replays the
    whole thing with unrolled CTEs and re-derives every vector's
    16-byte code word. The j dimension rides as a column, so ONE
    generic CTE chain trains all 16 codebooks at once.

    Stability: min top-1/top-2 argmin gap across all (vector,
    subspace, round) decisions measured 9.5e-9 (sf0.1) / 2.6e-7
    (sf0.01) — ≥6 orders above cross-engine float divergence on
    4-term dots and ≤128-member means (~1e-15). Ties break to the
    lowest code on both sides (np.argmin first minimum; ORDER BY dist,
    code)."""
    unit = (
        "list_transform({v}, x -> x / "
        "sqrt(list_dot_product({v}, {v})))"
    )

    def assign(cent: str, src: str, out: str) -> str:
        # nearest code per (row, subspace): squared distance via the
        # same expansion identity as the numpy encoder
        return f"""
    {out} AS (
      SELECT rid, j, s, code FROM (
        SELECT t.rid, t.j, t.s, c.code,
               row_number() OVER (
                 PARTITION BY t.rid, t.j
                 ORDER BY list_dot_product(t.s, t.s)
                          - 2 * list_dot_product(t.s, c.c)
                          + list_dot_product(c.c, c.c) ASC,
                          c.code ASC
               ) AS rn
        FROM {src} t JOIN {cent} c USING (j)
      ) WHERE rn = 1
    )"""

    def recompute(prev_c: str, asg: str, out: str) -> str:
        return f"""
    {out} AS (
      SELECT p.j, p.code, coalesce(l.c, p.c) AS c
      FROM {prev_c} p LEFT JOIN (
        SELECT j, code, list(m ORDER BY pos) AS c FROM (
          SELECT j, code, pos, sum(val) / count(*) AS m FROM (
            SELECT j, code, unnest(s) AS val,
                   generate_subscripts(s, 1) AS pos
            FROM {asg}
          ) GROUP BY j, code, pos
        ) GROUP BY j, code
      ) l USING (j, code)
    )"""

    e = "embedding::DOUBLE[]"
    chain = [
        f"""
    WITH emb AS (
      SELECT vec_id, {unit.format(v=e)} AS u
      FROM embeddings WHERE vec_id <> 0
    ),
    samp AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS rid, u
      FROM (SELECT vec_id, u FROM emb ORDER BY vec_id LIMIT 4096)
    ),
    nn AS (SELECT count(*) AS n FROM samp),
    subs AS (
      SELECT rid, j, u[j * 4 + 1 : j * 4 + 4] AS s
      FROM samp CROSS JOIN (SELECT unnest(range(0, 16)) AS j)
    ),
    init_idx AS (
      -- numpy linspace(0, n-1, 32).astype(int), op-for-op: the step
      -- (n-1)/31.0 rounds ONCE, each element is k * step truncated,
      -- and the endpoint is pinned exactly (numpy sets y[-1] = stop)
      SELECT k AS code,
             CASE WHEN k = 31 THEN nn.n - 1
                  ELSE trunc(k * ((nn.n - 1) / 31.0))::BIGINT END AS rid
      FROM (SELECT unnest(range(0, 32)) AS k), nn
    ),
    c0 AS (
      SELECT subs.j, i.code, subs.s AS c
      FROM init_idx i JOIN subs USING (rid)
    )"""
    ]
    prev = "c0"
    for it in range(4):
        chain.append("," + assign(prev, "subs", f"a{it}"))
        chain.append("," + recompute(prev, f"a{it}", f"c{it + 1}"))
        prev = f"c{it + 1}"
    chain.append(f""",
    alls AS (
      SELECT vec_id AS rid, j, u[j * 4 + 1 : j * 4 + 4] AS s
      FROM emb CROSS JOIN (SELECT unnest(range(0, 16)) AS j)
    ),
    {assign(prev, "alls", "final").lstrip()}
    SELECT rid AS vec_id, j AS subspace, code FROM final
    """)
    return "".join(chain)


@query("v_pq_codes", oracle=_pq_codes_oracle())
def v_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-graded sub-oracle for v_ann_pq_topk (the v_ivf_cells /
    v_lsh_buckets pattern completing the ANN family): the PQ path's
    COMPRESSED REPRESENTATION — every vector's 16 nearest-codebook-
    entry indexes under the deterministically trained codebooks — is
    what ADC scores, and it grades exactly. With this, every ANN variant's approximation
    structure is driver-hash-graded (LSH signatures, IVF cells, PQ
    codes) and only the recall-graded top-k cuts remain rows-only.

    Spark side is the exact encoder ann_topk_pq uses (_pq_codes_matrix — one BLAS matmul per subspace per Arrow
    batch), long-form (vec_id, subspace, code). Plan: training touches
    one bounded sample collect (size-independent of the table); the
    graded projection is scan → Arrow encode → posexplode, zero
    shuffles."""
    from mie_spark.operators.vector import _pq_code_array, train_pq_codebooks

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") != 0)
    codebooks = train_pq_codebooks(emb, "embedding")
    codes = _pq_code_array(F.col("embedding"), codebooks)
    return emb.select("vec_id", codes.alias("codes")).select(
        "vec_id",
        F.posexplode("codes").alias("subspace", "code"),
    ).select(
        "vec_id",
        F.col("subspace").cast("long").alias("subspace"),
        F.col("code").cast("long").alias("code"),
    )


# --- batch KNN: top-k per query vector (the many-query search shape) ---------

@query(
    "v_batch_knn",
    oracle="""
    WITH q AS (
      SELECT vec_id AS qid, embedding::DOUBLE[] AS qe
      FROM embeddings WHERE vec_id < 5
    ),
    scored AS (
      SELECT q.qid, e.vec_id,
             list_cosine_similarity(e.embedding::DOUBLE[], q.qe) AS sim
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> q.qid
    )
    SELECT qid, vec_id, round(sim, 6) AS sim
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY qid ORDER BY sim DESC, vec_id
      ) AS rn FROM scored
    ) WHERE rn <= 3
    """,
)
def v_batch_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch top-k: every query vector (here vec_id<5; in production the
    day's new documents) against the whole corpus in ONE job — a
    broadcast nested-loop of the small query side against the
    partitioned corpus, then a per-query top-k window. This replaces N
    sequential index probes (the reference's conflict loop shape,
    conflicts.go:73-154) with one distributed pass; at 100 TB the
    corpus never moves and the window's shuffle is |queries|·k rows."""
    from pyspark.sql.window import Window

    from mie_spark.functions.vectors import cosine_sim

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    scored = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            cosine_sim(F.col("embedding"), F.col("qe")).alias("sim"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), "vec_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("qid", "vec_id", F.round("sim", 6).alias("sim"))
    )


# v_embed_corpus upgrade (r7): the mock provider is pure djb2 over
# unicode codepoints — DuckDB can recompute it bit-for-bit (HUGEINT
# mod-2^64 fold; component/normalize arithmetic replayed in Python's
# exact evaluation order so every double is IEEE-identical), so the
# embed job grades by hash instead of rows-only. Corpus is ASCII;
# DuckDB's string_split(text, '') is per-codepoint there, matching
# Python's str iteration. The l2_norm is recomputed from the
# NORMALIZED vector exactly as the Spark side does (left fold from
# 0.0), not assumed 1.0.
_M64 = "18446744073709551616::HUGEINT"

_EMBED_ORACLE = f"""
WITH h AS (
  SELECT doc_id,
         list_reduce(
           list_prepend(5381::HUGEINT,
             list_transform(string_split(text, ''), c -> unicode(c)::HUGEINT)),
           (a, b) -> (a * 33 + b) % {_M64}
         ) AS hv
  FROM documents
), raw AS (
  SELECT doc_id,
         [ (((hv + i * 7919) % {_M64}) % 10000)::DOUBLE / 10000.0 * 2.0 - 1.0
           FOR i IN range(0, 8) ] AS v
  FROM h
), nrm AS (
  SELECT doc_id, v,
         sqrt(list_reduce(list_prepend(0.0, list_transform(v, x -> x * x)),
                          (a, b) -> a + b)) AS n0
  FROM raw
), u AS (
  SELECT doc_id, list_transform(v, x -> x / n0) AS uv FROM nrm
)
SELECT doc_id, 8::INT AS dim,
       round(sqrt(list_reduce(list_prepend(0.0, list_transform(uv, x -> x * x)),
                              (a, b) -> a + b)), 6) AS l2_norm,
       round(uv[1], 6) AS c0
FROM u
"""


@query("v_embed_corpus", oracle=_EMBED_ORACLE)
def v_embed_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch embedding generation over the documents corpus (reference
    V5 at pipeline scale, embedding.go:572-613): the provider runs
    inside an Arrow-batched pandas UDF, one batch per call — swap the
    deterministic mock for an HTTP/ONNX provider and the plan is the
    production embed job. Hash-graded since r7: the djb2 mock is a
    pure function of the text, so the oracle replays it (mod-2^64
    HUGEINT fold + the exact normalize order) and every emitted value
    compares exactly; determinism and unit-norm stay pinned in tests.
    Returns the vector dimension, norm, and first component per doc,
    not the raw vectors, to keep the driver's hash small and schema
    stable."""
    from pyspark.sql.functions import pandas_udf

    from mie_spark.embedding import make_worker_embed

    # make_worker_embed returns a CLOSURE, which cloudpickle ships by
    # value into the UDF — the grading driver's workers don't have
    # mie_spark on PYTHONPATH, so a module-level function (pickled as
    # an import reference) would fail there. One factory replaces the
    # previous inlined copy of the mock; bit-equality with
    # MockEmbeddingProvider is pinned in tests/test_vector.py.
    # pd is imported at module level so the stringified type hints
    # (from __future__ annotations) resolve at eval-type inference
    one = make_worker_embed(8)

    @pandas_udf("array<double>")
    def embed(texts: pd.Series) -> pd.Series:
        return pd.Series([one(t) for t in texts])

    from mie_spark.operators import ensure_parallelism

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    emb = docs.select("doc_id", embed(F.col("text")).alias("emb"))
    norm = F.sqrt(
        F.aggregate("emb", F.lit(0.0), lambda acc, x: acc + x * x)
    )
    # c0 exposes actual vector content so the inline mock can't drift
    # from mie_spark.embedding unnoticed (dim/norm alone wouldn't)
    return emb.select(
        "doc_id",
        F.size("emb").alias("dim"),
        F.round(norm, 6).alias("l2_norm"),
        F.round(F.element_at("emb", 1), 6).alias("c0"),
    )


@query(
    "v_mmr_pool",
    oracle="""
    WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
    top AS (
      -- rank on the UNROUNDED similarity like the Spark heap (see the
      -- v2_cosine_topk oracle note on rounded-alias tie hazards)
      SELECT vec_id, label,
             row_number() OVER (
               ORDER BY list_cosine_similarity(embedding::DOUBLE[], qe) DESC,
                        vec_id) AS pool_rank,
             round(list_cosine_similarity(embedding::DOUBLE[], qe), 6) AS sim
      FROM embeddings, q WHERE vec_id <> 0
    )
    SELECT vec_id, label, pool_rank, sim FROM top WHERE pool_rank <= 50
    """,
)
def v_mmr_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-graded sub-oracle for v_mmr_topk's DISTRIBUTED stage: the
    exact top-50 cosine candidate pool (sim desc, vec_id tie-break)
    that the bounded greedy MMR recurrence consumes. The greedy
    selection itself is not SQL-expressible and stays digest-pinned;
    grading the pool exactly means the only un-oracled surface left is
    the ≤1024-row driver recurrence. Same no-shuffle heap plan as
    v2_cosine_topk; the pool_rank window runs over 50 collected-side
    rows, not the corpus."""
    from pyspark.sql.window import Window

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") != 0)
    top = cosine_topk(emb, "embedding", _query_vec(spark, sf_dir), k=50)
    w = Window.orderBy(F.col("sim").desc(), "vec_id")
    return top.select(
        "vec_id",
        "label",
        F.row_number().over(w).cast("long").alias("pool_rank"),
        F.round("sim", 6).alias("sim"),
    )


@query(
    "v_mmr_topk",
    oracle="""
    WITH RECURSIVE q AS (
      SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
    pool AS (
      SELECT vec_id, label,
             list_cosine_similarity(embedding::DOUBLE[], qe) AS rel,
             embedding::DOUBLE[] AS x
      FROM embeddings, q WHERE vec_id <> 0
      QUALIFY row_number() OVER (
        ORDER BY list_cosine_similarity(embedding::DOUBLE[], qe) DESC,
                 vec_id) <= 50
    ),
    pairs AS (
      SELECT a.vec_id AS i, b.vec_id AS j,
             list_cosine_similarity(a.x, b.x) AS s
      FROM pool a, pool b WHERE a.vec_id <> b.vec_id
    ),
    -- greedy recurrence: step 1 takes argmax(rel); every later step
    -- takes argmax over the remainder of lam*rel - (1-lam)*max_sim to
    -- the chosen set, carried as a growing id list. (1.0 - 0.7) is
    -- spelled as the SUBTRACTION, not 0.3: the Spark kernel computes
    -- the IEEE double 1.0-0.7 = 0.30000000000000004 and the scores
    -- must use the identical coefficient.
    sel AS (
      SELECT 1 AS rank,
             (SELECT vec_id FROM pool ORDER BY rel DESC, vec_id LIMIT 1)
               AS picked,
             (SELECT rel FROM pool ORDER BY rel DESC, vec_id LIMIT 1)
               AS score,
             [(SELECT vec_id FROM pool ORDER BY rel DESC, vec_id LIMIT 1)]
               AS chosen
      UNION ALL
      SELECT s.rank + 1, nx.vec_id, nx.sc, list_append(s.chosen, nx.vec_id)
      FROM sel s, LATERAL (
         SELECT p.vec_id,
                0.7 * p.rel - (1.0 - 0.7) * (
                  SELECT max(pr2.s) FROM pairs pr2
                  WHERE pr2.i = p.vec_id
                    AND list_contains(s.chosen, pr2.j)) AS sc
         FROM pool p
         WHERE NOT list_contains(s.chosen, p.vec_id)
         -- tie-break mirrors the kernel: numpy argmax takes the FIRST
         -- max in (rel desc, id asc) candidate order
         ORDER BY sc DESC, p.rel DESC, p.vec_id LIMIT 1) nx
      WHERE s.rank < 10
    )
    SELECT s.picked AS vec_id, p.label, s.rank::BIGINT AS rank,
           round(p.rel, 6) AS rel, round(s.score, 6) AS mmr
    FROM sel s JOIN pool p ON p.vec_id = s.picked
    """,
)
def v_mmr_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversified retrieval: exact top-50 cosine candidate pool
    (distributed, no shuffle) re-ranked by greedy Maximal Marginal
    Relevance (lam=0.7) down to 10 — the result-set diversification
    pass RAG stacks run after ANN.

    Hash-graded since r10: greedy MMR is a sequential k-step recurrence
    (each pick changes every remaining score), but k and pool are
    bounded, so the oracle replays the WHOLE recurrence with a
    recursive CTE (the ev_forecast_holt doctrine) — chosen set carried
    as a growing list, each step's argmax as a correlated LATERAL
    top-1. Cross-engine exactness is a margin argument like
    v_ivf_cells/v_pq_codes: the engines compute cosine in different
    fold orders (~1e-16 divergence), and the measured min decision gap
    between the chosen and runner-up candidate across every step is
    5.9e-4 / 7.5e-4 / 9.5e-4 at sf0.01/0.001/0.1 — ≥11 orders above
    float noise (DRIVE_r10.md). The independent numpy recomputation
    and full-output digest stay pinned in pytest
    (tests/test_vector.py, tests/test_rows_only_digests.py)."""
    from mie_spark.operators.vector import mmr_rerank

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") != 0)
    return mmr_rerank(
        emb, "embedding", _query_vec(spark, sf_dir), k=10, pool=50, lam=0.7
    )


@query(
    "v_quantize_int8",
    oracle="""
    WITH xs AS (
      SELECT vec_id, embedding::DOUBLE[] AS x,
             list_max(list_transform(embedding::DOUBLE[], v -> abs(v))) AS amax
      FROM embeddings
    ),
    q AS (
      SELECT vec_id, x, amax, amax / 127.0 AS scale,
             CASE WHEN amax > 0
                  THEN list_transform(x, v -> CAST(round(v / (amax / 127.0))
                                                   AS BIGINT))
                  ELSE list_transform(x, v -> CAST(0 AS BIGINT)) END AS qv
      FROM xs
    )
    SELECT vec_id,
           round(scale, 9) AS scale,
           list_sum(qv)::BIGINT AS q_sum,
           list_sum(list_transform(qv, v -> abs(v)))::BIGINT AS q_l1,
           -- list_reduce over a prepended 0.0, NOT list_sum: the float
           -- error sum must fold left-to-right exactly like Spark's
           -- F.aggregate — list_sum's accumulation order differs
           -- enough to flip round(..., 6) on real data (caught at
           -- sf0.1). Integer sums above are order-safe.
           round(CASE WHEN amax > 0 THEN sqrt(
             list_reduce(
               list_prepend(0.0, list_transform(range(1, len(x) + 1),
                 i -> (x[i] - qv[i] * scale) * (x[i] - qv[i] * scale))),
               (acc, v) -> acc + v)
             / len(x)) ELSE 0.0 END, 6) AS rmse
    FROM q
    """,
)
def v_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column — the 4×
    storage/bandwidth compression every 100 TB vector corpus ships with
    (scale = max|x|/127 per vector, q = round(x/scale)) — plus the
    reconstruction-error report (per-vector RMSE) that decides whether
    the compressed index is servable.

    Exactness: the quantized codes are integers computed by identical
    IEEE divide+round on both engines, so q_sum / q_l1 are graded as
    exact BIGINTs; scale and RMSE are element-ordered float folds over
    identical operands, rounded. Plan: pure per-row array expressions —
    map-only, no shuffle, fuses into the scan. The dequantized probe
    side (q*scale) is what an ADC search would use; PQ (v_ann_pq_topk)
    is the heavier-compression sibling."""
    emb = load_table(spark, sf_dir, "embeddings")
    x = F.transform(F.col("embedding"), lambda v: v.cast("double"))
    xs = emb.select("vec_id", x.alias("x")).withColumn(
        "amax", F.array_max(F.transform(F.col("x"), lambda v: F.abs(v)))
    )
    scale = F.col("amax") / F.lit(127.0)
    qv = F.when(
        F.col("amax") > 0,
        F.transform(F.col("x"), lambda v: F.round(v / scale).cast("long")),
    ).otherwise(F.transform(F.col("x"), lambda v: F.lit(0).cast("long")))
    # the internal full-precision column is "_scale", NOT "scale": the
    # final select emits a ROUNDED column aliased "scale", and when
    # Catalyst collapses the projections a same-named reference inside
    # the rmse expression resolves to the rounded output — silently
    # computing every error term against the display value (caught as
    # an sf0.1 oracle mismatch in the 7th significant digit)
    q = xs.select("vec_id", "x", "amax", scale.alias("_scale"), qv.alias("qv"))
    err_sq = F.zip_with(
        F.col("x"),
        F.col("qv"),
        lambda xv, qv_: (xv - qv_ * F.col("_scale"))
        * (xv - qv_ * F.col("_scale")),
    )
    rmse = F.when(
        F.col("amax") > 0,
        F.sqrt(
            F.aggregate(err_sq, F.lit(0.0), lambda acc, v: acc + v)
            / F.size("x")
        ),
    ).otherwise(F.lit(0.0))
    return q.select(
        "vec_id",
        F.round("_scale", 9).alias("scale"),
        F.aggregate("qv", F.lit(0).cast("long"), lambda acc, v: acc + v).alias(
            "q_sum"
        ),
        F.aggregate(
            F.transform(F.col("qv"), lambda v: F.abs(v)),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ).alias("q_l1"),
        F.round(rmse, 6).alias("rmse"),
    )


# --- filtered vector search (pre-filter, k-within-the-filter) ---------------

@query(
    "v_filtered_topk",
    oracle="""
    WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
    top AS (
      SELECT vec_id, label,
             round(list_cosine_similarity(embedding::DOUBLE[], qe), 6) AS sim
      FROM embeddings, q
      WHERE vec_id <> 0 AND label IN (1, 3, 7)
      ORDER BY list_cosine_similarity(embedding::DOUBLE[], qe) DESC, vec_id
      LIMIT 10
    )
    SELECT vec_id, label, sim FROM top
    """,
)
def v_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered vector search, PRE-filter semantics: the metadata
    predicate (label IN ...) restricts the candidate set BEFORE the
    rank, so k means k results satisfying the filter — the semantics
    vector stores call filtered search, and the complement of
    v_knn_join_nodes' post-filter shape (top-k first, predicate after,
    possibly fewer than k survivors). In Spark the compose is free:
    the filter fuses into the embedding scan (pushed to parquet when
    label is a scan column) and the exact top-k heap runs on the
    pruned stream — same no-shuffle TakeOrderedAndProject plan as
    v2_cosine_topk."""
    emb = load_table(spark, sf_dir, "embeddings").filter(
        (F.col("vec_id") != 0) & F.col("label").isin(1, 3, 7)
    )
    top = cosine_topk(emb, "embedding", _query_vec(spark, sf_dir), k=10)
    return top.select("vec_id", "label", F.round("sim", 6).alias("sim"))


# --- label-noise audit: per-label centroid outliers -------------------------

@query(
    "v_centroid_outliers",
    oracle="""
    WITH pos AS (SELECT unnest(range(1, 65)) AS p),
    ex AS (
      SELECT e.vec_id, e.label, pos.p,
             CAST(round(CAST(e.embedding[pos.p] AS DOUBLE) * 1000000) AS BIGINT)
               AS q
      FROM embeddings e CROSS JOIN pos
    ),
    cent AS (
      SELECT label, p, (sum(q)::BIGINT // count(*)::BIGINT) AS c
      FROM ex GROUP BY label, p
    ),
    dist AS (
      SELECT ex.vec_id, ex.label,
             sum((ex.q - cent.c) * (ex.q - cent.c))::BIGINT AS dist2
      FROM ex JOIN cent ON ex.label = cent.label AND ex.p = cent.p
      GROUP BY ex.vec_id, ex.label
    ),
    ranked AS (
      SELECT label, vec_id, dist2,
             row_number() OVER (PARTITION BY label
                                ORDER BY dist2 DESC, vec_id) AS rn
      FROM dist
    )
    SELECT label, vec_id, dist2 FROM ranked WHERE rn <= 3
    """,
)
def v_centroid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-noise audit for embedding corpora: the 3 vectors farthest
    from their label's centroid, per label — the standard first pass
    for finding mislabeled / polluted training examples. Everything is
    INTEGER: coordinates quantize once to micro-units (round() is
    half-away-from-zero on both engines — the v_quantize_int8
    precedent), the centroid is the truncating integer mean (both
    engines' integer division truncates toward zero), and dist2 is an
    exact BIGINT sum of squares — no float fold anywhere, so the
    ranking can never straddle a cross-engine boundary.

    Plan: posexplode feeds BOTH the (label, pos) centroid aggregate
    (collapses map-side to |labels| x 64 rows) and the per-vector
    distance join (centroids broadcast); the dist aggregate combines
    fully map-side because exploded rows of one vector stay in its
    partition. The top-3 window runs over |vectors| compact rows
    partitioned by label. At 100 TB: two scans of the embedding
    column, one |rows|-sized shuffle, one |labels|-row broadcast."""
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("p", "val"),
    ).select(
        "vec_id",
        "label",
        (F.col("p") + 1).alias("p"),
        # cast BEFORE the multiply: float32 * int would round in single
        # precision and drift from the oracle's double product
        F.round(F.col("val").cast("double") * 1_000_000).cast("long").alias("q"),
    )
    cent = ex.groupBy("label", "p").agg(
        F.expr("sum(q) div count(1)").alias("c")
    )
    dist = (
        ex.join(
            F.broadcast(cent.withColumnsRenamed({"label": "cl", "p": "cp"})),
            (F.col("label") == F.col("cl")) & (F.col("p") == F.col("cp")),
        )
        .groupBy("vec_id", "label")
        .agg(
            F.sum((F.col("q") - F.col("c")) * (F.col("q") - F.col("c"))).alias(
                "dist2"
            )
        )
    )
    w = Window.partitionBy("label").orderBy(F.col("dist2").desc(), "vec_id")
    return (
        dist.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("label", "vec_id", "dist2")
    )


# DuckDB-side explicit left-fold helpers: identical accumulation order
# to the Spark expressions in mie_spark/functions/vectors.py (dot /
# l2_norm fold left with a 0.0 seed), so float results match bit-for-bit
# instead of relying on list_cosine_similarity's internal order.
def _fold_dot(a: str, b: str, n: str) -> str:
    return (
        f"list_reduce(list_prepend(0.0, list_transform(range(1, {n} + 1), "
        f"i -> {a}[i] * {b}[i])), (a, b) -> a + b)"
    )


def _fold_cos(a: str, b: str, n: str) -> str:
    return (
        f"({_fold_dot(a, b, n)} / "
        f"(sqrt({_fold_dot(a, a, n)}) * sqrt({_fold_dot(b, b, n)})))"
    )


def _pack_word_sql(vec: str, off: int) -> str:
    return (
        f"list_reduce(list_prepend(0::BIGINT, list_transform(range(1, 33), "
        f"i -> CASE WHEN {vec}[{off} + i] > 0 THEN (1::BIGINT << (i - 1)) "
        f"ELSE 0::BIGINT END)), (a, b) -> a | b)"
    )


@query(
    "v_hamming_topk",
    oracle=f"""
    WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
    base AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS x
      FROM embeddings WHERE vec_id <> 0
    ),
    pk AS (
      SELECT vec_id, label, x,
             {_pack_word_sql('x', 0)} AS w0,
             {_pack_word_sql('x', 32)} AS w1
      FROM base
    ),
    qpk AS (
      SELECT {_pack_word_sql('qe', 0)} AS qw0,
             {_pack_word_sql('qe', 32)} AS qw1
      FROM q
    ),
    cand AS (
      SELECT vec_id, label, x,
             (bit_count(xor(w0, qw0)) + bit_count(xor(w1, qw1)))::BIGINT AS hamming
      FROM pk, qpk
      ORDER BY hamming, vec_id
      LIMIT 100
    ),
    scored AS (
      SELECT vec_id, label, hamming, {_fold_cos('x', 'qe', 'len(x)')} AS s
      FROM cand, q
    )
    SELECT vec_id, label, hamming, round(s, 6) AS sim
    FROM scored ORDER BY s DESC, vec_id LIMIT 10
    """,
)
def v_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantization retrieval: 1-bit sign codes packed into two
    32-bit words (binary_quantize), Hamming-distance candidate scan
    (xor + popcount — the 32x-compressed first pass a 100 TB vector
    store actually scans), exact cosine rerank of the top-100 down to
    10. Every stage is integer-or-identical-float exact, so the whole
    two-stage pipeline hash-grades — unlike LSH/IVF whose bucketing is
    pinned by recall floors instead. Plan: map-only pack+xor fused into
    the scan, TakeOrderedAndProject candidate heap (no shuffle),
    100-row exact rerank. Deterministic ties: (hamming, id) then
    (cosine desc, id)."""
    from mie_spark.operators.vector import hamming_topk

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") != 0)
    top = hamming_topk(
        emb, "embedding", _query_vec(spark, sf_dir), k=10, candidates=100
    )
    return top.select(
        "vec_id", "label", "hamming", F.round("sim", 6).alias("sim")
    )


@query(
    "v_matryoshka_topk",
    oracle=f"""
    WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
    base AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS x
      FROM embeddings WHERE vec_id <> 0
    ),
    scored AS (
      SELECT vec_id, label,
             {_fold_cos('x', 'qe', '16')} AS s16,
             {_fold_cos('x', 'qe', 'len(x)')} AS sfull
      FROM base, q
    )
    SELECT vec_id, label, round(s16, 6) AS sim_trunc, round(sfull, 6) AS sim_full
    FROM scored ORDER BY s16 DESC, vec_id LIMIT 10
    """,
)
def v_matryoshka_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka (MRL) retrieval: rank on the first 16 of 64
    dimensions — the truncate-and-renormalize trick nested-dimension
    embedding models are trained for, which cuts first-pass scan
    bandwidth 4x at 100 TB — and report the full-dimension similarity
    alongside so the rank drift is visible. Cosine over the prefix IS
    the renormalized form (both norms are prefix norms). Exactness:
    identical left-fold float ops on both engines (explicit list_reduce
    oracle, not list_cosine_similarity). Plan: map-only slice+fold
    fused into the scan, TakeOrderedAndProject — no shuffle."""
    from mie_spark.functions.vectors import cosine_sim

    qv = _query_vec(spark, sf_dir)
    trunc = 16
    q16 = F.array(*[F.lit(float(x)) for x in qv[:trunc]])
    qfull = F.array(*[F.lit(float(x)) for x in qv])
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") != 0)
    scored = emb.select(
        "vec_id",
        "label",
        cosine_sim(F.slice(F.col("embedding"), 1, trunc), q16).alias("_s16"),
        cosine_sim(F.col("embedding"), qfull).alias("_sfull"),
    )
    return (
        scored.orderBy(F.col("_s16").desc(), "vec_id")
        .limit(10)
        .select(
            "vec_id",
            "label",
            F.round("_s16", 6).alias("sim_trunc"),
            F.round("_sfull", 6).alias("sim_full"),
        )
    )


@query(
    "v_kcenter_coreset",
    oracle="""
    WITH RECURSIVE e AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS x
      FROM embeddings WHERE vec_id <> 0
    ),
    -- squared L2 as the SAME left fold Spark's F.aggregate performs
    -- (0.0 seed, element order) so the doubles are bit-identical on
    -- both engines and every argmax/min decision is exact — no margin
    -- argument needed (contrast v_mmr_topk's cosine folds)
    sel(rank, picked, dist, chosen) AS (
      -- 0.0 must be cast: a bare 0.0 types the recursion column
      -- DECIMAL(2,1) and every later distance would round to one place
      SELECT 1, (SELECT min(vec_id) FROM e), 0.0::DOUBLE,
             [(SELECT min(vec_id) FROM e)]
      UNION ALL
      SELECT s.rank + 1, nx.vec_id, nx.d, list_append(s.chosen, nx.vec_id)
      FROM sel s, LATERAL (
        SELECT p.vec_id,
               (SELECT min(list_reduce(
                  list_prepend(0.0, list_transform(
                    range(1, len(p.x) + 1),
                    i -> (p.x[i] - c.x[i]) * (p.x[i] - c.x[i]))),
                  (acc, v) -> acc + v))
                FROM e c WHERE list_contains(s.chosen, c.vec_id)) AS d
        FROM e p
        WHERE NOT list_contains(s.chosen, p.vec_id)
        ORDER BY d DESC, p.vec_id LIMIT 1) nx
      WHERE s.rank < 10
    )
    SELECT s.rank::BIGINT AS rank, s.picked AS vec_id, e.label,
           round(s.dist, 6) AS dist
    FROM sel s JOIN e ON e.vec_id = s.picked
    """,
)
def v_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset selection (farthest-point traversal,
    k=10): iteratively pick the vector farthest from every center
    chosen so far — the diversity-sampling / active-learning /
    codebook-seeding pass of a training-data pipeline (the 2-approx
    k-center classic; also kmeans++'s deterministic cousin). `dist` is
    the squared-L2 coverage radius at selection time: the sequence is
    non-increasing, and dist[k] bounds how far ANY corpus point is
    from its nearest center after k picks.

    Spark shape: the min-distance column is maintained INCREMENTALLY —
    each round one map-only pass updates mind = least(mind, sqdist(x,
    new_center)) and one TakeOrdered(1) picks the argmax (ties by
    vec_id), so k centers cost k linear passes with only k*d doubles
    ever reaching the driver. At 100 TB that is exactly the deployed
    form (GraphScope/FAISS-style farthest-point), and localCheckpoint
    truncates the growing least() lineage every few rounds.

    Exactness: squared L2 is computed as the IDENTICAL left fold on
    both engines (F.aggregate from 0.0 in element order == DuckDB
    list_reduce over list_prepend(0.0, ...)), so the recursive-CTE
    oracle's every decision is bit-for-bit the Spark decision —
    fully exact, no margin argument."""
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") != 0
    )
    e = emb.select(
        "vec_id",
        "label",
        F.transform(F.col("embedding"), lambda v: v.cast("double")).alias(
            "x"
        ),
    )

    def sqdist_to(center: list[float]):
        c = F.array(*[F.lit(float(v)) for v in center])
        return F.aggregate(
            F.zip_with(F.col("x"), c, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    seed = (
        e.orderBy("vec_id")
        .select("vec_id", "label", "x")
        .first()
    )
    out = [(1, seed["vec_id"], seed["label"], 0.0)]
    chosen_ids = {seed["vec_id"]}
    cur = e.withColumn("mind", sqdist_to(list(seed["x"])))
    for rank in range(2, 11):
        far = (
            cur.filter(~F.col("vec_id").isin(*chosen_ids))
            .orderBy(F.col("mind").desc(), "vec_id")
            .first()
        )
        out.append((rank, far["vec_id"], far["label"], float(far["mind"])))
        chosen_ids.add(far["vec_id"])
        cur = cur.withColumn(
            "mind", F.least(F.col("mind"), sqdist_to(list(far["x"])))
        )
        if rank % 4 == 0:
            # bound the least()-chain lineage the same way the pregel
            # loops do (SCALE.md localCheckpoint doctrine)
            cur = cur.localCheckpoint(eager=False)
    id_t = e.schema["vec_id"].dataType.simpleString()
    lab_t = e.schema["label"].dataType.simpleString()
    res = spark.createDataFrame(
        out, f"rank long, vec_id {id_t}, label {lab_t}, dist double"
    )
    # Round via the ENGINE (Spark F.round = HALF_UP), not Python round()
    # (half-even): squared-L2 of float embeddings lands on exact dyadic
    # midpoints (e.g. 0.0078125), where half-even rounds DOWN while
    # DuckDB's round() goes half-away-from-zero (ADVICE r10). For
    # non-negative dist HALF_UP == half-away, so both engines agree.
    return res.withColumn("dist", F.round("dist", 6))


# --- embedding-version drift gate (r13) --------------------------------------

_EMBED_DRIFT_ORACLE = """
WITH raw AS (
  SELECT vec_id, embedding::DOUBLE[] AS ef,
         (embedding::DOUBLE[])[1:16] AS et
  FROM embeddings
),
nrm AS (
  SELECT vec_id, ef, et,
         sqrt(list_reduce(list_prepend(0.0, list_transform(ef, x -> x*x)),
                          (a,b) -> a + b)) AS na,
         sqrt(list_reduce(list_prepend(0.0, list_transform(et, x -> x*x)),
                          (a,b) -> a + b)) AS nb
  FROM raw
),
base AS MATERIALIZED (
  SELECT vec_id,
         list_transform(ef, x -> round(x / na * 1048576.0)::BIGINT) AS qa,
         list_transform(et, x -> round(x / nb * 1048576.0)::BIGINT) AS qb
  FROM nrm WHERE na > 0 AND nb > 0
),
q AS MATERIALIZED (
  SELECT vec_id AS qid, qa AS qqa, qb AS qqb FROM base WHERE vec_id % 29 = 0
),
scored AS MATERIALIZED (
  SELECT b.vec_id, q.qid,
         list_reduce(list_prepend(0::BIGINT,
           [b.qa[i] * q.qqa[i] FOR i IN range(1, 65)]), (a,b) -> a + b) AS da,
         list_reduce(list_prepend(0::BIGINT,
           [b.qb[i] * q.qqb[i] FOR i IN range(1, 17)]), (a,b) -> a + b) AS db
  FROM base b CROSS JOIN q WHERE b.vec_id <> q.qid
),
ranked AS (
  SELECT qid, vec_id,
         row_number() OVER (PARTITION BY qid ORDER BY da DESC, vec_id) AS ra,
         row_number() OVER (PARTITION BY qid ORDER BY db DESC, vec_id) AS rb
  FROM scored
),
perq AS (
  SELECT qid,
         sum(CASE WHEN ra <= 10 AND rb <= 10 THEN 1 ELSE 0 END)::BIGINT
           AS overlap10
  FROM ranked GROUP BY qid
),
j AS (
  SELECT qid, overlap10,
         ((2 * overlap10 * 1000000 + (20 - overlap10))
            // (2 * (20 - overlap10)))::BIGINT AS jaccard_ppm
  FROM perq
)
SELECT qid, overlap10, jaccard_ppm,
       ((2 * sum(jaccard_ppm) OVER () + count(*) OVER ())
          // (2 * count(*) OVER ()))::BIGINT AS corpus_jaccard_ppm,
       ((2 * sum(jaccard_ppm) OVER () + count(*) OVER ())
          // (2 * count(*) OVER ())) < 600000 AS drift
FROM j
"""


@query("v_embed_drift", oracle=_EMBED_DRIFT_ORACLE)
def v_embed_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-version drift gate (VERDICT r12 item #6): before
    swapping the embedding model under a live ANN corpus, measure how
    much the neighborhood structure moves. The reference's only answer
    is a schema-level dim-per-provider switch (schema.go:18,34-37) —
    re-embed everything and hope; this gate quantifies the upgrade
    risk first. Candidate model here = the 16-dim MRL truncation of
    the current 64-dim vectors (the standard cheap-candidate shape;
    any second embedding column drops in). For each probe query
    (pmod(vec_id, 29) = 0 — a deterministic ~3% panel), the exact
    top-10 neighbor sets under both models are compared by Jaccard;
    the corpus verdict is the half-up mean in integer ppm with a
    60% pass threshold. On this corpus the gate FAILS the candidate
    decisively (mean overlap ~8.6%, 85665 ppm vs 600000) — random
    vectors have no MRL nesting structure, which is precisely the
    failure a pre-deployment gate must catch.

    EXACT END TO END, so fully hash-graded: both models' vectors are
    unit-normalized in double (left fold from 0.0, IEEE-identical in
    both engines — the v_embed_corpus precedent) and quantized to the
    integer 2^-20 grid (x/n * 2^20 is exact scaling; round is HALF_UP
    on the same double in both engines), so similarity ranking is an
    exact BIGINT dot product (|q_i| <= 2^20 -> products <= 2^40, 64
    terms <= 2^46) with vec_id tie-break — no float-ulp rank risk at
    the k boundary, unlike ranking on float cosine. Jaccard and the
    ppm verdict are pure integer arithmetic (half-up int_div).

    Plan shape: ONE corpus scan computes both quantized models; the
    ~3% probe panel broadcasts back against it (corpus never moves —
    the v_batch_knn shape); the two top-k windows partition by qid;
    the corpus rollup is one global window over the <= |panel| rows
    (registered bounded exception). At 100 TB the exact scoring pass
    swaps for an ANN probe (hnsw_topk / ann_topk_*) with the same
    overlap arithmetic — the gate's cost is then |panel| index
    probes, not a corpus scan."""
    from mie_spark.functions.numeric import int_div

    emb = load_table(spark, sf_dir, "embeddings")
    full = F.transform("embedding", lambda x: x.cast("double"))
    trunc = F.slice(full, 1, 16)

    def _quant(arr):
        n = F.sqrt(F.aggregate(arr, F.lit(0.0), lambda a, x: a + x * x))
        return n, F.transform(
            arr, lambda x: F.round(x / n * F.lit(1048576.0), 0).cast("long")
        )

    na, qa = _quant(full)
    nb, qb = _quant(trunc)
    base = (
        emb.select("vec_id", na.alias("na"), nb.alias("nb"),
                   qa.alias("qa"), qb.alias("qb"))
        .filter((F.col("na") > 0) & (F.col("nb") > 0))
        .select("vec_id", "qa", "qb")
    )
    panel = base.filter(F.pmod("vec_id", F.lit(29)) == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("qa").alias("qqa"),
        F.col("qb").alias("qqb"),
    )

    def _idot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    scored = (
        base.crossJoin(F.broadcast(panel))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            _idot(F.col("qa"), F.col("qqa")).alias("da"),
            _idot(F.col("qb"), F.col("qqb")).alias("db"),
        )
    )
    wa = Window.partitionBy("qid").orderBy(F.col("da").desc(), "vec_id")
    wb = Window.partitionBy("qid").orderBy(F.col("db").desc(), "vec_id")
    ranked = scored.select(
        "qid",
        F.row_number().over(wa).alias("ra"),
        F.row_number().over(wb).alias("rb"),
    )
    perq = ranked.groupBy("qid").agg(
        F.sum(
            ((F.col("ra") <= 10) & (F.col("rb") <= 10)).cast("int")
        ).cast("long").alias("overlap10")
    )
    union10 = F.lit(20) - F.col("overlap10")
    j = perq.select(
        "qid",
        "overlap10",
        int_div(
            F.lit(2) * F.col("overlap10") * F.lit(1_000_000) + union10,
            F.lit(2) * union10,
        ).cast("long").alias("jaccard_ppm"),
    )
    # corpus rollup over the <= |panel| per-query rows (bounded
    # exception, tools_window_audit.py)
    wg = Window.partitionBy()
    corpus = int_div(
        F.lit(2) * F.sum("jaccard_ppm").over(wg) + F.count(F.lit(1)).over(wg),
        F.lit(2) * F.count(F.lit(1)).over(wg),
    ).cast("long")
    return j.select(
        "qid",
        "overlap10",
        "jaccard_ppm",
        corpus.alias("corpus_jaccard_ppm"),
        (corpus < 600000).alias("drift"),
    )
