"""Scan-hygiene and plan-shape regression tests.

These pin the physical properties that decide 100 TB behavior: filters
reaching the parquet scan, column pruning, broadcast joins on dimension
tables, single-shuffle aggregates, and shuffle reuse across window +
aggregate stages. A refactor that silently de-optimizes a plan (e.g.
a UDF blocking pushdown, a lost broadcast hint) fails here long before
a benchmark would catch it.
"""

from __future__ import annotations

from mie_spark.plans import (
    broadcast_join_count,
    exchange_count,
    pushed_filters,
    read_schemas,
    unpartitioned_window_count,
)
from mie_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


def test_projection_prunes_scan(spark):
    """s1 projects 4 columns of part — the scan must read exactly those."""
    df = QUERIES["s1_scan_projection"](spark, SF)
    schemas = read_schemas(df)
    assert len(schemas) == 1
    assert set(schemas[0]) <= {"p_partkey", "p_name", "p_size", "p_retailprice"}


def test_filters_reach_parquet_scan(spark):
    """Substring + equality predicates must appear as PushedFilters, not
    post-scan Filter-only."""
    df = QUERIES["f2_substring_match"](spark, SF)
    assert pushed_filters(df), "no filter pushed to the parquet scan"


def test_dimension_joins_broadcast(spark):
    """j3 joins lineitem to part and supplier — both dimension sides must
    broadcast; the whole plan needs zero shuffles."""
    df = QUERIES["j3_edge_attr_traversal"](spark, SF)
    assert broadcast_join_count(df) >= 2
    assert exchange_count(df) == 0


def test_q1_single_shuffle(spark):
    """Pricing summary is one partial-agg + one exchange + final agg —
    any second shuffle is a regression."""
    df = QUERIES["q1_pricing_summary"](spark, SF)
    assert exchange_count(df) == 1


def test_q5_one_shuffle_rest_broadcast(spark):
    """The 6-way join shuffles the fact chain once; every dimension join
    is broadcast."""
    df = QUERIES["q5_local_supplier_volume"](spark, SF)
    assert exchange_count(df) <= 2
    assert broadcast_join_count(df) >= 3


def test_sessionize_reuses_partitioning(spark):
    """Both window passes and the final aggregate share ONE shuffle on
    user_id — the shuffle-reuse claim in the query's docstring, pinned."""
    df = QUERIES["ev_sessionize"](spark, SF)
    assert exchange_count(df) == 1


def test_topk_has_no_shuffle(spark):
    """orderBy().limit() must compile to TakeOrderedAndProject (per-
    partition heaps + driver merge), never a global sort exchange."""
    df = QUERIES["o3_topk"](spark, SF)
    assert exchange_count(df) == 0


def test_anti_join_pushes_date_filter(spark):
    """j8's orders-side date filter must reach the parquet scan, and the
    orders side must be projected to the key column only."""
    df = QUERIES["j8_anti_join_inactive"](spark, SF)
    assert pushed_filters(df), "date filter not pushed to scan"
    schemas = read_schemas(df)
    assert any(set(s) == {"o_custkey", "o_orderdate"} for s in schemas), schemas


def test_sampling_filter_fuses_into_scan(spark):
    """Stratified sampling is a pure filter: exactly the one aggregate
    exchange, no sampling-induced shuffle, and only the needed columns
    read."""
    df = QUERIES["samp_stratified"](spark, SF)
    assert exchange_count(df) == 1
    schemas = read_schemas(df)
    assert any(set(s) == {"doc_id", "lang"} for s in schemas), schemas


def test_multi_rollup_single_scan_single_shuffle(spark):
    """GROUPING SETS must expand both resolutions from one scan and one
    exchange — two scans would defeat the operator's purpose."""
    df = QUERIES["ev_multi_rollup"](spark, SF)
    assert len(read_schemas(df)) == 1
    assert exchange_count(df) == 1


def test_q2_argmin_broadcasts_dimension(spark):
    """The filtered part dimension must broadcast into the lineitem join;
    the only exchange is the window's partition-by shuffle."""
    df = QUERIES["q2_min_cost_supplier"](spark, SF)
    assert broadcast_join_count(df) >= 1
    assert exchange_count(df) == 1


def test_batch_knn_broadcasts_queries(spark):
    """The query side of batch KNN must broadcast — the corpus side never
    moves before scoring; the window top-k is the only exchange."""
    df = QUERIES["v_batch_knn"](spark, SF)
    assert broadcast_join_count(df) >= 1
    assert exchange_count(df) <= 1


def test_simhash_pairs_no_cartesian(spark):
    """Simhash candidate generation is pigeonhole-banded: the plan may
    contain no all-pairs join node at any input size."""
    from mie_spark.plans import cartesian_product_count

    df = QUERIES["dedup_simhash_pairs"](spark, SF)
    assert cartesian_product_count(df) == 0


def test_bm25_broadcasts_df_no_cartesian(spark):
    """BM25's document-frequency side is a |terms|-row aggregate that
    must broadcast back (never shuffle-join), and nothing in the
    retrieval stack may plan a true all-pairs join. The ONE allowed
    BroadcastNestedLoopJoin is the 1-row corpus-stats (avgdl) scalar
    broadcast — the standard way to attach a scalar aggregate without a
    single-partition shuffle."""
    import re

    from mie_spark.plans import formatted_plan

    df = QUERIES["text_bm25_topk"](spark, SF)
    assert broadcast_join_count(df) >= 1
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    # header lines only — each node also appears in the plan tree
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) <= 1


def test_pack_sequences_single_shuffle(spark):
    """Per-source packing is ONE exchange (the window repartition by
    source); the bin split is scan-fused integer math."""
    df = QUERIES["pipe_pack_sequences"](spark, SF)
    assert exchange_count(df) == 1


def test_temperature_mix_broadcasts_cutoffs(spark):
    """Per-source cutoffs broadcast to the scan; the only shuffles are
    the tiny counts/stats aggregates, and the membership filter itself
    adds none."""
    df = QUERIES["samp_temperature_mix"](spark, SF)
    assert broadcast_join_count(df) >= 1
    assert exchange_count(df) <= 3


def test_shuffle_shards_assignment_is_scan_fused(spark):
    """Shard + key assignment is a pure projection — the aggregate that
    proves membership costs one exchange; the assignment itself none."""
    df = QUERIES["samp_shuffle_shards"](spark, SF)
    assert exchange_count(df) == 1


def test_fixed_k_single_shuffle(spark):
    """fixed_k_per_stratum is one window shuffle on the stratum column;
    the rank filter must not introduce a second exchange."""
    df = QUERIES["samp_fixed_k"](spark, SF)
    assert exchange_count(df) == 1


def test_bpe_train_two_shuffles_topk_fused(spark):
    """Vocab agg + pair agg = exactly two exchanges; the top-20 must ride
    TakeOrderedAndProject on the second agg, not a third sort exchange."""
    df = QUERIES["text_bpe_train"](spark, SF)
    assert exchange_count(df) == 2


def test_concurrency_sweep_line_bounded_shuffles(spark):
    """ev_concurrency's distributed prefix sum: one user_id window
    shuffle, one change-point shuffle, one day-partition window shuffle
    — and the day-level carry must arrive by broadcast, never a global
    ordered window over all change points."""
    df = QUERIES["ev_concurrency"](spark, SF)
    assert exchange_count(df) <= 3
    assert broadcast_join_count(df) >= 1


def test_ewma_joins_on_daily_agg_not_events(spark):
    """ev_ewma's banded self-join runs on the checkpointed daily
    aggregate (broadcast side) — a single shuffle for the daily groupBy
    and no second scan of the corpus."""
    df = QUERIES["ev_ewma"](spark, SF)
    assert exchange_count(df) <= 1
    assert broadcast_join_count(df) == 1


def test_asof_join_is_single_window_pass(spark):
    """ev_asof_join is union-and-sweep: ONE exchange (the window's
    user-key hash partitioning over the unioned sides) and NO join
    operator — a reappearing join node means the quadratic
    equi-join-with-bound formulation crept back."""
    df = QUERIES["ev_asof_join"](spark, SF)
    assert exchange_count(df) == 1
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan


def test_anomaly_zscore_broadcasts_stats(spark):
    """Per-type moments broadcast back against the daily rollup — the
    daily side must not shuffle a second time for the stats join."""
    df = QUERIES["ev_anomaly_zscore"](spark, SF)
    assert broadcast_join_count(df) >= 1


def test_vocab_coverage_broadcasts_vocab(spark):
    """The top-1000 vocabulary joins the token stream as a broadcast:
    the corpus tokens never shuffle for the membership probe."""
    df = QUERIES["text_vocab_coverage"](spark, SF)
    assert broadcast_join_count(df) >= 1


def test_chunk_overlap_no_shuffle(spark):
    """Chunk boundaries depend only on each document's own length — the
    whole plan is a map-only explode fused into the scan."""
    df = QUERIES["pipe_chunk_overlap"](spark, SF)
    assert exchange_count(df) == 0


def test_quantize_int8_no_shuffle(spark):
    """Per-vector quantization is pure array expressions — map-only."""
    df = QUERIES["v_quantize_int8"](spark, SF)
    assert exchange_count(df) == 0


def test_quality_model_inference_no_shuffle(spark):
    """Hashed linear-model inference is map-only: the weighted sum
    accumulates over the token array inside the scan's codegen stage —
    zero exchanges at any corpus size."""
    df = QUERIES["text_quality_model"](spark, SF)
    assert exchange_count(df) == 0


def test_q17_one_fact_shuffle_broadcast_part(spark):
    """The decorrelated Q17: the per-part aggregate and the join reuse
    the l_partkey shuffle; the brand-filtered part dimension must
    broadcast, and the brand filter must reach its scan."""
    df = QUERIES["q17_small_quantity_revenue"](spark, SF)
    assert broadcast_join_count(df) >= 1
    assert any("Brand#23" in f for f in pushed_filters(df))


def test_trailing_window_shares_customer_shuffle(spark):
    """Daily rollup + RANGE window both key on o_custkey: one exchange
    serves both (a second exchange means the window re-shuffled)."""
    df = QUERIES["w_trailing_7d"](spark, SF)
    assert exchange_count(df) == 1


def test_q6_pure_scan_all_filters_pushed(spark):
    """Q6 is a zero-join predicate scan: shipdate/discount/quantity all
    appear as PushedFilters, the scan reads exactly the four live
    columns, and the only exchange is the 1-row final aggregate."""
    df = QUERIES["q6_forecast_revenue"](spark, SF)
    pushed = " ".join(pushed_filters(df))
    assert "l_shipdate" in pushed and "l_discount" in pushed
    assert "l_quantity" in pushed
    schemas = read_schemas(df)
    assert len(schemas) == 1
    assert set(schemas[0]) <= {
        "l_quantity", "l_extendedprice", "l_discount", "l_shipdate"
    }
    assert exchange_count(df) == 1


def test_q7_nation_pair_prunes_before_fact_join(spark):
    """Q7: supplier/customer are nation-filtered behind broadcasts
    before lineitem is touched — at least 2 broadcast joins and the
    shipdate window pushed into the lineitem scan."""
    df = QUERIES["q7_volume_shipping"](spark, SF)
    assert broadcast_join_count(df) >= 2
    assert any("l_shipdate" in f for f in pushed_filters(df))


def test_q10_topk_no_global_sort(spark):
    """Q10's top-20 must compile to TakeOrderedAndProject, and the
    returnflag filter must reach the lineitem scan."""
    df = QUERIES["q10_returned_items"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert any("l_returnflag" in f for f in pushed_filters(df))


def test_q16_blacklist_is_broadcast_anti_join(spark):
    """Q16's NOT IN compiles to a broadcast left-anti join (s_suppkey
    is non-null); the acctbal predicate reaches the supplier scan."""
    df = QUERIES["q16_supplier_variety"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan and "Broadcast" in plan
    assert any("s_acctbal" in f for f in pushed_filters(df))


def test_q21_decorrelated_no_expand_bounded_exchanges(spark):
    """Q21's EXISTS/NOT-EXISTS decorrelation: no count_distinct Expand
    operator, no correlated re-scan — at most 3 exchanges (pair agg,
    order agg, order join)."""
    df = QUERIES["q21_blamed_suppliers"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan
    assert exchange_count(df) <= 4


def test_copurchase_pairs_generated_in_row(spark):
    """g_copurchase_jaccard must not re-evaluate the edge subtree per
    reference: bounded exchanges (edge distinct, degree window, part
    collect, pair agg) and no join back to a degree table."""
    df = QUERIES["g_copurchase_jaccard"](spark, SF)
    assert exchange_count(df) <= 5


def test_rfm_ranks_are_distributed(spark):
    """ev_rfm's three global ranks run as a two-level rank: every
    WindowExec in the plan must carry a partition spec (the carry
    window partitions by metric, the rank window by (pid, metric)),
    and the per-partition offset carry must arrive by broadcast."""
    df = QUERIES["ev_rfm"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan  # the two-level rank still uses windows...
    assert unpartitioned_window_count(df) == 0  # ...none of them global
    assert broadcast_join_count(df) >= 2  # carry + n_users scalar


def test_quality_buckets_cuts_no_global_window(spark):
    """pipe_quality_buckets_cuts is the executable 100 TB shape of the
    ntile sibling: the ONLY global window allowed is the two-level
    rank's prefix-count carry over <= |partitions| rows (the bounded
    exception); the per-doc rank window must be partitioned, and the
    cut points must arrive by broadcast."""
    df = QUERIES["pipe_quality_buckets_cuts"](spark, SF)
    assert unpartitioned_window_count(df) <= 1  # only the bounded carry
    assert broadcast_join_count(df) >= 3


def test_scd2_single_user_exchange(spark):
    """Both SCD-2 window passes ride ONE user_id exchange."""
    df = QUERIES["ev_scd2_intervals"](spark, SF)
    assert exchange_count(df) == 1


def test_char_entropy_shuffles_counts_not_chars(spark):
    """text_char_entropy: the scan reads only (doc_id, text); two
    aggregate exchanges (doc_id x char partials, then per-doc), no
    extra shuffle, no join."""
    df = QUERIES["text_char_entropy"](spark, SF)
    schemas = read_schemas(df)
    assert len(schemas) == 1
    assert set(schemas[0]) <= {"doc_id", "text"}
    assert exchange_count(df) == 2


def test_gopher_rules_map_only_pruned_scan(spark):
    """text_gopher_rules: every signal and flag fuses into one
    projection over the scan — zero exchanges, and the scan reads only
    (doc_id, text)."""
    df = QUERIES["text_gopher_rules"](spark, SF)
    schemas = read_schemas(df)
    assert len(schemas) == 1
    assert set(schemas[0]) <= {"doc_id", "text"}
    assert exchange_count(df) == 0


def test_sliding_distinct_bitmap_fanout(spark):
    """ev_sliding_distinct: user ids shuffle ONCE (into day-word
    bitmaps); the 7-day fan-out joins broadcast against observed days;
    bounded exchanges, pruned scan."""
    df = QUERIES["ev_sliding_distinct"](spark, SF)
    schemas = read_schemas(df)
    assert all(set(s) <= {"ts", "user_id"} for s in schemas)
    assert broadcast_join_count(df) == 1
    assert exchange_count(df) <= 4


def test_assoc_rules_no_join_back(spark):
    """a_assoc_rules: supports ride the edges via one part window and
    the in-row pair explode — no join back to a support table. Two
    scans total (the second reads only l_orderkey for the transaction
    count); bounded exchanges; the only join is the 1-row broadcast."""
    df = QUERIES["a_assoc_rules"](spark, SF)
    schemas = read_schemas(df)
    assert len(schemas) == 2
    assert sorted(map(set, schemas), key=len) == [
        {"l_orderkey"},
        {"l_orderkey", "l_partkey"},
    ]
    assert broadcast_join_count(df) == 1
    assert exchange_count(df) <= 6


def test_assoc_rules_pair_enumeration_matches_quadratic(spark):
    """r13 optimization pin: the sort_array + posexplode + slice pair
    enumeration (codegen'd generators) emits exactly the pa < pb pair
    multiset the nested transform x transform + filter reference built
    interpreted — including adversarial shapes: singleton baskets (no
    pairs), unsorted input order, and repeated (pa, pb) across baskets
    (the n_ab >= 2 support count depends on the multiset, not the set).
    p is distinct within a basket by construction (DISTINCT (o, p)),
    which is what makes the struct sort order total."""
    from pyspark.sql import functions as F

    rows = [
        (1, [(5, 10), (2, 7), (9, 3)]),
        (2, [(2, 7), (5, 10)]),
        (3, [(4, 1)]),
        (4, [(9, 3), (2, 7), (5, 10), (1, 4)]),
    ]
    baskets = spark.createDataFrame(
        rows, "o long, items array<struct<p: long, n_p: long>>"
    )

    def ref(items):
        out = []
        for a in items:
            for b in items:
                if a[0] < b[0]:
                    out.append((a[0], b[0], a[1], b[1]))
        return out

    expect = sorted(t for _, items in rows for t in ref(items))
    got = sorted(
        tuple(r)
        for r in (
            baskets.select(F.sort_array("items").alias("items"))
            .select("items", F.posexplode("items").alias("i", "a"))
            .select(
                F.col("a"),
                F.explode(
                    F.slice("items", F.col("i") + 2, F.size("items"))
                ).alias("b"),
            )
            .select(
                F.col("a.p").alias("pa"),
                F.col("b.p").alias("pb"),
                F.col("a.n_p").alias("n_a"),
                F.col("b.n_p").alias("n_b"),
            )
            .collect()
        )
    )
    assert got == expect


def test_mm_png_stats_scan_prunes_to_id(spark):
    """The PNG corpus derives everything from doc_id — the documents
    scan must read exactly that column (a text read here would drag
    the whole corpus through the codec stage)."""
    df = QUERIES["mm_png_stats"](spark, SF)
    schemas = read_schemas(df)
    assert any(set(s) == {"doc_id"} for s in schemas), schemas


def test_mmr_topk_is_single_fused_plan(spark):
    """r8: the MMR recurrence runs inside the same plan as the pool
    (single-partition mapInPandas) — zero exchanges, no second job.
    The old collect→createDataFrame form is unrepresentable here."""
    df = QUERIES["v_mmr_topk"](spark, SF)
    assert exchange_count(df) == 0


def test_cms_counter_table_is_sketch_sized(spark):
    """The CM sketch contract: after the one user_id aggregation,
    every intermediate is sketch-sized. Pin the observable half —
    counter cells <= d*w and estimates join back on (j, b) only."""
    from pyspark.sql import functions as F

    from mie_spark.sources import load_table

    ev = load_table(spark, SF, "events")
    uc = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    j = F.explode(F.array(*[F.lit(i) for i in range(4)])).alias("j")
    h = uc.select("user_id", "n", j).withColumn(
        "b",
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("j").cast("string"), F.lit(":"),
                               F.col("user_id").cast("string"))), 1, 8),
            16, 10,
        ).cast("long") % 256,
    )
    counters = h.groupBy("j", "b").agg(F.sum("n").alias("c"))
    assert counters.count() <= 4 * 256


def test_rerank_pool_scan_is_in_filter_pruned(spark):
    """v_rerank_ce: the 50-row candidate pool must reach the documents
    scan as a pushed In(doc_id, ...) filter (the ids are k-bounded and
    collected), the pool scan reads only (doc_id, text), and the
    rerank stage adds no exchange — at 100 TB the reranker touches
    O(pool), never the corpus."""
    df = QUERIES["v_rerank_ce"](spark, SF)
    pushed = pushed_filters(df)
    assert any(p.startswith("In(doc_id") for p in pushed), pushed
    schemas = read_schemas(df)
    assert ["doc_id", "text"] in [sorted(s) for s in schemas]
    assert exchange_count(df) == 0


def test_ivf_cells_projection_is_map_only(spark):
    """v_ivf_cells: after training, the graded projection is scan ->
    Arrow argmax -> project with ZERO exchanges (the oracle replays
    training)."""
    df = QUERIES["v_ivf_cells"](spark, SF)
    assert exchange_count(df) == 0
    schemas = read_schemas(df)
    assert all(set(s) <= {"vec_id", "embedding"} for s in schemas)


def test_benford_single_shuffle_and_pruned_scan(spark):
    """dq_benford: one map-combined digit aggregate; the lineitem scan
    reads exactly l_extendedprice; the 9-row census crossJoins a
    broadcast 1-row total (no second full-table pass)."""
    df = QUERIES["dq_benford"](spark, SF)
    schemas = read_schemas(df)
    assert any(set(s) == {"l_extendedprice"} for s in schemas), schemas
    assert exchange_count(df) <= 4  # digit agg + total agg reductions


def test_ab_test_single_user_aggregate(spark):
    """ev_ab_test: ONE user_id shuffle touches events; everything
    downstream is a <=2-row reduction. A second events exchange means
    the variant split stopped fusing into the scan."""
    df = QUERIES["ev_ab_test"](spark, SF)
    assert exchange_count(df) <= 3, df._jdf.queryExecution().toString()[:500]


def test_exact_quantiles_census_prefix_shape(spark):
    """w_exact_quantiles: the census prefix sum must keep the
    two_level shape — a range exchange and PARTITIONED windows, with
    the only global window being the |partitions|-row carry; the
    5-row positions side must broadcast (no sort-merge join against
    the census)."""
    df = QUERIES["w_exact_quantiles"](spark, SF)
    assert unpartitioned_window_count(df) == 1  # the bounded carry
    assert broadcast_join_count(df) >= 2  # carry join + positions join


def test_drift_ks_census_then_partitioned_windows(spark):
    """dq_drift_ks: corpus-sized work is ONE aggregate down to
    (type, day, bucket) cells; the CDF windows are partitioned by
    event_type, leaving only the bounded day-rank window global; the
    half map rides a broadcast join."""
    df = QUERIES["dq_drift_ks"](spark, SF)
    assert unpartitioned_window_count(df) == 1  # day-rank over |days|
    assert broadcast_join_count(df) >= 1
