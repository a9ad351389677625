"""Scale-toolkit tests: salted aggregation matches its unsalted plan
row-for-row; sketches, hash splits, the parallelism policy and the
window and graph operators hold their exactness contracts."""

from __future__ import annotations

from pyspark.sql import functions as F

from mie_spark.operators.skew import salted_groupby_agg
from mie_spark.sources import load_table

SF = "/root/testdata/sf0.001"


def _sorted_rows(df):
    return sorted([tuple(r) for r in df.collect()])


def test_salted_groupby_agg_equals_plain(spark):
    ev = load_table(spark, SF, "events")
    plain = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value").alias("total"),
        F.max("value").alias("mx"),
    )
    salted = salted_groupby_agg(
        ev,
        "user_id",
        {"n": ("count", "event_id"), "total": ("sum", "value"), "mx": ("max", "value")},
        n_salt=4,
    )
    p = {r["user_id"]: (r["n"], round(r["total"], 6), r["mx"]) for r in plain.collect()}
    s = {r["user_id"]: (r["n"], round(r["total"], 6), r["mx"]) for r in salted.collect()}
    assert p == s


def test_salted_groupby_rejects_non_decomposable(spark):
    ev = load_table(spark, SF, "events")
    try:
        salted_groupby_agg(ev, "user_id", {"m": ("avg", "value")})
    except ValueError as e:
        assert "non-decomposable" in str(e)
    else:
        raise AssertionError("avg must be rejected (not naively combinable)")


def test_approx_distinct_within_rsd(spark):
    """HLL++ estimate at rsd=1% must land within 5% of the exact
    distinct count (5 sigma; deterministic for a fixed dataset)."""
    from pyspark.sql import functions as F

    from mie_spark.queries import QUERIES
    from mie_spark.sources import load_table

    approx = {
        r["event_type"]: r["approx_users"]
        for r in QUERIES["ev_approx_distinct"](spark, "/root/testdata/sf0.001").collect()
    }
    exact = {
        r["event_type"]: r["exact"]
        for r in load_table(spark, "/root/testdata/sf0.001", "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("exact"))
        .collect()
    }
    assert set(approx) == set(exact)
    for et, est in approx.items():
        assert abs(est - exact[et]) <= max(1, 0.05 * exact[et]), (
            et,
            est,
            exact[et],
        )


def test_hash_split_deterministic_and_quantized(spark):
    """Split membership is a pure function of the id (stable across
    partitionings) and the train fraction lands within the 1/256
    quantization of the requested rate."""
    from mie_spark.operators.sampling import hash_split

    docs = load_table(spark, SF, "documents").select("doc_id")
    s1 = {r["doc_id"]: r["split"] for r in hash_split(docs, "doc_id", 0.75).collect()}
    s2 = {
        r["doc_id"]: r["split"]
        for r in hash_split(docs.repartition(7), "doc_id", 0.75).collect()
    }
    assert s1 == s2
    frac = sum(v == "train" for v in s1.values()) / len(s1)
    assert abs(frac - 0.75) < 0.1


def test_hash_split_boundary_fractions(spark):
    """frac=1.0 keeps EVERY row in train and frac=0.0 none — the
    regression where a 3-char hex cutoff ('100') compared as a string
    kept ~6.6% instead of 100%."""
    from mie_spark.operators.sampling import hash_split, stratified_sample

    docs = load_table(spark, SF, "documents").select("doc_id", "lang")
    n = docs.count()
    all_train = hash_split(docs, "doc_id", 1.0)
    assert all_train.filter(all_train["split"] == "train").count() == n
    none_train = hash_split(docs, "doc_id", 0.0)
    assert none_train.filter(none_train["split"] == "train").count() == 0
    kept = stratified_sample(
        docs, "lang", "doc_id", fractions={}, default_frac=1.0
    )
    assert kept.count() == n


def test_ensure_parallelism_conditional(spark):
    """Repartitions a single-partition input up to default parallelism;
    leaves an already-wide input untouched (no gratuitous shuffle)."""
    from mie_spark.operators import ensure_parallelism

    narrow = load_table(spark, SF, "documents")
    assert narrow.rdd.getNumPartitions() == 1
    widened = ensure_parallelism(narrow)
    assert (
        widened.rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )
    wide = narrow.repartition(spark.sparkContext.defaultParallelism + 4)
    assert ensure_parallelism(wide) is wide


def test_redact_pii_crafted_strings(spark):
    """The portable pattern subset must catch the common PII shapes and
    leave ordinary text untouched (the corpus query only proves engine
    agreement; this pins the semantics)."""
    from mie_spark.operators.text import pii_count, redact_pii

    cases = [
        ("mail me at jane.doe+spam@sub.example.co.uk today", "mail me at <EMAIL> today", 1),
        ("server 192.168.1.254 and 10.0.0.1 are up", "server <IP> and <IP> are up", 2),
        ("call 555-123-4567 or 555.867.5309", "call <PHONE> or <PHONE>", 2),
        ("version 1.2.3 stays; pi is 3.14", "version 1.2.3 stays; pi is 3.14", 0),
        ("x@y.io at 8.8.8.8 tel 555-010-0042", "<EMAIL> at <IP> tel <PHONE>", 3),
    ]
    df = spark.createDataFrame([(s,) for s, _, _ in cases], ["text"])
    out = df.select(
        redact_pii(F.col("text")).alias("red"),
        pii_count(F.col("text")).alias("n"),
    ).collect()
    for (src, want_red, want_n), row in zip(cases, out):
        assert row["red"] == want_red, f"{src!r} -> {row['red']!r}"
        assert row["n"] == want_n, f"{src!r} count {row['n']} != {want_n}"


def test_ensure_parallelism_policy_modes(spark):
    """spark.mie.ensureParallelism: never = zero driver probing and no
    repartition; always = unconditional repartition to target; auto =
    widen only under-partitioned inputs."""
    from mie_spark.operators import ensure_parallelism

    narrow = spark.range(0, 100, 1, 1).toDF("id")
    try:
        spark.conf.set("spark.mie.ensureParallelism", "never")
        assert ensure_parallelism(narrow).rdd.getNumPartitions() == 1
        spark.conf.set("spark.mie.ensureParallelism", "always")
        wide = ensure_parallelism(narrow, min_partitions=8)
        assert wide.rdd.getNumPartitions() == 8
        spark.conf.set("spark.mie.ensureParallelism", "auto")
        assert (
            ensure_parallelism(narrow, min_partitions=8).rdd.getNumPartitions()
            == 8
        )
        already_wide = spark.range(0, 100, 1, 8).toDF("id")
        assert (
            ensure_parallelism(already_wide, min_partitions=4)
            .rdd.getNumPartitions()
            == 8
        )
    finally:
        spark.conf.unset("spark.mie.ensureParallelism")


def test_pagerank_empty_edges(spark):
    from mie_spark.operators.graph import pagerank

    empty = spark.createDataFrame([], "src string, dst string")
    assert pagerank(empty).count() == 0


def test_sssp_matches_dijkstra_model(spark):
    """Bounded Bellman-Ford vs a pure-Python Dijkstra on a seeded
    random sparse digraph (hop bound chosen > any shortest-path hop
    count so both compute the same unbounded answer)."""
    import heapq
    import random

    from mie_spark.operators.graph import sssp

    rng = random.Random(99)
    n = 40
    edges = []
    for _ in range(140):
        u, v = rng.randrange(n), rng.randrange(n)
        if u != v:
            edges.append((u, v, rng.randint(1, 20)))

    adj: dict[int, list[tuple[int, int]]] = {}
    for u, v, w in edges:
        adj.setdefault(u, []).append((v, w))
    dist = {0: 0}
    heap = [(0, 0)]
    while heap:
        d, u = heapq.heappop(heap)
        if d > dist.get(u, 1 << 60):
            continue
        for v, w in adj.get(u, []):
            if d + w < dist.get(v, 1 << 60):
                dist[v] = d + w
                heapq.heappush(heap, (d + w, v))

    e = spark.createDataFrame(edges, ["src", "dst", "w"])
    s = spark.createDataFrame([(0,)], ["node"])
    got = {r["node"]: r["dist"] for r in sssp(e, s, max_hops=n).collect()}
    assert got == dist


def test_sssp_hop_bound_truncates(spark):
    """A 5-edge path with max_hops=3 must only reach 3 edges out."""
    from mie_spark.operators.graph import sssp

    e = spark.createDataFrame(
        [(i, i + 1, 10) for i in range(5)], ["src", "dst", "w"]
    )
    s = spark.createDataFrame([(0,)], ["node"])
    got = {r["node"]: r["dist"] for r in sssp(e, s, max_hops=3).collect()}
    assert got == {0: 0, 1: 10, 2: 20, 3: 30}


def test_aqe_splits_skewed_join_partition(spark):
    """Pins the runtime skew path SCALE.md leans on: a 90%-hot-key
    sort-merge join under AQE must execute with the hot partition
    SPLIT (SortMergeJoin(skew=true) + an 'AQEShuffleRead ... skewed'
    reader in the FINAL adaptive plan) and still return exactly the
    plain-join row count. Thresholds are lowered because local test
    volumes never reach the 256 MB production default — the knobs,
    not the mechanism, are what changes at 100 TB. NOTE: the final
    plan must be read from the SAME DataFrame that ran (count()
    builds a separate query execution whose plan stays
    isFinalPlan=false)."""
    keep = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.adaptive.skewJoin.enabled",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64k"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64k")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        a = spark.range(0, 500000).select(
            F.when(F.col("id") % 10 < 9, 0).otherwise(F.col("id")).alias("k"),
            F.col("id").alias("v"),
        )
        b = spark.range(0, 2000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        j = a.join(b, "k")
        rows = len(j.collect())
        # 450k hot rows (k=0 joins once) + 200 cold ids under 2000 x 1
        assert rows == 450000 + 200
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan.splitlines()[0]
        assert "skew=true" in plan
        assert "skewed" in plan  # the AQEShuffleRead split reader
    finally:
        for k, v in keep.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_two_level_rank_equals_global_row_number(spark):
    """operators/rank.two_level_rank reassembles the EXACT global
    row_number for a unique key, no matter where the range sampler
    drops partition boundaries — including keys with heavy value ties
    broken only by the id column, and a partition count larger than
    the row count (empty partitions must not corrupt the carry)."""
    from pyspark.sql.window import Window

    from mie_spark.operators.rank import two_level_rank
    from mie_spark.plans import unpartitioned_window_count

    df = spark.range(997).select(
        F.col("id"),
        (F.col("id") % 7).alias("v"),  # heavy ties -> id is the tiebreak
        (F.col("id") % 3).cast("string").alias("g"),
    )
    got = two_level_rank(
        df, order_cols=["v", "id"], nparts=8, out="rn"
    ).select("id", "rn")
    want = df.select(
        "id", F.row_number().over(Window.orderBy("v", "id")).alias("rn")
    )
    assert _sorted_rows(got) == _sorted_rows(want)

    # grouped form: rank restarts per group g
    got_g = two_level_rank(
        df, order_cols=["v", "id"], part_cols=["g"], nparts=8, out="rn"
    ).select("g", "id", "rn")
    want_g = df.select(
        "g",
        "id",
        F.row_number().over(Window.partitionBy("g").orderBy("v", "id")).alias("rn"),
    )
    assert _sorted_rows(got_g) == _sorted_rows(want_g)
    # the grouped form has no unpartitioned window at all
    assert unpartitioned_window_count(got_g) == 0

    # more partitions than rows: empty range partitions contribute
    # zero-count carries, ranks still exact
    tiny = spark.range(5).select("id", (F.col("id") * 10).alias("v"))
    got_t = two_level_rank(tiny, order_cols=["v", "id"], nparts=64, out="rn")
    assert sorted(r.rn for r in got_t.collect()) == [1, 2, 3, 4, 5]


def test_attribution_conserves_revenue(spark):
    """ev_attribution_linear's integer split must reconstruct total
    purchase revenue EXACTLY: sum of per-channel attributed micro-cents
    == sum(purchase cents) * 1e6. The oracle hash proves Spark==DuckDB;
    this pins that both aren't wrong together (a lost remainder or a
    double-credited touch breaks conservation)."""
    from mie_spark.queries import QUERIES

    out = QUERIES["ev_attribution_linear"](spark, SF)
    credited = out.agg(F.sum("attributed_microcents")).collect()[0][0]
    ev = load_table(spark, SF, "events")
    total = (
        ev.filter(F.col("event_type") == "purchase")
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")))
        .collect()[0][0]
    )
    assert credited == total * 1_000_000


def test_survival_table_accounting(spark):
    """ev_survival's life-table accounting: every user exits exactly
    once (sum of churned + censored == |users|), the week-0 at-risk
    count is the full population, and at-risk decreases by exactly the
    previous week's exits (the Kaplan-Meier recurrence)."""
    from mie_spark.queries import QUERIES

    rows = sorted(
        QUERIES["ev_survival"](spark, SF).collect(), key=lambda r: r["week"]
    )
    ev = load_table(spark, SF, "events")
    n_users = ev.select("user_id").distinct().count()
    assert sum(r["n_churned"] + r["n_censored"] for r in rows) == n_users
    assert rows[0]["n_at_risk"] == n_users
    for prev, cur in zip(rows, rows[1:]):
        assert cur["n_at_risk"] == (
            prev["n_at_risk"] - prev["n_churned"] - prev["n_censored"]
        )


def test_survival_table_with_real_churners(spark, tmp_path):
    """ADVICE r9: at every graded SF the corpus spans ~30 days, so no
    user can satisfy the >=4-weeks-silent churn rule — the driver's
    oracle row is a single all-censored week and the KM recurrence loop
    above is vacuous. This fixture engineers a 26-week corpus with
    churners exiting at MANY distinct weeks, then grades ev_survival
    against the SAME DuckDB oracle SQL on the synthetic dir, plus the
    explicit hazard / accounting invariants the tiny corpus never
    reaches."""
    import duckdb

    from mie_spark.queries import ORACLES, QUERIES

    wk_us = 604_800_000_000
    base = 1_700_000_000_000_000  # epoch micros, any anchor
    rows = []
    eid = 0
    # One sentinel user pins the corpus horizon at week 26.
    rows.append((eid, base + 26 * wk_us, 10_000, "view", 1.0, "{}"))
    eid += 1
    # 40 churners: user u starts at week (u % 5) and goes silent at
    # week (u % 5) + 2 + (u % 9) — horizon exceeds last+4wk for all,
    # spreading churn events over exit weeks 2..10.
    for u in range(40):
        first_w = u % 5
        last_w = first_w + 2 + (u % 9)
        rows.append((eid, base + first_w * wk_us, u, "view", 1.0, "{}"))
        eid += 1
        rows.append((eid, base + last_w * wk_us, u, "view", 1.0, "{}"))
        eid += 1
    # 20 censored users: still active within 4 weeks of the horizon.
    for u in range(100, 120):
        first_w = u % 7
        rows.append((eid, base + first_w * wk_us, u, "view", 1.0, "{}"))
        eid += 1
        rows.append((eid, base + 25 * wk_us + (u % 3), u, "view", 1.0, "{}"))
        eid += 1
    pdf = spark.createDataFrame(
        [
            (e, __import__("datetime").datetime.fromtimestamp(ts / 1e6), u, t, v, p)
            for e, ts, u, t, v, p in rows
        ],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    sf_dir = str(tmp_path)
    pdf.coalesce(1).write.mode("overwrite").parquet(f"{sf_dir}/events.parquet")

    got = sorted(
        QUERIES["ev_survival"](spark, sf_dir).collect(), key=lambda r: r["week"]
    )
    # Same oracle SQL, same synthetic corpus.
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf_dir}/events.parquet/*.parquet')"
    )
    want_rows = {
        r[0]: r for r in con.execute(
            f"SELECT week, n_at_risk, n_churned, n_censored, hazard_micro "
            f"FROM ({ORACLES['ev_survival']}) ORDER BY week"
        ).fetchall()
    }
    assert {r["week"]: tuple(r) for r in got} == want_rows
    # The branches the tiny corpus never exercises:
    churn_weeks = [r["week"] for r in got if r["n_churned"] > 0]
    assert len(churn_weeks) >= 5, churn_weeks
    assert any(r["n_censored"] > 0 for r in got)
    assert any(0 < r["hazard_micro"] < 1_000_000 for r in got)
    # KM recurrence over a MULTI-row table (was vacuous on 1 row).
    assert len(got) >= 6
    n_users = 61
    assert got[0]["n_at_risk"] == n_users
    assert sum(r["n_churned"] + r["n_censored"] for r in got) == n_users
    for prev, cur in zip(got, got[1:]):
        assert cur["n_at_risk"] == (
            prev["n_at_risk"] - prev["n_churned"] - prev["n_censored"]
        )


def test_interleave_prefix_fairness_and_rank_form(spark):
    """pipe_interleave: the WFQ guarantee is PREFIX fairness — in every
    prefix of the training order, each source's share tracks w_s/W to
    within a constant (one full round of the heaviest weight), not just
    overall. Also pins that the global position comes from the
    distributed two-level rank (positions are a permutation of 1..n)
    and that within a source the manifest preserves the md5 shuffle
    order."""
    from mie_spark.queries import QUERIES

    rows = sorted(
        QUERIES["pipe_interleave"](spark, SF).collect(),
        key=lambda r: r["train_pos"],
    )
    n = len(rows)
    assert [r["train_pos"] for r in rows] == list(range(1, n + 1))
    weights = {}
    for r in rows:
        weights[r["source"]] = r["w"]
    total_w = sum(weights.values())
    from collections import Counter

    n_per_src = Counter(r["source"] for r in rows)
    seen = {s: 0 for s in weights}
    checked = 0
    for p, r in enumerate(rows, start=1):
        seen[r["source"]] += 1
        if any(seen[s] >= n_per_src[s] for s in weights):
            # WFQ fairness holds only while every source is backlogged;
            # once one drains, the others legitimately overshoot
            break
        for s, w in weights.items():
            expect = p * w / total_w
            # WFQ bound: within one service round of the expectation
            assert abs(seen[s] - expect) <= 3 + w, (p, s, seen[s], expect)
        checked = p
    assert checked >= n // 3, f"backlogged prefix too short: {checked}/{n}"
    # per-source order preserved (r strictly increases with train_pos)
    last_r = {}
    from collections import defaultdict

    per_src_rank = defaultdict(int)
    for r in rows:
        per_src_rank[r["source"]] += 1
        assert r["vkey"] == per_src_rank[r["source"]] * (6 // r["w"])


def test_holt_tracks_linear_series_exactly(spark, tmp_path):
    """ev_forecast_holt on a perfectly linear daily series: with
    l_0 = y_0 and b_0 = y_1 - y_0, Holt's recurrence reproduces a
    linear series EXACTLY at every step (the update errors are zero,
    so rounding never engages): level_t = y_t, trend_t = slope, and
    the one-step forecast equals the next day's actual. This is the
    defining property separating Holt from ev_ewma's single smoother,
    which lags any trending series."""
    import datetime

    from mie_spark.queries import QUERIES

    base = datetime.datetime(2024, 3, 1, 12, 0, 0)
    rows = []
    for day in range(12):
        # one purchase per day, revenue 10.00 + 2.50/day -> linear cents
        rows.append(
            (
                day,
                base + datetime.timedelta(days=day),
                1,
                "purchase",
                10.0 + 2.5 * day,
                "{}",
            )
        )
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(
        f"{tmp_path}/events.parquet"
    )
    got = sorted(
        QUERIES["ev_forecast_holt"](spark, str(tmp_path)).collect(),
        key=lambda r: r["day"],
    )
    assert len(got) == 12
    for i, r in enumerate(got):
        assert r["cents"] == 1000 + 250 * i
        assert r["level_milli"] == r["cents"] * 1000
        assert r["trend_milli"] == 250 * 1000
        if i + 1 < len(got):
            assert r["forecast_milli"] == got[i + 1]["cents"] * 1000


def test_hw_tracks_linear_seasonal_series_exactly(spark, tmp_path):
    """ev_forecast_hw on a pure linear+weekly-seasonal daily series:
    with the detrended init (l = mean(week1) + 3b, s_i = y_i -
    mean(week1) - b*(i-3)) the Holt-Winters recurrence is exactly
    self-consistent — level_t = a + b*t, trend_t = b, season_t =
    s_{t mod 7}, and every one-step forecast equals the next actual.
    Constants are chosen so every dyadic division is exact (update
    errors are all zero), so rounding never engages. This is the
    property the week-mean seasonal init (no detrending) FAILS — it
    leaves a b*(i-3) residue in each seasonal slot and biases the
    first cycle of forecasts by up to 3b."""
    import datetime

    from mie_spark.queries import QUERIES

    base = datetime.datetime(2024, 3, 1, 12, 0, 0)
    a_c, b_c = 5000, 350  # cents: level 50.00, slope 3.50/day
    season = [700, -350, 0, 350, -700, 210, -210]  # cents, sums to 0
    rows = []
    for day in range(21):
        cents = a_c + b_c * day + season[day % 7]
        rows.append(
            (
                day,
                base + datetime.timedelta(days=day),
                1,
                "purchase",
                cents / 100.0,
                "{}",
            )
        )
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(
        f"{tmp_path}/events.parquet"
    )
    got = sorted(
        QUERIES["ev_forecast_hw"](spark, str(tmp_path)).collect(),
        key=lambda r: r["day"],
    )
    assert len(got) == 14  # t = 7..20
    for i, r in enumerate(got):
        t = i + 7
        assert r["cents"] == a_c + b_c * t + season[t % 7]
        assert r["level_milli"] == (a_c + b_c * t) * 1000
        assert r["trend_milli"] == b_c * 1000
        assert r["season_milli"] == season[t % 7] * 1000
        # out-of-sample one-step forecast equals the actual
        assert r["forecast_milli"] == r["cents"] * 1000


def test_changepoint_locates_level_shift(spark, tmp_path):
    """ev_changepoint on a series flat at 100.00 for 10 days then
    200.00 for 10 days: the CUSUM argmax must land on day 10 (the
    last day of the first regime) and nowhere else, and the xD-scaled
    values must match the closed form D*cum_t - t*S exactly."""
    import datetime

    from mie_spark.queries import QUERIES

    base = datetime.datetime(2024, 5, 1, 9, 0, 0)
    rows = []
    for day in range(20):
        val = 100.0 if day < 10 else 200.0
        rows.append(
            (
                day,
                base + datetime.timedelta(days=day),
                1,
                "purchase",
                val,
                "{}",
            )
        )
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(
        f"{tmp_path}/events.parquet"
    )
    got = sorted(
        QUERIES["ev_changepoint"](spark, str(tmp_path)).collect(),
        key=lambda r: r["day"],
    )
    assert len(got) == 20
    d, s = 20, (10 * 10000 + 10 * 20000)  # cents total
    cum = 0
    for i, r in enumerate(got):
        cum += 10000 if i < 10 else 20000
        assert r["cusum_xd"] == d * cum - (i + 1) * s
        assert r["is_peak"] == (i == 9)  # day 10, 0-indexed 9


def test_ks_drift_detects_injected_shift(spark, tmp_path):
    """dq_drift_ks on two engineered event types: type 'shifted' has
    first-half values ~10 and second-half values ~110 (disjoint
    supports -> KS = 1.0); type 'stable' draws the same deterministic
    value pattern in both halves (KS ~ 0). Also pins the
    cross-multiplied integer form: ks_num == ks * n1 * n2 within
    rounding."""
    import datetime

    from mie_spark.queries import QUERIES

    base = datetime.datetime(2024, 5, 1, 0, 30, 0)
    rows, eid = [], 0
    for day in range(20):
        for k in range(5):
            shifted_val = 10.0 + k if day < 10 else 110.0 + k
            stable_val = 50.0 + (k * 7) % 5
            for et, v in (("shifted", shifted_val), ("stable", stable_val)):
                rows.append(
                    (
                        eid,
                        base + datetime.timedelta(days=day, minutes=k),
                        k,
                        et,
                        v,
                        "{}",
                    )
                )
                eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(
        f"{tmp_path}/events.parquet"
    )
    got = {
        r["event_type"]: r
        for r in QUERIES["dq_drift_ks"](spark, str(tmp_path)).collect()
    }
    assert set(got) == {"shifted", "stable"}
    for r in got.values():
        assert (r["n1"], r["n2"]) == (50, 50)
        assert abs(r["ks"] - r["ks_num"] / (r["n1"] * r["n2"])) < 1e-6
    assert got["shifted"]["ks"] == 1.0  # disjoint supports
    assert got["stable"]["ks"] == 0.0  # identical per-half histograms


def test_ab_test_aa_and_shifted(spark, tmp_path):
    """ev_ab_test semantics on engineered fixtures. (1) A/A: both
    hash-split arms draw conversions from the same deterministic rule,
    so the pooled z must read not-significant (the A/A-harness
    property the docstring sells). (2) A strongly treatment-correlated
    conversion (conversion iff the user hashes to arm A) must read
    significant with z > 10. Counts are also recomputed independently
    from the same md5 rule."""
    import datetime
    import hashlib

    from mie_spark.queries import QUERIES

    def arm(uid: int) -> str:
        return "A" if int(hashlib.md5(str(uid).encode()).hexdigest()[:2], 16) < 128 else "B"

    base = datetime.datetime(2024, 6, 1, 8, 0, 0)

    def write_events(rows):
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type "
            "string, value double, props string",
        ).coalesce(1).write.mode("overwrite").parquet(
            f"{tmp_path}/events.parquet"
        )

    # (1) A/A: user converts iff uid % 2 == 0 — independent of the arm
    # (mod 2 chosen because it lands near-balanced across the md5 arms
    # on uids 0..199: z = -0.42; mod 3 happens to correlate at z=2.05
    # on this range — an instructive real A/A false-positive)
    rows = []
    for uid in range(200):
        v = 150.0 if uid % 2 == 0 else 50.0
        rows.append((uid, base, uid, "purchase", v, "{}"))
    write_events(rows)
    r = QUERIES["ev_ab_test"](spark, str(tmp_path)).collect()[0]
    n1 = sum(1 for u in range(200) if arm(u) == "A")
    c1 = sum(1 for u in range(200) if arm(u) == "A" and u % 2 == 0)
    assert (r["n1"], r["c1"], r["n2"] + r["n1"]) == (n1, c1, 200)
    assert r["significant"] is False
    assert abs(r["z"]) < 1.96

    # (2) perfectly arm-correlated conversion -> huge z
    rows = []
    for uid in range(200):
        v = 150.0 if arm(uid) == "A" else 50.0
        rows.append((uid, base, uid, "purchase", v, "{}"))
    write_events(rows)
    r = QUERIES["ev_ab_test"](spark, str(tmp_path)).collect()[0]
    assert (r["c1"], r["c2"]) == (r["n1"], 0)
    assert r["significant"] is True
    assert r["z"] > 10


def test_benford_census_and_exact_shares(spark, tmp_path):
    """dq_benford on a hand-computable price list: the digit census,
    micro-unit shares (integer half-up), and deviations against the
    pinned log10(1+1/d) expectations must match exact arithmetic. The
    leading digit must come from the value's significant digits (19.99
    -> 1, 0.25 -> 2), insensitive to the cents scaling."""
    from mie_spark.queries import QUERIES

    prices = [19.99, 1.23, 25.50, 2.00, 31.41, 999.99, 0.25, 1.00, 47.00]
    # leading significant digits: 1,1,2,2,3,9,2,1,4
    rows = [
        (i, i, i, 1.0, p, 0.0, 0.0, "N", "O", "2024-01-01T00:00:00")
        for i, p in enumerate(prices)
    ]
    spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_quantity "
        "double, l_extendedprice double, l_discount double, l_tax "
        "double, l_returnflag string, l_linestatus string, l_shipdate "
        "string",
    ).withColumn("l_shipdate", __import__("pyspark").sql.functions.col("l_shipdate").cast("timestamp")).coalesce(1).write.mode("overwrite").parquet(
        f"{tmp_path}/lineitem.parquet"
    )
    got = {
        r["digit"]: r
        for r in QUERIES["dq_benford"](spark, str(tmp_path)).collect()
    }
    assert {d: got[d]["n"] for d in sorted(got)} == {1: 3, 2: 3, 3: 1, 4: 1, 9: 1}
    exp = {1: 301030, 2: 176091, 3: 124939, 4: 96910, 9: 45757}
    for d, r in got.items():
        share = (r["n"] * 2_000_000 + 9) // 18  # half-up micro over N=9
        assert r["share_micro"] == share
        assert r["benford_micro"] == exp[d]
        assert r["dev_micro"] == abs(share - exp[d])


def test_two_level_cumsum_equals_global_window(spark):
    """two_level_cumsum must reproduce the plain global running sum
    (the thing it exists to avoid computing in one task) on a census
    fanned across many range partitions, including sums that span
    partition boundaries."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from mie_spark.operators.rank import two_level_cumsum

    rows = [(v, (v * 7) % 13 + 1) for v in range(1, 500)]
    df = spark.createDataFrame(rows, "k long, cnt long").repartition(16)
    got = {
        r["k"]: r["cum"]
        for r in two_level_cumsum(df, ["k"], "cnt", nparts=11).collect()
    }
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    want = {
        r["k"]: r["cum"]
        for r in df.withColumn("cum", F.sum("cnt").over(w)).collect()
    }
    assert got == want

    # part_cols path: per-group running sums must match the plain
    # partitioned window (this path had no caller when it shipped)
    g = spark.createDataFrame(
        [(v % 5, v, (v * 3) % 7 + 1) for v in range(1, 300)],
        "grp long, k long, cnt long",
    ).repartition(16)
    got_g = {
        (r["grp"], r["k"]): r["cum"]
        for r in two_level_cumsum(
            g, ["k"], "cnt", part_cols=["grp"], nparts=7
        ).collect()
    }
    wg = (
        Window.partitionBy("grp")
        .orderBy("k")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    want_g = {
        (r["grp"], r["k"]): r["cum"]
        for r in g.withColumn("cum", F.sum("cnt").over(wg)).collect()
    }
    assert got_g == want_g


def test_ks_drift_exact_with_negative_values(spark, tmp_path):
    """Regression for the floor-vs-truncate bucket divergence: with
    NEGATIVE values (refunds) in the corpus, Spark's int_div floors
    where DuckDB's // truncates toward zero — the shift-offset bucket
    ((cents + 2^40) div 100) keeps both engines bit-identical. Run the
    real oracle SQL in DuckDB against the Spark result on a fixture
    where negatives straddle bucket boundaries."""
    import datetime

    import duckdb

    from mie_spark.queries import ORACLES, QUERIES

    base = datetime.datetime(2024, 5, 1, 0, 30, 0)
    rows, eid = [], 0
    vals = [-1.50, -0.50, -0.01, 0.0, 0.49, 1.50, -2.49, 3.01]
    for day in range(8):
        for k, v in enumerate(vals):
            # drift the second half by shifting sign structure
            vv = v if day < 4 else v + 1.0
            rows.append(
                (
                    eid,
                    base + datetime.timedelta(days=day, minutes=k),
                    k,
                    "pay",
                    vv,
                    "{}",
                )
            )
            eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(
        f"{tmp_path}/events.parquet"
    )
    got = sorted(
        tuple(r)
        for r in QUERIES["dq_drift_ks"](spark, str(tmp_path)).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{tmp_path}/events.parquet/*.parquet')"
    )
    want = sorted(tuple(r) for r in con.execute(ORACLES["dq_drift_ks"]).fetchall())
    assert got == want


def test_span_corruption_manifest_semantics(spark):
    """pipe_span_corruption semantics at sf0.001: per-doc masks are
    recomputed independently with hashlib (same md5(doc_id:block)
    schedule), the corpus-wide mask rate sits near the 15% T5 target,
    and every checksum is consistent with its doc's token count."""
    import hashlib

    from mie_spark.queries import QUERIES

    rows = QUERIES["pipe_span_corruption"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows

    def expect(doc_id: int, n: int) -> tuple[int, int]:
        masked = pos_sum = 0
        for b in range((n + 19) // 20):
            h = hashlib.md5(f"{doc_id}:{b}".encode()).hexdigest()
            ln = 1 + int(h[0:2], 16) % 5
            o = int(h[2:4], 16) % (21 - ln)
            m = min(n - b * 20, 20)
            if o < m:
                end = min(o + ln, m)
                masked += end - o
                pos_sum += (end - o) * (2 * (b * 20 + o) + end - o - 1) // 2
        return masked, pos_sum

    total_tok = total_masked = 0
    for r in rows:
        em, es = expect(r["doc_id"], r["n_tokens"])
        assert (r["n_masked"], r["mask_pos_sum"]) == (em, es), r["doc_id"]
        assert 0 <= r["n_masked"] <= r["n_tokens"]
        total_tok += r["n_tokens"]
        total_masked += r["n_masked"]
    rate = total_masked / total_tok
    assert 0.10 < rate < 0.20, rate  # 3/20 target with partial blocks
