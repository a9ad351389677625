"""Oracle-checked Structured Streaming queries.

Each entry runs a REAL streaming job — file stream source over the
events parquet, ``trigger(availableNow=True)`` — and returns its
drained result (plus bounded post-processing where the sink mode
requires it). Every bounded drain goes through the one executor-side
checkpoint sink, run_to_checkpoint_sink; foreachBatch-maintained
states (bitmaps, minhash signatures, samples) commit through the
shared generation protocol (mie_spark/generations.py) and are read
back with their ``load_*`` readers. Because the input is bounded, every one of these has
an exact DuckDB oracle, so the driver's hash comparison exercises the
streaming engine itself, not a batch stand-in.

The reference has no streaming (SURVEY.md §2.11); this is the
north-star extension surface. Batch twins of these plans live in
mie_spark/queries/events.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mie_spark.queries import query
from mie_spark.streaming import (
    read_events_stream,
    run_to_checkpoint_sink,
    sessionized_stream,
    stateful_user_totals,
    stream_dedup,
    windowed_counts,
)


def _state_parts(spark: SparkSession, sf_dir: str, table: str = "events") -> int:
    """Scale-adaptive stateful-shuffle sizing for this query's bounded
    source (replaces the fixed state_partitions=8, r13) — see
    state_partitions_for in mie_spark/streaming/ops.py for the formula,
    measurement, and the production sizing note."""
    from mie_spark.streaming import state_partitions_for

    return state_partitions_for(spark, f"{sf_dir}/{table}.parquet")


@query(
    "st_hourly_agg",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
           event_type,
           count(*) AS n,
           sum(CAST(round(value * 100) AS BIGINT))::BIGINT / 100.0
             AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def st_hourly_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window streaming aggregate, complete mode.

    Complete mode is what makes the bounded run oracle-exact: append
    mode would hold back windows newer than (max event time − delay)
    at stream end. In the continuous production path the same plan runs
    in append/update mode and the watermark bounds state.
    """
    stream = windowed_counts(read_events_stream(spark, sf_dir))
    return run_to_checkpoint_sink(
        stream, output_mode="complete", state_partitions=_state_parts(spark, sf_dir)
    )


@query(
    "st_sessionize",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w <= 1800000000
                  THEN 0 ELSE 1 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), numbered AS (
      SELECT user_id, ts,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM ordered
    )
    SELECT user_id,
           epoch_us(min(ts)) AS session_start_us,
           epoch_us(max(ts)) AS session_end_us,
           count(*) AS n_events
    FROM numbered
    GROUP BY user_id, session_id
    """,
)
def st_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native ``session_window`` gap sessions (30 min) in the streaming
    state store. The oracle derives the same sessions with the classic
    lag/flag/running-sum window formulation — two independent
    formulations, one hash. Session state scales with open sessions,
    not events."""
    stream = sessionized_stream(read_events_stream(spark, sf_dir))
    return run_to_checkpoint_sink(
        stream, output_mode="complete", state_partitions=_state_parts(spark, sf_dir)
    )


@query(
    "st_dedup_totals",
    oracle="""
    SELECT event_type, count(DISTINCT event_id) AS n_unique
    FROM events
    GROUP BY event_type
    """,
)
def st_dedup_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exactly-once via watermarked ``dropDuplicates`` on the
    event key (streaming twin of content-hash idempotent upserts,
    reference pkg/memory/ids.go:16-20), then a bounded aggregate over
    the drained sink."""
    deduped = run_to_checkpoint_sink(
        stream_dedup(read_events_stream(spark, sf_dir)),
        output_mode="append",
        state_partitions=_state_parts(spark, sf_dir),
    )
    return deduped.groupBy("event_type").agg(
        F.count_distinct("event_id").alias("n_unique")
    )


@query(
    "st_stateful_totals",
    oracle="""
    SELECT user_id,
           count(*) AS n_events,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM events
    GROUP BY user_id
    """,
)
def st_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (``applyInPandasWithState``): per-user
    running totals in exact integer cents, update mode. Cents are
    rounded PER EVENT (half-away-from-zero on both engines), so the
    running total — and the oracle — are independent of how the source
    splits into micro-batches. The memory sink appends one row per
    (user, micro-batch); the final state is the row with the largest
    n_events (the event COUNT is strictly monotone — every emitted
    batch adds >= 1 event — where max(total_cents) would silently pick
    a stale pre-refund total the moment a negative value appears)."""
    sink = run_to_checkpoint_sink(
        stateful_user_totals(read_events_stream(spark, sf_dir)),
        output_mode="update",
        state_partitions=_state_parts(spark, sf_dir),
    )
    final = sink.groupBy("user_id").agg(
        F.max(F.struct("n_events", "total_cents")).alias("_s")
    )
    return final.select(
        "user_id",
        F.col("_s.n_events").alias("n_events"),
        F.col("_s.total_cents").alias("total_cents"),
    )


def _has_protobuf() -> bool:
    """transformWithStateInPandas talks to the JVM state server through
    protobuf-generated messages (pyspark.sql.streaming.proto). The
    pinned container ships no ``google.protobuf``, so the query below
    registers only where the runtime dependency actually exists —
    otherwise the operator stays import-clean but ungraded (same policy
    as the compressed multimodal codecs)."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def _st_transform_state_oracle() -> str:
    return """
    SELECT user_id, event_type,
           count(*) AS n_events,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM events
    GROUP BY user_id, event_type
    """


def st_transform_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user per-event-type running profile via the Spark 4.x
    ``transformWithStateInPandas`` StatefulProcessor API (MapState keyed
    by event_type, exact integer cents, RocksDB state store). Update
    mode emits a row per touched (user, type) per micro-batch; the
    final state is the row with the largest n_events (strictly
    monotone; see st_stateful_totals for why max(total_cents) is not).
    Cents are rounded per event before summing, making the result
    independent of micro-batch boundaries — that property is what the
    oracle hash verifies across the two engines."""
    from mie_spark.streaming import transform_state_profile

    sink = run_to_checkpoint_sink(
        transform_state_profile(read_events_stream(spark, sf_dir)),
        output_mode="update",
        state_partitions=_state_parts(spark, sf_dir),
        extra_confs={
            "spark.sql.streaming.stateStore.providerClass": (
                "org.apache.spark.sql.execution.streaming."
                "state.RocksDBStateStoreProvider"
            )
        },
    )
    final = sink.groupBy("user_id", "event_type").agg(
        F.max(F.struct("n_events", "total_cents")).alias("_s")
    )
    return final.select(
        "user_id",
        "event_type",
        F.col("_s.n_events").alias("n_events"),
        F.col("_s.total_cents").alias("total_cents"),
    )


if _has_protobuf():  # pragma: no cover - absent in the pinned container
    query("st_transform_state", oracle=_st_transform_state_oracle())(
        st_transform_state
    )


@query(
    "st_attribution_join",
    oracle="""
    SELECT v.user_id,
           count(*) AS n_pairs,
           count(DISTINCT p.event_id) AS n_purchases
    FROM events v
    JOIN events p
      ON v.user_id = p.user_id
     AND v.event_type = 'view' AND p.event_type = 'purchase'
     AND v.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts
    GROUP BY v.user_id
    """,
)
def st_attribution_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (view→purchase attribution within
    1 hour), both sides watermarked so join state is evictable. The
    bounded availableNow drain makes the inner join oracle-exact; the
    per-user rollup runs on the drained sink."""
    from mie_spark.streaming import attribution_join

    # one source, two filtered branches (stream self-join): the events
    # file is scanned once per micro-batch, not once per side
    ev = read_events_stream(spark, sf_dir)
    views = ev.filter(F.col("event_type") == "view")
    purchases = ev.filter(F.col("event_type") == "purchase")
    # state stores = partitions × stateful ops; the join key space
    # (users) is small relative to the batch shuffle default, so size
    # the stateful shuffle down for this query
    pairs = run_to_checkpoint_sink(
        attribution_join(views, purchases),
        output_mode="append",
        state_partitions=_state_parts(spark, sf_dir),
    )
    return pairs.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.count_distinct("purchase_id").alias("n_purchases"),
    )


@query(
    "st_enrich_join",
    oracle="""
    SELECT strftime(date_trunc('day', e.ts), '%Y-%m-%d') AS day,
           c.c_mktsegment,
           count(*) AS n_purchases,
           CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT)
             AS spend_cents
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    WHERE e.event_type = 'purchase'
    GROUP BY 1, 2
    """,
)
def st_enrich_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment (purchase stream × customer dimension)
    rolled up to spend per segment per day — the third streaming join
    mode, completing the coverage next to stream-stream
    (st_attribution_join) and self-contained stateful ops. Complete
    mode for oracle exactness on the bounded run; integer-cent sums
    keep the hash float-free."""
    from mie_spark.sources import load_table
    from mie_spark.streaming import enriched_segment_spend

    events = read_events_stream(spark, sf_dir)
    customers = load_table(spark, sf_dir, "customer")
    stream = enriched_segment_spend(events, customers)
    return run_to_checkpoint_sink(stream, output_mode="complete", state_partitions=_state_parts(spark, sf_dir))


@query(
    "st_heavy_hitters",
    oracle="""
    WITH c AS (
      SELECT CAST(floor(value) AS BIGINT) AS bucket, count(*)::BIGINT AS cnt
      FROM events GROUP BY 1
    ), t AS (SELECT count(*)::BIGINT AS total FROM events)
    SELECT bucket, cnt,
           ((2 * cnt * 10000 + total) // (2 * total)) / 10000.0 AS share
    FROM c, t
    WHERE cnt * 200 >= total
    """,
)
def st_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ev_heavy_hitters: the Misra-Gries summary is
    MAINTAINED INCREMENTALLY by a foreachBatch job
    (stream_heavy_hitters_summary — per-batch bounded summaries merged
    into a <= k-row state, mergeable-summaries guarantee), then the
    drained candidate set is exactly recounted against the corpus and
    cut at 0.5% with the cross-multiplied BIGINT rule. Same oracle as
    the batch form — the hash proves the incremental sketch loses no
    heavy key across micro-batch boundaries."""
    import tempfile

    from mie_spark.sources import load_table
    from mie_spark.streaming import (
        load_heavy_hitter_candidates,
        read_events_stream,
        stream_heavy_hitters_summary,
    )

    summary_dir = tempfile.mkdtemp(prefix="mg_summary_")
    stream = read_events_stream(spark, sf_dir).select(
        F.floor("value").cast("long").alias("bucket")
    )
    stream_heavy_hitters_summary(stream, "bucket", summary_dir, k=400)
    cand = load_heavy_hitter_candidates(spark, summary_dir)
    ev = load_table(spark, sf_dir, "events").select(
        F.floor("value").cast("long").alias("bucket")
    )
    total = ev.agg(F.count(F.lit(1)).alias("_total"))
    from mie_spark.functions.numeric import share_half_up_4dp

    share = share_half_up_4dp(F.col("cnt"), F.col("_total"))
    return (
        ev.filter(F.col("bucket").isin(cand) if cand else F.lit(False))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("cnt") * 200 >= F.col("_total"))
        .select("bucket", "cnt", share.alias("share"))
    )


@query(
    "st_bitmap_distinct",
    oracle="""
    SELECT event_type, count(DISTINCT user_id)::BIGINT AS n_distinct
    FROM events GROUP BY event_type
    """,
)
def st_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ev_bitmap_distinct: per-type distinct-user
    bitmaps are MAINTAINED INCREMENTALLY by a foreachBatch job
    (stream_bitmap_distinct — per-batch 32-bit-word bitmaps OR-merged
    into a versioned parquet state with an atomic pointer commit), then
    the drained state's popcounts are read back. Same independent
    count(DISTINCT) oracle as the batch form — the hash proves the
    incremental merge loses and double-counts nothing across
    micro-batch boundaries; bit_or's idempotence is what makes replay
    exactness free (pinned in tests/test_streaming.py)."""
    import tempfile

    from mie_spark.streaming import (
        load_bitmap_distinct,
        read_events_stream,
        stream_bitmap_distinct,
    )

    state_dir = tempfile.mkdtemp(prefix="bm_state_")
    stream = read_events_stream(spark, sf_dir).select("event_type", "user_id")
    stream_bitmap_distinct(stream, "event_type", "user_id", state_dir)
    return load_bitmap_distinct(spark, state_dir, "event_type")


@query(
    "st_sliding_distinct",
    oracle="""
    WITH du AS (
      SELECT DISTINCT date_trunc('day', ts) AS day, user_id FROM events
    ), days AS (SELECT DISTINCT day FROM du)
    SELECT strftime(d.day, '%Y-%m-%d') AS day,
           count(DISTINCT e.user_id)::BIGINT AS n_users
    FROM days d
    JOIN du e ON e.day BETWEEN d.day - INTERVAL 6 DAY AND d.day
    GROUP BY d.day
    """,
)
def st_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ev_sliding_distinct (rolling-WAU): the same
    foreachBatch bitmap state as st_bitmap_distinct, keyed by DAY
    instead of event type — micro-batches OR into per-(day, word)
    bitmaps, so late or replayed events land idempotently in their
    day's bitmap and the trailing window never needs re-aggregation of
    raw ids. The readback applies ev_sliding_distinct's fan-out merge
    (each bitmap row serves its <= 7 window-end days) over the drained
    state. Same naive BETWEEN-join oracle as the batch form — the hash
    proves the incremental day-bitmap state composes with the window
    merge across micro-batch boundaries."""
    import tempfile

    from mie_spark.streaming import (
        load_bitmap_state,
        read_events_stream,
        stream_bitmap_distinct,
    )

    from mie_spark.operators.sketch import sliding_distinct_counts

    state_dir = tempfile.mkdtemp(prefix="bm_slide_state_")
    stream = read_events_stream(spark, sf_dir).select(
        F.date_trunc("day", "ts").alias("day"), "user_id"
    )
    stream_bitmap_distinct(stream, "day", "user_id", state_dir)
    counts = sliding_distinct_counts(
        load_bitmap_state(spark, state_dir), window_days=7
    )
    return counts.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"), "n_users"
    )


@query(
    "st_txn_rollup",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hour,
           event_type,
           count(*)::BIGINT AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS value_cents
    FROM events GROUP BY 1, 2
    """,
)
def st_txn_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACTLY-ONCE streaming rollup through the multi-table
    transaction (stream_exactly_once_rollup): micro-batches of events
    fold additive (hour, type) counters into the snapshot store, each
    batch's merged state and its commit-ledger marker landing behind
    ONE manifest rename — so a replayed batch no-ops and a mid-commit
    crash exposes neither. Additive counters are the hard case the
    bitmap twins dodge (bit_or is idempotent, addition is not); this
    is the pattern that makes them safe. The drained state must equal
    the one-shot batch rollup bit for bit — the hash proves no batch
    was lost, duplicated, or half-applied across every micro-batch
    boundary. Crash/replay injection lives in tests/test_streaming.py;
    the maxFilesPerTrigger=1-style batching here comes from the file
    source's natural splits."""
    import shutil
    import tempfile

    from mie_spark.storage import MieStore
    from mie_spark.streaming import (
        read_events_stream,
        stream_exactly_once_rollup,
    )

    scratch = tempfile.mkdtemp(prefix="txn_rollup_")
    store = MieStore(spark, path=scratch, embedding_dim=4)
    stream = read_events_stream(spark, sf_dir).select(
        "ts", "event_type", "value"
    )
    stream_exactly_once_rollup(stream, store, stream_id="st_txn_rollup")
    # The drained state is bounded (hours x event types): pin it into
    # the block manager so the scratch store can be removed NOW rather
    # than leaking a txn_rollup_* dir per invocation (ADVICE r8).
    out = store.table("mie_rollup_hourly").select(
        "hour", "event_type", "n", "value_cents"
    ).localCheckpoint()
    shutil.rmtree(scratch, ignore_errors=True)
    return out


def _st_dedup_minhash_impl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared body for st_dedup_minhash (registered below with the
    batch pipeline's oracle, imported from queries/dedup.py to keep
    the two graded against ONE SQL text)."""
    import shutil
    import tempfile

    from pyspark import StorageLevel

    from mie_spark.operators.dedup import (
        _doc_shingles,
        minhash_band_candidates,
        verify_jaccard_pairs,
    )
    from mie_spark.sources import load_table
    from mie_spark.streaming import (
        load_minhash_state,
        read_documents_stream,
        stream_minhash_signatures,
    )

    state_dir = tempfile.mkdtemp(prefix="mh_state_")
    stream = read_documents_stream(spark, sf_dir).select("doc_id", "text")
    stream_minhash_signatures(stream, state_dir)
    sigs = load_minhash_state(spark, state_dir)
    cand = minhash_band_candidates(sigs, bands=16, rows=4).localCheckpoint()
    # exact verification reads the corpus table's shingles — but ONLY
    # the candidate docs' (unlike the batch pipeline, which needs every
    # doc's shingles for the signature build anyway, here signatures
    # come from the maintained state, so the corpus prunes to the few
    # candidate ids via a broadcast semi-join BEFORE the shingle regex
    # runs). State carries signatures, never text.
    ids = (
        cand.select(F.col("a_id").alias("doc_id"))
        .union(cand.select(F.col("b_id").alias("doc_id")))
        .distinct()
    )
    docs_c = load_table(spark, sf_dir, "documents").join(
        F.broadcast(ids), "doc_id", "left_semi"
    )
    sh = _doc_shingles(docs_c, "doc_id", "text", 3).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    pairs = verify_jaccard_pairs(cand, sh, threshold=0.5)
    out = pairs.select(
        "a_id", "b_id", F.round("jaccard", 6).alias("jaccard")
    ).localCheckpoint()
    sh.unpersist()
    shutil.rmtree(state_dir, ignore_errors=True)
    return out


from mie_spark.queries.dedup import _JACCARD_ORACLE  # noqa: E402


@query("st_dedup_minhash", oracle=_JACCARD_ORACLE)
def st_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of dedup_minhash_lsh — INCREMENTAL near-dup
    index maintenance (the last batch/streaming asymmetry in the dedup
    family): per-doc MinHash signatures are maintained by a
    foreachBatch job (stream_minhash_signatures — map-only signature
    build per micro-batch, replace-by-key into a versioned parquet
    state behind an atomic pointer; replay-exact by IDEMPOTENCE, a
    signature being a pure function of the text), then the drained
    signature state feeds the SAME banded-LSH candidate + exact-Jaccard
    verification stages as the batch pipeline. Same exact-pair oracle
    as the batch form — the hash proves the incrementally-built index
    finds exactly the pairs a one-shot build finds, across every
    micro-batch boundary."""
    return _st_dedup_minhash_impl(spark, sf_dir)


from mie_spark.queries.dedup import _DECONTAMINATE_ORACLE  # noqa: E402


@query("st_decontaminate", oracle=_DECONTAMINATE_ORACLE)
def st_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of pipe_decontaminate (VERDICT r9 stretch — the
    st_dedup_minhash doctrine applied to decontamination): the
    benchmark suite arrives as a stream and its DISTINCT 8-token
    shingle set is maintained by a foreachBatch job
    (stream_benchmark_shingles — set-union state, replay-exact because
    union is idempotent); the corpus then arrives as a second stream
    whose micro-batches semi-probes the committed benchmark state
    (broadcast hash probe, the corpus batch never shuffles on text)
    and REPLACE-BY-KEY upserts its (doc, n_shared) contamination rows
    (stream_decontaminate — n_shared is a pure function of doc text +
    benchmark set, so replays rewrite identical rows). The drained
    result table grades against the SAME SQL text as the batch
    pipeline — the hash proves the incrementally-maintained
    contamination index flags exactly the docs a one-shot scan flags,
    across every micro-batch boundary. State: O(benchmark shingles) +
    O(contaminated docs) — both tiny next to a 100 TB corpus."""
    import shutil
    import tempfile

    from mie_spark.streaming import (
        load_decontaminate_results,
        read_documents_stream,
        stream_benchmark_shingles,
        stream_decontaminate,
    )

    bench_dir = tempfile.mkdtemp(prefix="bench_sh_")
    result_dir = tempfile.mkdtemp(prefix="decontam_")
    bench_stream = read_documents_stream(spark, sf_dir).filter(
        F.col("doc_id") < 100
    )
    stream_benchmark_shingles(bench_stream, bench_dir, n=8)
    corpus_stream = read_documents_stream(spark, sf_dir).filter(
        F.col("doc_id") >= 100
    )
    stream_decontaminate(corpus_stream, bench_dir, result_dir, n=8)
    out = (
        load_decontaminate_results(spark, result_dir)
        .select(F.col("doc").alias("doc_id"), "n_shared")
        .localCheckpoint()
    )
    shutil.rmtree(bench_dir, ignore_errors=True)
    shutil.rmtree(result_dir, ignore_errors=True)
    return out


_SAMP_FIXED_K_ORACLE = """
    WITH ranked AS (
      SELECT source, doc_id,
             row_number() OVER (PARTITION BY source
                                ORDER BY md5(doc_id::VARCHAR), doc_id) AS rk
      FROM documents
    )
    SELECT source, doc_id, CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= 5
    """


@query("st_sample_fixed_k", oracle=_SAMP_FIXED_K_ORACLE)
def st_sample_fixed_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of samp_fixed_k — the INCREMENTAL reservoir: an
    eval/holdout sample that stays pinned while the corpus streams in.
    foreachBatch maintains the k-smallest-md5-keys-per-stratum state
    (stream_fixed_k_sample: per-batch local top-k, merge, re-top-k,
    versioned atomic-pointer commit); because the selection rule is a
    pure function of the SET of ids seen, the drained state is
    independent of batch cuts and replay-exact by idempotence. Graded
    against the SAME SQL text as the batch form — the hash proves the
    incrementally-maintained sample equals the one-shot sample exactly.
    State is O(strata x k) rows regardless of stream length."""
    import shutil
    import tempfile

    from mie_spark.streaming import (
        load_fixed_k_sample,
        read_documents_stream,
        stream_fixed_k_sample,
    )

    state_dir = tempfile.mkdtemp(prefix="fixedk_")
    stream = read_documents_stream(spark, sf_dir).select("source", "doc_id")
    stream_fixed_k_sample(stream, state_dir, "source", "doc_id", k=5)
    out = (
        load_fixed_k_sample(spark, state_dir, "source", "doc_id")
        .select("source", "doc_id", F.col("rk").cast("long").alias("rk"))
        .localCheckpoint()
    )
    shutil.rmtree(state_dir, ignore_errors=True)
    return out


from mie_spark.queries.relational import KS_DRIFT_ORACLE  # noqa: E402


@query("st_drift_ks", oracle=KS_DRIFT_ORACLE)
def st_drift_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of dq_drift_ks: the (event_type, day, value-unit
    bucket) census is maintained INCREMENTALLY by the streaming state
    store (complete-mode aggregate — each micro-batch folds its rows
    into the standing cells), and the bounded KS projection
    (half-split by day rank, cross-multiplied integer CDF gap) runs
    over the drained census via the SAME ks_drift_from_cells the batch
    gate uses, grading against the SAME SQL text. This is the ingest
    shape: the census accretes as batches arrive; the drift verdict is
    recomputed from O(types x days x units) state, never by rescanning
    the corpus. State is census-bounded exactly like st_hourly_agg;
    the production path would age out days past the comparison horizon
    with a watermark."""
    from mie_spark.queries.relational import (
        drift_cells_census,
        ks_drift_from_cells,
    )

    ev = read_events_stream(spark, sf_dir)
    drained = run_to_checkpoint_sink(
        drift_cells_census(ev), output_mode="complete", state_partitions=_state_parts(spark, sf_dir)
    )
    return ks_drift_from_cells(drained)


from mie_spark.queries.events import CUSUM_ORACLE  # noqa: E402


@query("st_changepoint", oracle=CUSUM_ORACLE)
def st_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ev_changepoint: the daily revenue census is
    maintained INCREMENTALLY by the streaming state store
    (complete-mode day aggregate in integer cents), and the bounded
    CUSUM projection (xD-scaled deviation + argmax peak) runs over the
    drained census via the SAME cusum_from_daily the batch locator
    uses, grading against the SAME SQL text. This is the monitoring
    shape: "did the metric level shift, and when?" recomputes from
    O(|days|) state on every drain, never by rescanning events. Same
    doctrine as st_drift_ks; the production path ages out days beyond
    the detection horizon with a watermark."""
    from mie_spark.queries.events import cusum_from_daily, daily_cents_census

    ev = read_events_stream(spark, sf_dir)
    drained = run_to_checkpoint_sink(
        daily_cents_census(ev), output_mode="complete", state_partitions=_state_parts(spark, sf_dir)
    )
    return cusum_from_daily(drained)


from mie_spark.queries.events import _holt_oracle  # noqa: E402


@query("st_forecast_holt", oracle=_holt_oracle())
def st_forecast_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ev_forecast_holt: the daily revenue census
    accretes in the complete-mode state store, and the bounded Holt
    recurrence replays over the drained census via the SAME
    holt_from_daily the batch form uses, grading against the SAME
    recursive-CTE SQL. This is how a forecasting baseline actually
    runs in an ingest pipeline — per micro-batch the state store folds
    new events into day cells, and the model refits from O(|days|)
    state at drain, never rescanning events. Completes the
    batch/streaming twin set across the analytics verticals: dedup
    (st_dedup_minhash), decontamination (st_decontaminate), sampling
    (st_sample_fixed_k), drift (st_drift_ks), changepoint
    (st_changepoint), and now forecasting."""
    from mie_spark.queries.events import daily_cents_census, holt_from_daily

    ev = read_events_stream(spark, sf_dir)
    drained = run_to_checkpoint_sink(
        daily_cents_census(ev), output_mode="complete", state_partitions=_state_parts(spark, sf_dir)
    )
    return holt_from_daily(drained)


from mie_spark.queries.text import TOKENIZER_DRIFT_ORACLE  # noqa: E402


@query("st_tokenizer_drift", oracle=TOKENIZER_DRIFT_ORACLE)
def st_tokenizer_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of pipe_tokenizer_drift — the ingest-time
    tokenizer-coverage gate: the (source, word, n_curr, n_prev) token
    census accretes in the complete-mode state store (each corpus
    micro-batch folds its tokenized words into the standing cells via
    the SAME tokenizer_census the batch gate aggregates), and the
    vocab + OOV-ppm drift verdict recomputes from the drained
    vocabulary-bounded state via the SAME tokenizer_drift_from_census
    projection, grading against the SAME SQL text. This is how the
    gate actually deploys: as crawl shards stream in, the census
    updates incrementally and 'does the shipped tokenizer still cover
    the refresh?' re-answers per micro-batch from O(sources x vocab)
    state — never a corpus rescan. Eighth member of the twin set
    (dedup, decontamination, sampling, drift, changepoint, forecast,
    exact quantiles, experiment monitoring, tokenizer coverage)."""
    from mie_spark.queries.text import (
        tokenizer_census,
        tokenizer_drift_from_census,
    )

    from mie_spark.streaming import read_documents_stream

    docs = read_documents_stream(spark, sf_dir)
    drained = run_to_checkpoint_sink(
        tokenizer_census(docs), output_mode="complete", state_partitions=_state_parts(spark, sf_dir, "documents")
    )
    return tokenizer_drift_from_census(drained.localCheckpoint())


from mie_spark.queries.events import AB_TEST_ORACLE  # noqa: E402


@query("st_ab_test", oracle=AB_TEST_ORACLE)
def st_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ev_ab_test — SEQUENTIAL experiment
    monitoring: the per-user conversion census accretes in the
    complete-mode state store (each micro-batch folds its events into
    the standing per-user max-converted flags via the SAME
    user_conversion_census the batch test aggregates), and the pooled
    two-proportion z recomputes from the drained O(|users|) state via
    the SAME ab_test_from_users projection, grading against the SAME
    SQL text. This is the anytime monitor every experimentation stack
    runs: the z-statistic refreshes per micro-batch from
    experiment-bounded state — a user's flag is idempotent under
    replay (max of 0/1), so late or duplicated events never flip a
    verdict — and the honest deployment pairs it with a sequential
    boundary (the fixed 1.96 threshold is anytime-INVALID; the
    significant column is the gate input, not a peeking license).
    Same doctrine as st_drift_ks/st_changepoint; state is users, not
    events."""
    from mie_spark.queries.events import (
        ab_test_from_users,
        user_conversion_census,
    )

    ev = read_events_stream(spark, sf_dir)
    drained = run_to_checkpoint_sink(
        user_conversion_census(ev), output_mode="complete", state_partitions=_state_parts(spark, sf_dir)
    )
    return ab_test_from_users(drained)


from mie_spark.queries.analytic import QUANTILES_ORACLE  # noqa: E402


@query("st_exact_quantiles", oracle=QUANTILES_ORACLE)
def st_exact_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of w_exact_quantiles: the (cents, cnt) value
    census accretes in the complete-mode state store — each
    micro-batch folds its lineitem rows into the standing cells — and
    the exact nearest-rank percentiles recompute from O(|distinct
    values|) state at drain via the SAME quantiles_from_census
    projection (two_level_cumsum prefix sum + broadcast range join),
    grading against the SAME SQL text. This is the latency-dashboard
    shape: exact running percentiles without ever rescanning the
    corpus, the streaming complement of ev_quantile_bound's sketch.

    The drain goes through the checkpoint sink (r14; r13 used the
    parquet sink here): this census is the one twin state proportional
    to ROW count (583k cells at sf0.1 — every other twin's census is
    domain-bounded at <= ~25k cells), so the memory sink's driver
    round-trip (collect the full state, then re-serialize it to the
    executors for the prefix sum) is the guide-§5 driver anti-pattern.
    The checkpoint sink keeps the last complete-mode emission as
    executor-side blocks — no driver bytes, no files. Measured
    same-session A/B at sf0.1: memory 4.48 s / parquet 2.88 /
    checkpoint 2.69 (see run_to_checkpoint_sink)."""
    from mie_spark.queries.analytic import (
        price_cents_census,
        quantiles_from_census,
    )
    from mie_spark.streaming import read_lineitem_stream

    li = read_lineitem_stream(spark, sf_dir)
    drained = run_to_checkpoint_sink(
        price_cents_census(li), output_mode="complete", state_partitions=_state_parts(spark, sf_dir, "lineitem")
    )
    return quantiles_from_census(drained)


from mie_spark.queries.text import PACK_BESTFIT_ORACLE  # noqa: E402


@query("st_pack_bestfit", oracle=PACK_BESTFIT_ORACLE)
def st_pack_bestfit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of pipe_pack_bestfit — the ingest-time packing
    manifest: the (source, doc_id, n_tokens) census accretes in the
    complete-mode state store (per-doc token counts are deterministic,
    so each micro-batch's max() fold is idempotent under replay — the
    SAME pack_token_census the batch manifest aggregates), and the
    first-fit-decreasing manifest recomputes from the drained
    O(|packable docs|) state via the SAME ffd_from_census projection,
    grading against the SAME SQL text. This is how packing actually
    deploys against a live crawl: the census updates incrementally per
    shard and the manifest a trainer loads is re-derived from state —
    never from a corpus rescan (placements are order-global, so an
    arrival-order append discipline would be next-fit, a different,
    worse packing). Ninth member of the twin set (dedup,
    decontamination, sampling, drift, changepoint, forecast, exact
    quantiles, experiment monitoring, tokenizer coverage, packing)."""
    from mie_spark.queries.text import ffd_from_census, pack_token_census
    from mie_spark.streaming import read_documents_stream

    docs = read_documents_stream(spark, sf_dir)
    drained = run_to_checkpoint_sink(
        pack_token_census(docs), output_mode="complete", state_partitions=_state_parts(spark, sf_dir, "documents")
    )
    return ffd_from_census(drained)


from mie_spark.queries.relational import SCHEMA_DRIFT_ORACLE  # noqa: E402


@query("st_schema_drift", oracle=SCHEMA_DRIFT_ORACLE)
def st_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of dq_schema_drift — the ingest-time schema
    gate, which is where a schema diff actually runs: the 11-counter
    census accretes in the complete-mode state store (each event
    micro-batch folds its conditional counts into the standing
    counters via the SAME schema_drift_census the batch gate
    aggregates — plain counts, no DISTINCT, so the streaming aggregate
    is supported and replay-idempotent), and the 4-field
    added/dropped/type_changed verdict report recomputes from the
    drained ONE-row state via the SAME schema_report_from_census
    projection, grading against the SAME SQL text. 'Did the upstream
    rollout change the payload shape?' re-answers per micro-batch from
    O(counters) state — never a corpus rescan. Tenth member of the
    twin set (dedup, decontamination, sampling, drift, changepoint,
    forecast, exact quantiles, experiment monitoring, tokenizer
    coverage, packing, schema)."""
    from mie_spark.queries.relational import (
        schema_drift_census,
        schema_report_from_census,
    )

    ev = read_events_stream(spark, sf_dir)
    drained = run_to_checkpoint_sink(
        schema_drift_census(ev), output_mode="complete", state_partitions=_state_parts(spark, sf_dir)
    )
    return schema_report_from_census(drained)


from mie_spark.queries.multimodal import PHASH_HAMMING_ORACLE  # noqa: E402


@query("st_phash_hamming", oracle=PHASH_HAMMING_ORACLE)
def st_phash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of mm_phash_hamming — image near-dup detection
    at ingest, which is where a crawl actually runs it: each document
    micro-batch flows through the stateless codec chain (payload ->
    pHash, a pure function of the bytes, so re-delivery is idempotent)
    and folds into the complete-mode (asset_id, phash) signature
    census via the SAME phash_signature_census the batch query
    aggregates; the banded-candidate + exact-verify pair census
    recomputes from the drained O(|images|) state via the SAME
    phash_pairs_from_census projection, grading against the SAME SQL
    text (the end-to-end integer-DCT oracle). New images join the
    standing signature state without re-decoding the corpus — only
    the cheap (id, sig) banding pass re-runs, never the codec.
    Eleventh member of the twin set (dedup, decontamination, sampling,
    drift, changepoint, forecast, exact quantiles, experiment
    monitoring, tokenizer coverage, packing, schema, pHash)."""
    from mie_spark.queries.multimodal import (
        phash_pairs_from_census,
        phash_signature_census,
    )
    from mie_spark.streaming import read_documents_stream

    docs = read_documents_stream(spark, sf_dir)
    drained = run_to_checkpoint_sink(
        phash_signature_census(docs), output_mode="complete",
        state_partitions=_state_parts(spark, sf_dir, "documents"),
    )
    return phash_pairs_from_census(drained)
