"""Registered streaming queries: each runs a Structured Streaming
pipeline to completion (availableNow trigger → memory sink) and returns
the final table, so the driver's batch-shaped contract can check
streaming results. The tumbling aggregation has a full SQL oracle —
streaming and batch semantics coincide on a closed input."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sql_redshift_etl_spark.catalog import bounded_sort
from sql_redshift_etl_spark.functions.dialect import dec, dsum
from sql_redshift_etl_spark.operators.merge import merge_upsert
from sql_redshift_etl_spark.plans.registry import register
from sql_redshift_etl_spark.streaming.pipeline import (
    deduplicated_events,
    fold_event_batches,
    interval_join_clicks_purchases,
    read_events_stream,
    run_to_memory,
    stateful_session_counts,
    tumbling_daily_counts,
    tumbling_with_watermark,
)


@register(
    "stream_tumbling_daily",
    tags=("E1", "E5"),
    oracle="""
        SELECT date_trunc('day', ts) AS day, event_type,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        FROM events
        GROUP BY day, event_type
    """,
)
def stream_tumbling_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming tumbling-window aggregation (E1), run to
    completion with trigger(availableNow) into a memory sink. On a closed
    input, complete-mode streaming output ≡ the batch aggregation — the
    oracle checks exactly that batch/stream parity."""
    agg = tumbling_daily_counts(read_events_stream(spark, sf_dir))
    return run_to_memory(agg, "stream_tumbling_daily_sink", "complete", sf_dir)


@register(
    "stream_tumbling_watermark",
    tags=("E5",),
    oracle="""
        WITH m AS (SELECT MAX(ts) AS mx FROM events)
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
               event_type, COUNT(*) AS n_events
        FROM events, m
        WHERE date_trunc('day', ts) + INTERVAL 1 DAY <= mx - INTERVAL 1 HOUR
        GROUP BY day, event_type
    """,
)
def stream_tumbling_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked append-mode variant (E5): only windows closed by the
    final watermark are emitted — the late-data/state-eviction contract.

    SQL-oracled (upgraded from rows-only in r3): replaying the closed
    input as ONE availableNow batch makes the emitted set deterministic
    — no event is late (single batch), and availableNow's final commit
    flushes exactly the windows whose end ≤ max(ts) − delay. That
    closed-form set IS the watermark contract, so the oracle states it
    directly. Per-file replay stays rows-only territory (watermark
    trajectory then depends on file order); the subset property under
    that mode is pytest-asserted."""
    agg = tumbling_with_watermark(
        read_events_stream(spark, sf_dir, max_files_per_trigger=None)
    )
    return run_to_memory(agg, "stream_tumbling_wm_sink", "append", sf_dir)


@register(
    "stream_stateful_sessions",
    tags=("E3", "E5"),
    oracle="""
        WITH flagged AS (
            SELECT user_id,
                   CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                             OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                                >= INTERVAL '30 minutes'
                        THEN 1 ELSE 0 END AS is_new
            FROM events
        )
        SELECT user_id, COUNT(*) AS n_events, CAST(SUM(is_new) AS BIGINT) AS n_sessions
        FROM flagged GROUP BY user_id
    """,
)
def stream_stateful_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    per-user event/session counters maintained in GroupState across
    micro-batches. SQL-oracled (upgraded from rows-only in r3): the
    update-mode sink holds one row PER state update per user, and both
    counters are monotone, so the MAX per user is the final state no
    matter how the source splits into micro-batches — which must equal
    the batch recompute (the streaming/batch-parity contract; ties on
    (user, ts) cannot flip a session because a zero gap never opens
    one). Closed historical input replays as ONE availableNow batch
    (max_files_per_trigger=None) for the same reason as the interval
    join: shuffle-written part files each span the full time range, so
    per-file batches would feed the session state out of time order
    (observed at sf1: 26 vs 44 sessions for one user). Real cross-batch
    continuity is proven by tests/test_streaming.py's time-ordered
    multi-file replay."""
    out = stateful_session_counts(
        read_events_stream(spark, sf_dir, max_files_per_trigger=None)
    )
    return (
        run_to_memory(out, "stream_sessions_sink", "update", sf_dir)
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max("n_sessions").alias("n_sessions"),
        )
    )


@register(
    "stream_dedup_exactly_once",
    tags=("E5", "L1"),
    oracle="""
        SELECT event_type, COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        FROM events
        GROUP BY event_type
    """,
)
def stream_dedup_exactly_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup (exactly-once ingestion): the stream carries
    re-delivered duplicates (every 10th event appears twice); streaming
    dropDuplicates on event_id must restore exactly the source relation —
    the oracle is the plain batch aggregation over the ORIGINAL events
    table, so any surviving duplicate or dropped event hash-mismatches."""
    dedup = deduplicated_events(read_events_stream(spark, sf_dir))
    return (
        run_to_memory(dedup, "stream_dedup_sink", "append", sf_dir)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", 2, 8).alias("total_value"),
        )
    )


@register(
    "stream_stream_interval_join",
    tags=("E2", "E5", "J5"),
    oracle="""
        SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
               c.ts AS click_ts, p.ts AS purchase_ts,
               CAST(CAST(p.value AS DECIMAL(18,2)) AS DOUBLE) AS purchase_value
        FROM events c JOIN events p
          ON c.user_id = p.user_id
         AND c.event_type = 'click' AND p.event_type = 'purchase'
         AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
        ORDER BY click_id, purchase_id
    """,
)
def stream_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (click→purchase attribution within 30
    minutes), run to completion with trigger(availableNow) into a memory
    sink. Inner stream-stream joins emit every match on a closed input
    regardless of watermark progression, so the append-mode output must
    equal the batch range join — the oracle IS that batch join, making
    this a full batch/stream-parity check of Spark's stream-stream join
    state machine."""
    joined = interval_join_clicks_purchases(spark, sf_dir, gap_minutes=30)
    sink = run_to_memory(joined, "stream_interval_join_sink", "append", sf_dir)
    # The memory sink is driver-resident by construction, so the final
    # total order can skip the range-sampling exchange (bounded_sort).
    return bounded_sort(sink, "click_id", "purchase_id")


@register(
    "stream_foreachbatch_upsert",
    tags=("E5", "E6"),
    oracle="""
        SELECT user_id, COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        FROM events
        GROUP BY user_id
        ORDER BY user_id
    """,
)
def stream_foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MERGE from a stream (the streaming half of E6): events
    are staged into 4 files and streamed one file per micro-batch;
    foreachBatch aggregates each batch per user and MERGEs it into an
    accumulating profile table (operators.merge.merge_upsert over
    alternating parquet generations — the lakehouse-less upsert). The
    oracle is the full-recompute aggregate over ALL events: equality
    proves batchwise merge ≡ recompute, i.e. the upsert algebra is
    associative and loses nothing across batch boundaries.

    Scale: this is the scheduled-COPY + MERGE pattern — each micro-batch
    shuffles only its own per-user partials, the target is rewritten via
    a key-partitioned join (broadcast when the delta is small), and
    state lives in the table, not the stream. The fold
    (``fold_event_batches``) skips re-delivered batch ids, so a retried
    batch never double-merges its partials. Totals accumulate in
    DECIMAL(28,2) so the merge is exact and order-insensitive."""
    profile = fold_event_batches(
        spark,
        sf_dir,
        "stream_profile",
        lambda batch: batch.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec("value")).cast("decimal(28,2)").alias("total_dec"),
        ),
        lambda tgt, src: merge_upsert(
            tgt,
            src,
            ["user_id"],
            update_set={
                "n_events": F.col("t.n_events") + F.col("s.n_events"),
                "total_dec": (F.col("t.total_dec") + F.col("s.total_dec")).cast("decimal(28,2)"),
            },
            broadcast_source=True,
        ),
    )
    return profile.select(
        "user_id", "n_events", F.col("total_dec").cast("double").alias("total_value")
    ).orderBy("user_id")


@register(
    "stream_hll_incremental",
    tags=("E5", "A3"),
    oracle="""
        SELECT event_type, COUNT(DISTINCT user_id) AS n_users
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
)
def stream_hll_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental distinct-cardinality from a stream: each micro-batch
    builds per-type DataSketches HLL sketches (hll_sketch_agg) and
    hll_union's them into the accumulated sketch table (full-outer join
    on the group key, alternating parquet generations) —
    HLL_COMBINE-as-you-go, the streaming face of the sketch
    mergeability story: state per group is a few KB regardless of how
    many ids ever streamed past, and history is never re-scanned.

    The oracle is the EXACT distinct count over all events: valid
    because DataSketches HLL (lgK=12) stays in its sparse EXACT
    representation until ~1k distinct per group and the fixture has
    ~150 users/type — the equality proves batchwise union ≡ one-shot
    count with zero sketch error in that regime. Beyond the sparse
    bound the same plan degrades to the documented ±0.8% estimate
    (lgK 12), and the oracle would be relaxed to a tolerance check.

    Same fold as stream_foreachbatch_upsert (fold_event_batches).
    """
    sketches = fold_event_batches(
        spark,
        sf_dir,
        "hll_state",
        lambda batch: batch.groupBy("event_type").agg(
            F.expr("hll_sketch_agg(user_id, 12)").alias("sk")
        ),
        lambda tgt, src: tgt.alias("t").join(src.alias("s"), "event_type", "full").select(
            "event_type",
            F.expr(
                "CASE WHEN t.sk IS NULL THEN s.sk "
                "WHEN s.sk IS NULL THEN t.sk "
                "ELSE hll_union(t.sk, s.sk) END"
            ).alias("sk"),
        ),
    )
    return bounded_sort(
        sketches.select(
            "event_type",
            F.expr("hll_sketch_estimate(sk)").cast("bigint").alias("n_users"),
        ),
        "event_type",
    )
