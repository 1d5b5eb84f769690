"""Structured Streaming pipelines over the events stream (SURVEY.md
§2.8 E1/E3/E5 streaming variants).

The same logical operators as operators.events, expressed over
readStream — batch/stream parity is the design point: window(),
session_window(), and the aggregation expressions are shared idioms, so
an ETL can promote a batch job to incremental streaming without
rewriting semantics.

Every registered stream runs through one of two runners, one per sink:

- ``run_to_memory`` (memory sink): runs a streaming plan to completion
  and returns the sink table. It sizes the state store for the plan:
  ``spark.sql.shuffle.partitions`` is ceil(events rows / 12,500) from
  the parquet footers, capped at ``defaultParallelism`` and floored at 1
  (``stream_state_partitions``), set for the stream's start only and
  restored after.
- ``fold_event_batches`` (foreachBatch sink): stages events into 4
  files, streams one file per micro-batch and folds each batch's partial
  into a table kept as alternating parquet generations
  (``GenerationFold``). A query supplies only its partial, its combine
  step and its final projection.

Scale notes:
- File-source streaming at 100 TB: maxFilesPerTrigger bounds each
  micro-batch; state store (RocksDB in prod conf) holds window/session
  state keyed by (window, user) — watermarks bound its growth.
- availableNow trigger = incremental batch: process everything pending,
  checkpoint, stop — the Redshift scheduled-COPY analog.
"""

from __future__ import annotations

import shutil
from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import StructField, StructType

from sql_redshift_etl_spark.catalog import empty_frame, load_table, read_parquet
from sql_redshift_etl_spark.scale import parquet_total_rows
from sql_redshift_etl_spark.session import apply_runtime_confs
from sql_redshift_etl_spark.sources.queries import _io_dir

# Target input rows per streaming state partition. Stateful-operator cost
# per micro-batch is O(shuffle partitions): every partition owns a state
# store whose load/commit and per-batch WAL/checkpoint files are paid
# even when (nearly) empty — measured at sf0.1 (100k events,
# tools/stream_attribution.py): the interval join's stream run falls
# 6.66 -> 2.41 -> 1.66 s going 32 -> 8 -> 2 partitions, while the
# Python-stateful sessions query WANTS compute parallelism (5.24 s at 1
# partition vs 1.36 s at 8). ~12.5k rows/partition sits in both sweet
# spots. Unlike batch shuffles, AQE cannot coalesce these (the partition
# count is pinned into the checkpoint's state layout), so the derivation
# from input size below is the scale-adaptive mechanism.
STREAM_TARGET_ROWS_PER_PARTITION = 12_500


def stream_state_partitions(spark: SparkSession, sf_dir: str) -> int:
    """Scale-adaptive state-partition count for the event streams:
    ceil(input rows / STREAM_TARGET_ROWS_PER_PARTITION) from the parquet
    footers (driver-side, zero jobs), capped at the cluster's default
    parallelism and floored at 1. At 100 TB the cap keeps today's
    behavior (partitions = cluster cores)."""
    rows = parquet_total_rows(f"{sf_dir}/events.parquet") or 0
    t = STREAM_TARGET_ROWS_PER_PARTITION
    return max(1, min((rows + t - 1) // t, spark.sparkContext.defaultParallelism))


def read_events_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = 1
) -> DataFrame:
    """events.parquet as a file-source stream (schema must be explicit —
    streaming sources never infer).

    ``max_files_per_trigger=1`` (default) exercises the incremental
    micro-batch machinery when the input is a multi-file directory.
    Order-SENSITIVE consumers (watermarked stream-stream joins) must pass
    ``None``: shuffle-written part files each span the full time range,
    so per-file micro-batches advance the watermark to max(ts)-delay
    after the first file and evict join state the remaining files still
    need. A closed historical input replays correctly as ONE availableNow
    batch; per-file triggers are for live feeds whose arrival order
    roughly tracks event time.

    Both physical layouts of ``<sf_dir>/events.parquet`` work: the
    driver fixtures' single FILE of that name and scaled/real datasets
    where it is a DIRECTORY of part files. The streaming file source
    requires its path (basePath) to be a directory, so the directory
    layout streams it directly while the file layout streams the parent
    with a ``pathGlobFilter`` (which matches leaf-file names only — it
    would silently match zero files in the directory layout, hence the
    branch). The layout probe uses the Hadoop FileSystem API so any
    scheme (s3a://, hdfs://) resolves, not just local paths. The static
    schema a stream needs is Spark's own parquet inference, read through
    the catalog's schema cache (``catalog.read_parquet``):
    TIMESTAMP(NANOS) fixtures arrive as bigint under nanosAsLong and are
    normalized; standard µs-timestamp files pass through unchanged."""
    apply_runtime_confs(spark)
    path = f"{sf_dir}/events.parquet"
    physical = read_parquet(spark, path).schema
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    reader = spark.readStream.schema(physical)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if fs.getFileStatus(hpath).isDirectory():
        raw = reader.parquet(path)
    else:
        raw = reader.option("pathGlobFilter", "events.parquet").parquet(sf_dir)
    ts_type = dict((f.name, f.dataType.simpleString()) for f in physical).get("ts")
    if ts_type == "bigint":
        raw = raw.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif ts_type == "timestamp_ntz":
        # A vanilla session (the driver's) reads the NANOS fixture as
        # TIMESTAMP_NTZ, but withWatermark/window event time requires
        # TIMESTAMP (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE). The cast
        # interprets the naive value in session tz and toPandas renders
        # it back in the same tz — wall-clock identity, so batch-parity
        # oracles compare equal.
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def tumbling_daily_counts(stream: DataFrame) -> DataFrame:
    """Streaming tumbling-window aggregation (E1) — same expressions as
    the batch events_tumbling_daily."""
    return (
        stream.groupBy(F.window("ts", "1 day"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .select(F.col("window.start").alias("day"), "event_type", "n_events", "total_value")
    )


def tumbling_with_watermark(stream: DataFrame, delay: str = "1 hour") -> DataFrame:
    """Watermarked variant (E5): late data beyond `delay` is dropped and
    window state is evicted once the watermark passes — the knob that
    bounds state at 100 TB/day event volumes."""
    return (
        stream.withWatermark("ts", delay)
        .groupBy(F.window("ts", "1 day"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("window.start").alias("day"), "event_type", "n_events")
    )


def interval_join_clicks_purchases(
    spark: SparkSession, sf_dir: str, gap_minutes: int = 30
) -> DataFrame:
    """Stream-stream inner join with an event-time interval constraint
    (E2/J5 streaming form): each click joins the same user's purchases
    that happen within ``gap_minutes`` after it — the attribution join.

    Both sides carry watermarks; the time-range predicate is what lets
    Spark bound the join state (a click can be evicted once the purchase
    watermark passes click_ts + gap). Inner-join matches are emitted as
    they are found (watermarks gate only state cleanup, not inner-join
    emission), so on a closed input the append-mode output equals the
    batch range join — which is exactly what the SQL oracle checks.

    Scale: state is O(events inside the gap window per key), not O(all
    history); the join shuffles both streams on user_id once. The source
    is read single-batch (max_files_per_trigger=None): replaying
    unordered historical part files through per-file micro-batches would
    advance the watermark past data later files still carry and evict
    the join state it needs (observed at sf1: 17 of 1830 matches
    survive).
    """
    clicks = (
        read_events_stream(spark, sf_dir, max_files_per_trigger=None)
        .where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        read_events_stream(spark, sf_dir, max_files_per_trigger=None)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"interval {gap_minutes} minutes")),
        "inner",
    )
    return joined.select(
        "user_id",
        "click_id",
        "purchase_id",
        "click_ts",
        "purchase_ts",
        F.col("purchase_value").cast("decimal(18,2)").cast("double").alias("purchase_value"),
    )


def run_to_memory(agg: DataFrame, name: str, output_mode: str, sf_dir: str) -> DataFrame:
    """Execute a streaming plan over ``sf_dir``'s events to completion
    (availableNow) into an in-memory sink table ``name`` and return that
    table. ``spark.sql.shuffle.partitions`` is set to
    ``stream_state_partitions`` for the stream's plan only — captured at
    start(), restored after — so the state-store count is sized to the
    input instead of inherited from the batch shuffle setting."""
    spark = agg.sparkSession
    for q in spark.streams.active:
        if q.name == name:
            q.stop()
    # The set/restore below changes a session-wide conf. It is safe only
    # because the engine's driver submits from one thread at a time: a
    # batch job planned from another thread between set() and restore
    # would inherit the stream's partition count. ``stage_inputs`` is
    # the one place that plans jobs from a thread pool, and it joins the
    # pool before it returns, so no staging job overlaps a stream start.
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(stream_state_partitions(spark, sf_dir)))
    try:
        query = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(name)


class GenerationFold:
    """The foreachBatch function of ``fold_event_batches``: folds each
    micro-batch's ``partial`` into a table kept as two alternating
    parquet generations, ``combine(previous generation, partial)``.

    IDEMPOTENT per batch_id: foreachBatch's contract is at-least-once
    invocation (Spark re-calls a batch after a post-function pre-commit
    failure), so a batch id already applied is skipped — without that
    guard a retried batch double-merges its partial. A generation is
    read back with the schema it was written with: the file source makes
    a given schema nullable, which is what inference returns, so the
    read equals ``spark.read.parquet`` without its inference job."""

    def __init__(
        self,
        spark: SparkSession,
        gen_paths: list[str],
        partial: Callable[[DataFrame], DataFrame],
        combine: Callable[[DataFrame, DataFrame], DataFrame],
    ) -> None:
        self.spark, self.gen_paths = spark, gen_paths
        self.partial, self.combine = partial, combine
        self.gens = 0
        self.applied: set[int] = set()
        self.schema: StructType | None = None

    def latest(self) -> DataFrame:
        """The newest generation."""
        path = self.gen_paths[(self.gens - 1) % 2]
        return self.spark.read.schema(self.schema).parquet(path)

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        if batch_id in self.applied:
            return
        part = self.partial(batch_df)
        merged = self.combine(self.latest(), part) if self.gens else part
        merged.write.mode("overwrite").parquet(self.gen_paths[self.gens % 2])
        self.schema = merged.schema
        self.gens += 1
        self.applied.add(batch_id)


def fold_event_batches(
    spark: SparkSession,
    sf_dir: str,
    tag: str,
    partial: Callable[[DataFrame], DataFrame],
    combine: Callable[[DataFrame, DataFrame], DataFrame],
) -> DataFrame:
    """Stream ``sf_dir``'s events one staged file (of 4) per micro-batch
    through a ``GenerationFold`` and return the folded table. Scratch
    directories are named ``<tag>_parts``, ``<tag>_ckpt`` and
    ``<tag>_a``/``_b``. When no batch fired, the result is empty with the
    schema ``partial`` gives the events, made nullable as a read makes it.

    Each run replays from a clean checkpoint and clean generations
    (stale generations from an earlier run must not satisfy the final
    read); a production deployment keeps the checkpoint and persists the
    generation pointer next to the table, and the batch-id guard then
    covers cross-restart re-delivery."""
    ev = load_table(spark, sf_dir, "events")
    stage_dir, ckpt_dir, *gen_paths = (
        _io_dir(sf_dir, f"{tag}_{s}") for s in ("parts", "ckpt", "a", "b")
    )
    for p in (ckpt_dir, *gen_paths):
        shutil.rmtree(p, ignore_errors=True)
    ev.repartition(4).write.mode("overwrite").parquet(stage_dir)
    fold = GenerationFold(spark, gen_paths, partial, combine)
    (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "*.parquet")
        .parquet(stage_dir)
        .writeStream.foreachBatch(fold)
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    if fold.gens:
        return fold.latest()
    # no batch fired: the nullable schema a generation read would have
    fields = [StructField(f.name, f.dataType) for f in partial(ev).schema]
    return empty_frame(spark, StructType(fields))


SESSION_GAP_SECONDS = 1800


def user_session_stats_stateful(
    key: tuple[Any, ...], batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """applyInPandasWithState UDF: per-user running (n_events, n_sessions)
    across micro-batches — the custom-stateful-operator surface (E3/E5).

    Sessions must not double-count across chunk or micro-batch
    boundaries, so (a) all of this batch's Arrow chunks are concatenated
    and sorted by ts before gap-counting, and (b) the state carries the
    last seen event timestamp (micros): when this batch's first event is
    within the gap of it, the batch's first "session" is a continuation
    of the previous batch's last session, not a new one.
    State schema: (n_events BIGINT, n_sessions BIGINT, last_ts_us BIGINT).
    """
    prev_events, prev_sessions, prev_last_us = (
        state.get if state.exists else (0, 0, None)
    )
    chunks = [pdf for pdf in batches if len(pdf)]
    if not chunks:
        if state.exists:
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [prev_events],
                    "n_sessions": [prev_sessions],
                }
            )
        return
    ts = pd.concat([c["ts"] for c in chunks]).sort_values()
    gaps = ts.diff().dt.total_seconds()
    batch_sessions = int(1 + (gaps >= SESSION_GAP_SECONDS).sum())
    ts_us = ts.astype("int64") // 1000  # datetime64[ns] → micros
    if prev_last_us is not None and (
        (int(ts_us.iloc[0]) - int(prev_last_us)) < SESSION_GAP_SECONDS * 1_000_000
    ):
        batch_sessions -= 1  # first event continues the previous session
    n_events = prev_events + len(ts)
    n_sessions = prev_sessions + batch_sessions
    state.update((n_events, n_sessions, int(ts_us.iloc[-1])))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n_events], "n_sessions": [n_sessions]}
    )


def stateful_session_counts(stream: DataFrame) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState."""
    return stream.groupBy("user_id").applyInPandasWithState(
        user_session_stats_stateful,
        outputStructType="user_id BIGINT, n_events BIGINT, n_sessions BIGINT",
        stateStructType="n_events BIGINT, n_sessions BIGINT, last_ts_us BIGINT",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def deduplicated_events(stream: DataFrame) -> DataFrame:
    """Streaming exactly-once ingestion guard: at-least-once sources
    re-deliver, so the pipeline unions a re-delivered subset (every 10th
    event) onto the stream and drops duplicates on the event key.

    Plain dropDuplicates keeps unbounded key state — correct on a closed
    input and deterministic for the oracle; a production feed bounds the
    state with dropDuplicatesWithinWatermark(ts watermark), trading exact
    dedup for state eviction past the lateness horizon."""
    redelivered = stream.where(F.col("event_id") % 10 == 0)
    return stream.union(redelivered).dropDuplicates(["event_id"])
