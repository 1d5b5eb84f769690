"""Streaming-specific invariants beyond the driver's rows-only checks."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from sql_redshift_etl_spark.plans.registry import all_queries
from tests.conftest import SF_DIR

QUERIES = all_queries()


class _FakeGroupState:
    """Just enough of pyspark GroupState for unit-testing the UDF."""

    def __init__(self):
        self._v = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = tuple(v)


def _run_batch(state, *chunks):
    from sql_redshift_etl_spark.streaming.pipeline import user_session_stats_stateful

    frames = [pd.DataFrame({"ts": pd.to_datetime(ts)}) for ts in chunks]
    out = list(user_session_stats_stateful((7,), iter(frames), state))
    assert len(out) == 1
    row = out[0].iloc[0]
    return int(row["n_events"]), int(row["n_sessions"])


def test_stateful_sessions_no_double_count_across_chunks():
    """A session split across Arrow chunks within one batch counts once
    (r01 ADVICE: chunks were counted independently and summed)."""
    state = _FakeGroupState()
    assert _run_batch(state, ["2024-01-01 10:00"], ["2024-01-01 10:10"]) == (2, 1)


def test_stateful_sessions_no_double_count_across_batches():
    """A session spanning a micro-batch boundary counts once; a genuine
    gap still opens a new session."""
    state = _FakeGroupState()
    assert _run_batch(state, ["2024-01-01 10:00", "2024-01-01 10:10"]) == (2, 1)
    # 10:20 continues the session; 12:00 opens a second one
    assert _run_batch(state, ["2024-01-01 10:20", "2024-01-01 12:00"]) == (4, 2)
    # next batch exactly at the 30-min gap from 12:00 → new session
    assert _run_batch(state, ["2024-01-01 12:30"]) == (5, 3)


def test_watermark_append_is_subset_of_complete(spark):
    complete = QUERIES["stream_tumbling_daily"].builder(spark, SF_DIR)
    appended = QUERIES["stream_tumbling_watermark"].builder(spark, SF_DIR)
    full = {(r["day"], r["event_type"]): r["n_events"] for r in complete.collect()}
    emitted = {(r["day"], r["event_type"]): r["n_events"] for r in appended.collect()}
    assert emitted, "watermarked stream emitted nothing"
    assert set(emitted) <= set(full)
    for k, v in emitted.items():
        assert full[k] == v, f"window {k}: append {v} != complete {full[k]}"


def test_stateful_sessions_match_batch(spark, duck):
    out = {
        r["user_id"]: (r["n_events"], r["n_sessions"])
        for r in QUERIES["stream_stateful_sessions"].builder(spark, SF_DIR).collect()
    }
    batch = {
        r[0]: (r[1], r[2])
        for r in duck.execute(
            """
            WITH flagged AS (
                SELECT user_id,
                       CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                                 OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                                    >= INTERVAL '30 minutes'
                            THEN 1 ELSE 0 END AS is_new
                FROM events
            )
            SELECT user_id, COUNT(*) AS n_events, SUM(is_new) AS n_sessions
            FROM flagged GROUP BY user_id
            """
        ).fetchall()
    }
    assert out == batch


def test_stateful_sessions_across_real_microbatches(spark, duck, tmp_path):
    """End-to-end GroupState continuity: replay events as THREE
    time-ordered files / micro-batches (maxFilesPerTrigger=1) and require
    the final per-user counters to equal the batch recompute — a session
    spanning a file boundary must not double-count (the fake-state unit
    tests above prove the kernel; this proves the wired operator)."""
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from sql_redshift_etl_spark.streaming.pipeline import (
        read_events_stream,
        run_to_memory,
        stateful_session_counts,
    )

    ev = duck.execute("SELECT * FROM events ORDER BY ts, event_id").df()
    src = tmp_path / "events.parquet"
    src.mkdir()
    cuts = [len(ev) // 3, 2 * len(ev) // 3, len(ev)]
    lo = 0
    for i, hi in enumerate(cuts):
        pq.write_table(pa.Table.from_pandas(ev.iloc[lo:hi]), src / f"part-{i:03d}.parquet")
        _time.sleep(1.1)  # file source orders batches by modification time
        lo = hi
    stream = read_events_stream(spark, str(tmp_path), max_files_per_trigger=1)
    sink = run_to_memory(stateful_session_counts(stream), "stateful_mb_sink", "update", str(tmp_path))
    rows = sink.collect()
    assert len(rows) > len({r["user_id"] for r in rows}), (
        "memory sink saw a single update per user — the replay did not "
        "actually split into multiple micro-batches"
    )
    out = {r["user_id"]: (r["n_events"], r["n_sessions"]) for r in rows}
    batch = {
        r[0]: (r[1], r[2])
        for r in duck.execute(
            """
            WITH flagged AS (
                SELECT user_id,
                       CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                                 OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                                    >= INTERVAL '30 minutes'
                            THEN 1 ELSE 0 END AS is_new
                FROM events
            )
            SELECT user_id, COUNT(*) AS n_events, SUM(is_new) AS n_sessions
            FROM flagged GROUP BY user_id
            """
        ).fetchall()
    }
    assert out == batch


def test_stream_state_partitions_from_footers(spark, tmp_path):
    """The state-partition count is ceil(events rows / 12,500) from the
    parquet footers, capped at defaultParallelism and floored at 1."""
    import pyarrow as pa
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    from sql_redshift_etl_spark.streaming.pipeline import stream_state_partitions

    cap = spark.sparkContext.defaultParallelism
    fixture_rows = ds.dataset(f"{SF_DIR}/events.parquet").count_rows()
    fixture_want = max(1, min(-(-fixture_rows // 12_500), cap))  # 1 at sf0.001
    assert stream_state_partitions(spark, SF_DIR) == fixture_want
    for rows, want in ((0, 1), (25_001, min(3, cap)), (12_500 * cap + 1, cap)):
        d = tmp_path / str(rows)
        d.mkdir()
        pq.write_table(pa.table({"event_id": pa.array(range(rows), pa.int64())}), d / "events.parquet")
        assert stream_state_partitions(spark, str(d)) == want, rows


def _count_fold(spark, tmp_path):
    from sql_redshift_etl_spark.streaming.pipeline import GenerationFold

    return GenerationFold(
        spark,
        [str(tmp_path / "a"), str(tmp_path / "b")],
        lambda batch: batch.groupBy("k").agg(F.count(F.lit(1)).alias("n")),
        lambda tgt, src: tgt.alias("t")
        .join(src.alias("s"), "k", "full")
        .select("k", (F.coalesce("t.n", F.lit(0)) + F.coalesce("s.n", F.lit(0))).alias("n")),
    )


def test_generation_fold_skips_redelivered_batch(spark, tmp_path):
    """foreachBatch is at-least-once: a batch id the fold already
    applied changes neither the generation count nor the rows."""
    fold = _count_fold(spark, tmp_path)
    batch = spark.range(10).select((F.col("id") % 3).alias("k"))
    fold(batch, 0)
    fold(batch, 1)
    rows = sorted(fold.latest().collect())
    assert rows == [(0, 8), (1, 6), (2, 6)]
    for batch_id in (1, 0):
        fold(batch, batch_id)
        assert fold.gens == 2
        assert sorted(fold.latest().collect()) == rows


def test_generation_fold_reads_the_inferred_schema(spark, tmp_path):
    """Each generation is read with the schema it was written with; the
    read equals spark.read.parquet's inference, also for the first
    generation, whose written schema has non-null fields."""
    fold = _count_fold(spark, tmp_path)
    batch = spark.range(10).select((F.col("id") % 3).alias("k"))
    for batch_id in range(3):
        fold(batch, batch_id)
        if batch_id == 0:
            assert not all(f.nullable for f in fold.schema)  # count(1)
        path = fold.gen_paths[batch_id % 2]
        assert fold.latest().schema == spark.read.parquet(path).schema
