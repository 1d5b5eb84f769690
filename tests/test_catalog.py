"""The catalog's schema cache (``catalog.read_parquet``): a repeat load
fires no Spark job, and a changed listing or changed inference confs
re-infer."""

from __future__ import annotations

import logging
import os
import re
import shutil
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from sql_redshift_etl_spark import catalog
from sql_redshift_etl_spark.catalog import load_table, read_parquet
from sql_redshift_etl_spark.streaming.pipeline import read_events_stream
from tests.conftest import SF_DIR, jobs_fired

NANOS = "spark.sql.legacy.parquet.nanosAsLong"


def _fixture_copy(tmp_path, *names: str) -> str:
    """A private copy of fixture tables, so no other test's cache entry applies."""
    d = tmp_path / "sf"
    d.mkdir()
    for n in names:
        shutil.copy2(os.path.join(SF_DIR, f"{n}.parquet"), d / f"{n}.parquet")
    return str(d)


def _misses(caplog) -> list[str]:
    return [
        r.getMessage() for r in caplog.records
        if r.name == "sql_redshift_etl_spark.catalog" and r.levelno == logging.DEBUG
    ]


def test_repeat_load_fires_no_job_and_touched_file_fires_one(spark, tmp_path):
    sf = _fixture_copy(tmp_path, "nation")
    first, cold = jobs_fired(spark, lambda: load_table(spark, sf, "nation"))
    second, warm = jobs_fired(spark, lambda: load_table(spark, sf, "nation"))
    assert (cold, warm) == (1, 0)
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())

    path = os.path.join(sf, "nation.parquet")
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    _, touched = jobs_fired(spark, lambda: load_table(spark, sf, "nation"))
    assert touched == 1


def test_restaged_directory_reinfers(spark, tmp_path):
    sf = str(tmp_path)
    dst = os.path.join(sf, "t.parquet")
    spark.range(10).selectExpr("id", "id * 2 AS v").repartition(2).write.parquet(dst)
    load_table(spark, sf, "t")
    _, warm = jobs_fired(spark, lambda: load_table(spark, sf, "t"))
    assert warm == 0

    spark.range(20).selectExpr("id", "id * 3 AS v").repartition(3).write.mode(
        "overwrite"
    ).parquet(dst)
    df, restaged = jobs_fired(spark, lambda: load_table(spark, sf, "t"))
    assert restaged == 1
    assert df.count() == 20


def test_flipping_nanos_as_long_reinfers(spark, tmp_path, caplog):
    """Spark refuses TIMESTAMP(NANOS) without nanosAsLong, so after the
    flip the cache must raise what plain inference raises instead of
    handing out the bigint schema it inferred under the other value."""
    path = str(tmp_path / "ns.parquet")
    ts = pa.array([1_000_000_000_000_000_000, 1_000_000_000_000_001_000], pa.timestamp("ns"))
    pq.write_table(pa.table({"ts": ts, "v": [1, 2]}), path)
    before = spark.conf.get(NANOS)
    try:
        spark.conf.set(NANOS, "true")
        as_long = read_parquet(spark, path).schema
        spark.conf.set(NANOS, "false")
        with caplog.at_level(logging.DEBUG, logger="sql_redshift_etl_spark.catalog"):
            with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
                read_parquet(spark, path).schema
        with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
            spark.read.parquet(path).schema
        spark.conf.set(NANOS, "true")
        again, jobs = jobs_fired(spark, lambda: read_parquet(spark, path).schema)
    finally:
        spark.conf.set(NANOS, before)
    assert dict((f.name, f.dataType.simpleString()) for f in as_long)["ts"] == "bigint"
    assert (again, jobs) == (as_long, 0)
    assert any("confs changed" in m for m in _misses(caplog))


def test_flipping_binary_as_string_reinfers(spark, tmp_path):
    conf = "spark.sql.parquet.binaryAsString"
    path = str(tmp_path / "bin.parquet")
    pq.write_table(pa.table({"b": pa.array([b"x", b"y"], pa.binary())}), path)
    before = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "false")
        as_binary = read_parquet(spark, path).schema
        spark.conf.set(conf, "true")
        flipped, jobs = jobs_fired(spark, lambda: read_parquet(spark, path).schema)
        plain = spark.read.parquet(path).schema
    finally:
        spark.conf.set(conf, before)
    assert jobs == 1
    assert flipped == plain
    assert [f.dataType.simpleString() for f in (*as_binary, *flipped)] == ["binary", "string"]


def test_partitioned_directory_scans_like_plain_inference(spark, tmp_path):
    sf = str(tmp_path)
    dst = os.path.join(sf, "p.parquet")
    spark.range(40).selectExpr("id", "id % 4 AS k", "CAST(id AS STRING) AS s").write.partitionBy(
        "k"
    ).parquet(dst)
    load_table(spark, sf, "p")
    cached, jobs = jobs_fired(spark, lambda: load_table(spark, sf, "p"))
    plain = spark.read.parquet(dst)
    assert jobs == 0
    assert cached.schema == plain.schema

    def scan(df) -> tuple[list, list[str]]:
        q = df.filter("k = 1 AND id > 5").select("id", "s", "k")
        plan = q._jdf.queryExecution().executedPlan().toString()
        keys = ("ReadSchema", "PushedFilters", "PartitionFilters")
        return sorted(q.collect()), [
            re.sub(r"#\d+", "#", part.split("]")[0])
            for key in keys for part in plan.split(key)[1:2]
        ]

    rows, scan_keys = scan(cached)
    assert (rows, scan_keys) == scan(plain)
    assert len(scan_keys) == 3 and len(rows) == 8


def test_second_events_stream_fires_no_schema_job(spark, tmp_path):
    sf = _fixture_copy(tmp_path, "events")
    first, cold = jobs_fired(spark, lambda: read_events_stream(spark, sf))
    second, warm = jobs_fired(spark, lambda: read_events_stream(spark, sf))
    assert (cold, warm) == (1, 0)
    assert second.schema == first.schema
    assert second.isStreaming


def test_miss_reasons_are_logged(spark, tmp_path, caplog):
    sf = _fixture_copy(tmp_path, "region")
    path = os.path.join(sf, "region.parquet")
    with caplog.at_level(logging.DEBUG, logger="sql_redshift_etl_spark.catalog"):
        read_parquet(spark, path).schema
        read_parquet(spark, path).schema
        os.utime(path, ns=(0, os.stat(path).st_mtime_ns + 1_000_000_000))
        read_parquet(spark, path).schema
    misses = _misses(caplog)
    assert len(misses) == 2
    assert "new path" in misses[0] and "listing changed" in misses[1]


def test_unlistable_path_warns_and_infers(spark, tmp_path, caplog, monkeypatch):
    sf = _fixture_copy(tmp_path, "region")

    def unlistable(path):
        raise OSError(f"no filesystem for {path}")

    monkeypatch.setattr(catalog, "list_data_files", unlistable)
    with caplog.at_level(logging.WARNING, logger="sql_redshift_etl_spark.catalog"):
        df, jobs = jobs_fired(spark, lambda: load_table(spark, sf, "region"))
    warnings = [r for r in caplog.records if r.name == "sql_redshift_etl_spark.catalog"]
    assert jobs == 1
    assert df.count() == 5
    assert len(warnings) == 1 and warnings[0].levelno == logging.WARNING
    assert "region.parquet" in warnings[0].getMessage()
    assert "no filesystem" in warnings[0].getMessage()


def test_concurrent_loads_share_one_entry_per_path(spark, tmp_path):
    """stage_inputs loads tables from a thread pool: concurrent first loads
    may each infer, but every caller gets its path's schema and the cache
    ends with one entry per path that later loads hit."""
    from concurrent.futures import ThreadPoolExecutor

    names = ("region", "nation", "supplier")
    sf = _fixture_copy(tmp_path, *names)
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            futures = [pool.submit(load_table, spark, sf, n) for n in names * 4]
            loaded = [f.result(timeout=300) for f in futures]
    finally:
        sys.setswitchinterval(interval)
    plain = {n: spark.read.parquet(os.path.join(sf, f"{n}.parquet")).schema for n in names}
    assert [df.schema for df in loaded] == [plain[n] for n in names * 4]
    app = spark.sparkContext.applicationId
    for n in names:
        assert len(catalog._SCHEMAS[(app, os.path.join(sf, f"{n}.parquet"))]) == 1
    _, jobs = jobs_fired(spark, lambda: [load_table(spark, sf, n) for n in names])
    assert jobs == 0


@pytest.mark.parametrize("name", ["events", "lineitem"])
def test_cached_load_matches_plain_inference(spark, name):
    load_table(spark, SF_DIR, name)
    cached = load_table(spark, SF_DIR, name)
    plain = spark.read.parquet(os.path.join(SF_DIR, f"{name}.parquet"))
    assert cached.schema == plain.schema
    assert cached.exceptAll(plain).count() == 0 and cached.count() == plain.count()
