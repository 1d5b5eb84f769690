"""Input staging (``staging.stage_inputs``) at sf0.001: the staged layout,
its rows, the marker/invalidation contract, the Spark-job budget of a cold
run, and the failure path of the concurrent writes."""

from __future__ import annotations

import json
import logging
import os
import shutil
from pathlib import Path

import pytest
from py4j.protocol import Py4JJavaError

from sql_redshift_etl_spark.catalog import TABLES, load_table
from sql_redshift_etl_spark.scale import parquet_total_rows
from sql_redshift_etl_spark.staging import ROWS_PER_PART, stage_inputs
from tests.conftest import SF_DIR, jobs_fired

PARTS_AT_SF0001 = {"documents": 4, "embeddings": 8}
# per table: 1 schema job + 1 write job, +1 map-stage job per split table
JOB_BUDGET = 2 * len(TABLES) + 2


def _stage_counting_jobs(spark, src: str, dst: str, **kw) -> int:
    return jobs_fired(spark, lambda: stage_inputs(spark, src, dst, **kw))[1]


def _snapshot(dst: str) -> dict[str, tuple[int, int]]:
    out = {}
    for root, _, files in os.walk(dst):
        for f in files:
            st = os.stat(os.path.join(root, f))
            out[os.path.relpath(os.path.join(root, f), dst)] = (st.st_mtime_ns, st.st_size)
    return out


def _markers(dst: str) -> dict[str, bytes]:
    return {n: Path(dst, f"{n}.parquet", "_STAGED.json").read_bytes() for n in TABLES}


def _changed_tables(before: dict, after: dict) -> set[str]:
    paths = {p for p in before.keys() | after.keys() if before.get(p) != after.get(p)}
    return {p.split(os.sep)[0].removesuffix(".parquet") for p in paths}


def _copy_sources(tmp_path) -> str:
    src = str(tmp_path / "src")
    shutil.copytree(SF_DIR, src)
    return src


def _part_files(dst: str, name: str) -> list[str]:
    d = os.path.join(dst, f"{name}.parquet")
    return sorted(f for f in os.listdir(d) if f.startswith("part-") and f.endswith(".parquet"))


@pytest.fixture(scope="module")
def staged(spark, tmp_path_factory):
    dst = str(tmp_path_factory.mktemp("staged"))
    jobs = _stage_counting_jobs(spark, SF_DIR, dst)
    return dst, jobs


def test_staged_file_counts(staged):
    dst, _ = staged
    for name in TABLES:
        assert len(_part_files(dst, name)) == PARTS_AT_SF0001.get(name, 1), name


def test_staged_rows_match_source(spark, staged):
    dst, _ = staged
    for name in TABLES:
        src_rows = [repr(r) for r in load_table(spark, SF_DIR, name).collect()]
        got_rows = [repr(r) for r in load_table(spark, dst, name).collect()]
        assert sorted(got_rows) == sorted(src_rows), name
        if name not in PARTS_AT_SF0001:
            assert got_rows == src_rows, f"{name}: single-part table lost source order"


def test_cold_staging_job_budget(staged):
    _, jobs = staged
    assert 0 < jobs <= JOB_BUDGET, f"cold stage_inputs fired {jobs} jobs (budget {JOB_BUDGET})"


def test_restage_fires_no_jobs_and_writes_nothing(spark, staged):
    dst, _ = staged
    before, markers = _snapshot(dst), _markers(dst)
    assert _stage_counting_jobs(spark, SF_DIR, dst) == 0
    assert _snapshot(dst) == before
    assert _markers(dst) == markers


def test_restage_on_changed_params_or_source(spark, tmp_path):
    src = _copy_sources(tmp_path)
    dst = str(tmp_path / "dst")
    stage_inputs(spark, src, dst)

    before = _snapshot(dst)
    stage_inputs(spark, src, dst, rows_per_part=ROWS_PER_PART + 1)
    # documents/embeddings split by their own TABLE_ROWS_PER_PART
    assert _changed_tables(before, _snapshot(dst)) == set(TABLES) - set(PARTS_AT_SF0001)

    before = _snapshot(dst)
    st = os.stat(os.path.join(src, "region.parquet"))
    os.utime(os.path.join(src, "region.parquet"), (st.st_atime, st.st_mtime + 10))
    stage_inputs(spark, src, dst, rows_per_part=ROWS_PER_PART + 1)
    assert _changed_tables(before, _snapshot(dst)) == {"region"}


def test_failed_table_gets_no_marker(spark, tmp_path):
    src = _copy_sources(tmp_path)
    dst = str(tmp_path / "dst")
    bad = os.path.join(src, "region.parquet")
    os.remove(bad)
    with open(bad, "wb") as fh:
        fh.write(b"not a parquet file")

    with pytest.raises(Py4JJavaError, match=r"region\.parquet"):
        stage_inputs(spark, src, dst)
    assert not os.path.exists(os.path.join(dst, "region.parquet", "_STAGED.json"))
    for name in set(TABLES) - {"region"}:
        with open(os.path.join(dst, f"{name}.parquet", "_STAGED.json")) as fh:
            marker = json.load(fh)
        st = os.stat(os.path.join(src, f"{name}.parquet"))
        assert (marker["mtime"], marker["size"]) == (st.st_mtime, st.st_size), name
        assert _part_files(dst, name), name

    os.remove(bad)
    shutil.copy2(os.path.join(SF_DIR, "region.parquet"), bad)
    before = _snapshot(dst)
    stage_inputs(spark, src, dst)
    assert _changed_tables(before, _snapshot(dst)) == {"region"}
    assert len(_part_files(dst, "region")) == 1


def test_parquet_total_rows_logs_unreadable_footer(tmp_path, caplog):
    bad = tmp_path / "broken.parquet"
    bad.write_bytes(b"not a parquet file")
    with caplog.at_level(logging.WARNING, logger="sql_redshift_etl_spark.scale"):
        assert parquet_total_rows(str(bad)) is None
    records = [r for r in caplog.records if r.name == "sql_redshift_etl_spark.scale"]
    assert len(records) == 1
    assert records[0].levelno == logging.WARNING
    assert str(bad) in records[0].getMessage()
    assert parquet_total_rows(os.path.join(SF_DIR, "region.parquet")) == 5


def test_parquet_total_rows_reads_file_uri_directory(tmp_path, caplog):
    part_dir = tmp_path / "region"
    part_dir.mkdir()
    shutil.copy2(os.path.join(SF_DIR, "region.parquet"), part_dir / "part-00000.parquet")
    with caplog.at_level(logging.WARNING, logger="sql_redshift_etl_spark.scale"):
        assert parquet_total_rows(part_dir.as_uri()) == 5
    assert not [r for r in caplog.records if r.name == "sql_redshift_etl_spark.scale"]
