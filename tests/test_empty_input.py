"""Empty-input robustness sweep: every registered query must either
return an empty (or aggregate-over-nothing) result on zero-row tables or
fail with a documented contract error — never an inference crash.

Why this matters at 100 TB: incremental pipelines routinely hit empty
date slices / partitions; an operator that throws
UNABLE_TO_INFER_SCHEMA on its own empty output directory (a partitioned
write of zero rows emits no files) takes the whole run down. Round 3
found and fixed exactly that in the three write→re-read operators
(explicit schema on re-read).
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest

from sql_redshift_etl_spark.plans.registry import all_queries

# Documented contract errors: operators that genuinely cannot run on an
# empty input, with the reason they raise.
EXPECTED_CONTRACT_ERRORS = {
    # training a quantizer on zero vectors is meaningless; raises a
    # clear ValueError instead of MLlib's opaque JVM failure
    "sim_ivf_kmeans": "cannot train a KMeans quantizer",
    # the script's CASE statement deliberately RAISEs on an empty
    # segment — plpgsql's own guard idiom, part of what the query tests
    "redshift_script_case_stmt": "empty segment",
}


@pytest.fixture(scope="module")
def empty_sf_dir(tmp_path_factory):
    src = "/root/testdata/sf0.001"
    dst = tmp_path_factory.mktemp("empty_sf")
    for f in os.listdir(src):
        if f.endswith(".parquet"):
            t = pq.read_table(os.path.join(src, f))
            pq.write_table(t.schema.empty_table(), str(dst / f))
    return str(dst)


def test_every_query_survives_empty_tables(spark, empty_sf_dir):
    failures = {}
    for name, q in sorted(all_queries().items()):
        try:
            q.builder(spark, empty_sf_dir).take(5)
        except Exception as ex:
            msg = str(ex).splitlines()[0]
            expected = EXPECTED_CONTRACT_ERRORS.get(name)
            if expected and expected in msg:
                continue
            failures[name] = msg[:160]
    assert not failures, f"queries crash on empty input: {failures}"


# The foreachBatch folds return an empty frame of the same schema as on
# a non-empty input when no micro-batch fires.
FOLD_SCHEMAS = {
    "stream_foreachbatch_upsert": "struct<user_id:bigint,n_events:bigint,total_value:double>",
    "stream_hll_incremental": "struct<event_type:string,n_users:bigint>",
}


@pytest.mark.parametrize("name", sorted(FOLD_SCHEMAS))
def test_stream_folds_keep_their_schema_on_empty_tables(spark, empty_sf_dir, name):
    df = all_queries()[name].builder(spark, empty_sf_dir)
    assert df.schema.simpleString() == FOLD_SCHEMAS[name]
    assert all(f.nullable for f in df.schema)
    assert df.collect() == []
