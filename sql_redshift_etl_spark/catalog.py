"""Fixture catalog: schema-stable loaders for the driver-generated tables.

Tables (TESTDATA.md / FIXTURES.md): region nation customer supplier part
orders lineitem events documents embeddings — one parquet file per table
under an sf directory. ``load_table`` normalizes the one physical quirk
(events.ts is TIMESTAMP(NANOS) which Spark 4 reads as bigint under
``nanosAsLong``) so every downstream operator sees clean Spark types.

Schema cache. A plain ``spark.read.parquet`` fires one Spark job to infer
the schema from the footers, on every call. ``read_parquet`` keeps the
``StructType`` Spark inferred, so only the first load of a path pays that
job: a repeat load reads with ``spark.read.schema(cached).parquet(path)``,
which fires none. ``load_table`` (and so ``register_views``) and the
stream reader's schema probe read through it.

- Key: the SparkContext's ``applicationId``, the resolved path and the
  values of the confs that shape parquet inference (``_INFERENCE_CONFS``),
  so a session with other confs (a foreign, vanilla one) never receives
  a schema inferred under ours.
- Value: a listing fingerprint, the sorted (path, size, mtime_ns) of
  every data file under the path (``scale.list_data_files``), plus the
  schema. Every call lists the path again (no job); a fingerprint that
  differs (a touched, rewritten or re-staged table) re-infers and
  replaces the entry, so there is one entry per (app, path, confs).
- A path pyarrow cannot list (e.g. ``s3a://``) logs a WARNING and infers
  as before; each miss logs its reason at DEBUG.
- The cached schema is Spark's own inference, partition columns
  included, so the scan is the same one inference plans: same
  ``ReadSchema``, pushed filters and partition discovery (the directory
  listing still runs; only the footer-reading job is skipped).

Scale note: these loaders are plain parquet reads — at 100 TB the
same call reads a partitioned directory tree and Catalyst does partition
pruning + predicate pushdown; nothing here assumes single files.
"""

from __future__ import annotations

import logging
import os
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from sql_redshift_etl_spark.scale import list_data_files
from sql_redshift_etl_spark.session import apply_runtime_confs

_log = logging.getLogger(__name__)

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# SQL confs whose values change the schema Spark infers from parquet.
_INFERENCE_CONFS: tuple[str, ...] = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)

# (applicationId, resolved path) -> {inference conf values: (fingerprint, schema)}
_SCHEMAS: dict[tuple[str, str], dict[tuple, tuple[tuple, StructType]]] = {}


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, inferring the schema only when the
    cache has none for the path's current listing and inference confs
    (see the module docstring); a hit reads with the cached schema and
    fires no job. The listing is taken before inference, so files
    replaced mid-inference leave an entry the next call re-infers."""
    try:
        _, files = list_data_files(path)
    except Exception as exc:
        _log.warning("cannot list %s, inferring its schema: %r", path, exc)
        return spark.read.parquet(path)
    fingerprint = tuple(sorted((f.path, f.size, f.mtime_ns) for f in files))
    confs = tuple(spark.conf.get(k) for k in _INFERENCE_CONFS)
    resolved = path if urlparse(path).scheme else os.path.abspath(path)
    entries = _SCHEMAS.setdefault((spark.sparkContext.applicationId, resolved), {})
    hit = entries.get(confs)
    if hit is not None and hit[0] == fingerprint:
        return spark.read.schema(hit[1]).parquet(path)
    reason = "listing changed" if hit else "confs changed" if entries else "new path"
    _log.debug("schema cache miss for %s (%s): inferring", resolved, reason)
    df = spark.read.parquet(path)
    entries[confs] = (fingerprint, df.schema)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table, normalizing physical quirks.

    events.ts: stored as parquet TIMESTAMP(NANOS, false); under
    ``spark.sql.legacy.parquet.nanosAsLong`` Spark reads it as bigint
    nanoseconds. All fixture values are exact microseconds (verified:
    epoch_ns % 1000 == 0 for every row), and DuckDB's reader likewise
    presents the column as microsecond TIMESTAMP — so integer-division
    ns→µs conversion here is lossless and oracle-exact.
    """
    apply_runtime_confs(spark)
    df = read_parquet(spark, f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def empty_frame(spark: SparkSession, schema: StructType) -> DataFrame:
    """An empty DataFrame of ``schema`` (nullability included), built in
    the JVM: it plans ``LocalTableScan <empty>`` with no partitions.
    ``spark.createDataFrame([], schema)`` instead plans a Python RDD scan
    with ``defaultParallelism`` partitions, so every job reading it
    starts a Python worker per partition."""
    jspark = spark._jsparkSession
    jdf = jspark.createDataFrame(spark._jvm.java.util.ArrayList(), jspark.parseDataType(schema.json()))
    return DataFrame(jdf, spark)


def bounded_sort(df: DataFrame, *cols, barrier: bool = False) -> DataFrame:
    """Total order for a result whose row count is bounded at any scale.

    A bare ``.orderBy`` plans ``Exchange rangepartitioning`` whose
    RangePartitioner runs a SEPARATE driver-coordinated sampling job —
    measured 2 extra jobs ≈ 120–150 ms per query at sf0.1 (r13
    flagship decomposition, tools/job_floor_audit.py). A single
    partition sorted locally IS the same total order: identical rows,
    identical ordering, and zero sampling at every scale.

    The invariant that decides the form is the CoalESCED STAGE'S INPUT,
    not just the result's row count (r14 self-review): ``coalesce(1)``
    narrows the whole plan down to the nearest exchange below it.

    - ``barrier=False`` (default): only when that nearest exchange
      itself has bounded post-shuffle cardinality — a final aggregate
      keyed on a bounded domain (flag/status/lang/priority grains).
      Then the coalesce merely merges a handful of groups and the
      map-side/partial parallelism below the exchange is untouched.
    - ``barrier=True``: when the result is bounded but the stage above
      the last exchange is NOT — an unbounded aggregate merge whose
      output a filter caps afterwards (q11's >1.1%-share, q15's
      max-tie), a group-limited window (stratified top-20), or an
      exchange-free row-local plan (pii's doc_id<=200 scan). A
      ``repartition(1)`` inserts an Exchange SinglePartition barrier so
      everything upstream keeps its parallelism and only the bounded
      result crosses; still no sampling job (single-partition exchanges
      never sample — the saving over rangepartitioning survives).

    NEVER use either form on an unbounded result (per-doc/per-row
    outputs): there the range sort's parallelism is exactly what you
    want.
    """
    if barrier:
        return df.repartition(1).sortWithinPartitions(*cols)
    return df.coalesce(1).sortWithinPartitions(*cols)


def register_views(spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES) -> None:
    """Register fixture tables as temp views for the spark.sql(...) path."""
    for t in tables:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
