"""SparkSession factory with a scale-aware default configuration.

The same builder config is meant to hold from local[32] tests up to a
1000-executor cluster: AQE (runtime re-planning, partition coalescing,
skew-join splitting) is on, shuffle partitions default to the local core
count but are overridable via SPARK_GRAFT_CPUS / a real cluster's conf,
and Arrow transfer is enabled for the (rare) Pandas-UDF paths.

Two static confs shape the Python workers of a session built here:

- ``spark.python.daemon.module`` is ``sql_redshift_etl_spark.pydaemon``,
  pyspark's daemon with a stat-checked zip-archive cache. PySpark's worker
  calls ``importlib.invalidate_caches()`` on every task, and on CPython
  3.11 that re-parses every zip archive on the worker path (Spark's core
  jar, ``pyspark.zip``, py4j) before the user function runs. See that
  module's docstring.
- ``spark.executorEnv.PYTHONPATH`` is the directory that holds this
  package (Spark still puts its own pyspark and py4j archives and the
  driver environment's ``PYTHONPATH`` next to it). The daemon is started
  with ``python -m`` on that module, and cloudpickle ships the builders'
  UDFs by module reference, so a worker must import the package whatever
  the driver's working directory is.

Both apply only when ``get_spark`` starts the SparkContext; a session
that already exists (one a caller built itself) keeps pyspark's daemon
and worker path.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession

_log = logging.getLogger(__name__)

# Runtime-settable SQL confs that the engine depends on. Applied both at
# session build time and defensively by catalog.load_table (the verify
# driver may hand us a vanilla session it built itself).
RUNTIME_CONFS: dict[str, str] = {
    # events.parquet stores TIMESTAMP(NANOS); Spark 4 otherwise refuses it.
    # catalog.load_table converts the resulting bigint to TimestampType.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Deterministic timestamp semantics regardless of host timezone.
    "spark.sql.session.timeZone": "UTC",
    # AQE: runtime shuffle-partition coalescing + skew-join splitting —
    # the single most important 100 TB knob.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
}

# Measured and rejected (sf1, alternating A/B after JIT warmup):
# spark.sql.join.preferSortMergeJoin=false on the TPC-H Q3 shape is a
# wash (best 0.962 s SHJ vs 0.967 s SMJ) — AQE already converts the
# small post-filter side to broadcast at runtime, so the sorts SHJ would
# skip are already gone. Kept at default: sort-merge spills gracefully
# on big-big joins, which is the safer 100 TB posture.


# The directory that holds the package: what a Python worker needs on its path.
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(app_name: str = "sql-redshift-etl-spark", *, shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or get) a SparkSession tuned for this engine.

    local[N] here; on a real cluster the master/deploy settings come from
    spark-submit and only the SQL confs below matter.
    """
    cpus = default_parallelism()
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    session_confs = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        # Arrow for any toPandas / pandas_udf path (vector + multimodal ops).
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Files: split large scans at 128 MiB — at 100 TB this yields
        # ~800k input splits, the right granularity for 1000 executors.
        "spark.sql.files.maxPartitionBytes": "134217728",
    }
    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.python.daemon.module", "sql_redshift_etl_spark.pydaemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    )
    for k, v in {**session_confs, **RUNTIME_CONFS}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # getOrCreate SILENTLY drops every builder config when a session
    # already exists in the JVM (e.g. the verify driver's, or an earlier
    # tool's). Re-apply the runtime-settable subset so callers get the
    # posture they asked for; JVM-startup-only settings (driver memory,
    # master) genuinely cannot change and stay as-is.
    _set_confs(spark, session_confs)
    apply_runtime_confs(spark)
    return spark


def apply_runtime_confs(spark: SparkSession) -> None:
    """Best-effort apply of runtime-settable confs to a foreign session."""
    _set_confs(spark, RUNTIME_CONFS)


def _set_confs(spark: SparkSession, confs: dict[str, str]) -> None:
    for k, v in confs.items():
        try:
            spark.conf.set(k, v)
        except Exception as exc:
            _log.warning("cannot set %s on this session, its startup value applies: %r", k, exc)
