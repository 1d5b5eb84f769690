"""Sink connectors (SURVEY.md §2.1): UNLOAD analogs (partitioned
parquet/CSV export), JDBC write-back, and the DISTKEY/SORTKEY-analog
physical-layout writers (SURVEY.md §4, P4 scale posture).

Redshift physical design maps to Spark storage layout:
- DISTKEY  → bucketBy(key): co-located, shuffle-free joins on the key.
- SORTKEY  → partitionBy(date) + sortWithinPartitions: partition pruning
  plus parquet min/max page skipping inside files.
- UNLOAD   → df.write.partitionBy(...).parquet/csv.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame


def unload_parquet(
    df: DataFrame,
    path: str,
    *,
    partition_by: list[str] | None = None,
    sort_within: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """UNLOAD → parquet (S4). partition_by = the pruning key (ship date /
    load date); sort_within = SORTKEY analog: parquet row-group min/max
    stats make range predicates skip pages."""
    if sort_within:
        df = df.sortWithinPartitions(*sort_within)
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def unload_csv(df: DataFrame, path: str, *, mode: str = "overwrite", header: bool = True) -> None:
    """UNLOAD → CSV (S4) for downstream COPY-style consumers."""
    df.write.mode(mode).option("header", header).csv(path)


def write_manifest(path: str) -> str:
    """Redshift ``UNLOAD ... MANIFEST`` analog: after an unload, write a
    manifest JSON listing every data file Spark committed, in Redshift's
    own format (``{"entries": [{"url": ..., "mandatory": true}, ...]}``),
    so a downstream ``COPY ... MANIFEST`` — or any external consumer —
    gets an EXPLICIT, atomic file list instead of a prefix listing. At
    100 TB the manifest is what makes hand-offs race-free: a reader of
    the prefix can see half-written output; a reader of the manifest
    (written last) sees exactly the committed files.

    Returns the manifest path (``<path>/_manifest.json`` — the
    underscore prefix keeps Spark's file listing from treating the
    manifest as data, so prefix readers of the same directory still
    work). Recurses into partition subdirectories so partitioned
    unloads are covered. A data file is any file whose name does not
    start with ``_`` or ``.`` — the names Spark's own file listing skips
    (``_SUCCESS``, ``.crc`` checksums) — so the writer's part-file names,
    extensions and codecs need not be known here.
    """
    import json

    entries = []
    for root, _dirs, files in sorted(os.walk(path)):
        for f in sorted(files):
            if not f.startswith(("_", ".")):
                entries.append(
                    {"url": os.path.join(os.path.abspath(root), f), "mandatory": True}
                )
    manifest_path = os.path.join(path, "_manifest.json")
    with open(manifest_path, "w") as fh:
        json.dump({"entries": entries}, fh, indent=1)
    return manifest_path


def read_manifest_paths(manifest_path: str) -> list[str]:
    """Parse a Redshift-format manifest into its file list. The manifest
    is metadata — a few KB listing file URLs — so a driver-side read is
    the correct pattern (it is NOT data plane); the listed files
    themselves are then read by executors via spark.read."""
    import json

    with open(manifest_path) as fh:
        doc = json.load(fh)
    urls = [e["url"] for e in doc.get("entries", [])]
    missing = [u for u in urls if not os.path.exists(u)]
    if missing:
        raise FileNotFoundError(
            f"manifest {manifest_path}: {len(missing)} mandatory files missing, "
            f"e.g. {missing[:2]}"
        )
    return urls


def write_bucketed_table(
    df: DataFrame,
    table_name: str,
    *,
    bucket_by: list[str],
    num_buckets: int,
    sort_by: list[str] | None = None,
) -> None:
    """DISTKEY analog: persist as a bucketed managed table. Two tables
    bucketed on the same key with the same bucket count join WITHOUT a
    shuffle — the Redshift co-located-join property. At 100 TB pick
    num_buckets ≈ cluster cores × small multiple."""
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    # A fresh session's in-memory catalog does not know tables a previous
    # session materialized, but their warehouse directories persist and
    # block CREATE (LOCATION_ALREADY_EXISTS) — clear the stale location.
    import shutil

    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse").removeprefix(
        "file:"
    )
    shutil.rmtree(os.path.join(warehouse, table_name.lower()), ignore_errors=True)
    writer = df.write.mode("overwrite").bucketBy(num_buckets, *bucket_by)
    if sort_by:
        writer = writer.sortBy(*sort_by)
    writer.format("parquet").saveAsTable(table_name)


def jdbc_writer_options(
    url: str,
    table: str,
    *,
    batch_size: int = 10_000,
    isolation_level: str = "READ_COMMITTED",
    user: str | None = None,
    password: str | None = None,
) -> dict[str, str]:
    """Assemble JDBC sink options (S5). batchsize controls rows per
    INSERT round-trip; for real Redshift, the fast path is UNLOAD→S3→COPY
    rather than JDBC inserts — this sink is for small dimension
    publishes."""
    opts = {
        "url": url,
        "dbtable": table,
        "batchsize": str(batch_size),
        "isolationLevel": isolation_level,
    }
    if user:
        opts["user"] = user
    if password:
        opts["password"] = password
    return opts


def write_jdbc(df: DataFrame, *, mode: str = "append", **kwargs) -> None:
    """JDBC sink (S5)."""
    df.write.format("jdbc").options(**jdbc_writer_options(**kwargs)).mode(mode).save()
