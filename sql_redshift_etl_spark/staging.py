"""Input staging: rewrite single-row-group fixture parquet into split files.

Why this exists (BASELINE.md §"where the 4× goes"): the driver fixtures are
written as ONE parquet file with ONE row group per table, and a row group
is the unit of scan parallelism for every columnar engine — so at sf0.1 a
600k-row lineitem scan runs as a single task on a 32-core machine. That is
a property of the *fixture layout*, not of the engine or its plans: any
production 100 TB table is thousands of files × thousands of row groups.

``stage_inputs`` rewrites each table once into ⌈rows/rows_per_part⌉ files
(capped) so scans parallelize the way they would on real data. bench.py
stages at startup (time reported separately, excluded from per-query
timings) and benchmarks BOTH layouts; the DuckDB baseline is measured on
the same staged directory, so the headline comparison is engine-vs-engine
on identical bytes, not layout-vs-layout.

Job budget. Staging is set-up latency paid before the first query, so it
fires as few Spark jobs as the layout allows: per table, 1 schema job
(``load_table``'s parquet footer read, paid once per source path: the
catalog's schema cache serves every later load of an unchanged file in
the same session) plus 1 write job, or 2 when the table is split. The
row count that sizes the split comes from the parquet footers
(``scale.parquet_total_rows``, no job); ``df.count()`` runs only
when the footers cannot be read. A single-part table is written through
``coalesce(1)``: ``repartition(1)`` would plan an Exchange SinglePartition
whose map stage is a second job (under AQE) and produces the same file in
the same row order. Split tables keep ``repartition(parts)``, so the
multi-file layout is unchanged. The tables that need staging are written
concurrently, one driver thread each, so their jobs overlap instead of
queueing; a cold run at sf0.001 is 22 jobs (``tests/test_staging.py``
pins the budget).
"""

from __future__ import annotations

import json
import os
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import SparkSession

from sql_redshift_etl_spark.catalog import TABLES, load_table
from sql_redshift_etl_spark.scale import parquet_total_rows

ROWS_PER_PART = 20_000
MAX_PARTS = 32

# Fan-out-heavy tables need finer splits than the row-count heuristic
# gives: a documents scan explodes ~200× into shingles and an embeddings
# scan fans out into per-dimension work, so the per-row downstream cost —
# not the stored bytes — is what a split must amortize. On real 100 TB
# data this granularity exists for free (thousands of files × row
# groups); staging just restores it for the single-digit-MB fixtures.
TABLE_ROWS_PER_PART: dict[str, int] = {
    "documents": 160,  # row-local MinHash signing is ~ms/doc: split ≈ cores
    "embeddings": 64,
}


def stage_inputs(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    *,
    rows_per_part: int = ROWS_PER_PART,
    max_parts: int = MAX_PARTS,
) -> str:
    """Rewrite ``src_dir``'s tables into multi-file parquet under ``dst_dir``.

    Idempotent WITH invalidation: a staged table is reused only when its
    fingerprint sidecar matches the current source file (mtime + size)
    and split parameters — regenerated fixtures or retuned
    rows_per_part re-stage instead of silently benchmarking stale bytes.

    The tables left to stage run concurrently. A table's ``_STAGED.json``
    is written only after its own write succeeds; if any table fails, the
    first failure (in ``TABLES`` order) is raised once every other table
    has finished, so a re-run re-stages only the tables that failed.
    """
    pending: list[tuple[str, int, dict | None]] = []
    for name in TABLES:
        dst = os.path.join(dst_dir, f"{name}.parquet")
        src_file = os.path.join(src_dir, f"{name}.parquet")
        per = TABLE_ROWS_PER_PART.get(name, rows_per_part)
        fp: dict | None = None
        if os.path.exists(src_file):
            st = os.stat(src_file)
            fp = {"mtime": st.st_mtime, "size": st.st_size, "per": per, "cap": max_parts}
        marker = os.path.join(dst, "_STAGED.json")
        if os.path.exists(os.path.join(dst, "_SUCCESS")) and fp is not None:
            try:
                with open(marker) as fh:
                    if json.load(fh) == fp:
                        continue
            except (OSError, ValueError):
                pass  # no/corrupt marker → re-stage
        pending.append((name, per, fp))

    def stage(name: str, per: int, fp: dict | None) -> None:
        dst = os.path.join(dst_dir, f"{name}.parquet")
        df = load_table(spark, src_dir, name)
        n = parquet_total_rows(os.path.join(src_dir, f"{name}.parquet"))
        if n is None:
            n = df.count()
        parts = max(1, min(max_parts, -(-n // per)))  # ceil: no oversized tail part
        out = df.coalesce(1) if parts == 1 else df.repartition(parts)
        out.write.mode("overwrite").parquet(dst)
        if fp is not None:
            with open(os.path.join(dst, "_STAGED.json"), "w") as fh:
                json.dump(fp, fh)

    if pending:
        with ThreadPoolExecutor(max_workers=len(pending)) as pool:
            futures = [pool.submit(stage, *job) for job in pending]
        for f in futures:
            f.result()
    return dst_dir
