"""Scale-posture utilities (SURVEY.md §7 P4): skew salting, broadcast
sizing, and repartitioning helpers that make the operator library hold
at 100 TB / 1000 executors.

First line of defense is AQE (enabled in session.py): runtime partition
coalescing + skew-join splitting. These helpers cover the cases AQE
cannot fix:
- aggregation skew (AQE only splits *join* skew) → two-phase salted agg
- deliberate co-partitioning for repeated joins → repartition_for_join
- broadcast decisions for borderline dims → should_broadcast
"""

from __future__ import annotations

import logging
import os
from typing import TYPE_CHECKING
from urllib.parse import urlparse

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

if TYPE_CHECKING:
    from pyarrow import fs

_log = logging.getLogger(__name__)

DEFAULT_BROADCAST_BYTES = 512 * 1024 * 1024  # bigger than Spark's 10MB default: dims are cheap


def salted(df: DataFrame, n_salts: int = 16, salt_col: str = "_salt") -> DataFrame:
    """Attach a DETERMINISTIC per-row salt: xxhash64 over the full row,
    mod n_salts. Determinism is a correctness requirement, not a style
    choice: a positional salt (monotonically_increasing_id — the round-3
    design) changes values when Spark recomputes lost map outputs after
    an executor failure, because recomputed tasks iterate shuffle-fetched
    rows in a different order — rows then migrate between (key, salt)
    reduce partitions mid-job and aggregates silently double-count or
    drop rows (the SPARK-23207 failure class). A row-content hash is
    stable under any recomputation.

    Degenerate case, accepted and documented: rows that are BYTE-
    IDENTICAL across every column share a salt, so a hot key whose rows
    are exact duplicates does not spread. For salted_agg this costs
    nothing — map-side partial aggregation already collapses identical
    rows into one partial per partition before the shuffle — and for
    salted_join a key whose rows are all duplicates gains nothing from
    spreading anyway (every copy joins the same matches)."""
    cols = [F.col(c) for c in df.columns]
    return df.withColumn(salt_col, F.pmod(F.xxhash64(*cols), F.lit(n_salts)).cast("int"))


def salted_agg(
    df: DataFrame,
    group_cols: list[str],
    aggs: dict[str, Column],
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase aggregation for skewed group keys.

    Phase 1 groups on (key, salt) — the hot key's rows split across
    n_salts reducers; phase 2 merges the partials by SUM, which is the
    correct merge for SUM and COUNT partials only. Decompose AVG into
    sum+count; MIN/MAX don't need salting at all (their partials are
    tiny and skew-free under plain partial aggregation).

        salted_agg(events, ["user_id"], {"n": F.count(F.lit(1)), "v": F.sum("value")})
    """
    phase1 = (
        salted(df, n_salts)
        .groupBy(*group_cols, "_salt")
        .agg(*[expr.alias(f"_p_{name}") for name, expr in aggs.items()])
    )
    return phase1.groupBy(*group_cols).agg(
        *[F.sum(f"_p_{name}").alias(name) for name in aggs]
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    n_salts: int = 16,
) -> DataFrame:
    """Manual skew-join salting for when AQE's split heuristic misses:
    big side gets a random-ish salt per row; small side is exploded
    n_salts× so every (key, salt) pair finds its match. Use only when a
    single key dominates and the small side replication (n_salts×) is
    affordable."""
    b = salted(big, n_salts)
    s = small.withColumn("_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1))))
    return b.join(s, [key, "_salt"]).drop("_salt")


def repartition_for_join(df: DataFrame, key: str, num_partitions: int | None = None) -> DataFrame:
    """Pre-shuffle on the join key so several downstream joins/aggs on
    the same key reuse one exchange (Catalyst recognizes the existing
    hash partitioning) — the DISTKEY-at-runtime analog; the persisted
    version is sources.writers.write_bucketed_table."""
    return df.repartition(num_partitions, key) if num_partitions else df.repartition(key)


def list_data_files(path: str) -> tuple[fs.FileSystem, list[fs.FileInfo]]:
    """The filesystem of ``path`` (a file or a directory tree, local path
    or filesystem URI) and the ``pyarrow.fs.FileInfo`` of every data file
    under it, in listing order, with no Spark job. A directory's files
    skip any name under a hidden component (``.``/``_`` prefix: Spark's
    ``_SUCCESS``, ``.crc`` and ``_temporary`` files). Raises when the
    path is missing or its scheme has no pyarrow filesystem."""
    from pyarrow import fs

    if urlparse(path).scheme:
        filesystem, root = fs.FileSystem.from_uri(path)
    else:
        filesystem, root = fs.LocalFileSystem(), os.path.abspath(path)
    info = filesystem.get_file_info(root)
    if info.type == fs.FileType.NotFound:
        raise FileNotFoundError(path)
    if info.type != fs.FileType.Directory:
        return filesystem, [info]
    files = [
        f
        for f in filesystem.get_file_info(fs.FileSelector(root, recursive=True))
        if f.is_file
        and not any(p.startswith((".", "_")) for p in f.path[len(root):].split("/"))
    ]
    return filesystem, files


def parquet_total_rows(path: str) -> int | None:
    """Driver-side parquet-footer row count over ``list_data_files``
    (the files a Spark scan of ``path`` reads) — zero Spark jobs, reads
    only footers. None when the path isn't plain readable parquet (callers
    fall back to their Spark-side check), with a WARNING naming the path
    and the error. This is the engine's substitute for table statistics:
    ``ANALYZE ... FOR ALL COLUMNS`` deterministically crashes Spark
    4.1.2 on TimestampNTZ column stats (r13 CBO A/B), so tier-dependent
    plan decisions key off footer row counts instead."""
    try:
        import pyarrow.parquet as pq

        filesystem, files = list_data_files(path)
        total = 0
        for f in files:
            with filesystem.open_input_file(f.path) as fh:
                total += pq.read_metadata(fh).num_rows
        return total
    except Exception as exc:
        _log.warning("parquet footer row count failed for %s: %r", path, exc)
        return None


def maybe_broadcast(df: DataFrame, limit_bytes: int = DEFAULT_BROADCAST_BYTES) -> DataFrame:
    """Broadcast hint ONLY while the side is actually broadcast-sized
    (analyzed-plan stats): sf-SCALED "dims" (part, supplier) get the
    hint at fixture scale but degrade gracefully to AQE's runtime
    size-based choice at 100 TB — a hard F.broadcast on a table that
    grows with the data is a forced-collect OOM cliff, not a hint."""
    return F.broadcast(df) if should_broadcast(df, limit_bytes) else df


def should_broadcast(df: DataFrame, limit_bytes: int = DEFAULT_BROADCAST_BYTES) -> bool:
    """Estimate (via the analyzed plan's sizeInBytes) whether a side is
    broadcast-safe. Prefer explicit F.broadcast on known dims; use this
    for data-dependent sides in generic pipelines."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        return int(plan.stats().sizeInBytes()) <= limit_bytes
    except Exception as exc:
        _log.warning("broadcast size estimate failed, not broadcasting: %r", exc)
        return False
