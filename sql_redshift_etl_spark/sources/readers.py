"""Source connectors (SURVEY.md §2.1): Redshift COPY analogs (CSV/JSON/
Parquet bulk load), JDBC reads, and partitioned/manifest ingest.

The reference's ETL surface is COPY-from-S3 + JDBC; Spark-first that is
``spark.read.<format>`` with explicit schemas (never inferSchema on a
100 TB load — one pass saved) and JDBC reads with partitioned pulls.

JDBC paths are wiring-only here (no live Redshift to test against —
SURVEY.md §7 "What we will NOT build"); option assembly is unit-tested.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, DataFrameReader, SparkSession
from pyspark.sql.types import StructType


def _csv_reader(
    spark: SparkSession,
    schema: StructType | str,
    *,
    header: bool = False,
    delimiter: str = ",",
    multi_line: bool = True,
    null_value: str | None = None,
    date_format: str | None = None,
    timestamp_format: str | None = None,
    quote: str | None = None,
) -> DataFrameReader:
    """The reader behind every delimited-text load, plain (read_csv) or
    error-budgeted (read_with_error_budget), so one file loads the same
    rows either way. ``null_value`` is COPY's NULL AS sentinel and
    ``quote`` its CSV QUOTE AS character; compressed inputs (.gz/.bz2)
    need no option, Spark's text sources decompress by extension.
    ``date_format``/``timestamp_format`` are Spark (Java) patterns —
    COPY's Redshift-dialect DATEFORMAT/TIMEFORMAT strings are
    translated by the caller (functions.dialect.translate_datetime_format).

    ``multi_line`` defaults ON for correctness: a quoted text field
    containing a newline (routine in free-text columns; Spark's own CSV
    writer emits them) would otherwise split mid-record and PERMISSIVE
    mode would silently null both fragments. The cost is per-FILE scan
    parallelism (multiLine CSV is not splittable); at 100 TB prefer many
    moderate files, or escaped/newline-free text with multi_line=False
    for splittable scans.
    """
    reader = (
        spark.read.schema(schema)
        .option("header", header)
        .option("delimiter", delimiter)
        .option("multiLine", multi_line)
        .option("mode", "PERMISSIVE")
    )
    for key, value in (
        ("nullValue", null_value),
        ("dateFormat", date_format),
        ("timestampFormat", timestamp_format),
        ("quote", quote),
    ):
        if value is not None:
            reader = reader.option(key, value)
    return reader


def read_csv(
    spark: SparkSession,
    path: str | list[str],
    schema: StructType | str,
    *,
    header: bool = True,
    **options,
) -> DataFrame:
    """COPY ... FORMAT CSV analog: schema-on-read bulk CSV load;
    ``options`` are ``_csv_reader``'s.

    Explicit schema is mandatory — inferSchema would scan the data twice
    and guess types per-file (drifting schemas across a 100 TB prefix).
    """
    return _csv_reader(spark, schema, header=header, **options).csv(path)


def read_json_lines(spark: SparkSession, path: str, schema: StructType | str) -> DataFrame:
    """COPY ... FORMAT JSON analog: newline-delimited JSON with explicit
    schema (PERMISSIVE: malformed rows → nulls, not job failure; for a
    counted error budget use ``read_with_error_budget`` — the COPY
    MAXERROR analog)."""
    return spark.read.schema(schema).option("mode", "PERMISSIVE").json(path)


_BRACKET_SEG = re.compile(r"\['([^']+)'\]")


def read_json_with_paths(
    spark: SparkSession,
    path: str | list[str],
    schema: StructType,
    jsonpaths_file: str,
    *,
    max_error: int | None = None,
    caches: list[DataFrame] | None = None,
) -> DataFrame | tuple[DataFrame, DataFrame]:
    """COPY ... FORMAT AS JSON '<jsonpaths file>' analog (S2).

    Redshift's jsonpaths control file is ``{"jsonpaths": [expr, ...]}``
    whose path expressions map POSITIONALLY onto the target table's
    columns — the counts must match exactly (Redshift rejects a
    mismatch as a load error, never truncates), and a record missing a
    referenced element loads NULL for that column (lax navigation).
    Both public spellings are accepted: dot paths (``$.a.b[0]``) and
    bracket paths (``$['a']['b'][0]``), the latter normalized to the
    dot form ``get_json_object`` evaluates.

    Spark-first shape: the control file is METADATA, read once
    driver-side (same posture as writers.read_manifest_paths); the data
    is a splittable line-oriented text scan where each path becomes one
    codegen'd ``get_json_object`` projection followed by a cast to the
    declared column type — a row-local, shuffle-free load identical in
    shape to the CSV path. N paths re-parse the document N times; for
    wide targets prefer JSON 'auto' (one ``from_json``-style parse) —
    the jsonpaths form exists for RESHAPING loads (nested elements into
    flat columns), where N is small.

    Malformed records (a line that is not valid JSON) follow Redshift's
    COPY contract, never a silent row of NULLs:

    - ``max_error=None`` — the load FAILS at the first malformed record
      read: every projected column is guarded by a row-local validity
      probe (``get_json_object(value, '$')`` is NULL iff the line does
      not parse) that raises with the offending line. The guard rides
      INSIDE each kept column, so column pruning keeps it on whatever
      the consumer actually reads (one extra root parse per row — same
      order as the per-path parses).
    - ``max_error=n`` — the MAXERROR analog, same contract as
      read_with_error_budget: count malformed lines (one cached-scan
      job at COPY time), raise if over budget, otherwise skip them and
      return ``(good_rows, bad_raw_lines)`` for the stl_load_errors
      sink. The scan's cache is appended to ``caches``, which this
      path requires; the caller unpersists it.

    The probe treats a line as malformed iff its root does not parse as
    a JSON OBJECT or ARRAY (``get_json_object(line, '$')`` non-NULL and
    starting with ``{`` / ``[``): Redshift's COPY JSON requires
    object/array record roots, so bare scalars (``123``, ``true``,
    ``null``), empty lines, and unparseable text are all error records
    — none can populate a positional path. (The root-shape check is
    load-bearing: Spark's get_json_object happily returns scalar roots,
    so a NULL-only probe would load a bare ``null`` line as a silent
    all-NULL row.)
    """
    import json as _json

    from pyspark.sql import functions as F

    with open(jsonpaths_file, encoding="utf-8") as fh:
        try:
            doc = _json.load(fh)
        except ValueError as e:
            raise ValueError(
                f"jsonpaths file {jsonpaths_file!r} is not valid JSON: {e}"
            ) from e
    paths = doc.get("jsonpaths") if isinstance(doc, dict) else None
    if not isinstance(paths, list) or not paths or not all(
        isinstance(p, str) for p in paths
    ):
        raise ValueError(
            f"jsonpaths file {jsonpaths_file!r} must be an object with a "
            "non-empty 'jsonpaths' array of path strings (Redshift's format)"
        )
    fields = schema.fields
    if len(paths) != len(fields):
        raise ValueError(
            f"jsonpaths count ({len(paths)}) != target column count "
            f"({len(fields)}) — Redshift maps jsonpaths positionally and "
            "rejects the mismatch; fix the control file"
        )
    cols = []
    for p, f in zip(paths, fields):
        # bracket segments normalize to the dot form get_json_object
        # evaluates — which cannot spell a key containing a dot, space,
        # or bracket. Loud, never a silently re-interpreted path.
        odd = [
            seg
            for seg in _BRACKET_SEG.findall(p)
            if re.search(r"[.\s\[\]]", seg)
        ]
        if odd:
            raise ValueError(
                f"jsonpaths expression {p!r}: bracket key(s) {odd} contain "
                "characters the dot-path form cannot spell (dot/space/"
                "bracket) — unsupported here; rename the JSON field"
            )
        norm = _BRACKET_SEG.sub(r".\1", p.strip())
        if not norm.startswith("$"):
            raise ValueError(
                f"jsonpaths expression {p!r} must start at the root ('$')"
            )
        cols.append(
            F.get_json_object(F.col("value"), norm).cast(f.dataType).alias(f.name)
        )
    raw = spark.read.text(path)
    root = F.get_json_object(F.col("value"), "$")
    ok = root.isNotNull() & F.substring(root, 1, 1).isin("{", "[")
    if max_error is None:
        guarded = [
            F.when(
                ok,
                c,
            )
            .otherwise(
                F.raise_error(
                    F.concat(
                        F.lit("COPY jsonpaths: malformed JSON record: "),
                        F.substring(F.col("value"), 1, 120),
                    )
                ).cast(f.dataType)
            )
            .alias(f.name)
            for c, f in zip(cols, fields)
        ]
        return raw.select(*guarded)
    if caches is None:
        raise ValueError("read_json_with_paths: max_error needs a caches list to register in")
    flagged = _budget_gate(
        raw.withColumn("_rs_doc_ok", ok), ~F.col("_rs_doc_ok"), max_error, caches
    )
    bad = flagged.filter(~F.col("_rs_doc_ok")).select(
        F.col("value").alias("raw_line")
    )
    return flagged.filter(F.col("_rs_doc_ok")).select(*cols), bad


def read_partitioned(
    spark: SparkSession, base_path: str, glob: str | None = None, schema=None
) -> DataFrame:
    """Manifest/partitioned ingest (S7): hive-style date-partitioned
    prefixes with partition discovery rooted at basePath, so partition
    columns survive and predicate → partition pruning works.

    Pass ``schema`` (e.g. the schema of the frame that was written) when
    the prefix may be EMPTY — a partitioned write of zero rows emits no
    files, and schema inference then throws UNABLE_TO_INFER_SCHEMA where
    an empty relation is the correct answer (empty date slices are
    routine in incremental pipelines)."""
    reader = spark.read.option("basePath", base_path)
    if schema is not None:
        reader = reader.schema(schema)
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.parquet(base_path)


def jdbc_reader_options(
    url: str,
    table_or_query: str,
    *,
    is_query: bool = False,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int | None = None,
    fetch_size: int = 10_000,
    user: str | None = None,
    password: str | None = None,
) -> dict[str, str]:
    """Assemble Spark JDBC source options for a Redshift-style read (S3).

    Partitioned pulls (partitionColumn/lowerBound/upperBound/
    numPartitions) are the difference between 1 connection dragging the
    whole table and N parallel range scans — required at warehouse scale.
    """
    opts: dict[str, str] = {"url": url, "fetchsize": str(fetch_size)}
    opts["query" if is_query else "dbtable"] = table_or_query
    if partition_column is not None:
        if is_query:
            raise ValueError("partitionColumn requires dbtable, not query")
        if lower_bound is None or upper_bound is None or num_partitions is None:
            raise ValueError("partitioned JDBC read needs lower/upper bounds and numPartitions")
        opts.update(
            partitionColumn=partition_column,
            lowerBound=str(lower_bound),
            upperBound=str(upper_bound),
            numPartitions=str(num_partitions),
        )
    if user:
        opts["user"] = user
    if password:
        opts["password"] = password
    return opts


def read_jdbc(spark: SparkSession, **kwargs) -> DataFrame:
    """JDBC source read (S3) — thin wrapper over jdbc_reader_options."""
    return spark.read.format("jdbc").options(**jdbc_reader_options(**kwargs)).load()


def read_fixed_width(
    spark: SparkSession,
    path: str | list[str],
    schema: StructType | str,
    spec: str,
    *,
    null_value: str | None = None,
) -> DataFrame:
    """COPY ... FIXEDWIDTH 'label:width,...' analog: each line is cut
    into fixed-length fields by the spec, right-trimmed (fixed-width
    data is space-padded by definition), optionally null-matched, and
    cast to the declared schema. The spec must cover exactly the
    declared columns (Redshift's own contract — a partial spec would
    silently misalign every following field).

    Scale: spark.read.text is splittable line-oriented input; the cuts
    are row-local substring projections — codegen'd, zero shuffles.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType as _ST

    tgt = _ST.fromDDL(schema) if isinstance(schema, str) else schema
    fields: list[tuple[str, int]] = []
    for part in spec.split(","):
        part = part.strip()
        if not part:
            continue
        pm = re.match(r"^([\w#$]+)\s*:\s*(\d+)$", part)
        if pm is None or int(pm.group(2)) <= 0:
            raise ValueError(f"FIXEDWIDTH: bad field spec {part!r} (want label:width)")
        fields.append((pm.group(1), int(pm.group(2))))
    declared = {f.name.lower() for f in tgt.fields}
    labels = [n.lower() for n, _ in fields]
    if len(set(labels)) != len(labels):
        raise ValueError(f"FIXEDWIDTH: duplicate labels in {spec!r}")
    if set(labels) != declared:
        raise ValueError(
            f"FIXEDWIDTH: spec labels {sorted(labels)} must cover exactly the "
            f"target columns {sorted(declared)}"
        )
    lines = spark.read.text(path) if not isinstance(path, list) else spark.read.text(*path)
    cols, start = {}, 1
    for label, width in fields:
        c = F.rtrim(F.substring(F.col("value"), start, width))
        if null_value is not None:
            c = F.when(c == F.lit(null_value), F.lit(None)).otherwise(c)
        cols[label] = c
        start += width
    by_lower = {f.name.lower(): f for f in tgt.fields}
    return lines.select(
        *[
            cols[f.name.lower()].cast(by_lower[f.name.lower()].dataType).alias(f.name)
            for f in tgt.fields
        ]
    )


# The budgeted frame is cached because it has two consumers inside one
# COPY (the MAXERROR count and the good/bad split). The cache must NOT
# outlive its consumers — at 100 TB it would pin the whole load in the
# block-manager for the session's lifetime (guide §5) — so it goes on
# the ``caches`` list the caller passes in, and the caller unpersists
# what it registered (the script runner: at the end of the COPY's
# script).
def _budget_gate(df: DataFrame, is_bad, max_error: int, caches: list[DataFrame]) -> DataFrame:
    """The MAXERROR gate of read_with_error_budget and the budgeted
    read_json_with_paths: cache ``df``, register the cache in
    ``caches``, count the rows ``is_bad`` flags, and fail the load past
    the budget. Returns the cached frame."""
    from pyspark.sql import functions as F

    df = df.cache()
    caches.append(df)
    n_bad = df.filter(is_bad).count()
    if n_bad > max_error:
        raise ValueError(
            f"COPY: {n_bad} malformed row(s) exceed MAXERROR {max_error}"
        )
    return df


def read_with_error_budget(
    spark: SparkSession,
    path: str | list[str],
    schema: StructType | str,
    fmt: str,
    *,
    max_error: int,
    caches: list[DataFrame],
    **csv_options,
) -> tuple[DataFrame, DataFrame]:
    """COPY ... MAXERROR n analog: load CSV/TEXT/JSON permissively with a
    corrupt-record column, count malformed rows, raise if the count
    exceeds the budget, otherwise skip them (Redshift skips up to
    MAXERROR bad rows and fails the load beyond it — silent-null
    loading is exactly what MAXERROR exists to prevent). Returns
    ``(good_rows, bad_raw_lines)`` — the caller surfaces the skipped
    raw records (the script runner's ``stl_load_errors`` analog).
    CSV/TEXT reads take ``_csv_reader``'s ``csv_options``, so the good
    rows are the rows the plain read_csv loads from the same file.

    The parsed frame is cached before the acceptance count: Spark
    disallows queries that reference ONLY the internal corrupt-record
    column on a raw scan (SPARK-21610), and the cache also makes the
    gate + consume a single parse at any scale. The cache is appended
    to ``caches``; the caller unpersists it once the returned frames
    have served.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType, StructField
    from pyspark.sql.types import StructType as _ST

    tgt = _ST.fromDDL(schema) if isinstance(schema, str) else schema
    corrupt = "_rs_corrupt_record"
    aug = _ST(list(tgt.fields) + [StructField(corrupt, StringType())])
    if fmt == "JSON":
        reader = spark.read.schema(aug).option("mode", "PERMISSIVE")
        df = reader.option("columnNameOfCorruptRecord", corrupt).json(path)
    else:
        reader = _csv_reader(spark, aug, **csv_options)
        df = reader.option("columnNameOfCorruptRecord", corrupt).csv(path)
    df = _budget_gate(df, F.col(corrupt).isNotNull(), max_error, caches)
    # Materialize the bad split NOW, while the cache is warm: it is
    # ≤ max_error rows by the contract just enforced, and a
    # corrupt-record-only projection is ILLEGAL to recompute from an
    # uncached raw scan
    # (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN) — a lazy
    # `bad` would break the moment the caller unpersists the cache
    # (the script runner: at script end). raw_line is truncated to
    # 1024 chars, which is Redshift's own STL_LOAD_ERRORS.raw_line
    # width — and what bounds driver BYTES as well as rows (a
    # multiLine CSV corrupt record can otherwise swallow the rest of a
    # file into one value).
    bad_rows = (
        df.filter(F.col(corrupt).isNotNull())
        .select(F.substring(F.col(corrupt), 1, 1024).alias("raw_line"))
        .collect()
    )
    bad = spark.createDataFrame(bad_rows, "raw_line string")
    # The good split is read after the caller unpersists the cache too,
    # and a column-free consumer (count(*)) would prune its raw scan to
    # the corrupt-record column alone, which is just as illegal. The
    # always-true test on the first data column keeps that column in
    # the scan.
    first = F.col(tgt.fields[0].name)
    good = df.filter(F.col(corrupt).isNull() & (first.isNull() | first.isNotNull()))
    return good.drop(corrupt), bad
