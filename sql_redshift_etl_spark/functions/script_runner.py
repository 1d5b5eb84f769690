"""Multi-statement Redshift ETL-script runner.

A sql-redshift-etl project's unit of work is a *script*, not a single
statement: ``BEGIN; CREATE TEMP TABLE stg AS ...; INSERT INTO fct
SELECT ...; DELETE ...; SELECT ...; COMMIT;``. This module executes such
a script end-to-end on Spark: statements are split (quote-aware), each
is rewritten through the single-statement dialect front-end
(functions.redshift_sql.translate_redshift_sql), and the intermediate
"tables" become Spark temp views staged between statements. The last
SELECT's DataFrame is returned.

Statement support:
- ``BEGIN/COMMIT/END/ROLLBACK/VACUUM/ANALYZE/GRANT/REVOKE`` — no-ops
  (transactional/maintenance syntax with no Spark analog).
- ``CREATE SCHEMA name`` / ``DROP SCHEMA name [CASCADE]`` (r6) — Spark
  temp views are single-part names, so declared schemas flatten every
  later ``name.<tbl>`` reference to ``name__<tbl>`` (outside string
  literals; a table alias colliding with a declared schema name would
  shadow — the same hazard Redshift has). DROP SCHEMA of a non-empty
  schema requires CASCADE, which drops its tables.
- ``CREATE [TEMP] TABLE name AS SELECT ...`` — registers the SELECT as
  a temp view (storage clauses like DISTKEY/SORTKEY are stripped by the
  front-end before classification); ``name (a, b) AS SELECT`` renames
  the query's columns positionally (r6).
- ``CREATE [TEMP] TABLE name (col type, ...)`` — empty table with the
  declared schema (Spark parses the DDL column list directly).
- ``CREATE [TEMP] TABLE name (LIKE other [INCLUDING|EXCLUDING
  DEFAULTS])`` — empty table with the other table's schema.
- ``ALTER TABLE a RENAME TO b`` — the atomic-swap publish step: the
  table moves to the new name within script scope.
- ``ALTER TABLE tgt APPEND FROM src`` — Redshift's move-rows publish
  (r5): src's rows append to tgt (positional cast) and src empties;
  IGNOREEXTRA/FILLTARGET accepted (width mismatches already raise).
- ``CREATE [OR REPLACE] VIEW name AS SELECT ... [WITH NO SCHEMA
  BINDING]`` — same as CTAS (script views are late-bound by nature).
- ``ALTER TABLE t ALTER [COLUMN] c [SET DATA] TYPE type`` — cast in
  place (Redshift's varchar-resize/type-migration op); ``ADD [COLUMN] c
  type [DEFAULT lit]`` backfills existing rows; ``DROP [COLUMN]`` and
  ``RENAME COLUMN a TO b``.
- DML: ``INSERT INTO name [(cols)] SELECT ...|VALUES ...``, ``INSERT
  INTO name DEFAULT VALUES``, ``UPDATE name SET c = e, ... [FROM src,
  ...] [WHERE cond]``, ``DELETE FROM name [USING src, ...] [WHERE
  cond]`` and ``MERGE INTO tgt USING src ON <key equalities> WHEN
  MATCHED THEN UPDATE SET ...|DELETE WHEN NOT MATCHED THEN INSERT ...``
  or its simplified ``ON ... REMOVE DUPLICATES`` form share one column
  contract: resolve, fill, commit. Every column a statement names
  resolves case-insensitively to the table's spelling, or the statement
  raises naming it (``_target_col``). A column an INSERT or MERGE does
  not list takes its DDL fill (``_fill_unlisted``): the ``DEFAULT``,
  unique ascending ids above the table's maximum for ``IDENTITY(seed,
  step)`` (not consecutive, Redshift's own contract), else NULL;
  ``DEFAULT VALUES`` is a column-list INSERT of one row that lists no
  column. Fills are recorded from CREATE/ALTER DDL, follow column and
  table renames, are inherited by ``CREATE ... (LIKE ...)`` (identity
  always, defaults only under INCLUDING DEFAULTS), and die with a drop
  or rebind. The new table then binds, pinned (localCheckpoint) when a
  fill generated ids or read the clock, so every later read sees the
  same values, and INSERT/UPDATE/DELETE record their affected rows for
  ROW_COUNT and FOUND (``_commit_dml``). DELETE keeps the rows whose
  condition is not TRUE (NULL-condition rows survive) and USING deletes
  a row that ANY source row matches (a left-anti join); UPDATE casts
  each assignment to the column's type, and FROM updates each target
  row at most once on multi-match joins (a deterministic pick); USING
  and FROM require WHERE. MERGE is parsed once (``_parse_merge``) and
  lowered to the relational merge plan (operators/merge.py); a key that
  repeats in the source raises at runtime, as in Redshift.
- ``TRUNCATE [TABLE] name`` / ``DROP TABLE|VIEW [IF EXISTS] name``.
- ``COPY name FROM 'path' [options]`` / ``UNLOAD ('select...') TO
  'path' [options]`` — the bulk load and export. COPY appends to an
  existing table whose declared schema is the read schema (never
  inferSchema); UNLOAD writes the inner query (quote-unescaped,
  dialect-rewritten) to files. ``_IO_RULES`` is the contract: one row
  per option, naming the statements that take it and the formats it
  applies to (TEXT — bare, Redshift's pipe-delimited text —, CSV, JSON,
  PARQUET, FIXEDWIDTH), and ``_parse_io_options`` checks every given
  option against it, so an option is applied or raises, never dropped.
  Beyond the table: IGNOREHEADER above 1, an epoch DATEFORMAT (epoch
  spellings are TIMEFORMAT-only), FIXEDWIDTH with FORMAT, MAXFILESIZE
  with PARALLEL OFF, and UNLOAD's codec by format (PARQUET takes
  GZIP/ZSTD, text GZIP/BZIP2) raise. Auth clauses and the
  ``_OPT_TOKEN`` no-ops (ESCAPE, COMPUPDATE, ...) are accepted; any
  other token raises. MAXERROR loads through the same CSV reader as the
  plain load, skips up to n malformed rows and fails past them, and
  the skipped raw records accumulate in a script-scoped
  ``stl_load_errors`` table (tbl, raw_line). A MANIFEST COPY loads
  exactly the listed files; a MANIFEST UNLOAD lists every file Spark
  committed (sources.writers.write_manifest).
- ``CREATE EXTERNAL TABLE name (cols) [PARTITIONED BY (...)] [ROW
  FORMAT DELIMITED FIELDS TERMINATED BY 'c'] STORED AS PARQUET|TEXTFILE
  LOCATION 'path'`` — the Spectrum analog (r5): a schema-on-read
  binding over the prefix; PARQUET validates declared columns against
  the files and discovers hive partitions; TEXTFILE reads the declared
  schema at the given delimiter.
- ``CREATE MATERIALIZED VIEW name [BACKUP ...] [AUTO REFRESH ...] AS
  SELECT ...`` / ``REFRESH MATERIALIZED VIEW name`` (r6) — CREATE
  snapshots the defining query (eager analysis = Redshift's
  stale-until-REFRESH contract); REFRESH re-runs the stored definition.
- ``SELECT ... INTO [TEMP] name FROM ...`` (r6) — the one-line CTAS.
- ``CREATE [OR REPLACE] PROCEDURE name(params) AS $$ [DECLARE ...]
  BEGIN ... END $$ LANGUAGE plpgsql`` / ``CALL name(args)`` /
  ``DROP PROCEDURE`` — the body executes in place at CALL with IN
  parameters bound as text on identifier boundaries, outside string
  literals and outside the body of a FOR loop that rebinds the name
  (plpgsql's own lexical substitution), and supports the procedural
  core: IF/ELSIF/ELSE (an ``IF [NOT] EXISTS (query) THEN`` included),
  WHILE ... LOOP, FOR i IN [REVERSE] a..b [BY step] LOOP (a
  non-positive BY step is loud, plpgsql's rule), CASE statements
  (searched + simple value-list forms, case_not_found raise), FOR rec IN
  <query> LOOP (bounded control-table iteration), bare LOOP, EXIT/
  CONTINUE [WHEN], bare RETURN, RAISE, and DECLAREd scalar variables
  with ``var := expr`` and ``SELECT ... INTO [STRICT] var`` (values
  substitute as typed literals at each use site; STRICT demands
  exactly one row, raising catchable no_data_found P0002 /
  too_many_rows P0003 via a bounded take(2), and always leaves FOUND
  true on success, plpgsql's rule). Nested
  ``DECLARE ... BEGIN ... END`` sub-blocks: the inner scalars shadow
  same-name outer variables for the block's extent and un-shadow on any
  exit path (normal, EXIT/CONTINUE, RETURN, or a caught error); defaults
  re-evaluate at each entry. The rest of the procedural core:
  * ``BEGIN ... EXCEPTION WHEN OTHERS THEN handler END`` blocks (the
    nightly-load error-wrapper idiom) — on entry the script state
    snapshots and every table mutation inside materializes eagerly
    (localCheckpoint) so an execution error surfaces AT the statement
    that caused it, not at some later action; a caught error restores
    the snapshot ("changes are rolled back", plpgsql's contract) and
    runs the handler, where SQLERRM/SQLSTATE substitute the message
    and a classified code. Only WHEN OTHERS is accepted — Redshift's
    own restriction. The runner's unsupported-construct ValueErrors
    stay loud rather than routing to handlers: a real engine would
    have executed those statements, so "catching" them would silently
    change semantics. Cost model: each guarded mutation runs a real
    job at bind time — guard hot loops, not bulk loads you could
    guard one level up.
  * ``EXECUTE <string expr> [INTO var, ...] [USING expr, ...]``
    dynamic SQL — the expression evaluates with current variable
    values (QUOTE_IDENT/QUOTE_LITERAL do the quoting) and the text
    runs as one statement; dynamic SQL does not see plpgsql variables
    (plpgsql's contract). USING binds each argument's VALUE to
    its $N placeholder as a typed literal — value-not-text, outside
    quotes only, one bounded one-row job per argument.
  * forward-only cursors: ``name CURSOR FOR <query>`` in DECLARE,
    ``OPEN`` (evaluates the query, buffering at most 1000 control
    rows driver-side — the bounded coordinator-loop contract shared
    with FOR-over-query), ``FETCH [NEXT] [FROM] cur INTO vars`` (sets
    ``found``; NULLs past the end), ``CLOSE``. SCROLL/parameterized
    cursors and FETCH counts are loud.
  * ``GET DIAGNOSTICS var := ROW_COUNT`` — rows affected by the last
    tracked statement (INSERT/UPDATE/DELETE/TRUNCATE via lazy
    affected-set plans counted only when read; SELECT INTO var, FETCH
    and EXECUTE INTO report 0/1). Untracked statements reset the
    count, and reading it then is loud — never silently stale.
  * ``PERFORM query`` — run-and-discard: sets ``found`` from a
    bounded limit-1 probe; the discarded row count feeds ROW_COUNT as
    the usual lazy plan.
  * ``FOUND`` — the full plpgsql setter list: SELECT INTO,
    PERFORM, INSERT/UPDATE/DELETE (lazily, like ROW_COUNT — a body
    that never reads FOUND after a DML pays zero extra jobs), FETCH,
    and query-FOR loop exit — on ANY exit path, EXIT included
    (plpgsql's exec_for_query stamps "iterated at least once" after
    the loop regardless of how it ended). EXECUTE never sets it
    (plpgsql's own rule: EXECUTE feeds GET DIAGNOSTICS, not FOUND);
    TRUNCATE/MERGE are not in plpgsql's setter list and leave it
    alone. Auto-declared (FALSE, per call) when the body mentions
    ``found``/``PERFORM`` or declares a cursor — and a body that ALSO
    declares or aliases a COLUMN literally named ``found`` raises the
    plpgsql variable_conflict ambiguity error instead of silently
    substituting.
  * INOUT parameters — scoped variables initialized from the
    CALL argument; the CALL returns their final values as a one-row
    result (Redshift's contract). OUT stays loud because Redshift
    itself forbids OUT arguments in a SQL-level CALL.
  Still loud: OUT params, RETURN with a value, GET DIAGNOSTICS of
  anything but ROW_COUNT.
  Cost model note: WHILE/FOR loop conditions evaluate as one
  1-row Spark job per iteration (capped at 1000) — faithful to
  coordinator-side plpgsql, so a 1000-iteration loop costs the job
  floor x 1000 at ANY data size; loop over control rows, never facts.
- ``CREATE [OR REPLACE] FUNCTION f(a type, ...) RETURNS type AS
  $$ SELECT expr $$ LANGUAGE sql`` / ``DROP FUNCTION`` (r6) — scalar
  SQL UDFs inlined textually at every call site ($N positional or
  named params; UDFs may call UDFs, depth-capped), so Catalyst sees
  plain expressions — zero UDF overhead, exactly how Redshift inlines
  them. ``LANGUAGE plpythonu`` (r9) compiles the Python body once at
  CREATE and registers it as an Arrow-batched pandas UDF (NULL ↔ None,
  Redshift's contract); DROP tombstones it loudly.
- ``SET knob = value`` (r6) — warehouse session knobs are accepted
  no-ops; ``SET search_path`` resolves unqualified names against the
  declared schemas in path order (read-side; a plain binding shadows
  the path; undeclared schemas raise).
- ``BEGIN / COMMIT / END / ROLLBACK / ABORT`` (r6) — real single-level
  transactions: BEGIN snapshots the script state (shallow copies of
  immutable bindings), ROLLBACK restores it; nested BEGIN is ignored
  (Redshift warns-and-ignores); file side effects (UNLOAD output) are
  not unwritten, matching Redshift's S3 contract.
- ``EXPLAIN ... / SHOW ...`` (r6) — passed to Spark; output is
  engine-specific by nature.
- ``SELECT ... / WITH ...`` — executed; the LAST one is the script's
  result DataFrame.

Execution model (Spark-first, deliberately): staged tables stay *lazy*
views, so the whole script up to the final SELECT is ONE Catalyst plan —
filters in the final query push down through every staging "table", and
nothing materializes that the result does not need (the argument of
operators/pipelines.py, applied to verbatim scripts). ``spark.sql``
analyzes eagerly, so each statement binds to the table definitions as
they stood when it ran: a self-referencing ``INSERT INTO t SELECT ...
FROM t`` appends a snapshot, later ``DROP``s cannot retroactively break
earlier derivations, and the cleanup of script-scoped temp views after
the run cannot invalidate the returned DataFrame. At 100 TB a staging
table reused by MANY downstream statements can be worth materializing
once instead of recomputing per consumer — that is an explicit
``sources.writers.unload_parquet`` checkpoint in this engine, not an
implicit runner behavior.

Dispatch: ``run_redshift_script`` is a short worklist loop over a
``_ScriptState``. Control nodes go to their handler by type
(``_CONTROL``); statements go through ordered ``(pattern, handler)``
tables, first match wins. A new statement kind is one pattern plus one
handler in ``_SQL_STMTS``, and where its pattern overlaps another it
must sit at the right place in the table (``_CTAS_COLS`` before
``_CTAS``, ``_CREATE_LIKE`` before ``_CREATE_DDL``, raw-text kinds before
the ``_translate_stmt`` step).
"""

from __future__ import annotations

import re
from collections import deque
from collections.abc import Callable, Iterator
from functools import partial
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sql_redshift_etl_spark.catalog import empty_frame
from sql_redshift_etl_spark.functions.redshift_sql import (
    _in_literal,
    _rewrite_calls,
    _scan_balanced,
    _split_args,
    rewrite_temp_names,
    strip_sql_comments,
    translate_redshift_sql,
)

__all__ = ["run_redshift_script", "split_statements"]


def split_statements(script: str) -> list[str]:
    """Split a script on ``;`` outside string literals and outside
    ``$$``-dollar-quoted bodies (CREATE PROCEDURE ... AS $$ ... $$)."""
    stmts: list[str] = []
    buf: list[str] = []
    in_quote = False
    in_dollar = False
    s = strip_sql_comments(script)
    i, n = 0, len(s)
    while i < n:
        ch = s[i]
        if not in_quote and ch == "$" and s.startswith("$$", i):
            in_dollar = not in_dollar
            buf.append("$$")
            i += 2
            continue
        if ch == "'" and not in_dollar:
            in_quote = not in_quote
            buf.append(ch)
        elif ch == ";" and not in_quote and not in_dollar:
            stmts.append("".join(buf))
            buf = []
        else:
            buf.append(ch)
        i += 1
    stmts.append("".join(buf))
    return [s.strip() for s in stmts if s.strip()]


_NOOP = re.compile(
    r"^(BEGIN|COMMIT|END|ROLLBACK|ABORT|VACUUM|ANALYZE|GRANT|REVOKE|COMMENT|LOCK)\b",
    re.IGNORECASE,
)
_CTAS = re.compile(
    r"^CREATE\s+(?:TEMP(?:ORARY)?\s+)?TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?([\w.]+)\s+AS\s+(.+)$",
    re.IGNORECASE | re.DOTALL,
)
# CTAS with a column list (`CREATE TABLE t (a, b) AS SELECT ...`):
# bare identifiers only — anything typed is DDL. Checked before
# _CREATE_DDL, whose greedy paren body would swallow the AS query.
_CTAS_COLS = re.compile(
    r"^CREATE\s+(?:TEMP(?:ORARY)?\s+)?TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?([\w.]+)\s*"
    r"\(\s*(\w+(?:\s*,\s*\w+)*)\s*\)\s+AS\s+(.+)$",
    re.IGNORECASE | re.DOTALL,
)
_CREATE_DDL = re.compile(
    r"^CREATE\s+(?:TEMP(?:ORARY)?\s+)?TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?([\w.]+)\s*\((.+)\)\s*$",
    re.IGNORECASE | re.DOTALL,
)
_CREATE_VIEW = re.compile(
    # WITH NO SCHEMA BINDING (Redshift late-binding views) is accepted:
    # script-scoped views are late-bound by nature (temp-view rebinds)
    r"^CREATE\s+(?:OR\s+REPLACE\s+)?VIEW\s+([\w.]+)\s+AS\s+(.+?)"
    r"(?:\s+WITH\s+NO\s+SCHEMA\s+BINDING)?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_INSERT = re.compile(
    # query may be parenthesized (`INSERT INTO t (SELECT ...)`, a common
    # Redshift spelling — Spark parses the parenthesized query natively)
    r"^INSERT\s+INTO\s+([\w.]+)\s*(?:\(([^)]*)\)\s*)?"
    r"((?:SELECT|WITH|VALUES)\b.*|\(\s*(?:SELECT|WITH)\b.*)$",
    re.IGNORECASE | re.DOTALL,
)
# Redshift SQL UDFs: `CREATE [OR REPLACE] FUNCTION f(a type, ...)
# RETURNS type [STABLE|IMMUTABLE|VOLATILE] AS $$ SELECT expr $$
# LANGUAGE sql` — the body is a scalar expression over the parameters
# ($1/$2 positional or named), inlined textually at every call site
# (Redshift itself inlines scalar SQL UDFs into the plan; here that
# means Catalyst sees plain expressions — zero UDF overhead).
# plpythonu bodies register as Arrow-batched pandas UDFs (see
# _register_python_udf below).
_CREATE_FUNC_HEAD = re.compile(
    r"^CREATE\s+(?:OR\s+REPLACE\s+)?FUNCTION\s+([\w.]+)\s*\(", re.IGNORECASE
)
# Redshift Lambda UDFs (CREATE EXTERNAL FUNCTION ... LAMBDA '...') call
# an AWS Lambda endpoint per batch — an environment exclusion here (no
# network, no AWS), seamed loudly like the JDBC-to-real-Redshift path.
_CREATE_EXT_FUNC = re.compile(
    r"^CREATE\s+(?:OR\s+REPLACE\s+)?EXTERNAL\s+FUNCTION\b", re.IGNORECASE
)
_CREATE_FUNC_TAIL = re.compile(
    r"^\s*RETURNS\s+(\w+)(?:\s*\(\s*\d+(?:\s*,\s*\d+)?\s*\))?\s*"
    r"(?:STABLE|IMMUTABLE|VOLATILE)?\s*AS\s+\$\$(.*)\$\$\s*"
    r"LANGUAGE\s+(\w+)\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DROP_FUNC = re.compile(
    r"^DROP\s+FUNCTION\s+(IF\s+EXISTS\s+)?([\w.]+)\s*(?:\([^)]*\))?\s*$",
    re.IGNORECASE,
)


def _parse_func_params(params: str) -> list[str]:
    """Parameter NAMES from a SQL-UDF signature; unnamed (type-only)
    parameters are referenced as $N and get positional placeholders."""
    names: list[str] = []
    for i, p in enumerate(_split_args(params)):
        if not p:
            continue
        pm = re.match(r"(?i)^([\w$]+)\s+\w", p)
        # a bare type (e.g. "float, float") means positional-only refs
        names.append(pm.group(1) if pm else f"${i + 1}")
    return names


def _inline_sql_udfs(sql: str, funcs: dict[str, tuple[list[str], str]]) -> str:
    """Inline every call to a script-defined SQL UDF: substitute named
    params on identifier boundaries and $N positionally, wrap in parens.
    All parameters substitute in one pass that skips the body's string
    literals, so an argument's text is never substituted again.
    Repeats until no calls remain, so UDFs may call other UDFs
    (depth-capped loudly)."""
    for _ in range(16):
        before = sql
        for fname, (params, expr) in funcs.items():
            names = [re.escape(p) for p in params if not p.startswith("$")]
            param_re = re.compile(
                "|".join([r"\$\d+\b"] + [rf"(?<![\w$]){n}(?![\w$])" for n in names]),
                re.IGNORECASE,
            )

            def render(m: re.Match, arg_text: str) -> str:
                args = [a for a in _split_args(arg_text) if a]
                if len(args) != len(params):
                    raise ValueError(
                        f"{fname}(): expected {len(params)} argument(s), got {len(args)}"
                    )
                by_ref: dict[str, str] = {}
                for i, (p, a) in enumerate(zip(params, args)):
                    by_ref[f"${i + 1}"] = a
                    by_ref.setdefault(p.lower(), a)

                def subst(pm: re.Match) -> str:
                    a = by_ref.get(pm.group().lower())
                    if a is None or _in_literal(expr, pm.start()):
                        return pm.group()
                    return f"({a})"

                return f"({param_re.sub(subst, expr)})"

            pat = re.compile(rf"(?<![\w$]){re.escape(fname)}\s*\(", re.IGNORECASE)
            sql = _rewrite_calls(sql, pat, render)
        if sql == before:
            return sql
    raise ValueError("SQL UDF inlining exceeded depth 16 (recursive definition?)")


# Redshift scalar Python UDFs: `CREATE FUNCTION f(a type, ...) RETURNS
# type AS $$ <python body> $$ LANGUAGE plpythonu` (r9). The body is a
# Python FUNCTION BODY over the named parameters (Redshift's contract:
# NULL arrives as None, returning None yields NULL). Spark-first
# execution: the body compiles ONCE at CREATE time into a plain Python
# function, registered as an Arrow-batched pandas UDF that applies it
# per element — the per-row Python step is inherent to an arbitrary
# Python body (Redshift itself runs plpythonu row-at-a-time in its
# sandbox); what Spark buys is the Arrow columnar transfer instead of
# per-row IPC, the same reason functions/udfs.py bans row-at-a-time
# @udf but allows pandas UDFs.
_PY_UDF_TYPES: dict[str, str] = {
    "smallint": "bigint", "int2": "bigint", "integer": "bigint",
    "int": "bigint", "int4": "bigint", "bigint": "bigint", "int8": "bigint",
    "real": "double", "float4": "double", "float": "double",
    "float8": "double", "double": "double",
    # Redshift converts decimal args to float for plpythonu anyway
    "decimal": "double", "numeric": "double",
    "varchar": "string", "char": "string", "bpchar": "string",
    "nvarchar": "string", "text": "string", "character": "string",
    "boolean": "boolean", "bool": "boolean",
    "date": "date", "timestamp": "timestamp",
    # Redshift's TIMESTAMPTZ: instant semantics — Spark's TIMESTAMP
    # (TIMESTAMP_LTZ) is the matching instant type; the body sees a
    # tz-naive datetime in session time, like Redshift's UTC-normalized
    # sandbox value
    "timestamptz": "timestamp",
}


def _py_udf_spark_type(rtype: str, fname: str) -> str:
    t = _PY_UDF_TYPES.get(rtype.lower())
    if t is None:
        raise ValueError(
            f"CREATE FUNCTION {fname}: plpythonu RETURNS {rtype} is outside "
            f"the supported subset ({', '.join(sorted(set(_PY_UDF_TYPES)))})"
        )
    return t


def _compile_py_udf(fname: str, params: list[str], body: str):
    """Compile the $$ body $$ into a scalar Python function of the named
    parameters. Loud on syntax errors at CREATE time (Redshift validates
    at CREATE too)."""
    import textwrap

    inner = textwrap.dedent(body).strip("\n") or "pass"
    src = f"def _rs_py_udf({', '.join(params)}):\n" + textwrap.indent(inner, "    ")
    ns: dict = {}
    try:
        exec(compile(src, f"<plpythonu:{fname}>", "exec"), ns)
    except SyntaxError as ex:
        raise ValueError(
            f"CREATE FUNCTION {fname}: plpythonu body does not compile: {ex}"
        ) from None
    return ns["_rs_py_udf"]


def _parse_func_param_types(params: str) -> list[str]:
    """Parameter TYPE names from a function signature ('bal FLOAT8, seg
    VARCHAR(10)' -> ['FLOAT8', 'VARCHAR']); a bare type (unnamed param)
    passes through as itself."""
    types: list[str] = []
    for p in _split_args(params):
        if not p:
            continue
        pm = re.match(r"(?i)^[\w$]+\s+(\w+)", p)
        types.append(pm.group(1) if pm else p.split("(")[0].strip())
    return types


# declared-type argument casters: Spark does not coerce a UDF's inputs
# to any declared type (the call site passes the column's own Python
# value — decimal.Decimal for DECIMAL, int for BIGINT), but Redshift's
# plpythonu contract does: decimal arguments convert to float (the
# _PY_UDF_TYPES mapping above), and a body declared FLOAT8 must see
# float. Applied per non-None value, after the Arrow conversion.
_PY_ARG_COERCE = {"bigint": int, "double": float, "boolean": bool}


def _register_python_udf(
    spark: SparkSession,
    fname: str,
    params: list[str],
    ptypes: list[str],
    rtype: str,
    body: str,
) -> None:
    from pyspark.sql.functions import udf

    fn = _compile_py_udf(fname, params, body)
    # validates every declared type at CREATE time, like RETURNS
    coercers = [_PY_ARG_COERCE.get(_py_udf_spark_type(t, fname)) for t in ptypes]

    # Arrow-OPTIMIZED udf (useArrow=True → ArrowEvalPython, never the
    # banned pickling BatchEvalPython): the Arrow validity bitmap
    # reaches Python intact, so the body sees exactly Redshift's sandbox
    # contract — SQL NULL is None while a genuine FLOAT8 NaN stays
    # float('nan') (a pandas_udf float64 batch conflates the two — r9
    # ADVICE), and DATE/TIMESTAMP arrive as datetime.date/datetime.
    # The declared-type casters then apply (r10 review: a DECIMAL column
    # bound to a FLOAT8 parameter must reach the body as float, not
    # decimal.Decimal — Redshift converts; float('nan') survives
    # float() unchanged, so the NaN≠NULL fix is unaffected).
    if any(coercers):
        inner = fn

        def fn(*args):  # noqa: F811 — deliberate wrap of the compiled body
            return inner(
                *(
                    a if a is None or co is None else co(a)
                    for a, co in zip(args, coercers)
                )
            )

    fn.__name__ = f"rs_py_{fname}"
    spark.udf.register(fname, udf(fn, _py_udf_spark_type(rtype, fname), useArrow=True))


def _register_py_udf_tombstone(spark: SparkSession, fname: str) -> None:
    """Spark has no udf-unregister, so DROP FUNCTION (and end-of-script
    descoping) re-registers a stub that raises on evaluation — a call
    after DROP is loud, never a stale-result footgun."""
    from pyspark.sql.functions import udf

    def _gone(*cols):
        raise ValueError(
            f"function {fname} does not exist (dropped or script-scoped)"
        )

    _gone.__name__ = f"rs_py_dropped_{fname}"
    spark.udf.register(fname, udf(_gone, "string", useArrow=True))


# Script-scoped schemas: Spark temp views are single-part names, so
# `CREATE SCHEMA staging` records the name and every later
# `staging.<tbl>` reference flattens to `staging__<tbl>` (applied
# outside string literals, only for schemas the script DECLARED — a
# bare alias.column reference never matches unless the alias collides
# with a declared schema name, the same shadowing hazard Redshift has).
_CREATE_SCHEMA = re.compile(
    r"^CREATE\s+SCHEMA\s+(?:IF\s+NOT\s+EXISTS\s+)?(\w+)\s*"
    r"(?:AUTHORIZATION\s+\w+)?\s*(?:QUOTA\s+[\w.]+(?:\s+\w+)?)?\s*$",
    re.IGNORECASE,
)
_DROP_SCHEMA = re.compile(
    r"^DROP\s+SCHEMA\s+(IF\s+EXISTS\s+)?(\w+)\s*(CASCADE|RESTRICT)?\s*$",
    re.IGNORECASE,
)
_INSERT_DEFAULTS = re.compile(
    r"^INSERT\s+INTO\s+([\w.]+)\s+DEFAULT\s+VALUES\s*$", re.IGNORECASE
)
_DELETE = re.compile(
    r"^DELETE\s+FROM\s+([\w.]+)(?:\s+(.+))?$", re.IGNORECASE | re.DOTALL
)
_UPDATE = re.compile(r"^UPDATE\s+([\w.]+)\s+SET\s+(.+)$", re.IGNORECASE | re.DOTALL)


def _split_top_kw(body: str, kw: str) -> tuple[str, str | None]:
    """Split ``body`` at the first TOP-LEVEL occurrence of keyword ``kw``
    (paren- and quote-aware): a WHERE or FROM inside a subquery
    assignment like ``SET v = (SELECT max(x) FROM s WHERE k = 1)``, or a
    SUBSTRING(x FROM 2), sits at depth > 0 and is content."""
    depth, in_quote = 0, False
    n, k = len(body), len(kw)
    for i, ch in enumerate(body):
        if ch == "'":
            in_quote = not in_quote
        elif not in_quote:
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif (
                depth == 0
                and body[i : i + k].upper() == kw
                and i > 0
                and body[i - 1].isspace()
                and (i + k == n or not (body[i + k].isalnum() or body[i + k] == "_"))
            ):
                return body[:i].strip(), body[i + k :].strip()
    return body.strip(), None
_CREATE_LIKE = re.compile(
    r"^CREATE\s+(?:TEMP(?:ORARY)?\s+)?TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?([\w.]+)\s*\(\s*LIKE\s+([\w.]+)\s*(INCLUDING|EXCLUDING)?\s*(?:DEFAULTS)?\s*\)\s*$",
    re.IGNORECASE,
)
_ALTER_RENAME = re.compile(
    r"^ALTER\s+TABLE\s+([\w.]+)\s+RENAME\s+TO\s+([\w.]+)\s*$", re.IGNORECASE
)
_ALTER_APPEND = re.compile(
    r"^ALTER\s+TABLE\s+([\w.]+)\s+APPEND\s+FROM\s+([\w.]+)"
    r"(?:\s+(?:IGNOREEXTRA|FILLTARGET))?\s*$",
    re.IGNORECASE,
)
# Column DDL (Redshift ALTER TABLE subset a real ETL script uses):
# ADD [COLUMN] name type [DEFAULT literal], DROP [COLUMN] name,
# RENAME COLUMN a TO b. Existing rows take the DEFAULT (or NULL) —
# Redshift's own backfill semantics for an added column.
_ALTER_COL_TYPE = re.compile(
    r"^ALTER\s+TABLE\s+([\w.]+)\s+ALTER\s+(?:COLUMN\s+)?(\w+)\s+"
    r"(?:SET\s+DATA\s+)?TYPE\s+([\w]+(?:\s*\(\s*\d+(?:\s*,\s*\d+)?\s*\))?)\s*$",
    re.IGNORECASE,
)
_ALTER_ADD_COL = re.compile(
    r"^ALTER\s+TABLE\s+([\w.]+)\s+ADD\s+(?:COLUMN\s+)?(\w+)\s+"
    r"([\w]+(?:\s*\(\s*\d+(?:\s*,\s*\d+)?\s*\))?)"
    r"(?:\s+DEFAULT\s+('[^']*'|[-\w.]+))?\s*$",
    re.IGNORECASE,
)
_ALTER_DROP_COL = re.compile(
    r"^ALTER\s+TABLE\s+([\w.]+)\s+DROP\s+(?:COLUMN\s+)?(\w+)\s*$", re.IGNORECASE
)
_ALTER_RENAME_COL = re.compile(
    r"^ALTER\s+TABLE\s+([\w.]+)\s+RENAME\s+COLUMN\s+(\w+)\s+TO\s+(\w+)\s*$",
    re.IGNORECASE,
)
# Redshift type spellings Spark's DDL parser does not know. Applied to
# CREATE TABLE column lists only (never to data or expressions).
_TYPE_SPELLINGS = [
    (re.compile(r"\bDOUBLE\s+PRECISION\b", re.IGNORECASE), "DOUBLE"),
    (re.compile(r"\bCHARACTER\s+VARYING\b", re.IGNORECASE), "VARCHAR"),
    (re.compile(r"\bBPCHAR\b", re.IGNORECASE), "CHAR"),
    (re.compile(r"\bNUMERIC\b", re.IGNORECASE), "DECIMAL"),
    (re.compile(r"\bINT8\b", re.IGNORECASE), "BIGINT"),
    (re.compile(r"\bINT4\b", re.IGNORECASE), "INT"),
    (re.compile(r"\bINT2\b", re.IGNORECASE), "SMALLINT"),
    (re.compile(r"\bFLOAT8\b", re.IGNORECASE), "DOUBLE"),
    (re.compile(r"\bFLOAT4\b", re.IGNORECASE), "FLOAT"),
]


def _normalize_ddl_types(body: str) -> str:
    for pat, repl in _TYPE_SPELLINGS:
        body = pat.sub(repl, body)
    return body


def _ddl_schema(ddl: str):
    """The StructType of a DDL column list. CHAR/VARCHAR lower to plain
    STRING (Spark's own CTAS behavior; read schemas reject char/varchar)."""
    parsed = T.StructType.fromDDL(_normalize_ddl_types(ddl))
    return T.StructType(
        [
            T.StructField(
                f.name,
                T.StringType()
                if isinstance(f.dataType, (T.VarcharType, T.CharType))
                else f.dataType,
                f.nullable,
            )
            for f in parsed.fields
        ]
    )


# IDENTITY(seed, step) column attribute inside a CREATE TABLE column
# list: values are engine-generated. Captured (and stripped) before
# StructType.fromDDL, which cannot parse it.
_IDENTITY_ATTR = re.compile(
    r"(\w+)\s+(\w+(?:\s*\(\s*\d+(?:\s*,\s*\d+)?\s*\))?)\s+IDENTITY\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)",
    re.IGNORECASE,
)
# DEFAULT <literal> column attribute: recorded (INSERTs omitting the
# column fill the default — Redshift's contract) and stripped before
# StructType.fromDDL. Literal forms plus the audit-column clock
# functions (DEFAULT GETDATE()/SYSDATE arrive here as
# current_timestamp() — the front-end rewrites them first); a fill
# from a clock default pins the bound table (localCheckpoint), since a
# nondeterministic expression must not re-evaluate per downstream
# action. Other expression defaults stay out of scope.
_DEFAULT_ATTR = re.compile(
    r"(\w+)\s+(\w+(?:\s*\(\s*\d+(?:\s*,\s*\d+)?\s*\))?(?:\s+NOT\s+NULL)?)\s+"
    r"DEFAULT\s+('(?:[^']|'')*'|[-+]?\d+(?:\.\d+)?|TRUE|FALSE|NULL"
    r"|current_timestamp\s*\(\s*\)|current_date\b)",
    re.IGNORECASE,
)
_VOLATILE_DEFAULT = re.compile(r"(?i)current_timestamp|current_date")
# Redshift Spectrum analog (r5): an external table is a schema-on-read
# binding over a storage prefix — exactly a Spark read. Bounded subset:
# PARQUET (self-describing; optional hive PARTITIONED BY discovered from
# the directory layout) and TEXTFILE with a declared schema + delimiter.
_CREATE_EXTERNAL_HEAD = re.compile(
    r"^CREATE\s+EXTERNAL\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?([\w.]+)\s*\(",
    re.IGNORECASE,
)
_CREATE_EXTERNAL_TAIL = re.compile(
    r"^\s*(?:PARTITIONED\s+BY\s*\(((?:[^()]|\([^()]*\))*)\)\s*)?"
    r"(?:ROW\s+FORMAT\s+DELIMITED\s+FIELDS\s+TERMINATED\s+BY\s+'([^']*)'\s*)?"
    r"STORED\s+AS\s+(PARQUET|TEXTFILE)\s+"
    r"LOCATION\s+'([^']+)'\s*(?:TABLE\s+PROPERTIES\s*\([^)]*\))?\s*$",
    re.IGNORECASE | re.DOTALL,
)


# Redshift MERGE (the last SQL-DML spelling): MERGE INTO tgt [AS a]
# USING src [AS b] ON cond WHEN MATCHED THEN {UPDATE SET ...|DELETE}
# WHEN NOT MATCHED THEN INSERT [(cols)] VALUES (...). Spark's own MERGE
# INTO parser needs a v2 table (Delta/Iceberg — absent), so the
# statement executes through the proven relational plan in
# operators/merge.py (full-outer join + conditional projection). The
# negative lookahead keeps a bare `MERGE INTO t USING ...` from parsing
# "USING" as the target alias.
_MERGE = re.compile(
    r"^MERGE\s+INTO\s+([\w.]+)(?:\s+(?:AS\s+)?(?!USING\b)(\w+))?\s+USING\s+(.+)$",
    re.IGNORECASE | re.DOTALL,
)
# Redshift stored procedures (plpgsql): the $$ body is [DECLARE ...]
# BEGIN ... END with plain SQL plus the procedural core (IF/WHILE/FOR/
# LOOP/EXIT/CONTINUE/RETURN/RAISE/variables, EXCEPTION blocks, EXECUTE,
# cursors — see the plpgsql section below). IN params bind at CALL time
# through _bind. Matched on the RAW statement (before the dialect
# front-end) so the body reaches CALL-time untouched.
_CREATE_PROC_HEAD = re.compile(
    r"^CREATE\s+(?:OR\s+REPLACE\s+)?PROCEDURE\s+([\w.]+)\s*\(", re.IGNORECASE
)
_CREATE_PROC_TAIL = re.compile(
    r"^\s*AS\s+\$\$(.*)\$\$\s*LANGUAGE\s+plpgsql\s*$", re.IGNORECASE | re.DOTALL
)
_CALL = re.compile(r"^CALL\s+([\w.]+)\s*\((.*)\)\s*$", re.IGNORECASE | re.DOTALL)
_DROP_PROC = re.compile(
    r"^DROP\s+PROCEDURE\s+(IF\s+EXISTS\s+)?([\w.]+)\s*(?:\([^)]*\))?\s*$",
    re.IGNORECASE,
)


def _parse_proc_params(params: str) -> list[tuple[str, str, str]]:
    """(name, mode, type) triples from a procedure signature. IN params
    bind as text at CALL time (plpgsql's lexical model, see _bind); INOUT
    params become scoped variables initialized from the CALL
    argument, and the CALL returns their final values as a one-row
    result — Redshift's contract. OUT stays loud because Redshift
    itself forbids OUT arguments in a SQL-level CALL."""
    out: list[tuple[str, str, str]] = []
    for p in _split_args(params):
        if not p:
            continue
        if re.match(r"(?i)^OUT\b", p):
            raise ValueError(
                f"CREATE PROCEDURE: OUT parameters cannot be passed in a "
                f"SQL-level CALL (Redshift's own restriction) — use INOUT ({p!r})"
            )
        if "=" in p or re.search(r"(?i)\bDEFAULT\b", p):
            raise ValueError(f"CREATE PROCEDURE: parameter defaults unsupported ({p!r})")
        pm = re.match(r"(?i)^(IN\s+|INOUT\s+)?([\w$]+)\s+(\w.*)$", p)
        if pm is None:
            raise ValueError(f"CREATE PROCEDURE: cannot parse parameter {p!r}")
        mode = (pm.group(1) or "IN").strip().upper()
        out.append((pm.group(2), mode, pm.group(3).strip()))
    return out


# ---------------------------------------------------------------------------
# plpgsql: IF/ELSIF/ELSE, CASE, WHILE/FOR/bare LOOP, BEGIN ... EXCEPTION
# and DECLARE blocks, variables, cursors and RAISE inside procedure bodies.
#
# Design: block bodies are kept as RAW TEXT and re-parsed lazily when the
# block executes (a WHILE body re-parses per iteration), so the script
# runner's worklist model is unchanged — control nodes sit in the same
# deque as plain statements and expand in place when popped. Conditions
# are arbitrary boolean SQL expressions (scalar subqueries included),
# evaluated through the same dialect front-end as every other statement
# via a one-row ``SELECT CAST((cond) AS BOOLEAN)``.
#
# Two lexical rules cover the body text, each written once:
# - the block walker (_block_tokens over _BLOCK_TOKEN) finds where a
#   block ends and the dividers at its own depth; each block parser
#   keeps only its own dividers (IF: THEN/ELSIF/ELSE, CASE: WHEN/THEN/
#   ELSE, BEGIN: EXCEPTION);
# - the binder (_bind) puts text in place of names — IN parameters,
#   loop variables, ``rec.field``, SQLERRM/SQLSTATE, ``$N`` and scope
#   variables — in one pass, outside quoted literals, skipping the body
#   of a nested FOR that rebinds the name.
# Out-of-subset spellings of each construct raise at their own execution
# sites, not at CREATE.


class _IfNode:
    __slots__ = ("branches", "else_body")

    def __init__(self, branches: list[tuple[str, str]], else_body: str | None):
        self.branches = branches  # [(cond_sql, body_text), ...]
        self.else_body = else_body


class _WhileNode:
    __slots__ = ("cond", "body", "iters")
    MAX_ITERS = 1000

    def __init__(self, cond: str, body: str):
        self.cond = cond
        self.body = body
        self.iters = 0


class _ForNode:
    """Runs ONE iteration per worklist pop, re-pushing itself — so the
    node doubles as the loop marker EXIT/CONTINUE unwind to (same shape
    as _WhileNode)."""

    __slots__ = ("var", "frm", "to", "reverse", "by", "body", "vals", "idx")
    MAX_RANGE = 1000

    def __init__(
        self, var: str, frm: str, to: str, reverse: bool, by: str | None, body: str
    ):
        self.var = var
        self.frm = frm  # start-bound expression (the higher one under REVERSE)
        self.to = to
        self.reverse = reverse
        self.by = by  # optional positive step expression (plpgsql BY)
        self.body = body
        self.vals: range | None = None  # bounds evaluate on first pop
        self.idx = 0


class _ForQueryNode:
    """``FOR rec IN <query> LOOP``: per-row iteration over a CONTROL
    TABLE — plpgsql's own semantics run the body once per result row on
    the coordinator, so the bounded driver-side ``take`` here is the
    faithful (and only) implementation, the same legitimate
    O(small)-result class as the JDBC-bounds lookups. The query
    evaluates ONCE at loop entry; more than MAX_ROWS rows raise (a
    row-per-fact loop is a misuse of the construct at any engine).
    ``rec.field`` references substitute as typed literals per row."""

    __slots__ = ("var", "query", "body", "rows", "fields", "idx")
    MAX_ROWS = 1000

    def __init__(self, var: str, query: str, body: str):
        self.var = var
        self.query = query
        self.body = body
        self.rows: list | None = None
        self.fields: list[tuple[str, str]] = []
        self.idx = 0


class _CallEnd:
    """Marks the end of a CALL expansion on the worklist: a no-op when
    popped normally, the unwind target for early RETURN, and the fence
    EXIT/CONTINUE must not cross. When the CALL has INOUT parameters it
    carries their (name, type) list plus the call scope, so the
    fall-through and RETURN sites can materialize the one-row result a
    TOP-LEVEL Redshift CALL returns (``nested`` suppresses it — an
    inner CALL's INOUT row is not a script result in Redshift) and
    apply ``writebacks``: a nested CALL that passed a caller VARIABLE
    as an INOUT argument copies the final value back into it, plpgsql's
    by-reference contract. A guard catching mid-proc drops the marker —
    an aborted CALL returns nothing and writes nothing back, also
    Redshift's behavior."""

    __slots__ = ("inout", "scope", "nested", "writebacks")

    def __init__(self, inout=(), scope=None, nested=False, writebacks=()):
        self.inout = tuple(inout)
        self.scope = scope
        self.nested = nested
        # (caller_scope, caller_var, param_name) triples
        self.writebacks = tuple(writebacks)


def _inout_result(spark: SparkSession, ce: "_CallEnd"):
    """Finish an INOUT-bearing CALL: apply variable write-backs into the
    caller's scope, then return the one-row DataFrame of final INOUT
    values for a top-level CALL (None for a nested one — Redshift only
    surfaces the outermost CALL's row). The row goes through the
    dialect front-end so Redshift type spellings in the signature
    (DOUBLE PRECISION, CHAR(n), ...) cast correctly."""
    for caller_scope, caller_var, pname in ce.writebacks:
        caller_scope[caller_var][1] = ce.scope[pname][1]
    if ce.nested:
        return None
    return spark.sql(
        translate_redshift_sql(
            "SELECT "
            + ", ".join(
                f"{_sql_literal(ce.scope[n][1], t)} AS {n}" for n, t in ce.inout
            )
        ).strip()
    )


def _mask_quoted(text: str) -> str:
    """Copy of *text* with single-quoted literal contents blanked, so
    keyword/semicolon scans cannot match inside strings ('' escapes
    toggle twice, landing back in-literal)."""
    out = list(text)
    in_q = False
    for i, ch in enumerate(text):
        if ch == "'":
            in_q = not in_q
        elif in_q:
            out[i] = " "
    return "".join(out)


# The one block-token scanner. Order matters: END IF / END LOOP /
# END CASE before END, IF [NOT] EXISTS before IF (either opens a block
# only at a statement start), ELSIF before ELSE. The lookahead on EXCEPTION
# keeps `RAISE EXCEPTION 'msg'` from reading as a handler divider.
# WHILE/FOR heads open no block — their LOOP keyword does.
_BLOCK_TOKEN = re.compile(
    r"(?is)\b(?:(?P<endcase>END\s+CASE)|(?P<endif>END\s+IF)"
    r"|(?P<endloop>END\s+LOOP)|(?P<ifx>IF\s+(?:NOT\s+)?EXISTS)"
    r"|(?P<if>IF)|(?P<loop>LOOP)|(?P<case>CASE)|(?P<begin>BEGIN)"
    r"|(?P<exc>EXCEPTION(?=\s+WHEN\b))|(?P<when>WHEN)|(?P<then>THEN)"
    r"|(?P<elsif>ELSIF|ELSEIF)|(?P<else>ELSE)|(?P<end>END))\b"
)
# each block opener and its closer; a bare END also closes a CASE
# (the expression form)
_CLOSER = {"if": "END IF", "loop": "END LOOP", "case": "END CASE", "begin": "END"}
_CLOSES = {
    "endif": ("if",),
    "endloop": ("loop",),
    "endcase": ("case",),
    "end": ("case", "begin"),
}
_LOOP_KW = re.compile(r"(?is)\bLOOP\b")
# IF opens an IF block only where it starts a statement (after ';',
# THEN, ELSE, LOOP or BEGIN); elsewhere IF [NOT] EXISTS is a DDL modifier
# and IF( is Spark's conditional function
_STMT_START = re.compile(r"(?is)(?:^|;|\b(?:THEN|ELSE|LOOP|BEGIN))\s*\Z")


def _block_tokens(text: str, masked: str, start: int, what: str) -> Iterator[re.Match]:
    """Walk the block whose opener (IF, LOOP, CASE or BEGIN) sits at
    *start* of the quote-masked body: yield the dividers at the block's
    own depth (THEN, ELSIF, ELSE, WHEN, EXCEPTION), then its closer, and
    stop. Nested blocks keep a typed stack: a closer that does not match
    the innermost open block raises, and so does a block left open.
    *what* names the construct in those errors."""
    opener = _BLOCK_TOKEN.match(masked, start)
    stack = ["if" if opener.lastgroup == "ifx" else opener.lastgroup]
    for m in _BLOCK_TOKEN.finditer(masked, opener.end()):
        kind = m.lastgroup
        if kind in ("if", "ifx"):
            if not _STMT_START.search(masked, 0, m.start()):
                continue  # Spark's IF(c, a, b) or a DDL IF [NOT] EXISTS
            kind = "if"
        elif kind == "endloop" and len(stack) > 1 and stack[-1] == "case":
            # a CASE expression ending a WHILE condition or a FOR query,
            # right before the head's LOOP
            stack[-1] = "loop"
            continue
        if kind in _CLOSES:
            top = stack.pop()
            if top not in _CLOSES[kind]:
                raise ValueError(
                    f"{what}: {' '.join(m.group().split()).upper()} closes an "
                    f"open {top.upper()} (missing {_CLOSER[top]})"
                )
            if not stack:
                yield m
                return
        elif kind in _CLOSER:
            stack.append(kind)
        elif len(stack) == 1:
            yield m
    raise ValueError(f"{what}: missing {_CLOSER[stack[0]]} near {text[start:start + 60]!r}")


def _consume_semi(text: str, j: int) -> int:
    n = len(text)
    while j < n and text[j].isspace():
        j += 1
    return j + 1 if j < n and text[j] == ";" else j


def _parse_if(text: str, masked: str, start: int) -> tuple[_IfNode, int]:
    """Parse ``IF cond THEN ... [ELSIF ...] [ELSE ...] END IF`` starting
    at *start* (the IF keyword). Returns the node and the index past the
    closing ``END IF;``."""
    branches: list[tuple[str, str]] = []
    cond_start = start + 2
    seg_cond: str | None = None
    body_start: int | None = None
    else_start: int | None = None
    for m in _block_tokens(text, masked, start, "IF"):
        kind = m.lastgroup
        if kind == "endif":
            if else_start is not None:
                else_body: str | None = text[else_start : m.start()]
            elif body_start is not None:
                branches.append((seg_cond, text[body_start : m.start()]))
                else_body = None
            else:
                raise ValueError(f"IF: missing THEN near {text[start:start + 60]!r}")
            return _IfNode(branches, else_body), _consume_semi(text, m.end())
        if else_start is not None:
            continue
        if kind == "then" and body_start is None:
            seg_cond = text[cond_start : m.start()].strip()
            if not seg_cond:
                raise ValueError("IF/ELSIF: empty condition")
            body_start = m.end()
        elif kind == "elsif":
            if body_start is None:
                raise ValueError("ELSIF before THEN")
            branches.append((seg_cond, text[body_start : m.start()]))
            cond_start, seg_cond, body_start = m.end(), None, None
        elif kind == "else":
            if body_start is None:
                raise ValueError("ELSE before THEN")
            branches.append((seg_cond, text[body_start : m.start()]))
            else_start = m.end()


def _parse_while(text: str, masked: str, start: int) -> tuple[_WhileNode, int]:
    lm = _LOOP_KW.search(masked, start + 5)
    if lm is None:
        raise ValueError(f"WHILE: missing LOOP near {text[start:start + 60]!r}")
    cond = text[start + 5 : lm.start()].strip()
    if not cond:
        raise ValueError("WHILE: empty condition")
    *_, em = _block_tokens(text, masked, lm.start(), "WHILE")
    return _WhileNode(cond, text[lm.end() : em.start()]), _consume_semi(text, em.end())


def _parse_for(text: str, masked: str, start: int) -> tuple[_ForNode, int]:
    lm = _LOOP_KW.search(masked, start + 3)
    if lm is None:
        raise ValueError(f"FOR: missing LOOP near {text[start:start + 60]!r}")
    head = text[start + 3 : lm.start()].strip()
    hm = re.match(r"(?is)^(\w+)\s+IN\s+(REVERSE\s+)?(.+)$", head)
    if hm is None:
        raise ValueError(f"FOR: expected 'FOR var IN [REVERSE] a..b LOOP', got {head!r}")
    rng = hm.group(3)
    dots = _mask_quoted(rng).find("..")
    *_, em = _block_tokens(text, masked, lm.start(), "FOR")
    if dots < 0:
        # FOR rec IN <query> LOOP — row iteration over a control table
        if hm.group(2):
            raise ValueError(f"FOR {hm.group(1)}: REVERSE needs an integer range")
        return (
            _ForQueryNode(hm.group(1), rng.strip(), text[lm.end() : em.start()]),
            _consume_semi(text, em.end()),
        )
    to_part, by = rng[dots + 2 :].strip(), None
    if bm := re.match(r"(?is)^(.*?)\sBY\s(.+)$", _mask_quoted(to_part)):
        by = to_part[len(bm.group(1)) + 4 :].strip()
        to_part = to_part[: len(bm.group(1))].strip()
    node = _ForNode(
        hm.group(1),
        rng[:dots].strip(),
        to_part,
        bool(hm.group(2)),
        by,
        text[lm.end() : em.start()],
    )
    return node, _consume_semi(text, em.end())


class _GuardNode:
    """``BEGIN ... [EXCEPTION WHEN OTHERS THEN ...] END`` nested block.
    With a handler the block is an exception guard: state snapshots at
    entry, every table binding inside materializes eagerly
    (localCheckpoint — errors surface at the statement that caused them,
    not at some later action), and a caught error restores the snapshot
    and runs the handler — plpgsql's own "changes are rolled back"
    contract. Only ``WHEN OTHERS`` is accepted, which is Redshift's own
    restriction (no named conditions). ``SQLERRM``/``SQLSTATE`` in the
    handler substitute the error message / a classified SQLSTATE code.
    Runner-limitation ValueErrors are NOT caught (module policy: loud)."""

    __slots__ = ("body", "handler")

    def __init__(self, body: str, handler: str | None):
        self.body = body
        self.handler = handler


class _GuardEnd:
    """End-of-guarded-block marker: pops as a no-op on clean completion
    (discarding the snapshot); the unwind target when the block errors."""

    __slots__ = ()


class _DeclBlockNode:
    """``DECLARE ... BEGIN ... END`` sub-block: the declared scalars
    enter the enclosing scope at block entry — shadowing same-name outer
    variables — and leave at block exit (the shadowed outer value
    reappears; assignments to NON-declared outer variables persist,
    plpgsql's scoping). Defaults evaluate at EACH entry, in order (a
    loop-contained block re-initializes per iteration, and a later
    default may reference an earlier inner variable; the default of a
    variable that shadows an outer one still sees the OUTER value — the
    inner binding exists only after its own declaration). The BEGIN part
    may carry its own EXCEPTION section (it parses as the same
    _GuardNode). Scalar variables only — a nested CURSOR declaration is
    loud (declare cursors in the procedure's own DECLARE section)."""

    __slots__ = ("decls", "block")

    def __init__(self, decls: list, block: "_GuardNode"):
        self.decls = decls
        self.block = block


_DECL_MISSING = object()


class _DeclEnd:
    """End-of-DECLARE-block marker: restores the shadow-saved scope
    entries. Restore also runs when an unwind (EXIT/CONTINUE/RETURN or
    an exception caught by an OUTER guard) skips past the marker — the
    inner names must not leak into code outside the block."""

    __slots__ = ("saved", "scope")

    def __init__(self, saved: dict, scope: dict):
        self.saved = saved
        self.scope = scope

    def restore(self) -> None:
        for name, old in self.saved.items():
            if old is _DECL_MISSING:
                self.scope.pop(name, None)
            else:
                self.scope[name] = old


_HANDLER_HEAD = re.compile(r"(?is)^\s*WHEN\s+OTHERS\s+THEN\b(.*)$")


# plpgsql CASE *statement*: both the searched form
# (CASE WHEN cond THEN stmts ... END CASE) and the simple form
# (CASE expr WHEN v1 [, v2] THEN stmts ... END CASE), desugared into the
# proven _IfNode machinery. plpgsql semantics kept: the simple form
# compares with = (spelled IN for value lists — NULL never matches,
# same as plpgsql), and a CASE with no matching branch and no ELSE
# RAISEs case_not_found instead of falling through.
_CASE_NOT_FOUND_MSG = "CASE statement: no matching branch (case_not_found)"
_CASE_NOT_FOUND = f"RAISE EXCEPTION '{_CASE_NOT_FOUND_MSG}'"


def _parse_case_stmt(text: str, masked: str, start: int) -> tuple[_IfNode, int]:
    """Parse a CASE statement starting at *start* (the CASE keyword) into
    an _IfNode. Branch WHENs are recognized only at this CASE's own
    level; a WHEN directly preceded by EXIT/CONTINUE (loop control) or
    followed by [NOT] MATCHED (a MERGE inside an arm — wrap it in
    BEGIN...END, documented subset) is not a branch divider."""
    head_start = start + 4
    search_expr: str | None = None
    branches: list[tuple[str, str]] = []
    seen_first_when = False
    when_start: int | None = None
    cur_when: str | None = None
    body_start: int | None = None
    else_start: int | None = None
    for m in _block_tokens(text, masked, start, "CASE statement"):
        kind = m.lastgroup
        if kind == "end":
            raise ValueError(
                f"CASE statement: missing END CASE near {text[start:start + 60]!r}"
            )
        if kind == "endcase":
            if else_start is not None:
                else_body: str | None = text[else_start : m.start()]
            elif body_start is not None:
                branches.append((cur_when, text[body_start : m.start()]))
                else_body = _CASE_NOT_FOUND  # plpgsql raises case_not_found
            else:
                raise ValueError(
                    f"CASE statement: no WHEN branch near {text[start:start + 60]!r}"
                )
            if search_expr:
                branches = [(f"({search_expr}) IN ({w})", b) for w, b in branches]
            return _IfNode(branches, else_body), _consume_semi(text, m.end())
        if else_start is not None:
            continue
        if kind == "when":
            if re.search(r"(?is)\b(EXIT|CONTINUE)\s*$", text[:m.start()]):
                continue  # EXIT/CONTINUE WHEN inside a branch body
            if re.match(r"(?is)WHEN\s+(?:NOT\s+)?MATCHED\b", text[m.start():]):
                continue  # a MERGE clause, not a branch divider
            if not seen_first_when:
                seen_first_when = True
                head = text[head_start : m.start()].strip()
                search_expr = head or None
            elif body_start is not None:
                branches.append((cur_when, text[body_start : m.start()]))
            when_start, body_start = m.end(), None
        elif kind == "then":
            if when_start is not None and body_start is None:
                cur_when = text[when_start : m.start()].strip()
                if not cur_when:
                    raise ValueError("CASE statement: empty WHEN")
                body_start = m.end()
        elif kind == "else":
            if body_start is None:
                raise ValueError("CASE statement: ELSE before any WHEN ... THEN")
            branches.append((cur_when, text[body_start : m.start()]))
            body_start = None
            else_start = m.end()


def _parse_begin_block(text: str, masked: str, start: int) -> tuple[_GuardNode, int]:
    """Parse ``BEGIN ... [EXCEPTION WHEN OTHERS THEN ...] END`` starting
    at *start* (the BEGIN keyword). Returns the node and the index past
    the closing ``END;``."""
    exc: re.Match | None = None
    for m in _block_tokens(text, masked, start, "BEGIN block"):
        if m.lastgroup == "exc":
            if exc is not None:
                raise ValueError("BEGIN block: multiple EXCEPTION sections")
            exc = m
        elif m.lastgroup == "end":
            end = _consume_semi(text, m.end())
            if exc is None:
                return _GuardNode(text[start + 5 : m.start()], None), end
            hm = _HANDLER_HEAD.match(text[exc.end() : m.start()])
            if hm is None:
                raise ValueError(
                    "EXCEPTION: only 'WHEN OTHERS THEN ...' is "
                    "supported (Redshift's own restriction — no "
                    "named conditions)"
                )
            return _GuardNode(text[start + 5 : exc.start()], hm.group(1)), end


def _bind(text: str, binds: dict[str, str | Callable[[], str]]) -> str:
    """*text* with each name of *binds* — a parameter, variable,
    ``rec.field`` or ``$N`` — replaced by its text, or by what its
    callable renders (called per occurrence, so a value renders only
    where the text names it). One pass over identifier-bounded,
    case-insensitive matches outside quoted literals, so a value is
    never re-read as a name or as an ``re`` escape. A nested
    ``FOR <name> IN ... LOOP`` rebinds the name: its bounds or query
    still bind (they evaluate in the enclosing scope), its body keeps
    the name (the loop variable shadows it there)."""
    if not binds:
        return text
    keys = sorted(binds, key=len, reverse=True)  # rec.field before rec
    alts = (r"\s*\.\s*".join(map(re.escape, k.split("."))) for k in keys)
    pat = re.compile(r"(?i)(?<![\w$])(?:(" + ")|(".join(alts) + r"))(?![\w$])")

    def _render(m: re.Match) -> str:
        v = binds[keys[m.lastindex - 1]]  # one group per key
        return v() if callable(v) else v

    heads = {k.split(".")[0].lower() for k in keys}
    shadow = re.compile(rf"(?is)\bFOR\s+({'|'.join(map(re.escape, heads))})\s+IN\b")
    masked = _mask_quoted(text)
    out, pos = [], 0
    while (m := shadow.search(masked, pos)) and (lm := _LOOP_KW.search(masked, m.end())):
        *_, close = _block_tokens(text, masked, lm.start(), "FOR")
        inner = {k: v for k, v in binds.items() if k.split(".")[0].lower() != m.group(1).lower()}
        out += [
            _sub_outside_quotes(text[pos : m.start()], pat, _render),
            text[m.start() : m.end()],  # 'FOR name IN' — the name rebinds
            _sub_outside_quotes(text[m.end() : lm.end()], pat, _render),
            _bind(text[lm.end() : close.end()], inner),
        ]
        pos = close.end()
    out.append(_sub_outside_quotes(text[pos:], pat, _render))
    return "".join(out)


def _sqlerrm(exc: BaseException) -> str:
    """SQLERRM substitution text: a single-quoted SQL literal of the
    error's first line (RAISE's own prefix stripped — plpgsql's SQLERRM
    is the raised message, not the transport wrapper)."""
    msg = str(exc)
    if msg.startswith("RAISE EXCEPTION: "):
        msg = msg[len("RAISE EXCEPTION: ") :]
    msg = msg.split("\n", 1)[0][:256]
    return "'" + msg.replace("'", "''") + "'"


def _classify_sqlstate(exc: BaseException) -> str:
    """Map an execution error to the SQLSTATE plpgsql would report:
    20000 case_not_found (a CASE statement with no matching branch and
    no ELSE — routed through the runner's own RAISE sentinel), P0001
    raise_exception, P0002 no_data_found / P0003 too_many_rows (SELECT
    INTO STRICT violations), 22012 division_by_zero, 22P02 invalid text
    representation (a failed cast from a malformed string — Postgres/
    Redshift report 22P02 there, NOT 22018), 22003 numeric out of range
    (including a cast that overflows its target — Postgres raises
    'integer out of range' 22003 there, so CAST_OVERFLOW maps here too,
    not to 22018); XX000 (internal_error) otherwise."""
    msg = str(exc)
    if isinstance(exc, RuntimeError) and msg.startswith("RAISE EXCEPTION"):
        if msg == f"RAISE EXCEPTION: {_CASE_NOT_FOUND_MSG}":
            return "20000"
        return "P0001"
    if isinstance(exc, RuntimeError) and msg.startswith("SELECT INTO STRICT"):
        # plpgsql: no_data_found / too_many_rows
        return "P0002" if "no rows" in msg else "P0003"
    if "DIVIDE_BY_ZERO" in msg or "Division by zero" in msg:
        return "22012"
    if "CAST_INVALID_INPUT" in msg:
        return "22P02"
    if (
        "CAST_OVERFLOW" in msg
        or "NUMERIC_VALUE_OUT_OF_RANGE" in msg
        or "ARITHMETIC_OVERFLOW" in msg
    ):
        return "22003"
    return "XX000"


_BLOCK_HEAD = re.compile(r"(?i)(IF|WHILE|FOR|LOOP|BEGIN|DECLARE|CASE)\b")
_BLOCK_PARSERS = {
    "IF": _parse_if,
    "WHILE": _parse_while,
    "FOR": _parse_for,
    "BEGIN": _parse_begin_block,
    "CASE": _parse_case_stmt,
}


def _parse_plpgsql_nodes(text: str) -> list:
    """Split a procedure body into executable items: plain SQL statement
    strings interleaved with control nodes (each block's body stays raw
    text, re-parsed when the block runs)."""
    nodes: list = []
    masked = _mask_quoted(text)
    i, n = 0, len(text)
    while i < n:
        while i < n and (text[i].isspace() or text[i] == ";"):
            i += 1
        if i >= n:
            break
        m = _BLOCK_HEAD.match(masked, i)
        kw = m.group(1).upper() if m else None
        if kw in _BLOCK_PARSERS:
            node, i = _BLOCK_PARSERS[kw](text, masked, i)
            nodes.append(node)
        elif kw == "DECLARE":
            # DECLARE ... BEGIN ... END sub-block. The declarations run
            # from DECLARE to the block's BEGIN; the block itself
            # (including an optional EXCEPTION section) parses as the
            # ordinary _GuardNode.
            bm = re.compile(r"(?i)\bBEGIN\b").search(masked, i + 7)
            if bm is None:
                raise ValueError(
                    "plpgsql: DECLARE without a following BEGIN block"
                )
            decls = _parse_proc_decls(text[i + 7 : bm.start()], "nested block")
            if any(t == "CURSOR" for _n, t, _d in decls):
                raise ValueError(
                    "plpgsql: a nested-block DECLARE supports scalar "
                    "variables only — declare cursors in the procedure's "
                    "own DECLARE section"
                )
            node, i = _parse_begin_block(text, masked, bm.start())
            nodes.append(_DeclBlockNode(decls, node))
        elif kw == "LOOP":
            # bare LOOP ... END LOOP: an unconditional loop — EXIT is
            # its only way out (the iteration cap backstops a miss)
            *_, em = _block_tokens(text, masked, i, "LOOP")
            nodes.append(_WhileNode("TRUE", text[i + 4 : em.start()]))
            i = _consume_semi(text, em.end())
        else:
            j = masked.find(";", i)
            if j == -1:
                j = n
            stmt = text[i:j].strip()
            if stmt:
                tm = _BLOCK_TOKEN.match(masked, i)
                if tm and tm.lastgroup in ("then", "elsif", "else", "endif", "endloop"):
                    # a block keyword with no open block — loud misparse
                    raise ValueError(
                        f"plpgsql: misplaced {tm.group().upper()} "
                        f"near {stmt[:60]!r}"
                    )
                nodes.append(stmt)
            i = j + 1
    return nodes


# --- plpgsql variables ------------------------------------------------------
# DECLARE section + `var := expr` + `SELECT ... INTO var[, ...]`.
# Variables are DRIVER-SIDE scalars: each use-site substitutes the
# current value as a typed SQL literal (CAST('..' AS type)), so Catalyst
# sees constants — exactly how plpgsql binds values into SQL. Statements
# expanded from a CALL carry their scope in a _Scoped wrapper; values
# substitute when the statement RUNS, not when the body parses (a later
# assignment changes what later statements see). plpgsql's own hazard
# applies: a variable named like a column would capture the column
# reference — name variables v_* as plpgsql style guides do.


class _Scoped:
    __slots__ = ("item", "scope")

    def __init__(self, item, scope: dict):
        self.item = item
        self.scope = scope  # lower-cased name -> [normalized type, value]


class _Cursor:
    """Forward-only plpgsql cursor: the DECLAREd query evaluates at
    OPEN with the variable values of that moment, buffering at most
    MAX_ROWS rows driver-side — the same bounded control-table contract
    as _ForQueryNode (plpgsql row loops run on the coordinator by the
    language's own semantics; a per-fact cursor is a misuse at any
    engine). FETCH walks the buffer; CLOSE releases it. SCROLL,
    parameterized cursors, and ``FETCH <count>`` are outside the subset
    (loud at DECLARE / unsupported-statement time)."""

    __slots__ = ("query", "rows", "fields", "idx")
    MAX_ROWS = 1000

    def __init__(self, query: str):
        self.query = query
        self.rows: list | None = None  # None = closed
        self.fields: list[tuple[str, str]] = []
        self.idx = 0


_CURSOR_DECL = re.compile(r"(?is)^([\w$]+)\s+(?:NO\s+SCROLL\s+)?CURSOR\s+FOR\s+(.+)$")


def _parse_proc_decls(decls: str, proc: str) -> list[tuple[str, str, str | None]]:
    """DECLARE entries as (name, normalized type, default expr | None).
    A ``name CURSOR FOR <query>`` entry comes back as (name, "CURSOR",
    query). Records/aliases/SCROLL/parameterized cursors are outside the
    subset (loud). *proc* is the error-message context (the procedure
    name, or "nested block" for a DECLARE sub-block)."""
    ctx = proc if proc == "nested block" else f"CREATE PROCEDURE {proc}"
    out: list[tuple[str, str, str | None]] = []
    seen: set[str] = set()
    for d in _split_top_semis(decls):
        d = d.strip()
        if not d:
            continue
        # an executable statement in the DECLARE section means the
        # DECLARE/BEGIN split mis-scoped (e.g. statements between a
        # nested DECLARE and a LATER BEGIN) — swallowing it as a
        # "declaration" would silently drop DML (loud-never-silent
        # policy). Variable names can't be these reserved words.
        if re.match(
            r"(?i)^(INSERT|UPDATE|DELETE|SELECT|CREATE|DROP|CALL|SET|COPY"
            r"|UNLOAD|MERGE|TRUNCATE|RAISE|IF|WHILE|FOR|LOOP|EXIT|CONTINUE"
            r"|RETURN|PERFORM|OPEN|FETCH|CLOSE|EXECUTE|GET|BEGIN|ALTER"
            r"|GRANT|REVOKE|COMMENT|LOCK|VACUUM|ANALYZE)\b",
            d,
        ):
            raise ValueError(
                f"{ctx}: only declarations may appear between DECLARE and "
                f"BEGIN, found statement {d[:50]!r}"
            )
        if cm := _CURSOR_DECL.match(d):
            if cm.group(1).lower() in seen:
                raise ValueError(
                    f"{ctx}: duplicate declaration of {cm.group(1).lower()!r}"
                )
            seen.add(cm.group(1).lower())
            out.append((cm.group(1).lower(), "CURSOR", cm.group(2).strip()))
            continue
        if re.search(r"(?i)\b(CURSOR|RECORD|REFCURSOR|CONSTANT|ALIAS)\b", _mask_quoted(d)):
            raise ValueError(
                f"{ctx}: DECLARE supports scalar variables "
                f"and 'name CURSOR FOR <query>' only, not {d[:50]!r}"
            )
        parts = re.split(r"(?i):=|\bDEFAULT\b", d, maxsplit=1)
        default = parts[1].strip() if len(parts) > 1 else None
        hm = re.match(r"(?s)^([\w$]+)\s+(.+)$", parts[0].strip())
        if hm is None:
            raise ValueError(f"{ctx}: cannot parse DECLARE {d!r}")
        if hm.group(1).lower() in seen:
            # plpgsql raises on a duplicate declaration in one section —
            # last-wins would silently mask the authoring error
            raise ValueError(
                f"{ctx}: duplicate declaration of {hm.group(1).lower()!r}"
            )
        seen.add(hm.group(1).lower())
        out.append((hm.group(1).lower(), _normalize_ddl_types(hm.group(2).strip()), default))
    return out


def _split_top_semis(text: str) -> list[str]:
    masked = _mask_quoted(text)
    parts, start = [], 0
    for i, ch in enumerate(masked):
        if ch == ";":
            parts.append(text[start:i])
            start = i + 1
    parts.append(text[start:])
    return parts


class _LazyFound:
    """plpgsql FOUND after a DML statement, resolved on first READ.
    ROW_COUNT is deliberately lazy (the affected-set DataFrame is
    counted only if GET DIAGNOSTICS asks — see state.last_dml), so
    FOUND defers the same count until a statement actually reads the
    variable, then memoizes the boolean. A body that never reads FOUND
    after a DML pays zero extra jobs."""

    __slots__ = ("_src", "_val")

    def __init__(self, src) -> None:
        self._src, self._val = src, None

    def resolve(self) -> bool:
        if self._val is None:
            src = self._src
            if src is None:
                n = 0
            elif isinstance(src, int):
                n = src
            else:
                n = src.count()
            self._val = n > 0
            self._src = None
        return self._val


def _mark_found_dml(scope: dict | None, state) -> None:
    """plpgsql FOUND after INSERT/UPDATE/DELETE: set only when the
    body declared it (the auto-declare guard bounds the name-capture
    blast radius), and lazily — the captured affected-set is this
    statement's pre-rebind view, same snapshot ROW_COUNT reports.
    EXECUTE deliberately does NOT route here (plpgsql: EXECUTE changes
    GET DIAGNOSTICS but never FOUND); TRUNCATE/MERGE likewise (not in
    plpgsql's FOUND-setting list)."""
    _set_found(scope, _LazyFound(state.last_dml))


def _set_found(scope: dict | None, value) -> None:
    """Set plpgsql's FOUND when the scope declares it (see _exec_call)."""
    if scope is not None and "found" in scope:
        scope["found"][1] = value


def _sql_literal(value, typ: str) -> str:
    """A Python scalar as a typed SQL literal (the CAST keeps the
    variable's declared type at every use site)."""
    if isinstance(value, _LazyFound):
        value = value.resolve()
    if value is None:
        return f"CAST(NULL AS {typ})"
    if isinstance(value, bool):
        return f"CAST({'TRUE' if value else 'FALSE'} AS BOOLEAN)"
    if isinstance(value, str):
        # Spark's default parser processes backslash escapes inside string
        # literals ('C:\temp' would gain a tab), so backslashes must be
        # doubled BEFORE quote doubling for the value to round-trip.
        escaped = value.replace("\\", "\\\\").replace(chr(39), chr(39) * 2)
        return f"CAST('{escaped}' AS {typ})"
    if isinstance(value, (bytes, bytearray, list, dict)):
        raise ValueError(f"plpgsql variable of unsupported runtime type {type(value).__name__}")
    return f"CAST('{value}' AS {typ})"  # numerics/Decimal/date/timestamp via str()


def _cell_literal(cell: list) -> str:
    """A scope cell ``[type, value]`` as a typed literal. A _LazyFound
    resolves here, on first read, and memoizes back into the cell."""
    v = cell[1]
    if isinstance(v, _LazyFound):
        v = cell[1] = v.resolve()
    return _sql_literal(v, cell[0])


def _subst_vars(scope: dict | None, sql: str) -> str:
    """*sql* with *scope*'s scalar variables bound as typed literals.
    Each literal renders only where the statement names its variable, so
    a _LazyFound's count job runs only for a statement that reads it.
    Cursor names are statement operands, not scalars."""
    return _bind(
        sql,
        {
            name: partial(_cell_literal, cell)
            for name, cell in (scope or {}).items()
            if cell[0] != "CURSOR"
        },
    )


# `var := expr;` — plpgsql assignment (also the `var = expr` spelling
# plpgsql accepts, but only via :=, to keep SET/UPDATE unambiguous here)
_ASSIGN = re.compile(r"^([\w$]+)\s*:=\s*(.+)$", re.DOTALL)


# RAISE [level] 'format' [, arg...]: EXCEPTION (the default) aborts the
# script with the %-formatted message; NOTICE/INFO/WARNING/LOG/DEBUG are
# log-channel levels with no script-visible effect — accepted no-ops.
_RAISE = re.compile(
    r"^RAISE\s+(?:(EXCEPTION|NOTICE|INFO|WARNING|LOG|DEBUG)\s+)?"
    r"'((?:[^']|'')*)'\s*(?:,(.*))?$",
    re.IGNORECASE | re.DOTALL,
)


def _format_raise_message(msg: str, vals: list[str]) -> str:
    """plpgsql %-placeholders consume args in order; %% is a literal %.
    Arity mismatches are errors (plpgsql's own contract)."""
    out: list[str] = []
    it = iter(vals)
    i, n = 0, len(msg)
    used = 0
    while i < n:
        ch = msg[i]
        if ch == "%":
            if i + 1 < n and msg[i + 1] == "%":
                out.append("%")
                i += 2
                continue
            try:
                out.append(next(it))
                used += 1
            except StopIteration:
                raise ValueError(f"RAISE: too few parameters for format {msg!r}")
            i += 1
        else:
            out.append(ch)
            i += 1
    if used != len(vals):
        raise ValueError(f"RAISE: too many parameters for format {msg!r}")
    return "".join(out)


_TRUNCATE = re.compile(r"^TRUNCATE\s+(?:TABLE\s+)?([\w.]+)\s*$", re.IGNORECASE)
# DROP takes a comma list ("DROP TABLE IF EXISTS stage1, stage2") and
# CASCADE/RESTRICT tails; MATERIALIZED VIEW drops route here too.
_DROP = re.compile(
    r"^DROP\s+(?:TABLE|(?:MATERIALIZED\s+)?VIEW)\s+(?:IF\s+EXISTS\s+)?"
    r"([\w.]+(?:\s*,\s*[\w.]+)*)\s*(?:CASCADE|RESTRICT)?\s*$",
    re.IGNORECASE,
)
# Redshift materialized views: CREATE binds the defining query as a
# snapshot (spark.sql analyzes eagerly, so the plan pins the base
# tables as of bind time — Redshift's stale-until-refreshed contract);
# REFRESH re-runs the stored definition against current bindings.
# AUTO REFRESH / BACKUP clauses are accepted and ignored.
_CREATE_MV = re.compile(
    r"^CREATE\s+MATERIALIZED\s+VIEW\s+([\w.]+)\s*"
    r"(?:BACKUP\s+(?:YES|NO)\s*)?(?:AUTO\s+REFRESH\s+(?:YES|NO)\s*)?"
    r"AS\s+(.+)$",
    re.IGNORECASE | re.DOTALL,
)
_REFRESH_MV = re.compile(
    r"^REFRESH\s+MATERIALIZED\s+VIEW\s+([\w.]+)\s*$", re.IGNORECASE
)
_QUERY = re.compile(r"^(SELECT|WITH|VALUES)\b", re.IGNORECASE)
_COPY = re.compile(r"^COPY\s+([\w.]+)\s+FROM\s+'([^']+)'\s*(.*)$", re.IGNORECASE | re.DOTALL)
_UNLOAD = re.compile(
    r"^UNLOAD\s*\(\s*'(.+)'\s*\)\s*TO\s+'([^']+)'\s*(.*)$", re.IGNORECASE | re.DOTALL
)

# COPY/UNLOAD option clauses: one named group per option, each with its
# row in _IO_RULES. The unnamed tokens are accepted and ignored: the
# auth/transport clauses select S3 credentials, which Spark's filesystem
# layer owns (hadoop-aws conf), not the statement, and each of the rest
# says why it is a no-op. Everything unrecognized raises: a silently
# dropped COMPUPDATE or MAXERROR would change semantics without a trace.
_OPT_TOKEN = re.compile(
    r"""
    (?:FORMAT\s+AS\s+)?JSON\s+'(?P<jsonpaths>[^']*)'
    | (?:FORMAT\s+AS\s+)?(?P<format>CSV|JSON|PARQUET)\b
    | FIXEDWIDTH\s+(?:AS\s+)?'(?P<fixedwidth>[^']*)'
    | IGNOREHEADER\s+(?:AS\s+)?(?P<skip>\d+)
    | DELIMITER\s+(?:AS\s+)?'(?P<delimiter>[^']*)'
    | NULL\s+(?:AS\s+)?'(?P<null_as>[^']*)'
    | QUOTE\s+(?:AS\s+)?'(?P<quotechar>[^']*)'
    | DATEFORMAT\s+(?:AS\s+)?'(?P<datefmt>[^']*)'
    | TIMEFORMAT\s+(?:AS\s+)?'(?P<timefmt>[^']*)'
    | MAXERROR\s+(?:AS\s+)?(?P<maxerror>\d+)
    | ACCEPTINVCHARS(?P<invchar>(?:\s+(?:AS\s+)?'[^']*')?)
    | (?P<removequotes>REMOVEQUOTES)\b
    | (?P<blanksasnull>BLANKSASNULL)\b
    | (?P<trimblanks>TRIMBLANKS)\b
    | (?P<emptyasnull>EMPTYASNULL)\b
    | (?P<ignoreblank>IGNOREBLANKLINES)\b
    | (?P<header>HEADER)\b
    | (?P<addquotes>ADDQUOTES)\b
    | (?P<overwrite>ALLOWOVERWRITE)\b
    | (?P<cleanpath>CLEANPATH)\b
    | PARALLEL\s+(?P<parallel>ON|OFF|TRUE|FALSE)
    | PARTITION\s+BY\s*\((?P<partition_by>[^)]*)\)
    | MAXFILESIZE\s+(?:AS\s+)?(?P<maxfilesize>\d+(?:\.\d+)?(?:\s*(?:MB|GB))?)
    | (?P<manifest>MANIFEST)\b
    | (?P<codec>GZIP|BZIP2|ZSTD)\b
    | EXPLICIT_IDS\b               # COPY loads provided values positionally, which is its meaning
    | ACCEPTANYDATE\b              # PERMISSIVE parsing already nulls unparseable dates
    | ESCAPE\b                     # Spark's CSV reader already honors backslash escapes
    | TRUNCATECOLUMNS\b            # strings are unbounded here: nothing to truncate
    | (?:COMPUPDATE|STATUPDATE)(?:\s+(?:ON|OFF|TRUE|FALSE))?\b  # warehouse maintenance flags
    | ENCRYPTED\b                  # storage-layer concern (S3 SSE analog)
    | (?:IAM_ROLE|CREDENTIALS|REGION|ACCESS_KEY_ID|SECRET_ACCESS_KEY|SESSION_TOKEN)\s+'[^']*'
    | \s+
    """,
    re.IGNORECASE | re.VERBOSE,
)

_ALL_FORMATS = ("CSV", "TEXT", "JSON", "PARQUET", "FIXEDWIDTH")
_DELIMITED = ("CSV", "TEXT")
_TEXTUAL = ("CSV", "TEXT", "JSON", "FIXEDWIDTH")
# how an error names a format set, where not as the list of formats
_PHRASES = {_DELIMITED: "delimited text", _TEXTUAL: "text loads"}
# TIMEFORMAT epoch spellings: the column loads as BIGINT, then converts
_EPOCH = {"epochsecs": F.timestamp_seconds, "epochmillisecs": F.timestamp_millis}


class _IoRule(NamedTuple):
    """One COPY/UNLOAD option: its SQL name, the formats each statement
    takes it with (empty: not that statement's option), how its matched
    text becomes its value (``bool``: a flag) and its value when absent."""

    name: str
    copy: tuple[str, ...]
    unload: tuple[str, ...]
    value: Callable[[str], object] = bool
    default: object = False


def _auto_none(text: str) -> str | None:
    """DATEFORMAT/TIMEFORMAT 'auto' is the engine default: no option."""
    return None if text.lower() == "auto" else text


def _jsonpaths(spec: str) -> str:
    """``JSON '<spec>'``: 'auto' / 'auto ignorecase' load by matching
    field names (the engine default here, so ''); any other spec is the
    path of a jsonpaths control file (readers.read_json_with_paths)."""
    return "" if " ".join(spec.lower().split()) in ("auto", "auto ignorecase") else spec


def _bytes(size: str) -> int:
    """MAXFILESIZE ``n [MB|GB]`` in bytes (MB when no unit is given)."""
    num, unit = re.fullmatch(r"([\d.]+)\s*([MG]B)?", size.upper()).groups()
    return int(float(num) * (1 << (30 if unit == "GB" else 20)))


# option → (statements that take it, formats it applies to). The table
# is the COPY/UNLOAD contract; _parse_io_options checks every given
# option against it, so an option cannot be silently dropped.
_IO_RULES: dict[str, _IoRule] = {
    "format": _IoRule("FORMAT", _ALL_FORMATS, _ALL_FORMATS, str.upper, "TEXT"),
    "jsonpaths": _IoRule("JSON '<spec>'", ("JSON",), (), _jsonpaths, None),
    "fixedwidth": _IoRule("FIXEDWIDTH", ("FIXEDWIDTH",), (), str, None),
    "skip": _IoRule("IGNOREHEADER", _DELIMITED, (), int, 0),
    "removequotes": _IoRule("REMOVEQUOTES", _DELIMITED, ()),
    "datefmt": _IoRule("DATEFORMAT", _DELIMITED, (), _auto_none, None),
    "timefmt": _IoRule("TIMEFORMAT", _DELIMITED, (), _auto_none, None),
    "quotechar": _IoRule("QUOTE AS", ("CSV",), (), str, None),  # Redshift's own restriction
    "maxerror": _IoRule("MAXERROR", ("CSV", "TEXT", "JSON"), (), int, None),
    "blanksasnull": _IoRule("BLANKSASNULL", _TEXTUAL, ()),
    "trimblanks": _IoRule("TRIMBLANKS", _TEXTUAL, ()),
    "emptyasnull": _IoRule("EMPTYASNULL", _TEXTUAL, ()),
    "ignoreblank": _IoRule("IGNOREBLANKLINES", _TEXTUAL, ()),
    # the JVM text decoder replaces invalid UTF-8 with U+FFFD; the value
    # is the replacement char (Redshift's default '?')
    "invchar": _IoRule(
        "ACCEPTINVCHARS", _TEXTUAL, (), lambda t: t.partition("'")[2][:-1] or "?", None
    ),
    "delimiter": _IoRule("DELIMITER", _DELIMITED, _DELIMITED, str, None),
    "null_as": _IoRule("NULL AS", _DELIMITED + ("FIXEDWIDTH",), _DELIMITED, str, None),
    "header": _IoRule("HEADER", (), _DELIMITED),
    "addquotes": _IoRule("ADDQUOTES", (), _DELIMITED),
    "overwrite": _IoRule("ALLOWOVERWRITE", (), _ALL_FORMATS),
    "cleanpath": _IoRule("CLEANPATH", (), _ALL_FORMATS),
    "parallel": _IoRule(
        "PARALLEL", (), _ALL_FORMATS, lambda t: t.upper() in ("ON", "TRUE"), True
    ),
    "partition_by": _IoRule(
        "PARTITION BY", (), _ALL_FORMATS,
        lambda t: [c.strip() for c in t.split(",") if c.strip()], (),
    ),
    "maxfilesize": _IoRule("MAXFILESIZE", (), _ALL_FORMATS, _bytes, None),
    "manifest": _IoRule("MANIFEST", _ALL_FORMATS, _ALL_FORMATS),
    "codec": _IoRule("GZIP/BZIP2/ZSTD", _ALL_FORMATS, _ALL_FORMATS, str.lower, None),
}
# UNLOAD codecs by format: Spark's text sources have no zstd codec
_UNLOAD_CODECS = {"PARQUET": ("gzip", "zstd")}


def _parse_io_options(clause: str, stmt_kind: str) -> dict:
    """Parse a COPY/UNLOAD option clause into ``{option: value}``.

    The effective format is FORMAT (bare = Redshift's pipe-delimited
    TEXT), JSON for a ``JSON '<spec>'``, or FIXEDWIDTH for a FIXEDWIDTH
    spec. Every given option is then checked against its ``_IO_RULES``
    row for ``stmt_kind`` and that format, then the checks no row can
    express: IGNOREHEADER above 1 (Spark CSV can only skip one header
    line), an epoch DATEFORMAT (epoch spellings are TIMEFORMAT-only),
    FIXEDWIDTH with FORMAT, MAXFILESIZE with PARALLEL OFF (one file
    cannot split by size) and UNLOAD's codec by format. Each failure
    raises a ValueError naming the option.
    """
    opts = {key: rule.default for key, rule in _IO_RULES.items()}
    given: list[str] = []
    pos = 0
    while pos < len(clause):
        m = _OPT_TOKEN.match(clause, pos)
        if m is None or m.end() == pos:
            raise ValueError(
                f"unsupported {stmt_kind} option near: {clause[pos:pos + 40]!r}"
            )
        for key, text in m.groupdict().items():
            if text is not None:
                opts[key] = _IO_RULES[key].value(text)
                given.append(key)
                if key == "jsonpaths":
                    opts["format"] = "JSON"
        pos = m.end()
    fmt = opts["format"] if opts["fixedwidth"] is None else "FIXEDWIDTH"
    for key in given:
        rule = _IO_RULES[key]
        formats = rule.copy if stmt_kind == "COPY" else rule.unload
        if not formats:
            raise ValueError(f"{stmt_kind} does not take {rule.name}")
        if fmt not in formats and opts[key] is not None:
            raise ValueError(
                f"{stmt_kind}: {rule.name} applies to "
                f"{_PHRASES.get(formats, '/'.join(formats))} only, not {fmt}"
            )
    if fmt == "FIXEDWIDTH" and "format" in given:
        raise ValueError(
            f"{stmt_kind}: FIXEDWIDTH excludes FORMAT {opts['format']} "
            "(fixed-width IS the format)"
        )
    opts["format"] = fmt
    if opts["skip"] > 1:
        raise ValueError(
            f"{stmt_kind}: IGNOREHEADER {opts['skip']} unsupported "
            "(only 0 or 1); preprocess multi-line preambles upstream"
        )
    if (opts["datefmt"] or "").lower() in _EPOCH:
        raise ValueError(
            f"{stmt_kind}: DATEFORMAT {opts['datefmt']!r} invalid — "
            "epoch spellings are TIMEFORMAT-only"
        )
    if opts["maxfilesize"] is not None and not opts["parallel"]:
        raise ValueError(
            f"{stmt_kind}: MAXFILESIZE with PARALLEL OFF unsupported "
            "(a single-file write cannot split by size)"
        )
    codec = opts["codec"]
    if stmt_kind == "UNLOAD" and codec not in (None, *_UNLOAD_CODECS.get(fmt, ("gzip", "bzip2"))):
        raise ValueError(
            f"UNLOAD {fmt}: {codec.upper()} unsupported (PARQUET takes GZIP "
            "or ZSTD; ZSTD is parquet-only in this engine)"
        )
    return opts


def _split_assignments(body: str) -> list[tuple[str, str]]:
    """Split ``a = e1, b = e2`` on top-level commas (paren/quote-aware)."""
    out = []
    for p in _split_args(body):
        col, _, expr = p.partition("=")
        if not expr:
            raise ValueError(f"malformed SET assignment: {p!r}")
        out.append((col.strip(), expr.strip()))
    return out


def _split_top_and(body: str) -> list[str]:
    """Split a condition on top-level ``AND`` keywords (paren/quote-aware)."""
    parts: list[str] = []
    rest: str | None = body
    while rest is not None:
        head, rest = _split_top_kw(rest, "AND")
        parts.append(head)
    return parts


class _ScriptState:
    """Tables the script has created/replaced, as name → DataFrame."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.tables: dict[str, DataFrame] = {}
        self.created_views: set[str] = set()
        # table -> {column: IDENTITY seed (int) or DEFAULT text (str)},
        # the DDL fill of a column an INSERT or MERGE does not list (see
        # _fill_unlisted). A column has at most one: Redshift forbids a
        # DEFAULT on an IDENTITY column. A rebind or drop clears it.
        self.fills: dict[str, dict[str, int | str]] = {}
        # materialized view -> defining SQL text; a REFRESH re-runs it
        # against the CURRENT bindings (Redshift MVs are stale until
        # REFRESH — spark.sql's eager analysis gives exactly that: the
        # bound plan snapshots the base tables as of bind time)
        self.mv_defs: dict[str, str] = {}
        # procedure -> (IN-param names, straight-line body text)
        self.procs: dict[str, tuple[list[str], str]] = {}
        # schemas declared by CREATE SCHEMA; qualified references
        # flatten to `<schema>__<table>` single-part view names
        self.schemas: set[str] = set()
        # SQL UDFs: function -> (param names, scalar expression text)
        self.funcs: dict[str, tuple[list[str], str]] = {}
        # plpythonu UDFs: function -> (param names, declared param types,
        # returns type, body) — registered with Spark at CREATE; tracked
        # here so DROP, transaction rollback, and end-of-script descoping
        # can tombstone/re-register faithfully
        self.py_funcs: dict[str, tuple[list[str], list[str], str, str]] = {}
        # SET search_path schema order; unqualified references that are
        # not bound plain resolve to the first path schema that has a
        # binding of that name (read-side resolution — see
        # _apply_search_path for the contract and its documented hazard)
        self.search_path: list[str] = []
        # Caller-registered TEMP views a script statement re-binds
        # (DELETE/UPDATE/INSERT/COPY on a base view): captured as
        # resolved DataFrames so cleanup restores them — "shadowed for
        # the script's duration", not destroyed.
        self.shadowed: dict[str, DataFrame] = {}
        # Explicit-transaction snapshot (BEGIN ... COMMIT/ROLLBACK).
        # Bindings are immutable DataFrames, so a snapshot is shallow
        # dict/set copies; ROLLBACK restores them. Single-level, like
        # Redshift (a nested BEGIN is a warning-and-ignore there).
        self.txn_snap: dict | None = None
        # The worklist run_redshift_script pops (statements and
        # plpgsql control nodes; CALL and block bodies expand in place
        # at its front), the result so far, and the expansion counters
        # that cap recursive CALLs and runaway EXECUTE loops.
        self.pending: deque = deque()
        self.result: DataFrame | None = None
        self.n_calls = 0
        self.n_execs = 0
        # Active EXCEPTION guards (plpgsql BEGIN...EXCEPTION blocks),
        # innermost last: each entry holds the block-entry state
        # snapshot, the handler text, the defining scope, and the
        # block's end marker on the worklist. While any is active,
        # bind() materializes eagerly so execution errors surface at
        # the guarded statement that caused them — honest catch
        # timing under Spark's lazy plans.
        self.guard_stack: list[dict] = []
        # COPY ... MAXERROR caches this script's loads registered
        # (readers.read_with_error_budget / read_json_with_paths);
        # cleanup() releases exactly these, never another caller's.
        self.budget_caches: list[DataFrame] = []
        # Rows affected by the last DML, for GET DIAGNOSTICS ROW_COUNT:
        # an int (known), a DataFrame (a LAZY plan of the affected rows,
        # captured at DML time against that moment's bindings — counted
        # only if ROW_COUNT is actually read, so untracked procs pay no
        # extra jobs), or None (last statement's count not tracked —
        # reading it then is loud, never silently stale).
        self.last_dml: DataFrame | int | None = None

    def snapshot(self) -> dict:
        """Shallow state snapshot (bindings are immutable DataFrames, so
        dict/set copies suffice) — shared by explicit transactions and
        EXCEPTION guards."""
        return {
            "tables": dict(self.tables),
            "created_views": set(self.created_views),
            "fills": {k: dict(v) for k, v in self.fills.items()},
            "mv_defs": dict(self.mv_defs),
            "procs": dict(self.procs),
            "schemas": set(self.schemas),
            "funcs": dict(self.funcs),
            "py_funcs": dict(self.py_funcs),
            "search_path": list(self.search_path),
            "txn_snap": self.txn_snap,
        }

    def txn_begin(self) -> None:
        if self.txn_snap is not None:
            return  # nested BEGIN: Redshift warns and ignores
        snap = self.snapshot()
        snap.pop("txn_snap")
        self.txn_snap = snap

    def txn_commit(self) -> None:
        self.txn_snap = None

    def txn_rollback(self) -> None:
        """Restore every binding and DDL attribute to its BEGIN-time
        snapshot. File side effects (UNLOAD output, JDBC writes) are
        not unwritten — the same contract as Redshift's S3 UNLOADs.
        Outside an explicit transaction ROLLBACK is a no-op (statement
        autocommit: nothing is uncommitted)."""
        if self.txn_snap is None:
            return
        snap, self.txn_snap = self.txn_snap, None
        self.restore(snap)

    def restore(self, snap: dict) -> None:
        """Roll the catalog and every state dict back to *snap* (from
        snapshot() or txn_begin()): views created since then drop — a
        shadowed pre-script view reappears NOW, not at cleanup — and
        every surviving binding re-registers at its snapshot plan."""
        for name in self.created_views - snap["created_views"]:
            self.spark.catalog.dropTempView(name)
            if name in self.shadowed:
                # the pre-script view reappears NOW, not at cleanup
                self.shadowed.pop(name).createOrReplaceTempView(name)
        for name, df in snap["tables"].items():
            df.createOrReplaceTempView(name)
        self.tables = snap["tables"]
        self.created_views = snap["created_views"]
        self.fills = snap["fills"]
        self.mv_defs = snap["mv_defs"]
        self.procs = snap["procs"]
        self.schemas = snap["schemas"]
        self.funcs = snap["funcs"]
        # re-sync Spark's UDF registry with the snapshot: functions
        # created since then tombstone; dropped/replaced ones come back
        for name in set(self.py_funcs) - set(snap["py_funcs"]):
            _register_py_udf_tombstone(self.spark, name)
        for name, spec in snap["py_funcs"].items():
            if self.py_funcs.get(name) != spec:
                _register_python_udf(self.spark, name, *spec)
        self.py_funcs = snap["py_funcs"]
        self.search_path = snap["search_path"]
        if "txn_snap" in snap:
            self.txn_snap = snap["txn_snap"]

    def drop_meta(self, name: str) -> None:
        """A rebind or drop kills per-table DDL attributes."""
        self.fills.pop(name, None)

    def bind(self, name: str, df: DataFrame) -> None:
        if (
            name not in self.created_views
            and name not in self.shadowed
            and self.spark.catalog.tableExists(name)
            # catalog tables reappear on their own
            and self.spark.catalog.getTable(name).isTemporary
        ):
            self.shadowed[name] = self.spark.table(name)
        if self.guard_stack:
            # inside an EXCEPTION guard every mutation materializes NOW:
            # a lazy plan would defer e.g. a division error past the
            # guarded block and the handler would never see it. This is
            # the documented cost of honest catch semantics (Redshift
            # itself materializes every statement).
            df = df.localCheckpoint(eager=True)
        df.createOrReplaceTempView(name)
        self.tables[name] = df
        self.created_views.add(name)

    def existing(self, name: str) -> DataFrame:
        if name in self.tables:
            return self.tables[name]
        # A base table registered outside the script (catalog view).
        return self.spark.table(name)

    def cleanup(self) -> None:
        # Safe after the final spark.sql: analysis is eager, so returned
        # DataFrames hold resolved plans, not view references.
        for name in self.created_views:
            self.spark.catalog.dropTempView(name)
        for name, df in self.shadowed.items():
            df.createOrReplaceTempView(name)
        # plpythonu functions are SCRIPT-scoped, like SQL UDFs (r9 ADVICE:
        # Spark's udf registry is session-global, so without this a
        # function CREATEd here stays callable from later scripts and
        # plain spark.sql). Tombstoning is safe for this script's own
        # returned result: eager analysis already captured the real
        # function in the resolved plan; a later out-of-scope call is
        # loud instead of silently succeeding.
        for name in self.py_funcs:
            _register_py_udf_tombstone(self.spark, name)
        # Release this script's COPY error-budget materializations:
        # the cache's two consumers (MAXERROR count + good/bad split)
        # have served its statements; leaving it pinned would hold the
        # whole load in the block-manager for the session (r13 VERDICT
        # item 2). Lineage stays intact, so a consumer that runs
        # afterwards (e.g. the driver collecting the returned result)
        # recomputes the parse from the source files.
        while self.budget_caches:
            self.budget_caches.pop().unpersist()


def _cast_positional(sel: DataFrame, target: DataFrame, table: str) -> DataFrame:
    tgt_schema = target.schema
    if len(sel.columns) != len(tgt_schema):
        raise ValueError(
            f"INSERT INTO {table}: {len(sel.columns)} columns provided, "
            f"table has {len(tgt_schema)}"
        )
    # positional rename FIRST, then cast: an unaliased literal like 0.0
    # yields a column NAMED "0.0", which name-based resolution would
    # parse as `0`.`0` and fail
    sel = sel.toDF(*[f"_pos{i}" for i in range(len(sel.columns))])
    return sel.select(
        *[
            F.col(f"_pos{i}").cast(f.dataType).alias(f.name)
            for i, f in enumerate(tgt_schema.fields)
        ]
    )


def _sub_outside_quotes(text: str, pattern: str | re.Pattern, repl) -> str:
    """``re.sub`` applied only OUTSIDE single-quoted string literals, so
    an alias-looking token inside a literal ('t.x is a label') survives."""
    segs = text.split("'")
    segs[0::2] = [re.sub(pattern, repl, s) for s in segs[0::2]]
    return "'".join(segs)


def _apply_search_path(state: "_ScriptState", sql: str) -> str:
    """``SET search_path`` resolution, read-side: an unqualified name
    that has no plain binding rewrites to ``<schema>__<name>`` for the
    FIRST path schema holding that binding (a plain binding always
    shadows the path — Redshift's own resolution order puts earlier
    path entries first, and the script's unqualified CREATEs bind
    plain). Same documented hazard class as declared-schema flattening:
    a bare column named exactly like a path-resolved table would be
    rewritten too; qualify the column to avoid it."""
    for s in state.search_path:
        for bound in list(state.tables):
            if not bound.startswith(f"{s}__"):
                continue
            plain = bound[len(s) + 2 :]
            if plain in state.tables:
                continue
            sql = _sub_outside_quotes(
                sql,
                rf"(?i)(?<![\w.#$]){re.escape(plain)}(?![\w$])(?!\s*\()",
                bound,
            )
    return sql


def _prep_stmt_sql(state: "_ScriptState", sql: str) -> str:
    """The same per-statement text passes the statement tables apply
    (#temp rename, declared-schema flattening, search-path resolution,
    SQL-UDF inlining) for SQL built OUTSIDE them (see _query)."""
    sql = rewrite_temp_names(sql)
    for s in state.schemas:
        sql = _sub_outside_quotes(sql, rf"(?i)\b{re.escape(s)}\s*\.\s*(\w+)", rf"{s}__\1")
    sql = _apply_search_path(state, sql)
    if state.funcs:
        sql = _inline_sql_udfs(sql, state.funcs)
    return sql


def _query(state: "_ScriptState", scope: dict | None, sql: str) -> DataFrame:
    """Run a query built by the runner itself — a loop, cursor, PERFORM,
    EXECUTE or SELECT INTO query, or a scalar evaluation — with
    *scope*'s variables substituted, through the per-statement passes
    (_prep_stmt_sql) and the dialect front-end."""
    sql = _prep_stmt_sql(state, _subst_vars(scope, sql))
    return state.spark.sql(translate_redshift_sql(sql).strip())


def _eval_script_scalar(state: "_ScriptState", scope: dict | None, expr: str, cast: str):
    """Evaluate a scalar SQL expression (scalar subqueries included),
    with *scope*'s variables substituted, in the script's current
    bindings. One-row driver-side read by design — the same
    O(1)-result class as the JDBC-bounds and query-vector lookups."""
    expr = _subst_vars(scope, expr)
    row = _query(state, None, f"SELECT CAST(({expr}) AS {cast}) AS v").first()
    return None if row is None else row[0]


# --- the DML column contract ------------------------------------------------
# Script DML resolves every column it names through _target_col, gives
# every column it does not list the table's DDL fill (_fill_unlisted),
# and INSERT/UPDATE/DELETE bind their result through _commit_dml.


def _target_col(df: DataFrame, name: str, stmt: str | None) -> str | None:
    """*name* as *df* spells it (SQL identifiers are case-insensitive).
    A name *df* lacks raises a ValueError that starts with *stmt* and
    names the column, or returns None when *stmt* is None."""
    for c in df.columns:
        if c.lower() == name.lower():
            return c
    if stmt is None:
        return None
    raise ValueError(f"{stmt} {name!r} (table has {df.columns})")


def _fill_unlisted(
    state: "_ScriptState", table: str, base: DataFrame, field
) -> tuple[Column, bool]:
    """The value an INSERT or MERGE gives *field*, a column of *table*
    (bound to *base*) that the statement does not list, and whether the
    bound result must be pinned (localCheckpoint).

    A DEFAULT gives its expression, pinned when it reads the clock so
    every later read sees one load time. An IDENTITY column gives
    unique ascending ids above everything already in the table (not
    consecutive: Redshift's own IDENTITY contract), always pinned:
    monotonically_increasing_id re-evaluates per action, and every
    later statement reads the bound table, so two downstream actions
    must see the SAME ids. The start is a one-row max lookup, the same
    metadata-scale driver read as JDBC partition bounds. Any other
    column is NULL.
    """
    fill = state.fills.get(table, {}).get(field.name)
    if fill is None:
        return F.lit(None), False
    if isinstance(fill, str):
        return F.expr(fill), bool(_VOLATILE_DEFAULT.search(fill))
    prior = base.agg(F.max(field.name)).first()[0]
    start = fill if prior is None else int(prior) + 1
    if isinstance(field.dataType, (T.IntegerType, T.ShortType, T.ByteType)):
        # mid() values (partitionId*2^33 + n) wrap a narrow column
        # under non-ANSI casts. A narrow identity type caps the table
        # at the type's own range anyway, so a dense scheme (row_number
        # over mid: one single-partition window, bounded by that same
        # range) is both safe and honest.
        rn = F.row_number().over(Window.orderBy(F.monotonically_increasing_id()))
        return rn + F.lit(start - 1), True
    return F.monotonically_increasing_id() + F.lit(start), True


def _commit_dml(
    state: "_ScriptState",
    scope: dict | None,
    table: str,
    new_df: DataFrame,
    affected: DataFrame,
    pin: bool = False,
) -> None:
    """Bind an INSERT/UPDATE/DELETE's new *table* (materialized first
    when *pin*, see _fill_unlisted), then record its *affected* rows,
    a lazy plan captured against the pre-statement bindings, for GET
    DIAGNOSTICS ROW_COUNT and FOUND."""
    if pin:
        new_df = new_df.localCheckpoint(eager=True)
    state.bind(table, new_df)
    state.last_dml = affected
    _mark_found_dml(scope, state)


def _one_per_key(df: DataFrame, keys: list[str], order: list[str]) -> DataFrame:
    """One row of *df* per *keys* value, the first by *order*: a
    deterministic pick where Redshift leaves the winner unspecified
    (REMOVE DUPLICATES' replacement rows, UPDATE ... FROM's targets)."""
    return (
        df.withColumn("__rn", F.row_number().over(Window.partitionBy(*keys).orderBy(*order)))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


class _Merge(NamedTuple):
    """A parsed MERGE INTO: clause texts, resolved against the tables
    only by _lower_merge."""

    source: str
    src_alias: str
    keys: list[tuple[str, str]]  # ON pairs: (target column, source column)
    sets: list[tuple[str, str]]  # WHEN MATCHED THEN UPDATE SET: (column, expression)
    delete: bool  # WHEN MATCHED THEN DELETE
    insert_cols: list[str] | None  # None: the target's columns, in order
    insert_vals: list[str]
    remove_duplicates: bool


_MERGE_INSERT = re.compile(
    r"(?is)^NOT\s+MATCHED\s+THEN\s+INSERT\s*(?:\(([^)]*)\)\s*)?VALUES\s*\((.+)\)\s*$"
)


def _parse_merge(tgt_name: str, tgt_alias: str, rest: str) -> _Merge:
    """Parse the text after ``MERGE INTO tgt [alias] USING``. Only
    Redshift's forms pass: ``src [alias] ON <AND-ed equality pairs
    between the two tables>`` (Redshift requires the merge key; range
    conditions raise), then either the WHEN clauses or the simplified
    ``REMOVE DUPLICATES``."""
    src_spec, after_on = _split_top_kw(rest, "ON")
    if after_on is None:
        raise ValueError(f"MERGE INTO {tgt_name}: missing ON condition")
    sm = re.match(r"(?is)^([\w.]+)(?:\s+(?:AS\s+)?(\w+))?\s*$", src_spec)
    if not sm:
        raise ValueError(
            f"MERGE INTO {tgt_name}: USING must name a table (optionally "
            f"aliased), got {src_spec[:60]!r} — stage subqueries as a temp "
            "table first (Redshift's own MERGE takes a table reference)"
        )
    source, src_alias = sm.group(1), sm.group(2) or sm.group(1)
    cond, when_text = _split_top_kw(after_on, "WHEN")
    if when_text is None:
        cond, tail = _split_top_kw(cond, "REMOVE")
        if tail is None or not re.match(r"(?is)^DUPLICATES\s*$", tail):
            raise ValueError(f"MERGE INTO {tgt_name}: no WHEN clauses")
    keys = []
    for part in _split_top_and(cond):
        pm = re.match(r"(?is)^\(?\s*([\w.]+)\s*=\s*([\w.]+)\s*\)?\s*$", part)
        sides: dict[str, str] = {}
        for side in (pm.group(1), pm.group(2)) if pm else ():
            alias, _, col = side.rpartition(".")
            sides[alias.lower()] = col
        if not pm or set(sides) != {tgt_alias.lower(), src_alias.lower()}:
            raise ValueError(
                f"MERGE INTO {tgt_name}: ON must be AND-ed equalities between "
                f"{tgt_alias}.<col> and {src_alias}.<col>, got {part.strip()!r}"
            )
        keys.append((sides[tgt_alias.lower()], sides[src_alias.lower()]))
    if when_text is None:
        return _Merge(source, src_alias, keys, [], False, None, [], True)
    return _Merge(source, src_alias, keys, *_parse_merge_when(tgt_name, when_text), False)


def _parse_merge_when(tgt_name: str, when_text: str) -> tuple:
    """(SET pairs, delete flag, INSERT columns, INSERT values) of the
    WHEN clauses: WHEN MATCHED THEN UPDATE SET or THEN DELETE, and WHEN
    NOT MATCHED THEN INSERT, each required. An AND predicate on a WHEN
    clause is not Redshift MERGE (its WHEN clauses are unconditional)."""
    sets: list[tuple[str, str]] = []
    delete = saw_insert = False
    insert_cols, insert_vals = None, []
    rest: str | None = when_text
    while rest is not None:
        cl, rest = _split_top_kw(rest, "WHEN")
        if re.match(r"(?is)^(?:NOT\s+)?MATCHED\s+AND\b", cl):
            raise ValueError(
                f"MERGE INTO {tgt_name}: WHEN ... AND predicates are not part "
                "of Redshift MERGE (its WHEN clauses are unconditional)"
            )
        if um := re.match(r"(?is)^MATCHED\s+THEN\s+UPDATE\s+SET\s+(.+)$", cl):
            # a target-qualified SET t.c = ... is tolerated
            sets += [(c.rpartition(".")[2], e) for c, e in _split_assignments(um.group(1))]
        elif re.match(r"(?is)^MATCHED\s+THEN\s+DELETE\s*$", cl):
            delete = True
        elif im := _MERGE_INSERT.match(cl):
            saw_insert = True
            insert_vals = _split_args(im.group(2))
            insert_cols = [c.strip() for c in im.group(1).split(",")] if im.group(1) else None
        else:
            raise ValueError(f"MERGE INTO {tgt_name}: unsupported WHEN clause {cl[:60]!r}")
    if delete and sets:
        raise ValueError(
            f"MERGE INTO {tgt_name}: WHEN MATCHED is either UPDATE or DELETE, not both"
        )
    if not ((sets or delete) and saw_insert):
        raise ValueError(
            f"MERGE INTO {tgt_name}: Redshift MERGE requires both a WHEN MATCHED "
            "and a WHEN NOT MATCHED clause"
        )
    return sets, delete, insert_cols, insert_vals


def _lower_merge(state: "_ScriptState", tgt_name: str, tgt_alias: str, mg: _Merge) -> None:
    """Execute a parsed MERGE through the relational merge plan
    (operators/merge.py merge_upsert: ONE full-outer join on the merge
    key + conditional projection — the physical plan every engine's
    MERGE lowers to, one key-partitioned shuffle at any scale), with its
    columns resolved and filled like every script DML's.

    The checks that need the tables: a SET may not assign a merge key,
    and the INSERT must give each merge key the source's key reference
    (anything else would create a row that contradicts its own match
    condition — Redshift rejects this shape too). A key that repeats in
    the source raises "found multiple matches" AT RUNTIME, as in
    Redshift.
    """
    from sql_redshift_etl_spark.operators.merge import merge_upsert

    stmt = f"MERGE INTO {tgt_name}"
    target, source = state.existing(tgt_name), state.existing(mg.source)
    keys = [
        (
            _target_col(target, t, f"{stmt}: unknown key column"),
            _target_col(source, s, f"{stmt}: unknown key column"),
        )
        for t, s in mg.keys
    ]
    # Source key columns take the target's names (merge_upsert joins
    # same-named keys); expression text is rewritten to match.
    renamed = {s: t for t, s in keys if s != t}
    src = source
    for s, t in renamed.items():
        src = src.withColumnRenamed(s, t)
    key_cols = [t for t, _ in keys]
    if mg.remove_duplicates:
        _merge_replace(state, tgt_name, target, src, key_cols)
        return

    def rewrite(expr_text: str) -> str:
        def sub(mm: "re.Match[str]") -> str:
            if mm.group(1).lower() == tgt_alias.lower():
                return f"t.{mm.group(2)}"
            return f"s.{renamed.get(_target_col(source, mm.group(2), None), mm.group(2))}"

        pat = rf"(?i)\b({re.escape(tgt_alias)}|{re.escape(mg.src_alias)})\.(\w+)"
        return _sub_outside_quotes(expr_text, pat, sub)

    update_set: dict = {}
    for c, e in mg.sets:
        col = _target_col(target, c, f"{stmt}: unknown SET column")
        if col in key_cols:
            raise ValueError(f"{stmt}: cannot UPDATE merge key {col!r}")
        update_set[col] = F.expr(rewrite(e)).cast(target.schema[col].dataType)

    cols = target.columns if mg.insert_cols is None else mg.insert_cols
    if len(cols) != len(mg.insert_vals):
        raise ValueError(
            f"{stmt}: INSERT lists {len(cols)} columns but {len(mg.insert_vals)} values"
        )
    listed = {
        _target_col(target, c, f"{stmt}: unknown INSERT column"): e
        for c, e in zip(cols, mg.insert_vals)
    }
    insert_values: dict = {}
    pin = False
    for f in target.schema.fields:
        e = listed.get(f.name)
        if f.name in key_cols:
            if e is None or rewrite(e).strip().lower() != f"s.{f.name}".lower():
                raise ValueError(
                    f"{stmt}: INSERT must set merge key {f.name!r} to the source key (got {e!r})"
                )
        elif e is not None:
            insert_values[f.name] = F.expr(rewrite(e)).cast(f.dataType)
        else:
            val, p = _fill_unlisted(state, tgt_name, target, f)
            if p:
                # generated once per source row, as INSERT generates it
                # once per inserted row
                src = src.withColumn(f"__fill_{f.name}", val)
                val = F.col(f"s.__fill_{f.name}")
            pin |= p
            insert_values[f.name] = val.cast(f.dataType)

    # "found multiple matches" runtime guard: distributed, lazy, and on
    # the delta side only — count per key via a window (the join
    # shuffles the source by key anyway), raise inside the plan when
    # any key repeats. The cast gives raise_error's NULL type the key's
    # type so the CASE branches agree.
    k0 = key_cols[0]
    cnt = F.count(F.lit(1)).over(Window.partitionBy(*key_cols))
    src = src.withColumn(
        k0,
        F.when(
            cnt > 1,
            F.raise_error(F.lit(f"{stmt}: found multiple source matches for a key")).cast(
                src.schema[k0].dataType
            ),
        ).otherwise(F.col(k0)),
    )
    merged = merge_upsert(
        target,
        src,
        key_cols,
        update_set=update_set,
        insert_values=insert_values,
        delete_when=F.lit(True) if mg.delete else None,
    )
    state.bind(tgt_name, merged.localCheckpoint(eager=True) if pin else merged)


def _merge_replace(
    state: "_ScriptState", tgt_name: str, target: DataFrame, src: DataFrame, key_cols: list[str]
) -> None:
    """Redshift's simplified ``MERGE ... ON cond REMOVE DUPLICATES``:
    matched target rows, duplicates included, are all REPLACED by one
    source row per key (all columns), unmatched source rows insert, and
    duplicate source rows on the merge key collapse to one. Redshift
    documents this form and requires identical column lists."""
    tgt_set = {c.lower() for c in target.columns}
    src_set = {c.lower() for c in src.columns}
    if tgt_set != src_set:
        raise ValueError(
            f"MERGE INTO {tgt_name} ... REMOVE DUPLICATES requires identical "
            f"column lists (target {sorted(tgt_set)}, source {sorted(src_set)})"
        )
    one = _one_per_key(src, key_cols, sorted(src.columns))
    repl = one.select(
        *[
            F.col(_target_col(one, f.name, None)).cast(f.dataType).alias(f.name)
            for f in target.schema.fields
        ]
    )
    # a USING join lists the key first: project back to the target's order
    survivors = target.join(one.select(*key_cols), on=key_cols, how="left_anti")
    state.bind(tgt_name, survivors.select(*target.columns).unionByName(repl))


# --- the worklist and its tables -------------------------------------------
# A statement goes through _PLPGSQL_STMTS, then (inside a procedure
# scope) _SCOPED_STMTS, then _SQL_STMTS. A handler returns None when it
# ran the statement, or the (possibly rewritten) statement text for the
# entries after it: rewrite steps (#temp rename, name resolution, UDF
# inlining, the dialect front-end) are entries that match every
# statement, so the tables spell out the full per-statement order.

# matches every statement: the pattern of the tables' rewrite steps
_EVERY = re.compile("")


def _unwrap(item) -> tuple:
    """(worklist item, the CALL scope it carries or None)."""
    return (item.item, item.scope) if isinstance(item, _Scoped) else (item, None)


def _push_body(state: _ScriptState, body: str, scope: dict | None, marker=None) -> None:
    """Parse a plpgsql body and queue its items at the FRONT of the
    worklist, where the block sat, followed by *marker* (the loop node
    re-pushed for its next iteration, or a block's end marker). Items
    carry *scope*; values substitute when each statement RUNS
    (assignments between statements change what later ones see)."""
    items = _parse_plpgsql_nodes(body)
    if marker is not None:
        items.append(marker)
    if scope:
        items = [_Scoped(it, scope) for it in items]
    state.pending.extendleft(reversed(items))


def _unwind(state: _ScriptState, stop) -> tuple | None:
    """Drop queued items up to the first of type *stop*, which stays at
    the front and comes back as (item, its scope); None when the
    worklist runs out first. Every guard passed on the way retires (a
    clean exit — snapshot discarded) and every DECLARE block passed
    un-shadows its variables: the inner names must not leak into the
    code the unwind lands in."""
    while state.pending:
        inner, iscope = _unwrap(state.pending[0])
        if isinstance(inner, stop):
            return inner, iscope
        if isinstance(inner, _GuardEnd):
            state.guard_stack.pop()
        if isinstance(inner, _DeclEnd):
            inner.restore()
        state.pending.popleft()
    return None


# --- control nodes (keyed by type in _CONTROL) ------------------------------


def _exec_if(state: _ScriptState, scope: dict | None, node: _IfNode) -> None:
    for cond, body in node.branches:
        # NULL condition = branch not taken (SQL three-valued)
        if bool(_eval_script_scalar(state, scope, cond, "BOOLEAN")):
            _push_body(state, body, scope)
            return
    if node.else_body is not None:
        _push_body(state, node.else_body, scope)


def _exec_while(state: _ScriptState, scope: dict | None, node: _WhileNode) -> None:
    node.iters += 1
    if node.iters > _WhileNode.MAX_ITERS:
        raise ValueError(
            f"WHILE: more than {_WhileNode.MAX_ITERS} iterations "
            "in one script (runaway loop?)"
        )
    if node.cond.strip().upper() == "TRUE" or bool(
        _eval_script_scalar(state, scope, node.cond, "BOOLEAN")
    ):  # literal-TRUE (bare LOOP) skips the per-iteration job
        # re-test after this iteration
        _push_body(state, node.body, scope, node)


def _exec_for(state: _ScriptState, scope: dict | None, node: _ForNode) -> None:
    if node.vals is None:  # bounds evaluate once, at loop entry
        frm = _eval_script_scalar(state, scope, node.frm, "BIGINT")
        to = _eval_script_scalar(state, scope, node.to, "BIGINT")
        if frm is None or to is None:
            raise ValueError(f"FOR {node.var}: NULL range bound")
        step = 1
        if node.by is not None:
            step = _eval_script_scalar(state, scope, node.by, "BIGINT")
            if step is None or step <= 0:
                # plpgsql's own rule: BY must be positive
                raise ValueError(
                    f"FOR {node.var}: BY step must be a positive "
                    f"integer, got {step!r}"
                )
        node.vals = (
            range(frm, to - 1, -step)
            if node.reverse
            else range(frm, to + 1, step)
        )
        if len(node.vals) > _ForNode.MAX_RANGE:
            raise ValueError(
                f"FOR {node.var}: range of {len(node.vals)} exceeds the "
                f"{_ForNode.MAX_RANGE}-iteration cap"
            )
    if node.idx < len(node.vals):
        # one iteration per pop; the re-pushed node is the
        # loop marker EXIT/CONTINUE unwind to
        v = node.vals[node.idx]
        node.idx += 1
        _push_body(state, _bind(node.body, {node.var: str(v)}), scope, node)


def _exec_for_query(state: _ScriptState, scope: dict | None, node: _ForQueryNode) -> None:
    if node.rows is None:  # the query evaluates once, at loop entry
        qdf = _query(state, scope, node.query)
        node.fields = [
            (f.name, f.dataType.simpleString()) for f in qdf.schema.fields
        ]
        node.rows = qdf.take(_ForQueryNode.MAX_ROWS + 1)
        if len(node.rows) > _ForQueryNode.MAX_ROWS:
            raise ValueError(
                f"FOR {node.var} IN <query>: more than "
                f"{_ForQueryNode.MAX_ROWS} rows — a control-table "
                "loop, not a per-fact loop (use a join)"
            )
    if node.idx >= len(node.rows):
        # loop exit: plpgsql sets FOUND = "did the loop
        # iterate at all" when a query-FOR finishes
        _set_found(scope, len(node.rows) > 0)
        return
    row = node.rows[node.idx]
    node.idx += 1
    binds: dict[str, str] = {}
    for (fname, ftyp), val in zip(node.fields, row):
        # of two same-named fields the first one binds
        binds.setdefault(f"{node.var}.{fname}", _sql_literal(val, ftyp))
    _push_body(state, _bind(node.body, binds), scope, node)


def _exec_call_end(state: _ScriptState, scope: dict | None, node: _CallEnd) -> None:
    # the end of a CALL (fall-through, or reached by an early RETURN);
    # an INOUT-bearing CALL writes caller variables back and,
    # when top-level, returns its final values as a row
    if node.inout:
        res = _inout_result(state.spark, node)
        if res is not None:
            state.result = res


def _exec_decl_block(state: _ScriptState, scope: dict | None, node: _DeclBlockNode) -> None:
    # enter the DECLARE sub-block — shadow-save every
    # declared name, evaluate defaults in order (each sees
    # earlier inner vars; a shadowing default still sees
    # the outer value), then run the BEGIN block under the
    # (possibly fresh) scope with a restore marker after.
    # The marker enqueues BEFORE default evaluation and its
    # saved-dict fills incrementally: a default that raises
    # mid-section leaves the marker live, so an OUTER
    # guard's unwind un-shadows exactly the already-applied
    # names instead of leaking them.
    eff = scope if scope is not None else {}
    saved: dict = {}
    state.pending.appendleft(_Scoped(_DeclEnd(saved, eff), eff))
    for vname, vtyp, vdefault in node.decls:
        saved[vname] = eff.get(vname, _DECL_MISSING)
        value = (
            None
            if vdefault is None
            else _eval_script_scalar(state, eff, vdefault, vtyp)
        )
        eff[vname] = [vtyp, value]
    state.pending.appendleft(_Scoped(node.block, eff))


def _exec_guard(state: _ScriptState, scope: dict | None, node: _GuardNode) -> None:
    if node.handler is None:
        # plain nested BEGIN/END: statement grouping only
        _push_body(state, node.body, scope)
        return
    end = _GuardEnd()
    state.guard_stack.append(
        {
            "snap": state.snapshot(),
            "handler": node.handler,
            "scope": scope,
            "end": end,
            # cursors already open at guard entry survive a
            # catch; ones OPENed (or CLOSEd-and-reOPENed)
            # inside the block close on rollback (plpgsql
            # closes portals opened inside an aborted
            # block — their buffered rows came from undone
            # state). Keyed on the BUFFER OBJECT, not the
            # name, so a re-OPEN behind the same name is
            # still detected.
            "open_cursors": {
                n: e[1].rows
                for n, e in (scope or {}).items()
                if e[0] == "CURSOR" and e[1].rows is not None
            },
        }
    )
    _push_body(state, node.body, scope, end)


def _exec_guard_end(state: _ScriptState, scope: dict | None, node: _GuardEnd) -> None:
    # clean completion: discard the innermost snapshot
    if state.guard_stack.pop()["end"] is not node:  # pragma: no cover - invariant
        raise AssertionError("EXCEPTION guard stack out of sync")


_CONTROL = {
    _IfNode: _exec_if,
    _WhileNode: _exec_while,
    _ForNode: _exec_for,
    _ForQueryNode: _exec_for_query,
    _CallEnd: _exec_call_end,
    _DeclBlockNode: _exec_decl_block,
    _DeclEnd: lambda state, scope, node: node.restore(),
    _GuardNode: _exec_guard,
    _GuardEnd: _exec_guard_end,
}


def _catch(state: _ScriptState, exc: Exception) -> None:
    """plpgsql EXCEPTION WHEN OTHERS: an execution error inside a
    guarded block unwinds to the block's end marker, rolls the script
    state back to block entry, and runs the handler."""
    g = state.guard_stack.pop()
    # the first end marker queued is the innermost guard's; a catch
    # unwinding past an inner DECLARE block un-shadows its names, so
    # they do not leak into the handler
    hit = _unwind(state, _GuardEnd)
    if hit is None or hit[0] is not g["end"]:
        raise exc  # end marker lost — internal error, stay loud
    state.pending.popleft()
    state.restore(g["snap"])
    # the rolled-back DML's affected-count is stale — reading
    # ROW_COUNT in the handler must be loud, never a count of
    # undone effects
    state.last_dml = None
    # cursors OPENed after the snapshot buffered rows from the
    # rolled-back bindings — close them (plpgsql closes cursors
    # opened inside an aborted block). Identity check: a cursor
    # CLOSEd and re-OPENed inside the block holds a NEW buffer
    # object under the old name and must close too.
    for n, e in (g["scope"] or {}).items():
        if (
            e[0] == "CURSOR"
            and e[1].rows is not None
            and e[1].rows is not g["open_cursors"].get(n)
        ):
            e[1].rows = None
    handler = _bind(
        g["handler"],
        {"sqlerrm": _sqlerrm(exc), "sqlstate": f"'{_classify_sqlstate(exc)}'"},
    )
    _push_body(state, handler, g["scope"])


# --- plpgsql statements ------------------------------------------------------


def _exec_exit(state: _ScriptState, scope: dict | None, m: re.Match, raw: str) -> None:
    um = re.match(r"(?is)^(EXIT|CONTINUE)\b(?:\s+WHEN\s+(.+))?\s*$", raw)
    if um is None:
        raise ValueError(
            f"EXIT/CONTINUE: labels unsupported ({raw[:40]!r})"
        )
    kw, when = um.group(1).upper(), um.group(2)
    if when is not None and not bool(
        _eval_script_scalar(state, scope, when, "BOOLEAN")
    ):
        return
    # unwind queued items to the innermost loop marker (the
    # re-pushed _WhileNode/_ForNode); EXIT consumes it,
    # CONTINUE leaves it so the next iteration runs. A
    # _CallEnd fence means no enclosing loop — loud.
    hit = _unwind(state, (_WhileNode, _ForNode, _ForQueryNode, _CallEnd))
    if hit is None or isinstance(hit[0], _CallEnd):
        raise ValueError(f"{kw}: no enclosing loop")
    inner, iscope = hit
    if kw == "EXIT":
        state.pending.popleft()
        # plpgsql sets FOUND = "iterated at least
        # once" on ANY query-FOR exit, EXIT
        # included (exec_for_query stamps it after
        # the loop regardless of how it ended).
        # Integer-FOR and WHILE never touch FOUND,
        # per plpgsql.
        if isinstance(inner, _ForQueryNode):
            _set_found(iscope if iscope is not None else scope, inner.idx > 0)


def _exec_return(state: _ScriptState, scope: dict | None, m: re.Match, raw: str) -> None:
    if raw[6:].strip(" ;"):
        raise ValueError(
            "RETURN with a value: procedures return nothing — "
            "write results to a table the caller reads"
        )
    # early exit from the current procedure: unwind to (and
    # through) the CALL fence; loop markers on the way die
    hit = _unwind(state, _CallEnd)
    if hit is None:
        raise ValueError("RETURN: not inside a procedure CALL")
    state.pending.popleft()
    _exec_call_end(state, None, hit[0])  # early RETURN still reports


def _exec_execute(state: _ScriptState, scope: dict | None, m: re.Match, raw: str) -> None:
    # plpgsql EXECUTE: evaluate the command-string
    # expression (variables substitute as literals, the
    # QUOTE_IDENT/QUOTE_LITERAL scalars from misc3 do the
    # quoting), then run the resulting text as ONE
    # statement. Dynamic SQL does NOT see plpgsql
    # variables — plpgsql's own contract — so the built
    # statement enqueues unscoped. `EXECUTE ... INTO
    # var[, ...]` assigns the single result row instead;
    # `USING expr, ...` value-binds $N placeholders
    # below.
    state.n_execs += 1
    if state.n_execs > 1000:
        raise ValueError(
            "EXECUTE: more than 1000 dynamic statements in "
            "one script (runaway loop?)"
        )
    body_txt = raw[7:].strip()
    # USING is the last clause (plpgsql: EXECUTE cmd
    # [INTO t,...] [USING e,...]); split it off before INTO
    head_txt, using_tail = _split_top_kw(body_txt, "USING")
    expr, into_tail = _split_top_kw(head_txt, "INTO")
    if not expr:
        raise ValueError("EXECUTE: empty command-string expression")
    sql_text = _eval_script_scalar(state, scope, expr, "STRING")
    if sql_text is None or not str(sql_text).strip():
        raise ValueError("EXECUTE: command string is NULL/empty")
    sql_text = str(sql_text).strip().rstrip(";").strip()
    if using_tail is not None:
        # EXECUTE ... USING: $N placeholders bind the
        # N-th USING expression's VALUE (evaluated now, in
        # the current scope — one bounded one-row job per
        # argument) as a typed literal, outside quotes only
        # — plpgsql's value-not-text parameter contract.
        rendered: list[str] = []
        for a in _split_args(using_tail):
            if not a:
                raise ValueError("EXECUTE ... USING: empty argument")
            vdf = _query(state, None, f"SELECT ({_subst_vars(scope, a)}) AS v")
            vrow = vdf.first()
            rendered.append(
                _sql_literal(
                    None if vrow is None else vrow[0],
                    vdf.schema.fields[0].dataType.simpleString(),
                )
            )
        used = {
            int(pm.group(1))
            for pm in re.finditer(r"\$(\d+)", _mask_quoted(sql_text))
        }
        if used and max(used) > len(rendered):
            raise ValueError(
                f"EXECUTE ... USING: ${max(used)} referenced but "
                f"only {len(rendered)} argument(s) supplied"
            )
        if used and min(used) < 1:
            # $0 would pass the max() check yet never be
            # substituted (binds are 1-based) — reject with
            # the same arity message, not an opaque parser
            # error downstream
            raise ValueError(
                "EXECUTE ... USING: $0 referenced but "
                "placeholders are numbered from $1"
            )
        sql_text = _bind(sql_text, {f"${i}": lit for i, lit in enumerate(rendered, 1)})
    if into_tail is None:
        state.pending.appendleft(sql_text)
        return
    names = [n.strip().lower() for n in into_tail.split(",")]
    if scope is None or not all(n and n in scope for n in names):
        raise ValueError(
            f"EXECUTE ... INTO: target(s) {into_tail.strip()!r} "
            "must all be declared plpgsql variables"
        )
    row = _query(state, None, sql_text).first()
    _assign_row(state, scope, names, row, "EXECUTE ... INTO", "query")


def _assign_row(
    state: _ScriptState, scope: dict, names: list[str], row, what: str, source: str
) -> None:
    """Assign a one-row result to declared variables (NULLs when there
    is no row) and record its 0/1 ROW_COUNT — SELECT INTO, FETCH and
    EXECUTE ... INTO."""
    vals = list(row) if row is not None else [None] * len(names)
    if len(vals) != len(names):
        raise ValueError(
            f"{what}: {len(names)} variable(s) but "
            f"{source} returns {len(vals)} column(s)"
        )
    for n, v in zip(names, vals):
        scope[n][1] = v
    state.last_dml = 1 if row is not None else 0


def _exec_perform(state: _ScriptState, scope: dict | None, m: re.Match, raw: str) -> None:
    # plpgsql PERFORM: run the query, discard the
    # rows. FOUND reflects whether it produced any row
    # (one bounded limit-1 job); ROW_COUNT is tracked as
    # the usual LAZY plan — the discarded row count is
    # computed only if GET DIAGNOSTICS actually reads it.
    tail = raw[7:].strip()
    if not tail:
        raise ValueError("PERFORM: empty query")
    qdf = _query(state, scope, f"SELECT {tail}")
    _set_found(scope, qdf.first() is not None)
    state.last_dml = qdf


# --- plpgsql statements that need a procedure scope -------------------------


def _exec_get_diagnostics(state: _ScriptState, scope: dict, m: re.Match, raw: str) -> None:
    # GET DIAGNOSTICS var := ROW_COUNT: rows
    # affected by the last tracked statement —
    # INSERT/UPDATE/DELETE/TRUNCATE (lazy affected-set
    # plans counted on first read, then cached) plus
    # the 0/1 of SELECT INTO var, FETCH, and
    # EXECUTE ... INTO. Any other preceding statement
    # resets the count to untracked — reading it then
    # is loud, never silently stale.
    gm = re.match(
        r"(?is)^GET\s+DIAGNOSTICS\s+([\w$]+)\s*(?::=|=)\s*ROW_COUNT\s*$",
        raw,
    )
    if gm is None:
        raise ValueError(
            f"GET DIAGNOSTICS: only 'var := ROW_COUNT' is "
            f"supported, got {raw[:60]!r}"
        )
    vname = gm.group(1).lower()
    if vname not in scope or scope[vname][0] == "CURSOR":
        raise ValueError(
            f"GET DIAGNOSTICS: {vname!r} is not a declared "
            "scalar variable"
        )
    if state.last_dml is None:
        raise ValueError(
            "GET DIAGNOSTICS ROW_COUNT: the preceding "
            "statement's row count is not tracked (tracked: "
            "INSERT/UPDATE/DELETE/TRUNCATE, SELECT INTO var, "
            "FETCH, EXECUTE INTO)"
        )
    if not isinstance(state.last_dml, int):
        state.last_dml = state.last_dml.count()
    scope[vname][1] = state.last_dml


# forward-only cursor ops: OPEN evaluates the
# bound query NOW through the dialect front-end with
# current variable values, buffering at most
# MAX_ROWS control rows driver-side (the same
# bounded O(small)-result contract as FOR-over-query
# — plpgsql row loops run on the coordinator by the
# language's own semantics); FETCH assigns the next
# row (NULLs + found=FALSE past the end, plpgsql's
# SELECT INTO contract); CLOSE releases the buffer.
def _declared_cursor(scope: dict, m: re.Match, op: str) -> tuple[str, _Cursor]:
    cname = m.group(1).lower()
    ent = scope.get(cname)
    if ent is None or ent[0] != "CURSOR":
        raise ValueError(f"{op}: {cname!r} is not a declared cursor")
    return cname, ent[1]


def _exec_open(state: _ScriptState, scope: dict, m: re.Match, raw: str) -> None:
    cname, cur = _declared_cursor(scope, m, "OPEN")
    if cur.rows is not None:
        raise ValueError(f"OPEN {cname}: cursor is already open")
    qdf = _query(state, scope, cur.query)
    cur.fields = [
        (f.name, f.dataType.simpleString())
        for f in qdf.schema.fields
    ]
    cur.rows = qdf.take(_Cursor.MAX_ROWS + 1)
    if len(cur.rows) > _Cursor.MAX_ROWS:
        raise ValueError(
            f"OPEN {cname}: more than {_Cursor.MAX_ROWS} rows "
            "— a control-table cursor, not a per-fact one "
            "(use a join)"
        )
    cur.idx = 0


def _exec_fetch(state: _ScriptState, scope: dict, m: re.Match, raw: str) -> None:
    cname, cur = _declared_cursor(scope, m, "FETCH")
    if cur.rows is None:
        raise ValueError(f"FETCH {cname}: cursor is not open")
    names = [n.strip().lower() for n in m.group(2).split(",")]
    bad = [
        n
        for n in names
        if n not in scope or scope[n][0] == "CURSOR"
    ]
    if bad:
        raise ValueError(
            f"FETCH ... INTO: {', '.join(bad)} not declared "
            "scalar variable(s)"
        )
    row = None  # past the end: NULLs
    if cur.idx < len(cur.rows):
        row = cur.rows[cur.idx]
        cur.idx += 1
    _assign_row(state, scope, names, row, f"FETCH {cname}", "cursor")
    _set_found(scope, row is not None)


def _exec_close(state: _ScriptState, scope: dict, m: re.Match, raw: str) -> None:
    cname, cur = _declared_cursor(scope, m, "CLOSE")
    if cur.rows is None:
        raise ValueError(f"CLOSE {cname}: cursor is not open")
    cur.rows = None


def _exec_assign(state: _ScriptState, scope: dict, m: re.Match, raw: str) -> None:
    # `var := expr;` — plpgsql assignment into the scope
    vname = m.group(1).lower()
    if vname not in scope:
        raise ValueError(f"assignment to undeclared variable {vname!r}")
    scope[vname][1] = _eval_script_scalar(state, scope, m.group(2), scope[vname][0])


def _exec_select_into_vars(state: _ScriptState, scope: dict, m: re.Match, raw: str) -> str | None:
    # `SELECT ... INTO [STRICT] var[, var2] FROM ...` —
    # variable form (an INTO list that is NOT all declared
    # variables falls through to the table-CTAS SELECT INTO
    # of _exec_query — except under STRICT, which only exists in the
    # variable form, so an undeclared name there is loud)
    head, tail = _split_top_kw(raw, "INTO")
    if tail is None:
        return raw
    tail_s = tail.strip()
    stricted = re.match(r"(?is)^STRICT\b(.*)$", tail_s)
    if stricted:
        tail_s = stricted.group(1).strip()
    nm = re.match(
        r"(?s)^((?:[\w$]+\s*,\s*)*[\w$]+)\s*(.*)$", tail_s
    )
    names = (
        [n.strip().lower() for n in nm.group(1).split(",")]
        if nm
        else []
    )
    if not (names and all(n in scope for n in names)):
        if stricted:
            raise ValueError(
                "SELECT INTO STRICT: every INTO name must "
                f"be a declared variable; got {names!r}"
            )
        return raw
    query = f"{head} {nm.group(2)}".strip()
    qdf2 = _query(state, scope, query)
    if stricted:
        # plpgsql STRICT: exactly one row or a
        # CATCHABLE error (RuntimeError — the
        # guard routes it; ValueError stays
        # loud by module policy). Bounded
        # take(2) job, never a full count.
        got2 = qdf2.take(2)
        if not got2:
            raise RuntimeError(
                "SELECT INTO STRICT: query "
                "returned no rows (no_data_found)"
            )
        if len(got2) > 1:
            raise RuntimeError(
                "SELECT INTO STRICT: query "
                "returned more than one row "
                "(too_many_rows)"
            )
        row = got2[0]
    else:
        row = qdf2.first()
    _assign_row(state, scope, names, row, "SELECT INTO", "query")
    # plpgsql: SELECT INTO sets FOUND —
    # unlike EXECUTE ... INTO, which never does
    _set_found(scope, row is not None)
    return None


def _subst_stmt_vars(state: _ScriptState, scope: dict, m: re.Match, raw: str) -> str:
    # CALL keeps its raw argument text: the handler
    # substitutes caller variables per-argument so an
    # INOUT argument that IS a caller variable can be
    # recognized for write-back (pre-substituting the
    # whole statement would erase the name)
    return raw if _CALL.match(raw) else _subst_vars(scope, raw)


# --- SQL statement kinds -----------------------------------------------------


def _rewrite_temp(state: _ScriptState, scope: dict | None, m: re.Match, raw: str) -> str:
    # Redshift #temp names → plain identifiers BEFORE statement
    # classification (the CREATE/COPY/INSERT regexes match \w
    # identifiers; '#stg' would silently fall through to
    # spark.sql and fail to parse). The front-end repeats the
    # rewrite for standalone statements — it is idempotent.
    return rewrite_temp_names(raw).strip()


def _exec_create_schema(state: _ScriptState, scope: dict | None, m: re.Match, raw: str) -> None:
    state.schemas.add(m.group(1).lower())


def _exec_drop_schema(state: _ScriptState, scope: dict | None, m: re.Match, raw: str) -> None:
    s, mode = m.group(2).lower(), (m.group(3) or "RESTRICT").upper()
    if s in state.schemas:
        members = [
            n for n in state.tables if n.lower().startswith(f"{s}__")
        ]
        if members and mode != "CASCADE":
            raise ValueError(
                f"DROP SCHEMA {s}: schema is not empty "
                f"({', '.join(sorted(members))}) — use CASCADE"
            )
        for n in members:
            state.spark.catalog.dropTempView(n)
            state.tables.pop(n, None)
            state.created_views.discard(n)
            state.drop_meta(n)
            state.mv_defs.pop(n, None)
        state.schemas.discard(s)
    elif m.group(1) is None:
        raise ValueError(f"DROP SCHEMA: no schema {s!r}")


def _resolve_names(state: _ScriptState, scope: dict | None, m: re.Match, raw: str) -> str:
    for s in state.schemas:
        # flatten declared-schema-qualified names to one part
        raw = _sub_outside_quotes(
            raw, rf"(?i)\b{re.escape(s)}\s*\.\s*(\w+)", rf"{s}__\1"
        )
    if state.search_path:
        raw = _apply_search_path(state, raw)
    if raw[:6].upper() == "CREATE" and re.search(r"(?i)\bON\s+COMMIT\b", raw):
        # CREATE TEMP TABLE ... ON COMMIT PRESERVE|DELETE ROWS:
        # both spellings behave as PRESERVE here (documented
        # simplification — r6's explicit transactions snapshot
        # BINDINGS; an end-of-txn truncation hook would add
        # state for a spelling Redshift ETLs rarely rely on);
        # temp tables die at script end either way.
        raw = _sub_outside_quotes(
            raw,
            r"(?i)\s+ON\s+COMMIT\s+(?:PRESERVE\s+ROWS|DELETE\s+ROWS|DROP)",
            " ",
        )
    return raw


def _exec_create_ext_func(state: _ScriptState, scope: dict | None, m: re.Match, raw: str) -> None:
    raise ValueError(
        "CREATE EXTERNAL FUNCTION (Lambda UDF) calls an AWS "
        "Lambda endpoint — unavailable in this environment; "
        "port the logic to LANGUAGE plpythonu (same Python, "
        "runs in-engine as an Arrow-batched pandas UDF)"
    )


def _exec_create_func(
    state: _ScriptState, scope: dict | None, m: re.Match, raw: str
) -> str | None:
    sig_end = _scan_balanced(raw, m.end())
    tm = _CREATE_FUNC_TAIL.match(raw[sig_end:])
    if tm is None:
        return raw
    # SQL identifiers are case-insensitive (so is
    # Spark's UDF registry) — one lowercase key per
    # function, or DROP/REPLACE under another case
    # would desync the dicts from the registry
    fname = m.group(1).lower()
    lang = tm.group(3).lower()
    if lang == "plpythonu":
        sig = raw[m.end() : sig_end - 1]
        params = _parse_func_params(sig)
        if not params or any(p.startswith("$") for p in params):
            raise ValueError(
                f"CREATE FUNCTION {fname}: plpythonu "
                "parameters must be NAMED (the body "
                "references them by name) and at least "
                "one is required"
            )
        spec = (
            params,
            _parse_func_param_types(sig),
            tm.group(1),
            tm.group(2),
        )
        _register_python_udf(state.spark, fname, *spec)
        # OR REPLACE across languages: one name, one fn
        state.funcs.pop(fname, None)
        state.py_funcs[fname] = spec
        return None
    if lang != "sql":
        raise ValueError(
            f"CREATE FUNCTION {fname}: LANGUAGE {tm.group(3)} "
            "unsupported — scalar SQL UDFs inline, "
            "plpythonu registers as an Arrow-batched "
            "pandas UDF; nothing else exists in Redshift"
        )
    body = tm.group(2).strip().rstrip(";").strip()
    body = re.sub(r"(?is)^SELECT\s+", "", body)
    if state.py_funcs.pop(fname, None) is not None:
        # replaced ACROSS languages: calls now inline,
        # but tombstone the Spark registration so a
        # later DROP + call can't resolve the stale
        # Python body through the registry
        _register_py_udf_tombstone(state.spark, fname)
    state.funcs[fname] = (
        _parse_func_params(raw[m.end() : sig_end - 1]),
        body,
    )
    return None


def _exec_drop_func(state: _ScriptState, scope: dict | None, m: re.Match, raw: str) -> None:
    dname = m.group(2).lower()
    if dname in state.py_funcs:
        state.py_funcs.pop(dname)
        _register_py_udf_tombstone(state.spark, dname)
    elif dname in state.funcs or m.group(1) is not None:
        state.funcs.pop(dname, None)
    else:
        raise ValueError(f"DROP FUNCTION: no SQL UDF {m.group(2)!r}")


def _inline_udfs(state: _ScriptState, scope: dict | None, m: re.Match, raw: str) -> str:
    return _inline_sql_udfs(raw, state.funcs) if state.funcs else raw


# Stored procedures are matched on the RAW statement — the
# dialect front-end must not rewrite a $$ body at define
# time (each body statement is rewritten when it RUNS).
def _exec_create_proc(state: _ScriptState, scope: dict | None, m: re.Match, raw: str) -> None:
    sig_end = _scan_balanced(raw, m.end())
    tm = _CREATE_PROC_TAIL.match(raw[sig_end:])
    if tm is None:
        raise ValueError(
            f"CREATE PROCEDURE {m.group(1)}: expected "
            "AS $$ ... $$ LANGUAGE plpgsql"
        )
    params = _parse_proc_params(raw[m.end() : sig_end - 1])
    body = tm.group(1).strip()
    bm = re.match(
        r"(?is)^(?:DECLARE\b(.*?))?\s*BEGIN\b(.*?)\bEND\s*;?\s*$", body
    )
    if bm is None:
        raise ValueError(
            f"CREATE PROCEDURE {m.group(1)}: body must be one "
            "[DECLARE ...] BEGIN ... END block"
        )
    decls = _parse_proc_decls(bm.group(1) or "", m.group(1))
    body = bm.group(2)
    block = f"BEGIN {body} END"
    if _parse_begin_block(block, _mask_quoted(block), 0)[0].handler is not None:
        # the common real-proc form puts the EXCEPTION
        # section on the procedure's own outer block
        # (stripped above) — keep it wrapped so the whole
        # body parses as one guarded BEGIN...EXCEPTION...END
        body = block
    _parse_plpgsql_nodes(body)  # surface block-structure errors at define time
    state.procs[m.group(1)] = (params, decls, body)


def _exec_drop_proc(state: _ScriptState, scope: dict | None, m: re.Match, raw: str) -> None:
    if m.group(2) not in state.procs and m.group(1) is None:
        raise ValueError(f"DROP PROCEDURE: no procedure {m.group(2)!r}")
    state.procs.pop(m.group(2), None)


def _exec_call(state: _ScriptState, scope: dict | None, m: re.Match, raw: str) -> None:
    name = m.group(1)
    if name not in state.procs:
        raise ValueError(f"CALL: no procedure {name!r} defined in this script")
    state.n_calls += 1
    if state.n_calls > 256:
        # a self-CALLing procedure has no terminating
        # condition in the straight-line subset — without a
        # cap the worklist loops forever
        raise ValueError(
            "CALL: more than 256 procedure expansions in one "
            "script (recursive CALL?)"
        )
    params, decls, body = state.procs[name]
    args = [a for a in _split_args(m.group(2)) if a]
    if len(args) != len(params):
        raise ValueError(
            f"CALL {name}: expected {len(params)} argument(s) "
            f"({', '.join(p[0] for p in params)}), got {len(args)}"
        )
    caller_scope = scope  # the _Scoped wrapper's scope (or None)
    # a CALL expanded from inside another CALL still has
    # that CALL's end-marker queued — nested per Redshift
    nested_call = any(isinstance(_unwrap(x)[0], _CallEnd) for x in state.pending)
    scope = {}
    inout: list[tuple[str, str]] = []
    writebacks: list[tuple[dict, str, str]] = []
    binds: dict[str, str] = {}
    for (pname, pmode, ptyp), a in zip(params, args):
        if pmode == "INOUT":
            # INOUT: a scoped variable initialized
            # from the CALL argument (evaluated NOW, in
            # the CALLER's scope); the top-level CALL
            # returns its final value, a nested CALL
            # writes it back into the caller's variable
            # (plpgsql's by-reference contract)
            inout.append((pname.lower(), ptyp))
            a_var = a.strip().lower()
            if (
                caller_scope is not None
                and a_var in caller_scope
                and caller_scope[a_var][0] != "CURSOR"
            ):
                init = caller_scope[a_var][1]
                writebacks.append((caller_scope, a_var, pname.lower()))
            elif caller_scope is not None:
                # plpgsql: a writable argument in a
                # procedure-context CALL must be a
                # variable (the result has nowhere to go)
                raise ValueError(
                    f"CALL {name}: INOUT argument {pname!r} "
                    f"must be a declared variable inside a "
                    f"procedure, got expression {a[:40]!r}"
                )
            else:
                init = _eval_script_scalar(state, None, a, ptyp)
            scope[pname.lower()] = [ptyp, init]
            continue
        # an IN param binds as the argument's text (plpgsql
        # substitutes params lexically) — into the body AND
        # into DECLARE defaults; caller variables in the
        # argument render as typed literals HERE (the
        # statement-level pass skips CALL so INOUT variable
        # names survive above)
        binds[pname] = _subst_vars(caller_scope, a)
    body = _bind(body, binds)
    # DECLAREd variables: defaults evaluate at block entry,
    # in order (a later default may reference an earlier var)
    for vname, vtyp, vdefault in decls:
        vdefault = vdefault and _bind(vdefault, binds)
        if vtyp == "CURSOR":
            # query text (param-substituted above) binds
            # variable values at OPEN, not here
            scope[vname] = [vtyp, _Cursor(vdefault)]
            continue
        value = (
            None
            if vdefault is None
            else _eval_script_scalar(state, scope, vdefault, vtyp)
        )
        scope[vname] = [vtyp, value]
    if "found" not in scope and (
        any(t == "CURSOR" for t, _v in scope.values())
        or re.search(
            r"(?i)(?:^|[^\w$])(?:PERFORM|FOUND)(?:[^\w$]|$)",
            _mask_quoted(body),
        )
    ):
        # plpgsql's FOUND, maintained by FETCH, PERFORM,
        # SELECT INTO, query-FOR exit, and
        # INSERT/UPDATE/DELETE (EXECUTE never sets it,
        # per plpgsql). Auto-declared only when a
        # cursor exists or the body MENTIONS found/
        # PERFORM, to bound the name-capture blast
        # radius plpgsql variables inherently carry:
        # real plpgsql reserves FOUND in every function
        # body, so a column literally named `found`
        # inside one is already hazardous there — but a
        # body that never says `found` costs nothing
        # here. Initialized FALSE per call, plpgsql's
        # own start state.
        #
        # variable_conflict guard: once FOUND
        # is live, _subst_vars rewrites every bare `found`
        # token — a body that ALSO uses `found` as a
        # relation column would get that column reference
        # silently replaced by a boolean literal. Real
        # plpgsql (variable_conflict=error) raises an
        # ambiguity error instead; detect the two cheap
        # reliable column spellings — a CREATE-list
        # `(..., found <type> ...)` declaration and an
        # `AS found` alias — and refuse loudly.
        _masked_body = _mask_quoted(body)
        if re.search(
            r"(?i)[(,]\s*found\s+(?:BOOL|BOOLEAN|SMALLINT|"
            r"INT|INTEGER|BIGINT|VARCHAR|CHAR|TEXT|REAL|"
            r"DOUBLE|FLOAT|DECIMAL|NUMERIC|DATE|TIME)",
            _masked_body,
        ) or re.search(r"(?i)\bAS\s+found(?![\w$])", _masked_body):
            raise ValueError(
                f"CALL {name}: the body declares or aliases "
                "a column literally named `found` while "
                "plpgsql's FOUND variable is in effect — "
                "ambiguous reference (plpgsql "
                "variable_conflict=error); rename the column"
            )
        scope["found"] = ["BOOLEAN", False]
    # the _CallEnd marker is RETURN's unwind target; carries the INOUT spec
    _push_body(state, body, scope, _CallEnd(inout, scope, nested_call, writebacks))


def _exec_raise(state: _ScriptState, scope: dict | None, m: re.Match, raw: str) -> None:
    m = _RAISE.match(raw)
    if m is None:
        raise ValueError(f"RAISE: unsupported form {raw[:60]!r}")
    level = (m.group(1) or "EXCEPTION").upper()
    if level == "EXCEPTION":
        args = [a for a in _split_args(m.group(3) or "") if a]
        vals = [
            str(_eval_script_scalar(state, None, a, "STRING"))
            for a in args
        ]
        raise RuntimeError(
            "RAISE EXCEPTION: "
            + _format_raise_message(
                m.group(2).replace("''", "'"), vals
            )
        )
    # NOTICE/INFO/WARNING/LOG/DEBUG: log-only, no-op


# COPY/UNLOAD carry path literals and option clauses the SQL
# rewriter must not touch — matched on the RAW statement;
# only UNLOAD's inner query goes through the front-end.
def _copy_read(
    state: _ScriptState, src: str | list[str], schema, opts: dict
) -> tuple[DataFrame, DataFrame | None]:
    """Read a COPY source under the target's declared schema (never
    inferSchema). Returns the rows and, for a MAXERROR load, the skipped
    raw lines (else None)."""
    from sql_redshift_etl_spark.functions.dialect import translate_datetime_format
    from sql_redshift_etl_spark.sources import readers

    spark, fmt, budget = state.spark, opts["format"], opts["maxerror"]
    if fmt == "FIXEDWIDTH":
        loaded = readers.read_fixed_width(
            spark, src, schema, opts["fixedwidth"], null_value=opts["null_as"]
        )
        return loaded, None
    if fmt == "PARQUET":
        return spark.read.schema(schema).parquet(*([src] if isinstance(src, str) else src)), None
    if opts["jsonpaths"]:
        loaded = readers.read_json_with_paths(
            spark, src, schema, opts["jsonpaths"], max_error=budget, caches=state.budget_caches
        )
        return loaded if budget is not None else (loaded, None)
    text: dict = {}
    if fmt != "JSON":
        if (opts["timefmt"] or "").lower() in _EPOCH:
            # epoch ints load as BIGINT; _copy_convert makes them timestamps
            schema = T.StructType([
                T.StructField(f.name, T.LongType(), f.nullable)
                if isinstance(f.dataType, T.TimestampType) else f
                for f in schema.fields
            ])
        text = {
            key: translate_datetime_format(opts[opt])
            for key, opt in (("date_format", "datefmt"), ("timestamp_format", "timefmt"))
            if opts[opt] is not None and opts[opt].lower() not in _EPOCH
        }
        text.update(
            header=opts["skip"] > 0,
            delimiter=opts["delimiter"] or ("," if fmt == "CSV" else "|"),
            null_value=opts["null_as"],
            quote=opts["quotechar"],
        )
    if budget is not None:
        return readers.read_with_error_budget(
            spark, src, schema, fmt, max_error=budget, caches=state.budget_caches, **text
        )
    if fmt == "JSON":
        return readers.read_json_lines(spark, src, schema), None
    return readers.read_csv(spark, src, schema, **text), None


_CONVERSIONS = ("removequotes", "invchar", "trimblanks", "blanksasnull", "emptyasnull", "ignoreblank")


def _copy_convert(loaded: DataFrame, schema, opts: dict) -> DataFrame:
    """COPY's conversions after the read: epoch TIMEFORMAT columns become
    timestamps, then Redshift's data-conversion parameters apply to the
    parsed string columns, before the positional cast to the target."""
    epoch = _EPOCH.get((opts["timefmt"] or "").lower())
    if epoch is not None:
        for f in schema.fields:
            if isinstance(f.dataType, T.TimestampType):
                loaded = loaded.withColumn(f.name, epoch(F.col(f.name)))
    if not any(opts[k] for k in _CONVERSIONS):
        return loaded
    for f in loaded.schema.fields:
        if not isinstance(f.dataType, T.StringType):
            continue
        col = F.col(f.name)
        if opts["removequotes"]:
            # strip ONE pair of matching surrounding quotes (" or ');
            # unmatched quotes stay
            col = F.regexp_replace(col, "^([\"'])(.*)\\1$", "$2")
        if opts["invchar"] is not None:
            col = F.regexp_replace(col, "�", opts["invchar"])
        if opts["trimblanks"]:
            col = F.rtrim(col)
        if opts["blanksasnull"]:
            col = F.when(F.trim(col) == "", F.lit(None)).otherwise(col)
        elif opts["emptyasnull"]:
            col = F.when(col == "", F.lit(None)).otherwise(col)
        loaded = loaded.withColumn(f.name, col)
    if opts["ignoreblank"]:
        # a blank input line parses as an all-null row
        import functools
        import operator

        loaded = loaded.filter(
            ~functools.reduce(operator.and_, [F.col(c).isNull() for c in loaded.columns])
        )
    return loaded


def _exec_copy(state: _ScriptState, scope: dict | None, m: re.Match, raw: str) -> None:
    name, path, clause = m.group(1), m.group(2), m.group(3)
    opts = _parse_io_options(clause, "COPY")
    base = state.existing(name)
    src: str | list[str] = path
    if opts["manifest"]:
        # the path IS a manifest file: load exactly its listed files
        # (a missing mandatory file raises before any read)
        from sql_redshift_etl_spark.sources.writers import read_manifest_paths

        src = read_manifest_paths(path)
        if not src:
            # A zero-row UNLOAD writes a manifest with no entries, and
            # Redshift's COPY of it loads zero rows; Spark's readers
            # throw on an empty path list, so the target stays as it is.
            state.bind(name, base)
            return
    loaded, bad = _copy_read(state, src, base.schema, opts)
    if bad is not None:
        # the STL_LOAD_ERRORS analog: skipped raw records accumulate in
        # a queryable script-scoped table
        errs = bad.select(F.lit(name).alias("tbl"), "raw_line")
        if "stl_load_errors" in state.tables:
            errs = state.tables["stl_load_errors"].unionAll(errs)
        state.bind("stl_load_errors", errs)
    loaded = _copy_convert(loaded, base.schema, opts)
    state.bind(name, base.unionAll(_cast_positional(loaded, base, name)))


def _split_by_size(df: DataFrame, opts: dict) -> DataFrame:
    """UNLOAD MAXFILESIZE: repartition to ceil(estimated bytes / cap).
    The estimate is a JSON-rendered row-size average over a 10k sample ×
    the row count — approximate, like Redshift's own "approximately";
    compression shrinks files below the cap, and no file exceeds it by
    more than one task's skew."""
    import math

    avg_row = (
        df.limit(10_000)
        .select(F.avg(F.length(F.to_json(F.struct(*df.columns)))).alias("b"))
        .first()["b"]
    )
    if not avg_row:  # empty result: leave partitioning alone
        return df
    n_files = max(1, math.ceil(df.count() * avg_row / opts["maxfilesize"]))
    return df.repartition(n_files, *opts["partition_by"])


def _exec_unload(state: _ScriptState, scope: dict | None, m: re.Match, raw: str) -> None:
    inner, path, clause = m.group(1), m.group(2), m.group(3)
    opts = _parse_io_options(clause, "UNLOAD")
    # the inner query sat inside UNLOAD's single quotes, so the
    # statement-level schema flattening and SQL-UDF inlining skipped it
    # (they are literal-masked) — apply both to the unescaped text
    # before translation
    inner_sql = inner.replace("''", "'")
    for s in state.schemas:
        inner_sql = _sub_outside_quotes(
            inner_sql, rf"(?i)\b{re.escape(s)}\s*\.\s*(\w+)", rf"{s}__\1"
        )
    if state.funcs:
        inner_sql = _inline_sql_udfs(inner_sql, state.funcs)
    df = state.spark.sql(translate_redshift_sql(inner_sql).strip())
    if opts["maxfilesize"] is not None:
        df = _split_by_size(df, opts)
    if not opts["parallel"]:
        df = df.coalesce(1)  # PARALLEL OFF = single output file
    # without ALLOWOVERWRITE an existing prefix errors, as in Redshift;
    # CLEANPATH's delete-then-write is the same observable result
    overwrite = opts["overwrite"] or opts["cleanpath"]
    writer = df.write.mode("overwrite" if overwrite else "errorifexists")
    if opts["partition_by"]:
        writer = writer.partitionBy(*opts["partition_by"])
    if opts["codec"]:
        writer = writer.option("compression", opts["codec"])
    fmt = opts["format"]
    if fmt == "PARQUET":
        writer.parquet(path)
    elif fmt == "JSON":
        writer.json(path)
    else:
        if opts["null_as"] is not None:
            writer = writer.option("nullValue", opts["null_as"])
        if opts["addquotes"]:
            # every field quoted (the REMOVEQUOTES round-trip partner)
            writer = writer.option("quoteAll", True)
        writer.option("header", opts["header"]).option(
            "delimiter", opts["delimiter"] or ("," if fmt == "CSV" else "|")
        ).csv(path)
    if opts["manifest"]:
        from sql_redshift_etl_spark.sources.writers import write_manifest

        write_manifest(path)


def _translate_stmt(state: _ScriptState, scope: dict | None, m: re.Match, raw: str) -> str:
    stmt = translate_redshift_sql(raw).strip()
    # every engine-executed statement resets ROW_COUNT (as in
    # plpgsql); the DML handlers below re-set it. plpgsql-side
    # statements (assignments, RAISE, control flow) do not.
    state.last_dml = None
    return stmt


# Explicit transactions (r6): BEGIN snapshots the script
# state, COMMIT/END discards the snapshot, ROLLBACK/ABORT
# restores it — a real rollback, not the silent keep-changes
# no-op it was (module policy: no silent contract changes).
_TXN = re.compile(
    r"(?i)^(BEGIN|START|COMMIT|END|ROLLBACK|ABORT)\b"
    r"(?:\s+(?:WORK|TRANSACTION))?\s*$"
)


def _exec_txn(state: _ScriptState, scope: dict | None, m: re.Match, stmt: str) -> None:
    kw = m.group(1).upper()
    if kw in ("BEGIN", "START"):
        state.txn_begin()
    elif kw in ("COMMIT", "END"):
        state.txn_commit()
    else:
        state.txn_rollback()


_ALTER_OWNER = re.compile(r"(?i)^ALTER\s+TABLE\s+([\w.]+)\s+OWNER\s+TO\s+\S+\s*$")
# account/ACL DDL: no Spark analog — accepted no-ops,
# the same class as GRANT/REVOKE
_ACCOUNT_DDL = re.compile(r"(?i)^(?:CREATE|ALTER|DROP)\s+(?:USER|GROUP|ROLE)\b")


def _exec_alter_owner(state: _ScriptState, scope: dict | None, m: re.Match, stmt: str) -> None:
    state.existing(m.group(1))  # must exist (loud); ownership has no analog


def _skip(state: _ScriptState, scope: dict | None, m: re.Match, stmt: str) -> None:
    """Accepted no-op statements."""


def _exec_create_external(
    state: _ScriptState, scope: dict | None, m: re.Match, stmt: str
) -> str | None:
    cols_end = _scan_balanced(stmt, m.end())
    tm = _CREATE_EXTERNAL_TAIL.match(stmt[cols_end:]) if cols_end else None
    if tm is None:
        return stmt
    spark = state.spark
    name = m.group(1)
    cols = stmt[m.end() : cols_end - 1]
    part_cols, delim, stored, loc = tm.groups()
    if stored.upper() == "PARQUET":
        reader = spark.read.option("basePath", loc)
        # parquet is self-describing; the declared column
        # list is validated against the files below, and
        # hive PARTITIONED BY columns come from the
        # directory layout (Spark partition discovery).
        try:
            ext = reader.parquet(loc)
        except Exception as e:
            if "UNABLE_TO_INFER_SCHEMA" not in str(e):
                raise
            # empty prefix (e.g. a zero-row UNLOAD): the
            # external is an EMPTY table with the DECLARED
            # schema — Redshift's behavior; crashing would
            # make empty upstream slices fatal.
            full = cols + ("," + part_cols if part_cols else "")
            state.bind(name, empty_frame(spark, _ddl_schema(full)))
            return
        declared_fields = list(_ddl_schema(cols).fields) + (
            list(_ddl_schema(part_cols).fields) if part_cols else []
        )
        resolved = [_target_col(ext, f.name, None) for f in declared_fields]
        missing = [f.name.lower() for f, c in zip(declared_fields, resolved) if c is None]
        if missing:
            raise ValueError(
                f"CREATE EXTERNAL TABLE {name}: declared columns {missing} not "
                f"present at {loc} (files have {[c.lower() for c in ext.columns]})"
            )
        # Bind the DECLARED schema, not the file schema:
        # exactly the declared (+ partition) columns, each
        # cast to its declared type — Spectrum's contract.
        # Undeclared file columns are invisible to SELECT *.
        ext = ext.select(
            *[F.col(c).cast(f.dataType).alias(f.name) for f, c in zip(declared_fields, resolved)]
        )
    else:
        if part_cols:
            raise ValueError(
                "CREATE EXTERNAL TABLE ... TEXTFILE with PARTITIONED "
                "BY is not supported; use PARQUET for partitioned "
                "externals"
            )
        from sql_redshift_etl_spark.sources.readers import read_csv

        # read schemas reject char/varchar — lower to string,
        # the same rule the CREATE TABLE DDL branch applies
        ext = read_csv(
            spark,
            loc,
            _ddl_schema(cols),
            header=False,
            delimiter=delim or "|",
        )
    state.bind(name, ext)


def _exec_create_like(state: _ScriptState, scope: dict | None, m: re.Match, stmt: str) -> None:
    # CREATE TABLE new (LIKE other): empty table with other's
    # schema — the first half of Redshift's rebuild-and-swap
    # publish idiom. (Checked before CTAS/DDL: its "(LIKE x)"
    # body would otherwise parse as a column list.) Identity
    # attributes inherit, as in Redshift's LIKE; defaults only under
    # INCLUDING DEFAULTS (EXCLUDING is the default).
    state.drop_meta(m.group(1))  # rebind clears
    including = (m.group(3) or "").upper() == "INCLUDING"
    fills = {
        c: v
        for c, v in state.fills.get(m.group(2), {}).items()
        if including or isinstance(v, int)
    }
    if fills:
        state.fills[m.group(1)] = fills
    state.bind(m.group(1), state.existing(m.group(2)).limit(0))


def _exec_alter_rename(state: _ScriptState, scope: dict | None, m: re.Match, stmt: str) -> None:
    # ALTER TABLE a RENAME TO b: the atomic-swap publish step.
    # The resolved DataFrame moves to the new name; the old
    # name is dropped from script scope (a caller-registered
    # view of the old name is restored by cleanup only if a
    # script statement had already shadowed it — same scope
    # rule as DROP TABLE).
    old, new = m.group(1), m.group(2)
    df = state.existing(old)
    state.spark.catalog.dropTempView(old)
    state.tables.pop(old, None)
    state.created_views.discard(old)
    state.drop_meta(new)  # overwritten target's dies
    if old in state.fills:
        state.fills[new] = state.fills.pop(old)
    state.bind(new, df)


def _exec_alter_append(state: _ScriptState, scope: dict | None, m: re.Match, stmt: str) -> None:
    # ALTER TABLE tgt APPEND FROM src: Redshift's move-rows
    # publish (faster than INSERT+DELETE because it moves
    # blocks). Here: append src's rows positionally-cast to
    # the target schema, then empty src — same observable
    # state. IGNOREEXTRA/FILLTARGET accepted; the positional
    # cast already errors loudly on a width mismatch.
    tgt, src_name = m.group(1), m.group(2)
    base = state.existing(tgt)
    src_df = state.existing(src_name)
    state.bind(tgt, base.unionAll(_cast_positional(src_df, base, tgt)))
    state.bind(src_name, src_df.limit(0))


def _exec_alter_col_type(state: _ScriptState, scope: dict | None, m: re.Match, stmt: str) -> None:
    # ALTER COLUMN c TYPE t (Redshift's varchar-resize /
    # type-migration op): cast in place, keeping position
    name, col, typ = m.groups()
    base = state.existing(name)
    c0 = _target_col(base, col, f"ALTER TABLE {name}: no column to alter")
    dt = _ddl_schema(f"x {typ}").fields[0].dataType
    state.bind(
        name,
        base.select(
            *[
                F.col(c).cast(dt).alias(c) if c == c0 else F.col(c)
                for c in base.columns
            ]
        ),
    )


def _exec_alter_add_col(state: _ScriptState, scope: dict | None, m: re.Match, stmt: str) -> None:
    # ALTER TABLE t ADD COLUMN c type [DEFAULT lit]: existing
    # rows take the default (NULL absent one) — Redshift's
    # backfill. char/varchar lower to string as in CREATE.
    name, col, typ, default = m.groups()
    base = state.existing(name)
    if _target_col(base, col, None) is not None:
        raise ValueError(f"ALTER TABLE {name}: column {col!r} already exists")
    dt = _ddl_schema(f"x {typ}").fields[0].dataType
    val = F.expr(default).cast(dt) if default else F.lit(None).cast(dt)
    if default:
        # future INSERTs omitting the column also take the
        # default, not just the backfill of existing rows
        state.fills.setdefault(name, {})[col] = default
    state.bind(name, base.withColumn(col, val))


def _exec_alter_drop_col(state: _ScriptState, scope: dict | None, m: re.Match, stmt: str) -> None:
    name, col = m.groups()
    base = state.existing(name)
    c0 = _target_col(base, col, f"ALTER TABLE {name}: no column to drop")
    state.bind(name, base.drop(c0))
    # its identity generator or default dies with it
    state.fills.get(name, {}).pop(c0, None)


def _exec_alter_rename_col(
    state: _ScriptState, scope: dict | None, m: re.Match, stmt: str
) -> None:
    name, old_c, new_c = m.groups()
    base = state.existing(name)
    c0 = _target_col(base, old_c, f"ALTER TABLE {name}: no column to rename")
    state.bind(name, base.withColumnRenamed(c0, new_c))
    fills = state.fills.get(name, {})
    if c0 in fills:
        fills[new_c] = fills.pop(c0)


def _exec_ctas_cols(state: _ScriptState, scope: dict | None, m: re.Match, stmt: str) -> None:
    # CREATE TABLE t (a, b) AS SELECT: positional rename
    name, cols, query = m.groups()
    names = [c.strip() for c in cols.split(",")]
    df = state.spark.sql(query)
    if len(names) != len(df.columns):
        raise ValueError(
            f"CREATE TABLE {name}: column list has {len(names)} "
            f"names, query returns {len(df.columns)} columns"
        )
    state.drop_meta(name)
    state.bind(name, df.toDF(*names))


def _exec_ctas(state: _ScriptState, scope: dict | None, m: re.Match, stmt: str) -> None:
    # CREATE TABLE ... AS and CREATE VIEW ... AS
    state.drop_meta(m.group(1))  # rebind clears
    state.bind(m.group(1), state.spark.sql(m.group(2)))


def _exec_create_mv(state: _ScriptState, scope: dict | None, m: re.Match, stmt: str) -> None:
    state.drop_meta(m.group(1))
    state.mv_defs[m.group(1)] = m.group(2)
    state.bind(m.group(1), state.spark.sql(m.group(2)))


def _exec_refresh_mv(state: _ScriptState, scope: dict | None, m: re.Match, stmt: str) -> None:
    if m.group(1) not in state.mv_defs:
        raise ValueError(
            f"REFRESH MATERIALIZED VIEW: {m.group(1)!r} is not a "
            "materialized view created by this script"
        )
    # re-run the defining query against current bindings —
    # Redshift's stale-until-REFRESH contract
    state.bind(m.group(1), state.spark.sql(state.mv_defs[m.group(1)]))


def _exec_create_ddl(state: _ScriptState, scope: dict | None, m: re.Match, stmt: str) -> None:
    # Spark parses DDL-format schemas ("a BIGINT, b
    # VARCHAR(32)") directly — Redshift storage clauses were
    # already stripped by the front-end. CHAR/VARCHAR lower
    # to plain STRING (_ddl_schema). DEFAULT and
    # IDENTITY(seed, step) attributes are recorded as the
    # columns' fills and stripped (fromDDL cannot parse them).
    ddl_body = _normalize_ddl_types(m.group(2))
    state.drop_meta(m.group(1))  # rebind clears
    fills: dict[str, int | str] = {c: lit for c, _typ, lit in _DEFAULT_ATTR.findall(ddl_body)}
    ddl_body = _DEFAULT_ATTR.sub(r"\1 \2", ddl_body)
    fills.update(
        (c, int(seed)) for c, _typ, seed, _step in _IDENTITY_ATTR.findall(ddl_body)
    )
    ddl_body = _IDENTITY_ATTR.sub(r"\1 \2", ddl_body)
    if fills:
        state.fills[m.group(1)] = fills
    state.bind(m.group(1), empty_frame(state.spark, _ddl_schema(ddl_body)))


def _insert_rows(
    state: _ScriptState,
    scope: dict | None,
    name: str,
    base: DataFrame,
    sel: DataFrame,
    listed: list[str] | None,
) -> None:
    """Append *sel* to *name* (bound to *base*): positionally with a
    per-column cast, or into the *listed* columns, every other column
    taking its fill (_fill_unlisted). Each projection is aliased to its
    target column: several unlisted columns would otherwise all be
    named `NULL` and break the positional re-select."""
    pin = False
    if listed is not None:
        if len(listed) != len(sel.columns):
            raise ValueError(
                f"INSERT INTO {name}: column list has {len(listed)} "
                f"names, query returns {len(sel.columns)} columns"
            )
        by_name = {
            _target_col(base, c, f"INSERT INTO {name}: unknown columns"): src
            for c, src in zip(listed, sel.columns)
        }
        cols = []
        for f in base.schema.fields:
            if f.name in by_name:
                cols.append(F.col(by_name[f.name]).alias(f.name))
                continue
            val, p = _fill_unlisted(state, name, base, f)
            pin |= p
            cols.append(val.alias(f.name))
        sel = sel.select(*cols)
    delta = _cast_positional(sel, base, name)
    _commit_dml(state, scope, name, base.unionAll(delta), delta, pin)


def _exec_insert_defaults(state: _ScriptState, scope: dict | None, m: re.Match, stmt: str) -> None:
    # INSERT INTO t DEFAULT VALUES: a column-list INSERT of one row that
    # lists no column. One partition, so a BIGINT identity's first id is
    # exactly its start.
    base = state.existing(m.group(1))
    one_row = state.spark.range(1, numPartitions=1).select()
    _insert_rows(state, scope, m.group(1), base, one_row, [])


def _exec_insert(state: _ScriptState, scope: dict | None, m: re.Match, stmt: str) -> None:
    name, cols, query = m.group(1), m.group(2), m.group(3)
    base = state.existing(name)
    listed = [c.strip() for c in cols.split(",")] if cols else None
    _insert_rows(state, scope, name, base, state.spark.sql(query), listed)


def _exec_merge(state: _ScriptState, scope: dict | None, m: re.Match, stmt: str) -> None:
    tgt_name, tgt_alias = m.group(1), m.group(2) or m.group(1)
    _lower_merge(state, tgt_name, tgt_alias, _parse_merge(tgt_name, tgt_alias, m.group(3)))


def _exec_delete(state: _ScriptState, scope: dict | None, m: re.Match, stmt: str) -> None:
    spark = state.spark
    name, rest = m.group(1), m.group(2)
    base = state.existing(name)  # must exist (loud failure)
    if rest is None:
        _commit_dml(state, scope, name, base.limit(0), base)  # all rows deleted
    elif um := re.match(r"(?is)^USING\s+(.+)$", rest):
        # DELETE FROM t USING s [, s2] WHERE cond: the
        # join-based delete (retention/dedup jobs). A row is
        # deleted when ANY source row satisfies cond —
        # exactly NOT EXISTS for the survivors, which Spark
        # plans as a left-anti join.
        using, where = _split_top_kw(um.group(1), "WHERE")
        if where is None:
            raise ValueError(
                f"DELETE FROM {name} USING requires a WHERE join "
                "condition (an unconditioned delete-all is spelled "
                "without USING)"
            )
        exists = f"EXISTS (SELECT 1 FROM {using} WHERE {where})"
        deleted = spark.sql(f"SELECT {name}.* FROM {name} WHERE {exists}")
        kept = spark.sql(f"SELECT {name}.* FROM {name} WHERE NOT {exists}")
        _commit_dml(state, scope, name, kept, deleted)
    elif wm := re.match(r"(?is)^WHERE\s+(.+)$", rest):
        # DELETE removes rows where cond IS TRUE; NULL-cond
        # rows are kept. Through spark.sql so IN/EXISTS
        # subqueries in the predicate resolve.
        hit = f"coalesce(({wm.group(1)}), false)"
        deleted = spark.sql(f"SELECT * FROM {name} WHERE {hit}")
        kept = spark.sql(f"SELECT * FROM {name} WHERE NOT {hit}")
        _commit_dml(state, scope, name, kept, deleted)
    else:
        raise ValueError(
            f"DELETE FROM {name}: expected WHERE or USING, got {rest[:40]!r}"
        )


def _exec_update(state: _ScriptState, scope: dict | None, m: re.Match, stmt: str) -> None:
    spark = state.spark
    name, rest = m.group(1), m.group(2)
    sets_from, cond = _split_top_kw(rest, "WHERE")
    sets, from_text = _split_top_kw(sets_from, "FROM")
    base = state.existing(name)
    assigned = {
        _target_col(base, c, f"UPDATE {name}: unknown columns"): e
        for c, e in _split_assignments(sets)
    }
    if from_text:
        # UPDATE t SET ... FROM s [, s2] WHERE cond — the
        # join-based update every Redshift ETL uses. Semantics
        # matched exactly: each TARGET row updates AT MOST
        # ONCE even when the join matches several source rows
        # (_one_per_key picks by the new values). Implemented
        # with a synthetic rowid: localCheckpoint pins the ids
        # so the match join and the final left join see the
        # SAME rows — without it a nondeterministic base (e.g.
        # IDENTITY inserts) could re-evaluate differently per use.
        if cond is None:
            raise ValueError(
                f"UPDATE {name} ... FROM requires a WHERE join condition "
                "(an unconditioned cross-table update is almost never meant)"
            )
        rid = base.withColumn(
            "__rid", F.monotonically_increasing_id()
        ).localCheckpoint(eager=True)
        state.bind(name, rid)
        new_cols = ", ".join(
            f"({e}) AS __new_{c}" for c, e in assigned.items()
        )
        matched = spark.sql(
            f"SELECT {name}.__rid AS __rid, {new_cols} "
            f"FROM {name}, {from_text} WHERE {cond}"
        )
        one = _one_per_key(matched, ["__rid"], [f"__new_{c}" for c in assigned])
        one = one.withColumn("__m", F.lit(True))
        joined = rid.join(one, "__rid", "left")
        proj = [
            (
                F.when(
                    F.col("__m"),
                    F.col(f"__new_{f.name}").cast(f.dataType),
                )
                .otherwise(F.col(f.name))
                .alias(f.name)
                if f.name in assigned
                else F.col(f.name)
            )
            for f in base.schema.fields
        ]
        _commit_dml(state, scope, name, joined.select(*proj), one.select("__rid"))
        return
    hit = f"coalesce(({cond or 'true'}), false)"
    updated = spark.sql(f"SELECT 1 AS __one FROM {name} WHERE {hit}")
    proj = []
    for f in base.schema.fields:
        if f.name in assigned:
            proj.append(
                f"CASE WHEN {hit} "
                f"THEN CAST(({assigned[f.name]}) AS {f.dataType.simpleString()}) "
                f"ELSE {f.name} END AS {f.name}"
            )
        else:
            proj.append(f.name)
    _commit_dml(state, scope, name, spark.sql(f"SELECT {', '.join(proj)} FROM {name}"), updated)


def _exec_truncate(state: _ScriptState, scope: dict | None, m: re.Match, stmt: str) -> None:
    state.last_dml = state.existing(m.group(1))
    state.bind(m.group(1), state.existing(m.group(1)).limit(0))


def _exec_drop(state: _ScriptState, scope: dict | None, m: re.Match, stmt: str) -> None:
    for name in (n.strip() for n in m.group(1).split(",")):
        state.spark.catalog.dropTempView(name)
        state.tables.pop(name, None)
        state.created_views.discard(name)
        # DDL attributes (IDENTITY/DEFAULT) die with the table
        # — a later CREATE of the same name without them must
        # insert NULLs, not resurrect the old behavior
        state.drop_meta(name)
        state.mv_defs.pop(name, None)


# warehouse session knobs (enable_result_cache_for_
# session, wlm_query_slot_count, statement_timeout, ...)
# have no Spark analog — accepted no-ops, EXCEPT
# search_path, which changes name resolution: resolved
# read-side against declared schemas (_apply_search_path).
_SET = re.compile(r"(?is)^SET\s+(\w+)\s*(?:=|TO)\s+(\S.*)$")
# EXPLAIN/SHOW pass straight to Spark; the plan/setting
# text is engine-specific by nature
_EXPLAIN = re.compile(r"(?is)^(?:EXPLAIN|SHOW)\b")


def _exec_set(state: _ScriptState, scope: dict | None, m: re.Match, stmt: str) -> None:
    if m.group(1).lower() == "search_path":
        names = [
            p.strip().strip("'\"").lower()
            for p in m.group(2).split(",")
            if p.strip()
        ]
        # '$user' and 'public' are Redshift's defaults; other
        # undeclared names would silently resolve nothing —
        # loud, not ignored (module policy)
        unknown = [
            s
            for s in names
            if s not in state.schemas and s not in ("$user", "public")
        ]
        if unknown:
            raise ValueError(
                f"SET search_path: undeclared schema(s) "
                f"{', '.join(unknown)} — CREATE SCHEMA first"
            )
        state.search_path = [s for s in names if s in state.schemas]


def _exec_explain(state: _ScriptState, scope: dict | None, m: re.Match, stmt: str) -> None:
    state.result = state.spark.sql(stmt)


def _exec_query(state: _ScriptState, scope: dict | None, m: re.Match, stmt: str) -> None:
    # SELECT ... INTO name FROM ... (Redshift's SELECT INTO,
    # the one-line CTAS): bind the projection to the name.
    # Top-level split only — an INTO inside a subquery or
    # string stays content.
    if stmt[:6].upper() == "SELECT":
        head, tail = _split_top_kw(stmt, "INTO")
        if tail is not None:
            if re.match(r"(?is)^\s*STRICT\b", tail):
                # STRICT only exists in the plpgsql
                # variable form — reaching the CTAS path
                # means the INTO names are not declared
                # variables (or STRICT appeared outside a
                # procedure body). Loud, never a table
                # named 'strict'.
                raise ValueError(
                    "SELECT INTO STRICT: every INTO name "
                    "must be a declared variable (STRICT "
                    "exists only in the plpgsql variable "
                    "form)"
                )
            tm = re.match(r"(?is)^(?:TEMP(?:ORARY)?\s+)?([\w.]+)\s+(FROM\b.*)$", tail)
            if tm is None:
                raise ValueError(
                    f"SELECT INTO: expected 'INTO [TEMP] name FROM ...', "
                    f"got INTO {tail[:40]!r}"
                )
            state.bind(tm.group(1), state.spark.sql(f"{head} {tm.group(2)}"))
            return
    state.result = state.spark.sql(stmt)


# --- the tables -------------------------------------------------------------

# plpgsql statements, valid anywhere (RETURN and EXIT/CONTINUE check
# their own context), tried first
_PLPGSQL_STMTS = [
    (re.compile(r"(?i)^(EXIT|CONTINUE)\b"), _exec_exit),
    (re.compile(r"(?i)^RETURN\b"), _exec_return),
    (re.compile(r"(?i)^EXECUTE\b"), _exec_execute),
    (re.compile(r"(?i)^PERFORM\b"), _exec_perform),
]
# plpgsql statements over declared variables and cursors, tried next
# inside a procedure scope only; the last step substitutes the scope's
# variables into whatever falls through to the SQL kinds
_SCOPED_STMTS = [
    (re.compile(r"(?i)GET"), _exec_get_diagnostics),
    (re.compile(r"(?is)^OPEN\s+([\w$]+)\s*$"), _exec_open),
    (
        re.compile(r"(?is)^FETCH\s+(?:NEXT\s+)?(?:FROM\s+)?([\w$]+)\s+INTO\s+(.+)$"),
        _exec_fetch,
    ),
    (re.compile(r"(?is)^CLOSE\s+([\w$]+)\s*$"), _exec_close),
    (_ASSIGN, _exec_assign),
    (re.compile(r"(?i)SELECT"), _exec_select_into_vars),
    (_EVERY, _subst_stmt_vars),
]
# SQL statement kinds, first match wins. Order matters where patterns
# overlap: _CTAS_COLS before _CTAS and _CREATE_LIKE before _CREATE_DDL
# (whose greedy paren body would swallow the AS query / the LIKE), and
# the pre-translate kinds — schema, function, procedure, CALL, RAISE,
# COPY, UNLOAD — before _translate_stmt, because the dialect front-end
# must not rewrite $$ bodies, path literals or option clauses.
_SQL_STMTS = [
    (_EVERY, _rewrite_temp),
    (_CREATE_SCHEMA, _exec_create_schema),
    (_DROP_SCHEMA, _exec_drop_schema),
    (_EVERY, _resolve_names),
    (_CREATE_EXT_FUNC, _exec_create_ext_func),
    (_CREATE_FUNC_HEAD, _exec_create_func),
    (_DROP_FUNC, _exec_drop_func),
    (_EVERY, _inline_udfs),
    (_CREATE_PROC_HEAD, _exec_create_proc),
    (_DROP_PROC, _exec_drop_proc),
    (_CALL, _exec_call),
    (re.compile(r"(?i)^RAISE\b"), _exec_raise),
    (_COPY, _exec_copy),
    (_UNLOAD, _exec_unload),
    (_EVERY, _translate_stmt),
    (_TXN, _exec_txn),
    (_ALTER_OWNER, _exec_alter_owner),
    (_ACCOUNT_DDL, _skip),
    (_NOOP, _skip),
    (_CREATE_EXTERNAL_HEAD, _exec_create_external),
    (_CREATE_LIKE, _exec_create_like),
    (_ALTER_RENAME, _exec_alter_rename),
    (_ALTER_APPEND, _exec_alter_append),
    (_ALTER_COL_TYPE, _exec_alter_col_type),
    (_ALTER_ADD_COL, _exec_alter_add_col),
    (_ALTER_DROP_COL, _exec_alter_drop_col),
    (_ALTER_RENAME_COL, _exec_alter_rename_col),
    (_CTAS_COLS, _exec_ctas_cols),
    (_CTAS, _exec_ctas),
    (_CREATE_VIEW, _exec_ctas),
    (_CREATE_MV, _exec_create_mv),
    (_REFRESH_MV, _exec_refresh_mv),
    (_CREATE_DDL, _exec_create_ddl),
    (_INSERT_DEFAULTS, _exec_insert_defaults),
    (_INSERT, _exec_insert),
    (_MERGE, _exec_merge),
    (_DELETE, _exec_delete),
    (_UPDATE, _exec_update),
    (_TRUNCATE, _exec_truncate),
    (_DROP, _exec_drop),
    (_SET, _exec_set),
    (_EXPLAIN, _exec_explain),
    (_QUERY, _exec_query),
]


def _exec_statement(state: _ScriptState, scope: dict | None, stmt: str) -> None:
    tables = (_PLPGSQL_STMTS, _SQL_STMTS)
    if scope is not None:
        tables = (_PLPGSQL_STMTS, _SCOPED_STMTS, _SQL_STMTS)
    for table in tables:
        for pattern, handler in table:
            m = pattern.match(stmt)
            if m is not None:
                stmt = handler(state, scope, m, stmt)
                if stmt is None:
                    return
    raise ValueError(f"unsupported statement in script: {stmt[:80]!r}...")


def run_redshift_script(spark: SparkSession, script: str) -> DataFrame | None:
    """Execute a multi-statement Redshift-dialect script; returns the
    last SELECT's DataFrame (None if the script has no query statement).
    Base tables must be registered as views (catalog.register_views or
    ``createOrReplaceTempView``); script-created temp tables shadow them
    for the script's duration and are dropped afterward."""
    state = _ScriptState(spark)
    try:
        # worklist, not a plain loop: CALL and control blocks expand
        # into items executed in place (front of the queue)
        state.pending.extend(split_statements(script))
        while state.pending:
            try:
                item, scope = _unwrap(state.pending.popleft())
                control = _CONTROL.get(type(item))
                if control is not None:
                    control(state, scope, item)
                else:
                    _exec_statement(state, scope, item)
            except Exception as exc:
                # The runner's own unsupported-construct ValueErrors
                # stay loud by module policy: a real engine would have
                # executed those statements, so routing them to a
                # handler would silently change semantics.
                if not state.guard_stack or isinstance(exc, ValueError):
                    raise
                _catch(state, exc)
        return state.result
    finally:
        state.cleanup()
