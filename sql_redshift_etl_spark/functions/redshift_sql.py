"""Redshift-SQL front-end: run (a bounded subset of) Redshift-dialect
SQL directly on Spark.

The reference's users write Redshift SQL scripts; this module lets those
scripts run unmodified where the dialects diverge in *spelling* rather
than semantics. It is a textual rewriter in front of spark.sql — Spark's
parser/Catalyst still do all real work (SURVEY.md §3.2: we build no
parser; this is a token-level dialect shim).

Handled rewrites (each with a unit test in tests/test_units.py):
- DATEDIFF(unit, a, b)         → boundary-crossing expression (Redshift
  counts boundary crossings; Spark's timestampdiff counts elapsed units
  — a silent off-by-one, so this rewrite is semantic, not cosmetic)
- TO_CHAR(x, 'fmt')            → date_format(x, <translated fmt>)
- JSON_EXTRACT_PATH_TEXT(j, 'a' [, 'b'...]) → get_json_object(j, '$.a.b')
- LISTAGG(x, 'sep') WITHIN GROUP (ORDER BY x) → sorted array_join
- RATIO_TO_REPORT(x) OVER (w)  → (CAST(x AS DOUBLE) / SUM(x) OVER (w))
- GETDATE() / SYSDATE          → current_timestamp()
- TO_DATE / TO_TIMESTAMP(s, 'fmt') → same fn, format dialect translated
- CHARINDEX(sub, s) / STRPOS(s, sub) → instr(s, sub)
- TRUNC(ts)                    → CAST(ts AS DATE) (numeric 1-arg TRUNC
  unsupported — spell TRUNC(x, 0))
- TRUNC(x, n) numeric          → sign-aware FLOOR/CEIL at scale n
  (truncate toward zero; Spark's own 2-arg trunc is date-only)
- DEXP / DLOG10 / DLOG1        → exp / log10 / ln
- DISTSTYLE / DISTKEY(...) / SORTKEY(...) / ENCODE ... DDL storage
  clauses → stripped (Spark analogs are write-layout options, see
  sources.writers)
- [NOT] SIMILAR TO 'pat'       → [NOT] RLIKE anchored-regex (r5;
  literal patterns only, default backslash escape; ESCAPE clause raises)
- DATE_PART_YEAR(d)            → year(d) (r5)
- EXTRACT(EPOCH FROM x) / DATE_PART(epoch, x) → unix_timestamp(x) (r5)
- expr AT TIME ZONE 'tz'       → to_utc_timestamp(expr, 'tz') (r5;
  literal zones only — the postfix operand is backward-scanned)
- #temp table names            → rs_tmp_<name> identifiers (r5; Spark
  identifiers cannot start with '#')
- LISTAGG ... WITHIN GROUP ... OVER (PARTITION BY ...) — window form
  (r5; ORDER BY inside OVER raises, matching Redshift's own restriction)
- START WITH ... CONNECT BY PRIOR ... [LEVEL] → WITH RECURSIVE (r7;
  hierarchical queries on Spark's native UnionLoop — see
  _rewrite_connect_by for the subset and the PRIOR-rename join model)

NVL / NVL2 / DECODE / :: casts / ILIKE / LEN / SPLIT_PART / POSITION /
BTRIM / INITCAP / REGEXP_SUBSTR / REGEXP_COUNT / REGEXP_INSTR /
DATE_PART / EXTRACT / DATEADD / ADD_MONTHS / LAST_DAY need no rewrite —
Spark 4 parses them natively with matching semantics (probe-verified).

Call rewrites: every pass that replaces a function call goes through
one function, ``_rewrite_calls(sql, pattern, render)``. It takes the
matches of ``pattern`` that fall outside string literals, right to
left, so the innermost call is rewritten first; it balanced-scans from
the call's open paren to its close paren (quote-aware) and splices in
``render(m, raw_body)``, or leaves the call when render returns None.
Replacement text is never scanned again, so a rewrite cannot re-match
its own output. Two-argument calls split at the FIRST top-level comma
(``_split_two_args``). Passes that read text after the call (LISTAGG
... WITHIN GROUP, APPROXIMATE PERCENTILE_DISC, RATIO_TO_REPORT ...
OVER, AT TIME ZONE, PartiQL unnest) scan with the same primitives.

Bounded-subset assumptions (documented, not silent):
- String literals escape quotes by DOUBLING (''), the SQL standard both
  dialects share. Backslash-escaped quotes (\\') are NOT supported by
  the literal-parity scanners — scripts using them must be normalized.
- Comments are stripped before rewriting (strip_sql_comments), so
  apostrophes in comments cannot corrupt the literal scan.
- DATEDIFF/TRUNC/RATIO_TO_REPORT splice their argument text into the
  expansion more than once; arguments are assumed DETERMINISTIC (a
  rand() argument would be evaluated independently per splice). Same
  class of contract as SQL macro expansion.
"""

from __future__ import annotations

import re
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, SparkSession

from sql_redshift_etl_spark.functions.dialect import (
    tochar_needs_upper,
    translate_datetime_format,
)

_DATEDIFF_EXPRS = {
    "year": "(year({b}) - year({a}))",
    "quarter": "((year({b}) - year({a})) * 4 + (quarter({b}) - quarter({a})))",
    "month": "((year({b}) - year({a})) * 12 + (month({b}) - month({a})))",
    "day": "datediff(cast({b} as date), cast({a} as date))",
    "week": "cast(datediff(cast(date_trunc('week', {b}) as date), cast(date_trunc('week', {a}) as date)) / 7 as bigint)",
    "hour": "cast((unix_timestamp(date_trunc('hour', {b})) - unix_timestamp(date_trunc('hour', {a}))) / 3600 as bigint)",
    "minute": "cast((unix_timestamp(date_trunc('minute', {b})) - unix_timestamp(date_trunc('minute', {a}))) / 60 as bigint)",
    "second": "(unix_timestamp({b}) - unix_timestamp({a}))",
}

# Redshift accepts many unit spellings (docs: datepart abbreviations) —
# the same alias set dialect.redshift_datediff honors on the DataFrame
# side; the two tables must not drift (CI: test_datediff_unit_aliases).
_DATEDIFF_UNIT_ALIASES = {
    "y": "year", "yr": "year", "yrs": "year", "years": "year",
    "qtr": "quarter", "qtrs": "quarter", "quarters": "quarter",
    "mon": "month", "mons": "month", "months": "month",
    "d": "day", "days": "day",
    "w": "week", "weeks": "week",
    "h": "hour", "hr": "hour", "hrs": "hour", "hours": "hour",
    "m": "minute", "min": "minute", "mins": "minute", "minutes": "minute",
    "s": "second", "sec": "second", "secs": "second", "seconds": "second",
}


def strip_sql_comments(script: str) -> str:
    """Remove ``--`` line and ``/* */`` block comments, quote-aware
    (markers inside string literals are content; a block comment leaves
    one space so it stays a token separator). Every rewrite below
    assumes comment-free input — an apostrophe in a comment would
    otherwise flip the literal-parity scan."""
    out: list[str] = []
    i, n = 0, len(script)
    in_quote = False
    while i < n:
        ch = script[i]
        if in_quote:
            out.append(ch)
            if ch == "'":
                in_quote = False
            i += 1
        elif ch == "'":
            out.append(ch)
            in_quote = True
            i += 1
        elif script.startswith("--", i):
            j = script.find("\n", i)
            i = n if j == -1 else j  # keep the newline as whitespace
        elif script.startswith("/*", i):
            j = script.find("*/", i + 2)
            if j == -1:
                raise ValueError("unterminated /* comment in script")
            out.append(" ")  # a comment is a token separator: `a/**/b` ≠ `ab`
            i = j + 2
        else:
            out.append(ch)
            i += 1
    return "".join(out)


def _mask_literals(sql: str) -> tuple[str, list[str]]:
    """Replace every single-quoted literal with a placeholder so plain
    re.sub rewrites cannot mutate DATA ('run GETDATE() nightly' must
    stay intact). Placeholders use \\x00, which cannot occur in SQL."""
    lits: list[str] = []
    out: list[str] = []
    i, n = 0, len(sql)
    while i < n:
        ch = sql[i]
        if ch == "'":
            j = i + 1
            while j < n:
                if sql[j] == "'":
                    if j + 1 < n and sql[j + 1] == "'":  # '' escape
                        j += 2
                        continue
                    break
                j += 1
            lits.append(sql[i : j + 1])
            out.append(f"\x00{len(lits) - 1}\x00")
            i = j + 1
        else:
            out.append(ch)
            i += 1
    return "".join(out), lits


def _unmask_literals(sql: str, lits: list[str]) -> str:
    return re.sub(r"\x00(\d+)\x00", lambda m: lits[int(m.group(1))], sql)


def _in_literal(sql: str, pos: int) -> bool:
    """True when ``pos`` falls inside a single-quoted SQL literal. An odd
    count of preceding quotes means "inside"; Redshift's '' escape adds a
    pair, so plain counting stays correct."""
    return sql.count("'", 0, pos) % 2 == 1


def _split_two_args(body: str) -> tuple[str, str]:
    """Split 'a, b' at the top-level comma (paren- and quote-aware)."""
    depth = 0
    in_quote = False
    for i, ch in enumerate(body):
        if ch == "'":
            in_quote = not in_quote
        elif in_quote:
            continue
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            return body[:i].strip(), body[i + 1 :].strip()
    raise ValueError(f"expected two arguments: {body!r}")


def _split_args(body: str) -> list[str]:
    """Split an argument list on top-level commas (paren/quote-aware)."""
    args: list[str] = []
    depth, in_quote, start = 0, False, 0
    for i, ch in enumerate(body):
        if ch == "'":
            in_quote = not in_quote
        elif in_quote:
            continue
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            args.append(body[start:i].strip())
            start = i + 1
    args.append(body[start:].strip())
    return args


def _scan_balanced(sql: str, i: int) -> int:
    """Given ``i`` just past an opening paren, return the index just past
    its matching close paren (quote-aware)."""
    depth, in_quote = 1, False
    while depth:
        ch = sql[i]
        if ch == "'":
            in_quote = not in_quote
        elif not in_quote:
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
        i += 1
    return i


def _rewrite_calls(
    sql: str,
    pattern: re.Pattern,
    render: Callable[[re.Match, str], str | None],
) -> str:
    """The shared call rewriter (contract in the module docstring): each
    match of ``pattern`` outside a string literal, innermost first, is
    replaced from its start to its close paren by ``render(m, body)``,
    ``body`` being the raw text between the call's parens."""
    hits = [m for m in pattern.finditer(sql) if not _in_literal(sql, m.start())]
    for m in reversed(hits):
        open_paren = sql.index("(", m.start())
        end = _scan_balanced(sql, open_paren + 1)
        repl = render(m, sql[open_paren + 1 : end - 1])
        if repl is not None:
            sql = sql[: m.start()] + repl + sql[end:]
    return sql


def _rewrite_datediff(sql: str) -> str:
    def render(m: re.Match, body: str) -> str:
        unit = m.group(1).lower()
        unit = _DATEDIFF_UNIT_ALIASES.get(unit, unit)
        if unit not in _DATEDIFF_EXPRS:
            raise ValueError(f"unsupported DATEDIFF unit: {m.group(1)}")
        a, b = _split_two_args(body.split(",", 1)[1])
        return _DATEDIFF_EXPRS[unit].format(a=a, b=b)

    return _rewrite_calls(
        sql, re.compile(r"\bDATEDIFF\s*\(\s*(\w+)\s*,", re.IGNORECASE), render
    )


def _fmt_literal(rs_fmt: str) -> str:
    """Translate a Redshift datetime format and re-embed it as a Spark
    single-quoted SQL literal. The translation can itself emit single
    quotes (alpha literals become 'c'), so they must be doubled — the
    SQL-literal escape — or formats like 'YYYY-MM-DD\"T\"HH24:MI:SS'
    would splice into broken SQL."""
    return "'" + translate_datetime_format(rs_fmt).replace("'", "''") + "'"


def _rewrite_to_char(sql: str) -> str:
    """TO_CHAR(expr, 'fmt') → date_format(expr, <translated fmt>).

    Expression arguments (TO_CHAR(DATEADD(day, 1, d), 'YYYY-MM-DD'))
    must translate rather than reach Spark, where the SAME format letters
    mean different fields (DD = day-of-year digits, YYYY = week-based
    year — silently wrong values, not an error). Non-literal formats
    raise."""

    def render(m: re.Match, body: str) -> str:
        expr, fmt = _split_two_args(body)
        fm = re.fullmatch(r"'([^']*)'", fmt)
        if not fm:
            raise ValueError(f"TO_CHAR format must be a string literal: {fmt!r}")
        rendered = f"date_format({expr}, {_fmt_literal(fm.group(1))})"
        if tochar_needs_upper(fm.group(1)):
            # Redshift case semantics: uppercase name tokens emit
            # uppercase names; exact via upper() on the whole rendering
            # (tochar_needs_upper guards out literal/mixed-case formats).
            rendered = f"upper({rendered})"
        return rendered

    return _rewrite_calls(sql, re.compile(r"\bTO_CHAR\s*\(", re.IGNORECASE), render)


def _rewrite_json_extract(sql: str) -> str:
    """JSON_EXTRACT_PATH_TEXT(j, 'a'[, 'b'...]) → get_json_object(j,
    '$.a.b'). Non-literal path elements raise (a dynamic path cannot
    become a static JSONPath)."""

    def render(m: re.Match, body: str) -> str:
        args = _split_args(body)
        if len(args) < 2:
            raise ValueError("JSON_EXTRACT_PATH_TEXT needs a column and ≥1 path element")
        elems = []
        for p in args[1:]:
            pm = re.fullmatch(r"'([^']*)'", p)
            if not pm:
                raise ValueError(
                    f"JSON_EXTRACT_PATH_TEXT path elements must be string literals: {p!r}"
                )
            elems.append(pm.group(1))
        return f"get_json_object({args[0]}, '$.{'.'.join(elems)}')"

    return _rewrite_calls(
        sql, re.compile(r"\bJSON_EXTRACT_PATH_TEXT\s*\(", re.IGNORECASE), render
    )


def _rewrite_listagg(sql: str) -> str:
    """LISTAGG(col, 'sep') WITHIN GROUP (ORDER BY expr [ASC|DESC])
    [OVER ([PARTITION BY ...])].

    The ORDER BY expression is honored, not assumed: when it is the
    aggregated column itself we sort the collected values directly; when
    it differs we collect (order-key, value) structs, sort by the key
    (array_sort on struct arrays compares fields left-to-right), and
    project the values back out. DESC reverses the sorted array.

    Window form (r5): Redshift's window LISTAGG takes an OVER clause with
    ONLY PARTITION BY (its docs forbid window ORDER BY for LISTAGG — the
    ordering lives in WITHIN GROUP). The OVER attaches to the inner
    collect_list — ``array_sort(collect_list(x) OVER (w))`` — because
    array_join/array_sort are scalar functions, not window aggregates.
    An OVER containing ORDER BY raises: Spark's default frame would make
    it a RUNNING list (rows unbounded-preceding..current), silently
    different values.
    """

    pat = re.compile(r"\bLISTAGG\s*\(", re.IGNORECASE)
    wg_pat = re.compile(r"\s*WITHIN\s+GROUP\s*\(", re.IGNORECASE)
    over_pat = re.compile(r"\s*OVER\s*\(", re.IGNORECASE)
    search_from = 0
    while True:
        m = pat.search(sql, search_from)
        if not m:
            return sql
        if _in_literal(sql, m.start()):
            search_from = m.end()
            continue
        args_end = _scan_balanced(sql, m.end())
        wg = wg_pat.match(sql, args_end)
        if not wg:
            # plain LISTAGG (no WITHIN GROUP): Spark 4 parses it natively
            search_from = args_end
            continue
        args = _split_args(sql[m.end() : args_end - 1])
        if len(args) != 2 or not re.fullmatch(r"'[^']*'", args[1]):
            raise ValueError(
                f"LISTAGG WITHIN GROUP needs (expr, 'literal-sep'): {args!r}"
            )
        col, sep = args[0], args[1][1:-1]
        distinct = False
        if dm := re.match(r"(?is)^DISTINCT\s+(.+)$", col):
            distinct, col = True, dm.group(1).strip()
        wg_end = _scan_balanced(sql, wg.end())
        inner = sql[wg.end() : wg_end - 1]
        om = re.fullmatch(r"(?is)\s*ORDER\s+BY\s+(.+?)(\s+ASC|\s+DESC)?\s*", inner)
        if not om:
            raise ValueError(f"LISTAGG WITHIN GROUP must be (ORDER BY ...): {inner!r}")
        order_expr = om.group(1).strip()
        desc = bool(om.group(2)) and om.group(2).strip().lower() == "desc"
        end_idx = wg_end
        over_sfx = ""
        if ov := over_pat.match(sql, wg_end):
            end_idx = _scan_balanced(sql, ov.end())
            win = sql[ov.end() : end_idx - 1].strip()
            if re.search(r"\bORDER\s+BY\b", win, re.IGNORECASE):
                raise ValueError(
                    "window LISTAGG: ORDER BY inside OVER is not supported "
                    "(Redshift allows only PARTITION BY there; element order "
                    "belongs in WITHIN GROUP)"
                )
            over_sfx = f" OVER ({win})"
        if distinct and order_expr.lower() != col.lower():
            # deduping collapses rows, so a foreign order key is
            # ambiguous — Redshift itself requires ordering by the
            # aggregated expression with DISTINCT
            raise ValueError(
                "LISTAGG(DISTINCT x) must ORDER BY the same expression"
            )
        if order_expr.lower() == col.lower():
            agg = "collect_set" if distinct else "collect_list"
            sorted_arr = f"array_sort({agg}({col}){over_sfx})"
        else:
            sorted_arr = (
                f"transform(array_sort(collect_list("
                f"named_struct('o', {order_expr}, 'v', {col})){over_sfx}), p -> p.v)"
            )
        if desc:
            sorted_arr = f"reverse({sorted_arr})"
        sql = f"{sql[: m.start()]}array_join({sorted_arr}, '{sep}'){sql[end_idx:]}"
        search_from = 0


def _depth0_matches(sql: str, pattern: re.Pattern) -> list[re.Match]:
    """Matches of ``pattern`` at paren depth 0, outside string literals."""
    out = []
    depth, in_quote = 0, False
    i = 0
    while i < len(sql):
        ch = sql[i]
        if ch == "'":
            in_quote = not in_quote
        elif not in_quote:
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif depth == 0:
                m = pattern.match(sql, i)
                if m:
                    out.append(m)
                    i = m.end()
                    continue
        i += 1
    return out


_QUALIFY_KW = re.compile(r"\bQUALIFY\b", re.IGNORECASE)
_SELECT_KW = re.compile(r"\bSELECT\b", re.IGNORECASE)
_FROM_KW = re.compile(r"\bFROM\b", re.IGNORECASE)
# A QUALIFY predicate ends at the owning SELECT's tail clauses OR at a
# depth-0 set operator — without the set-op bound, a QUALIFY in a
# non-last UNION branch would swallow the rest of the query.
_TAIL_KW = re.compile(
    r"\b(ORDER\s+BY|LIMIT|OFFSET|UNION|INTERSECT|EXCEPT|MINUS)\b", re.IGNORECASE
)


def _rewrite_qualify(sql: str) -> str:
    """QUALIFY <pred> → wrapped subquery filter (Redshift supports QUALIFY;
    Spark does not parse it).

        SELECT <list> FROM <rest> QUALIFY <pred> [ORDER BY/LIMIT tail]
        →
        SELECT * EXCEPT (__qualify) FROM (
            SELECT <list>, (<pred>) AS __qualify FROM <rest>
        ) __qualify_sub WHERE __qualify [tail]

    The predicate is evaluated in the SAME select as the original list, so
    it may reference base-table columns not in the list (window over
    unprojected columns) or select aliases (Spark lateral column aliases
    handle `rn = 1` where rn is a window alias — verified in tests).
    Bounded subset: one QUALIFY per depth-0 SELECT; DISTINCT + QUALIFY is
    rejected (appending the predicate column would change DISTINCT rows).
    """
    quals = _depth0_matches(sql, _QUALIFY_KW)
    if not quals:
        return sql
    m = quals[-1]
    pred_start = m.end()
    tails = [t for t in _depth0_matches(sql, _TAIL_KW) if t.start() > pred_start]
    pred_end = tails[0].start() if tails else len(sql)
    pred = sql[pred_start:pred_end].strip().rstrip(";")
    tail = sql[pred_end:].strip()
    tail = f" {tail}" if tail else ""

    selects = [s for s in _depth0_matches(sql, _SELECT_KW) if s.start() < m.start()]
    if not selects:
        raise ValueError("QUALIFY with no owning SELECT")
    sel = selects[-1]
    froms = [f for f in _depth0_matches(sql, _FROM_KW) if sel.end() < f.start() < m.start()]
    if not froms:
        raise ValueError("QUALIFY rewrite needs a FROM clause")
    frm = froms[0]
    select_list = sql[sel.end() : frm.start()].strip()
    if re.match(r"(?is)^\s*DISTINCT\b", select_list):
        raise ValueError("DISTINCT with QUALIFY is not supported by the shim")
    head = sql[: sel.start()]
    body = sql[frm.end() : m.start()].strip()
    rewritten = (
        f"{head}SELECT * EXCEPT (__qualify) FROM "
        f"(SELECT {select_list}, ({pred}) AS __qualify FROM {body}) __qualify_sub "
        f"WHERE __qualify{tail}"
    )
    # handle any remaining QUALIFY (e.g. one per UNION branch) recursively
    return _rewrite_qualify(rewritten)


def _rewrite_ratio_to_report(sql: str) -> str:
    """RATIO_TO_REPORT(x) OVER (w) → (CAST(x AS DOUBLE) / SUM(x) OVER (w)).

    Redshift-only window function (share of the window total). The CAST
    keeps the division double-typed even for decimal/int args, matching
    Redshift's double return type."""
    pat = re.compile(r"\bRATIO_TO_REPORT\s*\(", re.IGNORECASE)
    search_from = 0
    while True:
        m = pat.search(sql, search_from)
        if not m:
            return sql
        if _in_literal(sql, m.start()):
            search_from = m.end()
            continue
        arg_end = _scan_balanced(sql, m.end())
        expr = sql[m.end() : arg_end - 1].strip()
        over = re.compile(r"\s*OVER\s*\(", re.IGNORECASE).match(sql, arg_end)
        if not over:
            raise ValueError("RATIO_TO_REPORT requires an OVER clause")
        win_end = _scan_balanced(sql, over.end())
        win = sql[over.end() : win_end - 1].strip()
        repl = f"(CAST({expr} AS DOUBLE) / SUM({expr}) OVER ({win}))"
        sql = sql[: m.start()] + repl + sql[win_end:]
        search_from = 0


def _rewrite_approx_count(sql: str) -> str:
    """APPROXIMATE COUNT ( DISTINCT x ) → approx_count_distinct(x).

    Redshift's HLL spelling; Spark's parser has no APPROXIMATE keyword."""

    def render(m: re.Match, body: str) -> str:
        expr = re.sub(r"^DISTINCT\s+", "", body.strip(), flags=re.IGNORECASE)
        return f"approx_count_distinct({expr})"

    return _rewrite_calls(
        sql,
        re.compile(r"\bAPPROXIMATE\s+COUNT\s*\(\s*DISTINCT\b", re.IGNORECASE),
        render,
    )


_APPROX_PCT_ACCURACY = 1_000_000


def _rewrite_approx_percentile(sql: str) -> str:
    """``APPROXIMATE PERCENTILE_DISC(p) WITHIN GROUP (ORDER BY expr)``
    → ``approx_percentile(expr, p, 1e6)`` (r10).

    Redshift's one approximate-percentile spelling; Spark's
    Greenwald-Khanna ``approx_percentile`` is its engine twin. The
    pinned accuracy makes the estimate EXACT for groups under 1 M rows
    (GK stores every sample until the budget compresses — so the DuckDB
    exact-quantile oracle matches at the driver scales) and rank-error
    ≤ 1/accuracy beyond, which is Redshift's approximate contract.
    Subset, loud otherwise: p a numeric literal, a single ASC ORDER BY
    expression (DESC would need the 1-p flip under a convention this
    rewrite does not guarantee). A trailing NULLS FIRST|LAST is accepted
    and dropped (r11): percentile aggregates IGNORE NULL inputs in both
    Redshift and Spark (and DuckDB's quantile_disc), so NULL placement
    cannot affect the result — stripping is exact, not lenient."""
    pat = re.compile(r"(?i)\bAPPROXIMATE\s+PERCENTILE_DISC\s*\(")
    search_from = 0
    while True:
        m = pat.search(sql, search_from)
        if not m:
            return sql
        if _in_literal(sql, m.start()):
            search_from = m.end()
            continue
        open_paren = sql.index("(", m.start())
        p_end = _scan_balanced(sql, open_paren + 1)
        p_lit = sql[open_paren + 1 : p_end - 1].strip()
        if not re.fullmatch(r"[0-9]*\.?[0-9]+", p_lit):
            raise ValueError(
                "APPROXIMATE PERCENTILE_DISC: the percentile must be a "
                f"numeric literal (got {p_lit[:30]!r})"
            )
        wm = re.match(
            r"(?is)\s*WITHIN\s+GROUP\s*\(\s*ORDER\s+BY\b", sql[p_end:]
        )
        if not wm:
            raise ValueError(
                "APPROXIMATE PERCENTILE_DISC requires WITHIN GROUP "
                "(ORDER BY <expr>)"
            )
        wg_open = sql.index("(", p_end + wm.start())
        wg_end = _scan_balanced(sql, wg_open + 1)
        inner = sql[wg_open + 1 : wg_end - 1].strip()
        expr = re.sub(r"(?is)^ORDER\s+BY\s+", "", inner).strip()
        # NULLS FIRST|LAST is a no-op for a NULL-ignoring aggregate —
        # strip it BEFORE the DESC check so "x DESC NULLS LAST" still
        # lands on the loud DESC reject (r11).
        expr = re.sub(r"(?is)\s+NULLS\s+(?:FIRST|LAST)\s*$", "", expr)
        # multi-key check must be paren/quote-aware (ADVICE r10): a
        # function-call comma inside the one expression — e.g.
        # ORDER BY COALESCE(x, 0) — is NOT a second sort key.
        if re.search(r"(?i)\bDESC\b\s*$", expr) or len(_split_args(expr)) > 1:
            raise ValueError(
                "APPROXIMATE PERCENTILE_DISC: a single ASC ORDER BY "
                f"expression only (got {expr[:40]!r})"
            )
        expr = re.sub(r"(?i)\s+ASC\s*$", "", expr)
        sql = (
            sql[: m.start()]
            + f"approx_percentile({expr}, {p_lit}, {_APPROX_PCT_ACCURACY})"
            + sql[wg_end:]
        )
        search_from = 0


_TOP_KW = re.compile(r"\bSELECT\s+TOP\s+(\d+)\b", re.IGNORECASE)


def _rewrite_top(sql: str) -> str:
    """Redshift ``SELECT TOP n`` → trailing ``LIMIT n``.

    Only the top-level SELECT is supported: a TOP inside a subquery would
    need its LIMIT placed at that subquery's end, which a text rewrite
    cannot do reliably — raise instead of corrupting (same policy as the
    quoted-literal scan notes in ADVICE r1)."""
    depth0 = _depth0_matches(sql, _TOP_KW)
    nested = [m for m in _TOP_KW.finditer(sql) if not _in_literal(sql, m.start())]
    if len(nested) > len(depth0):
        raise ValueError("SELECT TOP inside a subquery is not supported; use LIMIT")
    if not depth0:
        return sql
    # only a DEPTH-0 LIMIT conflicts with moving TOP to the tail; a
    # LIMIT inside a subquery (or a string literal) is unrelated
    if len(depth0) > 1 or _depth0_matches(sql, re.compile(r"\bLIMIT\b", re.IGNORECASE)):
        raise ValueError("multiple TOP clauses / TOP mixed with LIMIT not supported")
    if _depth0_matches(sql, re.compile(r"\b(UNION|INTERSECT|MINUS)\b|\bEXCEPT\s+(ALL\b|DISTINCT\b|SELECT\b)", re.IGNORECASE)):
        # the appended LIMIT would bound the whole set expression, not
        # the TOP's own branch — refuse rather than silently re-scope
        raise ValueError("SELECT TOP with set operators is not supported; use LIMIT")
    m = depth0[0]
    n = m.group(1)
    rewritten = sql[: m.start()] + "SELECT" + sql[m.end() :]
    return rewritten.rstrip().rstrip(";") + f" LIMIT {n}"


_CONVERT_KW = re.compile(r"\bCONVERT\s*\(", re.IGNORECASE)


def _rewrite_convert(sql: str) -> str:
    """Redshift ``CONVERT(type, expr)`` → ``CAST(expr AS type)``."""

    def render(m: re.Match, body: str) -> str:
        typ, expr = _split_two_args(body)
        return f"CAST({expr} AS {typ})"

    return _rewrite_calls(sql, _CONVERT_KW, render)


def _rewrite_to_datetime(sql: str) -> str:
    """TO_DATE/TO_TIMESTAMP(expr, 'redshift-fmt') → same fn with the
    format translated to Spark's pattern dialect (YYYY→yyyy, MI→mm,
    HH24→HH ... — the shared translate_datetime_format table TO_CHAR
    uses, applied in reverse direction). A single-argument call is left
    to Spark, which parses it natively."""

    def render(m: re.Match, body: str) -> str | None:
        try:
            expr, fmt = _split_two_args(body)
        except ValueError:
            return None
        fm = re.fullmatch(r"'([^']*)'", fmt)
        if not fm:
            raise ValueError(f"{m.group(1)} format must be a string literal: {fmt!r}")
        return f"{m.group(1).lower()}({expr}, {_fmt_literal(fm.group(1))})"

    return _rewrite_calls(
        sql, re.compile(r"\b(TO_DATE|TO_TIMESTAMP)\s*\(", re.IGNORECASE), render
    )


def _rewrite_string_fns(sql: str) -> str:
    """CHARINDEX(sub, str) / STRPOS(str, sub) → instr with Spark's
    argument order (both return the 1-based position, 0 when absent —
    semantics identical)."""

    def render(m: re.Match, body: str) -> str:
        first, second = _split_two_args(body)
        hay, needle = (second, first) if m.group(1).upper() == "CHARINDEX" else (first, second)
        return f"instr({hay}, {needle})"

    for kw in ("CHARINDEX", "STRPOS"):
        sql = _rewrite_calls(sql, re.compile(rf"\b({kw})\s*\(", re.IGNORECASE), render)
    return sql


def _rewrite_trunc(sql: str) -> str:
    """Single-argument TRUNC(ts) → CAST(ts AS DATE) (the Redshift
    midnight-truncation idiom; Spark's trunc always needs a format arg).
    Two-argument numeric TRUNC(x, n) — truncation toward zero at scale n
    — has no Spark builtin (Spark's two-arg trunc is DATE-only and would
    fail analysis with DATATYPE_MISMATCH), so it rewrites to sign-aware
    FLOOR/CEIL with scale (Spark 3.3+): positive values floor toward
    zero, negative values ceil toward zero. The scale must be an integer
    literal (Spark requires a foldable scale anyway); a quoted second
    argument is date-format trunc and passes through natively. Numeric
    single-arg TRUNC(x) is NOT supported — spell TRUNC(x, 0)."""

    def render(m: re.Match, body: str) -> str | None:
        try:
            x, n = _split_two_args(body)
        except ValueError:
            return f"CAST({body.strip()} AS DATE)"
        if re.fullmatch(r"'[^']*'", n):
            return None  # TRUNC(date, 'fmt'): native Spark date trunc
        if not re.fullmatch(r"[+-]?\d+", n):
            raise ValueError(
                f"numeric TRUNC scale must be an integer literal (got {n!r}); "
                "Spark's floor/ceil require a foldable scale"
            )
        return f"(CASE WHEN ({x}) >= 0 THEN FLOOR({x}, {n}) ELSE CEIL({x}, {n}) END)"

    return _rewrite_calls(sql, re.compile(r"\bTRUNC\s*\(", re.IGNORECASE), render)


def _rewrite_math_aliases(sql: str) -> str:
    """Redshift double-precision math aliases → Spark natives:
    DEXP→exp, DLOG10→log10, DLOG1→ln. Literal-masked: the plain re.sub
    must never rewrite DATA inside a string literal."""
    masked, lits = _mask_literals(sql)
    masked = re.sub(r"\bDEXP\s*\(", "exp(", masked, flags=re.IGNORECASE)
    masked = re.sub(r"\bDLOG10\s*\(", "log10(", masked, flags=re.IGNORECASE)
    masked = re.sub(r"\bDLOG1\s*\(", "ln(", masked, flags=re.IGNORECASE)
    return _unmask_literals(masked, lits)


def _similar_to_regex(pat: str) -> str:
    """SQL SIMILAR TO pattern → anchored Java/Spark regex.

    SIMILAR TO matches the ENTIRE string; its metacharacters are % (any
    sequence) and _ (any char) plus the regex subset | * + ? ( ) [ ] { },
    which carries identical semantics in a real regex and passes through.
    Characters that are LITERAL in SIMILAR TO but special in regex
    (. ^ $) are escaped; backslash is the default escape character (as in
    Redshift/Postgres) and forces the next char literal."""
    out: list[str] = []
    i, n = 0, len(pat)
    while i < n:
        c = pat[i]
        if c == "\\":
            if i + 1 >= n:
                raise ValueError(f"SIMILAR TO pattern ends in escape: {pat!r}")
            out.append(re.escape(pat[i + 1]))
            i += 2
            continue
        if c == "%":
            out.append(".*")
        elif c == "_":
            out.append(".")
        elif c in ".^$":
            out.append("\\" + c)
        else:
            out.append(c)
        i += 1
    return "^(?:" + "".join(out) + ")$"


def _rewrite_similar_to(sql: str) -> str:
    """``expr [NOT] SIMILAR TO 'pattern'`` → ``expr [NOT] RLIKE
    '<anchored regex>'`` (Spark has no SIMILAR TO). Bounded subset:
    the pattern must be a string literal (a dynamic pattern cannot be
    translated at rewrite time) and an explicit ESCAPE clause raises —
    only the default backslash escape is supported."""
    masked, lits = _mask_literals(sql)
    pat = re.compile(r"\b(NOT\s+)?SIMILAR\s+TO\s*(\x00(\d+)\x00)?", re.IGNORECASE)
    out = masked
    while m := pat.search(out):
        if m.group(2) is None:
            raise ValueError(
                "SIMILAR TO pattern must be a string literal "
                f"(near {out[m.start():m.start()+40]!r})"
            )
        if re.match(r"\s*ESCAPE\b", out[m.end():], re.IGNORECASE):
            raise ValueError(
                "SIMILAR TO ... ESCAPE is not supported; use the default "
                "backslash escape in the pattern"
            )
        lit = lits[int(m.group(3))]
        rx = _similar_to_regex(lit[1:-1].replace("''", "'"))
        lits.append("'" + rx.replace("'", "''") + "'")
        neg = "NOT " if m.group(1) else ""
        out = f"{out[: m.start()]}{neg}RLIKE \x00{len(lits) - 1}\x00{out[m.end():]}"
    return _unmask_literals(out, lits)


def _rewrite_date_part_year(sql: str) -> str:
    """Redshift ``DATE_PART_YEAR(date)`` → ``year(date)``."""
    masked, lits = _mask_literals(sql)
    masked = re.sub(r"\bDATE_PART_YEAR\s*\(", "year(", masked, flags=re.IGNORECASE)
    return _unmask_literals(masked, lits)


def _rewrite_extract_epoch(sql: str) -> str:
    """``EXTRACT(EPOCH FROM x)`` / ``DATE_PART(epoch, x)`` →
    ``unix_timestamp(x)`` (r5). Spark's EXTRACT has no EPOCH field
    (INVALID_EXTRACT_FIELD, probe-verified); Redshift returns integer
    epoch seconds, exactly unix_timestamp's contract."""

    def render(m: re.Match, body: str) -> str:
        # the body starts with the matched text past the open paren
        # ("EPOCH FROM" / "epoch,"); the operand is what follows it
        skip = len(m.group()) - m.group().index("(") - 1
        return f"unix_timestamp({body[skip:].strip()})"

    sql = _rewrite_calls(
        sql, re.compile(r"\bEXTRACT\s*\(\s*EPOCH\s+FROM\b", re.IGNORECASE), render
    )
    return _rewrite_calls(
        sql, re.compile(r"\bDATE_PART\s*\(\s*'?epoch'?\s*,", re.IGNORECASE), render
    )


def _operand_start(sql: str, i: int) -> int:
    """Backward scan from just past an operand's END (index i, exclusive)
    to its start: a parenthesized/function-call group, a quoted literal,
    or a (qualified) identifier chain. Used by the postfix AT TIME ZONE
    rewrite, which must wrap the PRECEDING expression."""
    j = i
    while j > 0 and sql[j - 1].isspace():
        j -= 1
    if j == 0:
        raise ValueError("AT TIME ZONE with no preceding expression")
    if sql[j - 1] == ")":
        depth = 0
        k = j
        while k > 0:
            k -= 1
            if sql[k] == ")":
                depth += 1
            elif sql[k] == "(":
                depth -= 1
                if depth == 0:
                    break
        # include a function name directly before the group
        while k > 0 and (sql[k - 1].isalnum() or sql[k - 1] in "_."):
            k -= 1
        return k
    if sql[j - 1] == "'":
        k = j - 2
        while k >= 0 and sql[k] != "'":
            k -= 1
        if k < 0:
            raise ValueError("unbalanced literal before AT TIME ZONE")
        # typed literal prefix (TIMESTAMP '...' / DATE '...')
        m = re.search(r"(?i)\b(TIMESTAMP|DATE|TIME)\s*$", sql[:k])
        return m.start(1) if m else k
    k = j
    while k > 0 and (sql[k - 1].isalnum() or sql[k - 1] in "_."):
        k -= 1
    if k == j:
        raise ValueError(f"cannot find AT TIME ZONE operand before: {sql[max(0,j-30):j]!r}")
    return k


def _rewrite_at_time_zone(sql: str) -> str:
    """``expr AT TIME ZONE 'tz'`` → ``to_utc_timestamp(expr, 'tz')``
    (r5). Redshift interprets a naive TIMESTAMP as tz-local wall time
    and yields the UTC instant — exactly to_utc_timestamp. (TIMESTAMPTZ
    inputs don't arise here: fixture/session timestamps are ntz.)
    Postfix operator, so the rewrite backward-scans the operand; a
    non-literal zone raises (cannot translate at rewrite time)."""
    pat = re.compile(r"\bAT\s+TIME\s+ZONE\s*('[^']*')?", re.IGNORECASE)
    while True:
        hits = [m for m in pat.finditer(sql) if not _in_literal(sql, m.start())]
        if not hits:
            return sql
        m = hits[0]
        if not m.group(1):
            raise ValueError("AT TIME ZONE requires a string-literal zone")
        start = _operand_start(sql, m.start())
        operand = sql[start : m.start()].strip()
        sql = f"{sql[:start]}to_utc_timestamp({operand}, {m.group(1)}){sql[m.end():]}"


def rewrite_temp_names(sql: str) -> str:
    """Redshift ``#name`` session-temp tables → the identifier
    ``rs_tmp_name`` (Spark identifiers cannot start with ``#``). Applied
    to EVERY occurrence — creation and references alike — so a script's
    ``CREATE TEMP TABLE #stg`` and later ``FROM #stg`` stay consistent.
    The script runner calls this BEFORE statement classification (its
    CREATE/COPY regexes match plain identifiers). Collision caveat
    (documented): a real table literally named rs_tmp_<x> would alias."""
    masked, lits = _mask_literals(sql)
    masked = re.sub(r"#(\w+)", r"rs_tmp_\1", masked)
    return _unmask_literals(masked, lits)


# PartiQL unnest (Redshift SUPER navigation in FROM): `FROM t a,
# a.items v [AT i]` iterates the array column a.items. The \2
# backreference pins the unnest qualifier to the PRECEDING table's
# alias — a comma join of a schema-qualified table (`FROM x, s.t u`)
# does not match unless `s` is that alias, mirroring PartiQL's own
# alias-first resolution. Chained unnests match iteratively (the head
# group admits already-rewritten LATERAL VIEW clauses).
_PARTIQL_UNNEST = re.compile(
    r"(FROM\s+[\w.]+\s+(?:AS\s+)?(\w+)"
    r"((?:\s+LATERAL\s+VIEW\s+(?:pos)?explode\([^)]*\)\s+\w+\s+AS\s+\w+(?:\s*,\s*\w+)?)*))"
    r"\s*,\s*\2\.(\w+)\s+(?:AS\s+)?(\w+)(?:\s+AT\s+(\w+))?"
    r"(?=\s*(?:,|WHERE\b|GROUP\b|ORDER\b|HAVING\b|QUALIFY\b|LIMIT\b|WINDOW\b|\)|$))",
    re.IGNORECASE,
)


def _rewrite_partiql_unnest(sql: str) -> str:
    """`FROM t a, a.col [AS] v [AT i]` → LATERAL VIEW (pos)explode —
    Redshift's PartiQL array iteration over the engine's array-typed
    columns (the SUPER-array analog; object navigation stays on
    get_json_object/from_json)."""
    masked, lits = _mask_literals(sql)
    while True:
        m = _PARTIQL_UNNEST.search(masked)
        if m is None:
            return _unmask_literals(masked, lits)
        head, alias, _lv, col, elem, idx = m.groups()
        if idx:
            repl = (
                f"{head} LATERAL VIEW posexplode({alias}.{col}) "
                f"rs_pq_{elem} AS {idx}, {elem}"
            )
        else:
            repl = f"{head} LATERAL VIEW explode({alias}.{col}) rs_pq_{elem} AS {elem}"
        masked = masked[: m.start()] + repl + masked[m.end() :]


# Redshift hierarchical queries, rewritten to WITH RECURSIVE (Spark 4 runs
# recursive CTEs natively through UnionLoop, the same engine path as
# redshift_sql_recursive). The contract is _rewrite_connect_by's docstring;
# the rewrite is three steps: _parse_connect_by slices the clauses once,
# _subst_pseudo/_carry_arg resolve the pseudo-columns into carried
# columns, and _rewrite_connect_by renders the CTE from the small
# renderers below it.
_CONNECT_BY_KW = re.compile(r"\bCONNECT\s+BY\b", re.IGNORECASE)
# Every clause keyword of the statement, taken in ONE depth-0 scan. A
# LIMIT/OFFSET after whitespace is told apart (limit_ws): only that form
# ends an ORDER SIBLINGS BY key list (`(k)LIMIT 3` is one malformed key).
_CB_CLAUSE_KW = re.compile(
    r"(?i)\b(?:(?P<select>SELECT)|(?P<from>FROM)|(?P<where>WHERE)"
    r"|(?P<start>START\s+WITH)|(?P<connect>CONNECT\s+BY)"
    r"|(?P<siblings>ORDER\s+SIBLINGS\s+BY)|(?P<order>ORDER\s+BY)"
    r"|(?P<limit_ws>(?<=\s)(?:LIMIT|OFFSET))|(?P<limit>LIMIT|OFFSET))\b"
)
# the clauses that occur exactly once; every other kind ends the clause pair
_CB_ONCE = ("select", "from", "start", "connect")
_AND_KW = re.compile(r"(?i)\bAND\b")
_PRIOR_REF = re.compile(r"\bPRIOR\s+([\w$]+)\b", re.IGNORECASE)
_CBR_KW = re.compile(r"(?i)\bCONNECT_BY_ROOT\b")
_SCBP_KW = re.compile(r"(?i)\bSYS_CONNECT_BY_PATH\s*\(")
_CB_PSEUDO = re.compile(
    r"(?i)\b(CONNECT_BY_ROOT|SYS_CONNECT_BY_PATH|CONNECT_BY_ISLEAF|CONNECT_BY_ISCYCLE)\b"
)
# post-CTE probe columns and the pseudo-columns they stand for
_CB_PROBES = (
    ("__cbleaf", re.compile(r"(?i)\bCONNECT_BY_ISLEAF\b")),
    ("__cbcyc", re.compile(r"(?i)\bCONNECT_BY_ISCYCLE\b")),
)
# bare LEVEL (not a qualified __p.level) — in the CONNECT BY condition it
# means the CHILD row's level, i.e. parent + 1 (Oracle/Redshift evaluate
# the condition when deciding whether to produce the child)
_BARE_LEVEL = re.compile(r"(?i)(?<![\w$.])LEVEL(?![\w$])")
_SIBLING_KEY = re.compile(
    r"(?is)^\s*(?P<key>\(.*\)|[\w$]+)"
    r"(?:\s+(?P<dir>ASC|DESC))?"
    r"(?:\s+NULLS\s+(?P<nf>FIRST|LAST))?\s*$"
)
# LEVEL as a pseudo-column argument is loud; the message names the caller
_LEVEL_ARG_ERRORS = {
    "SYS_CONNECT_BY_PATH": "SYS_CONNECT_BY_PATH: LEVEL is not a base-table column",
    "CONNECT_BY_ROOT": "CONNECT_BY_ROOT LEVEL is always 1 — write 1",
    "ORDER SIBLINGS BY": (
        "ORDER SIBLINGS BY LEVEL is meaningless — siblings share their level"
    ),
}


class _ConnectBy(NamedTuple):
    """The clauses of one ``SELECT ... CONNECT BY`` statement, as
    literal-masked text. ``where`` is the Oracle-position WHERE merged
    with a trailing one; ``tail`` is what follows the clause pair (an
    ORDER SIBLINGS BY already turned into ``ORDER BY __cbs``)."""

    select_list: str
    table: str
    where: str | None
    start_with: str
    connect_by: str
    nocycle: bool
    siblings: list[tuple[str, bool, bool]]  # (key, desc, nulls_first)
    tail: str


def _parse_connect_by(masked: str) -> _ConnectBy | None:
    """Slice a literal-masked statement into its CONNECT BY clauses, or
    return None when it has no depth-0 CONNECT BY. Every clause boundary
    comes from one depth-0 scan of the clause keywords."""
    if not _CONNECT_BY_KW.search(masked):
        return None
    kws = _depth0_matches(masked, _CB_CLAUSE_KW)
    by_kind: dict[str, list[re.Match]] = {}
    for m in kws:
        by_kind.setdefault(m.lastgroup, []).append(m)
    if "connect" not in by_kind:
        return None
    if any(len(by_kind.get(k, ())) != 1 for k in _CB_ONCE):
        raise ValueError(
            "CONNECT BY: only one top-level SELECT ... FROM <table> "
            "START WITH ... CONNECT BY ... is supported (no nesting/UNION)"
        )
    (sel,), (frm,), (sw,), (cb,) = (by_kind[k] for k in _CB_ONCE)
    select_list = masked[sel.end() : frm.start()].strip()
    if select_list == "*":
        raise ValueError(
            "CONNECT BY: list columns explicitly — Redshift's * excludes "
            "the LEVEL pseudocolumn, the rewrite's working set cannot"
        )
    first, second = (sw, cb) if sw.start() < cb.start() else (cb, sw)
    where_kw = next(
        (w for w in by_kind.get("where", ()) if frm.end() <= w.start() < first.start()),
        None,
    )
    where = masked[where_kw.end() : first.start()].strip() if where_kw else None
    table = masked[frm.end() : where_kw.start() if where_kw else first.start()].strip()
    if re.match(r"(?s)^[\w.]+$", table) is None:
        raise ValueError(
            f"CONNECT BY: FROM must be a single unaliased table, got {table[:40]!r}"
        )
    # the clause pair ends at the first WHERE or tail keyword after it
    ends = [m for m in kws if m.start() > second.end() and m.lastgroup not in _CB_ONCE]
    end = ends[0].start() if ends else len(masked)
    cond1 = masked[first.end() : second.start()].strip()
    cond2 = masked[second.end() : end].strip().rstrip(";").strip()
    tail = masked[end:].strip()
    # a TRAILING WHERE (after the clause pair) filters post-expansion
    # exactly like the Oracle-position one — merge them
    if wm := re.match(r"(?is)^WHERE\s+(.*)$", tail):
        rest = end + wm.start(1)
        nxt = next((m for m in ends if m.lastgroup != "where" and m.start() > end), None)
        end = nxt.start() if nxt else len(masked)
        w2 = masked[rest:end].strip().rstrip(";").strip()
        where = f"({where}) AND ({w2})" if where else w2
        tail = masked[end:].strip()
    siblings: list[tuple[str, bool, bool]] = []
    if sm := re.match(r"(?is)^ORDER\s+SIBLINGS\s+BY\s+(.*)$", tail):
        spec = sm.group(1).strip().rstrip(";").strip()
        spec_at = end + sm.start(1)
        # a trailing LIMIT/OFFSET at paren depth 0 ends the key list
        lims = [m for m in ends if m.lastgroup == "limit_ws" and m.start() > spec_at]
        cut = lims[0].start() - spec_at if lims else len(spec)
        siblings = [_parse_sibling_key(p) for p in _split_args(spec[:cut].strip())]
        tail_rest = spec[cut:].strip()
        tail = "ORDER BY __cbs" + (f" {tail_rest}" if tail_rest else "")
    start_with, connect_by = (cond1, cond2) if first is sw else (cond2, cond1)
    if not start_with or not connect_by:
        raise ValueError("CONNECT BY: empty START WITH or CONNECT BY condition")
    nm = re.match(r"(?is)^NOCYCLE\b\s*(.*)$", connect_by)
    if nm:
        connect_by = nm.group(1).strip()
    return _ConnectBy(
        select_list, table, where, start_with, connect_by, nm is not None, siblings, tail
    )


def _parse_sibling_key(part: str) -> tuple[str, bool, bool]:
    """One ORDER SIBLINGS BY key → (key, desc, nulls_first), with Oracle's
    NULL defaults: ASC → NULLS LAST, DESC → NULLS FIRST."""
    pm = _SIBLING_KEY.match(part)
    if pm is None:
        raise ValueError(
            "ORDER SIBLINGS BY: each key must be a base-table "
            "column or a parenthesized expression, optionally "
            "ASC|DESC and NULLS FIRST|LAST "
            f"(got {part.strip()[:40]!r})"
        )
    key = pm.group("key")
    if key.lower() == "level":
        raise ValueError(_LEVEL_ARG_ERRORS["ORDER SIBLINGS BY"])
    desc = (pm.group("dir") or "").upper() == "DESC"
    nf = pm.group("nf")
    return key, desc, desc if nf is None else nf.upper() == "FIRST"


class _Carry(NamedTuple):
    """The pseudo-columns one CONNECT BY rewrite carries through both CTE
    arms: CONNECT_BY_ROOT columns, SYS_CONNECT_BY_PATH (column, separator)
    → path index, and expression arguments (unmasked text → (masked
    text, derived ``__cbx_N`` column))."""

    lits: list[str]
    roots: dict[str, None]
    paths: dict[tuple[str, str], int]
    exprs: dict[str, tuple[str, str]]


def _expr_col(carry: _Carry, masked_expr: str) -> str:
    """The derived base column for an expression argument. The expression
    may reference base-table columns only: PRIOR, LEVEL or a pseudo-column
    inside it would need per-walk evaluation, which the carry model cannot
    see, so they are loud."""
    e = masked_expr.strip()
    if (
        re.search(r"(?i)\b(PRIOR|CONNECT_BY_\w+|SYS_CONNECT_BY_PATH)\b", e)
        or _BARE_LEVEL.search(e)
        # an already-substituted carry column (__cbp_N from a nested
        # SYS_CONNECT_BY_PATH processed first) is a pseudo-column in
        # disguise — same loud rule, not an unresolved-column leak
        or re.search(r"(?i)__cb[a-z]*_", e)
    ):
        raise ValueError(
            "CONNECT BY: a pseudo-column expression argument may "
            "reference base-table columns only — no PRIOR, LEVEL, or "
            f"nested pseudo-columns: {_unmask_literals(e, carry.lits)[:60]!r}"
        )
    # dedup on the UNMASKED text (sentinel-keyed dedup would carry
    # duplicate derived columns for textually identical expressions)
    key = _unmask_literals(e, carry.lits)
    if key not in carry.exprs:
        carry.exprs[key] = (e, f"__cbx_{len(carry.exprs)}")
    return carry.exprs[key][1]


def _carry_arg(carry: _Carry, text: str, who: str) -> str:
    """Resolve the argument of a ROOT, PATH or sibling key (``who`` names
    the caller) to the column carried for it: a simple column, lowercased,
    or the derived ``__cbx_N`` of an expression."""
    arg = text.strip()
    if not re.fullmatch(r"[\w$]+", arg):
        return _expr_col(carry, arg)
    col = arg.lower()
    if col == "level":
        raise ValueError(_LEVEL_ARG_ERRORS[who])
    if col.startswith("__cb"):
        # the reserved carry prefix: a substituted pseudo-column in
        # argument position is nested, and loud by the expression rule
        # (CONNECT_BY_ROOT registers the argument as written)
        _expr_col(carry, arg if who == "CONNECT_BY_ROOT" else col)
    return col


def _subst_pseudo(carry: _Carry, txt: str | None) -> str | None:
    """Replace SYS_CONNECT_BY_PATH(arg, sep) by ``__cbp_N`` and
    CONNECT_BY_ROOT arg / CONNECT_BY_ROOT(arg) by ``__cbr_<col>``,
    registering each in ``carry``."""
    if txt is None:
        return None
    while m := _SCBP_KW.search(txt):
        end = _scan_balanced(txt, m.end())
        arg, sep = _split_two_args(txt[m.end() : end - 1])
        col = _carry_arg(carry, arg, "SYS_CONNECT_BY_PATH")
        # dedup on the UNMASKED separator: two textually identical
        # calls mask their literals to different sentinels, and a
        # sentinel-keyed dict would carry duplicate path columns
        # through every frontier row
        key = (col, _unmask_literals(sep.strip(), carry.lits))
        idx = carry.paths.setdefault(key, len(carry.paths))
        txt = f"{txt[: m.start()]}__cbp_{idx}{txt[end:]}"
    while m := _CBR_KW.search(txt):
        after = txt[m.end() :].lstrip()
        arg_at = len(txt) - len(after)
        if after.startswith("("):
            end = _scan_balanced(txt, arg_at + 1)
            col = _carry_arg(carry, txt[arg_at + 1 : end - 1], "CONNECT_BY_ROOT")
        else:
            bm = re.match(r"([\w$]+)", after)
            if bm is None or after[bm.end() :].lstrip()[:1] in ("(", "."):
                raise ValueError(
                    "CONNECT_BY_ROOT: argument must be a simple unqualified "
                    "base-table column (parenthesize an expression), got "
                    f"{txt[m.start(): m.end() + 20]!r}"
                )
            col = _carry_arg(carry, bm.group(1).lower(), "CONNECT_BY_ROOT")
            end = arg_at + bm.end()
        carry.roots.setdefault(col)
        txt = f"{txt[: m.start()]}__cbr_{col}{txt[end:]}"
    return txt


def _level_cap(where: str | None) -> str:
    """The recursive-arm push-down of a top-level ``LEVEL <= n`` /
    ``LEVEL < n`` WHERE conjunct (the last one wins). Balanced outer
    parens strip, so the conjuncts of a merged '(w1) AND (w2)' push too."""
    cap = ""
    if where:
        cuts = [0] + [i for m in _depth0_matches(where, _AND_KW) for i in m.span()]
        for a, b in zip(cuts[::2], cuts[1::2] + [len(where)]):
            conj = _strip_outer_parens(where[a:b])
            if lm := re.match(r"(?is)^LEVEL\s*(<=|<)\s*(\d+)\s*$", conj):
                cap = f" AND __p.level + 1 {lm.group(1)} {lm.group(2)}"
    return cap


def _strip_outer_parens(s: str) -> str:
    """Strip balanced outermost parentheses: '((LEVEL <= 3))' → 'LEVEL <= 3'.
    Leaves '(a) AND (b)'-shaped text alone (the parens don't span it); an
    unclosed '(' counts as spanning, so '((a)' → '(a'."""
    s = s.strip()
    while s.startswith("(") and s.endswith(")"):
        try:
            if _scan_balanced(s, 1) != len(s):
                break
        except IndexError:
            pass
        s = s[1:-1].strip()
    return s


def _sibling_elem(carry: _Carry, keys: list[tuple[str, bool, bool]]) -> str:
    """One ORDER SIBLINGS BY array element: a struct of (flag, value)
    pairs, key-major in declaration order. A parenthesized key is an
    expression argument, carried as its derived column."""
    # Struct comparison is field-wise, so 'n0' settles key 0's NULL/NaN
    # placement before 'v0' compares, before key 1 is consulted. The flag
    # puts NULL at the requested end (a bare value sorts NULLs first).
    fields: list[str] = []
    for i, (key, desc, nulls_first) in enumerate(keys):
        if key.startswith("("):
            v = f"__c.{_expr_col(carry, key[1:-1])}"
        else:
            v = f"__c.{_carry_arg(carry, key, 'ORDER SIBLINGS BY')}"
        if desc:
            # DESC negates the value and adds a NaN band: negation leaves
            # NaN unchanged and NaN compares greatest, so a bare -(v) would
            # sort a float NaN LAST where descending order (NaN is the
            # greatest value — Oracle BINARY_DOUBLE and Spark agree) puts
            # it FIRST among non-NULL siblings. The NaN probe only sets the
            # flag (never the sort value, so BIGINT precision loss cannot
            # missort) and goes through a STRING round-trip + try_cast: a
            # bare CAST(v AS DOUBLE) fails analysis for key types that
            # negate but do not cast to double (a day-time INTERVAL).
            # try_cast(string AS DOUBLE) is analysis-total and yields NaN
            # exactly for a true float NaN, so DESC stays exactly as loud
            # as -(v) for non-numeric keys.
            null_f, nan_f, num_f = ("0", "1", "2") if nulls_first else ("2", "0", "1")
            fields.append(
                f"'n{i}', CASE WHEN {v} IS NULL THEN {null_f} "
                f"WHEN isnan(try_cast(CAST({v} AS STRING) AS DOUBLE)) "
                f"THEN {nan_f} ELSE {num_f} END"
            )
            fields.append(f"'v{i}', -({v})")
        else:
            # ASC needs no NaN band: NaN natively compares greatest, which
            # is its ascending place among non-NULL values
            nf_case = "0 ELSE 1" if nulls_first else "1 ELSE 0"
            fields.append(f"'n{i}', CASE WHEN {v} IS NULL THEN {nf_case} END")
            fields.append(f"'v{i}', {v}")
    return f"named_struct({', '.join(fields)})"


def _cyc_key(q: str, prior_cols: list[str]) -> str:
    """Render the NOCYCLE row-identity key (the PRIOR-referenced column
    tuple) as one string frame ``|k1~k2~...|``, with delimiter chars
    INSIDE a value escaped ('!'→'!!' first, then '|'→'!p', '~'→'!t') so
    a value like 'q|a|r' cannot fabricate a '|a|' frame; NULL renders as
    '!n' and '' as '!e' — both unreachable from real values after
    '!'-doubling, so neither a NULL-sentinel collision nor an empty
    frame component can mis-prune. ``q`` is the column qualifier prefix
    ('__c.' in the CTE arms, '' inside the probe's base-table
    subselect)."""
    key_parts = ", '~', ".join(
        f"CASE WHEN {q}{k} IS NULL THEN '!n' "
        f"WHEN CAST({q}{k} AS STRING) = '' THEN '!e' "
        "ELSE replace(replace(replace("
        f"CAST({q}{k} AS STRING), '!', '!!'), '|', '!p'), '~', '!t') END"
        for k in prior_cols
    )
    return f"concat('|', {key_parts}, '|')"


def _carried_columns(
    carry: _Carry, siblings: list[tuple[str, bool, bool]], nocycle: bool,
    prior_cols: list[str],
) -> list[tuple[str, str, str]]:
    """Each carried column as (name, base-arm expr, recursive-arm expr):
    ROOT seeds and propagates, PATH seeds ``sep || col`` and appends (a
    NULL column renders empty), the sibling array appends one element,
    and NOCYCLE appends the row's key to its ancestor path."""
    cols = [(f"__cbr_{c}", f"__c.{c}", f"__p.__cbr_{c}") for c in carry.roots]
    for (c, sep), idx in carry.paths.items():
        step = f"coalesce(CAST(__c.{c} AS STRING), '')"
        rec = f"concat(__p.__cbp_{idx}, {sep}, {step})"
        cols.append((f"__cbp_{idx}", f"concat({sep}, {step})", rec))
    if siblings:
        elem = f"array({_sibling_elem(carry, siblings)})"
        cols.append(("__cbs", elem, f"concat(__p.__cbs, {elem})"))
    if nocycle:
        key = _cyc_key("__c.", prior_cols)
        cols.append(("__cyc", key, f"concat(__p.__cyc, {key})"))
    return cols


def _probe_ctes(
    join_cond: str, prior_cols: list[str], base_src: str, nocycle: bool,
    probes: set[str],
) -> tuple[str, str]:
    """The ISLEAF/ISCYCLE probe CTEs and the outer FROM source: the walk's
    DISTINCT parent tuples LEFT JOIN the base table on the connect
    condition. Under NOCYCLE each child is classified by the recursive
    arm's own instr() guard: ISCYCLE = some child pruned as an
    ancestor-or-self, ISLEAF = no child expanded."""
    # (walk column, its name in the probe, how the walk joins back to it)
    keys = [(c, f"__prior_{c}", "<=>") for c in prior_cols]
    keys.append(("level", "__prior_level", "="))
    if nocycle:
        keys.append(("__cyc", "__prior_cyc", "="))
        child_cols = f"*, {_cyc_key('', prior_cols)} AS __ck"
        pruned = "instr(__p.__prior_cyc, __c.__ck) > 0"
        flags = []
        if "__cbleaf" in probes:
            flags.append(
                f" CAST(CASE WHEN COUNT(CASE WHEN NOT ({pruned}) THEN 1"
                " END) = 0 THEN 1 ELSE 0 END AS INT) AS __cbleaf"
            )
        if "__cbcyc" in probes:
            flags.append(
                f" CAST(CASE WHEN COUNT(CASE WHEN {pruned} THEN 1 END)"
                " > 0 THEN 1 ELSE 0 END AS INT) AS __cbcyc"
            )
    else:
        child_cols = "*, 1 AS __one"
        flags = [
            " CAST(CASE WHEN COUNT(__c.__one) = 0 THEN 1 ELSE 0 END"
            " AS INT) AS __cbleaf"
        ]
    leaf_cond = join_cond.replace("__p.level", "__p.__prior_level")
    dist = ", ".join(f"{c} AS {p}" for c, p, _ in keys)
    gcols = ", ".join(f"__p.{p}" for _, p, _ in keys)
    ctes = (
        f", __cbd AS (SELECT DISTINCT {dist} FROM __cb)"
        f", __cbl AS ("
        f" SELECT {gcols},{','.join(flags)}"
        f" FROM __cbd __p"
        f" LEFT JOIN (SELECT {child_cols} FROM {base_src}) __c"
        f" ON ({leaf_cond})"
        f" GROUP BY {gcols})"
    )
    back = " AND ".join(f"__cb.{c} {op} __cbl.{p}" for c, p, op in keys)
    return ctes, f"__cb JOIN __cbl ON ({back})"


def _rewrite_connect_by(sql: str) -> str:
    """``SELECT ... FROM t [WHERE w] START WITH s CONNECT BY [NOCYCLE] c
    [WHERE w2] [ORDER SIBLINGS BY k, ... | ORDER BY ...] [LIMIT/OFFSET]``
    → WITH RECURSIVE.

    Subset, loud otherwise: one top-level SELECT with one START WITH /
    CONNECT BY pair in either order (no nesting or UNION), one unaliased
    table, at least one PRIOR, explicit columns (Redshift's ``*``
    excludes LEVEL, the CTE's cannot), and no pseudo-columns inside
    START WITH or the condition.

    PRIOR model: the recursive arm joins the base table (child, ``__c``)
    to the working set with each PRIOR column renamed ``__prior_<col>``,
    so bare columns in the condition are the child's and ``PRIOR x`` is
    ``__p.__prior_x`` — Oracle/Redshift's two-row evaluation. A bare
    LEVEL in the condition is the CHILD's level (the condition decides
    whether to produce the child): ``__p.level + 1``, not ``__p.level``.

    Carry model: CONNECT_BY_ROOT, SYS_CONNECT_BY_PATH (a NULL renders
    empty), the ORDER SIBLINGS BY key path and the NOCYCLE ancestor path
    are columns carried through both arms — no extra join or shuffle. An
    expression argument (parenthesized, base-table columns only) is
    computed row-locally in a derived base CTE ``__cbb`` and carried like
    a column. NOCYCLE joins only children whose PRIOR-column key is not
    on the ancestor path, so a walk stops at a row that is its own
    ancestor. ORDER SIBLINGS BY sorts by the array of sibling keys along
    the root-to-row path: a parent's array is a prefix of its children's
    and sorts first, so the order is depth-first with ordered siblings.
    DESC negates the key, so a non-numeric DESC key fails under ANSI;
    the zero-shuffle spellings are expression keys: DATE →
    (DATEDIFF(day, col, DATE '1970-01-01')) ASC, TIMESTAMP →
    (-unix_micros(col)), STRING → (TRANSLATE(hex(encode(col,'utf-8')),
    '0123456789ABCDEF','FEDCBA9876543210') || 'G') ASC, exact
    UTF8_BINARY DESC (fuzz-verified against the Python DFS model).

    Probes: CONNECT_BY_ISLEAF and CONNECT_BY_ISCYCLE need a lookahead the
    recursion cannot see, so they are a post-CTE probe on the tree the
    condition defines (a WHERE cap does not make capped rows leaves, an
    in-condition ``LEVEL <= k`` does). ISCYCLE requires NOCYCLE, as in
    Oracle (ORA-30007).

    WHERE, in either position, filters after expansion. A top-level
    ``LEVEL <= n`` conjunct also pushes into the recursive arm: it is
    monotone in depth, so the pruning is exact, and it bounds the
    recursion (4.9× at sf10, docs/ROUND7.md). Loud limits: a cycle with
    no NOCYCLE or LEVEL cap stops at Spark's RECURSION_LEVEL_LIMIT_EXCEEDED,
    never a hang; a walk over spark.sql.cteRecursionRowLimit rows
    (default 1M) stops at RECURSION_ROW_LIMIT_EXCEEDED, so raise that
    conf for big trees (a 1.5M-row walk runs fine at 50M,
    tools/connectby_probe_ab.py). No join hint is emitted: UnionLoop
    plans each frontier join at runtime from the frontier's real size.
    """
    masked, lits = _mask_literals(sql)
    cb = _parse_connect_by(masked)
    if cb is None:
        return sql
    prior_cols = sorted({m.group(1).lower() for m in _PRIOR_REF.finditer(cb.connect_by)})
    if not prior_cols:
        raise ValueError("CONNECT BY: the condition must reference PRIOR <column>")
    join_cond = _PRIOR_REF.sub(lambda m: f"__p.__prior_{m.group(1).lower()}", cb.connect_by)
    join_cond = _BARE_LEVEL.sub("(__p.level + 1)", join_cond)
    carry = _Carry(lits, {}, {}, {})
    texts = [_subst_pseudo(carry, t) for t in (cb.select_list, cb.where, cb.tail)]
    probes: set[str] = set()
    for col, pat in _CB_PROBES:
        for i, t in enumerate(texts):
            if t and pat.search(t):
                probes.add(col)
                texts[i] = pat.sub(col, t)
    select_list, where, tail = texts
    if "__cbcyc" in probes and not cb.nocycle:
        raise ValueError(
            "CONNECT BY: CONNECT_BY_ISCYCLE requires the NOCYCLE keyword "
            "(without NOCYCLE a cycle is an error, not a flag)"
        )
    if _CB_PSEUDO.search(f"{cb.start_with} {cb.connect_by}"):
        raise ValueError(
            "CONNECT BY: pseudo-columns are not supported inside START WITH "
            "or the CONNECT BY condition"
        )
    # the carried columns render first: an expression sibling key
    # registers its derived column in the base CTE
    cols = _carried_columns(carry, cb.siblings, cb.nocycle, prior_cols)
    base_src, pre_cte = cb.table, ""
    if carry.exprs:
        xcols = ", ".join(f"({e}) AS {c}" for e, c in carry.exprs.values())
        base_src, pre_cte = "__cbb", f"__cbb AS (SELECT *, {xcols} FROM {cb.table}), "
    proj_prior = [f"{c} AS __prior_{c}" for c in prior_cols] + ["level"]
    proj_prior += [n for n, _, _ in cols]
    base_sel = ["__c.*", "CAST(1 AS INT) AS level"] + [f"{b} AS {n}" for n, b, _ in cols]
    rec_sel = ["__c.*", "__p.level + 1 AS level"] + [f"{r} AS {n}" for n, _, r in cols]
    guard = _level_cap(where)
    if cb.nocycle:
        guard += f" AND instr(__p.__cyc, {_cyc_key('__c.', prior_cols)}) = 0"
    probe_ctes, src = "", "__cb"
    if probes:
        probe_ctes, src = _probe_ctes(join_cond, prior_cols, base_src, cb.nocycle, probes)
    rewritten = (
        f"WITH RECURSIVE {pre_cte}__cb AS ("
        f" SELECT {', '.join(base_sel)} FROM {base_src} __c"
        f" WHERE {cb.start_with}"
        f" UNION ALL"
        f" SELECT {', '.join(rec_sel)}"
        f" FROM {base_src} __c"
        f" JOIN (SELECT {', '.join(proj_prior)} FROM __cb) __p"
        f" ON ({join_cond}){guard}"
        f"){probe_ctes} SELECT {select_list} FROM {src}"
        + (f" WHERE {where}" if where else "")
        + (f" {tail}" if tail else "")
    )
    return _unmask_literals(rewritten, lits)


def _rewrite_replicate(sql: str) -> str:
    """REPLICATE (Redshift's REPEAT alias) → repeat."""
    masked, lits = _mask_literals(sql)
    masked = re.sub(r"\bREPLICATE\s*\(", "repeat(", masked, flags=re.IGNORECASE)
    return _unmask_literals(masked, lits)


def _rewrite_log_base10(sql: str) -> str:
    """Redshift's 1-arg LOG is base-10; Spark's 1-arg log is NATURAL —
    a silent-wrong-answer trap, so the rewrite is mandatory. Only the
    one-argument form rewrites (a 2-arg log(base, x) means the same in
    both engines' extended dialects). A TABLE named ``log`` is NOT a
    call: table-name positions (CREATE TABLE log (...), INSERT INTO
    log (...), FROM/JOIN log, alias log (...)) are excluded by the
    preceding keyword."""
    name_pos = re.compile(
        r"(?is)\b(?:TABLE|VIEW|INTO|FROM|JOIN|UPDATE|USING|EXISTS|AS)\s*$"
    )

    def render(m: re.Match, body: str) -> str | None:
        # text left of a match is never rewritten before it, so the
        # input's prefix is the current one
        if name_pos.search(sql[: m.start()]) or len(_split_args(body)) != 1:
            return None
        return f"log10({body})"

    return _rewrite_calls(sql, re.compile(r"\bLOG\s*\(", re.IGNORECASE), render)


def _rewrite_to_hex(sql: str) -> str:
    """TO_HEX(n) → lower(hex(n)) (Redshift emits lowercase hex; Spark's
    hex() is uppercase)."""
    return _rewrite_calls(
        sql,
        re.compile(r"\bTO_HEX\s*\(", re.IGNORECASE),
        lambda m, arg: f"lower(hex({arg}))",
    )


def _rewrite_json_fns(sql: str) -> str:
    """Redshift JSON battery (r8):
    - JSON_ARRAY_LENGTH(j[, flag]) → json_array_length(j). Spark returns
      NULL on malformed input — the null_if_invalid=true behavior; the
      1-arg Redshift form errors there instead (documented divergence,
      the lenient direction).
    - JSON_EXTRACT_ARRAY_ELEMENT_TEXT(j, n[, flag]) → get_json_object(j,
      '$[n]'). The position must be an integer LITERAL (get_json_object
      paths are compile-time foldable) — anything else is loud.
    - IS_VALID_JSON(j) → well-formed AND not a top-level array;
      IS_VALID_JSON_ARRAY(j) → well-formed AND a top-level array
      (Redshift splits array validation into its own function). Checked
      via try_parse_json + a first-non-space-char probe.
    - SPLIT_TO_ARRAY(s, d) → split(s, '\\\\Q' || d || '\\\\E') — Spark's
      split takes a REGEX; the \\\\Q quoting keeps Redshift's literal-
      delimiter contract for any delimiter (e.g. '.').
    """

    def array_length(m: re.Match, body: str) -> str | None:
        # Spark's native json_array_length takes ONE arg; only the
        # Redshift 2-arg (null_if_invalid) form needs the flag dropped
        args = _split_args(body)
        if len(args) < 2:
            return None
        flag = args[1].strip().lower()
        if flag != "true":
            # error-on-invalid is the semantics Spark's lenient
            # json_array_length cannot express — loud, never silent;
            # and a NON-LITERAL flag (variable/column) cannot be
            # resolved at rewrite time, so dropping it would silently
            # pick the lenient branch (r9 review) — also loud
            raise ValueError(
                "JSON_ARRAY_LENGTH: null_if_invalid must be the literal "
                "true (the error-on-invalid form is unsupported — Spark "
                f"returns NULL on malformed input); got {flag[:30]!r}"
            )
        return f"json_array_length({args[0]})"

    def element_text(m: re.Match, body: str) -> str:
        args = _split_args(body)
        if len(args) < 2 or not re.fullmatch(r"\d+", args[1].strip()):
            raise ValueError(
                "JSON_EXTRACT_ARRAY_ELEMENT_TEXT: position must be an integer "
                f"literal (got {args[1].strip()[:30]!r})" if len(args) >= 2
                else "JSON_EXTRACT_ARRAY_ELEMENT_TEXT needs (json, pos)"
            )
        if len(args) >= 3 and args[2].strip().lower() != "true":
            # mirror JSON_ARRAY_LENGTH: the error-on-invalid form cannot
            # be expressed over Spark's lenient get_json_object, and a
            # non-literal flag cannot be resolved at rewrite time — loud
            # either way, never silently downgraded (r9 review)
            raise ValueError(
                "JSON_EXTRACT_ARRAY_ELEMENT_TEXT: null_if_invalid must be "
                "the literal true (the error-on-invalid form is "
                "unsupported — Spark returns NULL on malformed input); "
                f"got {args[2].strip()[:30]!r}"
            )
        return f"get_json_object({args[0]}, '$[{args[1].strip()}]')"

    def is_valid(m: re.Match, j: str) -> str:
        # first-NON-WHITESPACE-char probe: JSON permits leading
        # tabs/newlines too, which Spark's ltrim (space-only) would
        # leave in place — a regex anchor classifies correctly
        probe = "" if m.group(1) else "NOT "
        return (
            f"(try_parse_json({j}) IS NOT NULL "
            f"AND {probe}regexp_like({j}, '^\\\\s*\\\\['))"
        )

    def split_to_array(m: re.Match, body: str) -> str:
        s, d = _split_two_args(body)
        return f"split({s}, concat('\\\\Q', {d}, '\\\\E'))"

    for pattern, render in (
        (r"\bJSON_ARRAY_LENGTH\s*\(", array_length),
        (r"\bJSON_EXTRACT_ARRAY_ELEMENT_TEXT\s*\(", element_text),
        (r"\bIS_VALID_JSON(_ARRAY)?\s*\(", is_valid),
        (r"\bSPLIT_TO_ARRAY\s*\(", split_to_array),
    ):
        sql = _rewrite_calls(sql, re.compile(pattern, re.IGNORECASE), render)
    return sql


def _rewrite_strtol(sql: str) -> str:
    """STRTOL(str, base) → CAST(conv(str, base, 10) AS BIGINT)."""

    def render(m: re.Match, body: str) -> str:
        s, base = _split_two_args(body)
        return f"CAST(conv({s}, {base}, 10) AS BIGINT)"

    return _rewrite_calls(sql, re.compile(r"\bSTRTOL\s*\(", re.IGNORECASE), render)


def _rewrite_difference(sql: str) -> str:
    """DIFFERENCE(a, b) → position-wise match count of the two American
    Soundex codes (0-4; 4 = identical codes), composed from Spark's
    native soundex(). Redshift documents the result as 'the number of
    matching characters' of the codes; this is the position-wise
    reading (identical codes → 4 either way)."""

    def render(m: re.Match, body: str) -> str:
        a, b = _split_two_args(body)
        terms = " + ".join(
            f"(CASE WHEN substring(soundex({a}), {i}, 1) = "
            f"substring(soundex({b}), {i}, 1) THEN 1 ELSE 0 END)"
            for i in (1, 2, 3, 4)
        )
        return f"({terms})"

    return _rewrite_calls(
        sql, re.compile(r"\bDIFFERENCE\s*\(", re.IGNORECASE), render
    )


def _rewrite_get_byte(sql: str) -> str:
    """GET_BYTE(expr, offset) → the 0-based byte value via a binary
    substring (hex → base-10)."""

    def render(m: re.Match, body: str) -> str:
        a, off = _split_two_args(body)
        return (
            f"CAST(conv(hex(substring(CAST({a} AS BINARY), "
            f"({off}) + 1, 1)), 16, 10) AS INT)"
        )

    return _rewrite_calls(sql, re.compile(r"\bGET_BYTE\s*\(", re.IGNORECASE), render)


def _rewrite_cmp_fns(sql: str) -> str:
    """DATE_CMP / TIMESTAMP_CMP / DATE_CMP_TIMESTAMP /
    TIMESTAMP_CMP_DATE (a, b) → the -1/0/+1 CASE comparison (Spark
    compares date↔timestamp operands directly)."""

    def render(m: re.Match, body: str) -> str:
        a, b = _split_two_args(body)
        return f"CASE WHEN ({a}) < ({b}) THEN -1 WHEN ({a}) > ({b}) THEN 1 ELSE 0 END"

    return _rewrite_calls(
        sql,
        re.compile(
            r"\b(?:DATE_CMP(?:_TIMESTAMP)?|TIMESTAMP_CMP(?:_DATE)?)\s*\(", re.IGNORECASE
        ),
        render,
    )


def _rewrite_quote_fns(sql: str) -> str:
    """QUOTE_IDENT(s) → '"'-wrapped with internal quotes doubled;
    QUOTE_LITERAL(s) → '-wrapped likewise (Redshift/Postgres quoting
    helpers; pure string expressions in both engines)."""
    for kw, q, esc in (("QUOTE_IDENT", '"', '""'), ("QUOTE_LITERAL", "''", "''''")):
        sql = _rewrite_calls(
            sql,
            re.compile(rf"\b{kw}\s*\(", re.IGNORECASE),
            lambda m, arg: f"concat('{q}', replace({arg}, '{q}', '{esc}'), '{q}')",
        )
    return sql


def _rewrite_to_number(sql: str) -> str:
    """TO_NUMBER(s, 'fmt') → CAST of s with grouping/currency chars
    stripped, typed DECIMAL(p, s) from the format's digit layout.
    Supported format alphabet: 9 0 , . $ S — anything else raises
    (loud-on-unsupported, the module policy)."""

    def render(m: re.Match, body: str) -> str:
        expr, fmt = _split_two_args(body)
        fm = re.match(r"^\s*'([^']*)'\s*$", fmt)
        if fm is None:
            raise ValueError(f"TO_NUMBER: format must be a string literal, got {fmt!r}")
        f = fm.group(1)
        if not re.fullmatch(r"[90,.$S]+", f):
            raise ValueError(
                f"TO_NUMBER: unsupported format {f!r} (supported alphabet: 9 0 , . $ S)"
            )
        digits = [len(p.replace(",", "").replace("$", "").replace("S", "")) for p in f.split(".")]
        prec, scale = digits[0] + (digits[1] if len(digits) > 1 else 0), (
            digits[1] if len(digits) > 1 else 0
        )
        return (
            f"CAST(replace(replace({expr}, ',', ''), '$', '') "
            f"AS DECIMAL({prec},{scale}))"
        )

    return _rewrite_calls(sql, re.compile(r"\bTO_NUMBER\s*\(", re.IGNORECASE), render)


_CAST_SPELLINGS = {
    "INT8": "BIGINT",
    "INT4": "INT",
    "INT2": "SMALLINT",
    "FLOAT8": "DOUBLE",
    "FLOAT4": "FLOAT",
    "NUMERIC": "DECIMAL",
    "BPCHAR": "CHAR",
}


def _rewrite_type_spellings(sql: str) -> str:
    """Redshift type spellings in EXPRESSIONS → Spark spellings: the
    two-word forms (DOUBLE PRECISION, CHARACTER VARYING) anywhere (no
    identifier can collide with a two-word sequence), the single-word
    aliases only in unambiguous cast positions — after ``::`` or as a
    ``CAST/CONVERT`` tail (``AS <type>[(p[,s])])``, never as a bare
    word, so a column actually named ``int8`` survives. DDL column
    lists have their own normalizer (script_runner._normalize_ddl_types)."""
    masked, lits = _mask_literals(sql)
    masked = re.sub(r"\bDOUBLE\s+PRECISION\b", "DOUBLE", masked, flags=re.IGNORECASE)
    masked = re.sub(r"\bCHARACTER\s+VARYING\b", "VARCHAR", masked, flags=re.IGNORECASE)
    names = "|".join(_CAST_SPELLINGS)
    masked = re.sub(
        rf"(::\s*)({names})\b",
        lambda m: m.group(1) + _CAST_SPELLINGS[m.group(2).upper()],
        masked,
        flags=re.IGNORECASE,
    )
    masked = re.sub(
        rf"(\bAS\s+)({names})(\s*(?:\(\s*\d+(?:\s*,\s*\d+)?\s*\))?\s*\))",
        lambda m: m.group(1) + _CAST_SPELLINGS[m.group(2).upper()] + m.group(3),
        masked,
        flags=re.IGNORECASE,
    )
    # length-less VARCHAR casts are valid Redshift (unbounded); Spark's
    # parser demands a length — STRING is the unbounded spelling
    masked = re.sub(r"(::\s*)VARCHAR(?!\s*\()", r"\1STRING", masked, flags=re.IGNORECASE)
    masked = re.sub(
        r"(\bAS\s+)VARCHAR(\s*\))", r"\1STRING\2", masked, flags=re.IGNORECASE
    )
    return _unmask_literals(masked, lits)


def _rewrite_now(sql: str) -> str:
    masked, lits = _mask_literals(sql)
    masked = re.sub(r"\bGETDATE\s*\(\s*\)", "current_timestamp()", masked, flags=re.IGNORECASE)
    masked = re.sub(r"\bSYSDATE\b", "current_timestamp()", masked, flags=re.IGNORECASE)
    return _unmask_literals(masked, lits)


def _strip_storage_clauses(sql: str) -> str:
    masked, lits = _mask_literals(sql)
    masked = re.sub(r"\bDISTSTYLE\s+\w+", "", masked, flags=re.IGNORECASE)
    masked = re.sub(r"\b(DISTKEY|SORTKEY|INTERLEAVED\s+SORTKEY|COMPOUND\s+SORTKEY)\s*\([^)]*\)", "", masked, flags=re.IGNORECASE)
    masked = re.sub(r"\bSORTKEY\s+AUTO\b", "", masked, flags=re.IGNORECASE)
    masked = re.sub(r"\bBACKUP\s+(?:YES|NO)\b", "", masked, flags=re.IGNORECASE)
    masked = re.sub(r"\bENCODE\s+\w+", "", masked, flags=re.IGNORECASE)
    return _unmask_literals(masked, lits)


def translate_redshift_sql(sql: str) -> str:
    """Rewrite Redshift-dialect SQL into Spark SQL (subset; see module
    docstring). Pure text transformation — inspectable and testable.
    Comments are stripped FIRST: every scanner below tracks literal
    parity, which an apostrophe inside a comment would flip.
    _rewrite_top runs before _rewrite_qualify so TOP + QUALIFY composes
    (qualify keeps the appended LIMIT in its tail)."""
    sql = strip_sql_comments(sql)
    for fn in (rewrite_temp_names, _rewrite_connect_by, _rewrite_partiql_unnest, _rewrite_top, _rewrite_qualify, _rewrite_convert, _rewrite_type_spellings, _rewrite_datediff, _rewrite_to_char, _rewrite_to_datetime, _rewrite_json_extract, _rewrite_listagg, _rewrite_ratio_to_report, _rewrite_approx_count, _rewrite_approx_percentile, _rewrite_similar_to, _rewrite_date_part_year, _rewrite_extract_epoch, _rewrite_at_time_zone, _rewrite_string_fns, _rewrite_trunc, _rewrite_math_aliases, _rewrite_replicate, _rewrite_log_base10, _rewrite_to_hex, _rewrite_strtol, _rewrite_json_fns, _rewrite_cmp_fns, _rewrite_difference, _rewrite_get_byte, _rewrite_quote_fns, _rewrite_to_number, _rewrite_now, _strip_storage_clauses):
        sql = fn(sql)
    return sql


def run_redshift_sql(spark: SparkSession, sql: str) -> DataFrame:
    """Execute Redshift-dialect SQL on Spark (tables must be registered
    as views, e.g. via catalog.register_views)."""
    return spark.sql(translate_redshift_sql(sql))
