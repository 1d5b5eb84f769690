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
from typing import Callable

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


# Redshift hierarchical queries: SELECT ... FROM t [WHERE w]
# START WITH cond CONNECT BY [NOCYCLE] PRIOR-cond
# [ORDER SIBLINGS BY col | ORDER BY/LIMIT].
# Rewritten to a recursive CTE (Spark 4 executes those natively via
# UnionLoop — same engine path as redshift_sql_recursive). LEVEL is
# exposed as the CTE's `level` column; CONNECT_BY_ROOT arg and
# SYS_CONNECT_BY_PATH(arg, 'sep') become columns carried through both
# CTE arms (r8; an EXPRESSION arg is precomputed row-locally in a
# derived base CTE — r9); NOCYCLE guards the recursive join on a
# carried ancestor-key path; CONNECT_BY_ISLEAF and (under NOCYCLE)
# CONNECT_BY_ISCYCLE are post-CTE lookahead probes (r9). Subset (loud
# otherwise): one top-level clause pair, a single unaliased table, at
# least one PRIOR reference, base-column-only pseudo-column expression
# arguments, ISCYCLE only with NOCYCLE (Oracle's ORA-30007 contract),
# no pseudo-columns inside START WITH / CONNECT BY conditions, no bare
# `SELECT *` (Redshift's * excludes the LEVEL pseudocolumn; the CTE's
# cannot).
_START_WITH_KW = re.compile(r"\bSTART\s+WITH\b", re.IGNORECASE)
_CONNECT_BY_KW = re.compile(r"\bCONNECT\s+BY\b", re.IGNORECASE)
_WHERE_KW = re.compile(r"\bWHERE\b", re.IGNORECASE)
_CB_TAIL_KW = re.compile(
    r"\b(ORDER\s+SIBLINGS\s+BY|ORDER\s+BY|LIMIT|OFFSET)\b", re.IGNORECASE
)
_PRIOR_REF = re.compile(r"\bPRIOR\s+([\w$]+)\b", re.IGNORECASE)
_CBR_KW = re.compile(r"(?i)\bCONNECT_BY_ROOT\b")
_SCBP_KW = re.compile(r"(?i)\bSYS_CONNECT_BY_PATH\s*\(")
# bare LEVEL (not a qualified __p.level) — in the CONNECT BY condition it
# means the CHILD row's level, i.e. parent + 1 (Oracle/Redshift evaluate
# the condition when deciding whether to produce the child)
_BARE_LEVEL = re.compile(r"(?i)(?<![\w$.])LEVEL(?![\w$])")


def _strip_outer_parens(s: str) -> str:
    """Strip balanced outermost parentheses: '((LEVEL <= 3))' → 'LEVEL <= 3'.
    Leaves '(a) AND (b)'-shaped text alone (the parens don't span it)."""
    s = s.strip()
    while s.startswith("(") and s.endswith(")"):
        depth = 0
        spans = True
        for i, ch in enumerate(s):
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth == 0 and i != len(s) - 1:
                    spans = False
                    break
        if not spans:
            break
        s = s[1:-1].strip()
    return s


def _rewrite_connect_by(sql: str) -> str:
    """``START WITH ... CONNECT BY [NOCYCLE] PRIOR ...`` → WITH RECURSIVE.

    The recursive arm joins the base table (child side, ``__c``) against
    a projection of the working set that renames each PRIOR-referenced
    column to ``__prior_<col>`` — so unqualified column references in
    the CONNECT BY condition resolve unambiguously to the child row and
    ``PRIOR x`` rewrites to ``__p.__prior_x`` (plus the parent's level),
    exactly Oracle/Redshift's two-row evaluation model. A bare LEVEL in
    the CONNECT BY condition is the CHILD's level — the condition is
    evaluated to decide whether to produce the child — so it rewrites to
    ``__p.level + 1``, not ``__p.level`` (off-by-one otherwise).

    Pseudo-columns (r8) become columns CARRIED through both CTE arms,
    one extra projected column each — no extra join or shuffle:
    ``CONNECT_BY_ROOT col`` seeds ``col`` in the base arm and propagates
    it verbatim through the recursive arm; ``SYS_CONNECT_BY_PATH(col,
    sep)`` seeds ``sep || col`` and appends per level (NULL renders
    empty, Oracle's contract); ``NOCYCLE`` carries a '|'-delimited path
    of the PRIOR-column tuple and guards the recursive join with
    ``instr(path, child_key) = 0`` — the walk stops at a row that is its
    own ancestor instead of erroring at the recursion limit. Row
    identity for cycle detection = the PRIOR-referenced columns (the
    parent-key pattern), a documented subset.

    r9 additions: EXPRESSION arguments to ROOT/PATH (parenthesized,
    base-table columns only) precompute in a derived base CTE and carry
    like simple columns; CONNECT_BY_ISLEAF is a post-CTE lookahead probe
    of the distinct parent tuples against the base table on the same
    connect condition; CONNECT_BY_ISCYCLE (NOCYCLE required — Oracle's
    ORA-30007 contract) and ISLEAF-under-NOCYCLE share one probe that
    classifies each condition-child by the recursive arm's own instr()
    guard: ISCYCLE = some child pruned as an ancestor-or-self; ISLEAF =
    no child expanded (a row whose every child is cycle-pruned cannot be
    further expanded, so it IS a leaf of the returned tree). A WHERE clause
    (Oracle position before START WITH, or trailing after the clause
    pair) filters AFTER hierarchy expansion (Redshift's semantics), so
    it lands on the outer SELECT — except a top-level ``LEVEL <= n``
    conjunct, which ALSO pushes into the recursive arm (monotone in
    depth, so pruning is exact) and bounds the recursion (measured 4.9×
    at sf10, docs/ROUND7.md). Cyclic data without a LEVEL cap stops
    LOUDLY at Spark's RECURSION_LEVEL_LIMIT_EXCEEDED (both behaviors
    unit-tested) — never a silent hang. Capacity knob (r9, measured):
    Spark also guards recursive CTEs with a total ROW limit
    (spark.sql.cteRecursionRowLimit, default 1M) — a legitimate
    hierarchy above that stops loudly with RECURSION_ROW_LIMIT_EXCEEDED;
    raise the conf for big trees (a 1.5M-row walk runs fine at a 50M
    cap, tools/connectby_probe_ab.py) — the DEPTH guard stays in force
    and still bounds cyclic runaway. Scale note: the formatted plan
    shows a bare Join over UnionLoopRef — UnionLoop plans each
    iteration's frontier join AT RUNTIME with the materialized
    frontier's actual size, which is exactly right (a small frontier
    broadcasts; a wide tree's doesn't), so no static join hint is
    emitted here.
    """
    masked, lits = _mask_literals(sql)
    cbs = _depth0_matches(masked, _CONNECT_BY_KW)
    if not cbs:
        return sql
    sws = _depth0_matches(masked, _START_WITH_KW)
    selects = _depth0_matches(masked, _SELECT_KW)
    froms = _depth0_matches(masked, _FROM_KW)
    if len(cbs) != 1 or len(sws) != 1 or len(selects) != 1 or len(froms) != 1:
        raise ValueError(
            "CONNECT BY: only one top-level SELECT ... FROM <table> "
            "START WITH ... CONNECT BY ... is supported (no nesting/UNION)"
        )
    sel, frm, sw, cb = selects[0], froms[0], sws[0], cbs[0]
    select_list = masked[sel.end() : frm.start()].strip()
    if select_list == "*":
        raise ValueError(
            "CONNECT BY: list columns explicitly — Redshift's * excludes "
            "the LEVEL pseudocolumn, the rewrite's working set cannot"
        )
    first, second = (sw, cb) if sw.start() < cb.start() else (cb, sw)
    wheres = [
        w
        for w in _depth0_matches(masked, _WHERE_KW)
        if frm.end() <= w.start() < first.start()
    ]
    if wheres:
        where_part = masked[wheres[0].end() : first.start()].strip()
        from_part = masked[frm.end() : wheres[0].start()].strip()
    else:
        where_part = None
        from_part = masked[frm.end() : first.start()].strip()
    tm = re.match(r"(?s)^[\w.]+$", from_part)
    if tm is None:
        raise ValueError(
            f"CONNECT BY: FROM must be a single unaliased table, got {from_part[:40]!r}"
        )
    cond1 = masked[first.end() : second.start()].strip()
    ends = [
        t
        for t in _depth0_matches(masked, _CB_TAIL_KW) + _depth0_matches(masked, _WHERE_KW)
        if t.start() > second.end()
    ]
    end2 = min((t.start() for t in ends), default=len(masked))
    cond2 = masked[second.end() : end2].strip().rstrip(";").strip()
    tail = masked[end2:].strip()
    # a TRAILING WHERE (after the clause pair) filters post-expansion
    # exactly like the Oracle-position one — merge them
    if wm2 := re.match(r"(?is)^WHERE\s+(.*)$", tail):
        rest = wm2.group(1)
        sub = _depth0_matches(rest, _CB_TAIL_KW)
        w2 = (rest[: sub[0].start()] if sub else rest).strip().rstrip(";").strip()
        tail = rest[sub[0].start() :].strip() if sub else ""
        where_part = f"({where_part}) AND ({w2})" if where_part else w2
    # ORDER SIBLINGS BY (r9; widened r10): depth-first output with
    # siblings ordered — implemented as a CARRIED array of the sibling
    # key tuple along the root-to-row path. Arrays compare
    # lexicographically (element-wise, then by length), which IS
    # depth-first-with-ordered-siblings: a parent's array is a proper
    # prefix of its children's (parent first), siblings differ exactly
    # in their last element (the key tuple), and cross-subtree rows
    # differ at the first divergent ancestor. A prefix sorts before its
    # extensions REGARDLESS of element values, so per-key direction
    # never disturbs parent-before-child.
    # r10 subset: MULTIPLE keys (key-major via struct field order);
    # per-key ASC|DESC and NULLS FIRST|LAST (Oracle defaults: ASC →
    # NULLS LAST, DESC → NULLS FIRST); parenthesized EXPRESSION keys
    # (precomputed row-locally in the derived base CTE, base-table
    # columns only — the CONNECT_BY_ROOT(expr) machinery). DESC orders
    # by the NEGATED value (float NaN handled via a flag band — ADVICE
    # r10), so it requires a numeric key — a string/date DESC key fails
    # loudly under ANSI (no silent missort: ANSI unary minus rejects
    # non-numerics). The loud non-numeric-DESC subset is the right
    # stopping point for a TEXT rewrite: it cannot see column types, so
    # any automatic proxy would either mis-analyze for some type or need
    # a rank window (a single-partition shuffle — a scale-killer).
    # Expression keys already give a zero-shuffle, collation-safe
    # spelling the error message names: DATE → (DATEDIFF(day, col,
    # DATE '1970-01-01')) ASC is descending-by-date; TIMESTAMP →
    # (-unix_micros(col)); STRING → the order-reversing hex-complement
    # (TRANSLATE(hex(encode(col,'utf-8')),'0123456789ABCDEF',
    # 'FEDCBA9876543210') || 'G') ASC — complemented hex digits reverse
    # byte order and the 'G' terminator (> any hex digit) makes every
    # proper prefix sort AFTER its extensions, i.e. exact UTF8_BINARY
    # DESC (fuzz-verified vs the Python DFS model). LEVEL stays loud
    # (siblings share their level).
    siblings_keys: list[tuple[str, bool, bool]] = []  # (key, desc, nulls_first)
    if sm := re.match(r"(?is)^ORDER\s+SIBLINGS\s+BY\s+(.*)$", tail):
        spec = sm.group(1).strip().rstrip(";").strip()
        # split a trailing LIMIT/OFFSET at paren depth 0
        keys_text, tail_rest = spec, ""
        depth = 0
        for i, ch in enumerate(spec):
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif depth == 0 and i > 0 and spec[i - 1].isspace():
                if re.match(r"(?i)(LIMIT|OFFSET)\b", spec[i:]):
                    keys_text, tail_rest = spec[:i].strip(), spec[i:].strip()
                    break
        for part in _split_args(keys_text):
            pm = re.match(
                r"(?is)^\s*(?P<key>\(.*\)|[\w$]+)"
                r"(?:\s+(?P<dir>ASC|DESC))?"
                r"(?:\s+NULLS\s+(?P<nf>FIRST|LAST))?\s*$",
                part,
            )
            if pm is None:
                raise ValueError(
                    "ORDER SIBLINGS BY: each key must be a base-table "
                    "column or a parenthesized expression, optionally "
                    "ASC|DESC and NULLS FIRST|LAST "
                    f"(got {part.strip()[:40]!r})"
                )
            key = pm.group("key")
            if key.lower() == "level":
                raise ValueError(
                    "ORDER SIBLINGS BY LEVEL is meaningless — siblings "
                    "share their level"
                )
            desc = (pm.group("dir") or "").upper() == "DESC"
            nf = pm.group("nf")
            nulls_first = desc if nf is None else nf.upper() == "FIRST"
            siblings_keys.append((key, desc, nulls_first))
        if not siblings_keys:
            raise ValueError("ORDER SIBLINGS BY: empty key list")
        tail = "ORDER BY __cbs" + (f" {tail_rest}" if tail_rest else "")
    start_cond = cond1 if first is sw else cond2
    cb_cond = cond2 if first is sw else cond1
    if not start_cond or not cb_cond:
        raise ValueError("CONNECT BY: empty START WITH or CONNECT BY condition")
    nocycle = False
    if nm := re.match(r"(?is)^NOCYCLE\b\s*(.*)$", cb_cond):
        nocycle, cb_cond = True, nm.group(1).strip()
    prior_cols = sorted({m.group(1).lower() for m in _PRIOR_REF.finditer(cb_cond)})
    if not prior_cols:
        raise ValueError("CONNECT BY: the condition must reference PRIOR <column>")
    join_cond = _PRIOR_REF.sub(lambda m: f"__p.__prior_{m.group(1).lower()}", cb_cond)
    # bare LEVEL in the CONNECT BY condition is the CHILD row's level
    # (the condition decides whether to PRODUCE the child), i.e. the
    # parent's + 1 — substituting __p.level here would be off by one
    join_cond = _BARE_LEVEL.sub("(__p.level + 1)", join_cond)
    # CONNECT_BY_ROOT col / SYS_CONNECT_BY_PATH(col, sep) in the select
    # list, post-expansion WHERE, or ORDER BY tail become columns CARRIED
    # through both CTE arms: the base arm seeds them from the root row,
    # the recursive arm propagates (ROOT) or appends (PATH). An
    # EXPRESSION argument (r9 — Oracle requires it parenthesized:
    # CONNECT_BY_ROOT(expr) / SYS_CONNECT_BY_PATH(expr, sep)) is
    # precomputed ROW-LOCALLY in a derived base CTE (__cbb) and then
    # carried exactly like a simple column — the expression may
    # reference base-table columns only (PRIOR / LEVEL / pseudo-columns
    # inside it are loud; they would need per-walk evaluation, which the
    # carry model cannot see).
    roots: dict[str, None] = {}
    paths: dict[tuple[str, str], int] = {}
    exprs: dict[str, str] = {}  # unmasked expr text -> derived column
    expr_defs: list[tuple[str, str]] = []  # (masked expr, derived column)

    def _expr_col(masked_expr: str) -> str:
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
                f"nested pseudo-columns: {_unmask_literals(e, lits)[:60]!r}"
            )
        # dedup on the UNMASKED text (sentinel-keyed dedup would carry
        # duplicate derived columns for textually identical expressions)
        key = _unmask_literals(e, lits)
        col = exprs.get(key)
        if col is None:
            col = f"__cbx_{len(exprs)}"
            exprs[key] = col
            expr_defs.append((e, col))
        return col

    def _subst_pseudo(txt: str | None) -> str | None:
        if txt is None:
            return None
        while m := _SCBP_KW.search(txt):
            end = _scan_balanced(txt, m.end())
            col, sep = _split_two_args(txt[m.end() : end - 1])
            col = col.strip()
            if re.fullmatch(r"[\w$]+", col):
                col = col.lower()
                if col == "level":
                    raise ValueError(
                        "SYS_CONNECT_BY_PATH: LEVEL is not a base-table column"
                    )
                if col.startswith("__cb"):
                    _expr_col(col)  # reserved carry prefix — loud
            else:
                col = _expr_col(col)
            # dedup on the UNMASKED separator: two textually identical
            # calls mask their literals to different sentinels, and a
            # sentinel-keyed dict would carry duplicate path columns
            # through every frontier row
            idx = paths.setdefault(
                (col, _unmask_literals(sep.strip(), lits)), len(paths)
            )
            txt = f"{txt[: m.start()]}__cbp_{idx}{txt[end:]}"
        while m := _CBR_KW.search(txt):
            after = txt[m.end() :].lstrip()
            if after.startswith("("):
                popen = m.end() + (len(txt) - m.end() - len(after))
                end = _scan_balanced(txt, popen + 1)
                inner = txt[popen + 1 : end - 1].strip()
                if re.fullmatch(r"[\w$]+", inner):
                    col = inner.lower()
                    if col == "level":
                        raise ValueError(
                            "CONNECT_BY_ROOT LEVEL is always 1 — write 1"
                        )
                    if col.startswith("__cb"):
                        # a substituted SYS_CONNECT_BY_PATH carry column:
                        # nested pseudo-columns are loud, not a leak
                        _expr_col(inner)
                    roots.setdefault(col)
                else:
                    col = _expr_col(inner)
                    roots.setdefault(col)
                txt = f"{txt[: m.start()]}__cbr_{col}{txt[end:]}"
                continue
            bm = re.match(r"([\w$]+)", after)
            nxt = after[bm.end() :].lstrip()[:1] if bm else ""
            if bm is None or nxt in ("(", "."):
                raise ValueError(
                    "CONNECT_BY_ROOT: argument must be a simple unqualified "
                    "base-table column (parenthesize an expression), got "
                    f"{txt[m.start(): m.end() + 20]!r}"
                )
            col = bm.group(1).lower()
            if col == "level":
                raise ValueError("CONNECT_BY_ROOT LEVEL is always 1 — write 1")
            if col.startswith("__cb"):
                # mirror the paren branch: a substituted SYS_CONNECT_BY_PATH
                # carry column (CONNECT_BY_ROOT SYS_CONNECT_BY_PATH(...) with
                # SCBP substituted first) is a nested pseudo-column — raise
                # the clean base-table-columns-only error, not a downstream
                # Spark unresolved-column failure (ADVICE r9)
                _expr_col(col)
            roots.setdefault(col)
            cut = m.end() + (len(txt) - m.end() - len(after)) + bm.end()
            txt = f"{txt[: m.start()]}__cbr_{col}{txt[cut:]}"
        return txt

    select_list = _subst_pseudo(select_list)
    where_part = _subst_pseudo(where_part)
    tail = _subst_pseudo(tail)
    # CONNECT_BY_ISLEAF (r9): leaf-ness of the CONNECT-BY-defined tree —
    # Oracle computes it on the tree the CONDITION defines, independent
    # of any post-expansion WHERE (so a WHERE LEVEL cap does NOT make
    # capped rows leaves, while an IN-CONDITION "AND LEVEL <= k" does).
    # Rewritten as a post-CTE probe, not a carried column (leaf-ness
    # needs one step of lookahead the recursion cannot see).
    _ISLEAF = re.compile(r"(?i)\bCONNECT_BY_ISLEAF\b")
    _ISCYCLE = re.compile(r"(?i)\bCONNECT_BY_ISCYCLE\b")
    isleaf = any(t and _ISLEAF.search(t) for t in (select_list, where_part, tail))
    iscycle = any(t and _ISCYCLE.search(t) for t in (select_list, where_part, tail))
    if iscycle and not nocycle:
        # Oracle's own contract (ORA-30007): without NOCYCLE a cycle is
        # an ERROR, not a flag — CONNECT_BY_ISCYCLE is meaningless there.
        raise ValueError(
            "CONNECT BY: CONNECT_BY_ISCYCLE requires the NOCYCLE keyword "
            "(without NOCYCLE a cycle is an error, not a flag)"
        )
    for _pat, _col in ((_ISLEAF, "__cbleaf"), (_ISCYCLE, "__cbcyc")):
        select_list = _pat.sub(_col, select_list)
        where_part = _pat.sub(_col, where_part) if where_part else where_part
        tail = _pat.sub(_col, tail) if tail else tail
    if re.search(
        r"(?i)\b(CONNECT_BY_ROOT|SYS_CONNECT_BY_PATH|CONNECT_BY_ISLEAF"
        r"|CONNECT_BY_ISCYCLE)\b",
        f"{start_cond} {cb_cond}",
    ):
        raise ValueError(
            "CONNECT BY: pseudo-columns are not supported inside START WITH "
            "or the CONNECT BY condition"
        )
    # resolve ORDER SIBLINGS BY keys HERE — before the derived base CTE
    # renders — so a parenthesized expression key's _expr_col
    # registration lands in expr_defs in time (r10)
    siblings_resolved: list[tuple[str, bool, bool]] = []
    for key, desc, nulls_first in siblings_keys:
        if key.startswith("("):
            col = _expr_col(key[1:-1].strip())
        else:
            col = key.lower()
            if col.startswith("__cb"):
                # a substituted pseudo-column in key position — the same
                # clean error as pseudo-column expression args
                _expr_col(col)
        siblings_resolved.append((col, desc, nulls_first))
    # A top-level `LEVEL <= n` / `LEVEL < n` WHERE conjunct is monotone in
    # the walk depth, so it also PUSHES into the recursive arm: descendants
    # of a max-depth node can only be deeper, so pruning them is
    # semantics-preserving — and it bounds the recursion (a depth-capped
    # query terminates even on cyclic data, where the uncapped walk stops
    # loudly at Spark's RECURSION_LEVEL_LIMIT_EXCEEDED instead of hanging).
    level_cap = ""
    if where_part:
        for conj in _split_depth0_and(where_part):
            # balanced outer parens strip so the conjuncts this code itself
            # creates when merging two WHEREs ('(w1) AND (w2)') still push
            if lm := re.match(
                r"(?is)^LEVEL\s*(<=|<)\s*(\d+)\s*$", _strip_outer_parens(conj)
            ):
                level_cap = f" AND __p.level + 1 {lm.group(1)} {lm.group(2)}"
    # expression pseudo-column arguments: precompute each expression
    # ROW-LOCALLY in a derived base CTE so the carry logic (and the
    # leaf/cycle probes) see it as just another base column — no extra
    # shuffle, the projection folds into the base scan. Skipped entirely
    # when no expressions appear (existing plans stay byte-identical).
    base_src = from_part
    pre_cte = ""
    if expr_defs:
        xcols = ", ".join(f"({e}) AS {c}" for e, c in expr_defs)
        pre_cte = f"__cbb AS (SELECT *, {xcols} FROM {from_part}), "
        base_src = "__cbb"
    # carried-column expressions per arm
    base_extra, rec_extra, carried = [], [], []
    for c in roots:
        base_extra.append(f"__c.{c} AS __cbr_{c}")
        rec_extra.append(f"__p.__cbr_{c} AS __cbr_{c}")
        carried.append(f"__cbr_{c}")
    for (c, sep), idx in paths.items():
        # Oracle/Redshift path semantics: NULL column renders as empty
        base_extra.append(
            f"concat({sep}, coalesce(CAST(__c.{c} AS STRING), '')) AS __cbp_{idx}"
        )
        rec_extra.append(
            f"concat(__p.__cbp_{idx}, {sep}, "
            f"coalesce(CAST(__c.{c} AS STRING), '')) AS __cbp_{idx}"
        )
        carried.append(f"__cbp_{idx}")
    if siblings_keys:
        # element = one struct of (flag, value) PAIRS, key-major in
        # declaration order (struct comparison is field-wise, so 'n0'
        # settles key 0's NULL/NaN placement before 'v0' compares,
        # before key 1 is consulted). The flag encodes the requested
        # NULL end (FIRST → null sorts as 0 < rest, LAST → greatest);
        # a bare element would silently sort NULLs first (r9 review).
        # DESC negates the value — loud for non-numeric keys under ANSI
        # — and adds a NaN flag band (ADVICE r10, see below).
        fields: list[str] = []
        for i, (col, desc, nulls_first) in enumerate(siblings_resolved):
            v = f"__c.{col}"
            if desc:
                # DESC folds NaN into the flag (ADVICE r10): negation
                # leaves NaN unchanged and NaN compares greatest, so a
                # bare -(v) would sort a float NaN LAST where descending
                # semantics (NaN is the greatest value — Oracle
                # BINARY_DOUBLE and Spark agree) put it FIRST among
                # non-NULL siblings. Three flag bands: NULL at the
                # requested end, NaN, then numbers. The NaN probe is
                # flag-only (never the sort value, so BIGINT precision
                # loss cannot missort) and goes through a STRING
                # round-trip + try_cast (ADVICE r11): a bare
                # CAST(v AS DOUBLE) failed ANALYSIS for key types that
                # support ANSI negation but not a double cast (a
                # day-time INTERVAL sorted fine in r10 and then broke
                # in r11), silently narrowing the DESC domain. Every
                # type casts to STRING; try_cast(string AS DOUBLE) is
                # analysis-total and yields NaN exactly for a true
                # float/double NaN ('NaN' is the only value whose
                # string form parses back to NaN; isnan(NULL) = false),
                # so negatable non-float keys keep the r10 behavior and
                # float NaN still lands in its band. DESC stays exactly
                # as loud as -(v) itself for non-numeric keys.
                null_f, nan_f, num_f = ("0", "1", "2") if nulls_first else ("2", "0", "1")
                fields.append(
                    f"'n{i}', CASE WHEN {v} IS NULL THEN {null_f} "
                    f"WHEN isnan(try_cast(CAST({v} AS STRING) AS DOUBLE)) "
                    f"THEN {nan_f} ELSE {num_f} END"
                )
                fields.append(f"'v{i}', -({v})")
            else:
                # ASC needs no NaN band: NaN natively compares greatest,
                # which IS its ascending place among non-NULL values.
                nf_case = "0 ELSE 1" if nulls_first else "1 ELSE 0"
                fields.append(f"'n{i}', CASE WHEN {v} IS NULL THEN {nf_case} END")
                fields.append(f"'v{i}', {v}")
        elem = f"named_struct({', '.join(fields)})"
        base_extra.append(f"array({elem}) AS __cbs")
        rec_extra.append(f"concat(__p.__cbs, array({elem})) AS __cbs")
        carried.append("__cbs")
    cycle_guard = ""
    if nocycle:
        # NOCYCLE: stop expanding when the child row is already its own
        # ancestor. Row identity = the PRIOR-referenced column tuple (the
        # parent-key pattern; a loud documented subset — values render as
        # strings, '|'-delimited). Delimiter chars INSIDE a key value are
        # escaped ('!'→'!!' first, then '|'→'!p', '~'→'!t') so a value
        # like 'q|a|r' cannot fabricate a '|a|' frame; NULL renders as
        # '!n' and '' as '!e' — both unreachable from real values after
        # '!'-doubling (a literal '!n' becomes '!!n'), so neither a NULL
        # sentinel collision nor an empty frame component ('||' would
        # match every frame junction) can mis-prune (r9 review).
        child_key = _cyc_key("__c.", prior_cols)
        base_extra.append(f"{child_key} AS __cyc")
        rec_extra.append(f"concat(__p.__cyc, {child_key}) AS __cyc")
        carried.append("__cyc")
        cycle_guard = f" AND instr(__p.__cyc, {child_key}) = 0"
    proj_prior = ", ".join(
        [f"{c} AS __prior_{c}" for c in prior_cols] + ["level"] + carried
    )
    base_sel = ", ".join(["__c.*", "CAST(1 AS INT) AS level"] + base_extra)
    rec_sel = ", ".join(["__c.*", "__p.level + 1 AS level"] + rec_extra)
    src = "__cb"
    leaf_ctes = ""
    if isleaf or iscycle:
        # Lookahead probe (r9): leaf-ness (and under NOCYCLE cycle-ness)
        # needs one step the recursion cannot see, so the DISTINCT parent
        # tuples — bounded by the result set — LEFT JOIN the base table
        # once on the SAME connect condition (minus the pushed WHERE cap:
        # Oracle's WHERE is a post-filter and does not make capped rows
        # leaves; an in-condition "AND LEVEL <= k" is part of join_cond
        # and DOES). Without NOCYCLE: ISLEAF = no condition-child exists.
        # With NOCYCLE, both flags depend on which children the walk
        # PRUNED, so the probe also carries each row's ancestor path
        # (__cyc) and classifies every child by the SAME instr() guard
        # the recursive arm used: CONNECT_BY_ISCYCLE = 1 iff some child
        # was pruned as an ancestor-or-self (exactly where NOCYCLE
        # stopped — Oracle's flag); CONNECT_BY_ISLEAF = 1 iff NO child
        # was EXPANDED (a row whose every child is cycle-pruned "cannot
        # be further expanded" — Oracle's ISLEAF contract). The carried
        # path adds bytes per probe row, never jobs.
        leaf_cond = join_cond.replace("__p.level", "__p.__prior_level")
        dist = [f"{c} AS __prior_{c}" for c in prior_cols] + [
            "level AS __prior_level"
        ]
        group = [f"__p.__prior_{c}" for c in prior_cols] + ["__p.__prior_level"]
        back_eq = [f"__cb.{c} <=> __cbl.__prior_{c}" for c in prior_cols] + [
            "__cb.level = __cbl.__prior_level"
        ]
        if nocycle:
            dist.append("__cyc AS __prior_cyc")
            group.append("__p.__prior_cyc")
            back_eq.append("__cb.__cyc = __cbl.__prior_cyc")
            child_cols = f"*, {_cyc_key('', prior_cols)} AS __ck"
            pruned = "instr(__p.__prior_cyc, __c.__ck) > 0"
            flags = []
            if isleaf:
                flags.append(
                    f" CAST(CASE WHEN COUNT(CASE WHEN NOT ({pruned}) THEN 1"
                    " END) = 0 THEN 1 ELSE 0 END AS INT) AS __cbleaf"
                )
            if iscycle:
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
        gcols = ", ".join(group)
        leaf_ctes = (
            f", __cbd AS (SELECT DISTINCT {', '.join(dist)} FROM __cb)"
            f", __cbl AS ("
            f" SELECT {gcols},{','.join(flags)}"
            f" FROM __cbd __p"
            f" LEFT JOIN (SELECT {child_cols} FROM {base_src}) __c"
            f" ON ({leaf_cond})"
            f" GROUP BY {gcols})"
        )
        src = f"__cb JOIN __cbl ON ({' AND '.join(back_eq)})"
    rewritten = (
        f"WITH RECURSIVE {pre_cte}__cb AS ("
        f" SELECT {base_sel} FROM {base_src} __c"
        f" WHERE {start_cond}"
        f" UNION ALL"
        f" SELECT {rec_sel}"
        f" FROM {base_src} __c"
        f" JOIN (SELECT {proj_prior} FROM __cb) __p"
        f" ON ({join_cond}){level_cap}{cycle_guard}"
        f"){leaf_ctes} SELECT {select_list} FROM {src}"
        + (f" WHERE {where_part}" if where_part else "")
        + (f" {tail}" if tail else "")
    )
    return _unmask_literals(rewritten, lits)


def _cyc_key(q: str, prior_cols: list[str]) -> str:
    """Render the NOCYCLE row-identity key (the PRIOR-referenced column
    tuple) as one string frame ``|k1~k2~...|``, with delimiter chars
    INSIDE a value escaped ('!'→'!!' first, then '|'→'!p', '~'→'!t') so
    a value like 'q|a|r' cannot fabricate a '|a|' frame; NULL renders as
    '!n' and '' as '!e' — both unreachable from real values after
    '!'-doubling, so neither a NULL-sentinel collision nor an empty
    frame component can mis-prune (r9 review). ``q`` is the column
    qualifier prefix ('__c.' in the CTE arms, '' inside the probe's
    base-table subselect)."""
    key_parts = ", '~', ".join(
        f"CASE WHEN {q}{k} IS NULL THEN '!n' "
        f"WHEN CAST({q}{k} AS STRING) = '' THEN '!e' "
        "ELSE replace(replace(replace("
        f"CAST({q}{k} AS STRING), '!', '!!'), '|', '!p'), '~', '!t') END"
        for k in prior_cols
    )
    return f"concat('|', {key_parts}, '|')"


def _split_depth0_and(cond: str) -> list[str]:
    """Split a (literal-masked) predicate on its top-level ANDs."""
    parts, depth, start = [], 0, 0
    for m in re.finditer(r"(?is)\(|\)|\bAND\b", cond):
        if m.group() == "(":
            depth += 1
        elif m.group() == ")":
            depth -= 1
        elif depth == 0:
            parts.append(cond[start : m.start()])
            start = m.end()
    parts.append(cond[start:])
    return parts


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
