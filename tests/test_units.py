"""Unit tests for the non-query surfaces: dialect helpers, JDBC option
assembly (no live DB — wiring only, SURVEY.md §7), and scale utilities."""

from __future__ import annotations

import re
import sys
from datetime import date, datetime

import pytest

from sql_redshift_etl_spark.functions.dialect import translate_datetime_format
from sql_redshift_etl_spark.sources.readers import jdbc_reader_options
from sql_redshift_etl_spark.sources.writers import jdbc_writer_options


def test_to_char_format_translation():
    assert translate_datetime_format("YYYY-MM-DD") == "yyyy-MM-dd"
    assert translate_datetime_format("HH24:MI:SS") == "HH:mm:ss"
    assert translate_datetime_format("MON DD, YYYY") == "MMM dd, yyyy"
    assert translate_datetime_format("YYYY-MM-DD HH12 AM") == "yyyy-MM-dd hh a"
    # unmapped letters are quoted, punctuation passes through
    assert translate_datetime_format("YYYYxMM") == "yyyy'x'MM"


def test_jdbc_reader_partitioned_options():
    opts = jdbc_reader_options(
        "jdbc:redshift://host:5439/db",
        "public.orders",
        partition_column="o_orderkey",
        lower_bound=0,
        upper_bound=1_000_000,
        num_partitions=64,
        user="etl",
        password="x",
    )
    assert opts["dbtable"] == "public.orders"
    assert opts["partitionColumn"] == "o_orderkey"
    assert opts["numPartitions"] == "64"
    assert opts["fetchsize"] == "10000"


def test_jdbc_reader_query_mode_rejects_partitioning():
    with pytest.raises(ValueError, match="dbtable"):
        jdbc_reader_options(
            "jdbc:redshift://h/db",
            "SELECT 1",
            is_query=True,
            partition_column="k",
            lower_bound=0,
            upper_bound=1,
            num_partitions=2,
        )


def test_jdbc_reader_partition_bounds_required():
    with pytest.raises(ValueError, match="bounds"):
        jdbc_reader_options("jdbc:redshift://h/db", "t", partition_column="k")


def test_jdbc_writer_options():
    opts = jdbc_writer_options("jdbc:redshift://h/db", "public.dim", batch_size=5000)
    assert opts["dbtable"] == "public.dim"
    assert opts["batchsize"] == "5000"


def test_salted_agg_matches_plain_agg(spark):
    from pyspark.sql import functions as F

    from sql_redshift_etl_spark.catalog import load_table
    from sql_redshift_etl_spark.scale import salted_agg
    from tests.conftest import SF_DIR

    ev = load_table(spark, SF_DIR, "events")
    plain = {
        r["user_id"]: (r["n"], round(r["v"], 2))
        for r in ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("v"),
        )
        .collect()
    }
    salted = {
        r["user_id"]: (r["n"], round(r["v"], 2))
        for r in salted_agg(
            ev.select("user_id", "value"),
            ["user_id"],
            {
                "n": F.count(F.lit(1)),
                "v": F.sum(F.col("value").cast("decimal(18,2)")).cast("double"),
            },
            n_salts=4,
        ).collect()
    }
    assert plain == salted


def test_salted_join_matches_plain_join(spark):
    from pyspark.sql import functions as F

    from sql_redshift_etl_spark.catalog import load_table
    from sql_redshift_etl_spark.scale import salted_join
    from tests.conftest import SF_DIR

    c = load_table(spark, SF_DIR, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, SF_DIR, "nation").select(
        F.col("n_nationkey").alias("c_nationkey"), "n_name"
    )
    plain = c.join(n, "c_nationkey").count()
    salted = salted_join(c, n, "c_nationkey", n_salts=4).count()
    assert plain == salted


def test_should_broadcast(spark):
    from sql_redshift_etl_spark.catalog import load_table
    from sql_redshift_etl_spark.scale import should_broadcast
    from tests.conftest import SF_DIR

    assert should_broadcast(load_table(spark, SF_DIR, "region"))
    assert not should_broadcast(load_table(spark, SF_DIR, "lineitem"), limit_bytes=1024)


def test_should_broadcast_logs_a_failed_estimate(caplog):
    import logging

    from sql_redshift_etl_spark.scale import should_broadcast

    class _BrokenPlan:
        @property
        def _jdf(self):
            raise RuntimeError("no plan")

    with caplog.at_level(logging.WARNING, logger="sql_redshift_etl_spark.scale"):
        assert should_broadcast(_BrokenPlan()) is False
    msgs = [r.getMessage() for r in caplog.records if r.name == "sql_redshift_etl_spark.scale"]
    assert any("RuntimeError" in m and "no plan" in m for m in msgs), msgs


def test_redshift_sql_translation():
    from sql_redshift_etl_spark.functions.redshift_sql import translate_redshift_sql as t

    assert t("SELECT DATEDIFF(day, a, b) FROM x") == "SELECT datediff(cast(b as date), cast(a as date)) FROM x"
    assert "(year(b) - year(a))" in t("SELECT DATEDIFF(year, a, b) FROM x")
    # nested parens in args
    assert t("SELECT DATEDIFF(day, f(a, 1), g(b)) FROM x") == "SELECT datediff(cast(g(b) as date), cast(f(a, 1) as date)) FROM x"
    assert t("SELECT TO_CHAR(ts, 'YYYY-MM-DD HH24:MI') FROM x") == "SELECT date_format(ts, 'yyyy-MM-dd HH:mm') FROM x"
    # literal text in the format: Redshift "T" → Spark 'T', and the
    # embedded single quotes must be doubled inside the SQL literal
    assert (
        t("""SELECT TO_CHAR(ts, 'YYYY-MM-DD"T"HH24:MI:SS') FROM x""")
        == "SELECT date_format(ts, 'yyyy-MM-dd''T''HH:mm:ss') FROM x"
    )
    assert (
        t("""SELECT TO_TIMESTAMP(s, 'YYYY-MM-DD"T"HH24:MI:SS') FROM x""")
        == "SELECT to_timestamp(s, 'yyyy-MM-dd''T''HH:mm:ss') FROM x"
    )
    assert t("SELECT JSON_EXTRACT_PATH_TEXT(p, 'a', 'b') FROM x") == "SELECT get_json_object(p, '$.a.b') FROM x"
    assert (
        t("SELECT LISTAGG(n, ',') WITHIN GROUP (ORDER BY n) FROM x")
        == "SELECT array_join(array_sort(collect_list(n)), ',') FROM x"
    )
    assert t("SELECT GETDATE(), SYSDATE") == "SELECT current_timestamp(), current_timestamp()"
    ddl = t("CREATE TABLE t (a INT ENCODE az64) DISTSTYLE KEY DISTKEY(a) SORTKEY(a)")
    assert "DISTKEY" not in ddl and "SORTKEY" not in ddl and "ENCODE" not in ddl and "DISTSTYLE" not in ddl
    import pytest as _pytest

    with _pytest.raises(ValueError, match="DATEDIFF unit"):
        t("SELECT DATEDIFF(fortnight, a, b)")


def test_redshift_sql_listagg_order_expr():
    """WITHIN GROUP (ORDER BY expr) must order by EXPR, not by the
    aggregated values (round-2 fix, ADVICE r01)."""
    from sql_redshift_etl_spark.functions.redshift_sql import translate_redshift_sql as t

    out = t("SELECT LISTAGG(name, ',') WITHIN GROUP (ORDER BY created_at) FROM x")
    assert out == (
        "SELECT array_join(transform(array_sort(collect_list("
        "named_struct('o', created_at, 'v', name))), p -> p.v), ',') FROM x"
    )
    # DESC reverses; same-column keeps the direct sort
    assert (
        t("SELECT LISTAGG(n, '|') WITHIN GROUP (ORDER BY n DESC) FROM x")
        == "SELECT array_join(reverse(array_sort(collect_list(n))), '|') FROM x"
    )
    assert (
        t("SELECT LISTAGG(n, ',') WITHIN GROUP (ORDER BY N ASC) FROM x")
        == "SELECT array_join(array_sort(collect_list(n)), ',') FROM x"
    )


def test_redshift_sql_listagg_order_expr_executes(spark):
    """The struct-sort rewrite actually runs and orders by the key col."""
    from sql_redshift_etl_spark.functions.redshift_sql import run_redshift_sql

    spark.createDataFrame(
        [("b", 1), ("a", 3), ("c", 2)], "name string, created_at int"
    ).createOrReplaceTempView("_listagg_t")
    row = run_redshift_sql(
        spark,
        "SELECT LISTAGG(name, ',') WITHIN GROUP (ORDER BY created_at) AS s FROM _listagg_t",
    ).collect()[0]
    assert row["s"] == "b,c,a"
    spark.catalog.dropTempView("_listagg_t")


def test_redshift_sql_quote_awareness():
    """DATEDIFF( inside a string literal, and quoted commas/parens inside
    argument spans, must not corrupt the rewrite (ADVICE r01)."""
    from sql_redshift_etl_spark.functions.redshift_sql import translate_redshift_sql as t

    # literal mentioning DATEDIFF( is left alone; the real call rewrites
    out = t("SELECT 'use DATEDIFF(day, x, y)' AS hint, DATEDIFF(day, a, b) FROM x")
    assert "'use DATEDIFF(day, x, y)'" in out
    assert "datediff(cast(b as date), cast(a as date))" in out
    # quoted comma / unbalanced paren inside an argument
    assert t("SELECT DATEDIFF(day, coalesce(a, ','), b) FROM x") == (
        "SELECT datediff(cast(b as date), cast(coalesce(a, ',') as date)) FROM x"
    )
    assert t("SELECT DATEDIFF(day, coalesce(a, '('), b) FROM x") == (
        "SELECT datediff(cast(b as date), cast(coalesce(a, '(') as date)) FROM x"
    )


def test_datediff_week_integral(spark):
    """week-unit DATEDIFF returns a bigint like every other unit
    (r01 VERDICT item 5) and counts Monday-boundary crossings."""
    from pyspark.sql import functions as F

    from sql_redshift_etl_spark.functions.dialect import redshift_datediff

    df = spark.createDataFrame(
        [("2024-01-07", "2024-01-08")], "a string, b string"
    ).select(
        redshift_datediff("week", F.col("a").cast("date"), F.col("b").cast("date")).alias("w")
    )
    assert dict(df.dtypes)["w"] == "bigint"
    # Sun 2024-01-07 → Mon 2024-01-08 crosses one ISO week boundary
    assert df.collect()[0]["w"] == 1


def test_salted_is_deterministic_and_spreads_hot_keys(spark):
    """salted() contract (revised from the r01 positional design after
    the round-4 review): the salt must be DETERMINISTIC under
    recomputation (a positional salt silently corrupts salted_agg when
    Spark recomputes lost map outputs — rows migrate between (key,salt)
    reducers mid-job), and must still spread a hot KEY across salts
    whenever any other column varies. Fully byte-identical rows sharing
    a salt is the accepted degenerate case: map-side partial
    aggregation collapses them before the shuffle anyway."""
    from pyspark.sql import functions as F

    from sql_redshift_etl_spark.scale import salted

    n_salts = 8
    # hot key 42 carried alongside a varying payload column
    df = spark.range(1000).select(
        F.when(F.col("id") < 900, F.lit(42)).otherwise(F.col("id")).alias("key"),
        F.col("id").alias("payload"),
    )
    hot = salted(df, n_salts=n_salts).where(F.col("key") == 42)
    assert hot.select("_salt").distinct().count() >= n_salts
    # deterministic: two independent evaluations assign identical salts
    a = {r["payload"]: r["_salt"] for r in hot.collect()}
    b = {r["payload"]: r["_salt"] for r in salted(df, n_salts=n_salts).where(F.col("key") == 42).collect()}
    assert a == b
    # byte-identical rows share a salt (documented degenerate case)
    dup = spark.createDataFrame([(42,)] * 10, "key long")
    assert salted(dup, n_salts=n_salts).select("_salt").distinct().count() == 1


def test_merge_upsert_semantics(spark):
    """merge_upsert implements MERGE INTO: matched→update, source-only→
    insert, target-only→passthrough, delete_when→matched rows dropped."""
    from pyspark.sql import functions as F

    from sql_redshift_etl_spark.operators.merge import merge_upsert

    target = spark.createDataFrame(
        [(1, 10, "keep"), (2, 20, "upd"), (3, 30, "del")], "k long, v long, tag string"
    )
    source = spark.createDataFrame(
        [(2, 200, "s"), (3, 300, "s"), (4, 400, "new")], "k long, v long, tag string"
    )
    out = merge_upsert(
        target,
        source,
        ["k"],
        update_set={"v": F.col("t.v") + F.col("s.v")},
        delete_when=F.col("s.tag") == F.lit("s"),
        broadcast_source=True,
    )
    rows = {r["k"]: (r["v"], r["tag"]) for r in out.collect()}
    # k=2,3 matched with delete_when true → dropped; k=1 passthrough; k=4 inserted
    assert rows == {1: (10, "keep"), 4: (400, "new")}
    assert out.columns == target.columns

    out2 = merge_upsert(
        target, source, ["k"], update_set={"v": F.col("s.v")}
    )
    rows2 = {r["k"]: r["v"] for r in out2.collect()}
    assert rows2 == {1: 10, 2: 200, 3: 300, 4: 400}


def test_qualify_rewrite_basic():
    """QUALIFY → subquery filter: predicate moved to a wrapped WHERE,
    projected away via * EXCEPT; tail ORDER BY stays outermost."""
    from sql_redshift_etl_spark.functions.redshift_sql import translate_redshift_sql as t

    out = t("SELECT a, row_number() OVER (ORDER BY b) AS rn FROM t QUALIFY rn = 1 ORDER BY a")
    assert out.startswith("SELECT * EXCEPT (__qualify) FROM (SELECT a, row_number()")
    assert "(rn = 1) AS __qualify" in out
    assert out.rstrip().endswith("WHERE __qualify ORDER BY a")
    # window ORDER BY (inside parens) must not be mistaken for the tail
    assert "OVER (ORDER BY b)" in out


def test_qualify_rewrite_guards():
    import pytest as _pytest

    from sql_redshift_etl_spark.functions.redshift_sql import translate_redshift_sql as t

    # literal containing QUALIFY is not a clause
    sql = "SELECT 'use QUALIFY here' AS tip FROM t"
    assert t(sql) == sql
    with _pytest.raises(ValueError, match="DISTINCT"):
        t("SELECT DISTINCT a FROM t QUALIFY row_number() OVER (ORDER BY a) = 1")


def test_qualify_executes(spark):
    """End-to-end: inline window predicate referencing an unprojected
    base column, no alias."""
    from sql_redshift_etl_spark.functions.redshift_sql import run_redshift_sql

    spark.createDataFrame(
        [(1, "a", 5), (1, "b", 9), (2, "c", 3)], "g int, name string, score int"
    ).createOrReplaceTempView("qualify_t")
    rows = run_redshift_sql(
        spark,
        "SELECT name FROM qualify_t "
        "QUALIFY ROW_NUMBER() OVER (PARTITION BY g ORDER BY score DESC) = 1",
    ).collect()
    assert sorted(r["name"] for r in rows) == ["b", "c"]


def test_ratio_to_report_rewrite():
    from sql_redshift_etl_spark.functions.redshift_sql import translate_redshift_sql

    out = translate_redshift_sql(
        "SELECT RATIO_TO_REPORT(x) OVER (PARTITION BY g) AS share FROM t"
    )
    assert "(CAST(x AS DOUBLE) / SUM(x) OVER (PARTITION BY g))" in out
    # nested parens in the argument and a quoted literal elsewhere
    out2 = translate_redshift_sql(
        "SELECT 'RATIO_TO_REPORT(fake)', RATIO_TO_REPORT(a + (b * 2)) OVER (ORDER BY k) FROM t"
    )
    assert "'RATIO_TO_REPORT(fake)'" in out2
    assert "(CAST(a + (b * 2) AS DOUBLE) / SUM(a + (b * 2)) OVER (ORDER BY k))" in out2


def test_approximate_count_distinct_rewrite(spark):
    from sql_redshift_etl_spark.functions.redshift_sql import (
        run_redshift_sql,
        translate_redshift_sql,
    )

    out = translate_redshift_sql("SELECT APPROXIMATE COUNT(DISTINCT user_id) AS u FROM t")
    assert "approx_count_distinct(user_id)" in out
    assert "APPROXIMATE" not in out
    # literal containing the phrase survives; real call still rewritten
    out2 = translate_redshift_sql(
        "SELECT 'APPROXIMATE COUNT(DISTINCT x)' AS lbl, "
        "APPROXIMATE COUNT ( DISTINCT a + (b * 2) ) AS u FROM t"
    )
    assert "'APPROXIMATE COUNT(DISTINCT x)'" in out2
    assert "approx_count_distinct(a + (b * 2))" in out2
    # end-to-end on Spark: HLL estimate of 3 distinct values is exact
    spark.createDataFrame([(1,), (1,), (2,), (3,)], "v INT").createOrReplaceTempView(
        "approx_t"
    )
    rows = run_redshift_sql(
        spark, "SELECT APPROXIMATE COUNT(DISTINCT v) AS u FROM approx_t"
    ).collect()
    assert rows[0]["u"] == 3


def test_rewrite_to_datetime_formats():
    from sql_redshift_etl_spark.functions.redshift_sql import translate_redshift_sql as t

    assert t("SELECT TO_DATE('2024-01-15', 'YYYY-MM-DD')") == "SELECT to_date('2024-01-15', 'yyyy-MM-dd')"
    out = t("SELECT TO_TIMESTAMP(s, 'YYYY-MM-DD HH24:MI:SS') FROM x")
    assert out == "SELECT to_timestamp(s, 'yyyy-MM-dd HH:mm:ss') FROM x"


def test_rewrite_charindex_strpos_swap():
    from sql_redshift_etl_spark.functions.redshift_sql import translate_redshift_sql as t

    assert t("SELECT CHARINDEX('b', col) FROM x") == "SELECT instr(col, 'b') FROM x"
    assert t("SELECT STRPOS(col, 'b') FROM x") == "SELECT instr(col, 'b') FROM x"
    # nested call args survive the balanced scan
    assert t("SELECT CHARINDEX(f(a, 1), g(b)) FROM x") == "SELECT instr(g(b), f(a, 1)) FROM x"


def test_rewrite_trunc_single_arg_only():
    from sql_redshift_etl_spark.functions.redshift_sql import translate_redshift_sql as t

    assert t("SELECT TRUNC(ts) FROM x") == "SELECT CAST(ts AS DATE) FROM x"
    # two-arg numeric trunc: Spark's trunc is date-only, so rewrite to
    # sign-aware floor/ceil (truncation toward zero at scale n)
    assert (
        t("SELECT TRUNC(price, 1) FROM x")
        == "SELECT (CASE WHEN (price) >= 0 THEN FLOOR(price, 1) ELSE CEIL(price, 1) END) FROM x"
    )
    # two-arg date trunc with a format literal stays native Spark
    assert t("SELECT TRUNC(d, 'MM') FROM x") == "SELECT TRUNC(d, 'MM') FROM x"
    # non-literal numeric scale: loud failure (Spark needs a foldable scale)
    import pytest

    with pytest.raises(ValueError, match="integer literal"):
        t("SELECT TRUNC(price, n) FROM x")
    # date_trunc must NOT be rewritten (no word boundary after the underscore)
    assert t("SELECT date_trunc('day', ts) FROM x") == "SELECT date_trunc('day', ts) FROM x"


def test_rewrite_math_aliases():
    from sql_redshift_etl_spark.functions.redshift_sql import translate_redshift_sql as t

    assert t("SELECT DEXP(x), DLOG10(y), DLOG1(z) FROM t") == "SELECT exp(x), log10(y), ln(z) FROM t"


def test_rewrite_to_datetime_nested_and_literal_aware():
    from sql_redshift_etl_spark.functions.redshift_sql import translate_redshift_sql as t

    # nested first argument (balanced scan, not the naive [^,()]+ regex)
    assert (
        t("SELECT TO_DATE(SUBSTRING(col, 1, 10), 'YYYY-MM-DD') FROM x")
        == "SELECT to_date(SUBSTRING(col, 1, 10), 'yyyy-MM-dd') FROM x"
    )
    # occurrences inside string literals stay untouched
    assert (
        t("SELECT 'TO_DATE(a, ''YYYY'')' AS lit FROM x")
        == "SELECT 'TO_DATE(a, ''YYYY'')' AS lit FROM x"
    )
    # within ONE translate pass, the rewritten call is not re-visited
    # (re-translating the now-Spark-dialect format would corrupt it) —
    # note translate_redshift_sql is single-pass by contract, NOT
    # idempotent: like TO_CHAR, both dialects share the spelling with
    # different format languages, so never run a script through twice
    assert (
        t("SELECT TO_DATE(a, 'YYYY-MM-DD'), TO_DATE(b, 'DD MON YYYY') FROM x")
        == "SELECT to_date(a, 'yyyy-MM-dd'), to_date(b, 'dd MMM yyyy') FROM x"
    )


# Every call-shaped rewrite, nested in itself ("{}" marks the slot of the
# inner call) — the innermost call must be rewritten first and the outer
# one must wrap its translation.
_NESTED_CALLS = [
    ("DATEDIFF(day, a, {})", "DATEDIFF(day, b, c)"),
    ("TO_CHAR({}, 'MM')", "TO_CHAR(d, 'YYYY')"),
    ("JSON_EXTRACT_PATH_TEXT({}, 'b')", "JSON_EXTRACT_PATH_TEXT(j, 'a')"),
    ("APPROXIMATE COUNT(DISTINCT {})", "APPROXIMATE COUNT(DISTINCT x)"),
    ("CONVERT(INT, {})", "CONVERT(VARCHAR(10), x)"),
    ("TO_DATE({}, 'YYYY')", "TO_DATE(s, 'YYYYMMDD')"),
    ("to_date({})", "TO_DATE(s, 'YYYYMMDD')"),
    ("to_timestamp({})", "TO_TIMESTAMP(s, 'YYYY-MM-DD HH24:MI:SS')"),
    ("CHARINDEX('a', {})", "CHARINDEX('b', s)"),
    ("STRPOS({}, 'b')", "STRPOS(s, 'a')"),
    ("TRUNC({}, 1)", "TRUNC(x, 2)"),
    ("trunc({}, 'MM')", "TRUNC(ts)"),
    ("EXTRACT(EPOCH FROM {})", "EXTRACT(EPOCH FROM ts)"),
    ("DATE_PART(epoch, {})", "DATE_PART('epoch', ts)"),
    ("LOG({})", "LOG(x)"),
    ("TO_HEX({})", "TO_HEX(n)"),
    ("JSON_ARRAY_LENGTH({}, true)", "JSON_ARRAY_LENGTH(j, true)"),
    ("JSON_EXTRACT_ARRAY_ELEMENT_TEXT({}, 1)", "JSON_EXTRACT_ARRAY_ELEMENT_TEXT(j, 0)"),
    ("IS_VALID_JSON({})", "IS_VALID_JSON(j)"),
    ("IS_VALID_JSON_ARRAY({})", "IS_VALID_JSON_ARRAY(j)"),
    ("SPLIT_TO_ARRAY({}, ';')", "SPLIT_TO_ARRAY(s, ',')"),
    ("STRTOL({}, 2)", "STRTOL(s, 16)"),
    ("DIFFERENCE({}, c)", "DIFFERENCE(a, b)"),
    ("GET_BYTE({}, 1)", "GET_BYTE(b, 0)"),
    ("DATE_CMP({}, c)", "TIMESTAMP_CMP(a, b)"),
    ("QUOTE_IDENT({})", "QUOTE_IDENT(s)"),
    ("QUOTE_LITERAL({})", "QUOTE_LITERAL(s)"),
    ("TO_NUMBER({}, '9.9')", "TO_NUMBER(s, '999')"),
]


@pytest.mark.parametrize("outer,inner", _NESTED_CALLS, ids=[o for o, _ in _NESTED_CALLS])
def test_call_rewrite_nested_in_itself(outer, inner):
    from sql_redshift_etl_spark.functions.redshift_sql import translate_redshift_sql as t

    name = inner[: inner.index("(")].split()[-1]
    out = t(f"SELECT {outer.format(inner)} AS v FROM x")
    assert out == t(f"SELECT {outer.format('zq')} AS v FROM x").replace("zq", t(inner))
    assert f"{name}(" not in out


@pytest.mark.parametrize("outer,inner", _NESTED_CALLS, ids=[o for o, _ in _NESTED_CALLS])
def test_call_rewrite_leaves_string_literals(outer, inner):
    from sql_redshift_etl_spark.functions.redshift_sql import translate_redshift_sql as t

    lit = "'" + outer.format(inner).replace("'", "''") + "'"
    sql = f"SELECT {lit} AS v, 'x' AS w FROM x"
    assert t(sql) == sql


@pytest.mark.parametrize(
    "expr,row,expected",
    [
        ("to_date(TO_DATE(s, 'YYYYMMDD'))", "'20240315'", date(2024, 3, 15)),
        (
            "to_timestamp(TO_TIMESTAMP(s, 'YYYY-MM-DD HH24:MI:SS'))",
            "'2024-03-15 10:20:30'",
            datetime(2024, 3, 15, 10, 20, 30),
        ),
        ("trunc(TRUNC(ts), 'MM')", "TIMESTAMP'2024-03-15 10:20:30'", date(2024, 3, 1)),
    ],
)
def test_call_nested_in_a_call_left_alone_runs(spark, expr, row, expected):
    """An outer call the shim leaves to Spark (single-argument TO_DATE /
    TO_TIMESTAMP, date-format TRUNC) must still get its inner Redshift
    call rewritten, or Spark rejects the Redshift format / argument count."""
    from sql_redshift_etl_spark.functions.redshift_sql import run_redshift_sql

    col = "ts" if expr.startswith("trunc") else "s"
    out = run_redshift_sql(spark, f"SELECT {expr} AS v FROM (SELECT {row} AS {col}) t")
    assert out.collect()[0]["v"] == expected


def test_sql_udf_inlining_nested_and_literal_aware():
    from sql_redshift_etl_spark.functions.script_runner import _inline_sql_udfs

    funcs = {"f": (["a"], "a + 1")}
    assert _inline_sql_udfs("SELECT f(f(x)) FROM t", funcs) == "SELECT ((((x) + 1)) + 1) FROM t"
    assert _inline_sql_udfs("SELECT 'f(x)' FROM t", funcs) == "SELECT 'f(x)' FROM t"
    with pytest.raises(ValueError, match="depth 16"):
        _inline_sql_udfs("SELECT f(x) FROM t", {"f": (["a"], "f(a)")})
    # every parameter substitutes in one pass that skips the body's literals:
    # no argument's text is substituted again, and no literal is rewritten
    for body, params, call, want in [
        ("a + b", ["a", "b"], "g(b, 1)", "((b) + (1))"),
        ("'a=' || a", ["a"], "g(x)", "('a=' || (x))"),
        ("$1 || '$2' || $2", ["$1", "$2"], "g(x, y)", "((x) || '$2' || (y))"),
        ("a || b", ["a", "b"], "g('it''s b', 2)", "(('it''s b') || (2))"),
    ]:
        assert _inline_sql_udfs(f"SELECT {call}", {"g": (params, body)}) == f"SELECT {want}"


# ---------------------------------------------------------------------------
# multi-statement script runner (functions.script_runner)
# ---------------------------------------------------------------------------


def test_script_split_and_comments():
    from sql_redshift_etl_spark.functions.redshift_sql import strip_sql_comments as strip_comments
    from sql_redshift_etl_spark.functions.script_runner import split_statements

    s = strip_comments("SELECT 1; -- trailing; with semicolon\n/* block;\nstill block */ SELECT 2")
    assert "--" not in s and "block" not in s
    # quote-aware: semicolons and comment markers inside literals survive
    stmts = split_statements("SELECT 'a;b--c/*d' AS x; SELECT 2;")
    assert stmts == ["SELECT 'a;b--c/*d' AS x", "SELECT 2"]


def test_script_runner_ddl_insert_update_delete(spark):
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    out = run_redshift_script(
        spark,
        """
        BEGIN;
        CREATE TEMP TABLE t (k BIGINT, v VARCHAR(8), amt DECIMAL(10,2)) DISTSTYLE ALL;
        INSERT INTO t VALUES (1, 'a', 10.5), (2, 'b', 20.25), (3, NULL, 30.0);
        INSERT INTO t (v, k) SELECT 'd', 4;            -- column-list insert: amt NULL
        UPDATE t SET v = UPPER(v), amt = amt * 2 WHERE k <= 2;
        DELETE FROM t WHERE v = 'b';                   -- NULL-cond rows kept
        SELECT k, v, CAST(amt AS DOUBLE) AS amt FROM t ORDER BY k;
        COMMIT;
        """,
    )
    rows = [tuple(r) for r in out.collect()]
    # k=2 deleted after UPPER('b')='B'... wait: v='B' <> 'b' post-update.
    assert rows == [(1, "A", 21.0), (2, "B", 40.5), (3, None, 30.0), (4, "d", None)]
    # script temp views are cleaned up afterward
    assert not spark.catalog.tableExists("t")


def test_script_runner_truncate_drop_and_shadowing(spark):
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    spark.range(5).toDF("n").createOrReplaceTempView("script_base")
    out = run_redshift_script(
        spark,
        """
        CREATE TEMP TABLE snap AS SELECT n FROM script_base WHERE n >= 2;
        TRUNCATE TABLE snap;
        INSERT INTO snap SELECT 99;
        DROP TABLE IF EXISTS unused_name;
        SELECT COUNT(*) AS n_rows, MAX(n) AS max_n FROM snap;
        """,
    )
    assert [tuple(r) for r in out.collect()] == [(1, 99)]
    spark.catalog.dropTempView("script_base")


def test_script_runner_self_referencing_insert(spark):
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    # INSERT INTO t SELECT FROM t must append a SNAPSHOT (eager analysis),
    # not recurse over the re-bound view.
    out = run_redshift_script(
        spark,
        """
        CREATE TEMP TABLE t (n BIGINT);
        INSERT INTO t VALUES (1), (2);
        INSERT INTO t SELECT n + 10 FROM t;
        SELECT COUNT(*) AS c, CAST(SUM(n) AS BIGINT) AS s FROM t;
        """,
    )
    assert [tuple(r) for r in out.collect()] == [(4, 26)]


def test_script_runner_unsupported_statement_is_loud(spark):
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    import pytest as _pytest

    with _pytest.raises(ValueError, match="unsupported statement"):
        run_redshift_script(spark, "DECLARE cur CURSOR FOR SELECT 1; SELECT 1;")


def test_script_io_option_parser():
    from sql_redshift_etl_spark.functions.script_runner import _parse_io_options

    o = _parse_io_options(
        "IAM_ROLE 'arn:aws:iam::1:role/x' FORMAT AS CSV IGNOREHEADER 1 DELIMITER '|'", "COPY"
    )
    assert o["format"] == "CSV" and o["skip"] == 1 and o["delimiter"] == "|"
    o = _parse_io_options(
        "FORMAT AS PARQUET PARTITION BY (lang, source) ALLOWOVERWRITE PARALLEL OFF", "UNLOAD"
    )
    assert o["format"] == "PARQUET" and o["partition_by"] == ["lang", "source"]
    assert o["overwrite"] and not o["parallel"]
    # unknown options are loud, not dropped (READRATIO would change semantics)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unsupported COPY option"):
        _parse_io_options("READRATIO 100", "COPY")


# (statement, option clause, option name the error must carry): options
# a statement or format does not take, each accepted and dropped before
# the COPY/UNLOAD rule table existed
_REJECTED_IO_OPTIONS = [
    ("COPY", "CSV HEADER", "HEADER"),
    ("COPY", "CSV ADDQUOTES", "ADDQUOTES"),
    ("COPY", "CSV PARALLEL OFF", "PARALLEL"),
    ("COPY", "CSV PARTITION BY (k)", "PARTITION BY"),
    ("COPY", "CSV ALLOWOVERWRITE", "ALLOWOVERWRITE"),
    ("COPY", "CSV CLEANPATH", "CLEANPATH"),
    ("COPY", "CSV MAXFILESIZE 5 MB", "MAXFILESIZE"),
    ("COPY", "FIXEDWIDTH 'k:3,v:5' IGNOREHEADER 1", "IGNOREHEADER"),
    ("COPY", "JSON IGNOREHEADER 1", "IGNOREHEADER"),
    ("COPY", "JSON DELIMITER ','", "DELIMITER"),
    ("UNLOAD", "FIXEDWIDTH 'k:3,v:5'", "FIXEDWIDTH"),
    ("UNLOAD", "CSV MAXERROR 5", "MAXERROR"),
    ("UNLOAD", "CSV IGNOREHEADER 1", "IGNOREHEADER"),
    ("UNLOAD", "CSV REMOVEQUOTES", "REMOVEQUOTES"),
    ("UNLOAD", "CSV DATEFORMAT 'YYYY-MM-DD'", "DATEFORMAT"),
    ("UNLOAD", "CSV QUOTE AS '%'", "QUOTE AS"),
    ("UNLOAD", "CSV BLANKSASNULL", "BLANKSASNULL"),
    ("UNLOAD", "JSON 'auto'", "JSON"),
    ("UNLOAD", "PARQUET NULL AS 'NUL'", "NULL AS"),
    ("UNLOAD", "PARQUET HEADER", "HEADER"),
    ("UNLOAD", "PARQUET DELIMITER ','", "DELIMITER"),
]


@pytest.mark.parametrize("stmt,clause,option", _REJECTED_IO_OPTIONS)
def test_copy_unload_option_rules(spark, tmp_path, stmt, clause, option):
    """An option the statement or the format does not take raises a
    ValueError naming it, instead of being silently dropped (a COPY
    FIXEDWIDTH IGNOREHEADER 1 used to load the header line as a row)."""
    import re as _re

    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    data = tmp_path / "in.txt"
    data.write_text("kk vvvv\n  1    a\n")
    io = (
        f"COPY t FROM '{data}' {clause};"
        if stmt == "COPY"
        else f"UNLOAD ('SELECT k, v FROM t') TO '{tmp_path / 'out'}' {clause};"
    )
    with pytest.raises(ValueError, match=_re.escape(option)):
        run_redshift_script(
            spark, f"CREATE TEMP TABLE t (k VARCHAR(3), v VARCHAR(5)); {io} SELECT * FROM t;"
        )


@pytest.mark.parametrize(
    "content,clause",
    [
        ("1,%a,b%\n2,%c%\n", "CSV QUOTE AS '%'"),
        ('1,"quo\\"ted"\n', "CSV"),  # the engine's own UNLOAD CSV of quo"ted
        ('2,""\n', "CSV"),
    ],
)
def test_copy_maxerror_reads_like_plain_copy(spark, tmp_path, content, clause):
    """A MAXERROR load of well-formed rows loads exactly what the plain
    COPY of the same file loads: both read through one CSV reader."""
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    data = tmp_path / "in.csv"
    data.write_text(content)

    def load(budget: str) -> list[tuple]:
        return [
            tuple(r)
            for r in run_redshift_script(
                spark,
                f"""
                CREATE TEMP TABLE t (k INT, v VARCHAR(9));
                COPY t FROM '{data}' {clause} {budget};
                SELECT * FROM t ORDER BY k;
                """,
            ).collect()
        ]

    plain = load("")
    assert load("MAXERROR 5") == plain
    assert len(plain) == content.count("\n")


def test_script_runner_copy_unload_roundtrip(spark, tmp_path):
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    src = str(tmp_path / "in_csv")
    out = str(tmp_path / "out_parquet")
    spark.createDataFrame(
        [(1, "x", 10.5), (2, "y", 20.25), (3, "x", 4.0)], "k BIGINT, grp STRING, amt DOUBLE"
    ).write.option("header", True).csv(src)
    res = run_redshift_script(
        spark,
        f"""
        CREATE TEMP TABLE stg (k BIGINT, grp VARCHAR(4), amt DOUBLE);
        COPY stg FROM '{src}' IAM_ROLE 'arn:aws:iam::0:role/r' FORMAT AS CSV IGNOREHEADER 1;
        UNLOAD ('SELECT grp, SUM(amt) AS total FROM stg GROUP BY grp')
        TO '{out}' FORMAT AS PARQUET PARTITION BY (grp) ALLOWOVERWRITE;
        SELECT COUNT(*) AS n FROM stg;
        """,
    )
    assert res.first()["n"] == 3
    back = {r["grp"]: r["total"] for r in spark.read.parquet(out).collect()}
    assert back == {"x": 14.5, "y": 20.25}


def test_script_runner_insert_column_list_edge_cases(spark):
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    # ≥2 unlisted columns must become NULLs (not an ambiguous-NULL crash),
    # and identifier case must not matter.
    out = run_redshift_script(
        spark,
        """
        CREATE TEMP TABLE t3 (a BIGINT, b BIGINT, c BIGINT);
        INSERT INTO t3 (A) SELECT 1;
        SELECT * FROM t3;
        """,
    )
    assert [tuple(r) for r in out.collect()] == [(1, None, None)]

    # unknown listed column is loud, not silently dropped
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown columns"):
        run_redshift_script(
            spark,
            "CREATE TEMP TABLE t4 (a BIGINT); INSERT INTO t4 (bogus) SELECT 42; SELECT 1;",
        )


def test_script_runner_restores_shadowed_caller_views(spark):
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    spark.range(5).toDF("n").createOrReplaceTempView("base_ev")
    out = run_redshift_script(spark, "DELETE FROM base_ev WHERE n < 2; SELECT COUNT(*) AS c FROM base_ev;")
    assert out.first()["c"] == 3
    # the caller's view survives the script (shadowed, not destroyed)
    assert spark.catalog.tableExists("base_ev")
    assert spark.table("base_ev").count() == 5
    spark.catalog.dropTempView("base_ev")


def test_script_runner_update_with_subquery_where_in_set(spark):
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    out = run_redshift_script(
        spark,
        """
        CREATE TEMP TABLE s (k BIGINT, x BIGINT);
        INSERT INTO s VALUES (1, 10), (2, 20);
        CREATE TEMP TABLE t (k BIGINT, v BIGINT);
        INSERT INTO t VALUES (1, 0), (2, 0);
        UPDATE t SET v = (SELECT MAX(x) FROM s WHERE k = 1) WHERE k = 1;
        SELECT k, v FROM t ORDER BY k;
        """,
    )
    assert [tuple(r) for r in out.collect()] == [(1, 10), (2, 0)]


def test_script_block_comment_is_token_separator():
    from sql_redshift_etl_spark.functions.redshift_sql import strip_sql_comments as strip_comments

    assert strip_comments("SELECT a/**/b FROM t").split() == ["SELECT", "a", "b", "FROM", "t"]


def test_script_copy_ignoreheader_gt1_is_loud(spark, tmp_path):
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    import pytest as _pytest

    with _pytest.raises(ValueError, match="IGNOREHEADER 2 unsupported"):
        run_redshift_script(
            spark,
            f"""
            CREATE TEMP TABLE stg (k BIGINT);
            COPY stg FROM '{tmp_path}' FORMAT AS CSV IGNOREHEADER 2;
            SELECT 1;
            """,
        )


def test_redshift_sql_comment_and_literal_safety():
    """Review fixes: comments are stripped before any rewrite (an
    apostrophe in a comment must not flip literal parity), and the plain
    alias/storage/now substitutions never mutate string-literal DATA."""
    from sql_redshift_etl_spark.functions.redshift_sql import translate_redshift_sql as t

    out = t("-- don't drop this\nSELECT DATEDIFF(day, a, b) FROM t")
    assert out.strip() == "SELECT datediff(cast(b as date), cast(a as date)) FROM t"
    # literal data survives every plain substitution
    assert "'run GETDATE() nightly'" in t("SELECT 'run GETDATE() nightly' AS note FROM t")
    assert "'DISTSTYLE KEY'" in t("SELECT 'DISTSTYLE KEY' AS doc FROM t")
    assert "'call DEXP(1)'" in t("SELECT 'call DEXP(1)' AS doc FROM t")


def test_redshift_sql_expression_args_in_fn_rewrites():
    """TO_CHAR/JSON_EXTRACT_PATH_TEXT/LISTAGG with parenthesized first
    arguments must translate (previously silently skipped — and Spark
    reads 'DD'/'YYYY' as different fields, so a skip is silently WRONG,
    not an error)."""
    from sql_redshift_etl_spark.functions.redshift_sql import translate_redshift_sql as t

    assert (
        t("SELECT TO_CHAR(DATEADD(day, 1, d), 'YYYY-MM-DD') FROM t")
        == "SELECT date_format(DATEADD(day, 1, d), 'yyyy-MM-dd') FROM t"
    )
    assert (
        t("SELECT JSON_EXTRACT_PATH_TEXT(NVL(p, '{}'), 'k') FROM t")
        == "SELECT get_json_object(NVL(p, '{}'), '$.k') FROM t"
    )
    assert t("SELECT LISTAGG(UPPER(n), ',') WITHIN GROUP (ORDER BY UPPER(n)) FROM t") == (
        "SELECT array_join(array_sort(collect_list(UPPER(n))), ',') FROM t"
    )
    # non-literal formats/paths raise instead of passing through
    import pytest as _pytest

    with _pytest.raises(ValueError, match="TO_CHAR format"):
        t("SELECT TO_CHAR(d, fmt_col) FROM t")
    with _pytest.raises(ValueError, match="path elements"):
        t("SELECT JSON_EXTRACT_PATH_TEXT(p, k) FROM t")


def test_redshift_sql_qualify_in_union_branches():
    from sql_redshift_etl_spark.functions.redshift_sql import translate_redshift_sql as t

    out = t(
        "SELECT a, rn FROM t1 QUALIFY rn = 1 UNION ALL SELECT a, rn FROM t2 QUALIFY rn = 2"
    )
    # both branches rewritten, the UNION preserved between them
    assert out.count("__qualify_sub") == 2
    assert "UNION ALL" in out
    assert "QUALIFY" not in out.upper().replace("__QUALIFY", "")


def test_redshift_sql_top_edge_cases():
    from sql_redshift_etl_spark.functions.redshift_sql import translate_redshift_sql as t

    # TOP + QUALIFY composes (TOP rewrites first; qualify keeps the LIMIT tail)
    out = t("SELECT TOP 5 a, rn FROM t QUALIFY rn = 1")
    assert out.rstrip().endswith("LIMIT 5") and "__qualify" in out
    # a subquery LIMIT no longer trips the depth-0 guard
    out = t("SELECT TOP 3 * FROM (SELECT * FROM t ORDER BY x LIMIT 10) s")
    assert out.rstrip().endswith("LIMIT 3")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="set operators"):
        t("SELECT TOP 3 a FROM t UNION ALL SELECT a FROM u")


def test_datediff_unit_aliases_sql_and_dataframe_sides_agree(spark):
    """The SQL front-end's alias table and dialect.redshift_datediff
    must accept the same spellings (review finding: they had drifted),
    and week must count BOUNDARY CROSSINGS on both sides."""
    from pyspark.sql import functions as F

    from sql_redshift_etl_spark.functions import redshift_sql as rs
    from sql_redshift_etl_spark.functions.dialect import redshift_datediff

    df = spark.createDataFrame(
        [("2024-01-06 23:00:00", "2024-01-08 01:00:00")], "a string, b string"
    ).select(F.col("a").cast("timestamp").alias("a"), F.col("b").cast("timestamp").alias("b"))
    df.createOrReplaceTempView("_dd_t")
    spellings = list(rs._DATEDIFF_UNIT_ALIASES) + list(rs._DATEDIFF_EXPRS)
    for u in spellings:
        sql_val = spark.sql(
            rs.translate_redshift_sql(f"SELECT DATEDIFF({u}, a, b) AS d FROM _dd_t")
        ).first()["d"]
        df_val = df.select(redshift_datediff(u, "a", "b").alias("d")).first()["d"]
        assert sql_val == df_val, (u, sql_val, df_val)
    # Sat 23:00 → Mon 01:00 crosses one Monday week boundary
    assert spark.sql(
        rs.translate_redshift_sql("SELECT DATEDIFF(week, a, b) AS d FROM _dd_t")
    ).first()["d"] == 1
    spark.catalog.dropTempView("_dd_t")


def test_manifest_write_and_loud_on_missing_file(spark, tmp_path):
    import os

    from sql_redshift_etl_spark.sources.writers import read_manifest_paths, write_manifest

    out = str(tmp_path / "mf_out")
    spark.range(100).toDF("n").repartition(4).write.parquet(out)
    mf = write_manifest(out)
    files = read_manifest_paths(mf)
    assert len(files) == 4 and all(f.endswith(".parquet") for f in files)
    # exact listed-file ingest
    assert spark.read.parquet(*files).count() == 100
    # a listed-but-missing mandatory file fails loudly before any read
    os.remove(files[0])
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError, match="mandatory files missing"):
        read_manifest_paths(mf)


def test_copy_empty_manifest_loads_zero_rows(spark, tmp_path):
    """A zero-row UNLOAD legitimately writes a manifest with entries:[]
    (no data files); Redshift's COPY of it loads zero rows. Pre-fix the
    script runner crashed calling the reader with no paths (advisor
    finding, r5). The target table's prior contents must survive."""
    import json

    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    out = tmp_path / "empty_unload"
    out.mkdir()
    mf = out / "_manifest.json"
    mf.write_text(json.dumps({"entries": []}))
    result = run_redshift_script(
        spark,
        f"""
        CREATE TEMP TABLE tgt (k BIGINT, v VARCHAR(10));
        INSERT INTO tgt VALUES (1, 'keep');
        COPY tgt FROM '{mf}' FORMAT AS PARQUET MANIFEST;
        SELECT k, v FROM tgt;
        """,
    )
    assert [tuple(r) for r in result.collect()] == [(1, "keep")]


def test_merge_delete_when_null_condition_keeps_row(spark):
    """WHEN MATCHED AND cond THEN DELETE with cond = NULL is NOT TRUE:
    the row falls through to UPDATE, never a silent delete (review fix)."""
    from pyspark.sql import functions as F

    from sql_redshift_etl_spark.operators.merge import merge_upsert

    t = spark.createDataFrame([(1, 10), (2, 20)], "k long, v long")
    s = spark.createDataFrame([(1, None), (2, -5)], "k long, qty long")
    out = merge_upsert(
        t,
        s,
        ["k"],
        update_set={"v": F.col("t.v") + 1},
        insert_values={"v": F.lit(0)},
        delete_when=F.col("s.qty") < 0,
    )
    rows = {r["k"]: r["v"] for r in out.collect()}
    # k=2: qty=-5 → TRUE → deleted. k=1: qty NULL → cond NULL → updated.
    assert rows == {1: 11}


def test_merge_broadcast_two_branch_matches_full_outer(spark):
    from pyspark.sql import functions as F

    from sql_redshift_etl_spark.operators.merge import merge_upsert

    t = spark.createDataFrame([(1, 10), (2, 20), (3, 30)], "k long, v long")
    s = spark.createDataFrame([(2, 200), (3, -1), (4, 400)], "k long, v long")
    kwargs = dict(
        update_set={"v": F.col("s.v")},
        insert_values={"v": F.col("s.v") * 2},
        delete_when=F.col("s.v") < 0,
    )
    plain = sorted(tuple(r) for r in merge_upsert(t, s, ["k"], **kwargs).collect())
    bcast = sorted(
        tuple(r) for r in merge_upsert(t, s, ["k"], broadcast_source=True, **kwargs).collect()
    )
    assert plain == bcast == [(1, 10), (2, 200), (4, 800)]
    # the broadcast plan must not be a full-outer (which cannot broadcast)
    plan = merge_upsert(t, s, ["k"], broadcast_source=True, **kwargs)._jdf.queryExecution().executedPlan().toString()
    assert "FullOuter" not in plan


def test_csv_roundtrip_with_embedded_newlines(spark, tmp_path):
    """The lossless-COPY claim must hold for text containing newlines —
    multiLine read (review fix: default parsing split quoted records)."""
    from sql_redshift_etl_spark.sources.readers import read_csv
    from sql_redshift_etl_spark.sources.writers import unload_csv

    path = str(tmp_path / "nl_csv")
    df = spark.createDataFrame(
        [(1, "one line"), (2, "two\nlines"), (3, 'quo"ted\nand more')],
        "k long, text string",
    )
    unload_csv(df, path)
    back = read_csv(spark, path, "k long, text string")
    assert sorted(tuple(r) for r in back.collect()) == sorted(tuple(r) for r in df.collect())


def test_to_char_uppercase_name_tokens(spark):
    """Redshift TO_CHAR case semantics: UPPERCASE name tokens (MON/DY)
    emit UPPERCASE names ('JUL', not Spark's 'Jul'); mixed-case tokens
    and formats with any lowercase text are left as Spark renders them
    (the upper() wrap would clobber literals)."""
    from pyspark.sql import functions as F

    from sql_redshift_etl_spark.functions.dialect import to_char, tochar_needs_upper
    from sql_redshift_etl_spark.functions.redshift_sql import translate_redshift_sql as t

    assert tochar_needs_upper("MON DD, YYYY")
    assert tochar_needs_upper("DY")
    assert not tochar_needs_upper("Mon DD")
    assert not tochar_needs_upper("YYYY-MM-DD")
    df = spark.createDataFrame([("2024-07-04 10:00:00",)], "s string").select(
        F.col("s").cast("timestamp").alias("ts")
    )
    assert df.select(to_char("ts", "MON DD, YYYY").alias("x")).first()["x"] == "JUL 04, 2024"
    assert df.select(to_char("ts", "DY").alias("x")).first()["x"] == "THU"
    out = t("SELECT TO_CHAR(ts, 'MON DD, YYYY') FROM x")
    assert out == "SELECT upper(date_format(ts, 'MMM dd, yyyy')) FROM x"
    # Full-name tokens (advisor fix, r5): MONTH/DAY map to MMMM/EEEE —
    # pre-fix, MONTH chopped to MON+'T'+'H' and rendered 'JULTH', and DAY
    # passed through as a quoted literal. Fill-mode names (no Redshift
    # 9-char blank padding), uppercased per the name-token case rule.
    assert df.select(to_char("ts", "MONTH").alias("x")).first()["x"] == "JULY"
    assert df.select(to_char("ts", "DAY").alias("x")).first()["x"] == "THURSDAY"
    assert df.select(to_char("ts", "DD MONTH YYYY").alias("x")).first()["x"] == "04 JULY 2024"


def test_frac_threshold_clamps_full_and_empty_samples():
    """round(f*65536)==65536 used to format as 5-char '10000', which
    sorts below most 4-char hashes — a 100% sample silently became ~6%.
    Full samples must compare above every hex hash; empty below all."""
    from sql_redshift_etl_spark.llm.sampling import frac_threshold

    assert frac_threshold(0.5) == "8000"
    assert "ffff" < frac_threshold(1.0)        # every hash selected
    assert "ffff" < frac_threshold(0.999999)   # rounds to 65536 too
    assert not ("0000" < frac_threshold(0.0))  # nothing selected
    assert not ("0000" < frac_threshold(-1.0))


def test_similar_to_translation_and_loud_rejections():
    """[NOT] SIMILAR TO 'pat' → [NOT] RLIKE anchored regex: % → .*,
    _ → ., regex-literal chars (.^$) escaped, backslash escapes the next
    char. Dynamic patterns and explicit ESCAPE clauses raise (r5)."""
    import pytest as _pytest

    from sql_redshift_etl_spark.functions.redshift_sql import (
        _similar_to_regex,
        translate_redshift_sql as t,
    )

    assert t("SELECT * FROM t WHERE a SIMILAR TO 'ab[1-3]%'") == (
        "SELECT * FROM t WHERE a RLIKE '^(?:ab[1-3].*)$'"
    )
    assert t("SELECT * FROM t WHERE a NOT SIMILAR TO '_x'") == (
        "SELECT * FROM t WHERE a NOT RLIKE '^(?:.x)$'"
    )
    # '.' is LITERAL in SIMILAR TO → escaped in the regex; \% is literal %
    assert _similar_to_regex("a.b%") == r"^(?:a\.b.*)$"
    # \% = literal percent: the wildcard meaning is gone ('%' needs no
    # regex escape — re.escape leaves non-special chars bare since 3.7)
    assert _similar_to_regex(r"100\%") == "^(?:100%)$"
    # literals inside strings are data, not operators
    assert t("SELECT 'x SIMILAR TO y' AS s FROM t") == "SELECT 'x SIMILAR TO y' AS s FROM t"
    with _pytest.raises(ValueError, match="ESCAPE"):
        t("SELECT * FROM t WHERE a SIMILAR TO 'x!%' ESCAPE '!'")
    with _pytest.raises(ValueError, match="string literal"):
        t("SELECT * FROM t WHERE a SIMILAR TO b")


def test_date_part_year_and_temp_name_rewrites():
    from sql_redshift_etl_spark.functions.redshift_sql import translate_redshift_sql as t

    assert t("SELECT DATE_PART_YEAR(d) AS y FROM t") == "SELECT year(d) AS y FROM t"
    # #temp identifiers rewrite everywhere EXCEPT inside string literals
    assert t("SELECT a FROM #stg JOIN #dim ON #stg.k = #dim.k") == (
        "SELECT a FROM rs_tmp_stg JOIN rs_tmp_dim ON rs_tmp_stg.k = rs_tmp_dim.k"
    )
    assert t("SELECT '#notatable' AS s FROM t") == "SELECT '#notatable' AS s FROM t"


def test_window_listagg_translation_and_order_by_rejection():
    """Redshift's window LISTAGG (OVER with only PARTITION BY): the OVER
    must attach to the inner collect_list; ORDER BY inside OVER raises
    (Spark's default frame would yield a RUNNING list — silently
    different values, so loud instead)."""
    import pytest as _pytest

    from sql_redshift_etl_spark.functions.redshift_sql import translate_redshift_sql as t

    out = t(
        "SELECT LISTAGG(s, ',') WITHIN GROUP (ORDER BY s) OVER (PARTITION BY g) FROM t"
    )
    assert out == (
        "SELECT array_join(array_sort(collect_list(s) OVER (PARTITION BY g)), ',') FROM t"
    )
    # distinct order key → struct-sort form, OVER still on collect_list
    out2 = t(
        "SELECT LISTAGG(v, '|') WITHIN GROUP (ORDER BY k DESC) OVER (PARTITION BY g) FROM t"
    )
    assert "collect_list(named_struct('o', k, 'v', v)) OVER (PARTITION BY g)" in out2
    assert out2.startswith("SELECT array_join(reverse(transform(array_sort(")
    with _pytest.raises(ValueError, match="ORDER BY inside OVER"):
        t("SELECT LISTAGG(s, ',') WITHIN GROUP (ORDER BY s) OVER (PARTITION BY g ORDER BY s) FROM t")


def test_window_listagg_values(spark):
    """Behavioral check of the window-LISTAGG rewrite on a real frame."""
    from sql_redshift_etl_spark.functions.redshift_sql import run_redshift_sql

    spark.createDataFrame(
        [(1, "b"), (1, "a"), (2, "z")], "g int, s string"
    ).createOrReplaceTempView("_wl_t")
    rows = run_redshift_sql(
        spark,
        "SELECT g, LISTAGG(s, ',') WITHIN GROUP (ORDER BY s) OVER (PARTITION BY g) AS l FROM _wl_t",
    ).collect()
    assert sorted((r.g, r.l) for r in rows) == [(1, "a,b"), (1, "a,b"), (2, "z")]
    spark.catalog.dropTempView("_wl_t")


def test_ann_banding_for_scales_width_and_recall():
    """Scale-aware sign-LSH banding (r5): band bits grow with log2(n) so
    expected uniform buckets stay ~target (linear candidate mass where
    fixed 8-bit bands saturate into constant-fraction-of-n² growth);
    band count grows to hold recall at the dedup threshold."""
    import math

    from sql_redshift_etl_spark.llm.dedup import ann_banding_for

    k0, b0 = ann_banding_for(2_000)
    assert b0 == 8  # floor: never narrower than the fixture banding
    k30, b30 = ann_banding_for(600_000)
    k100, b100 = ann_banding_for(2_000_000)
    assert b30 >= 15 and b100 > b30  # width grows with the corpus
    # expected uniform bucket stays bounded near the target
    assert 600_000 / 2**b30 <= 16 and 2_000_000 / 2**b100 <= 16
    # recall at the policy threshold holds >= the requested 0.9
    for k, b in ((k0, b0), (k30, b30), (k100, b100)):
        p = 1 - math.acos(0.95) / math.pi
        assert 1 - (1 - p**b) ** k >= 0.9
        assert k <= 64  # bands stay within the signing budget cap
    # exact duplicates collide in every band at any width (p=1)
    # — structural, but keep the policy honest about its floor args
    assert ann_banding_for(1) == (ann_banding_for(1)[0], 8)


def test_ann_scaled_counts_rows_when_footers_are_unreadable(spark, monkeypatch):
    """dedup_embedding_ann_scaled sizes its banding from the parquet
    footers (scale.parquet_total_rows); when they cannot be read it
    counts the table instead, so the policy sees the same n and the
    query returns the same pairs."""
    from sql_redshift_etl_spark.catalog import load_table
    from sql_redshift_etl_spark.llm import dedup
    from tests.conftest import SF_DIR

    seen = []
    policy = dedup.ann_banding_for
    monkeypatch.setattr(dedup, "ann_banding_for", lambda n: seen.append(n) or policy(n))
    from_footers = sorted(map(tuple, dedup.dedup_embedding_ann_scaled(spark, SF_DIR).collect()))
    monkeypatch.setattr(dedup, "parquet_total_rows", lambda path: None)
    counted = sorted(map(tuple, dedup.dedup_embedding_ann_scaled(spark, SF_DIR).collect()))
    assert seen == [load_table(spark, SF_DIR, "embeddings").count()] * 2
    assert counted == from_footers and len(counted) > 0


def test_scaled_embedding_perturbation_properties(spark):
    """make_scaled_data's replica perturbation (r5) must be (a) norm-
    preserving — replicas stay unit-comparable with originals — and
    (b) non-degenerate — a replica is NOT an exact dup of its original
    (verbatim copies would make high-factor tiers a pile of cosine-1.0
    pairs and the ANN output quadratic in the factor)."""
    import math
    import sys

    sys.path.insert(0, "/root/repo/tools")
    from make_scaled_data import _replicate, _bases

    bases = {("embeddings", "vec_id"): 10_000}
    src = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(20)
    import unittest.mock as mock

    with mock.patch("make_scaled_data.load_table", return_value=src), \
         mock.patch("make_scaled_data.SRC_SF", "unused"):
        rep = _replicate(spark, "embeddings", 3, bases)
    rows = rep.collect()
    by_replica: dict[int, dict[int, list[float]]] = {}
    for r in rows:
        rep_idx = (r["vec_id"]) // 10_000
        by_replica.setdefault(rep_idx, {})[r["vec_id"] % 10_000] = list(r["embedding"])
    assert set(by_replica) == {0, 1, 2}
    for base_id, v0 in by_replica[0].items():
        n0 = math.sqrt(sum(x * x for x in v0))
        for rep_idx in (1, 2):
            v = by_replica[rep_idx][base_id]
            n = math.sqrt(sum(x * x for x in v))
            assert abs(n - n0) < 1e-3 * max(n0, 1.0)  # norm preserved
            assert v != v0  # not a verbatim copy


def test_script_create_like_and_rename_swap(spark):
    """CREATE TABLE (LIKE ...) + ALTER TABLE RENAME (r5): the
    rebuild-and-swap publish idiom. The final read of the published name
    must see the NEW build; the old version must be droppable under its
    renamed name; renaming an unknown table stays loud."""
    import pytest as _pytest

    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    out = run_redshift_script(
        spark,
        """
        CREATE TEMP TABLE v1 AS SELECT 1 AS k, 'old' AS tag;
        CREATE TABLE v2 (LIKE v1);
        INSERT INTO v2 VALUES (1, 'new'), (2, 'new');
        ALTER TABLE v1 RENAME TO v_old;
        ALTER TABLE v2 RENAME TO v1;
        DROP TABLE v_old;
        SELECT k, tag FROM v1;
        """,
    )
    assert sorted(tuple(r) for r in out.collect()) == [(1, "new"), (2, "new")]
    # (LIKE x) pins the schema: the empty clone has v1's columns/types
    like_only = run_redshift_script(
        spark,
        """
        CREATE TEMP TABLE src (a BIGINT, b VARCHAR(8));
        CREATE TEMP TABLE clone (LIKE src);
        SELECT * FROM clone;
        """,
    )
    assert like_only.columns == ["a", "b"] and like_only.count() == 0
    with _pytest.raises(Exception):
        run_redshift_script(spark, "ALTER TABLE nope_missing RENAME TO x; SELECT 1 AS a;")


def test_script_alter_append_and_identity(spark):
    """ALTER TABLE APPEND moves rows (target gains them, source empties);
    IDENTITY(seed,step) columns auto-generate unique ascending values on
    INSERTs that omit them, starting at the seed, continuing above the
    table max on later inserts (unique, NOT consecutive — Redshift's own
    contract), and the attribute survives CREATE TABLE (LIKE)."""
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    out = run_redshift_script(
        spark,
        """
        CREATE TEMP TABLE stage (k BIGINT, v VARCHAR(8));
        INSERT INTO stage VALUES (1, 'a'), (2, 'b');
        CREATE TEMP TABLE fct (k BIGINT, v VARCHAR(8));
        INSERT INTO fct VALUES (9, 'z');
        ALTER TABLE fct APPEND FROM stage;
        SELECT (SELECT COUNT(*) FROM fct) AS n_fct,
               (SELECT COUNT(*) FROM stage) AS n_stage;
        """,
    )
    assert [tuple(r) for r in out.collect()] == [(3, 0)]

    ids = run_redshift_script(
        spark,
        """
        CREATE TEMP TABLE dim (id BIGINT IDENTITY(100, 1), name VARCHAR(8));
        INSERT INTO dim (name) VALUES ('a'), ('b');
        INSERT INTO dim (name) VALUES ('c');
        CREATE TEMP TABLE dim2 (LIKE dim);
        INSERT INTO dim2 (name) VALUES ('x');
        SELECT (SELECT COUNT(DISTINCT id) FROM dim) AS uniq,
               (SELECT MIN(id) FROM dim) AS lo,
               (SELECT COUNT(*) FROM dim WHERE id >= 100) AS above_seed,
               (SELECT MIN(id) FROM dim2) AS lo2;
        """,
    )
    r = ids.collect()[0]
    assert r["uniq"] == 3 and r["lo"] == 100 and r["above_seed"] == 3 and r["lo2"] == 100


def test_extract_epoch_and_at_time_zone_rewrites(spark):
    """EXTRACT(EPOCH FROM x) / DATE_PART(epoch, x) → unix_timestamp;
    expr AT TIME ZONE 'tz' → to_utc_timestamp (r5). The AT TIME ZONE
    operand is backward-scanned: identifier, typed literal, and
    function-call operands all wrap correctly; a non-literal zone is
    loud."""
    import pytest as _pytest

    from sql_redshift_etl_spark.functions.redshift_sql import (
        run_redshift_sql,
        translate_redshift_sql as t,
    )

    assert t("SELECT EXTRACT(EPOCH FROM ts) AS e FROM x") == "SELECT unix_timestamp(ts) AS e FROM x"
    assert t("SELECT DATE_PART(epoch, ts) AS e FROM x") == "SELECT unix_timestamp(ts) AS e FROM x"
    assert t("SELECT DATE_PART('epoch', f(a, b)) AS e FROM x") == "SELECT unix_timestamp(f(a, b)) AS e FROM x"
    assert t("SELECT ts AT TIME ZONE 'UTC' AS u FROM x") == "SELECT to_utc_timestamp(ts, 'UTC') AS u FROM x"
    assert (
        t("SELECT date_trunc('day', ts) AT TIME ZONE 'Asia/Tokyo' AS u FROM x")
        == "SELECT to_utc_timestamp(date_trunc('day', ts), 'Asia/Tokyo') AS u FROM x"
    )
    assert (
        t("SELECT TIMESTAMP '2024-01-01 00:00:00' AT TIME ZONE 'America/New_York' AS u")
        == "SELECT to_utc_timestamp(TIMESTAMP '2024-01-01 00:00:00', 'America/New_York') AS u"
    )
    with _pytest.raises(ValueError, match="string-literal zone"):
        t("SELECT ts AT TIME ZONE tzcol FROM x")
    # value semantics: NY wall time 00:00 EST == 05:00 UTC; epoch matches
    row = run_redshift_sql(
        spark,
        "SELECT EXTRACT(EPOCH FROM TIMESTAMP '2024-01-01 00:00:00') AS e, "
        "TIMESTAMP '2024-01-01 00:00:00' AT TIME ZONE 'America/New_York' AS u",
    ).first()
    assert row["e"] == 1704067200  # session tz pinned UTC
    assert str(row["u"]) == "2024-01-01 05:00:00"


def test_wav_codec_is_a_real_container():
    """The r5 WAV path is a REAL RIFF/WAVE codec, not a fake: the encoder
    emits the canonical RIFF header any player validates, the decoder
    round-trips arbitrary u8 PCM bit-exactly, and malformed input is
    loud."""
    import pytest as _pytest

    from sql_redshift_etl_spark.llm.multimodal import decode_wav, encode_wav_u8

    samples = bytes(range(200, 216))
    payload = encode_wav_u8(samples)
    assert payload[:4] == b"RIFF" and payload[8:12] == b"WAVE"
    ch, rate, n, peak, mean = decode_wav(payload)
    assert (ch, rate, n, peak) == (1, 8000, 16, 215)
    assert mean == sum(samples) / 16
    with _pytest.raises(Exception):
        decode_wav(b"not a wav at all")


def test_png_codec_roundtrip_and_filters():
    """The r5 PNG path is a REAL codec: spec magic + CRC-verified chunks
    + zlib; the decoder reverses ALL five scanline filters (so it reads
    third-party 8-bit RGB PNGs, not just our filter-0 output); corrupted
    bytes and unsupported variants are loud."""
    import struct
    import zlib

    import pytest as _pytest

    from sql_redshift_etl_spark.llm.multimodal import (
        _png_chunk,
        _PNG_MAGIC,
        decode_png_rgb,
        encode_png_rgb,
    )

    rgb = bytes((x * 37 + 11) % 256 for x in range(5 * 4 * 3))
    payload = encode_png_rgb(5, 4, rgb)
    assert payload[:8] == _PNG_MAGIC
    assert decode_png_rgb(payload) == (5, 4, rgb)
    # corrupt one IDAT byte -> CRC catches it
    broken = bytearray(payload)
    broken[50] ^= 0xFF
    with _pytest.raises(ValueError, match="CRC mismatch|bad magic|invalid"):
        decode_png_rgb(bytes(broken))
    with _pytest.raises(ValueError, match="bad magic"):
        decode_png_rgb(b"JFIF" + payload)

    # hand-build a PNG using every filter type (1=Sub, 2=Up, 3=Average,
    # 4=Paeth) and check the decoder reconstructs the intended pixels —
    # filter rows are computed per the spec's forward definitions.
    w, h, bpp = 4, 5, 3
    stride = w * bpp
    pixels = bytes((7 * x + 3) % 256 for x in range(stride * h))
    rows = [pixels[y * stride : (y + 1) * stride] for y in range(h)]
    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if pa <= pb and pa <= pc else (b if pb <= pc else c)
    raw = b""
    prev = bytes(stride)
    for y, ft in zip(range(h), (0, 1, 2, 3, 4)):
        row = rows[y]
        enc = bytearray()
        for x in range(stride):
            a = row[x - bpp] if x >= bpp else 0
            b = prev[x]
            c = prev[x - bpp] if x >= bpp else 0
            pred = {0: 0, 1: a, 2: b, 3: (a + b) // 2, 4: paeth(a, b, c)}[ft]
            enc.append((row[x] - pred) & 0xFF)
        raw += bytes([ft]) + bytes(enc)
        prev = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    multi = (
        _PNG_MAGIC
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )
    assert decode_png_rgb(multi) == (w, h, pixels)


def test_resize_rgb_nn_geometry():
    """NN resize samples source pixel (x*w//W, y*h//H) — checked on a
    hand-built 4x2 image downsized to 2x1 and an upscale case."""
    from sql_redshift_etl_spark.llm.multimodal import resize_rgb_nn

    # 4x2 image: pixel value = 10*x + y per channel
    src = bytes(b for y in range(2) for x in range(4) for b in (10 * x + y,) * 3)
    out = resize_rgb_nn(4, 2, src, 2, 1)
    # (0,0) samples src (0*4//2, 0*2//1) = (0,0) -> 0; (1,0) samples (2,0) -> 20
    assert out == bytes((0, 0, 0, 20, 20, 20))
    up = resize_rgb_nn(1, 1, bytes((5, 6, 7)), 3, 2)
    assert up == bytes((5, 6, 7)) * 6  # upscale repeats the single pixel


def test_update_from_join_semantics(spark):
    """UPDATE ... FROM (r5): join-based update; each target row updates
    at most once even when the join matches several source rows; rows
    with no match are untouched; missing WHERE is loud."""
    import pytest as _pytest

    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    out = run_redshift_script(
        spark,
        """
        CREATE TEMP TABLE t (k BIGINT, v BIGINT);
        INSERT INTO t VALUES (1, 10), (2, 20), (3, 30);
        CREATE TEMP TABLE s (k BIGINT, add_v BIGINT);
        INSERT INTO s VALUES (1, 100), (2, 200), (2, 900);
        UPDATE t SET v = t.v + s.add_v FROM s WHERE t.k = s.k;
        SELECT k, v FROM t;
        """,
    )
    rows = dict((r.k, r.v) for r in out.collect())
    # k=1 single match; k=2 multi-match → updated ONCE with the
    # deterministic (smallest new value) pick; k=3 untouched
    assert rows == {1: 110, 2: 220, 3: 30}
    with _pytest.raises(ValueError, match="requires a WHERE"):
        run_redshift_script(
            spark,
            """
            CREATE TEMP TABLE a (x BIGINT); CREATE TEMP TABLE b (x BIGINT);
            UPDATE a SET x = b.x FROM b;
            SELECT 1 AS one;
            """,
        )


def test_delete_using_join_semantics(spark):
    """DELETE ... USING (r5): rows matching ANY source row are deleted
    (left-anti survivors); non-matching rows survive; USING without
    WHERE is loud; plain WHERE-DELETE still works."""
    import pytest as _pytest

    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    out = run_redshift_script(
        spark,
        """
        CREATE TEMP TABLE t (k BIGINT, v VARCHAR(4));
        INSERT INTO t VALUES (1, 'a'), (2, 'b'), (3, 'c');
        CREATE TEMP TABLE kill (k BIGINT);
        INSERT INTO kill VALUES (1), (3), (3);
        DELETE FROM t USING kill WHERE t.k = kill.k;
        SELECT k, v FROM t;
        """,
    )
    assert [tuple(r) for r in out.collect()] == [(2, "b")]
    with _pytest.raises(ValueError, match="USING requires a WHERE"):
        run_redshift_script(
            spark,
            """
            CREATE TEMP TABLE a (x BIGINT); CREATE TEMP TABLE b (x BIGINT);
            DELETE FROM a USING b;
            SELECT 1 AS one;
            """,
        )


def test_unload_gzip_and_null_as_roundtrip(spark, tmp_path):
    """UNLOAD ... GZIP writes .csv.gz files (MANIFEST lists them with
    the codec suffix) and COPY reads them back transparently; NULL AS
    'sentinel' round-trips SQL NULLs through CSV (r5)."""
    import glob
    import json

    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    out_dir = tmp_path / "gz_unload"
    result = run_redshift_script(
        spark,
        f"""
        CREATE TEMP TABLE src (k BIGINT, v VARCHAR(8));
        INSERT INTO src VALUES (1, 'a'), (2, NULL), (3, 'c');
        UNLOAD ('SELECT k, v FROM src') TO '{out_dir}'
            FORMAT AS CSV HEADER NULL AS '__NULL__' GZIP ALLOWOVERWRITE MANIFEST;
        CREATE TEMP TABLE back (k BIGINT, v VARCHAR(8));
        COPY back FROM '{out_dir}' FORMAT AS CSV IGNOREHEADER 1 NULL AS '__NULL__';
        SELECT k, v FROM back;
        """,
    )
    rows = sorted((r.k, r.v) for r in result.collect())
    assert rows == [(1, "a"), (2, None), (3, "c")]
    gz = glob.glob(str(out_dir / "*.csv.gz"))
    assert gz, "UNLOAD GZIP produced no .csv.gz files"
    mf = json.loads((out_dir / "_manifest.json").read_text())
    assert mf["entries"] and all(e["url"].endswith(".csv.gz") for e in mf["entries"])


def test_create_external_table(spark, tmp_path):
    """CREATE EXTERNAL TABLE (r5, the Spectrum analog): PARQUET externals
    validate declared columns and discover hive partitions; TEXTFILE
    externals read the declared schema at the given delimiter; a
    declared column missing from the files is loud."""
    import pytest as _pytest

    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    pq = tmp_path / "ext_pq"
    spark.createDataFrame(
        [(1, "a", "x"), (2, "b", "x"), (3, "c", "y")], "k long, v string, part string"
    ).write.partitionBy("part").parquet(str(pq))
    out = run_redshift_script(
        spark,
        f"""
        CREATE EXTERNAL TABLE ext_t (k BIGINT, v VARCHAR(8))
        PARTITIONED BY (part VARCHAR(8))
        STORED AS PARQUET
        LOCATION '{pq}';
        SELECT part, COUNT(*) AS n FROM ext_t GROUP BY part;
        """,
    )
    assert sorted((r.part, r.n) for r in out.collect()) == [("x", 2), ("y", 1)]
    with _pytest.raises(ValueError, match="declared columns"):
        run_redshift_script(
            spark,
            f"""
            CREATE EXTERNAL TABLE ext_bad (k BIGINT, nope VARCHAR(4))
            STORED AS PARQUET LOCATION '{pq}';
            SELECT 1 AS one;
            """,
        )
    txt = tmp_path / "ext_txt"
    txt.mkdir()
    (txt / "part-0.txt").write_text("1|foo\n2|bar\n")
    out2 = run_redshift_script(
        spark,
        f"""
        CREATE EXTERNAL TABLE ext_raw (k BIGINT, v VARCHAR(8))
        ROW FORMAT DELIMITED FIELDS TERMINATED BY '|'
        STORED AS TEXTFILE LOCATION '{txt}';
        SELECT k, v FROM ext_raw;
        """,
    )
    assert sorted(tuple(r) for r in out2.collect()) == [(1, "foo"), (2, "bar")]


def test_create_external_table_empty_prefix(spark, tmp_path):
    """An external over an EMPTY prefix binds as an empty table with the
    DECLARED schema (incl. partition columns) — Redshift's behavior; a
    zero-row upstream UNLOAD must not be fatal (r5 empty-input fix)."""
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    empty = tmp_path / "nothing"
    empty.mkdir()
    out = run_redshift_script(
        spark,
        f"""
        CREATE EXTERNAL TABLE ext_none (k BIGINT, v VARCHAR(8))
        PARTITIONED BY (part VARCHAR(8))
        STORED AS PARQUET LOCATION '{empty}';
        SELECT k, v, part FROM ext_none;
        """,
    )
    assert out.columns == ["k", "v", "part"] and out.count() == 0


# ---------------------------------------------------------------------------
# MERGE INTO script statement (r6) + identity lifecycle fixes
# ---------------------------------------------------------------------------


def test_script_merge_into_cross_named_keys(spark):
    """MERGE INTO with a cross-named merge key (t.id = s.src_id): matched
    rows update, unmatched source rows insert, unmatched target rows
    pass through — the full-outer merge plan, via the script spelling."""
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    out = run_redshift_script(
        spark,
        """
        CREATE TEMP TABLE tgt (id BIGINT, v VARCHAR(8), n BIGINT);
        INSERT INTO tgt VALUES (1, 'a', 10), (2, 'b', 20), (3, 'c', 30);
        CREATE TEMP TABLE src (src_id BIGINT, nv VARCHAR(8));
        INSERT INTO src VALUES (2, 'B'), (3, 'C'), (4, 'D');
        MERGE INTO tgt USING src s ON tgt.id = s.src_id
        WHEN MATCHED THEN UPDATE SET v = s.nv, n = tgt.n + 1
        WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.src_id, s.nv);
        SELECT id, v, n FROM tgt ORDER BY id;
        """,
    )
    assert [tuple(r) for r in out.collect()] == [
        (1, "a", 10),
        (2, "B", 21),
        (3, "C", 31),
        (4, "D", None),  # unlisted insert column -> NULL
    ]


def test_script_merge_into_delete_branch(spark):
    """WHEN MATCHED THEN DELETE drops matched target rows; NOT MATCHED
    still inserts."""
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    out = run_redshift_script(
        spark,
        """
        CREATE TEMP TABLE tgt (id BIGINT, v VARCHAR(8));
        INSERT INTO tgt VALUES (1, 'a'), (2, 'b');
        CREATE TEMP TABLE dead (id BIGINT);
        INSERT INTO dead VALUES (2), (9);
        MERGE INTO tgt USING dead ON tgt.id = dead.id
        WHEN MATCHED THEN DELETE
        WHEN NOT MATCHED THEN INSERT (id, v) VALUES (dead.id, 'ghost');
        SELECT id, v FROM tgt ORDER BY id;
        """,
    )
    assert [tuple(r) for r in out.collect()] == [(1, "a"), (9, "ghost")]


def test_script_merge_multiple_matches_raises(spark):
    """A source key matching more than once raises at runtime (Redshift's
    'found multiple matches'), via the distributed raise_error guard."""
    import pytest as _pytest

    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    with _pytest.raises(Exception, match="multiple source matches"):
        run_redshift_script(
            spark,
            """
            CREATE TEMP TABLE tgt (id BIGINT, v VARCHAR(8));
            INSERT INTO tgt VALUES (1, 'a');
            CREATE TEMP TABLE src (id BIGINT, v VARCHAR(8));
            INSERT INTO src VALUES (1, 'x'), (1, 'y'), (2, 'z');
            MERGE INTO tgt USING src ON tgt.id = src.id
            WHEN MATCHED THEN UPDATE SET v = src.v
            WHEN NOT MATCHED THEN INSERT (id, v) VALUES (src.id, src.v);
            SELECT COUNT(*) AS n FROM tgt;
            """,
        ).collect()


def test_script_merge_loud_rejections(spark):
    """Unsupported MERGE shapes raise named errors instead of silently
    deviating: WHEN ... AND predicates (not Redshift MERGE), a missing
    clause, non-equi ON, and an INSERT that sets the merge key to
    anything but the source key."""
    import pytest as _pytest

    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    prelude = """
        CREATE TEMP TABLE tgt (id BIGINT, v VARCHAR(8));
        CREATE TEMP TABLE src (id BIGINT, v VARCHAR(8));
    """
    cases = [
        ("WHEN ... AND", "AND predicates",
         "MERGE INTO tgt USING src ON tgt.id = src.id "
         "WHEN MATCHED AND src.v = 'x' THEN DELETE "
         "WHEN NOT MATCHED THEN INSERT (id, v) VALUES (src.id, src.v)"),
        ("missing clause", "requires both",
         "MERGE INTO tgt USING src ON tgt.id = src.id "
         "WHEN MATCHED THEN UPDATE SET v = src.v"),
        ("non-equi ON", "AND-ed equalities",
         "MERGE INTO tgt USING src ON tgt.id < src.id "
         "WHEN MATCHED THEN DELETE "
         "WHEN NOT MATCHED THEN INSERT (id, v) VALUES (src.id, src.v)"),
        ("key not from source", "merge key",
         "MERGE INTO tgt USING src ON tgt.id = src.id "
         "WHEN MATCHED THEN DELETE "
         "WHEN NOT MATCHED THEN INSERT (id, v) VALUES (src.id + 1, src.v)"),
    ]
    for _label, msg, stmt in cases:
        with _pytest.raises(ValueError, match=msg):
            run_redshift_script(spark, prelude + stmt + "; SELECT 1 AS one;")


def test_script_identity_cleared_on_drop_and_rebind(spark):
    """DROP TABLE (and re-CREATE without IDENTITY) must kill the identity
    generator: the recreated table's INSERT omitting the column inserts
    NULL, not stale auto-generated values (ADVICE r5)."""
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    out = run_redshift_script(
        spark,
        """
        CREATE TEMP TABLE d (id BIGINT IDENTITY(1,1), v VARCHAR(8));
        INSERT INTO d (v) SELECT 'x';
        DROP TABLE d;
        CREATE TEMP TABLE d (id BIGINT, v VARCHAR(8));
        INSERT INTO d (v) SELECT 'y';
        SELECT id, v FROM d;
        """,
    )
    assert [tuple(r) for r in out.collect()] == [(None, "y")]


def test_script_identity_ids_stable_across_actions(spark):
    """Generated identity values are PINNED at insert (localCheckpoint):
    two separate actions over the bound table see identical ids (ADVICE
    r5 — monotonically_increasing_id alone re-evaluates per action)."""
    from tests.conftest import SF_DIR

    from sql_redshift_etl_spark.catalog import load_table
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    load_table(spark, SF_DIR, "lineitem").createOrReplaceTempView("idp_lineitem")
    out = run_redshift_script(
        spark,
        """
        CREATE TEMP TABLE t (id BIGINT IDENTITY(100,1), v VARCHAR(8));
        INSERT INTO t (v) SELECT l_linestatus FROM idp_lineitem LIMIT 50;
        SELECT id, v FROM t;
        """,
    )
    first = sorted(tuple(r) for r in out.collect())
    second = sorted(tuple(r) for r in out.collect())
    assert first == second
    ids = [r[0] for r in first]
    assert len(set(ids)) == 50 and min(ids) >= 100


def test_script_identity_narrow_int_dense(spark):
    """An INT-typed identity column uses the dense row_number scheme —
    mid()-scale values (partitionId*2^33) would silently wrap a 32-bit
    column under non-ANSI casts (ADVICE r5). Ids are exactly seed..seed+n-1."""
    from tests.conftest import SF_DIR

    from sql_redshift_etl_spark.catalog import load_table
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    load_table(spark, SF_DIR, "lineitem").createOrReplaceTempView("idn_lineitem")
    out = run_redshift_script(
        spark,
        """
        CREATE TEMP TABLE t (id INT IDENTITY(7,1), v VARCHAR(8));
        INSERT INTO t (v) SELECT l_linestatus FROM idn_lineitem LIMIT 20;
        SELECT id FROM t;
        """,
    )
    ids = sorted(r.id for r in out.collect())
    assert ids == list(range(7, 27))


def test_external_parquet_binds_declared_schema(spark, tmp_path):
    """A PARQUET external binds the DECLARED schema (ADVICE r5): columns
    not in the declared list are invisible to SELECT *, and declared
    types are applied (cast), mirroring Redshift Spectrum."""
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    pq = tmp_path / "ext_decl"
    spark.createDataFrame(
        [(1, "a", 99.5), (2, "b", 1.25)], "k long, v string, hidden double"
    ).write.parquet(str(pq))
    out = run_redshift_script(
        spark,
        f"""
        CREATE EXTERNAL TABLE ext_d (k INT, v VARCHAR(4))
        STORED AS PARQUET LOCATION '{pq}';
        SELECT * FROM ext_d ORDER BY k;
        """,
    )
    assert out.columns == ["k", "v"]  # 'hidden' not exposed
    assert [f.dataType.simpleString() for f in out.schema.fields] == ["int", "string"]
    assert [tuple(r) for r in out.collect()] == [(1, "a"), (2, "b")]


def test_copy_null_as_non_csv_raises(spark, tmp_path):
    """COPY ... NULL AS with a non-text format raises loudly instead of
    silently ignoring the option (ADVICE r5)."""
    import pytest as _pytest

    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    pq = tmp_path / "nullas_pq"
    spark.createDataFrame([(1,)], "k long").write.parquet(str(pq))
    with _pytest.raises(ValueError, match="NULL AS"):
        run_redshift_script(
            spark,
            f"""
            CREATE TEMP TABLE t (k BIGINT);
            COPY t FROM '{pq}' PARQUET NULL AS 'NUL';
            SELECT * FROM t;
            """,
        )


def test_script_merge_remove_duplicates(spark):
    """Redshift's SIMPLIFIED MERGE (`ON cond REMOVE DUPLICATES`, no WHEN
    clauses): matched target rows — duplicates included — are replaced by
    one source row per key, unmatched source rows insert, unmatched
    target rows (even duplicated) pass through; source duplicates
    collapse deterministically."""
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    out = run_redshift_script(
        spark,
        """
        CREATE TEMP TABLE tgt (id BIGINT, v VARCHAR(8));
        INSERT INTO tgt VALUES (1, 'a'), (1, 'a2'), (2, 'b'), (3, 'c'), (3, 'c');
        CREATE TEMP TABLE src (id BIGINT, v VARCHAR(8));
        INSERT INTO src VALUES (1, 'A'), (1, 'A9'), (2, 'B'), (4, 'D');
        MERGE INTO tgt USING src ON tgt.id = src.id REMOVE DUPLICATES;
        SELECT id, v FROM tgt ORDER BY id, v;
        """,
    )
    assert [tuple(r) for r in out.collect()] == [
        (1, "A"),  # both target dups replaced; source dup ('A' < 'A9') wins
        (2, "B"),
        (3, "c"),
        (3, "c"),  # unmatched target dups untouched (key 3 not in source)
        (4, "D"),  # unmatched source inserts
    ]
    # column lists must be identical for the simplified form
    import pytest as _pytest

    with _pytest.raises(ValueError, match="identical"):
        run_redshift_script(
            spark,
            """
            CREATE TEMP TABLE t2 (id BIGINT, v VARCHAR(8), extra BIGINT);
            CREATE TEMP TABLE s2 (id BIGINT, v VARCHAR(8));
            MERGE INTO t2 USING s2 ON t2.id = s2.id REMOVE DUPLICATES;
            SELECT 1 AS one;
            """,
        )


def test_script_merge_remove_duplicates_keeps_column_order(spark):
    """REMOVE DUPLICATES on a key that is not the target's first column
    keeps the target's column order, so a later positional INSERT lands
    in the right columns."""
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    out = run_redshift_script(
        spark,
        """
        CREATE TEMP TABLE tgt (v VARCHAR(8), k BIGINT);
        INSERT INTO tgt VALUES ('a', 1), ('b', 2);
        CREATE TEMP TABLE s AS SELECT * FROM tgt WHERE k = 2;
        MERGE INTO tgt USING s ON tgt.k = s.k REMOVE DUPLICATES;
        INSERT INTO tgt VALUES ('c', 3);
        SELECT * FROM tgt;
        """,
    )
    assert out.columns == ["v", "k"]
    assert sorted(tuple(r) for r in out.collect()) == [("a", 1), ("b", 2), ("c", 3)]


def test_script_alter_column_ddl(spark):
    """ALTER TABLE ADD/DROP/RENAME COLUMN (r6): added columns backfill
    with the DEFAULT (or NULL), drops and renames resolve
    case-insensitively and loudly, and renaming an identity column
    carries its generator."""
    import pytest as _pytest

    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    out = run_redshift_script(
        spark,
        """
        CREATE TEMP TABLE t (k BIGINT, v VARCHAR(8));
        INSERT INTO t VALUES (1, 'a'), (2, 'b');
        ALTER TABLE t ADD COLUMN score DOUBLE DEFAULT 1.5;
        ALTER TABLE t ADD COLUMN note VARCHAR(16);
        ALTER TABLE t RENAME COLUMN v TO label;
        ALTER TABLE t DROP COLUMN note;
        INSERT INTO t VALUES (3, 'c', 9.0);
        SELECT k, label, score FROM t ORDER BY k;
        """,
    )
    assert [tuple(r) for r in out.collect()] == [
        (1, "a", 1.5),
        (2, "b", 1.5),
        (3, "c", 9.0),
    ]
    with _pytest.raises(ValueError, match="already exists"):
        run_redshift_script(
            spark,
            "CREATE TEMP TABLE t2 (k BIGINT); ALTER TABLE t2 ADD COLUMN K INT; SELECT 1 AS one;",
        )
    with _pytest.raises(ValueError, match="to drop"):
        run_redshift_script(
            spark,
            "CREATE TEMP TABLE t3 (k BIGINT); ALTER TABLE t3 DROP COLUMN nope; SELECT 1 AS one;",
        )
    # identity generator follows a renamed identity column
    out2 = run_redshift_script(
        spark,
        """
        CREATE TEMP TABLE t4 (id BIGINT IDENTITY(5,1), v VARCHAR(4));
        ALTER TABLE t4 RENAME COLUMN id TO rid;
        INSERT INTO t4 (v) SELECT 'x';
        SELECT rid, v FROM t4;
        """,
    )
    assert [tuple(r) for r in out2.collect()] == [(5, "x")]


def test_script_parenthesized_query_forms(spark):
    """Common Redshift spellings with parenthesized queries: `CREATE
    TABLE t AS (SELECT ...)` and `INSERT INTO t (SELECT ...)` both run
    (Spark parses the parenthesized query natively; the INSERT regex
    accepts it as the query, not a column list)."""
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    out = run_redshift_script(
        spark,
        """
        CREATE TEMP TABLE pq AS (SELECT 1 AS k);
        INSERT INTO pq (SELECT 2);
        INSERT INTO pq (k) SELECT 3;
        SELECT k FROM pq ORDER BY k;
        """,
    )
    assert [r.k for r in out.collect()] == [1, 2, 3]


def test_script_select_into(spark):
    """SELECT ... INTO name FROM ... (Redshift's one-line CTAS) binds
    the result to the name; an INTO inside a subquery is untouched."""
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    out = run_redshift_script(
        spark,
        """
        CREATE TEMP TABLE src (k BIGINT, v VARCHAR(4));
        INSERT INTO src VALUES (1, 'a'), (2, 'b'), (3, 'c');
        SELECT k, UPPER(v) AS v INTO #picked FROM src WHERE k >= 2;
        SELECT k, v FROM #picked ORDER BY k;
        """,
    )
    assert [tuple(r) for r in out.collect()] == [(2, "B"), (3, "C")]


def test_script_materialized_view_and_multi_drop(spark):
    """CREATE MATERIALIZED VIEW snapshots the defining query (Redshift's
    stale-until-REFRESH contract: a later INSERT into the base is NOT
    visible), REFRESH re-runs the stored definition, and DROP takes a
    comma list with CASCADE."""
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    out = run_redshift_script(
        spark,
        """
        CREATE TEMP TABLE base (k BIGINT, v BIGINT);
        INSERT INTO base VALUES (1, 10), (2, 20);
        CREATE MATERIALIZED VIEW mv AUTO REFRESH YES AS
        SELECT k, v * 2 AS v2 FROM base;
        INSERT INTO base VALUES (3, 30);
        CREATE TEMP TABLE stale AS SELECT COUNT(*) AS n, SUM(v2) AS s FROM mv;
        REFRESH MATERIALIZED VIEW mv;
        CREATE TEMP TABLE fresh AS SELECT COUNT(*) AS n, SUM(v2) AS s FROM mv;
        DROP TABLE IF EXISTS base, mv CASCADE;
        SELECT s.n AS stale_n, s.s AS stale_s, f.n AS fresh_n, f.s AS fresh_s
        FROM stale s CROSS JOIN fresh f;
        """,
    )
    assert [tuple(r) for r in out.collect()] == [(2, 60, 3, 120)]

    # REFRESH of a non-MV name raises loudly
    import pytest as _pytest

    with _pytest.raises(ValueError, match="not a materialized view"):
        run_redshift_script(
            spark,
            """
            CREATE TEMP TABLE t1 (k BIGINT);
            REFRESH MATERIALIZED VIEW t1;
            """,
        )


def test_script_stored_procedure_call(spark):
    """CREATE PROCEDURE stores a straight-line plpgsql body; CALL
    substitutes IN params on identifier boundaries and executes the
    body statements in place; DROP PROCEDURE removes it."""
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    out = run_redshift_script(
        spark,
        """
        CREATE TEMP TABLE sales (region VARCHAR(8), amount BIGINT);
        INSERT INTO sales VALUES ('NA', 100), ('EU', 250), ('NA', 40);

        CREATE OR REPLACE PROCEDURE load_region(p_region VARCHAR(8), p_min BIGINT)
        AS $$
        BEGIN
            CREATE TEMP TABLE picked AS
            SELECT region, amount FROM sales
            WHERE region = p_region AND amount >= p_min;
            INSERT INTO summary SELECT region, COUNT(*), SUM(amount) FROM picked GROUP BY region;
            DROP TABLE IF EXISTS picked;
            COMMIT;
        END;
        $$ LANGUAGE plpgsql;

        CREATE TEMP TABLE summary (region VARCHAR(8), n BIGINT, total BIGINT);
        CALL load_region('NA', 50);
        CALL load_region('EU', 0);
        SELECT region, n, total FROM summary ORDER BY region;
        """,
    )
    assert [tuple(r) for r in out.collect()] == [("EU", 1, 250), ("NA", 1, 100)]


def test_script_stored_procedure_loud_rejections(spark):
    """OUT params, arity mismatches, and CALL of an undefined procedure
    each raise named errors."""
    import pytest as _pytest

    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    with _pytest.raises(ValueError, match="OUT parameters"):
        run_redshift_script(
            spark,
            """
            CREATE PROCEDURE p2(OUT r BIGINT) AS $$
            BEGIN SELECT 1; END;
            $$ LANGUAGE plpgsql;
            """,
        )
    with _pytest.raises(ValueError, match="expected 1 argument"):
        run_redshift_script(
            spark,
            """
            CREATE PROCEDURE p3(p_k BIGINT) AS $$
            BEGIN SELECT p_k; END;
            $$ LANGUAGE plpgsql;
            CALL p3(1, 2);
            """,
        )
    with _pytest.raises(ValueError, match="no procedure"):
        run_redshift_script(spark, "CALL ghost(1);")


def test_script_procedure_if_exists_in_body_ok(spark):
    """DROP TABLE IF EXISTS / CREATE TABLE IF-free DDL inside a body do
    not trip the control-flow guard (IF EXISTS is DDL, not plpgsql IF)."""
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    out = run_redshift_script(
        spark,
        """
        CREATE PROCEDURE rebuild() AS $$
        BEGIN
            DROP TABLE IF EXISTS scratch;
            CREATE TEMP TABLE scratch AS SELECT 42 AS v;
        END;
        $$ LANGUAGE plpgsql;
        CALL rebuild();
        SELECT v FROM scratch;
        """,
    )
    assert [r.v for r in out.collect()] == [42]


def test_spark_if_function_inside_procedure_body():
    """Only an IF at a statement start opens a plpgsql IF block; Spark's
    IF(cond, a, b) function inside a body is part of its statement."""
    from sql_redshift_etl_spark.functions.script_runner import (
        _IfNode,
        _parse_plpgsql_nodes,
        _WhileNode,
    )

    (loop,) = _parse_plpgsql_nodes("LOOP SELECT IF(v > 1, 1, 2) AS x; EXIT; END LOOP;")
    assert isinstance(loop, _WhileNode)
    assert "IF(v > 1, 1, 2)" in loop.body
    (node,) = _parse_plpgsql_nodes("IF (v > 1) THEN x := 1; END IF;")
    assert isinstance(node, _IfNode)


def test_script_ddl_table_plans_no_python_rdd(spark):
    """CREATE TABLE binds an empty JVM relation, so a query over the
    table starts no Python worker (no ``ExistingRDD`` scan)."""
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    out = run_redshift_script(
        spark,
        """
        CREATE TABLE ddl_t (a BIGINT, b VARCHAR(4));
        INSERT INTO ddl_t SELECT 1, 'x';
        SELECT a, b FROM ddl_t;
        """,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan, plan
    assert [tuple(r) for r in out.collect()] == [(1, "x")]


def test_copy_fixedwidth_loud_rejections(spark, tmp_path):
    """FIXEDWIDTH: spec must cover exactly the target columns; FORMAT
    alongside FIXEDWIDTH raises; bad field specs raise."""
    import pytest as _pytest

    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    p = tmp_path / "fw.txt"
    p.write_text("1     ab  \n")
    ddl = "CREATE TEMP TABLE t (a BIGINT, b VARCHAR(4));"
    with _pytest.raises(ValueError, match="cover exactly"):
        run_redshift_script(spark, f"{ddl} COPY t FROM '{p}' FIXEDWIDTH 'a:6';")
    with _pytest.raises(ValueError, match="FIXEDWIDTH excludes FORMAT"):
        run_redshift_script(
            spark, f"{ddl} COPY t FROM '{p}' FORMAT AS CSV FIXEDWIDTH 'a:6,b:4';"
        )
    with _pytest.raises(ValueError, match="bad field spec"):
        run_redshift_script(spark, f"{ddl} COPY t FROM '{p}' FIXEDWIDTH 'a:6,b';")


def test_copy_fixedwidth_null_as_and_trim(spark, tmp_path):
    """Fixed-width fields right-trim their padding; NULL AS sentinel
    (after trim) yields NULL; numeric casts absorb leading spaces."""
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    p = tmp_path / "fw.txt"
    p.write_text("     1ab  \n     2@    \n    10zz  \n")
    out = run_redshift_script(
        spark,
        f"""
        CREATE TEMP TABLE t (a BIGINT, b VARCHAR(4));
        COPY t FROM '{p}' FIXEDWIDTH 'a:6,b:4' NULL AS '@';
        SELECT a, b FROM t ORDER BY a;
        """,
    )
    assert [tuple(r) for r in out.collect()] == [(1, "ab"), (2, None), (10, "zz")]


def test_copy_maxerror_budget(spark, tmp_path):
    """COPY ... MAXERROR n: malformed rows within budget are skipped
    (not silently nulled), beyond it the load fails with the count;
    MAXERROR on PARQUET/FIXEDWIDTH raises."""
    import pytest as _pytest

    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    p = tmp_path / "m.csv"
    p.write_text("1,a\nnotanint,b\n3,c\n4,d,EXTRA,COLS,HERE\n5,e\n")
    ddl = "CREATE TEMP TABLE t (k BIGINT, v VARCHAR(4));"
    out = run_redshift_script(
        spark,
        f"""
        {ddl}
        COPY t FROM '{p}' FORMAT AS CSV MAXERROR 5;
        SELECT k, v FROM t ORDER BY k;
        """,
    )
    assert [tuple(r) for r in out.collect()] == [(1, "a"), (3, "c"), (5, "e")]

    with _pytest.raises(ValueError, match="exceed MAXERROR 1"):
        run_redshift_script(
            spark, f"{ddl} COPY t FROM '{p}' FORMAT AS CSV MAXERROR 1;"
        )
    with _pytest.raises(ValueError, match="CSV/TEXT/JSON"):
        run_redshift_script(
            spark, f"{ddl} COPY t FROM '{p}' FORMAT AS PARQUET MAXERROR 2;"
        )


def test_copy_maxerror_json(spark, tmp_path):
    """MAXERROR over newline-delimited JSON: unparseable lines count
    against the budget."""
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    p = tmp_path / "m.json"
    p.write_text('{"k": 1, "v": "a"}\nTHIS IS NOT JSON\n{"k": 3, "v": "c"}\n')
    out = run_redshift_script(
        spark,
        f"""
        CREATE TEMP TABLE t (k BIGINT, v VARCHAR(4));
        COPY t FROM '{p}' FORMAT AS JSON MAXERROR 2;
        SELECT k, v FROM t ORDER BY k;
        """,
    )
    assert [tuple(r) for r in out.collect()] == [(1, "a"), (3, "c")]


def test_script_column_defaults(spark):
    """DEFAULT column attribute: INSERTs omitting the column fill the
    declared literal (not NULL); LIKE copies defaults only under
    INCLUDING DEFAULTS; renames carry the default, drops+recreates
    clear it."""
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    out = run_redshift_script(
        spark,
        """
        CREATE TEMP TABLE t (k BIGINT, tier VARCHAR(8) DEFAULT 'STD',
                             qty BIGINT NOT NULL DEFAULT 1);
        INSERT INTO t (k) VALUES (1);
        INSERT INTO t (k, tier) VALUES (2, 'BIG');
        INSERT INTO t (k, tier, qty) VALUES (3, NULL, 7);
        ALTER TABLE t RENAME COLUMN tier TO grade;
        INSERT INTO t (k) VALUES (4);
        SELECT k, grade, qty FROM t ORDER BY k;
        """,
    )
    assert [tuple(r) for r in out.collect()] == [
        (1, "STD", 1), (2, "BIG", 1), (3, None, 7), (4, "STD", 1),
    ]

    like = run_redshift_script(
        spark,
        """
        CREATE TEMP TABLE src (k BIGINT, tier VARCHAR(8) DEFAULT 'STD');
        CREATE TEMP TABLE with_d (LIKE src INCLUDING DEFAULTS);
        CREATE TEMP TABLE without_d (LIKE src);
        INSERT INTO with_d (k) VALUES (1);
        INSERT INTO without_d (k) VALUES (1);
        SELECT w.tier AS with_tier, o.tier AS without_tier
        FROM with_d w CROSS JOIN without_d o;
        """,
    )
    assert [tuple(r) for r in like.collect()] == [("STD", None)]

    cleared = run_redshift_script(
        spark,
        """
        CREATE TEMP TABLE d (k BIGINT, tier VARCHAR(8) DEFAULT 'STD');
        DROP TABLE d;
        CREATE TEMP TABLE d (k BIGINT, tier VARCHAR(8));
        INSERT INTO d (k) VALUES (1);
        SELECT tier FROM d;
        """,
    )
    assert [r.tier for r in cleared.collect()] == [None]


def test_insert_default_values(spark):
    """INSERT INTO t DEFAULT VALUES: one row of declared defaults,
    identity generates, bare columns NULL."""
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    out = run_redshift_script(
        spark,
        """
        CREATE TEMP TABLE t (id BIGINT IDENTITY(10,1), tier VARCHAR(8) DEFAULT 'STD',
                             note VARCHAR(16));
        INSERT INTO t DEFAULT VALUES;
        INSERT INTO t DEFAULT VALUES;
        SELECT id, tier, note FROM t ORDER BY id;
        """,
    )
    assert [tuple(r) for r in out.collect()] == [(10, "STD", None), (11, "STD", None)]


def test_copy_maxerror_stl_load_errors(spark, tmp_path):
    """Skipped MAXERROR rows land in the queryable stl_load_errors
    analog, accumulating across loads with the target table name."""
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    p1 = tmp_path / "a.csv"
    p1.write_text("1,a\nBAD,b\n3,c\n")
    p2 = tmp_path / "b.csv"
    p2.write_text("4,d\nALSOBAD,e\n")
    out = run_redshift_script(
        spark,
        f"""
        CREATE TEMP TABLE t (k BIGINT, v VARCHAR(4));
        COPY t FROM '{p1}' FORMAT AS CSV MAXERROR 2;
        COPY t FROM '{p2}' FORMAT AS CSV MAXERROR 2;
        SELECT tbl, raw_line FROM stl_load_errors ORDER BY raw_line;
        """,
    )
    assert [tuple(r) for r in out.collect()] == [("t", "ALSOBAD,e"), ("t", "BAD,b")]


def test_copy_dateformat_timeformat(spark, tmp_path):
    """DATEFORMAT/TIMEFORMAT translate Redshift patterns to the CSV
    reader; 'auto' is the engine default; epoch spellings and non-text
    formats raise."""
    import pytest as _pytest

    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    p = tmp_path / "d.csv"
    p.write_text("1,17/06/1995,31/12/1999 23:59:58\n")
    out = run_redshift_script(
        spark,
        f"""
        CREATE TEMP TABLE t (k BIGINT, d DATE, ts TIMESTAMP);
        COPY t FROM '{p}' FORMAT AS CSV
            DATEFORMAT 'DD/MM/YYYY' TIMEFORMAT 'DD/MM/YYYY HH24:MI:SS';
        SELECT k, TO_CHAR(d, 'YYYY-MM-DD') AS d, TO_CHAR(ts, 'YYYY-MM-DD HH24:MI:SS') AS ts
        FROM t;
        """,
    )
    assert [tuple(r) for r in out.collect()] == [(1, "1995-06-17", "1999-12-31 23:59:58")]

    # TIMEFORMAT epoch spellings are supported (r6, see
    # test_copy_removequotes_and_epoch_timeformat); the DATEFORMAT
    # spelling of them stays invalid
    with _pytest.raises(ValueError, match="epoch"):
        run_redshift_script(
            spark,
            f"""
            CREATE TEMP TABLE t2 (k BIGINT);
            COPY t2 FROM '{p}' FORMAT AS CSV DATEFORMAT 'epochsecs';
            """,
        )
    with _pytest.raises(ValueError, match="delimited text"):
        run_redshift_script(
            spark,
            f"""
            CREATE TEMP TABLE t3 (k BIGINT);
            COPY t3 FROM '{p}' FORMAT AS JSON DATEFORMAT 'DD/MM/YYYY';
            """,
        )


def test_ctas_with_column_list(spark):
    """CREATE TABLE t (a, b) AS SELECT renames positionally; arity
    mismatch raises; typed lists still parse as DDL."""
    import pytest as _pytest

    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    out = run_redshift_script(
        spark,
        """
        CREATE TEMP TABLE named (kk, vv) AS SELECT 1, 'a';
        SELECT kk, vv FROM named;
        """,
    )
    assert [tuple(r) for r in out.collect()] == [(1, "a")]

    with _pytest.raises(ValueError, match="column list has 2"):
        run_redshift_script(spark, "CREATE TEMP TABLE bad (a, b) AS SELECT 1;")


def test_unload_maxfilesize_and_zstd(spark, tmp_path):
    """MAXFILESIZE splits output into ~size-capped files (read-back
    lossless); PARALLEL OFF + MAXFILESIZE raises; ZSTD is parquet-only."""
    import glob

    import pytest as _pytest

    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    spark.range(30000).selectExpr(
        "id AS k", "repeat('x', 64) AS pad"
    ).createOrReplaceTempView("fs_src")

    p = tmp_path / "sized"
    run_redshift_script(
        spark,
        f"UNLOAD ('SELECT k, pad FROM fs_src') TO '{p}' "
        "FORMAT AS CSV ALLOWOVERWRITE MAXFILESIZE 1 MB;",
    )
    files = glob.glob(str(p / "*.csv"))
    assert len(files) >= 2, "1MB cap over ~2MB of rows should split files"
    back = spark.read.schema("k long, pad string").csv(str(p))
    assert back.count() == 30000

    with _pytest.raises(ValueError, match="PARALLEL OFF"):
        run_redshift_script(
            spark,
            f"UNLOAD ('SELECT 1') TO '{tmp_path}/x' ALLOWOVERWRITE "
            "MAXFILESIZE 5 MB PARALLEL OFF;",
        )

    pz = tmp_path / "zs"
    run_redshift_script(
        spark,
        f"""
        UNLOAD ('SELECT k FROM fs_src WHERE k < 100') TO '{pz}'
        FORMAT AS PARQUET ZSTD ALLOWOVERWRITE;
        CREATE TEMP TABLE zback (k BIGINT);
        COPY zback FROM '{pz}' FORMAT AS PARQUET;
        SELECT COUNT(*) AS n FROM zback;
        """,
    ).collect()
    assert glob.glob(str(pz / "*.zstd.parquet")), "zstd parquet files expected"

    with _pytest.raises(ValueError, match="parquet-only"):
        run_redshift_script(
            spark,
            f"UNLOAD ('SELECT 1') TO '{tmp_path}/zc' FORMAT AS CSV ZSTD ALLOWOVERWRITE;",
        )


def test_copy_data_conversion_parameters(spark, tmp_path):
    """BLANKSASNULL / TRIMBLANKS / EMPTYASNULL / IGNOREBLANKLINES apply
    to parsed string columns; PARQUET + conversion flags raises;
    TRUNCATECOLUMNS/COMPUPDATE/ENCRYPTED are accepted no-ops."""
    import pytest as _pytest

    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    p = tmp_path / "c.csv"
    p.write_text('1,"ab  "\n2,"   "\n3,""\n\n4,ok\n')
    out = run_redshift_script(
        spark,
        f"""
        CREATE TEMP TABLE t (k BIGINT, v VARCHAR(8));
        COPY t FROM '{p}' FORMAT AS CSV NULL AS '@'
            BLANKSASNULL TRIMBLANKS EMPTYASNULL IGNOREBLANKLINES
            TRUNCATECOLUMNS COMPUPDATE OFF ENCRYPTED;
        SELECT k, v FROM t ORDER BY k;
        """,
    )
    assert [tuple(r) for r in out.collect()] == [
        (1, "ab"), (2, None), (3, None), (4, "ok"),
    ]

    with _pytest.raises(ValueError, match="text loads only"):
        run_redshift_script(
            spark,
            f"""
            CREATE TEMP TABLE t2 (k BIGINT);
            COPY t2 FROM '{p}' FORMAT AS PARQUET BLANKSASNULL;
            """,
        )


def test_script_schemas(spark):
    """CREATE SCHEMA + schema-qualified names: references flatten to
    script-scoped tables; cross-schema joins work; DROP SCHEMA needs
    CASCADE when non-empty and then drops members."""
    import pytest as _pytest

    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    out = run_redshift_script(
        spark,
        """
        CREATE SCHEMA IF NOT EXISTS staging;
        CREATE SCHEMA mart;
        CREATE TEMP TABLE staging.orders (k BIGINT, amt BIGINT);
        INSERT INTO staging.orders VALUES (1, 10), (2, 20), (3, 30);
        CREATE TABLE mart.big AS
        SELECT k, amt FROM staging.orders WHERE amt >= 20;
        SELECT s.k, s.amt, CASE WHEN m.k IS NULL THEN 0 ELSE 1 END AS is_big
        FROM staging.orders s LEFT JOIN mart.big m ON s.k = m.k
        ORDER BY s.k;
        """,
    )
    assert [tuple(r) for r in out.collect()] == [(1, 10, 0), (2, 20, 1), (3, 30, 1)]

    with _pytest.raises(ValueError, match="use CASCADE"):
        run_redshift_script(
            spark,
            """
            CREATE SCHEMA s1;
            CREATE TEMP TABLE s1.t AS SELECT 1 AS k;
            DROP SCHEMA s1;
            """,
        )

    out = run_redshift_script(
        spark,
        """
        CREATE SCHEMA s2;
        CREATE TEMP TABLE s2.t AS SELECT 1 AS k;
        DROP SCHEMA s2 CASCADE;
        SELECT 42 AS v;
        """,
    )
    assert [r.v for r in out.collect()] == [42]


def test_alter_column_type_and_no_schema_binding_view(spark):
    """ALTER COLUMN TYPE casts in place keeping position; CREATE VIEW
    ... WITH NO SCHEMA BINDING parses (late-binding is the temp-view
    default here)."""
    import pytest as _pytest

    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    out = run_redshift_script(
        spark,
        """
        CREATE TEMP TABLE t (k BIGINT, v VARCHAR(4), amt DOUBLE);
        INSERT INTO t VALUES (1, '12', 1.5), (2, '34', 2.25);
        ALTER TABLE t ALTER COLUMN v TYPE BIGINT;
        ALTER TABLE t ALTER amt SET DATA TYPE DECIMAL(10,2);
        CREATE VIEW v_t AS SELECT k, v + 1 AS v1, amt FROM t WITH NO SCHEMA BINDING;
        SELECT k, v1, CAST(amt AS DOUBLE) AS amt FROM v_t ORDER BY k;
        """,
    )
    assert [tuple(r) for r in out.collect()] == [(1, 13, 1.5), (2, 35, 2.25)]

    with _pytest.raises(ValueError, match="no column"):
        run_redshift_script(
            spark,
            """
            CREATE TEMP TABLE t2 (k BIGINT);
            ALTER TABLE t2 ALTER COLUMN ghost TYPE BIGINT;
            """,
        )


def test_script_sql_udfs(spark):
    """CREATE FUNCTION ... LANGUAGE sql inlines at call sites (named
    and $N positional params, UDF-calls-UDF); unknown languages raise;
    DROP FUNCTION removes; SET knobs no-op but search_path raises;
    EXPLAIN returns plan text."""
    import pytest as _pytest

    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    out = run_redshift_script(
        spark,
        """
        SET enable_result_cache_for_session TO off;
        CREATE OR REPLACE FUNCTION f_margin(price FLOAT8, cost FLOAT8)
        RETURNS FLOAT8 IMMUTABLE AS $$
            SELECT (price - cost) / NULLIF(price, 0)
        $$ LANGUAGE sql;
        CREATE FUNCTION f_pct(FLOAT8) RETURNS FLOAT8 AS $$
            SELECT ROUND($1 * 100, 2)
        $$ LANGUAGE sql;
        CREATE TEMP TABLE t (price DOUBLE, cost DOUBLE);
        INSERT INTO t VALUES (10.0, 4.0), (8.0, 6.0);
        SELECT CAST(f_pct(f_margin(price, cost)) AS DOUBLE) AS pct
        FROM t ORDER BY pct;
        """,
    )
    assert [r.pct for r in out.collect()] == [25.0, 60.0]

    # plpythonu is supported since r9 (test_plpythonu_udf_semantics);
    # only never-existed languages stay loud
    with _pytest.raises(ValueError, match="LANGUAGE plperl unsupported"):
        run_redshift_script(
            spark,
            """
            CREATE FUNCTION py(x INT) RETURNS INT AS $$
            return x + 1
            $$ LANGUAGE plperl;
            """,
        )
    with _pytest.raises(ValueError, match="search_path"):
        run_redshift_script(spark, "SET search_path TO myschema;")
    with _pytest.raises(ValueError, match="expected 2 argument"):
        run_redshift_script(
            spark,
            """
            CREATE FUNCTION g(a INT, b INT) RETURNS INT AS $$ SELECT a + b $$ LANGUAGE sql;
            SELECT g(1);
            """,
        )

    plan = run_redshift_script(spark, "EXPLAIN SELECT 1;")
    assert plan is not None and "Project" in plan.collect()[0][0]


def test_copy_acceptinvchars_and_noop_params(spark, tmp_path):
    """ACCEPTINVCHARS maps decoder replacement chars to the requested
    char; ACCEPTANYDATE/ESCAPE are accepted no-ops (invalid dates null
    under PERMISSIVE parsing)."""
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    p = tmp_path / "inv.csv"
    # \xff is not valid UTF-8 — the decoder replaces it with U+FFFD
    p.write_bytes(b"1,ab\xffcd,2024-01-15\n2,ok,NOTADATE\n")
    out = run_redshift_script(
        spark,
        f"""
        CREATE TEMP TABLE t (k BIGINT, v VARCHAR(8), d DATE);
        COPY t FROM '{p}' FORMAT AS CSV ACCEPTINVCHARS '?' ACCEPTANYDATE ESCAPE;
        SELECT k, v, CAST(d AS VARCHAR(12)) AS d FROM t ORDER BY k;
        """,
    )
    rows = [tuple(r) for r in out.collect()]
    assert rows[0] == (1, "ab?cd", "2024-01-15")
    assert rows[1][:2] == (2, "ok") and rows[1][2] is None


def test_unload_inner_query_schema_and_udf(spark, tmp_path):
    """UNLOAD's quoted inner query gets schema flattening and SQL-UDF
    inlining applied (the statement-level passes are literal-masked and
    would otherwise skip it)."""
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    p = tmp_path / "out"
    out = run_redshift_script(
        spark,
        f"""
        CREATE SCHEMA mart;
        CREATE FUNCTION f_twice(x BIGINT) RETURNS BIGINT AS $$
            SELECT x * 2 $$ LANGUAGE sql;
        CREATE TEMP TABLE mart.t (k BIGINT);
        INSERT INTO mart.t VALUES (1), (2), (3);
        UNLOAD ('SELECT k, f_twice(k) AS k2 FROM mart.t')
        TO '{p}' FORMAT AS CSV HEADER ALLOWOVERWRITE;
        SELECT COUNT(*) AS n FROM mart.t;
        """,
    )
    assert [r.n for r in out.collect()] == [3]
    back = spark.read.option("header", True).csv(str(p))
    assert sorted((int(r.k), int(r.k2)) for r in back.collect()) == [
        (1, 2), (2, 4), (3, 6),
    ]


def test_recursive_procedure_call_capped(spark):
    """A self-CALLing procedure (no terminating condition exists in the
    straight-line subset) raises at the expansion cap instead of
    looping forever."""
    import pytest as _pytest

    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    with _pytest.raises(ValueError, match="256 procedure expansions"):
        run_redshift_script(
            spark,
            """
            CREATE PROCEDURE loopy() AS $$
            BEGIN
                CALL loopy();
            END;
            $$ LANGUAGE plpgsql;
            CALL loopy();
            """,
        )


# --- plpgsql control flow (round 6: IF/ELSIF/ELSE, WHILE, FOR, RAISE) ---


def test_procedure_if_elsif_else_branches(spark):
    """IF takes the first true branch; conditions are full SQL
    expressions (scalar subqueries included); NULL condition = not
    taken; ELSE catches when nothing matched."""
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    out = run_redshift_script(
        spark,
        """
        CREATE TEMP TABLE log (tag VARCHAR(20));
        CREATE PROCEDURE route(n INT) AS $$
        BEGIN
            IF (SELECT COUNT(*) FROM log) > 100 THEN
                INSERT INTO log VALUES ('big');
            ELSIF n = 1 THEN
                INSERT INTO log VALUES ('one');
            ELSIF CAST(NULL AS BOOLEAN) THEN
                INSERT INTO log VALUES ('null-taken');
            ELSE
                INSERT INTO log VALUES ('other');
            END IF;
        END;
        $$ LANGUAGE plpgsql;
        CALL route(1);
        CALL route(2);
        SELECT tag FROM log ORDER BY tag;
        """,
    )
    assert [r.tag for r in out.collect()] == ["one", "other"]


def test_procedure_while_loop_reevaluates_condition(spark):
    """WHILE re-evaluates its condition against CURRENT table state each
    iteration (the doubling stops exactly at the threshold)."""
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    out = run_redshift_script(
        spark,
        """
        CREATE TEMP TABLE acc (v INT);
        INSERT INTO acc VALUES (1);
        CREATE PROCEDURE grow() AS $$
        BEGIN
            WHILE (SELECT COUNT(*) FROM acc) < 5 LOOP
                INSERT INTO acc SELECT v FROM acc LIMIT 1;
            END LOOP;
        END;
        $$ LANGUAGE plpgsql;
        CALL grow();
        SELECT COUNT(*) AS n FROM acc;
        """,
    )
    assert [r.n for r in out.collect()] == [5]


def test_procedure_for_loop_and_reverse(spark):
    """FOR i IN a..b substitutes the loop variable textually per value;
    REVERSE iterates down; an empty range (a > b forward) runs zero
    iterations — all plpgsql's own semantics."""
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    out = run_redshift_script(
        spark,
        """
        CREATE TEMP TABLE seq (pos INT, val INT);
        CREATE PROCEDURE fill() AS $$
        BEGIN
            FOR i IN 1..3 LOOP
                INSERT INTO seq VALUES (i, i * i);
            END LOOP;
            FOR j IN REVERSE 5..4 LOOP
                INSERT INTO seq VALUES (j, -j);
            END LOOP;
            FOR k IN 9..8 LOOP
                INSERT INTO seq VALUES (k, 999);
            END LOOP;
        END;
        $$ LANGUAGE plpgsql;
        CALL fill();
        SELECT pos, val FROM seq ORDER BY pos;
        """,
    )
    assert [tuple(r) for r in out.collect()] == [
        (1, 1), (2, 4), (3, 9), (4, -4), (5, -5),
    ]


def test_procedure_nested_blocks_and_case_in_condition(spark):
    """Nested IF inside FOR, with a CASE expression in the condition —
    the block parser must not mistake CASE's THEN/ELSE/END for the
    IF-statement's own boundaries."""
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    out = run_redshift_script(
        spark,
        """
        CREATE TEMP TABLE w (x INT);
        CREATE PROCEDURE p2() AS $$
        BEGIN
            FOR j IN 1..3 LOOP
                IF CASE WHEN j > 1 THEN TRUE ELSE FALSE END THEN
                    IF j = 2 THEN
                        INSERT INTO w VALUES (20);
                    ELSE
                        INSERT INTO w VALUES (j);
                    END IF;
                END IF;
            END LOOP;
        END;
        $$ LANGUAGE plpgsql;
        CALL p2();
        SELECT x FROM w ORDER BY x;
        """,
    )
    assert [r.x for r in out.collect()] == [3, 20]


def test_raise_exception_formats_and_aborts(spark):
    """RAISE EXCEPTION aborts the script with the %-formatted message
    (args are SQL expressions, %% is a literal %); RAISE NOTICE is a
    log-level no-op."""
    import pytest as _pytest

    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    with _pytest.raises(RuntimeError, match=r"empty load: 0 rows \(pct %\)"):
        run_redshift_script(
            spark,
            """
            CREATE TEMP TABLE t (a INT);
            CREATE PROCEDURE guard() AS $$
            BEGIN
                RAISE NOTICE 'checking %', 't';
                IF (SELECT COUNT(*) FROM t) = 0 THEN
                    RAISE EXCEPTION 'empty load: % rows (pct %%)',
                        (SELECT COUNT(*) FROM t);
                END IF;
            END;
            $$ LANGUAGE plpgsql;
            CALL guard();
            """,
        )


def test_while_runaway_loop_capped(spark):
    """A WHILE whose condition never turns false raises at the
    iteration cap instead of spinning forever."""
    import pytest as _pytest

    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    with _pytest.raises(ValueError, match="1000 iterations"):
        run_redshift_script(
            spark,
            """
            CREATE PROCEDURE spin() AS $$
            BEGIN
                WHILE 1 = 1 LOOP
                    RAISE NOTICE 'tick';
                END LOOP;
            END;
            $$ LANGUAGE plpgsql;
            CALL spin();
            """,
        )


def test_perform_sets_found_and_row_count(spark):
    """PERFORM (r8) runs the query and discards the rows: FOUND reflects
    whether any row came back, GET DIAGNOSTICS ROW_COUNT counts the
    discarded rows (lazy plan), and procedural keywords inside a string
    literal stay just words."""
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    out = run_redshift_script(
        spark,
        """
        CREATE TEMP TABLE src_pf (v INT);
        INSERT INTO src_pf VALUES (1), (2), (3);
        CREATE TEMP TABLE got_pf (tag VARCHAR(10), n BIGINT);
        CREATE PROCEDURE p() AS $$
        DECLARE k BIGINT;
        BEGIN
            PERFORM v FROM src_pf WHERE v >= 2;
            IF found THEN
                GET DIAGNOSTICS k := ROW_COUNT;
                INSERT INTO got_pf VALUES ('hit', k);
            END IF;
            PERFORM v FROM src_pf WHERE v > 99;
            IF NOT found THEN
                GET DIAGNOSTICS k := ROW_COUNT;
                INSERT INTO got_pf VALUES ('miss', k);
            END IF;
            RAISE NOTICE 'FETCH PERFORM EXECUTE are just words here';
        END;
        $$ LANGUAGE plpgsql;
        CALL p();
        SELECT * FROM got_pf ORDER BY tag;
        """,
    )
    assert [tuple(r) for r in out.collect()] == [("hit", 2), ("miss", 0)]


def test_found_set_by_dml_and_select_into(spark):
    """plpgsql FOUND after INSERT/UPDATE/DELETE and SELECT INTO (r12 —
    the full setter list; previously only FETCH and PERFORM maintained
    it, so `UPDATE ...; IF found` silently read a stale value). Each
    setter is probed both ways (rows affected / none), and the reads
    interleave with GET DIAGNOSTICS to prove the lazy affected-set
    serves both."""
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    out = run_redshift_script(
        spark,
        """
        CREATE TEMP TABLE t_fnd (v INT);
        INSERT INTO t_fnd VALUES (1), (2), (3);
        CREATE TEMP TABLE got_fnd (tag VARCHAR(20), flag BOOLEAN, n BIGINT);
        CREATE PROCEDURE p() AS $$
        DECLARE x INT; k BIGINT;
        BEGIN
            UPDATE t_fnd SET v = v + 10 WHERE v >= 2;
            GET DIAGNOSTICS k := ROW_COUNT;
            INSERT INTO got_fnd VALUES ('upd_hit', found, k);
            UPDATE t_fnd SET v = 0 WHERE v > 999;
            INSERT INTO got_fnd VALUES ('upd_miss', found, -1);
            SELECT v INTO x FROM t_fnd WHERE v = 1;
            INSERT INTO got_fnd VALUES ('into_hit', found, x);
            SELECT v INTO x FROM t_fnd WHERE v = 777;
            INSERT INTO got_fnd VALUES ('into_miss', found, -1);
            DELETE FROM t_fnd WHERE v = 1;
            INSERT INTO got_fnd VALUES ('del_hit', found, -1);
            DELETE FROM t_fnd WHERE v = 888;
            INSERT INTO got_fnd VALUES ('del_miss', found, -1);
            INSERT INTO t_fnd SELECT v FROM t_fnd WHERE v < 0;
            INSERT INTO got_fnd VALUES ('ins_empty', found, -1);
        END;
        $$ LANGUAGE plpgsql;
        CALL p();
        SELECT * FROM got_fnd ORDER BY tag;
        """,
    )
    rows = {r.tag: (r.flag, r.n) for r in out.collect()}
    assert rows["upd_hit"] == (True, 2)
    assert rows["upd_miss"][0] is False
    assert rows["into_hit"] == (True, 1)
    assert rows["into_miss"][0] is False
    assert rows["del_hit"][0] is True
    assert rows["del_miss"][0] is False
    # the probe-INSERTs themselves set found, so ins_empty's flag (read
    # AFTER the zero-row insert, BEFORE its own probe-insert runs) is
    # the zero-row insert's False — not a stale True from 'del_miss''s
    # probe insert
    assert rows["ins_empty"][0] is False


def test_found_execute_never_sets_it_and_for_loop_exit_does(spark):
    """The two fidelity edges of the r12 FOUND work: EXECUTE changes
    GET DIAGNOSTICS but NEVER FOUND (plpgsql's own rule — a naive
    implementation would set it), and a query-FOR loop sets FOUND at
    exit to whether it iterated at all."""
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    out = run_redshift_script(
        spark,
        """
        CREATE TEMP TABLE t_fx (v INT);
        INSERT INTO t_fx VALUES (1), (2);
        CREATE TEMP TABLE got_fx (tag VARCHAR(20), flag BOOLEAN);
        CREATE PROCEDURE p() AS $$
        DECLARE s BIGINT;
        BEGIN
            UPDATE t_fx SET v = v WHERE v = 1;     -- found := true
            EXECUTE 'SELECT 99' INTO s;            -- must NOT touch found
            INSERT INTO got_fx VALUES ('after_execute', found);
            FOR r IN SELECT v FROM t_fx WHERE v > 100 LOOP
                INSERT INTO got_fx VALUES ('never', true);
            END LOOP;
            INSERT INTO got_fx VALUES ('for_empty', found);
            FOR r IN SELECT v FROM t_fx ORDER BY v LOOP
                s := r.v;
            END LOOP;
            INSERT INTO got_fx VALUES ('for_ran', found);
        END;
        $$ LANGUAGE plpgsql;
        CALL p();
        SELECT * FROM got_fx ORDER BY tag;
        """,
    )
    rows = {r.tag: r.flag for r in out.collect()}
    assert "never" not in rows
    assert rows["after_execute"] is True  # EXECUTE left the UPDATE's value
    assert rows["for_empty"] is False
    assert rows["for_ran"] is True


def test_select_into_strict(spark):
    """SELECT INTO STRICT (r12): exactly one row assigns and leaves
    FOUND true; zero rows raises catchable no_data_found (SQLSTATE
    P0002) and two rows too_many_rows (P0003) — both routed through
    EXCEPTION WHEN OTHERS like plpgsql. Fails before: the STRICT
    keyword fell through to the table-CTAS parse and died with a
    misleading 'expected INTO [TEMP] name FROM' error."""
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    out = run_redshift_script(
        spark,
        """
        CREATE TEMP TABLE st_src (k INT, v BIGINT);
        INSERT INTO st_src VALUES (1, 10), (2, 20), (2, 21);
        CREATE TEMP TABLE st_got (tag VARCHAR(12), val BIGINT, code VARCHAR(8));
        CREATE PROCEDURE p() AS $$
        DECLARE x BIGINT;
        BEGIN
            SELECT v INTO STRICT x FROM st_src WHERE k = 1;
            INSERT INTO st_got VALUES ('one', x, CASE WHEN found THEN 'F1' ELSE 'F0' END);
            BEGIN
                SELECT v INTO STRICT x FROM st_src WHERE k = 99;
            EXCEPTION WHEN OTHERS THEN
                INSERT INTO st_got VALUES ('zero', NULL, SQLSTATE);
            END;
            BEGIN
                SELECT v INTO STRICT x FROM st_src WHERE k = 2;
            EXCEPTION WHEN OTHERS THEN
                INSERT INTO st_got VALUES ('many', NULL, SQLSTATE);
            END;
        END;
        $$ LANGUAGE plpgsql;
        CALL p();
        SELECT * FROM st_got ORDER BY tag;
        """,
    )
    rows = {r.tag: (r.val, r.code) for r in out.collect()}
    assert rows["one"] == (10, "F1")
    assert rows["zero"] == (None, "P0002")
    assert rows["many"] == (None, "P0003")


def test_select_into_strict_undeclared_name_is_loud(spark):
    """STRICT only exists in the variable form — an INTO list naming an
    undeclared variable must be a loud ValueError (not the CTAS
    fallthrough, and not a silently created table)."""
    import pytest as _pytest

    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    with _pytest.raises(ValueError, match="STRICT.*declared variable"):
        run_redshift_script(
            spark,
            """
            CREATE TEMP TABLE st_u (k INT);
            INSERT INTO st_u VALUES (1);
            CREATE PROCEDURE p() AS $$
            BEGIN
                SELECT k INTO STRICT nosuch FROM st_u;
            END;
            $$ LANGUAGE plpgsql;
            CALL p();
            """,
        )


def test_inout_params_returned_by_call(spark):
    """INOUT parameters (r8): initialized from the CALL argument, usable
    and assignable inside the body, and the CALL itself returns their
    final values as a one-row result — Redshift's contract. Early
    RETURN still reports; an IN param composes with INOUT in the same
    signature."""
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    out = run_redshift_script(
        spark,
        """
        CREATE TEMP TABLE sales (amt INT);
        INSERT INTO sales VALUES (10), (20), (30);
        CREATE PROCEDURE roll(IN factor INT, INOUT total BIGINT,
                              INOUT tag VARCHAR(20)) AS $$
        BEGIN
            SELECT INTO total SUM(amt) * factor + total FROM sales;
            tag := tag || '-done';
        END;
        $$ LANGUAGE plpgsql;
        CALL roll(2, 5, 'run1');
        """,
    )
    assert [tuple(r) for r in out.collect()] == [(125, "run1-done")]
    out = run_redshift_script(
        spark,
        """
        CREATE PROCEDURE early(INOUT n INT) AS $$
        BEGIN
            n := n + 1;
            IF n > 0 THEN
                RETURN;
            END IF;
            n := 999;
        END;
        $$ LANGUAGE plpgsql;
        CALL early(41);
        """,
    )
    assert [tuple(r) for r in out.collect()] == [(42,)]


def test_execute_using_binds_values(spark):
    """EXECUTE ... USING (r8): $N placeholders bind argument VALUES as
    typed literals — a '$1' inside the command's own string literals is
    data, INTO and USING compose, and referencing a $N past the
    argument list is loud."""
    import pytest as _pytest

    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    out = run_redshift_script(
        spark,
        """
        CREATE TEMP TABLE acct (k INT, label VARCHAR(20));
        INSERT INTO acct VALUES (1, 'keep'), (2, 'drop'), (3, 'keep');
        CREATE PROCEDURE p() AS $$
        DECLARE lbl VARCHAR(20) := 'keep';
                lo INT := 2;
                n BIGINT;
        BEGIN
            EXECUTE 'SELECT COUNT(*) FROM acct WHERE label = $1 AND k >= $2'
                INTO n USING lbl, lo;
            EXECUTE 'CREATE TEMP TABLE exec_out AS SELECT ' || n
                || ' AS matched, ''cost $1'' AS tag';
        END;
        $$ LANGUAGE plpgsql;
        CALL p();
        SELECT matched, tag FROM exec_out;
        """,
    )
    assert [tuple(r) for r in out.collect()] == [(1, "cost $1")]
    with _pytest.raises(ValueError, match=r"\$2 referenced"):
        run_redshift_script(
            spark,
            """
            CREATE PROCEDURE p2() AS $$
            DECLARE x INT := 1;
            BEGIN
                EXECUTE 'SELECT $1 + $2' USING x;
            END;
            $$ LANGUAGE plpgsql;
            CALL p2();
            """,
        )


def test_procedure_missing_end_if_loud(spark):
    """Block-structure errors surface at CREATE PROCEDURE time."""
    import pytest as _pytest

    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    with _pytest.raises(ValueError, match="END IF"):
        run_redshift_script(
            spark,
            """
            CREATE PROCEDURE broken() AS $$
            BEGIN
                IF 1 = 1 THEN
                    RAISE NOTICE 'x';
            END;
            $$ LANGUAGE plpgsql;
            """,
        )


def test_procedure_nested_exists_if_and_case_loop_head(spark):
    """Nested blocks end where plpgsql ends them: an IF whose condition
    is an EXISTS test opens a block wherever it starts a statement, a
    WHILE condition ending in a CASE expression (``... END LOOP``) still
    opens its loop, and the END of a BEGIN block inside a CASE arm does
    not close the CASE."""
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    out = run_redshift_script(
        spark,
        """
        CREATE TEMP TABLE acc (x INT);
        CREATE PROCEDURE p() AS $$
        DECLARE
            n INT := 0;
        BEGIN
            FOR i IN 1..3 LOOP
                IF NOT EXISTS (SELECT 1 FROM acc WHERE x = 2) THEN
                    INSERT INTO acc VALUES (i);
                END IF;
            END LOOP;
            IF n = 0 THEN
                WHILE CASE WHEN n < 2 THEN TRUE ELSE FALSE END LOOP
                    n := n + 1;
                    INSERT INTO acc VALUES (10 * n);
                END LOOP;
            END IF;
            IF n = 2 THEN
                CASE WHEN n > 1 THEN
                    BEGIN
                        INSERT INTO acc VALUES (100);
                    END;
                ELSE
                    INSERT INTO acc VALUES (-1);
                END CASE;
            END IF;
        END;
        $$ LANGUAGE plpgsql;
        CALL p();
        SELECT x FROM acc ORDER BY x;
        """,
    )
    assert [r.x for r in out.collect()] == [1, 2, 10, 20, 100]


# CALL binds IN parameters the way plpgsql does: never inside a string
# literal, all parameters in one pass (an argument's text is not read as
# another parameter's name), an argument's backslash is text and not an
# ``re`` escape, and a FOR loop over the parameter's name shadows it.
_CALL_BINDING_CASES = {
    "literal_keeps_param_name": (
        """
        CREATE PROCEDURE p(n INT) AS $$
        BEGIN
            SELECT 'n is' AS label, n AS v;
        END;
        $$ LANGUAGE plpgsql;
        CALL p(5);
        """,
        [("n is", 5)],
    ),
    "one_pass_binding": (
        """
        CREATE PROCEDURE q(a VARCHAR(8), b INT) AS $$
        BEGIN
            SELECT a AS s, b AS k;
        END;
        $$ LANGUAGE plpgsql;
        CALL q('b', 2);
        """,
        [("b", 2)],
    ),
    "backslash_in_argument": (
        r"""
        CREATE PROCEDURE r(x VARCHAR(8)) AS $$
        BEGIN
            SELECT x AS s, x = 'a\d' AS same;
        END;
        $$ LANGUAGE plpgsql;
        CALL r('a\d');
        """,
        None,  # the plain SELECT's own reading of 'a\d', compared below
    ),
    "loop_variable_shadows_param": (
        """
        CREATE TEMP TABLE acc (x INT);
        CREATE PROCEDURE p(i INT) AS $$
        BEGIN
            FOR i IN 1..2 LOOP
                INSERT INTO acc VALUES (i * 10 + 7);
            END LOOP;
        END;
        $$ LANGUAGE plpgsql;
        CALL p(7);
        SELECT x FROM acc ORDER BY x;
        """,
        [(17,), (27,)],
    ),
}


@pytest.mark.parametrize("case", list(_CALL_BINDING_CASES))
def test_call_binds_in_params_like_plpgsql(spark, case):
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    script, expected = _CALL_BINDING_CASES[case]
    if expected is None:
        plain = run_redshift_script(spark, r"SELECT 'a\d' AS s").first().s
        expected = [(plain, True)]
    assert [tuple(r) for r in run_redshift_script(spark, script).collect()] == expected


@pytest.mark.parametrize(
    "stmt",
    [
        "DROP PROCEDURE IF  EXISTS nope",
        "DROP PROCEDURE IF\n EXISTS nope",
        "DROP FUNCTION IF\tEXISTS nofn",
        "DROP SCHEMA IF  EXISTS nosch",
    ],
)
def test_drop_if_exists_any_spacing(spark, stmt):
    """IF EXISTS is read from the statement's own pattern, so any
    whitespace between the words is a no-op drop of a missing object;
    without it the drop stays loud."""
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    assert run_redshift_script(spark, f"{stmt};\nSELECT 1 AS one").first().one == 1
    with pytest.raises(ValueError, match="no (procedure|SQL UDF|schema)"):
        run_redshift_script(spark, re.sub(r"(?s)IF\s+EXISTS\s+", "", stmt))


# --- COPY REMOVEQUOTES / epoch TIMEFORMAT / ON COMMIT / search_path ---


def test_copy_removequotes_and_epoch_timeformat(spark, tmp_path):
    """REMOVEQUOTES strips one pair of matching surrounding quotes from
    text fields; TIMEFORMAT 'epochsecs'/'epochmillisecs' loads
    timestamp columns from epoch integers."""
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    p = tmp_path / "in.txt"
    p.write_text(
        "1|'single'|1704067200\n"
        "2|plain|1704153600\n"
    )
    out = run_redshift_script(
        spark,
        f"""
        CREATE TEMP TABLE t (id INT, txt VARCHAR(50), ts TIMESTAMP)
            ON COMMIT PRESERVE ROWS;
        COPY t FROM '{p}' REMOVEQUOTES TIMEFORMAT 'epochsecs';
        SELECT id, txt, CAST(ts AS STRING) AS ts FROM t ORDER BY id;
        """,
    )
    assert [tuple(r) for r in out.collect()] == [
        (1, "single", "2024-01-01 00:00:00"),
        (2, "plain", "2024-01-02 00:00:00"),
    ]

    pm = tmp_path / "ms.txt"
    pm.write_text("3|1704240000500\n")
    out2 = run_redshift_script(
        spark,
        f"""
        CREATE TEMP TABLE m (id INT, ts TIMESTAMP);
        COPY m FROM '{pm}' TIMEFORMAT 'epochmillisecs';
        SELECT CAST(ts AS STRING) AS ts FROM m;
        """,
    )
    assert [r.ts for r in out2.collect()] == ["2024-01-03 00:00:00.5"]


def test_copy_removequotes_non_text_raises(spark, tmp_path):
    import pytest as _pytest

    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    p = tmp_path / "x.json"
    p.write_text('{"id": 1}\n')
    with _pytest.raises(ValueError, match="REMOVEQUOTES"):
        run_redshift_script(
            spark,
            f"""
            CREATE TEMP TABLE t (id INT);
            COPY t FROM '{p}' FORMAT AS JSON REMOVEQUOTES;
            """,
        )


def test_set_search_path_resolves_unqualified_names(spark):
    """SET search_path resolves unqualified references to the first
    path schema holding that binding; a plain binding shadows the path;
    undeclared schemas raise."""
    import pytest as _pytest

    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    out = run_redshift_script(
        spark,
        """
        CREATE SCHEMA analytics;
        CREATE TEMP TABLE analytics.daily (d INT, v BIGINT);
        INSERT INTO analytics.daily VALUES (1, 10), (2, 20);
        SET search_path TO '$user', public, analytics;
        INSERT INTO daily VALUES (3, 30);
        SELECT d, v FROM daily ORDER BY d;
        """,
    )
    assert [tuple(r) for r in out.collect()] == [(1, 10), (2, 20), (3, 30)]

    # plain binding shadows the path
    out2 = run_redshift_script(
        spark,
        """
        CREATE SCHEMA s1;
        CREATE TEMP TABLE s1.t (v INT);
        INSERT INTO s1.t VALUES (1);
        CREATE TEMP TABLE t (v INT);
        INSERT INTO t VALUES (2);
        SET search_path = s1;
        SELECT v FROM t;
        """,
    )
    assert [r.v for r in out2.collect()] == [2]

    with _pytest.raises(ValueError, match="undeclared"):
        run_redshift_script(spark, "SET search_path = nope;")


def test_script_transaction_rollback_restores_state(spark):
    """BEGIN snapshots bindings; ROLLBACK restores them — inserts,
    updates, drops, and tables created inside the transaction all
    unwind; COMMIT makes them permanent."""
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    out = run_redshift_script(
        spark,
        """
        CREATE TEMP TABLE t (k INT, v VARCHAR(10));
        INSERT INTO t VALUES (1, 'keep');
        BEGIN;
        INSERT INTO t VALUES (2, 'discard');
        UPDATE t SET v = 'mangled' WHERE k = 1;
        CREATE TEMP TABLE junk (x INT);
        DROP TABLE t;
        CREATE TEMP TABLE t (k INT, v VARCHAR(10));
        ROLLBACK;
        SELECT k, v FROM t ORDER BY k;
        """,
    )
    assert [tuple(r) for r in out.collect()] == [(1, "keep")]

    out2 = run_redshift_script(
        spark,
        """
        CREATE TEMP TABLE t2 (k INT);
        BEGIN;
        INSERT INTO t2 VALUES (1), (2);
        COMMIT;
        BEGIN;
        INSERT INTO t2 VALUES (3);
        ROLLBACK;
        SELECT COUNT(*) AS n FROM t2;
        """,
    )
    assert [r.n for r in out2.collect()] == [2]


def test_script_transaction_created_table_gone_after_rollback(spark):
    """A table created inside a rolled-back transaction does not exist
    afterwards; a ROLLBACK outside any BEGIN is a no-op (statement
    autocommit)."""
    import pytest as _pytest

    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    with _pytest.raises(Exception, match="TABLE_OR_VIEW_NOT_FOUND|cannot be found"):
        run_redshift_script(
            spark,
            """
            BEGIN;
            CREATE TEMP TABLE b (y INT);
            ROLLBACK;
            SELECT * FROM b;
            """,
        )
    out = run_redshift_script(
        spark,
        """
        CREATE TEMP TABLE c (x INT);
        INSERT INTO c VALUES (7);
        ROLLBACK;
        SELECT x FROM c;
        """,
    )
    assert [r.x for r in out.collect()] == [7]


def test_procedure_variables_declare_assign_select_into(spark):
    """DECLAREd variables: defaults evaluate at block entry (and may
    reference IN params), := reassigns, SELECT ... INTO fills one or
    more variables from a one-row query, and every use-site sees the
    CURRENT value as a typed literal."""
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    out = run_redshift_script(
        spark,
        """
        CREATE TEMP TABLE src (k INT, v BIGINT);
        INSERT INTO src VALUES (1, 10), (2, 20), (3, 30);
        CREATE TEMP TABLE report (label VARCHAR(30), val BIGINT);
        CREATE PROCEDURE summarize(p_min BIGINT) AS $$
        DECLARE
            v_cnt BIGINT;
            v_sum BIGINT := 0;
            v_label VARCHAR(30) := 'batch-' || CAST(p_min AS VARCHAR);
        BEGIN
            SELECT COUNT(*), SUM(v) INTO v_cnt, v_sum FROM src WHERE v >= p_min;
            v_cnt := v_cnt * 100;
            IF v_sum > 40 THEN
                INSERT INTO report VALUES (v_label, v_cnt + v_sum);
            ELSE
                INSERT INTO report VALUES (v_label || '-small', v_cnt);
            END IF;
            WHILE v_sum > 15 LOOP
                v_sum := v_sum - 20;
            END LOOP;
            INSERT INTO report VALUES ('residual', v_sum);
        END;
        $$ LANGUAGE plpgsql;
        CALL summarize(15);
        SELECT label, val FROM report ORDER BY label;
        """,
    )
    assert [tuple(r) for r in out.collect()] == [("batch-15", 250), ("residual", 10)]


def test_procedure_variable_loud_shapes(spark):
    """Assignment to an undeclared variable and cursor DECLAREs raise;
    a NULL-initialized variable reads as typed NULL."""
    import pytest as _pytest

    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    with _pytest.raises(ValueError, match="undeclared variable"):
        run_redshift_script(
            spark,
            """
            CREATE PROCEDURE p() AS $$
            DECLARE v_x BIGINT;
            BEGIN
                v_y := 1;
            END;
            $$ LANGUAGE plpgsql;
            CALL p();
            """,
        )
    with _pytest.raises(ValueError, match="scalar variables"):
        run_redshift_script(
            spark,
            """
            CREATE PROCEDURE p2() AS $$
            DECLARE r RECORD;
            BEGIN
                SELECT 1;
            END;
            $$ LANGUAGE plpgsql;
            """,
        )
    out = run_redshift_script(
        spark,
        """
        CREATE TEMP TABLE t (x BIGINT);
        CREATE PROCEDURE p3() AS $$
        DECLARE v_n BIGINT;
        BEGIN
            INSERT INTO t VALUES (COALESCE(v_n, -7));
        END;
        $$ LANGUAGE plpgsql;
        CALL p3();
        SELECT x FROM t;
        """,
    )
    assert [r.x for r in out.collect()] == [-7]


def test_procedure_exit_continue_return_bare_loop(spark):
    """Bare LOOP with EXIT WHEN / CONTINUE WHEN, EXIT out of a FOR, and
    early RETURN (skips the rest of the procedure but not the rest of
    the script)."""
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    out = run_redshift_script(
        spark,
        """
        CREATE TEMP TABLE t (x BIGINT);
        CREATE PROCEDURE p() AS $$
        DECLARE v_i BIGINT := 0;
        BEGIN
            LOOP
                v_i := v_i + 1;
                EXIT WHEN v_i > 6;
                CONTINUE WHEN v_i = 3;
                INSERT INTO t VALUES (v_i);
            END LOOP;
            FOR j IN 1..10 LOOP
                EXIT WHEN j = 4;
                INSERT INTO t VALUES (j * 100);
            END LOOP;
            IF v_i > 0 THEN
                RETURN;
            END IF;
            INSERT INTO t VALUES (-999);
        END;
        $$ LANGUAGE plpgsql;
        CALL p();
        INSERT INTO t VALUES (777);
        SELECT x FROM t ORDER BY x;
        """,
    )
    assert [r.x for r in out.collect()] == [1, 2, 4, 5, 6, 100, 200, 300, 777]


def test_exit_outside_loop_and_return_with_value_loud(spark):
    import pytest as _pytest

    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    with _pytest.raises(ValueError, match="no enclosing loop"):
        run_redshift_script(
            spark,
            """
            CREATE PROCEDURE p() AS $$
            BEGIN
                EXIT;
            END;
            $$ LANGUAGE plpgsql;
            CALL p();
            """,
        )
    with _pytest.raises(ValueError, match="RETURN with a value"):
        run_redshift_script(
            spark,
            """
            CREATE PROCEDURE p2() AS $$
            BEGIN
                RETURN 42;
            END;
            $$ LANGUAGE plpgsql;
            CALL p2();
            """,
        )


def test_ddl_tails_backup_sortkey_auto_acl_noops(spark):
    """BACKUP YES|NO and SORTKEY AUTO strip like the other storage
    clauses; ALTER TABLE OWNER TO and USER/GROUP/ROLE DDL are accepted
    no-ops (the GRANT/REVOKE class) — but OWNER on a missing table is
    still loud."""
    import pytest as _pytest

    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    out = run_redshift_script(
        spark,
        """
        CREATE USER loader PASSWORD 'md5abc';
        CREATE TEMP TABLE a (x INT) BACKUP NO SORTKEY AUTO;
        ALTER TABLE a OWNER TO loader;
        DROP USER loader;
        INSERT INTO a VALUES (5);
        SELECT x FROM a;
        """,
    )
    assert [r.x for r in out.collect()] == [5]
    with _pytest.raises(Exception, match="ghost"):
        run_redshift_script(spark, "ALTER TABLE ghost OWNER TO x;")


def test_default_getdate_fills_and_pins(spark):
    """DEFAULT GETDATE()/SYSDATE (the audit-column idiom) fills omitted
    columns with the load clock; the bound table is pinned so two
    downstream reads see the SAME timestamps."""
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    out = run_redshift_script(
        spark,
        """
        CREATE TABLE audit (
            k INT,
            loaded_at TIMESTAMP DEFAULT GETDATE(),
            src VARCHAR(8) DEFAULT 'etl'
        );
        INSERT INTO audit (k) VALUES (1), (2);
        INSERT INTO audit DEFAULT VALUES;
        SELECT COUNT(*) AS n, COUNT(loaded_at) AS n_ts, MIN(src) AS src FROM audit;
        """,
    )
    assert [tuple(r) for r in out.collect()] == [(3, 3, "etl")]


def test_procedure_for_over_query(spark):
    """FOR rec IN <query> LOOP iterates the control table's rows in
    query order, substituting rec.field as typed literals; EXIT WHEN
    stops at the first matching row."""
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    out = run_redshift_script(
        spark,
        """
        CREATE TEMP TABLE regions (code VARCHAR(4), factor BIGINT);
        INSERT INTO regions VALUES ('NA', 2), ('EU', 3), ('AP', 99);
        CREATE TEMP TABLE built (tag VARCHAR(10), x BIGINT);
        CREATE PROCEDURE loadall() AS $$
        BEGIN
            FOR r IN SELECT code, factor FROM regions ORDER BY factor LOOP
                EXIT WHEN r.factor > 50;
                INSERT INTO built VALUES (r.code, r.factor * 10);
            END LOOP;
        END;
        $$ LANGUAGE plpgsql;
        CALL loadall();
        SELECT tag, x FROM built ORDER BY tag;
        """,
    )
    assert [tuple(r) for r in out.collect()] == [("EU", 30), ("NA", 20)]


def test_copy_quote_as_and_unload_addquotes_roundtrip(spark, tmp_path):
    """UNLOAD ADDQUOTES quotes every exported field (CLEANPATH clears
    the prefix); COPY CSV QUOTE AS reads them back — embedded
    delimiters survive the round trip."""
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    p = tmp_path / "q"
    out = run_redshift_script(
        spark,
        f"""
        CREATE TEMP TABLE t (k INT, txt VARCHAR(30));
        INSERT INTO t VALUES (1, 'a,b'), (2, 'plain');
        UNLOAD ('SELECT k, txt FROM t') TO '{p}' FORMAT AS CSV ADDQUOTES CLEANPATH;
        CREATE TEMP TABLE back (k INT, txt VARCHAR(30));
        COPY back FROM '{p}' FORMAT AS CSV QUOTE AS '"';
        SELECT k, txt FROM back ORDER BY k;
        """,
    )
    assert [tuple(r) for r in out.collect()] == [(1, "a,b"), (2, "plain")]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="ADDQUOTES"):
        run_redshift_script(
            spark,
            f"""
            CREATE TEMP TABLE t2 (k INT);
            INSERT INTO t2 VALUES (1);
            UNLOAD ('SELECT k FROM t2') TO '{tmp_path / "p"}' PARQUET ADDQUOTES;
            """,
        )
    with _pytest.raises(ValueError, match="QUOTE AS"):
        run_redshift_script(
            spark,
            f"""
            CREATE TEMP TABLE t3 (k INT);
            COPY t3 FROM '{p}' QUOTE AS '"';
            """,
        )


def test_soundex_difference_get_byte_literals(spark):
    """SOUNDEX passes through to Spark's native; DIFFERENCE composes a
    position-wise soundex match count; GET_BYTE reads the 0-based byte
    value — literal expectations (DuckDB has no soundex to oracle)."""
    from sql_redshift_etl_spark.functions.redshift_sql import translate_redshift_sql

    row = spark.sql(
        translate_redshift_sql(
            "SELECT SOUNDEX('Robert') AS s, DIFFERENCE('smith', 'smyth') AS d4, "
            "DIFFERENCE('ann', 'zoe') AS d_low, GET_BYTE('abc', 1) AS b"
        )
    ).first()
    assert tuple(row) == ("R163", 4, 2, 98)


def test_dedup_incremental_matches_full_restricted(spark):
    """The incremental MinHash path (sign the delta, band-join against
    corpus ∪ delta) finds EXACTLY the from-scratch pipeline's pairs
    restricted to delta-involved ones — no pair lost by skipping the
    corpus self-join, none invented."""
    from sql_redshift_etl_spark.catalog import load_table
    from sql_redshift_etl_spark.llm.dedup import (
        minhash_incremental_pairs_df,
        minhash_lsh_pairs_df,
    )
    from pyspark.sql import functions as F

    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    full = (
        minhash_lsh_pairs_df(docs)
        .where((F.col("doc_a") % 10 == 0) | (F.col("doc_b") % 10 == 0))
        .collect()
    )
    inc = minhash_incremental_pairs_df(
        docs.where(F.col("doc_id") % 10 != 0),
        docs.where(F.col("doc_id") % 10 == 0),
    ).collect()
    assert sorted(map(tuple, full)) == sorted(map(tuple, inc))
    assert len(inc) > 0  # the fixture has planted near-dups on the delta


# --- round 7: plpgsql EXCEPTION WHEN OTHERS, EXECUTE, cursors ---------------


def test_exception_block_catches_and_rolls_back(spark):
    """A caught execution error restores every binding changed inside the
    guarded block (plpgsql's "changes are rolled back"), routes to the
    handler with classified SQLSTATE, and the statements AFTER the block
    still run — while a clean pass skips the handler entirely."""
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    out = run_redshift_script(
        spark,
        """
        CREATE TEMP TABLE audit (step VARCHAR(40), code VARCHAR(10));
        CREATE TEMP TABLE tgt (k INT, v INT);
        INSERT INTO tgt VALUES (1, 10);
        CREATE OR REPLACE PROCEDURE risky(divisor INT) AS $$
        BEGIN
            INSERT INTO audit VALUES ('start', NULL);
            BEGIN
                INSERT INTO tgt VALUES (2, 20);
                INSERT INTO tgt SELECT 3, 100 / divisor;
                INSERT INTO audit VALUES ('loaded', NULL);
            EXCEPTION WHEN OTHERS THEN
                INSERT INTO audit VALUES ('caught', SQLSTATE);
            END;
            INSERT INTO audit VALUES ('done', NULL);
        END;
        $$ LANGUAGE plpgsql;
        CALL risky(0);
        CALL risky(5);
        SELECT a.step, a.code, t.cnt
        FROM audit a CROSS JOIN (SELECT COUNT(*) AS cnt FROM tgt) t
        ORDER BY a.step, a.code NULLS FIRST;
        """,
    )
    rows = [tuple(r) for r in out.collect()]
    # tgt: initial row + the 2 rows of the SUCCESSFUL call only (the
    # failed call's partial INSERT of (2,20) was rolled back)
    assert rows == [
        ("caught", "22012", 3),
        ("done", None, 3),
        ("done", None, 3),
        ("loaded", None, 3),
        ("start", None, 3),
        ("start", None, 3),
    ]


def test_exception_sqlerrm_and_p0001(spark):
    """RAISE EXCEPTION is catchable; SQLERRM carries the raised message
    (transport prefix stripped) and SQLSTATE classifies as P0001."""
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    out = run_redshift_script(
        spark,
        """
        CREATE TEMP TABLE log_tbl (code VARCHAR(10), msg VARCHAR(256));
        CREATE OR REPLACE PROCEDURE p() AS $$
        BEGIN
            BEGIN
                RAISE EXCEPTION 'bad load: % rows', 42;
            EXCEPTION WHEN OTHERS THEN
                INSERT INTO log_tbl VALUES (SQLSTATE, SQLERRM);
            END;
        END;
        $$ LANGUAGE plpgsql;
        CALL p();
        SELECT * FROM log_tbl;
        """,
    )
    assert [tuple(r) for r in out.collect()] == [("P0001", "bad load: 42 rows")]


def test_exception_sqlstate_classes_r8(spark):
    """SQLSTATE parity fixes (r8, per the r7 advice): a malformed-string
    cast reports 22P02 (invalid_text_representation, what Postgres/
    Redshift raise) not 22018; a CASE statement with no matching branch
    reports 20000 (case_not_found) not P0001."""
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    out = run_redshift_script(
        spark,
        """
        CREATE TEMP TABLE states (code VARCHAR(10));
        CREATE OR REPLACE PROCEDURE p() AS $$
        DECLARE x INT;
        BEGIN
            BEGIN
                SELECT INTO x CAST('abc' AS INT);
            EXCEPTION WHEN OTHERS THEN
                INSERT INTO states VALUES (SQLSTATE);
            END;
            BEGIN
                CASE 99 WHEN 1 THEN x := 1; END CASE;
            EXCEPTION WHEN OTHERS THEN
                INSERT INTO states VALUES (SQLSTATE);
            END;
        END;
        $$ LANGUAGE plpgsql;
        CALL p();
        SELECT * FROM states ORDER BY code;
        """,
    )
    assert [r[0] for r in out.collect()] == ["20000", "22P02"]


def test_guard_catch_untracks_row_count_and_closes_cursors(spark):
    """After a guard catches (r8, per the r7 advice): GET DIAGNOSTICS
    ROW_COUNT in the handler is LOUD (the tracked DML was rolled back —
    never a count of undone effects), and a cursor OPENed inside the
    aborted block is closed (its buffered rows came from undone state)
    while one opened BEFORE the guard survives."""
    import pytest as _pytest

    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    with _pytest.raises(ValueError, match="not tracked"):
        run_redshift_script(
            spark,
            """
            CREATE TEMP TABLE t8 (v INT);
            CREATE OR REPLACE PROCEDURE p() AS $$
            DECLARE n INT;
            BEGIN
                BEGIN
                    INSERT INTO t8 VALUES (1);
                    RAISE EXCEPTION 'boom';
                EXCEPTION WHEN OTHERS THEN
                    GET DIAGNOSTICS n := ROW_COUNT;
                END;
            END;
            $$ LANGUAGE plpgsql;
            CALL p();
            """,
        )
    out = run_redshift_script(
        spark,
        """
        CREATE TEMP TABLE src8 (v INT);
        INSERT INTO src8 VALUES (10), (20);
        CREATE TEMP TABLE got8 (tag VARCHAR(30), v INT);
        CREATE OR REPLACE PROCEDURE p() AS $$
        DECLARE
            pre CURSOR FOR SELECT v FROM src8 ORDER BY v;
            x INT;
        BEGIN
            OPEN pre;
            BEGIN
                RAISE EXCEPTION 'boom';
            EXCEPTION WHEN OTHERS THEN
                FETCH pre INTO x;  -- survives: opened before the guard
                INSERT INTO got8 VALUES ('pre_fetch', x);
            END;
        END;
        $$ LANGUAGE plpgsql;
        CALL p();
        SELECT * FROM got8 ORDER BY tag;
        """,
    )
    assert [tuple(r) for r in out.collect()] == [("pre_fetch", 10)]
    # a cursor OPENed inside the aborted block is closed by the catch —
    # the handler's FETCH is loud (ValueErrors stay loud by policy)
    with _pytest.raises(ValueError, match="not open"):
        run_redshift_script(
            spark,
            """
            CREATE TEMP TABLE src8b (v INT);
            INSERT INTO src8b VALUES (10);
            CREATE OR REPLACE PROCEDURE p() AS $$
            DECLARE
                post CURSOR FOR SELECT v FROM src8b;
                x INT;
            BEGIN
                BEGIN
                    OPEN post;
                    RAISE EXCEPTION 'boom';
                EXCEPTION WHEN OTHERS THEN
                    FETCH post INTO x;
                END;
            END;
            $$ LANGUAGE plpgsql;
            CALL p();
            """,
        )


def test_exception_toplevel_body_form_and_nesting(spark):
    """The common real-proc form (EXCEPTION section on the procedure's
    own outer block) parses; nested guards catch innermost-first, and an
    error RAISEd inside a handler is caught by the enclosing guard."""
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    out = run_redshift_script(
        spark,
        """
        CREATE TEMP TABLE trail (tag VARCHAR(20));
        CREATE OR REPLACE PROCEDURE p() AS $$
        BEGIN
            BEGIN
                INSERT INTO trail SELECT CAST(1/0 AS VARCHAR);
            EXCEPTION WHEN OTHERS THEN
                INSERT INTO trail VALUES ('inner');
                RAISE EXCEPTION 'escalate';
            END;
            INSERT INTO trail VALUES ('unreached');
        EXCEPTION WHEN OTHERS THEN
            INSERT INTO trail VALUES ('outer');
        END;
        $$ LANGUAGE plpgsql;
        CALL p();
        SELECT * FROM trail ORDER BY tag;
        """,
    )
    # the outer handler's rollback undoes the inner handler's 'inner'
    # row too — the outer block's snapshot predates it
    assert [r[0] for r in out.collect()] == ["outer"]


def test_exception_uncaught_and_valueerror_stay_loud(spark):
    """Without a guard the error propagates; with a guard, the runner's
    own unsupported-construct ValueErrors are NOT caught (module
    policy: a real engine would have executed the statement)."""
    import pytest as _pytest

    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    with _pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        # outside a guard the plan stays lazy (the module's documented
        # execution model), so the error surfaces at the result action
        run_redshift_script(
            spark,
            """
            CREATE TEMP TABLE t (x INT);
            CREATE OR REPLACE PROCEDURE p() AS $$
            BEGIN
                INSERT INTO t SELECT 1/0;
            END;
            $$ LANGUAGE plpgsql;
            CALL p();
            SELECT * FROM t;
            """,
        ).collect()
    with _pytest.raises(ValueError, match="unsupported statement"):
        run_redshift_script(
            spark,
            """
            CREATE OR REPLACE PROCEDURE p() AS $$
            BEGIN
                BEGIN
                    FROBNICATE the warehouse;
                EXCEPTION WHEN OTHERS THEN
                    RAISE NOTICE 'should not get here';
                END;
            END;
            $$ LANGUAGE plpgsql;
            CALL p();
            """,
        )


def test_exception_only_when_others(spark):
    """Named exception conditions are loud at define time — Redshift
    itself only supports WHEN OTHERS."""
    import pytest as _pytest

    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    with _pytest.raises(ValueError, match="WHEN OTHERS"):
        run_redshift_script(
            spark,
            """
            CREATE PROCEDURE p() AS $$
            BEGIN
                BEGIN
                    SELECT 1;
                EXCEPTION WHEN division_by_zero THEN
                    RAISE NOTICE 'nope';
                END;
            END;
            $$ LANGUAGE plpgsql;
            """,
        )


def test_exception_guard_retires_on_return_and_exit(spark):
    """Leaving a guarded block early (RETURN, EXIT crossing the block)
    retires the guard: an error AFTER the early exit must NOT route to
    the dead handler."""
    import pytest as _pytest

    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    with _pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        run_redshift_script(
            spark,
            """
            CREATE TEMP TABLE t (x INT);
            CREATE OR REPLACE PROCEDURE p() AS $$
            BEGIN
                BEGIN
                    RETURN;
                EXCEPTION WHEN OTHERS THEN
                    RAISE NOTICE 'dead handler';
                END;
            END;
            $$ LANGUAGE plpgsql;
            CALL p();
            CREATE OR REPLACE PROCEDURE q() AS $$
            BEGIN
                INSERT INTO t SELECT 1/0;
            END;
            $$ LANGUAGE plpgsql;
            CALL q();
            SELECT * FROM t;
            """,
        ).collect()
    out = run_redshift_script(
        spark,
        """
        CREATE TEMP TABLE acc (i INT);
        CREATE OR REPLACE PROCEDURE p() AS $$
        DECLARE v_i INT := 0;
        BEGIN
            WHILE v_i < 5 LOOP
                v_i := v_i + 1;
                BEGIN
                    INSERT INTO acc VALUES (v_i);
                    EXIT WHEN v_i >= 3;
                EXCEPTION WHEN OTHERS THEN
                    INSERT INTO acc VALUES (-1);
                END;
            END LOOP;
        END;
        $$ LANGUAGE plpgsql;
        CALL p();
        SELECT * FROM acc ORDER BY i;
        """,
    )
    assert [r[0] for r in out.collect()] == [1, 2, 3]


def test_plain_nested_begin_block_is_grouping_only(spark):
    """A nested BEGIN/END with no EXCEPTION section is pure statement
    grouping — no snapshot, no materialization, identical results."""
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    out = run_redshift_script(
        spark,
        """
        CREATE TEMP TABLE t (x INT);
        CREATE OR REPLACE PROCEDURE p() AS $$
        BEGIN
            BEGIN
                INSERT INTO t VALUES (1);
                BEGIN
                    INSERT INTO t VALUES (2);
                END;
            END;
        END;
        $$ LANGUAGE plpgsql;
        CALL p();
        SELECT * FROM t ORDER BY x;
        """,
    )
    assert [r[0] for r in out.collect()] == [1, 2]


def test_execute_dynamic_sql_roundtrip(spark):
    """EXECUTE builds statements from variables (the admin-script
    idiom): a dynamically-named CTAS, an EXECUTE ... INTO readback, and
    a dynamic INSERT with QUOTE_LITERAL all land."""
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    out = run_redshift_script(
        spark,
        """
        CREATE TEMP TABLE src (k INT, v VARCHAR(10));
        INSERT INTO src VALUES (1,'a'),(2,'b'),(3,'c');
        CREATE OR REPLACE PROCEDURE build(suffix VARCHAR(10), lo INT) AS $$
        DECLARE
            v_sql VARCHAR(400);
            v_cnt BIGINT;
        BEGIN
            v_sql := 'CREATE TEMP TABLE snap_' || suffix
                || ' AS SELECT * FROM src WHERE k >= ' || CAST(lo AS VARCHAR);
            EXECUTE v_sql;
            EXECUTE 'SELECT COUNT(*) FROM snap_' || suffix INTO v_cnt;
            EXECUTE 'INSERT INTO snap_' || suffix || ' VALUES ('
                || CAST(v_cnt AS VARCHAR) || ', '
                || QUOTE_LITERAL('n=' || CAST(v_cnt AS VARCHAR)) || ')';
        END;
        $$ LANGUAGE plpgsql;
        CALL build('x', 2);
        SELECT * FROM snap_x ORDER BY k, v;
        """,
    )
    assert [tuple(r) for r in out.collect()] == [(2, "b"), (2, "n=2"), (3, "c")]


def test_execute_loud_cases(spark):
    """NULL command string, a $N past the USING argument list, and INTO
    an undeclared target are each loud."""
    import pytest as _pytest

    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    proc = """
        CREATE OR REPLACE PROCEDURE p() AS $$
        DECLARE v_x INT;
        BEGIN
            {stmt}
        END;
        $$ LANGUAGE plpgsql;
        CALL p();
    """
    with _pytest.raises(ValueError, match="NULL/empty"):
        run_redshift_script(spark, proc.format(stmt="EXECUTE NULL;"))
    with _pytest.raises(ValueError, match=r"\$2 referenced"):
        run_redshift_script(
            spark, proc.format(stmt="EXECUTE 'SELECT $2' USING 1;")
        )
    with _pytest.raises(ValueError, match="declared plpgsql variables"):
        run_redshift_script(
            spark, proc.format(stmt="EXECUTE 'SELECT 1' INTO v_missing;")
        )


def test_cursor_loop_found_and_lifecycle(spark):
    """The canonical cursor walk: OPEN / FETCH ... INTO / EXIT WHEN NOT
    FOUND / CLOSE accumulates a running total; FETCH past the end sets
    NULLs + found=FALSE; re-OPEN after CLOSE re-evaluates against the
    bindings of that moment."""
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    out = run_redshift_script(
        spark,
        """
        CREATE TEMP TABLE items (k INT, amt DOUBLE PRECISION);
        INSERT INTO items VALUES (1, 10.5), (2, 20.25), (3, 30.0);
        CREATE TEMP TABLE out_tbl (k INT, running DOUBLE PRECISION);
        CREATE OR REPLACE PROCEDURE walk() AS $$
        DECLARE
            cur CURSOR FOR SELECT k, amt FROM items ORDER BY k;
            v_k INT;
            v_amt DOUBLE PRECISION;
            v_tot DOUBLE PRECISION := 0;
        BEGIN
            OPEN cur;
            LOOP
                FETCH cur INTO v_k, v_amt;
                EXIT WHEN NOT found;
                v_tot := v_tot + v_amt;
                INSERT INTO out_tbl VALUES (v_k, v_tot);
            END LOOP;
            -- exhausted: one more FETCH keeps found=false, vars NULL
            FETCH cur INTO v_k, v_amt;
            IF v_k IS NULL AND NOT found THEN
                INSERT INTO out_tbl VALUES (99, -1);
            END IF;
            CLOSE cur;
            -- re-OPEN sees the rows inserted meanwhile
            OPEN cur;
            FETCH cur INTO v_k, v_amt;
            CLOSE cur;
            INSERT INTO out_tbl VALUES (100, v_amt);
        END;
        $$ LANGUAGE plpgsql;
        CALL walk();
        SELECT * FROM out_tbl ORDER BY k;
        """,
    )
    assert [tuple(r) for r in out.collect()] == [
        (1, 10.5),
        (2, 30.75),
        (3, 60.75),
        (99, -1.0),
        (100, 10.5),
    ]


def test_cursor_binds_variables_at_open(spark):
    """The cursor query sees variable values as of OPEN, not DECLARE —
    plpgsql's documented binding point."""
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    out = run_redshift_script(
        spark,
        """
        CREATE TEMP TABLE items (k INT);
        INSERT INTO items VALUES (1), (2), (3), (4);
        CREATE TEMP TABLE got (k INT);
        CREATE OR REPLACE PROCEDURE p() AS $$
        DECLARE
            v_lo INT := 0;
            cur CURSOR FOR SELECT k FROM items WHERE k > v_lo ORDER BY k;
            v_k INT;
        BEGIN
            v_lo := 2;
            OPEN cur;
            LOOP
                FETCH cur INTO v_k;
                EXIT WHEN NOT found;
                INSERT INTO got VALUES (v_k);
            END LOOP;
            CLOSE cur;
        END;
        $$ LANGUAGE plpgsql;
        CALL p();
        SELECT * FROM got ORDER BY k;
        """,
    )
    assert [r[0] for r in out.collect()] == [3, 4]


def test_cursor_loud_cases(spark):
    """Double OPEN, FETCH on a closed cursor, CLOSE of a not-open
    cursor, FETCH into a cursor name, and an over-cap control query are
    each loud."""
    import pytest as _pytest

    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    def proc(body):
        return f"""
        CREATE TEMP TABLE items (k INT);
        INSERT INTO items VALUES (1);
        CREATE OR REPLACE PROCEDURE p() AS $$
        DECLARE
            cur CURSOR FOR SELECT k FROM items;
            v_k INT;
        BEGIN
            {body}
        END;
        $$ LANGUAGE plpgsql;
        CALL p();
        """

    with _pytest.raises(ValueError, match="already open"):
        run_redshift_script(spark, proc("OPEN cur; OPEN cur;"))
    with _pytest.raises(ValueError, match="not open"):
        run_redshift_script(spark, proc("FETCH cur INTO v_k;"))
    with _pytest.raises(ValueError, match="not open"):
        run_redshift_script(spark, proc("CLOSE cur;"))
    with _pytest.raises(ValueError, match="not declared scalar"):
        run_redshift_script(spark, proc("OPEN cur; FETCH cur INTO cur;"))
    with _pytest.raises(ValueError, match="more than 1000 rows"):
        run_redshift_script(
            spark,
            """
            CREATE OR REPLACE PROCEDURE p() AS $$
            DECLARE
                cur CURSOR FOR SELECT id FROM RANGE(0, 2000);
                v INT;
            BEGIN
                OPEN cur;
                FETCH cur INTO v;
                CLOSE cur;
            END;
            $$ LANGUAGE plpgsql;
            CALL p();
            """,
        )


def test_connect_by_level_cap_parens_and_conjuncts():
    """The LEVEL-cap push-down strips balanced outer parens (an unclosed
    one counts as spanning, without raising) and looks at every top-level
    conjunct of a merged WHERE."""
    from sql_redshift_etl_spark.functions.redshift_sql import _level_cap, _strip_outer_parens

    assert _strip_outer_parens(" ((LEVEL <= 3)) ") == "LEVEL <= 3"
    assert _strip_outer_parens("(a) AND (b)") == "(a) AND (b)"
    assert _strip_outer_parens("((a)") == "(a"
    assert _level_cap("(x = 1 AND y) AND ((level < 4))") == " AND __p.level + 1 < 4"
    assert _level_cap("LEVEL <= 2 and band = 1 ANDy LEVEL < 9") == " AND __p.level + 1 <= 2"
    assert _level_cap("(LEVEL <= 2 OR x)") == ""
    assert _level_cap(None) == ""


def test_connect_by_rewrite_and_loud_cases(spark):
    """START WITH / CONNECT BY rewrites to a recursive CTE with LEVEL;
    the out-of-subset spellings are loud."""
    import pytest as _pytest

    from sql_redshift_etl_spark.functions.redshift_sql import (
        run_redshift_sql,
        translate_redshift_sql,
    )

    spark.createDataFrame(
        [(i,) for i in range(1, 130)], "k INT"
    ).createOrReplaceTempView("cb_t")
    rows = run_redshift_sql(
        spark,
        """
        SELECT k, CAST(LEVEL AS BIGINT) AS lvl
        FROM cb_t
        START WITH k = 1
        CONNECT BY FLOOR(k / 10) = PRIOR k
        ORDER BY k
        """,
    ).collect()
    got = {r["k"]: r["lvl"] for r in rows}
    # 1 (lvl 1); 10..19 (lvl 2); 100..129 (lvl 3)
    assert got[1] == 1 and got[10] == 2 and got[19] == 2 and got[129] == 3
    assert len(rows) == 1 + 10 + 30
    # clause order flipped (CONNECT BY before START WITH) parses too
    assert "WITH RECURSIVE" in translate_redshift_sql(
        "SELECT k FROM cb_t CONNECT BY PRIOR k = k - 1 START WITH k = 1"
    )
    for bad, msg in [
        ("SELECT * FROM cb_t START WITH k=1 CONNECT BY PRIOR k = k-1", "LEVEL pseudocolumn"),
        ("SELECT k FROM cb_t START WITH k=1 CONNECT BY k = k-1", "PRIOR"),
        (
            # ISCYCLE without NOCYCLE is Oracle's ORA-30007 — an error
            "SELECT CONNECT_BY_ISCYCLE FROM cb_t START WITH k=1 CONNECT BY PRIOR k = k-1",
            "requires the NOCYCLE keyword",
        ),
        (
            "SELECT k FROM cb_t START WITH k=1 "
            "CONNECT BY PRIOR k = k-1 AND CONNECT_BY_ISLEAF = 1",
            "not supported inside START WITH",
        ),
        (
            "SELECT CONNECT_BY_ROOT UPPER(k) FROM cb_t START WITH k=1 "
            "CONNECT BY PRIOR k = k-1",
            "simple unqualified",
        ),
        (
            "SELECT CONNECT_BY_ROOT t.k FROM cb_t START WITH k=1 "
            "CONNECT BY PRIOR k = k-1",
            "simple unqualified",
        ),
        (
            # expression args may reference base columns only
            "SELECT SYS_CONNECT_BY_PATH(k + PRIOR k, '/') FROM cb_t "
            "START WITH k=1 CONNECT BY PRIOR k = k-1",
            "base-table columns only",
        ),
        (
            "SELECT CONNECT_BY_ROOT(LEVEL * 2) FROM cb_t START WITH k=1 "
            "CONNECT BY PRIOR k = k-1",
            "base-table columns only",
        ),
        (
            "SELECT SYS_CONNECT_BY_PATH(LEVEL, '/') FROM cb_t START WITH k=1 "
            "CONNECT BY PRIOR k = k-1",
            "LEVEL is not a base-table column",
        ),
        (
            # r9 review: SCBP nested inside ROOT is substituted first, so
            # the ROOT argument arrives as a __cbp_N carry column — still
            # a pseudo-column, still loud (not an unresolved-column leak)
            "SELECT CONNECT_BY_ROOT(SYS_CONNECT_BY_PATH(k, '/')) FROM cb_t "
            "START WITH k=1 CONNECT BY PRIOR k = k-1",
            "base-table columns only",
        ),
        (
            "SELECT CONNECT_BY_ROOT(UPPER(SYS_CONNECT_BY_PATH(k, '/'))) "
            "FROM cb_t START WITH k=1 CONNECT BY PRIOR k = k-1",
            "base-table columns only",
        ),
        (
            # r9 ADVICE: the BARE form of the same nesting (no parens) —
            # SCBP substitutes first, so the ROOT argument arrives as a
            # __cbp_N carry column; must raise the same clean error, not
            # carry `__c.__cbp_0` into a Spark unresolved-column failure
            "SELECT CONNECT_BY_ROOT SYS_CONNECT_BY_PATH(k, '/') FROM cb_t "
            "START WITH k=1 CONNECT BY PRIOR k = k-1",
            "base-table columns only",
        ),
        (
            "SELECT k FROM cb_t START WITH CONNECT_BY_ROOT k = 1 "
            "CONNECT BY PRIOR k = k-1",
            "not supported inside START WITH",
        ),
        (
            "SELECT k FROM cb_t a START WITH k=1 CONNECT BY PRIOR k = k-1",
            "single unaliased table",
        ),
    ]:
        with _pytest.raises(ValueError, match=msg):
            translate_redshift_sql(bad)


def test_get_diagnostics_row_count(spark):
    """ROW_COUNT reports rows affected by INSERT/UPDATE/DELETE (lazy
    affected-set plans counted at the read), the 0/1 of SELECT INTO var
    and FETCH, and is LOUD after an untracked statement — never silently
    stale."""
    import pytest as _pytest

    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    out = run_redshift_script(
        spark,
        """
        CREATE TEMP TABLE t (k INT, v INT);
        CREATE TEMP TABLE log_tbl (tag VARCHAR(20), n BIGINT);
        CREATE OR REPLACE PROCEDURE p() AS $$
        DECLARE v_n BIGINT;
        BEGIN
            INSERT INTO t SELECT id, id * 2 FROM RANGE(0, 7);
            GET DIAGNOSTICS v_n := ROW_COUNT;
            INSERT INTO log_tbl VALUES ('ins', v_n);
            UPDATE t SET v = 0 WHERE k < 3;
            GET DIAGNOSTICS v_n := ROW_COUNT;
            INSERT INTO log_tbl VALUES ('upd', v_n);
            DELETE FROM t WHERE k >= 5;
            GET DIAGNOSTICS v_n = ROW_COUNT;
            INSERT INTO log_tbl VALUES ('del', v_n);
            SELECT MAX(k) INTO v_n FROM t;
            GET DIAGNOSTICS v_n := ROW_COUNT;
            INSERT INTO log_tbl VALUES ('sel_into', v_n);
        END;
        $$ LANGUAGE plpgsql;
        CALL p();
        SELECT * FROM log_tbl;
        """,
    )
    assert {tuple(r) for r in out.collect()} == {
        ("ins", 7),
        ("upd", 3),
        ("del", 2),
        ("sel_into", 1),
    }
    with _pytest.raises(ValueError, match="not tracked"):
        run_redshift_script(
            spark,
            """
            CREATE TEMP TABLE t2 (k INT);
            CREATE OR REPLACE PROCEDURE q() AS $$
            DECLARE v_n BIGINT;
            BEGIN
                INSERT INTO t2 SELECT 1;
                CREATE TEMP TABLE t3 AS SELECT 1 AS x;
                GET DIAGNOSTICS v_n := ROW_COUNT;
            END;
            $$ LANGUAGE plpgsql;
            CALL q();
            """,
        )
    with _pytest.raises(ValueError, match="only 'var := ROW_COUNT'"):
        run_redshift_script(
            spark,
            """
            CREATE OR REPLACE PROCEDURE q2() AS $$
            DECLARE v_n BIGINT;
            BEGIN
                GET DIAGNOSTICS v_n := PG_CONTEXT;
            END;
            $$ LANGUAGE plpgsql;
            CALL q2();
            """,
        )


def test_case_statement_forms(spark):
    """plpgsql CASE *statement*: searched and simple (value-list) forms
    desugar to IF; a no-match CASE without ELSE raises case_not_found
    (catchable); nested CASE expressions inside arms stay expressions."""
    import pytest as _pytest

    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    out = run_redshift_script(
        spark,
        """
        CREATE TEMP TABLE t (tag VARCHAR(30));
        CREATE OR REPLACE PROCEDURE p(x INT) AS $$
        BEGIN
            CASE
                WHEN x < 0 THEN INSERT INTO t VALUES ('neg');
                WHEN x = 0 THEN
                    INSERT INTO t SELECT CASE WHEN 1 = 1 THEN 'zero' ELSE 'no' END;
                    INSERT INTO t VALUES ('zero2');
                ELSE INSERT INTO t VALUES ('pos');
            END CASE;
            CASE x
                WHEN 1, 2 THEN INSERT INTO t VALUES ('small');
                WHEN 3 THEN INSERT INTO t VALUES ('three');
                ELSE INSERT INTO t VALUES ('other');
            END CASE;
        END;
        $$ LANGUAGE plpgsql;
        CALL p(0);
        CALL p(2);
        CALL p(7);
        SELECT * FROM t ORDER BY tag;
        """,
    )
    assert [r[0] for r in out.collect()] == [
        "other", "other", "pos", "pos", "small", "zero", "zero2",
    ]
    # case_not_found raises and a guard catches it with SQLSTATE 20000
    # (the plpgsql case_not_found class — r8 advice fix; previously the
    # RAISE transport's P0001 leaked through);
    # a CASE statement nested in an IF parses (END CASE tokenization)
    out2 = run_redshift_script(
        spark,
        """
        CREATE TEMP TABLE t2 (tag VARCHAR(30));
        CREATE OR REPLACE PROCEDURE q(x INT) AS $$
        BEGIN
            IF x >= 0 THEN
                BEGIN
                    CASE x WHEN 1 THEN INSERT INTO t2 VALUES ('one'); END CASE;
                EXCEPTION WHEN OTHERS THEN
                    INSERT INTO t2 VALUES ('caught:' || SQLSTATE);
                END;
            END IF;
        END;
        $$ LANGUAGE plpgsql;
        CALL q(1);
        CALL q(9);
        SELECT * FROM t2 ORDER BY tag;
        """,
    )
    assert [r[0] for r in out2.collect()] == ["caught:20000", "one"]
    with _pytest.raises(Exception, match="case_not_found"):
        run_redshift_script(
            spark,
            """
            CREATE OR REPLACE PROCEDURE r() AS $$
            BEGIN
                CASE 5 WHEN 1 THEN RAISE NOTICE 'x'; END CASE;
            END;
            $$ LANGUAGE plpgsql;
            CALL r();
            """,
        )


def test_for_loop_by_step(spark):
    """FOR i IN a..b BY s steps by s (REVERSE too); a non-positive step
    is loud — plpgsql's own rule."""
    import pytest as _pytest

    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    out = run_redshift_script(
        spark,
        """
        CREATE TEMP TABLE t (k INT);
        CREATE OR REPLACE PROCEDURE p() AS $$
        BEGIN
            FOR i IN 1..10 BY 3 LOOP
                INSERT INTO t VALUES (i);
            END LOOP;
            FOR i IN REVERSE 10..1 BY 2 + 2 LOOP
                INSERT INTO t VALUES (-i);
            END LOOP;
        END;
        $$ LANGUAGE plpgsql;
        CALL p();
        SELECT * FROM t ORDER BY k;
        """,
    )
    assert [r[0] for r in out.collect()] == [-10, -6, -2, 1, 4, 7, 10]
    with _pytest.raises(ValueError, match="BY step must be a positive"):
        run_redshift_script(
            spark,
            """
            CREATE OR REPLACE PROCEDURE q() AS $$
            BEGIN
                FOR i IN 1..3 BY 0 LOOP RAISE NOTICE 'x'; END LOOP;
            END;
            $$ LANGUAGE plpgsql;
            CALL q();
            """,
        )


def test_substring_span_merge_semantics(spark, tmp_path):
    """Exact-substring span dedup on planted data: two docs share one
    9-token run (=> 2 overlapping windows merging into ONE 9-token span
    each) and a separate 8-token run (1 window, its own span); a third
    doc shares nothing and must not appear."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sql_redshift_etl_spark.plans.registry import all_queries

    shared9 = "a b c d e f g h i"           # 9 tokens -> windows at pos 0,1
    shared8 = "p q r s t u v w"             # 8 tokens -> 1 window
    docs = [
        (1, f"{shared9} x1 y1 z1 w1 {shared8}", "en", "s1", 0),
        (2, f"m2 n2 {shared9} k2 {shared8} q2 r2", "en", "s2", 0),
        (3, "totally unrelated words only here nothing shared at all", "en", "s3", 0),
    ]
    t = pa.table(
        {
            "doc_id": pa.array([d[0] for d in docs], pa.int64()),
            "text": [d[1] for d in docs],
            "lang": [d[2] for d in docs],
            "source": [d[3] for d in docs],
            "n_chars": pa.array([len(d[1]) for d in docs], pa.int64()),
        }
    )
    pq.write_table(t, str(tmp_path / "documents.parquet"))
    out = {
        r["doc_id"]: r.asDict()
        for r in all_queries()["dedup_substring_spans"]
        .builder(spark, str(tmp_path))
        .collect()
    }
    assert set(out) == {1, 2}
    for doc_id in (1, 2):
        r = out[doc_id]
        # 9-token run: 2 windows, merged into one span of 9 tokens;
        # 8-token run: 1 window, one span of 8 tokens
        assert r["n_dup_windows"] == 3, r
        assert r["n_spans"] == 2, r
        assert r["dup_tokens"] == 9 + 8, r


def test_connect_by_level_cap_and_cycles(spark):
    """A top-level `LEVEL <= n` WHERE conjunct pushes into the recursive
    arm (same results, bounded recursion): on CYCLIC data the capped
    walk terminates with exactly the capped rows, while the uncapped
    walk stops loudly at Spark's recursion limit instead of hanging."""
    import pytest as _pytest

    from sql_redshift_etl_spark.functions.redshift_sql import (
        run_redshift_sql,
        translate_redshift_sql,
    )

    # acyclic: capped result == uncapped result filtered
    spark.createDataFrame(
        [(i,) for i in range(1, 130)], "k INT"
    ).createOrReplaceTempView("cbl_t")
    q = """
        SELECT k, CAST(LEVEL AS BIGINT) AS lvl FROM cbl_t
        START WITH k = 1 CONNECT BY FLOOR(k / 10) = PRIOR k
    """
    full = {tuple(r) for r in run_redshift_sql(spark, q).collect()}
    capped = {
        tuple(r)
        for r in run_redshift_sql(spark, q + " WHERE LEVEL <= 2 AND k >= 0").collect()
    }
    assert capped == {t for t in full if t[1] <= 2} and len(capped) == 11
    assert "__p.level + 1 <=" in translate_redshift_sql(
        q + " WHERE LEVEL <= 2 AND k >= 0"
    )
    # cyclic: 1 -> 2 -> 1. Capped terminates; uncapped errors loudly.
    spark.createDataFrame(
        [(1, 2), (2, 1)], "node INT, parent INT"
    ).createOrReplaceTempView("cbl_cyc")
    rows = run_redshift_sql(
        spark,
        """
        SELECT node, CAST(LEVEL AS BIGINT) AS lvl FROM cbl_cyc
        START WITH node = 1 CONNECT BY PRIOR node = parent
        WHERE LEVEL <= 4
        """,
    ).collect()
    assert sorted((r.node, r.lvl) for r in rows) == [(1, 1), (1, 3), (2, 2), (2, 4)]
    with _pytest.raises(Exception, match="RECURSION_LEVEL_LIMIT_EXCEEDED"):
        run_redshift_sql(
            spark,
            """
            SELECT node FROM cbl_cyc
            START WITH node = 1 CONNECT BY PRIOR node = parent
            """,
        ).collect()


def test_connect_by_pseudo_columns(spark):
    """CONNECT_BY_ROOT / SYS_CONNECT_BY_PATH carry root and path columns
    through the recursive CTE (r8); NOCYCLE terminates a cyclic walk at
    the row that is its own ancestor; a bare LEVEL inside the CONNECT BY
    condition means the CHILD's level (parent + 1 — the off-by-one the
    r7 advice flagged)."""
    from sql_redshift_etl_spark.functions.redshift_sql import run_redshift_sql

    spark.createDataFrame(
        [(1, None, "ceo"), (2, 1, "vp_a"), (3, 1, "vp_b"), (4, 2, "eng"), (5, 4, None)],
        "emp_id INT, mgr_id INT, name STRING",
    ).createOrReplaceTempView("cbp_emp")
    rows = run_redshift_sql(
        spark,
        """
        SELECT emp_id, CAST(LEVEL AS BIGINT) AS lvl,
               CONNECT_BY_ROOT name AS root_name,
               SYS_CONNECT_BY_PATH(name, '/') AS path
        FROM cbp_emp
        START WITH mgr_id IS NULL
        CONNECT BY PRIOR emp_id = mgr_id
        """,
    ).collect()
    got = {r.emp_id: (r.lvl, r.root_name, r.path) for r in rows}
    assert got[1] == (1, "ceo", "/ceo")
    assert got[2] == (2, "ceo", "/ceo/vp_a")
    assert got[4] == (3, "ceo", "/ceo/vp_a/eng")
    # NULL column renders empty in the path (Oracle's contract)
    assert got[5] == (4, "ceo", "/ceo/vp_a/eng/")
    # NOCYCLE: 1 -> 2 -> 1 terminates instead of hitting the recursion cap
    spark.createDataFrame(
        [(1, 2), (2, 1)], "node INT, parent INT"
    ).createOrReplaceTempView("cbp_cyc")
    rows = run_redshift_sql(
        spark,
        """
        SELECT node, CAST(LEVEL AS BIGINT) AS lvl FROM cbp_cyc
        START WITH node = 1 CONNECT BY NOCYCLE PRIOR node = parent
        """,
    ).collect()
    assert sorted((r.node, r.lvl) for r in rows) == [(1, 1), (2, 2)]
    # bare LEVEL in the CONNECT BY condition caps at the CHILD level:
    # identical rows to the post-filter spelling on a tree
    spark.createDataFrame(
        [(i,) for i in range(1, 130)], "k INT"
    ).createOrReplaceTempView("cbp_t")
    in_cond = run_redshift_sql(
        spark,
        """
        SELECT k, CAST(LEVEL AS BIGINT) AS lvl FROM cbp_t
        START WITH k = 1 CONNECT BY FLOOR(k / 10) = PRIOR k AND LEVEL <= 2
        """,
    ).collect()
    post = run_redshift_sql(
        spark,
        """
        SELECT k, CAST(LEVEL AS BIGINT) AS lvl FROM cbp_t
        START WITH k = 1 CONNECT BY FLOOR(k / 10) = PRIOR k
        WHERE LEVEL <= 2
        """,
    ).collect()
    assert sorted(map(tuple, in_cond)) == sorted(map(tuple, post))
    assert len(in_cond) == 11  # 1 + 10..19
    # textually identical SYS_CONNECT_BY_PATH calls share ONE carried
    # column (dedup keys on the unmasked literal, not the mask sentinel)
    from sql_redshift_etl_spark.functions.redshift_sql import translate_redshift_sql

    two_calls = translate_redshift_sql(
        """
        SELECT emp_id, SYS_CONNECT_BY_PATH(name, '/') AS p1
        FROM cbp_emp
        WHERE SYS_CONNECT_BY_PATH(name, '/') LIKE '/ceo%'
        START WITH mgr_id IS NULL CONNECT BY PRIOR emp_id = mgr_id
        """
    )
    assert "__cbp_0" in two_calls and "__cbp_1" not in two_calls


def test_substring_spans_hashed_equals_text(spark):
    """The 100 TB configuration (xxhash64 8-byte shuffle keys) produces
    byte-identical per-doc span metrics to the oracle-exact text-key
    form on the fixtures."""
    from sql_redshift_etl_spark.catalog import load_table
    from sql_redshift_etl_spark.llm.dedup import substring_spans_df

    d = load_table(spark, "/root/testdata/sf0.01", "documents")
    text_rows = sorted(map(tuple, substring_spans_df(d, hashed=False).collect()))
    hash_rows = sorted(map(tuple, substring_spans_df(d, hashed=True).collect()))
    assert text_rows == hash_rows and len(text_rows) > 0


def test_guard_restores_open_transaction_state(spark):
    """A guarded block erroring INSIDE a script-level transaction: the
    handler restore keeps the transaction open with its original
    BEGIN-time snapshot, so a later ROLLBACK still unwinds to the
    script's BEGIN point. (A literal ``BEGIN;`` inside a plpgsql body
    is a BLOCK opener, as in plpgsql itself — transaction control in
    procs is COMMIT/ROLLBACK.)"""
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    out = run_redshift_script(
        spark,
        """
        CREATE TEMP TABLE t (k INT);
        INSERT INTO t VALUES (1);
        CREATE OR REPLACE PROCEDURE p() AS $$
        BEGIN
            BEGIN
                INSERT INTO t VALUES (2);
                INSERT INTO t SELECT 1/0;
            EXCEPTION WHEN OTHERS THEN
                INSERT INTO t VALUES (-1);
            END;
        END;
        $$ LANGUAGE plpgsql;
        BEGIN;
        INSERT INTO t VALUES (10);
        CALL p();
        INSERT INTO t VALUES (3);
        ROLLBACK;
        SELECT k FROM t;
        """,
    )
    # ROLLBACK unwinds to the script BEGIN: 10, the handler's -1, and 3
    # all vanish; only the pre-transaction row survives
    assert sorted(r.k for r in out.collect()) == [1]


def test_execute_sets_row_count(spark):
    """GET DIAGNOSTICS after EXECUTE-built DML reads the dynamic
    statement's affected count (the dynamic INSERT runs through the
    same worklist DML handlers)."""
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    out = run_redshift_script(
        spark,
        """
        CREATE TEMP TABLE t (k INT);
        CREATE TEMP TABLE log_tbl (n BIGINT);
        CREATE OR REPLACE PROCEDURE p() AS $$
        DECLARE v_n BIGINT;
        BEGIN
            EXECUTE 'INSERT INTO t SELECT id FROM RANGE(0, 5)';
            GET DIAGNOSTICS v_n := ROW_COUNT;
            INSERT INTO log_tbl VALUES (v_n);
        END;
        $$ LANGUAGE plpgsql;
        CALL p();
        SELECT n FROM log_tbl;
        """,
    )
    assert [r.n for r in out.collect()] == [5]


def test_json_battery_rewrites(spark):
    """Redshift JSON battery (r8, _rewrite_json_fns): array length with
    and without null_if_invalid, 0-indexed element extraction (literal
    positions only — loud otherwise), the IS_VALID_JSON /
    IS_VALID_JSON_ARRAY split (objects vs arrays), and SPLIT_TO_ARRAY's
    literal-delimiter contract (a '.' must NOT act as a regex)."""
    import pytest as _pytest

    from sql_redshift_etl_spark.functions.redshift_sql import (
        run_redshift_sql,
        translate_redshift_sql,
    )

    row = run_redshift_sql(
        spark,
        """
        SELECT JSON_ARRAY_LENGTH('[1,2,3]') AS a,
               JSON_ARRAY_LENGTH('broken', true) AS b,
               JSON_EXTRACT_ARRAY_ELEMENT_TEXT('[10,20,30]', 1) AS c,
               IS_VALID_JSON('{"k":1}') AS d,
               IS_VALID_JSON('[1,2]') AS e,
               IS_VALID_JSON('nope') AS f,
               IS_VALID_JSON_ARRAY('[1,2]') AS g,
               IS_VALID_JSON_ARRAY('{"k":1}') AS h,
               SPLIT_TO_ARRAY('a.b.c', '.')[1] AS i,
               IS_VALID_JSON_ARRAY('\t[1,2]') AS j,
               IS_VALID_JSON('\n[1,2]') AS k
        """,
    ).first()
    # j/k: JSON permits leading tabs/newlines — the validity probe is a
    # regex anchor, not Spark's space-only ltrim (r8 review fix)
    assert tuple(row) == (
        3, None, "20", True, False, False, True, False, "b", True, False,
    )
    with _pytest.raises(ValueError, match="integer\\s+literal"):
        translate_redshift_sql(
            "SELECT JSON_EXTRACT_ARRAY_ELEMENT_TEXT(j, n) FROM t"
        )
    # the error-on-invalid flavor cannot be expressed leniently — loud
    with _pytest.raises(ValueError, match="error-on-invalid"):
        translate_redshift_sql("SELECT JSON_ARRAY_LENGTH(j, false) FROM t")


def test_guard_catch_keeps_variable_assignments(spark):
    """plpgsql does NOT roll back variable assignments when a handler
    catches — only database state. The guard snapshot/restore covers
    bindings; scope variables keep their pre-error values (including
    ones assigned INSIDE the failed block, up to the failure point)."""
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    out = run_redshift_script(
        spark,
        """
        CREATE TEMP TABLE vg (tag VARCHAR(10), v INT);
        CREATE PROCEDURE p() AS $$
        DECLARE x INT := 1;
        BEGIN
            BEGIN
                x := x + 10;
                INSERT INTO vg VALUES ('gone', 0);
                RAISE EXCEPTION 'boom';
            EXCEPTION WHEN OTHERS THEN
                INSERT INTO vg VALUES ('kept', x);
            END;
        END;
        $$ LANGUAGE plpgsql;
        CALL p();
        SELECT tag, v FROM vg;
        """,
    )
    # the INSERT rolled back; the x := 11 assignment did not
    assert [tuple(r) for r in out.collect()] == [("kept", 11)]


def test_substring_cut_semantics_and_hashed_parity(spark):
    """Span cutting (r8): on a planted fixture the shared 9-token run
    disappears from BOTH docs (both inclusive window extents), an
    unflagged doc passes through verbatim, and a fully-duplicated doc
    comes back empty; the xxhash64 scale path is byte-identical to the
    text-key form on the real fixtures."""
    from sql_redshift_etl_spark.catalog import load_table
    from sql_redshift_etl_spark.llm.dedup import substring_cut_df

    shared = " ".join(f"s{i}" for i in range(9))  # 9-token run: 2 windows at k=8
    d = spark.createDataFrame(
        [
            (1, f"a0 a1 a2 {shared} z0 z1"),
            (2, f"b0 {shared} y0 y1 y2 y3"),
            (3, "c0 c1 c2 c3 c4 c5 c6 c7 c8 c9"),  # unique, >= k tokens
            (4, shared),  # nothing but the shared run
            (5, shared),
        ],
        "doc_id INT, text STRING",
    )
    got = {r.doc_id: (r.n_tok, r.kept_tokens, r.cut_text) for r in substring_cut_df(d).collect()}
    assert got[1] == (14, 5, "a0 a1 a2 z0 z1")
    assert got[2] == (14, 5, "b0 y0 y1 y2 y3")
    assert got[3] == (10, 10, "c0 c1 c2 c3 c4 c5 c6 c7 c8 c9")
    assert got[4] == (9, 0, "") and got[5] == (9, 0, "")
    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    t = sorted(map(tuple, substring_cut_df(docs, hashed=False).collect()))
    h = sorted(map(tuple, substring_cut_df(docs, hashed=True).collect()))
    assert t == h and len(t) > 0


def test_substring_incremental_matches_full_restricted(spark):
    """Incremental span dedup ≡ the from-scratch run restricted to the
    delta docs (the window-duplication predicate coincides for delta
    rows by construction), in both the text-key and hashed-key forms."""
    from sql_redshift_etl_spark.catalog import load_table
    from sql_redshift_etl_spark.llm.dedup import (
        substring_spans_df,
        substring_spans_incremental_df,
    )
    from pyspark.sql import functions as F

    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    corpus = docs.where(F.col("doc_id") % 10 != 0)
    delta = docs.where(F.col("doc_id") % 10 == 0)
    for hashed in (False, True):
        inc = sorted(
            map(tuple, substring_spans_incremental_df(corpus, delta, hashed=hashed).collect())
        )
        full = sorted(
            map(
                tuple,
                substring_spans_df(docs, hashed=hashed)
                .where(F.col("doc_id") % 10 == 0)
                .select("doc_id", "n_dup_windows", "n_spans", "dup_tokens")
                .collect(),
            )
        )
        assert inc == full and len(inc) > 0


def test_sqlstate_cast_overflow_is_22003(spark):
    """A cast that overflows its target reports 22003 (numeric out of
    range — what Postgres/Redshift raise for 'integer out of range'),
    not 22018 (r8 review fix)."""
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    out = run_redshift_script(
        spark,
        """
        CREATE TEMP TABLE st_of (code VARCHAR(10));
        CREATE PROCEDURE p() AS $$
        DECLARE x INT;
        BEGIN
            BEGIN
                SELECT INTO x CAST(3000000000 AS INT);
            EXCEPTION WHEN OTHERS THEN
                INSERT INTO st_of VALUES (SQLSTATE);
            END;
        END;
        $$ LANGUAGE plpgsql;
        CALL p();
        SELECT * FROM st_of;
        """,
    )
    assert [r[0] for r in out.collect()] == ["22003"]


def test_nested_inout_call_writes_back_and_returns_nothing(spark):
    """A nested CALL with an INOUT argument that is a caller variable
    writes the final value back into it (plpgsql's by-reference
    contract) and does NOT leak its row as the script result — only the
    top-level CALL's INOUT row surfaces (r8 review fix)."""
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    out = run_redshift_script(
        spark,
        """
        CREATE TEMP TABLE got_nio (v INT);
        CREATE PROCEDURE bump(INOUT n INT) AS $$
        BEGIN
            n := n + 10;
        END;
        $$ LANGUAGE plpgsql;
        CREATE PROCEDURE outerp() AS $$
        DECLARE x INT := 5;
        BEGIN
            CALL bump(x);
            CALL bump(x);
            INSERT INTO got_nio VALUES (x);
        END;
        $$ LANGUAGE plpgsql;
        CALL outerp();
        SELECT * FROM got_nio;
        """,
    )
    # write-back applied twice; the script result is the final SELECT,
    # not bump's leaked INOUT row
    assert [tuple(r) for r in out.collect()] == [(25,)]


def test_guard_catch_closes_reopened_cursor(spark):
    """A cursor open at guard entry that is CLOSEd and re-OPENed inside
    the aborted block holds rows buffered from rolled-back state — the
    catch must close it (identity check, not name check; r8 review
    fix). The handler's FETCH is loud."""
    import pytest as _pytest

    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    with _pytest.raises(ValueError, match="not open"):
        run_redshift_script(
            spark,
            """
            CREATE TEMP TABLE src_ro (v INT);
            INSERT INTO src_ro VALUES (1);
            CREATE PROCEDURE p() AS $$
            DECLARE
                c CURSOR FOR SELECT v FROM src_ro;
                x INT;
            BEGIN
                OPEN c;
                BEGIN
                    CLOSE c;
                    INSERT INTO src_ro VALUES (99);
                    OPEN c;
                    RAISE EXCEPTION 'boom';
                EXCEPTION WHEN OTHERS THEN
                    FETCH c INTO x;
                END;
            END;
            $$ LANGUAGE plpgsql;
            CALL p();
            """,
        )


def test_nested_inout_non_variable_argument_is_loud(spark):
    """Inside a procedure, an INOUT argument that is not a declared
    variable has nowhere to receive the result — plpgsql rejects it,
    and so does the runner (top-level CALLs still accept constants:
    Redshift surfaces their row as the CALL result)."""
    import pytest as _pytest

    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    with _pytest.raises(ValueError, match="must be a declared variable"):
        run_redshift_script(
            spark,
            """
            CREATE PROCEDURE bump2(INOUT n INT) AS $$
            BEGIN n := n + 1; END;
            $$ LANGUAGE plpgsql;
            CREATE PROCEDURE outer2() AS $$
            DECLARE y INT := 1;
            BEGIN
                CALL bump2(y + 1);
            END;
            $$ LANGUAGE plpgsql;
            CALL outer2();
            """,
        )


def test_sql_literal_backslash_roundtrip(spark):
    """r8-advice fix: _sql_literal doubles backslashes — Spark's default
    parser processes escape sequences in string literals, so a variable
    holding 'C:\\temp' must NOT gain a tab when substituted into a
    statement (the EXECUTE ... USING and INOUT paths widened this
    exposure to arbitrary runtime values)."""
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    out = run_redshift_script(
        spark,
        r"""
        CREATE PROCEDURE p() AS $$
        DECLARE path VARCHAR(40) := 'C:\\temp';
                twice VARCHAR(80);
        BEGIN
            twice := path || '|' || path;
            EXECUTE 'CREATE TEMP TABLE bs_out AS SELECT $1 AS a, $2 AS b'
                USING path, twice;
        END;
        $$ LANGUAGE plpgsql;
        CALL p();
        SELECT a, b FROM bs_out;
        """,
    )
    assert [tuple(r) for r in out.collect()] == [
        ("C:\\temp", "C:\\temp|C:\\temp")
    ]


def test_execute_using_dollar_zero_is_loud(spark):
    """r8-advice fix: $0 is collected by the placeholder scan but binds
    are 1-based — reject with the clear arity message instead of leaking
    '$0' into the final SQL."""
    import pytest as _pytest

    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    with _pytest.raises(ValueError, match=r"numbered from \$1"):
        run_redshift_script(
            spark,
            """
            CREATE PROCEDURE pz() AS $$
            DECLARE x INT := 1;
            BEGIN
                EXECUTE 'SELECT $0' USING x;
            END;
            $$ LANGUAGE plpgsql;
            CALL pz();
            """,
        )


def test_json_extract_array_element_strict_flag_is_loud():
    """r8-advice fix: the explicit error-on-invalid form (third arg
    false) raises like JSON_ARRAY_LENGTH's instead of silently becoming
    lenient; the true spelling stays accepted."""
    import pytest as _pytest

    from sql_redshift_etl_spark.functions.redshift_sql import translate_redshift_sql

    with _pytest.raises(ValueError, match="error-on-invalid"):
        translate_redshift_sql(
            "SELECT JSON_EXTRACT_ARRAY_ELEMENT_TEXT(j, 1, false) FROM t"
        )
    assert "get_json_object" in translate_redshift_sql(
        "SELECT JSON_EXTRACT_ARRAY_ELEMENT_TEXT(j, 1, true) FROM t"
    )


def test_nocycle_delimiter_in_key_values(spark):
    """r8-advice fix: NOCYCLE's ancestor-path probe escapes '|'/'~'
    inside key VALUES, so an ancestor keyed 'q|a|r' no longer fabricates
    a '|a|' frame that would mis-prune an unrelated child keyed 'a' —
    while a genuine cycle over delimiter-bearing keys still terminates."""
    from sql_redshift_etl_spark.functions.redshift_sql import run_redshift_sql

    spark.createDataFrame(
        [("q|a|r", None), ("a", "q|a|r"), ("x", "a")],
        "node STRING, parent STRING",
    ).createOrReplaceTempView("cbp_pipe")
    rows = run_redshift_sql(
        spark,
        """
        SELECT node, CAST(LEVEL AS BIGINT) AS lvl FROM cbp_pipe
        START WITH parent IS NULL CONNECT BY NOCYCLE PRIOR node = parent
        """,
    ).collect()
    assert sorted((r.node, r.lvl) for r in rows) == [
        ("a", 2), ("q|a|r", 1), ("x", 3)
    ]
    # a real cycle between delimiter-bearing keys still stops
    spark.createDataFrame(
        [("p|q", "a~b"), ("a~b", "p|q")], "node STRING, parent STRING"
    ).createOrReplaceTempView("cbp_pipe_cyc")
    rows = run_redshift_sql(
        spark,
        """
        SELECT node, CAST(LEVEL AS BIGINT) AS lvl FROM cbp_pipe_cyc
        START WITH node = 'p|q' CONNECT BY NOCYCLE PRIOR node = parent
        """,
    ).collect()
    assert sorted((r.node, r.lvl) for r in rows) == [("a~b", 2), ("p|q", 1)]


def test_nested_for_same_variable_shadows(spark):
    """r9 (found by the derandomized property battery): a nested
    ``FOR i`` REBINDS the name plpgsql-style — the inner body sees the
    inner i, the inner RANGE BOUNDS see the outer i (they evaluate in
    the enclosing scope), and a quoted 'i' is data, not a variable."""
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    out = run_redshift_script(
        spark,
        """
        CREATE TEMP TABLE nfor_out (x BIGINT, y BIGINT, tag VARCHAR(20));
        CREATE PROCEDURE prog() AS $$
        DECLARE v0 BIGINT := 0; acc BIGINT := 0; lbl VARCHAR(20) := '';
        BEGIN
            FOR i IN 1..2 LOOP
                v0 := v0 + i;
                FOR i IN 1..1 LOOP
                    v0 := v0 + i;
                    v0 := v0 + 2;
                END LOOP;
            END LOOP;
            FOR i IN 1..3 LOOP
                FOR i IN 1..i LOOP
                    acc := acc + i;
                END LOOP;
                lbl := lbl || 'i';
            END LOOP;
            INSERT INTO nfor_out VALUES (v0, acc, lbl);
        END;
        $$ LANGUAGE plpgsql;
        CALL prog();
        SELECT x, y, tag FROM nfor_out;
        """,
    )
    assert [tuple(r) for r in out.collect()] == [(9, 10, "iii")]


def test_connect_by_isleaf_semantics(spark):
    """CONNECT_BY_ISLEAF (r9): leaf-ness of the CONDITION-defined tree.
    A post-expansion WHERE LEVEL cap does NOT make capped rows leaves
    (Oracle's WHERE is a post-filter; the probe is walk-independent),
    while an IN-CONDITION LEVEL cap prunes the tree and DOES; composes
    with ROOT/PATH; ISLEAF+NOCYCLE is loud (tested in the subset
    battery)."""
    from sql_redshift_etl_spark.functions.redshift_sql import run_redshift_sql

    spark.createDataFrame(
        [(1, None), (2, 1), (3, 1), (4, 2), (5, 4)],
        "emp_id INT, mgr_id INT",
    ).createOrReplaceTempView("ilf_emp")
    rows = run_redshift_sql(
        spark,
        """
        SELECT emp_id, CAST(LEVEL AS BIGINT) AS lvl,
               CONNECT_BY_ISLEAF AS leaf,
               SYS_CONNECT_BY_PATH(emp_id, '/') AS path
        FROM ilf_emp START WITH mgr_id IS NULL
        CONNECT BY PRIOR emp_id = mgr_id
        """,
    ).collect()
    got = {r.emp_id: (r.lvl, r.leaf, r.path) for r in rows}
    assert got[1] == (1, 0, "/1")
    assert got[3] == (2, 1, "/1/3")
    assert got[4] == (3, 0, "/1/2/4")
    assert got[5] == (4, 1, "/1/2/4/5")
    # WHERE cap: emp 4 (level 3) still has a child in the TREE -> leaf 0
    rows = run_redshift_sql(
        spark,
        """
        SELECT emp_id, CONNECT_BY_ISLEAF AS leaf FROM ilf_emp
        START WITH mgr_id IS NULL CONNECT BY PRIOR emp_id = mgr_id
        WHERE LEVEL <= 3
        """,
    ).collect()
    assert {r.emp_id: r.leaf for r in rows} == {1: 0, 2: 0, 3: 1, 4: 0}
    # in-condition cap: the tree itself stops at level 2 -> 2,3 leaves
    rows = run_redshift_sql(
        spark,
        """
        SELECT emp_id, CONNECT_BY_ISLEAF AS leaf FROM ilf_emp
        START WITH mgr_id IS NULL
        CONNECT BY PRIOR emp_id = mgr_id AND LEVEL <= 2
        """,
    ).collect()
    assert {r.emp_id: r.leaf for r in rows} == {1: 0, 2: 1, 3: 1}


def test_connect_by_order_siblings(spark):
    """ORDER SIBLINGS BY (r9): exact depth-first sequence with siblings
    key-ordered — parent immediately before its (ordered) subtrees;
    composes with ISLEAF + a WHERE LEVEL cap + LIMIT passthrough; the
    loud subset rejects DESC, column lists, expressions, and LEVEL."""
    import pytest as _pytest

    from sql_redshift_etl_spark.functions.redshift_sql import run_redshift_sql

    spark.createDataFrame(
        [(1, None, "m"), (2, 1, "zz"), (3, 1, "aa"), (4, 2, "k"),
         (5, 2, "b"), (6, 3, "x")],
        "emp_id INT, mgr_id INT, nm STRING",
    ).createOrReplaceTempView("os_emp")
    rows = run_redshift_sql(
        spark,
        """
        SELECT emp_id, CAST(LEVEL AS BIGINT) AS lvl
        FROM os_emp START WITH mgr_id IS NULL
        CONNECT BY PRIOR emp_id = mgr_id
        ORDER SIBLINGS BY nm
        """,
    ).collect()
    assert [r.emp_id for r in rows] == [1, 3, 6, 2, 5, 4]
    rows = run_redshift_sql(
        spark,
        """
        SELECT emp_id, CONNECT_BY_ISLEAF AS leaf
        FROM os_emp START WITH mgr_id IS NULL
        CONNECT BY PRIOR emp_id = mgr_id
        WHERE LEVEL <= 2
        ORDER SIBLINGS BY nm LIMIT 2
        """,
    ).collect()
    assert [(r.emp_id, r.leaf) for r in rows] == [(1, 0), (3, 0)]
    # the registered customer walk's sequence: within each of the three
    # interleaved trees, children follow their parent in key order
    from sql_redshift_etl_spark.catalog import load_table
    from tests.conftest import SF_DIR

    load_table(spark, SF_DIR, "customer").createOrReplaceTempView("os_cust")
    rows = run_redshift_sql(
        spark,
        """
        SELECT c_custkey, CAST(LEVEL AS BIGINT) AS lvl
        FROM os_cust
        START WITH c_custkey IN (1, 2, 3)
        CONNECT BY PRIOR c_custkey = FLOOR(c_custkey / 10) AND LEVEL <= 3
        ORDER SIBLINGS BY c_custkey
        """,
    ).collect()
    seq = [r.c_custkey for r in rows]
    assert seq == sorted(seq, key=lambda k: tuple(_cb_key_path(k)))
    assert seq[0] == 1  # tree 1 first, then its subtree, then tree 2's
    for bad, msg in [
        ("ORDER SIBLINGS BY LEVEL", "share"),
        # an expression key must be parenthesized (the CONNECT_BY_ROOT
        # convention) — the bare call does not parse as a key
        ("ORDER SIBLINGS BY UPPER(nm)", "parenthesized"),
        ("ORDER SIBLINGS BY nm SIDEWAYS", "parenthesized"),
        ("ORDER SIBLINGS BY (PRIOR nm)", "base-table columns only"),
    ]:
        with _pytest.raises(ValueError, match=msg):
            run_redshift_sql(
                spark,
                "SELECT emp_id FROM os_emp START WITH mgr_id IS NULL "
                f"CONNECT BY PRIOR emp_id = mgr_id {bad}",
            )


def test_connect_by_order_siblings_widened(spark):
    """ORDER SIBLINGS BY widened (r10): multiple keys (key-major),
    per-key DESC (numeric — negated value; non-numeric DESC is loud
    under ANSI, never silently missorted), NULLS FIRST/LAST with
    Oracle's defaults (ASC→LAST, DESC→FIRST), and parenthesized
    expression keys via the derived-base-CTE machinery."""
    import pytest as _pytest

    from sql_redshift_etl_spark.functions.redshift_sql import run_redshift_sql

    spark.createDataFrame(
        [
            (1, None, "m", 1),
            (2, 1, "b", 2),
            (3, 1, "b", 5),
            (4, 1, "a", 9),
            (5, 2, "x", 1),
            (6, 1, None, 3),
        ],
        "emp_id INT, mgr_id INT, nm STRING, rk INT",
    ).createOrReplaceTempView("osw_emp")
    # multi-key: nm ASC then rk DESC within equal nm; NULL nm last (ASC
    # default); parent immediately before its subtree
    rows = run_redshift_sql(
        spark,
        """
        SELECT emp_id FROM osw_emp START WITH mgr_id IS NULL
        CONNECT BY PRIOR emp_id = mgr_id
        ORDER SIBLINGS BY nm, rk DESC
        """,
    ).collect()
    # root 1; children by (nm asc, rk desc): 4(a,9), 3(b,5), 2(b,2)
    # [2's child 5 follows 2], 6(NULL nm → last)
    assert [r.emp_id for r in rows] == [1, 4, 3, 2, 5, 6]
    # DESC numeric + its NULLS FIRST default vs explicit NULLS LAST
    spark.createDataFrame(
        [(1, None, 10), (2, 1, 1), (3, 1, 7), (4, 1, None)],
        "emp_id INT, mgr_id INT, rk INT",
    ).createOrReplaceTempView("osw_rk")
    base = (
        "SELECT emp_id FROM osw_rk START WITH mgr_id IS NULL "
        "CONNECT BY PRIOR emp_id = mgr_id ORDER SIBLINGS BY rk DESC"
    )
    assert [r.emp_id for r in run_redshift_sql(spark, base).collect()] == [1, 4, 3, 2]
    assert [
        r.emp_id for r in run_redshift_sql(spark, base + " NULLS LAST").collect()
    ] == [1, 3, 2, 4]
    # ASC NULLS FIRST override
    assert [
        r.emp_id
        for r in run_redshift_sql(
            spark,
            "SELECT emp_id FROM osw_rk START WITH mgr_id IS NULL "
            "CONNECT BY PRIOR emp_id = mgr_id "
            "ORDER SIBLINGS BY rk ASC NULLS FIRST",
        ).collect()
    ] == [1, 4, 2, 3]
    # parenthesized expression key + LIMIT passthrough
    assert [
        r.emp_id
        for r in run_redshift_sql(
            spark,
            "SELECT emp_id FROM osw_rk START WITH mgr_id IS NULL "
            "CONNECT BY PRIOR emp_id = mgr_id "
            "ORDER SIBLINGS BY (10 - rk) LIMIT 3",
        ).collect()
    ] == [1, 3, 2]  # (10-rk) asc = rk desc, NULL (10-rk) last, cap 3
    # DESC on a STRING key: loud (ANSI rejects the negation), not a
    # silent missort
    with _pytest.raises(Exception, match="(?i)cast|double|minus"):
        run_redshift_sql(
            spark,
            "SELECT emp_id FROM osw_emp START WITH mgr_id IS NULL "
            "CONNECT BY PRIOR emp_id = mgr_id ORDER SIBLINGS BY nm DESC",
        ).collect()
    # the REGISTERED multi-key walk (segment ASC, custkey DESC): every
    # parent precedes its children, and any two siblings appear in
    # multi-key order — the sequence property the order-insensitive
    # driver hash cannot see
    from sql_redshift_etl_spark.plans.registry import all_queries
    from tests.conftest import SF_DIR

    rows = (
        all_queries()["redshift_sql_order_siblings_multi"]
        .builder(spark, SF_DIR)
        .collect()
    )
    pos = {r.c_custkey: i for i, r in enumerate(rows)}
    seg = {r.c_custkey: r.seg for r in rows}
    assert len(pos) == len(rows) > 3
    by_parent: dict[int, list[int]] = {}
    for k in pos:
        parent = k // 10
        if parent in pos and parent != k:
            assert pos[parent] < pos[k], f"parent {parent} after child {k}"
            by_parent.setdefault(parent, []).append(k)
    checked = 0
    for kids in by_parent.values():
        for a in kids:
            for b in kids:
                if a != b and pos[a] < pos[b]:
                    assert (seg[a], -a) <= (seg[b], -b), (
                        f"siblings misordered: {a}({seg[a]}) before {b}({seg[b]})"
                    )
                    checked += 1
    assert checked > 0, "walk produced no sibling pairs to check"


def test_plpgsql_nested_declare_blocks(spark):
    """Nested DECLARE ... BEGIN ... END sub-blocks (r9): inner scalars
    shadow same-name outer variables and un-shadow on EVERY exit path
    (normal, EXIT, caught error); defaults re-evaluate at each entry
    with earlier inner vars visible and a shadowing default seeing the
    OUTER value; assignments to non-declared outer variables persist;
    a block's own handler sees its variables; nested cursors stay loud."""
    import pytest as _pytest

    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    out = run_redshift_script(
        spark,
        """
        CREATE TEMP TABLE blk_out (tag VARCHAR(12), v BIGINT);
        CREATE PROCEDURE p1() AS $$
        DECLARE x BIGINT := 1; y BIGINT := 10;
        BEGIN
            DECLARE x BIGINT := 100; z BIGINT := x + 7;
            BEGIN
                INSERT INTO blk_out VALUES ('inner_x', x);
                INSERT INTO blk_out VALUES ('inner_z', z);
                y := y + x;
            END;
            INSERT INTO blk_out VALUES ('outer_x', x);
            INSERT INTO blk_out VALUES ('outer_y', y);
        END;
        $$ LANGUAGE plpgsql;
        CALL p1();
        SELECT tag, v FROM blk_out;
        """,
    )
    # z's default saw the INNER x (declared just before it); y's
    # assignment inside the block targeted the outer variable
    assert sorted(tuple(r) for r in out.collect()) == [
        ("inner_x", 100), ("inner_z", 107), ("outer_x", 1), ("outer_y", 110),
    ]
    out = run_redshift_script(
        spark,
        """
        CREATE TEMP TABLE blk2 (i BIGINT, v BIGINT);
        CREATE PROCEDURE p2() AS $$
        DECLARE a BIGINT := 5;
        BEGIN
            FOR i IN 1..3 LOOP
                DECLARE a BIGINT := a * 10;
                BEGIN
                    a := a + i;
                    INSERT INTO blk2 VALUES (i, a);
                END;
            END LOOP;
        END;
        $$ LANGUAGE plpgsql;
        CALL p2();
        SELECT i, v FROM blk2;
        """,
    )
    # the shadowing default reads the OUTER a (5) at EACH entry — the
    # per-iteration a never compounds (51, 52, 53; not 51, 521, ...)
    assert sorted(tuple(r) for r in out.collect()) == [(1, 51), (2, 52), (3, 53)]
    out = run_redshift_script(
        spark,
        """
        CREATE TEMP TABLE blk3 (tag VARCHAR(12), v BIGINT);
        CREATE PROCEDURE p3() AS $$
        DECLARE w BIGINT := 7;
        BEGIN
            WHILE TRUE LOOP
                DECLARE w BIGINT := 99;
                BEGIN
                    EXIT;
                END;
            END LOOP;
            INSERT INTO blk3 VALUES ('after_exit', w);
            BEGIN
                DECLARE w BIGINT := 55;
                BEGIN
                    INSERT INTO blk3 VALUES ('pre_err', w);
                    RAISE EXCEPTION 'boom';
                END;
            EXCEPTION WHEN OTHERS THEN
                INSERT INTO blk3 VALUES ('handler', w);
            END;
            DECLARE w BIGINT := 42;
            BEGIN
                RAISE EXCEPTION 'x';
            EXCEPTION WHEN OTHERS THEN
                INSERT INTO blk3 VALUES ('own_handler', w);
            END;
        END;
        $$ LANGUAGE plpgsql;
        CALL p3();
        SELECT tag, v FROM blk3;
        """,
    )
    # EXIT un-shadows; a caught error rolls the block's INSERT back
    # (plpgsql's aborted-block contract — no 'pre_err' row) and the
    # OUTER handler sees the un-shadowed w; a block's OWN handler still
    # sees its variables (42)
    assert sorted(tuple(r) for r in out.collect()) == [
        ("after_exit", 7), ("handler", 7), ("own_handler", 42),
    ]
    with _pytest.raises(ValueError, match="scalar variables only"):
        run_redshift_script(
            spark,
            """
            CREATE TEMP TABLE blk4 (v BIGINT);
            CREATE PROCEDURE p4() AS $$
            BEGIN
                DECLARE c CURSOR FOR SELECT 1;
                BEGIN
                    INSERT INTO blk4 VALUES (1);
                END;
            END;
            $$ LANGUAGE plpgsql;
            CALL p4();
            """,
        )
    with _pytest.raises(ValueError, match="DECLARE without a following BEGIN"):
        run_redshift_script(
            spark,
            """
            CREATE PROCEDURE p5() AS $$
            BEGIN
                DECLARE q BIGINT := 1;
                SELECT 1;
            END;
            $$ LANGUAGE plpgsql;
            CALL p5();
            """,
        )
    # r9 review: a default that raises mid-section must NOT leak the
    # already-applied shadows past an outer catch
    out = run_redshift_script(
        spark,
        """
        CREATE TEMP TABLE blk5 (tag VARCHAR(12), v BIGINT);
        CREATE PROCEDURE p6() AS $$
        DECLARE x BIGINT := 1;
        BEGIN
            BEGIN
                DECLARE x BIGINT := 100; y BIGINT := CAST('boom' AS BIGINT);
                BEGIN
                    INSERT INTO blk5 VALUES ('unreached', x);
                END;
            EXCEPTION WHEN OTHERS THEN
                INSERT INTO blk5 VALUES ('handler_x', x);
            END;
            INSERT INTO blk5 VALUES ('after_x', x);
        END;
        $$ LANGUAGE plpgsql;
        CALL p6();
        SELECT tag, v FROM blk5;
        """,
    )
    assert sorted(tuple(r) for r in out.collect()) == [
        ("after_x", 1), ("handler_x", 1),
    ]
    # r9 review: a statement between DECLARE and a LATER BEGIN is loud,
    # never silently swallowed as a "declaration"
    with _pytest.raises(ValueError, match="only declarations may appear"):
        run_redshift_script(
            spark,
            """
            CREATE TEMP TABLE blk6 (v BIGINT);
            CREATE PROCEDURE p7() AS $$
            BEGIN
                DECLARE q BIGINT := 1;
                INSERT INTO blk6 VALUES (41);
                BEGIN
                    INSERT INTO blk6 VALUES (q);
                END;
            END;
            $$ LANGUAGE plpgsql;
            CALL p7();
            """,
        )
    # r9 review: duplicate declarations in one section are loud
    # (plpgsql's own rule — last-wins would mask the authoring error)
    with _pytest.raises(ValueError, match="duplicate declaration"):
        run_redshift_script(
            spark,
            """
            CREATE PROCEDURE p8() AS $$
            DECLARE a BIGINT := 1; a BIGINT := 2;
            BEGIN
                RETURN;
            END;
            $$ LANGUAGE plpgsql;
            CALL p8();
            """,
        )


def test_plpythonu_udf_semantics(spark):
    """LANGUAGE plpythonu (r9): the $$ body compiles once at CREATE into
    a scalar Python function registered as an Arrow-batched pandas UDF.
    Pins Redshift's data contract (NULL -> None in, None -> NULL out),
    within-script DROP (tombstone raises at evaluation), transaction
    ROLLBACK (a function created in the txn disappears; a REPLACED one
    reverts to its BEGIN-time body), and the loud subset (unnamed
    params, unsupported types/languages, syntax errors at CREATE)."""
    import pytest as _pytest

    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    spark.createDataFrame(
        [(1.0, "a"), (2.0, None), (None, "c")], "x DOUBLE, s STRING"
    ).createOrReplaceTempView("pyu_t")
    out = run_redshift_script(
        spark,
        """
        CREATE OR REPLACE FUNCTION f_probe(x FLOAT, s VARCHAR)
        RETURNS VARCHAR AS $$
            if x is None:
                return None
            return ('?' if s is None else s) + str(int(x))
        $$ LANGUAGE plpythonu;
        SELECT f_probe(x, s) AS y FROM pyu_t;
        """,
    )
    assert sorted(r.y for r in out.collect() if r.y is not None) == ["?2", "a1"]
    assert sum(1 for r in out.collect() if r.y is None) == 1
    # within-script DROP -> calls are loud at evaluation, never stale
    with _pytest.raises(Exception, match="does not exist"):
        run_redshift_script(
            spark,
            """
            CREATE FUNCTION f_gone(x FLOAT) RETURNS BIGINT AS $$
                return int(x)
            $$ LANGUAGE plpythonu;
            DROP FUNCTION f_gone;
            SELECT f_gone(x) AS y FROM pyu_t;
            """,
        ).collect()
    # ROLLBACK: created-in-txn disappears; replaced-in-txn reverts
    with _pytest.raises(Exception, match="does not exist"):
        run_redshift_script(
            spark,
            """
            BEGIN;
            CREATE FUNCTION f_txn(x FLOAT) RETURNS BIGINT AS $$
                return int(x) * 7
            $$ LANGUAGE plpythonu;
            ROLLBACK;
            SELECT f_txn(x) AS y FROM pyu_t;
            """,
        ).collect()
    out = run_redshift_script(
        spark,
        """
        CREATE FUNCTION f_keep(x FLOAT) RETURNS BIGINT AS $$
            return int(x) + 100
        $$ LANGUAGE plpythonu;
        BEGIN;
        CREATE OR REPLACE FUNCTION f_keep(x FLOAT) RETURNS BIGINT AS $$
            return int(x) + 900
        $$ LANGUAGE plpythonu;
        ROLLBACK;
        SELECT f_keep(x) AS y FROM pyu_t WHERE x IS NOT NULL;
        """,
    )
    assert sorted(r.y for r in out.collect()) == [101, 102]
    # r9 review: a plpythonu fn REPLACED by a SQL UDF and then DROPped
    # must not leave the stale Python registration reachable
    with _pytest.raises(Exception, match="does not exist"):
        run_redshift_script(
            spark,
            """
            CREATE FUNCTION f_swap(x FLOAT) RETURNS DOUBLE AS $$
                return x * 2
            $$ LANGUAGE plpythonu;
            CREATE OR REPLACE FUNCTION f_swap(x FLOAT) RETURNS FLOAT8 AS $$
                SELECT x * 3
            $$ LANGUAGE sql;
            DROP FUNCTION f_swap;
            SELECT f_swap(x) AS y FROM pyu_t;
            """,
        ).collect()
    # r9 review: integer args keep integer-ness even in NULL-bearing
    # Arrow batches (pandas coerces nullable int64 to float64; the
    # declared-type coercer undoes it before the body runs)
    spark.createDataFrame(
        [(1,), (2,), (None,)], "k BIGINT"
    ).coalesce(1).createOrReplaceTempView("pyu_int")
    out = run_redshift_script(
        spark,
        """
        CREATE FUNCTION f_repr(k BIGINT) RETURNS VARCHAR AS $$
            return None if k is None else repr(k)
        $$ LANGUAGE plpythonu;
        SELECT f_repr(k) AS y FROM pyu_int;
        """,
    )
    assert sorted(r.y for r in out.collect() if r.y is not None) == ["1", "2"]
    # r9 review: SQL identifiers are case-insensitive — DROP under a
    # different case finds the function and tombstones it
    with _pytest.raises(Exception, match="does not exist"):
        run_redshift_script(
            spark,
            """
            CREATE FUNCTION F_Case(x FLOAT) RETURNS BIGINT AS $$
                return int(x)
            $$ LANGUAGE plpythonu;
            DROP FUNCTION f_case;
            SELECT F_CASE(x) AS y FROM pyu_t;
            """,
        ).collect()
    for script, frag in [
        (
            "CREATE FUNCTION f_bad(FLOAT) RETURNS BIGINT AS $$\n"
            " return 1\n$$ LANGUAGE plpythonu;",
            "must be NAMED",
        ),
        (
            # r9 review: an unsupported PARAMETER type is as loud as an
            # unsupported RETURNS type
            "CREATE FUNCTION f_bad(x SUPER) RETURNS BIGINT AS $$\n"
            " return 1\n$$ LANGUAGE plpythonu;",
            "outside the supported subset",
        ),
        (
            "CREATE FUNCTION f_bad(x SUPER) RETURNS SUPER AS $$\n"
            " return x\n$$ LANGUAGE plpythonu;",
            "outside the supported subset",
        ),
        (
            "CREATE FUNCTION f_bad(x FLOAT) RETURNS BIGINT AS $$\n"
            " return (\n$$ LANGUAGE plpythonu;",
            "does not compile",
        ),
        (
            "CREATE FUNCTION f_bad(x FLOAT) RETURNS BIGINT AS "
            "$$ return 1 $$ LANGUAGE plperl;",
            "unsupported",
        ),
        (
            # Lambda UDFs call AWS Lambda — environment exclusion, seamed
            "CREATE EXTERNAL FUNCTION f_ext(a INT) RETURNS INT "
            "LAMBDA 'fn' IAM_ROLE 'r';",
            "Lambda",
        ),
    ]:
        with _pytest.raises(ValueError, match=frag):
            run_redshift_script(spark, script)


def test_plpythonu_nan_vs_null_and_script_scope(spark):
    """r9 ADVICE fixes, pinned fails-before:

    (1) NaN != NULL — a FLOAT8 column holding a genuine NaN (a distinct
    value from NULL in both Spark and Redshift) reaches the body as
    float('nan'), NOT None; only SQL NULL arrives as None. The Arrow
    validity bitmap carries the distinction (the earlier pandas_udf
    float64 batch conflated the two via pd.isna).

    (2) plpythonu functions are SCRIPT-scoped like SQL UDFs: after
    run_redshift_script returns, a later plain spark.sql call of the
    name is loud (Spark's udf registry is session-global; the
    end-of-script tombstone closes the leak), while the script's OWN
    returned DataFrame still evaluates (eager analysis captured the
    real function before descoping)."""
    import pytest as _pytest

    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    spark.createDataFrame(
        [(1, 2.5), (2, float("nan")), (3, None)], "id BIGINT, x DOUBLE"
    ).createOrReplaceTempView("pyu_nan")
    out = run_redshift_script(
        spark,
        """
        CREATE FUNCTION f_kind(x FLOAT8) RETURNS VARCHAR AS $$
            if x is None:
                return 'null'
            if x != x:
                return 'nan'
            return 'val'
        $$ LANGUAGE plpythonu;
        SELECT id, f_kind(x) AS kind FROM pyu_nan;
        """,
    )
    # collect AFTER the script ended — (2)'s capture guarantee
    got = {r.id: r.kind for r in out.collect()}
    assert got == {1: "val", 2: "nan", 3: "null"}
    # (2) the name is descoped for everything after the script
    with _pytest.raises(Exception, match="does not exist"):
        spark.sql("SELECT f_kind(CAST(1.0 AS DOUBLE)) AS y").collect()
    # a LATER script that never created it must not see it either
    with _pytest.raises(Exception, match="does not exist"):
        run_redshift_script(
            spark, "SELECT f_kind(CAST(1.0 AS DOUBLE)) AS y;"
        ).collect()


def test_plpythonu_declared_type_coercion(spark):
    """r10 review (fails-before): Spark passes a UDF the column's own
    Python value — decimal.Decimal for DECIMAL, int for BIGINT — but
    Redshift's plpythonu contract converts arguments to the DECLARED
    type (decimal → float). A DECIMAL column bound to a FLOAT8
    parameter must reach the body as float (the Arrow rewrite briefly
    dropped this and `x * 0.1` crashed on Decimal); an INT column bound
    to FLOAT8 arrives as float; NULL still passes as None and a real
    NaN still survives (float(nan) is nan — the coercion cannot undo
    the NaN≠NULL fix)."""
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    spark.sql(
        "SELECT * FROM VALUES "
        "(1, CAST(12.50 AS DECIMAL(10,2)), 7), "
        "(2, CAST(0.25 AS DECIMAL(10,2)), 8), "
        "(3, CAST(NULL AS DECIMAL(10,2)), NULL) "
        "AS t(id, dec_val, int_val)"
    ).createOrReplaceTempView("pyu_dec")
    out = run_redshift_script(
        spark,
        """
        CREATE FUNCTION f_scale(x FLOAT8, y FLOAT8) RETURNS VARCHAR AS $$
            if x is None:
                return 'null'
            return type(x).__name__ + ':' + str(x * 0.1) \
                + '/' + type(y).__name__
        $$ LANGUAGE plpythonu;
        SELECT id, f_scale(dec_val, int_val) AS r FROM pyu_dec;
        """,
    )
    got = {r.id: r.r for r in out.collect()}
    assert got[1] == "float:1.25/float"
    assert got[2] == "float:0.025/float"
    assert got[3] == "null"


def test_plpythonu_date_timestamp_types(spark):
    """plpythonu temporal types (r10, verdict r9 item 5b): DATE and
    TIMESTAMP[TZ] work as BOTH parameter and RETURNS types — arguments
    arrive as datetime.date / datetime.datetime (the Arrow-optimized
    evaluator's native conversion), returned Python temporals become
    SQL values, and None round-trips as NULL."""
    import datetime as _dt

    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    spark.createDataFrame(
        [
            (1, _dt.date(2024, 2, 28), _dt.datetime(2024, 2, 28, 23, 30, 0)),
            (2, _dt.date(2024, 12, 31), _dt.datetime(2024, 12, 31, 1, 2, 3)),
            (3, None, None),
        ],
        "id BIGINT, d DATE, ts TIMESTAMP",
    ).createOrReplaceTempView("pyu_dt")
    out = run_redshift_script(
        spark,
        """
        CREATE FUNCTION f_next_day(d DATE) RETURNS DATE AS $$
            import datetime
            return None if d is None else d + datetime.timedelta(days=1)
        $$ LANGUAGE plpythonu;
        CREATE FUNCTION f_trunc_hour(ts TIMESTAMP) RETURNS TIMESTAMP AS $$
            return None if ts is None else ts.replace(minute=0, second=0)
        $$ LANGUAGE plpythonu;
        CREATE FUNCTION f_dt_kind(d DATE, ts TIMESTAMPTZ) RETURNS VARCHAR AS $$
            if d is None:
                return 'null'
            return type(d).__name__ + '/' + type(ts).__name__
        $$ LANGUAGE plpythonu;
        SELECT id, f_next_day(d) AS d1, f_trunc_hour(ts) AS ts1,
               f_dt_kind(d, ts) AS kind
        FROM pyu_dt;
        """,
    )
    got = {r.id: (r.d1, r.ts1, r.kind) for r in out.collect()}
    assert got[1] == (
        _dt.date(2024, 2, 29),  # leap-day rollover, computed in Python
        _dt.datetime(2024, 2, 28, 23, 0, 0),
        "date/datetime",
    )
    assert got[2][0] == _dt.date(2025, 1, 1)
    assert got[3] == (None, None, "null")


def test_connect_by_iscycle_semantics(spark):
    """CONNECT_BY_ISCYCLE (r9 — the last CONNECT BY pseudo-column):
    requires NOCYCLE (Oracle's ORA-30007 contract, tested in the loud
    battery); = 1 exactly where the walk pruned a child as its own
    ancestor-or-self. Composes with ISLEAF under NOCYCLE: a row whose
    every condition-child was cycle-pruned cannot be further expanded,
    so it IS a leaf of the returned tree — while a pruned-child row
    with another live child is neither leaf nor done."""
    from sql_redshift_etl_spark.functions.redshift_sql import run_redshift_sql

    # ring 1->2->3->1 (children of p = rows with pid = p), tail 4->5
    # under 1, and a SELF-loop at 6 (child of 6 is 6)
    spark.createDataFrame(
        [(1, 3), (2, 1), (3, 2), (4, 1), (5, 4), (6, 6)],
        "id INT, pid INT",
    ).createOrReplaceTempView("icy_t")
    rows = run_redshift_sql(
        spark,
        """
        SELECT id, CAST(LEVEL AS BIGINT) AS lvl,
               CAST(CONNECT_BY_ISCYCLE AS BIGINT) AS cyc,
               CAST(CONNECT_BY_ISLEAF AS BIGINT) AS leaf,
               SYS_CONNECT_BY_PATH(id, '/') AS p
        FROM icy_t
        START WITH id = 1
        CONNECT BY NOCYCLE PRIOR id = pid
        """,
    ).collect()
    got = {r.p: (r.id, r.lvl, r.cyc, r.leaf) for r in rows}
    assert got == {
        "/1": (1, 1, 0, 0),
        "/1/2": (2, 2, 0, 0),
        "/1/2/3": (3, 3, 1, 1),  # only child (1) is an ancestor: cycle+leaf
        "/1/4": (4, 2, 0, 0),
        "/1/4/5": (5, 3, 0, 1),  # genuine leaf, no cycle
    }
    # self-loop: the root itself is its own pruned child (instr sees the
    # row's own key frame) — ISCYCLE=1, ISLEAF=1 at level 1
    rows = run_redshift_sql(
        spark,
        """
        SELECT id, CAST(CONNECT_BY_ISCYCLE AS BIGINT) AS cyc,
               CAST(CONNECT_BY_ISLEAF AS BIGINT) AS leaf
        FROM icy_t START WITH id = 6 CONNECT BY NOCYCLE PRIOR id = pid
        """,
    ).collect()
    assert [(r.id, r.cyc, r.leaf) for r in rows] == [(6, 1, 1)]
    # a pruned child does NOT make the parent a leaf when a live sibling
    # child exists: 1's children are {2 (live), 4 (live)}; walk from 2:
    # 2 -> ... -> 1 has children {2: pruned, 4: live} -> cyc=1, leaf=0
    rows = run_redshift_sql(
        spark,
        """
        SELECT id, CAST(LEVEL AS BIGINT) AS lvl,
               CAST(CONNECT_BY_ISCYCLE AS BIGINT) AS cyc,
               CAST(CONNECT_BY_ISLEAF AS BIGINT) AS leaf
        FROM icy_t START WITH id = 2 CONNECT BY NOCYCLE PRIOR id = pid
        """,
    ).collect()
    got2 = {r.id: (r.lvl, r.cyc, r.leaf) for r in rows}
    assert got2[2] == (1, 0, 0) and got2[3] == (2, 0, 0)
    assert got2[1] == (3, 1, 0)  # pruned child 2, live child 4
    assert got2[4] == (4, 0, 0) and got2[5] == (5, 0, 1)


def test_connect_by_expression_pseudo_args(spark):
    """Expression arguments to CONNECT_BY_ROOT / SYS_CONNECT_BY_PATH
    (r9): parenthesized expressions over base-table columns precompute
    row-locally in a derived base CTE and carry like simple columns —
    ROOT evaluates at the tree's root row, PATH per row along the walk;
    textually identical expressions share one derived column; PRIOR /
    LEVEL / nested pseudo-columns inside are loud (loud battery)."""
    from sql_redshift_etl_spark.functions.redshift_sql import run_redshift_sql

    spark.createDataFrame(
        [(1, None, "ceo"), (2, 1, "cfo"), (3, 1, "cto"), (4, 3, "eng")],
        "emp_id INT, mgr_id INT, nm STRING",
    ).createOrReplaceTempView("xpr_emp")
    rows = run_redshift_sql(
        spark,
        """
        SELECT emp_id, CAST(LEVEL AS BIGINT) AS lvl,
               CONNECT_BY_ROOT(UPPER(nm)) AS root_nm,
               CONNECT_BY_ROOT(emp_id * 10 + LENGTH(nm)) AS root_code,
               SYS_CONNECT_BY_PATH(CONCAT(nm, ':', emp_id), '>') AS np
        FROM xpr_emp
        START WITH mgr_id IS NULL
        CONNECT BY PRIOR emp_id = mgr_id
        """,
    ).collect()
    got = {r.emp_id: (r.lvl, r.root_nm, r.root_code, r.np) for r in rows}
    assert got[1] == (1, "CEO", 13, ">ceo:1")
    assert got[2] == (2, "CEO", 13, ">ceo:1>cfo:2")
    assert got[4] == (3, "CEO", 13, ">ceo:1>cto:3>eng:4")
    # identical expression in ROOT and PATH shares ONE derived column;
    # the mixed simple-column form still works alongside
    sql = """
        SELECT emp_id, CONNECT_BY_ROOT(UPPER(nm)) AS a,
               SYS_CONNECT_BY_PATH(UPPER(nm), '/') AS b,
               CONNECT_BY_ROOT nm AS c
        FROM xpr_emp START WITH mgr_id IS NULL
        CONNECT BY PRIOR emp_id = mgr_id
    """
    from sql_redshift_etl_spark.functions.redshift_sql import (
        translate_redshift_sql,
    )
    assert translate_redshift_sql(sql).count("AS __cbx_") == 1
    got = {r.emp_id: (r.a, r.b, r.c) for r in run_redshift_sql(spark, sql).collect()}
    assert got[4] == ("CEO", "/CEO/CTO/ENG", "ceo")


def _cb_key_path(k: int) -> list[int]:
    """Root-to-row key chain for the FLOOR(k/10) = PRIOR k hierarchy —
    the independent Python model of the carried sort array."""
    path = [k]
    while path[0] > 9:
        path.insert(0, path[0] // 10)
    return path


def test_nested_record_for_same_variable_shadows(spark):
    """r9 review: the record-FOR (``FOR r IN <query>``) substitution is
    shadow-aware like the range-FOR's — a nested same-name loop owns
    ``r.field`` inside its body, while the nested loop's CONTROL QUERY
    still sees the outer record (enclosing scope)."""
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    out = run_redshift_script(
        spark,
        """
        CREATE TEMP TABLE rf_src (k INT, v INT);
        INSERT INTO rf_src VALUES (1, 10), (2, 20);
        CREATE TEMP TABLE rf_out (outer_k INT, inner_k INT, inner_v INT);
        CREATE PROCEDURE walk() AS $$
        BEGIN
            FOR r IN SELECT k, v FROM rf_src ORDER BY k LOOP
                FOR r IN SELECT k AS k, v + r.k AS v FROM rf_src
                         WHERE k != r.k ORDER BY k LOOP
                    INSERT INTO rf_out VALUES (0, r.k, r.v);
                END LOOP;
            END LOOP;
        END;
        $$ LANGUAGE plpgsql;
        CALL walk();
        SELECT outer_k, inner_k, inner_v FROM rf_out ORDER BY inner_k, inner_v;
        """,
    )
    # outer r=(1,10): inner query (k!=1, v+1) -> row (2,21); outer
    # r=(2,20): inner query (k!=2, v+2) -> row (1,12). The inner body's
    # r.k/r.v must be the INNER rows — the pre-fix engine substituted
    # the outer record's values there.
    assert [tuple(r) for r in out.collect()] == [(0, 1, 12), (0, 2, 21)]


def test_nocycle_empty_and_sentinel_key_values(spark):
    """r9 review: a '' key renders as '!e' (never an empty frame
    component whose '||' would match every frame junction) and NULL as
    '!n' (no literal-'<null>' collision) — a 3-deep chain through an
    empty-keyed node walks fully, and a value that IS the old sentinel
    text is not treated as NULL."""
    from sql_redshift_etl_spark.functions.redshift_sql import run_redshift_sql

    spark.createDataFrame(
        [("r1", None), ("", "r1"), ("leaf", "")],
        "node STRING, parent STRING",
    ).createOrReplaceTempView("cbp_empty")
    rows = run_redshift_sql(
        spark,
        """
        SELECT node, CAST(LEVEL AS BIGINT) AS lvl FROM cbp_empty
        START WITH parent IS NULL CONNECT BY NOCYCLE PRIOR node = parent
        """,
    ).collect()
    assert sorted((r.node, r.lvl) for r in rows) == [("", 2), ("leaf", 3), ("r1", 1)]
    spark.createDataFrame(
        [("<null>", None), ("kid", "<null>")],
        "node STRING, parent STRING",
    ).createOrReplaceTempView("cbp_sentinel")
    rows = run_redshift_sql(
        spark,
        """
        SELECT node, CAST(LEVEL AS BIGINT) AS lvl FROM cbp_sentinel
        START WITH parent IS NULL CONNECT BY NOCYCLE PRIOR node = parent
        """,
    ).collect()
    assert sorted((r.node, r.lvl) for r in rows) == [("<null>", 1), ("kid", 2)]


def test_order_siblings_null_keys_sort_last(spark):
    """r9 review: NULL sibling keys order LAST among their siblings
    (Oracle/Redshift ASC default), and the NULL-keyed sibling's subtree
    stays attached behind it."""
    from sql_redshift_etl_spark.functions.redshift_sql import run_redshift_sql

    spark.createDataFrame(
        [(1, None, "m"), (2, 1, None), (3, 1, "aa"), (4, 2, "x")],
        "emp_id INT, mgr_id INT, nm STRING",
    ).createOrReplaceTempView("osn_emp")
    rows = run_redshift_sql(
        spark,
        """
        SELECT emp_id FROM osn_emp START WITH mgr_id IS NULL
        CONNECT BY PRIOR emp_id = mgr_id
        ORDER SIBLINGS BY nm
        """,
    ).collect()
    assert [r.emp_id for r in rows] == [1, 3, 2, 4]


def test_json_flag_must_be_literal_true(spark):
    """r9 review: a NON-LITERAL null_if_invalid flag cannot be resolved
    at rewrite time — dropping it would silently pick the lenient
    branch, so anything but the literal true is loud for BOTH JSON
    functions; the true spelling still works end-to-end."""
    import pytest as _pytest

    from sql_redshift_etl_spark.functions.redshift_sql import (
        run_redshift_sql,
        translate_redshift_sql,
    )

    for bad in (
        "SELECT JSON_ARRAY_LENGTH(j, flagcol) FROM t",
        "SELECT JSON_ARRAY_LENGTH(j, CAST(FALSE AS BOOLEAN)) FROM t",
        "SELECT JSON_EXTRACT_ARRAY_ELEMENT_TEXT(j, 1, flagcol) FROM t",
    ):
        with _pytest.raises(ValueError, match="literal\\s+true"):
            translate_redshift_sql(bad)
    row = run_redshift_sql(
        spark,
        "SELECT JSON_ARRAY_LENGTH('broken', true) AS a,"
        " JSON_EXTRACT_ARRAY_ELEMENT_TEXT('[5,6]', 1, true) AS b",
    ).first()
    assert tuple(row) == (None, "6")


def test_approx_percentile_disc_rewrite(spark):
    """APPROXIMATE PERCENTILE_DISC (r10): Redshift's spelling rewrites
    to Spark's GK approx_percentile at accuracy 1e6 — exact below 1e6
    rows/group (the oracle is the exact discrete quantile), loud
    outside the subset (non-literal p, missing WITHIN GROUP, DESC or
    multi-column ORDER BY)."""
    import pytest as _pytest

    from sql_redshift_etl_spark.functions.redshift_sql import (
        run_redshift_sql,
        translate_redshift_sql,
    )

    spark.createDataFrame(
        [(g, float(v)) for g in ("a", "b") for v in range(1, 12)],
        "g STRING, x DOUBLE",
    ).createOrReplaceTempView("apct_t")
    out = run_redshift_sql(
        spark,
        """
        SELECT g,
               APPROXIMATE PERCENTILE_DISC(0.5) WITHIN GROUP (ORDER BY x) AS med,
               APPROXIMATE PERCENTILE_DISC(0.25) WITHIN GROUP (ORDER BY x ASC) AS q1
        FROM apct_t GROUP BY g
        """,
    )
    got = {r.g: (r.med, r.q1) for r in out.collect()}
    # 11 values 1..11: exact disc median = 6, q1 = value at ceil(.25*11)=3
    assert got == {"a": (6.0, 3.0), "b": (6.0, 3.0)}
    for bad, msg in [
        (
            "SELECT APPROXIMATE PERCENTILE_DISC(x) WITHIN GROUP (ORDER BY x) FROM apct_t",
            "numeric literal",
        ),
        ("SELECT APPROXIMATE PERCENTILE_DISC(0.5) FROM apct_t", "WITHIN GROUP"),
        (
            "SELECT APPROXIMATE PERCENTILE_DISC(0.5) WITHIN GROUP (ORDER BY x DESC) FROM apct_t",
            "single ASC",
        ),
        (
            "SELECT APPROXIMATE PERCENTILE_DISC(0.5) WITHIN GROUP (ORDER BY x, g) FROM apct_t",
            "single ASC",
        ),
    ]:
        with _pytest.raises(ValueError, match=msg):
            translate_redshift_sql(bad)
    # a literal containing the spelling survives untouched
    assert "APPROXIMATE PERCENTILE_DISC(" in translate_redshift_sql(
        "SELECT 'APPROXIMATE PERCENTILE_DISC(' AS s FROM apct_t"
    )


def test_approx_percentile_nested_comma_key(spark):
    """ADVICE r10: a single ORDER BY expression whose text contains a
    FUNCTION-CALL comma (COALESCE(x, 0)) is one sort key, not two — the
    multi-key reject must be paren-aware (_split_args), and the rewrite
    must produce the right value with NULLs folded to 0."""
    import pytest as _pytest

    from sql_redshift_etl_spark.functions.redshift_sql import run_redshift_sql

    spark.createDataFrame(
        [(float(v),) for v in range(1, 11)] + [(None,)],
        "x DOUBLE",
    ).createOrReplaceTempView("apct_c")
    row = run_redshift_sql(
        spark,
        "SELECT APPROXIMATE PERCENTILE_DISC(0.5)"
        " WITHIN GROUP (ORDER BY COALESCE(x, 0)) AS med FROM apct_c",
    ).first()
    # 11 values after COALESCE: 0,1..10 → exact disc median = 5
    assert row.med == 5.0
    # r11: NULLS FIRST|LAST accepted and dropped — a NULL-ignoring
    # aggregate cannot see NULL placement (here x's NULL is skipped:
    # 10 values 1..10, disc median = 5); DESC stays loud even with a
    # NULLS suffix after it.
    row = run_redshift_sql(
        spark,
        "SELECT APPROXIMATE PERCENTILE_DISC(0.5)"
        " WITHIN GROUP (ORDER BY x ASC NULLS LAST) AS med FROM apct_c",
    ).first()
    assert row.med == 5.0
    from sql_redshift_etl_spark.functions.redshift_sql import translate_redshift_sql

    with _pytest.raises(ValueError, match="single ASC"):
        translate_redshift_sql(
            "SELECT APPROXIMATE PERCENTILE_DISC(0.5)"
            " WITHIN GROUP (ORDER BY x DESC NULLS LAST) FROM apct_c"
        )


def test_approx_percentile_gk_bound(spark):
    """VERDICT r10 item 5: the APPROXIMATE regime itself, crossed once.
    A single 2^21-row group exceeds the pinned 1e6 GK accuracy, so the
    estimate is no longer guaranteed exact — pin the documented GK
    contract instead: rank error ≤ n/accuracy. Values are an XOR
    permutation of 0..n-1 (id ^ 0b1010...10, a bijection on [0, 2^21)),
    so a value IS its own rank and the bound is directly checkable. No
    cross-engine oracle can exist here (DuckDB's approx sketch differs);
    this pytest pin is the measured row on the far side of the boundary
    that the exact-regime driver oracle cannot provide."""
    from sql_redshift_etl_spark.functions.redshift_sql import (
        _APPROX_PCT_ACCURACY,
        run_redshift_sql,
    )

    n = 1 << 21  # 2,097,152 rows — past the 1e6 accuracy boundary
    assert n > _APPROX_PCT_ACCURACY
    mask = 0b101010101010101010101  # 21 bits → XOR is a bijection on [0, n)
    spark.range(n).selectExpr(f"CAST(id ^ {mask} AS DOUBLE) AS v").createOrReplaceTempView(
        "apct_big"
    )
    row = run_redshift_sql(
        spark,
        """
        SELECT APPROXIMATE PERCENTILE_DISC(0.5) WITHIN GROUP (ORDER BY v) AS p50,
               APPROXIMATE PERCENTILE_DISC(0.9) WITHIN GROUP (ORDER BY v) AS p90
        FROM apct_big
        """,
    ).first()
    # GK contract: |rank(returned) - target rank| ≤ n/accuracy, +1 for
    # the discrete-quantile index convention. value == rank by design.
    bound = n / _APPROX_PCT_ACCURACY + 1
    for got, p in ((row.p50, 0.5), (row.p90, 0.9)):
        assert got == int(got), f"p={p}: returned {got} is not an element"
        assert abs(got - p * (n - 1)) <= bound, (
            f"p={p}: rank error {abs(got - p * (n - 1))} exceeds the GK "
            f"bound {bound}"
        )


def test_approx_percentile_tier_guard(spark, monkeypatch):
    """ADVICE r10: the gate query's exact-quantile oracle is only valid
    below the GK accuracy — at a fixture tier where a group crosses it,
    the builder must fail LOUDLY with the reason, not let the driver
    report a mystery hash mismatch. Simulated by shrinking the pinned
    accuracy below sf0.001's largest l_returnflag group."""
    import pytest as _pytest

    from sql_redshift_etl_spark.functions import redshift_sql
    from sql_redshift_etl_spark.plans.registry import all_queries
    from tests.conftest import SF_DIR

    q = all_queries()["redshift_sql_approx_percentile"]
    monkeypatch.setattr(redshift_sql, "_APPROX_PCT_ACCURACY", 100)
    with _pytest.raises(ValueError, match="GK accuracy"):
        q.builder(spark, SF_DIR)


def test_gk_guard_zero_jobs_below_metadata_bound(spark, monkeypatch):
    """ADVICE r11: at fixture tiers far below the GK accuracy the tier
    guard must cost ZERO Spark jobs — the parquet footers already bound
    every group's size (total rows >= any group). Fails before the fix:
    the guard ran an eager groupBy/count job on every build. Proven by
    making DataFrame.groupBy explode: both gate queries must still
    build (the guard short-circuits on footer metadata; the queries
    themselves go through spark.sql, not DataFrame.groupBy)."""
    from pyspark.sql import DataFrame

    from sql_redshift_etl_spark.plans.registry import all_queries
    from tests.conftest import SF_DIR

    def _no_jobs(self, *a, **k):
        raise AssertionError(
            "tier guard ran a Spark agg below the parquet-metadata bound"
        )

    monkeypatch.setattr(DataFrame, "groupBy", _no_jobs)
    qs = all_queries()
    for name in ("redshift_sql_approx_percentile", "redshift_sql_approx_percentile_expr"):
        df = qs[name].builder(spark, SF_DIR)
        assert df.columns  # built without any driver-side agg job


def test_order_siblings_desc_nan(spark):
    """ADVICE r10: under DESC a float NaN sibling key must sort FIRST
    among non-NULL siblings (NaN is the greatest value; descending
    reverses), not last — the negation trick leaves NaN in place, so the
    flag band folds it in. Both NULLS placements covered."""
    from sql_redshift_etl_spark.functions.redshift_sql import run_redshift_sql

    spark.createDataFrame(
        [
            (1, None, None),
            (2, 1, 1.0),
            (3, 1, float("nan")),
            (4, 1, 5.0),
            (5, 1, None),
        ],
        "id INT, parent INT, k DOUBLE",
    ).createOrReplaceTempView("osnan_t")
    base = """
        SELECT id FROM osnan_t START WITH parent IS NULL
        CONNECT BY PRIOR id = parent
        ORDER SIBLINGS BY k DESC{nf}
    """
    # DESC default = NULLS FIRST: NULL, NaN, 5.0, 1.0
    rows = run_redshift_sql(spark, base.format(nf="")).collect()
    assert [r.id for r in rows] == [1, 5, 3, 4, 2]
    # DESC NULLS LAST: NaN, 5.0, 1.0, NULL
    rows = run_redshift_sql(spark, base.format(nf=" NULLS LAST")).collect()
    assert [r.id for r in rows] == [1, 3, 4, 2, 5]
    # ASC is already NaN-correct natively: 1.0, 5.0, NaN, NULL(last)
    rows = run_redshift_sql(
        spark,
        """
        SELECT id FROM osnan_t START WITH parent IS NULL
        CONNECT BY PRIOR id = parent
        ORDER SIBLINGS BY k
        """,
    ).collect()
    assert [r.id for r in rows] == [1, 2, 4, 3, 5]


def test_order_siblings_desc_interval_key(spark):
    """ADVICE r11: the r11 NaN flag band used a bare CAST(v AS DOUBLE),
    which failed ANALYSIS for key types that support ANSI negation but
    not a double cast — a day-time INTERVAL key sorted fine under DESC
    in r10 and then broke in r11, an undocumented domain narrowing.
    Fails before the fix (CANNOT_CAST interval->double); the STRING
    round-trip + try_cast probe is analysis-total, so negatable
    non-float keys keep the r10 behavior. Both NULLS placements, plus
    a NULL interval sibling."""
    from sql_redshift_etl_spark.functions.redshift_sql import run_redshift_sql

    spark.sql(
        """
        SELECT * FROM VALUES
            (1, CAST(NULL AS INT), CAST(NULL AS INTERVAL DAY TO SECOND)),
            (2, 1, make_dt_interval(0, 0, 0, 3)),
            (3, 1, make_dt_interval(0, 0, 0, 30)),
            (4, 1, CAST(NULL AS INTERVAL DAY TO SECOND)),
            (5, 1, make_dt_interval(0, 2, 0, 0))
            AS t(id, parent, dur)
        """
    ).createOrReplaceTempView("ositv_t")
    base = """
        SELECT id FROM ositv_t START WITH parent IS NULL
        CONNECT BY PRIOR id = parent
        ORDER SIBLINGS BY dur DESC{nf}
    """
    # DESC default = NULLS FIRST: NULL, 2h, 30s, 3s
    rows = run_redshift_sql(spark, base.format(nf="")).collect()
    assert [r.id for r in rows] == [1, 4, 5, 3, 2]
    # DESC NULLS LAST: 2h, 30s, 3s, NULL
    rows = run_redshift_sql(spark, base.format(nf=" NULLS LAST")).collect()
    assert [r.id for r in rows] == [1, 5, 3, 2, 4]


def test_order_siblings_string_desc_workaround(spark):
    """The documented collation-safe STRING DESC spelling (the docstring
    at redshift_sql._rewrite_connect_by): complemented hex digits
    reverse UTF8_BINARY byte order and the 'G' terminator (> any hex
    digit) puts every proper prefix AFTER its extensions — exact string
    DESC as an ASC expression key, zero shuffle. Covers the prefix trap
    ('a' vs 'ab'), the empty string, and a multi-byte char."""
    from sql_redshift_etl_spark.functions.redshift_sql import run_redshift_sql

    names = ["", "a", "ab", "b", "é"]
    spark.createDataFrame(
        [(0, None, "root")] + [(i + 1, 0, nm) for i, nm in enumerate(names)],
        "id INT, parent INT, nm STRING",
    ).createOrReplaceTempView("osdesc_t")
    rows = run_redshift_sql(
        spark,
        """
        SELECT id, nm FROM osdesc_t START WITH parent IS NULL
        CONNECT BY PRIOR id = parent
        ORDER SIBLINGS BY (TRANSLATE(hex(encode(nm, 'utf-8')),
                                     '0123456789ABCDEF', 'FEDCBA9876543210')
                           || 'G')
        """,
    ).collect()
    want = [None] + sorted(names, key=lambda s: s.encode("utf-8"), reverse=True)
    assert [r.nm for r in rows][1:] == want[1:]


def test_order_siblings_date_desc_workaround(spark):
    """The documented DATE DESC spelling (same docstring): epoch-day
    distance DATEDIFF(day, d, DATE '1970-01-01') is monotone-DECREASING
    in d, so ASC on it is date DESC — zero shuffle, no negation, and the
    Redshift DATEDIFF spelling itself goes through the front-end rewrite
    inside the derived base CTE."""
    import datetime as _dt

    from sql_redshift_etl_spark.functions.redshift_sql import run_redshift_sql

    d = _dt.date
    spark.createDataFrame(
        [
            (1, None, d(2020, 1, 1)),
            (2, 1, d(2021, 5, 4)),
            (3, 1, d(2024, 12, 31)),
            (4, 1, d(1969, 7, 20)),
            (5, 1, d(2021, 5, 5)),
        ],
        "id INT, parent INT, dt DATE",
    ).createOrReplaceTempView("osdate_t")
    rows = run_redshift_sql(
        spark,
        """
        SELECT id FROM osdate_t START WITH parent IS NULL
        CONNECT BY PRIOR id = parent
        ORDER SIBLINGS BY (DATEDIFF(day, dt, DATE '1970-01-01'))
        """,
    ).collect()
    # children by date DESC: 2024-12-31, 2021-05-05, 2021-05-04, 1969-07-20
    assert [r.id for r in rows] == [1, 3, 5, 2, 4]


def test_copy_jsonpaths_reshaping_load(spark, tmp_path):
    """COPY ... FORMAT AS JSON '<jsonpaths>' (r13 — VERDICT r12 "what's
    missing" #2): a jsonpaths control file reshapes NESTED documents
    into flat columns positionally. Gates both public path spellings
    (dot and bracket), lax missing-element → NULL, and that JSON 'auto'
    / 'auto ignorecase' still mean the name-matched load."""
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    p = tmp_path / "d.json"
    p.write_text(
        '{"key": {"id": 1}, "attrs": {"name": "alpha", "vals": [10, 20]}}\n'
        '{"key": {"id": 2}, "attrs": {"name": "beta"}}\n'
    )
    jp = tmp_path / "paths.json"
    jp.write_text(
        '{"jsonpaths": ["$.key.id", "$[\'attrs\'][\'name\']", "$.attrs.vals[1]"]}'
    )
    out = run_redshift_script(
        spark,
        f"""
        CREATE TEMP TABLE t_jp (k BIGINT, name VARCHAR(10), second_val BIGINT);
        COPY t_jp FROM '{p}' FORMAT AS JSON '{jp}';
        SELECT * FROM t_jp ORDER BY k;
        """,
    )
    assert [tuple(r) for r in out.collect()] == [(1, "alpha", 20), (2, "beta", None)]

    # 'auto' spellings keep the name-matched load (flat docs)
    p2 = tmp_path / "flat.json"
    p2.write_text('{"k": 7, "name": "gamma", "second_val": 3}\n')
    out2 = run_redshift_script(
        spark,
        f"""
        CREATE TEMP TABLE t_auto (k BIGINT, name VARCHAR(10), second_val BIGINT);
        COPY t_auto FROM '{p2}' FORMAT AS JSON 'auto';
        COPY t_auto FROM '{p2}' JSON 'auto ignorecase';
        SELECT COUNT(*) AS n, MIN(name) AS nm FROM t_auto;
        """,
    )
    assert [tuple(r) for r in out2.collect()] == [(2, "gamma")]


def test_copy_jsonpaths_loud_seams(spark, tmp_path):
    """The jsonpaths failure modes are LOUD, never a misload (module
    policy): path-count/column-count mismatch, a control file that is
    not jsonpaths-shaped, a non-root path, and the unimplemented
    MAXERROR composition all raise with the reason."""
    import pytest as _pytest

    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    p = tmp_path / "d.json"
    p.write_text('{"a": 1}\n')

    jp_short = tmp_path / "short.json"
    jp_short.write_text('{"jsonpaths": ["$.a"]}')
    with _pytest.raises(ValueError, match="positionally"):
        run_redshift_script(
            spark,
            f"""
            CREATE TEMP TABLE t1 (k BIGINT, v BIGINT);
            COPY t1 FROM '{p}' FORMAT AS JSON '{jp_short}';
            """,
        )

    jp_bad = tmp_path / "bad.json"
    jp_bad.write_text('["$.a"]')
    with _pytest.raises(ValueError, match="'jsonpaths' array"):
        run_redshift_script(
            spark,
            f"""
            CREATE TEMP TABLE t2 (k BIGINT);
            COPY t2 FROM '{p}' FORMAT AS JSON '{jp_bad}';
            """,
        )

    jp_rel = tmp_path / "rel.json"
    jp_rel.write_text('{"jsonpaths": ["a.b"]}')
    with _pytest.raises(ValueError, match="root"):
        run_redshift_script(
            spark,
            f"""
            CREATE TEMP TABLE t3 (k BIGINT);
            COPY t3 FROM '{p}' FORMAT AS JSON '{jp_rel}';
            """,
        )

    # a bracket key the dot form cannot spell (dot/space/bracket inside
    # the key) must refuse, never silently re-interpret the path
    jp_dotkey = tmp_path / "dotkey.json"
    jp_dotkey.write_text("{\"jsonpaths\": [\"$['a.b']\"]}")
    with _pytest.raises(ValueError, match="cannot spell"):
        run_redshift_script(
            spark,
            f"""
            CREATE TEMP TABLE t3b (k BIGINT);
            COPY t3b FROM '{p}' FORMAT AS JSON '{jp_dotkey}';
            """,
        )

def test_copy_jsonpaths_malformed_records(spark, tmp_path):
    """Malformed JSON lines follow Redshift's COPY contract (r13):
    without MAXERROR the load fails at the first bad line read (never a
    silent row of NULLs — the r13 self-review gap); with MAXERROR they
    consume the budget and land in stl_load_errors; over budget the
    COPY raises with the count."""
    import pytest as _pytest

    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    p = tmp_path / "mixed.json"
    # two error classes: unparseable text AND a bare scalar root (valid
    # JSON, but Redshift COPY JSON requires object/array records — and
    # Spark's get_json_object returns scalar roots, so a naive probe
    # would load `null` as a silent all-NULL row)
    p.write_text(
        '{"a": 1}\n'
        "this is not json\n"
        "null\n"
        '{"a": 3}\n'
    )
    jp = tmp_path / "paths.json"
    jp.write_text('{"jsonpaths": ["$.a"]}')

    # no MAXERROR: loud at the first malformed record, with the line
    with _pytest.raises(Exception, match="malformed JSON record"):
        run_redshift_script(
            spark,
            f"""
            CREATE TEMP TABLE t_strict (k BIGINT);
            COPY t_strict FROM '{p}' FORMAT AS JSON '{jp}';
            SELECT SUM(k) AS s FROM t_strict;
            """,
        ).collect()

    # MAXERROR 2 >= 2 bad lines: good rows load, raw lines queryable
    out = run_redshift_script(
        spark,
        f"""
        CREATE TEMP TABLE t_budget (k BIGINT);
        COPY t_budget FROM '{p}' FORMAT AS JSON '{jp}' MAXERROR 2;
        SELECT (SELECT CAST(SUM(k) AS BIGINT) FROM t_budget) AS s,
               (SELECT COUNT(*) FROM stl_load_errors) AS n_err,
               (SELECT MIN(raw_line) FROM stl_load_errors) AS first_err;
        """,
    )
    assert [tuple(r) for r in out.collect()] == [(4, 2, "null")]

    # over budget: the COPY itself raises with the count
    with _pytest.raises(ValueError, match="exceed MAXERROR"):
        run_redshift_script(
            spark,
            f"""
            CREATE TEMP TABLE t_over (k BIGINT);
            COPY t_over FROM '{p}' FORMAT AS JSON '{jp}' MAXERROR 0;
            """,
        )


def test_found_set_by_query_for_exit(spark):
    """ADVICE r12: plpgsql sets FOUND = "iterated at least once" on ANY
    query-FOR exit, EXIT included (exec_for_query stamps it after the
    loop regardless). Fails before: an EXIT-terminated loop left FOUND
    at the last body statement's value — here the prior zero-row
    UPDATE's FALSE."""
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    out = run_redshift_script(
        spark,
        """
        CREATE TEMP TABLE t_fe (v INT);
        INSERT INTO t_fe VALUES (1), (2), (3);
        CREATE TEMP TABLE got_fe (tag VARCHAR(20), flag BOOLEAN);
        CREATE PROCEDURE p_fe() AS $$
        DECLARE s BIGINT;
        BEGIN
            UPDATE t_fe SET v = v WHERE v > 100;   -- found := false (0 rows)
            FOR r IN SELECT v FROM t_fe ORDER BY v LOOP
                s := r.v;
                EXIT WHEN r.v >= 2;                -- early exit, 2 iterations
            END LOOP;
            INSERT INTO got_fe VALUES ('after_exit', found);
        END;
        $$ LANGUAGE plpgsql;
        CALL p_fe();
        SELECT * FROM got_fe;
        """,
    )
    assert [tuple(r) for r in out.collect()] == [("after_exit", True)]


def test_found_column_collision_is_loud(spark):
    """ADVICE r12: once plpgsql's FOUND is live, a body that ALSO uses
    `found` as a relation column would get the column reference silently
    rewritten to a boolean literal by the variable substitution. Real
    plpgsql (variable_conflict=error) raises an ambiguity error; so do
    we, for both cheap-detectable spellings — a CREATE column named
    found and an AS found alias."""
    import pytest as _pytest

    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    with _pytest.raises(ValueError, match="variable_conflict"):
        run_redshift_script(
            spark,
            """
            CREATE PROCEDURE p_c1() AS $$
            BEGIN
                CREATE TEMP TABLE flags (found BOOLEAN, v INT);
                PERFORM 1;
            END;
            $$ LANGUAGE plpgsql;
            CALL p_c1();
            """,
        )

    with _pytest.raises(ValueError, match="variable_conflict"):
        run_redshift_script(
            spark,
            """
            CREATE TEMP TABLE src_c2 (v INT);
            CREATE PROCEDURE p_c2() AS $$
            DECLARE n BIGINT;
            BEGIN
                PERFORM v AS found FROM src_c2;
            END;
            $$ LANGUAGE plpgsql;
            CALL p_c2();
            """,
        )


def test_apply_runtime_confs_warns_on_unsettable_key(caplog):
    import logging

    from sql_redshift_etl_spark.session import apply_runtime_confs

    class _Conf:
        def set(self, key, value):
            if key == "spark.sql.session.timeZone":
                raise RuntimeError("locked")

    class _Spark:
        conf = _Conf()

    with caplog.at_level(logging.WARNING, logger="sql_redshift_etl_spark.session"):
        apply_runtime_confs(_Spark())
    msgs = [r.getMessage() for r in caplog.records if r.name == "sql_redshift_etl_spark.session"]
    assert len(msgs) == 1
    assert "spark.sql.session.timeZone" in msgs[0] and "locked" in msgs[0]


@pytest.mark.parametrize(
    "fmt, content",
    [
        ("CSV", "1,a\nnotanint,b\n3,c\n4,d,EXTRA\n"),
        ("JSON 'auto'", '{"k": 1, "v": "a"}\nTHIS IS NOT JSON\n{"k": 3, "v": "c"}\n'),
    ],
    ids=["csv", "json"],
)
def test_copy_maxerror_table_counts_after_script(spark, tmp_path, fmt, content):
    """A MAXERROR-loaded table can be counted after its script ends. The
    returned frame is collected after the script released the budget
    cache, and a column-free count must still read a data column, not
    the corrupt-record column alone (QUERY_ONLY_CORRUPT_RECORD_COLUMN)."""
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    p = tmp_path / ("m.json" if fmt.startswith("JSON") else "m.csv")
    p.write_text(content)
    out = run_redshift_script(
        spark,
        f"""
        CREATE TEMP TABLE t (k BIGINT, v VARCHAR(4));
        COPY t FROM '{p}' {fmt} MAXERROR 5;
        SELECT count(*) AS n FROM t;
        """,
    )
    assert [tuple(r) for r in out.collect()] == [(2,)]


def test_dml_column_names_are_case_insensitive(spark):
    """Every script DML statement resolves the columns it names the way
    SQL does, case-insensitively: UPDATE, UPDATE ... FROM, INSERT with a
    column list, and MERGE's ON, SET and INSERT lists."""
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    out = run_redshift_script(
        spark,
        """
        CREATE TEMP TABLE t (k BIGINT, amt BIGINT);
        INSERT INTO t (K, AMT) VALUES (1, 10), (2, 20), (3, 30);
        UPDATE t SET AMT = 99 WHERE k = 1;
        CREATE TEMP TABLE s (k BIGINT, amt BIGINT);
        INSERT INTO s VALUES (2, 7), (4, 40);
        UPDATE t SET Amt = s.amt FROM s WHERE t.k = s.k;
        MERGE INTO t USING s ON t.K = s.K
        WHEN MATCHED THEN UPDATE SET AMT = t.amt + s.AMT
        WHEN NOT MATCHED THEN INSERT (K, AMT) VALUES (s.k, s.amt);
        SELECT k, amt FROM t ORDER BY k;
        """,
    )
    assert [tuple(r) for r in out.collect()] == [(1, 99), (2, 14), (3, 30), (4, 40)]


@pytest.mark.parametrize(
    "ddl, seed",
    [
        ("k BIGINT, v VARCHAR(10), tier VARCHAR(8) DEFAULT 'STD'", None),
        ("id BIGINT IDENTITY(5,1), k BIGINT, v VARCHAR(10)", 5),
        ("id INT IDENTITY(7,1), k BIGINT, v VARCHAR(10)", 7),
    ],
    ids=["default", "bigint_identity", "int_identity"],
)
def test_merge_insert_fills_like_insert(spark, ddl, seed):
    """A column that MERGE's NOT MATCHED INSERT does not list takes the
    fill INSERT gives it, never NULL: the DEFAULT, or an IDENTITY id
    that is unique, at least the seed, and the same on every read."""
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    prelude = f"""
        CREATE TEMP TABLE tgt ({ddl});
        INSERT INTO tgt (k, v) VALUES (1, 'a');
        CREATE TEMP TABLE src (k BIGINT, v VARCHAR(10));
        INSERT INTO src VALUES (1, 'A'), (2, 'B'), (3, 'C');
    """
    merged = run_redshift_script(
        spark,
        prelude
        + """
        MERGE INTO tgt USING src ON tgt.k = src.k
        WHEN MATCHED THEN UPDATE SET v = src.v
        WHEN NOT MATCHED THEN INSERT (k, v) VALUES (src.k, src.v);
        SELECT * FROM tgt;
        """,
    )
    inserted = run_redshift_script(
        spark,
        prelude
        + """
        UPDATE tgt SET v = src.v FROM src WHERE tgt.k = src.k;
        INSERT INTO tgt (k, v) SELECT k, v FROM src WHERE k > 1;
        SELECT * FROM tgt;
        """,
    )
    first, second = merged.collect(), merged.collect()
    assert sorted(map(tuple, first)) == sorted(map(tuple, second))
    cols = [c for c in merged.columns if c != "id"]
    assert sorted(tuple(r[c] for c in cols) for r in first) == sorted(
        tuple(r[c] for c in cols) for r in inserted.collect()
    )
    if seed is not None:
        ids = [r.id for r in first]
        assert None not in ids and len(set(ids)) == len(ids) and min(ids) >= seed


def _zip_with(path, modules: dict[str, str]) -> None:
    import zipfile

    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


@pytest.fixture
def counted_reads(monkeypatch):
    """Count zipimport's central-directory reads for the test's span."""
    import zipimport

    reads: list[str] = []
    real = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_daemon_keeps_an_unchanged_archive(tmp_path, counted_reads):
    """The daemon's invalidate_caches re-reads an archive only when its
    (mtime_ns, size) moved since the last read; every importer of the
    archive then shares that read."""
    import zipimport

    from sql_redshift_etl_spark.pydaemon import _invalidate_caches

    archive = tmp_path / "mods.zip"
    _zip_with(archive, {"zmod_a": "X = 1\n"})
    importers = [zipimport.zipimporter(str(archive)) for _ in range(3)]
    counted_reads.clear()
    _invalidate_caches(importers[0])
    assert counted_reads == [str(archive)]
    for _ in range(5):
        for imp in importers:
            _invalidate_caches(imp)
    assert counted_reads == [str(archive)]
    assert all(imp._files is zipimport._zip_directory_cache[str(archive)] for imp in importers)


def test_daemon_rereads_a_rewritten_archive(tmp_path, counted_reads, monkeypatch):
    import importlib
    import zipimport

    from sql_redshift_etl_spark.pydaemon import _invalidate_caches

    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", _invalidate_caches)
    archive = tmp_path / "mods.zip"
    _zip_with(archive, {"zmod_old": "X = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    for name in ("zmod_old", "zmod_new"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("zmod_old").X == 1
    importlib.invalidate_caches()
    n_before = len(counted_reads)
    importlib.invalidate_caches()
    assert len(counted_reads) == n_before

    _zip_with(archive, {"zmod_old": "X = 1\n", "zmod_new": "Y = 2\n"})
    importlib.invalidate_caches()
    assert counted_reads[n_before:] == [str(archive)]
    assert importlib.import_module("zmod_new").Y == 2


def test_daemon_rereads_an_archive_it_cannot_stat(tmp_path, counted_reads):
    import zipimport

    from sql_redshift_etl_spark.pydaemon import _invalidate_caches

    archive = tmp_path / "mods.zip"
    _zip_with(archive, {"zmod_a": "X = 1\n"})
    imp = zipimport.zipimporter(str(archive))
    counted_reads.clear()
    _invalidate_caches(imp)
    archive.unlink()
    _invalidate_caches(imp)
    assert counted_reads == [str(archive)] * 2
    assert imp._files == {} and str(archive) not in zipimport._zip_directory_cache


def test_daemon_stamps_archives_before_forking(tmp_path):
    """Run the daemon entry with pyspark's manager() replaced by a probe:
    at the point where workers would be forked, importlib.invalidate_caches()
    re-reads no archive, so a worker's first task re-reads none either."""
    import os
    import subprocess
    from pathlib import Path

    archive = tmp_path / "first.zip"
    _zip_with(archive, {"zmod_first": "X = 1\n"})
    root = str(Path(__file__).resolve().parent.parent)
    script = (
        "import importlib, runpy, sys, zipimport\n"
        f"sys.path.insert(1, {root!r})\n"
        "import pyspark.daemon\n"
        "def probe():\n"
        "    real, reads = zipimport._read_directory, []\n"
        "    zipimport._read_directory = lambda a: (reads.append(a), real(a))[1]\n"
        "    importlib.invalidate_caches()\n"
        "    held = {i.archive for i in sys.path_importer_cache.values() if isinstance(i, zipimport.zipimporter)}\n"
        "    print('HELD', len(held), 'READS', len(reads), flush=True)\n"
        "pyspark.daemon.manager = probe\n"
        "runpy.run_module('sql_redshift_etl_spark.pydaemon', run_name='__main__', alter_sys=True)\n"
    )
    env = {**os.environ, "PYTHONPATH": str(archive)}
    out = subprocess.run([sys.executable, "-c", script], cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120)
    assert out.returncode == 0, out.stderr[-3000:]
    assert re.search(r"HELD [1-9]\d* READS 0$", out.stdout.strip()), out.stdout[-500:]


def test_daemon_module_swallows_no_exception():
    import ast
    from pathlib import Path

    from sql_redshift_etl_spark import pydaemon

    tree = ast.parse(Path(pydaemon.__file__).read_text())
    caught = [h.type and ast.unparse(h.type) for h in ast.walk(tree) if isinstance(h, ast.ExceptHandler)]
    assert caught and not {None, "Exception", "BaseException"} & set(caught)


def test_session_workers_reuse_zip_directories(spark):
    """A task in the engine's session runs importlib.invalidate_caches()
    without re-reading any zip archive (pyspark's own daemon re-reads
    about 16 per task), and the daemon module the session names is
    importable."""
    import importlib.util

    def reads_per_invalidate(batches):
        import importlib
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        real, reads = zipimport._read_directory, []

        def counting(archive):
            reads.append(archive)
            return real(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        yield pd.DataFrame({"reads": [len(reads)]})

    df = spark.range(1, numPartitions=1).mapInPandas(reads_per_invalidate, "reads long")
    assert [r.reads for r in df.collect()] == [0]
    module = spark.sparkContext.getConf().get("spark.python.daemon.module")
    assert module == "sql_redshift_etl_spark.pydaemon"
    assert importlib.util.find_spec(module) is not None


def test_pandas_udf_runs_outside_the_repo_root(tmp_path):
    """Workers import the builders' UDFs by module reference: collect a
    pandas-UDF query from a driver whose working directory is not the
    repo root (count() would prune the UDF column and hide a failure)."""
    import os
    import subprocess
    from pathlib import Path

    from tests.conftest import SF_DIR

    root = str(Path(__file__).resolve().parent.parent)
    script = (
        "import sys\n"
        f"sys.path.insert(0, {root!r})\n"
        "from sql_redshift_etl_spark.session import get_spark\n"
        "from sql_redshift_etl_spark.functions.udfs import udf_pandas_scalar_score\n"
        "spark = get_spark('cwd-probe', shuffle_partitions=2)\n"
        f"rows = udf_pandas_scalar_score(spark, {SF_DIR!r}).collect()\n"
        "print('ROWS', len(rows), flush=True)\n"
        "spark.stop()\n"
    )
    env = {**os.environ, "SPARK_GRAFT_CPUS": "2", "SPARK_GRAFT_DRIVER_MEM": "1g"}
    env.pop("PYTHONPATH", None)
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert re.search(r"ROWS [1-9]\d*", out.stdout), out.stdout[-500:]
