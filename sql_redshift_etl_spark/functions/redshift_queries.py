"""Queries executed through the Redshift-SQL front-end — the literal
workflow of a reference user: paste the Redshift script, run on Spark,
verified against DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sql_redshift_etl_spark.catalog import load_table
from sql_redshift_etl_spark.functions.redshift_sql import run_redshift_sql
from sql_redshift_etl_spark.plans.registry import register
from sql_redshift_etl_spark.scale import parquet_total_rows

# Verbatim Redshift-dialect script (DATEDIFF boundary semantics, TO_CHAR
# format dialect, NVL, DECODE, ILIKE — all as a Redshift user writes them).
_REDSHIFT_REPORT = """
    SELECT o_orderkey,
           TO_CHAR(o_orderdate, 'YYYY-MM-DD') AS order_day,
           DATEDIFF(year, o_orderdate, TIMESTAMP '2000-01-01 00:00:00') AS years_to_y2k,
           DATEDIFF(day, o_orderdate, TIMESTAMP '2000-01-01 00:00:00') AS days_to_y2k,
           NVL(NULLIF(o_orderstatus, 'P'), 'PENDING') AS status_label,
           DECODE(o_orderpriority, '1-URGENT', 1, '2-HIGH', 2, 9) AS priority_rank
    FROM {orders}
    WHERE o_orderpriority ILIKE '%high%' OR o_orderpriority LIKE '1%'
"""

_REDSHIFT_QUALIFY = """
    SELECT o_custkey,
           o_orderkey,
           o_totalprice,
           ROW_NUMBER() OVER (PARTITION BY o_custkey
                              ORDER BY o_totalprice DESC, o_orderkey) AS rn
    FROM {orders}
    WHERE o_orderstatus <> 'F'
    QUALIFY rn <= 2
    ORDER BY o_custkey, rn
"""

# Redshift supports recursive CTEs (WITH RECURSIVE, public docs) — walk a
# synthetic management chain over customers: parent(c) = floor(c/10), root
# at 0, so every custkey has a deterministic chain of ~log10(c) ancestors.
_REDSHIFT_RECURSIVE = """
    WITH RECURSIVE chain (custkey, ancestor, depth) AS (
        SELECT c_custkey, c_custkey, 0 FROM {customer}
        UNION ALL
        SELECT custkey, CAST(FLOOR(ancestor / 10.0) AS BIGINT), depth + 1
        FROM chain
        WHERE ancestor > 0
    )
    SELECT depth AS generations, COUNT(*) AS n_customers
    FROM (SELECT custkey, MAX(depth) AS depth FROM chain GROUP BY custkey) d
    GROUP BY generations
    ORDER BY generations
"""

_REDSHIFT_EVENTS = """
    SELECT user_id,
           LISTAGG(event_type, ',') WITHIN GROUP (ORDER BY event_type) AS event_types,
           MAX(JSON_EXTRACT_PATH_TEXT(props, 'k')) AS max_k_str
    FROM {events}
    WHERE event_id < 2000
    GROUP BY user_id
"""


@register(
    "redshift_sql_report",
    tags=("F1", "F3", "S6"),
    oracle="""
        SELECT o_orderkey,
               strftime(o_orderdate, '%Y-%m-%d') AS order_day,
               CAST(date_diff('year', o_orderdate, TIMESTAMP '2000-01-01 00:00:00')
                    AS INTEGER) AS years_to_y2k,
               CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2000-01-01')
                    AS INTEGER) AS days_to_y2k,
               COALESCE(NULLIF(o_orderstatus, 'P'), 'PENDING') AS status_label,
               CASE o_orderpriority WHEN '1-URGENT' THEN 1 WHEN '2-HIGH' THEN 2 ELSE 9 END AS priority_rank
        FROM orders
        WHERE o_orderpriority ILIKE '%high%' OR o_orderpriority LIKE '1%'
    """,
)
def redshift_sql_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A verbatim Redshift-dialect report script executed through the
    dialect front-end (functions.redshift_sql): DATEDIFF boundary
    semantics, TO_CHAR formats, NVL/DECODE/ILIKE. The oracle re-expresses
    the same report in DuckDB's own dialect — three dialects, one result."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("rs_orders")
    return run_redshift_sql(spark, _REDSHIFT_REPORT.format(orders="rs_orders"))


@register(
    "redshift_sql_qualify",
    tags=("W6", "F1"),
    oracle="""
        SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS INTEGER) AS rn
        FROM (
            SELECT o_custkey, o_orderkey, o_totalprice,
                   ROW_NUMBER() OVER (PARTITION BY o_custkey
                                      ORDER BY o_totalprice DESC, o_orderkey) AS rn
            FROM orders
            WHERE o_orderstatus <> 'F'
        )
        WHERE rn <= 2
        ORDER BY o_custkey, rn
    """,
)
def redshift_sql_qualify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim Redshift QUALIFY script (top-2 orders per customer) through
    the front-end's QUALIFY→subquery-filter rewrite (r01 VERDICT item 7).

    Scale: the rewrite preserves the W6 idiom exactly, so Catalyst still
    plans WindowGroupLimit (partial top-k before the partition shuffle) —
    QUALIFY costs nothing over the hand-written subquery form."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("rs_orders_q")
    return run_redshift_sql(spark, _REDSHIFT_QUALIFY.format(orders="rs_orders_q"))


@register(
    "redshift_sql_recursive",
    tags=("F1", "A1"),
    oracle="""
        WITH RECURSIVE chain (custkey, ancestor, depth) AS (
            SELECT c_custkey, c_custkey, 0 FROM customer
            UNION ALL
            SELECT custkey, CAST(FLOOR(ancestor / 10.0) AS BIGINT), depth + 1
            FROM chain
            WHERE ancestor > 0
        )
        SELECT depth AS generations, COUNT(*) AS n_customers
        FROM (SELECT custkey, MAX(depth) AS depth FROM chain GROUP BY custkey) d
        GROUP BY generations
        ORDER BY generations
    """,
)
def redshift_sql_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE ancestor-chain walk (r01 VERDICT item 6), run as a
    verbatim script — Spark 4 executes recursive CTEs natively (UnionLoop),
    so no driver-side iteration is involved.

    Scale: each iteration is a distributed self-transform of the previous
    frontier; the frontier here shrinks ~10× per step (floor(c/10)), so
    the loop depth is log10(maxkey) regardless of row count."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("rs_customer")
    return run_redshift_sql(spark, _REDSHIFT_RECURSIVE.format(customer="rs_customer"))


@register(
    "redshift_sql_events",
    tags=("F1", "A5"),
    oracle="""
        SELECT user_id,
               STRING_AGG(event_type, ',' ORDER BY event_type) AS event_types,
               MAX(json_extract_string(props, '$.k')) AS max_k_str
        FROM events
        WHERE event_id < 2000
        GROUP BY user_id
    """,
)
def redshift_sql_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redshift LISTAGG + JSON_EXTRACT_PATH_TEXT script through the
    dialect front-end, grouped per user."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView("rs_events")
    return run_redshift_sql(spark, _REDSHIFT_EVENTS.format(events="rs_events"))


# RATIO_TO_REPORT is Redshift-only (share of the window total). Decimal
# arg makes the window SUM exact, so the final double division is
# bit-identical across engines.
_REDSHIFT_RATIO = """
    SELECT o_custkey,
           o_orderkey,
           ROUND(RATIO_TO_REPORT(CAST(o_totalprice AS DECIMAL(18,2)))
                 OVER (PARTITION BY o_custkey), 8) AS price_share
    FROM {orders}
    WHERE o_custkey < 200
    ORDER BY o_custkey, o_orderkey
"""


@register(
    "redshift_sql_ratio_to_report",
    tags=("W5", "F1"),
    oracle="""
        SELECT o_custkey, o_orderkey,
               ROUND(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE)
                     / SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                       OVER (PARTITION BY o_custkey), 8) AS price_share
        FROM orders
        WHERE o_custkey < 200
        ORDER BY o_custkey, o_orderkey
    """,
)
def redshift_sql_ratio_to_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim Redshift RATIO_TO_REPORT script through the front-end
    (rewritten to CAST(x AS DOUBLE) / SUM(x) OVER — redshift_sql.py).
    Scale: one window shuffle on the partition key, same as any W-row."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("rs_orders")
    return run_redshift_sql(spark, _REDSHIFT_RATIO.format(orders="rs_orders"))


# Round-3 front-end additions in one verbatim script: TO_DATE/TO_TIMESTAMP
# with Redshift format codes, CHARINDEX/STRPOS (reversed arg orders),
# single-arg TRUNC (midnight truncation), DEXP/DLOG10 math aliases, and
# natively-parsed LEN/SPLIT_PART riding along unchanged.
_REDSHIFT_MISC_FNS = """
    SELECT o_orderkey,
           DATEDIFF(day, TO_DATE('1995-01-01', 'YYYY-MM-DD'), TRUNC(o_orderdate)) AS order_day_no,
           TO_CHAR(o_orderdate, 'YYYY-MM-DD') AS day_str,
           DATEDIFF(day,
                    TO_TIMESTAMP('2000-06-15 12:30:45', 'YYYY-MM-DD HH24:MI:SS'),
                    o_orderdate) AS days_since_anchor,
           CHARINDEX('URGENT', o_orderpriority) AS urgent_pos,
           STRPOS(o_orderpriority, '-') AS dash_pos,
           LEN(o_orderpriority) AS prio_len,
           SPLIT_PART(o_orderpriority, '-', 1) AS prio_rank,
           ROUND(DLOG10(o_totalprice), 6) AS log_price,
           ROUND(DEXP(CAST(o_orderkey % 5 AS DOUBLE) / 10.0), 6) AS exp_bucket
    FROM {orders}
    WHERE o_orderkey < 500
    ORDER BY o_orderkey
"""


@register(
    "redshift_sql_misc_functions",
    tags=("F1", "§2.7"),
    oracle="""
        SELECT o_orderkey,
               CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
                    AS INTEGER) AS order_day_no,
               strftime(o_orderdate, '%Y-%m-%d') AS day_str,
               CAST(date_diff('day', CAST(TIMESTAMP '2000-06-15 12:30:45' AS DATE),
                              CAST(o_orderdate AS DATE)) AS INTEGER) AS days_since_anchor,
               CAST(CASE WHEN contains(o_orderpriority, 'URGENT')
                    THEN position('URGENT' IN o_orderpriority) ELSE 0 END
                    AS INTEGER) AS urgent_pos,
               CAST(position('-' IN o_orderpriority) AS INTEGER) AS dash_pos,
               CAST(LEN(o_orderpriority) AS INTEGER) AS prio_len,
               string_split(o_orderpriority, '-')[1] AS prio_rank,
               ROUND(LOG10(o_totalprice), 6) AS log_price,
               ROUND(EXP(CAST(o_orderkey % 5 AS DOUBLE) / 10.0), 6) AS exp_bucket
        FROM orders
        WHERE o_orderkey < 500
        ORDER BY o_orderkey
    """,
)
def redshift_sql_misc_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim Redshift script exercising the round-3 front-end
    rewrites (TO_TIMESTAMP format translation, CHARINDEX/STRPOS arg
    swap, 1-arg TRUNC, DEXP/DLOG10) next to natively-parsed functions;
    the oracle spells the ANSI equivalents. Scale: row-local projection,
    filter pushed — nothing to shuffle but the final sort."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("rs_orders")
    return run_redshift_sql(spark, _REDSHIFT_MISC_FNS.format(orders="rs_orders"))


# ---------------------------------------------------------------------------
# Multi-statement ETL scripts through functions.script_runner — the
# reference's actual unit of work (SURVEY §3.1): BEGIN; staging CTAS;
# DDL + INSERT; DELETE; final SELECT; COMMIT. Storage clauses
# (DISTSTYLE/DISTKEY/SORTKEY) appear verbatim and are stripped by the
# front-end; the staged tables stay lazy views so the whole script is
# one Catalyst plan (see script_runner module docstring).
# ---------------------------------------------------------------------------

_SCRIPT_ETL_MART = """
    BEGIN;

    DROP TABLE IF EXISTS stg_orders;

    CREATE TEMP TABLE stg_orders DISTSTYLE KEY DISTKEY(o_orderkey) SORTKEY(o_orderdate) AS
    SELECT o_orderkey, o_custkey, o_orderdate
    FROM {orders}
    WHERE o_orderstatus <> 'P';

    CREATE TEMP TABLE dim_customer_region AS
    SELECT c.c_custkey AS custkey, r.r_name AS region
    FROM {customer} c
    JOIN {nation} n ON c.c_nationkey = n.n_nationkey
    JOIN {region} r ON n.n_regionkey = r.r_regionkey;

    CREATE TABLE fct_order_revenue (
        region VARCHAR(32) ENCODE zstd,
        order_year BIGINT,
        orderkey BIGINT,
        net_rev DECIMAL(23,4)
    ) DISTSTYLE KEY DISTKEY(orderkey) SORTKEY(region);

    INSERT INTO fct_order_revenue
    SELECT d.region,
           EXTRACT(year FROM o.o_orderdate),
           o.o_orderkey,
           SUM(CAST(l.l_extendedprice AS DECIMAL(8,2))
               * (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(3,2))))
    FROM {lineitem} l
    JOIN stg_orders o ON l.l_orderkey = o.o_orderkey
    JOIN dim_customer_region d ON o.o_custkey = d.custkey
    GROUP BY 1, 2, 3;

    DELETE FROM fct_order_revenue WHERE order_year < 1993;

    SELECT region, order_year,
           COUNT(DISTINCT orderkey) AS n_orders,
           CAST(SUM(net_rev) AS DOUBLE) AS net_revenue
    FROM fct_order_revenue
    GROUP BY region, order_year;

    COMMIT;
"""


@register(
    "redshift_script_etl_mart",
    tags=("S6", "J7", "A1", "F2"),
    oracle="""
        WITH stg_orders AS (
            SELECT o_orderkey, o_custkey, o_orderdate
            FROM orders WHERE o_orderstatus <> 'P'
        ), dim AS (
            SELECT c.c_custkey AS custkey, r.r_name AS region
            FROM customer c
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
        ), fct AS (
            SELECT d.region,
                   EXTRACT(year FROM o.o_orderdate) AS order_year,
                   o.o_orderkey AS orderkey,
                   SUM(CAST(l.l_extendedprice AS DECIMAL(8,2))
                       * (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(3,2)))) AS net_rev
            FROM lineitem l
            JOIN stg_orders o ON l.l_orderkey = o.o_orderkey
            JOIN dim d ON o.o_custkey = d.custkey
            GROUP BY 1, 2, 3
        )
        SELECT region, order_year,
               COUNT(DISTINCT orderkey) AS n_orders,
               CAST(SUM(net_rev) AS DOUBLE) AS net_revenue
        FROM fct
        WHERE order_year >= 1993
        GROUP BY region, order_year
    """,
)
def redshift_script_etl_mart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim multi-statement Redshift ETL script (BEGIN / staging
    CTAS with DISTKEY-SORTKEY clauses / fact DDL / INSERT-SELECT /
    DELETE / final SELECT / COMMIT) executed by the script runner —
    the reference project's actual unit of work, end-to-end. The oracle
    recomposes the same chain as DuckDB CTEs with the DELETE folded into
    a WHERE.

    Scale: staged tables are lazy views, so the final aggregate's
    filters and column pruning push through every "temp table" into the
    parquet scans — the script plans identically to the hand-built
    etl_star_mart_publish DAG (operators/pipelines.py), with the dims
    broadcast and one shuffle per aggregation grain."""
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    names = {}
    for t in ("orders", "customer", "nation", "region", "lineitem"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(f"rs_sc_{t}")
        names[t] = f"rs_sc_{t}"
    out = run_redshift_script(spark, _SCRIPT_ETL_MART.format(**names))
    assert out is not None
    return out


_SCRIPT_UPSERT_SNAPSHOT = """
    BEGIN;

    CREATE TEMP TABLE daily_rollup AS
    SELECT TRUNC(ts) AS event_day, event_type,
           COUNT(*) AS n_events,
           SUM(CAST(value AS DECIMAL(8,2))) AS total_value
    FROM {events}
    WHERE ts < TIMESTAMP '2024-01-25 00:00:00'
    GROUP BY 1, 2;

    CREATE TEMP TABLE incr AS
    SELECT TRUNC(ts) AS event_day, event_type,
           COUNT(*) AS n_events,
           SUM(CAST(value AS DECIMAL(8,2))) AS total_value
    FROM {events}
    WHERE ts >= TIMESTAMP '2024-01-22 00:00:00'
    GROUP BY 1, 2;

    DELETE FROM daily_rollup WHERE event_day IN (SELECT event_day FROM incr);

    INSERT INTO daily_rollup
    SELECT event_day, event_type, n_events, total_value FROM incr;

    UPDATE daily_rollup
    SET event_type = UPPER(event_type)
    WHERE event_day >= DATE '2024-01-22';

    SELECT TO_CHAR(event_day, 'YYYY-MM-DD') AS day_str,
           event_type,
           n_events,
           CAST(total_value AS DOUBLE) AS total_value
    FROM daily_rollup;

    COMMIT;
"""


@register(
    "redshift_script_upsert_snapshot",
    tags=("E6", "S6", "A1"),
    oracle="""
        SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day_str,
               CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-22'
                    THEN UPPER(event_type) ELSE event_type END AS event_type,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(8,2))) AS DOUBLE) AS total_value
        FROM events
        GROUP BY 1, 2
    """,
)
def redshift_script_upsert_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classic Redshift delete-then-insert upsert script (E6 as a
    *script*, not an operator): base rollup to a cutoff, a 3-day-overlap
    incremental re-extract, DELETE of the overlapped days (IN-subquery
    predicate), positional INSERT, an UPDATE normalizing labels on the
    refreshed window, and a final snapshot SELECT. Because the refresh
    window re-derives exactly the days it deletes, the snapshot must
    equal a direct one-pass rollup over all events — which is the
    oracle, making the whole upsert chain self-verifying.

    Scale: each statement stays a lazy view, so the chain compiles to
    scan-side-filtered aggregations plus one hash-aggregate per grain;
    the DELETE's IN-subquery plans as a broadcast left-semi-anti join
    on ~30 day keys, never a corpus shuffle."""
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    load_table(spark, sf_dir, "events").createOrReplaceTempView("rs_sc_events")
    out = run_redshift_script(spark, _SCRIPT_UPSERT_SNAPSHOT.format(events="rs_sc_events"))
    assert out is not None
    return out


_SCRIPT_COPY_UNLOAD = """
    BEGIN;

    CREATE TEMP TABLE stg_docs (
        doc_id BIGINT,
        text VARCHAR(65535),
        lang VARCHAR(8),
        source VARCHAR(32),
        n_chars BIGINT
    );

    COPY stg_docs FROM '{csv_path}'
    IAM_ROLE 'arn:aws:iam::000000000000:role/etl-loader'
    FORMAT AS CSV
    IGNOREHEADER 1;

    CREATE TEMP TABLE lang_rollup AS
    SELECT lang, source,
           COUNT(*) AS n_docs,
           SUM(n_chars) AS total_chars
    FROM stg_docs
    GROUP BY 1, 2;

    UNLOAD ('SELECT lang, source, n_docs, total_chars FROM lang_rollup')
    TO '{out_path}'
    FORMAT AS PARQUET
    PARTITION BY (lang)
    ALLOWOVERWRITE;

    SELECT COUNT(*) AS n_grains FROM lang_rollup;

    COMMIT;
"""


@register(
    "redshift_script_copy_unload",
    tags=("S2", "S4", "S7", "A1"),
    oracle="""
        SELECT lang,
               COUNT(*) AS n_sources,
               CAST(SUM(n_docs) AS BIGINT) AS n_docs,
               CAST(SUM(total_chars) AS BIGINT) AS total_chars
        FROM (
            SELECT lang, source, COUNT(*) AS n_docs, SUM(n_chars) AS total_chars
            FROM documents
            GROUP BY 1, 2
        )
        GROUP BY lang
    """,
)
def redshift_script_copy_unload(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full Redshift ingest-export lifecycle as ONE verbatim script
    (S2+S4+S7): DDL declares the staging table, COPY bulk-loads CSV into
    it (schema from the DDL, IGNOREHEADER, auth clause ignored), a CTAS
    aggregates, and UNLOAD exports the rollup as lang-partitioned
    parquet. The builder then re-ingests the UNLOADed prefix via
    partition discovery and aggregates it — so a hash-match against the
    direct-on-documents oracle proves BOTH hops lossless (CSV→table and
    table→partitioned parquet).

    Scale: COPY reads with the declared schema (no inference pass);
    the UNLOAD partitions by the rollup grain so downstream readers get
    static pruning on lang; every staging step stays a lazy view.
    """
    import os

    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script
    from sql_redshift_etl_spark.sources.queries import _io_dir
    from sql_redshift_etl_spark.sources.readers import read_partitioned
    from sql_redshift_etl_spark.sources.writers import unload_csv

    csv_path = _io_dir(sf_dir, "script_docs_csv")
    out_path = _io_dir(sf_dir, "script_rollup_parquet")
    unload_csv(load_table(spark, sf_dir, "documents"), csv_path)
    out = run_redshift_script(
        spark, _SCRIPT_COPY_UNLOAD.format(csv_path=csv_path, out_path=out_path)
    )
    assert out is not None  # the script's final SELECT ran
    # Explicit schema: a zero-row UNLOAD emits no files (empty corpus
    # slice) and inference would throw where an empty relation is right.
    back = read_partitioned(
        spark, out_path,
        schema="lang STRING, source STRING, n_docs BIGINT, total_chars BIGINT",
    )
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_sources"),
        F.sum("n_docs").alias("n_docs"),
        F.sum("total_chars").alias("total_chars"),
    )


_SCRIPT_MANIFEST = """
    BEGIN;

    UNLOAD ('SELECT o_orderkey, o_orderstatus, o_totalprice FROM {orders}')
    TO '{out}'
    FORMAT AS PARQUET
    ALLOWOVERWRITE
    MANIFEST;

    CREATE TEMP TABLE back (
        o_orderkey BIGINT,
        o_orderstatus VARCHAR(1),
        o_totalprice DOUBLE
    );

    COPY back FROM '{out}/_manifest.json'
    IAM_ROLE 'arn:aws:iam::000000000000:role/etl-loader'
    FORMAT AS PARQUET
    MANIFEST;

    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM back
    GROUP BY 1;

    COMMIT;
"""


@register(
    "redshift_script_manifest_roundtrip",
    tags=("S4", "S7", "A1"),
    oracle="""
        SELECT o_orderstatus,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        FROM orders
        GROUP BY o_orderstatus
    """,
)
def redshift_script_manifest_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Redshift MANIFEST hand-off lifecycle as one verbatim script
    (S4+S7): UNLOAD ... MANIFEST exports orders and writes the
    Redshift-format file manifest, then COPY ... MANIFEST re-ingests
    EXACTLY the listed files (not a prefix listing), and the final
    aggregate hash-matches the direct-on-orders oracle — proving the
    manifest lists precisely the committed data.

    Scale: the manifest is what makes producer→consumer hand-offs
    race-free at 100 TB — a prefix reader can observe a half-written
    unload; a manifest reader (the manifest is written LAST) sees the
    exact committed file set, and a listed-but-missing file fails
    loudly before any data is read.
    """
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script
    from sql_redshift_etl_spark.sources.queries import _io_dir

    load_table(spark, sf_dir, "orders").createOrReplaceTempView("rs_mf_orders")
    out = run_redshift_script(
        spark,
        _SCRIPT_MANIFEST.format(orders="rs_mf_orders", out=_io_dir(sf_dir, "manifest_orders")),
    )
    assert out is not None
    return out


# Round-5 front-end battery: the real-script idioms from the r4 verdict —
# #temp table names, SIMILAR TO / NOT SIMILAR TO, DATE_PART_YEAR,
# NVL2 / GREATEST / LEAST (Spark-native, probe-verified), CONVERT(type, x),
# and LISTAGG's WINDOW form (WITHIN GROUP ... OVER (PARTITION BY ...)).
_SCRIPT_MISC2 = """
    BEGIN;

    CREATE TEMP TABLE #prio_orders AS
    SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate
    FROM {orders}
    WHERE o_orderpriority SIMILAR TO '(1|2)-%'
      AND o_orderstatus NOT SIMILAR TO 'P';

    SELECT order_year, status, n_orders, total_price, floor10, cap1000, has_jumbo,
           first_epoch, first_utc,
           LISTAGG(status, ',') WITHIN GROUP (ORDER BY status)
               OVER (PARTITION BY order_year) AS statuses_in_year
    FROM (
        SELECT DATE_PART_YEAR(o_orderdate) AS order_year,
               o_orderstatus AS status,
               COUNT(*) AS n_orders,
               CONVERT(DOUBLE, SUM(CONVERT(DECIMAL(18,2), o_totalprice))) AS total_price,
               CONVERT(BIGINT, GREATEST(COUNT(*), 10)) AS floor10,
               CONVERT(BIGINT, LEAST(COUNT(*), 1000)) AS cap1000,
               NVL2(MAX(CASE WHEN o_totalprice > 200000 THEN 1 END),
                    'jumbo', 'regular') AS has_jumbo,
               CONVERT(BIGINT, EXTRACT(EPOCH FROM MIN(o_orderdate))) AS first_epoch,
               MIN(o_orderdate) AT TIME ZONE 'America/New_York' AS first_utc
        FROM #prio_orders
        GROUP BY 1, 2
    ) yearly;

    COMMIT;
"""


@register(
    "redshift_sql_misc2",
    tags=("§2.7", "A5", "W4"),
    oracle="""
        WITH prio AS (
            -- DuckDB's SIMILAR TO takes a raw regex (no SQL % wildcard),
            -- so the oracle spells the anchored-regex semantics directly.
            SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate
            FROM orders
            WHERE regexp_full_match(o_orderpriority, '(1|2)-.*')
              AND NOT regexp_full_match(o_orderstatus, 'P')
        ), agg AS (
            SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS order_year,
                   o_orderstatus AS status,
                   COUNT(*) AS n_orders,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
                   CAST(GREATEST(COUNT(*), 10) AS BIGINT) AS floor10,
                   CAST(LEAST(COUNT(*), 1000) AS BIGINT) AS cap1000,
                   CASE WHEN MAX(CASE WHEN o_totalprice > 200000 THEN 1 END) IS NOT NULL
                        THEN 'jumbo' ELSE 'regular' END AS has_jumbo,
                   CAST(EXTRACT(EPOCH FROM MIN(o_orderdate)) AS BIGINT) AS first_epoch,
                   timezone('UTC', timezone('America/New_York', MIN(o_orderdate))) AS first_utc
            FROM prio GROUP BY 1, 2
        ), per_year AS (
            SELECT order_year, string_agg(status, ',' ORDER BY status) AS statuses_in_year
            FROM agg GROUP BY order_year
        )
        SELECT a.order_year, a.status, a.n_orders, a.total_price,
               a.floor10, a.cap1000, a.has_jumbo, a.first_epoch, a.first_utc,
               p.statuses_in_year
        FROM agg a JOIN per_year p ON a.order_year = p.order_year
    """,
)
def redshift_sql_misc2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-5 real-script idioms as ONE verbatim Redshift script:
    a #temp staging table (session-temp spelling), SIMILAR TO and NOT
    SIMILAR TO filters (→ anchored RLIKE), DATE_PART_YEAR, CONVERT
    casts, NVL2/GREATEST/LEAST (Spark-native), EXTRACT(EPOCH FROM …)
    (→ unix_timestamp), the postfix AT TIME ZONE operator (→
    to_utc_timestamp, operand backward-scanned), and the WINDOW form of
    LISTAGG (WITHIN GROUP ordering + OVER (PARTITION BY) — the OVER
    attaches to the inner collect_list). The DuckDB oracle spells the
    anchored-regex semantics via regexp_full_match (DuckDB's SIMILAR TO
    takes a raw regex, not the SQL %/_ dialect) and replaces the window
    LISTAGG with a grouped string_agg joined back per year.

    Unsupported neighbors stay LOUD, not silent (unit-tested):
    SIMILAR TO ... ESCAPE, non-literal SIMILAR TO patterns, and window
    LISTAGG with ORDER BY inside OVER all raise named errors.

    Scale: the SIMILAR TO predicate is a row-local RLIKE pushed to the
    scan; one shuffle for the (year, status) aggregate; the window
    LISTAGG partitions by year over the tiny aggregated frame.
    """
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    load_table(spark, sf_dir, "orders").createOrReplaceTempView("rs_misc2_orders")
    out = run_redshift_script(spark, _SCRIPT_MISC2.format(orders="rs_misc2_orders"))
    assert out is not None
    return out


# The rebuild-and-swap publish idiom (r5): consumers read fct_daily while
# the new version builds under a scratch name; two RENAMEs swap it in
# "atomically" (in Redshift, inside the transaction), and the old
# version is dropped. CREATE TABLE (LIKE ...) pins the new build to the
# published schema.
_SCRIPT_SWAP_PUBLISH = """
    BEGIN;

    CREATE TABLE fct_daily AS
    SELECT TO_CHAR(o_orderdate, 'YYYY-MM-DD') AS day_str,
           COUNT(*) AS n_orders,
           CAST(SUM(CONVERT(DECIMAL(18,2), o_totalprice)) AS DOUBLE) AS total_price
    FROM {orders}
    WHERE o_orderstatus = 'F'
    GROUP BY 1;

    CREATE TABLE fct_daily_new (LIKE fct_daily);

    INSERT INTO fct_daily_new
    SELECT TO_CHAR(o_orderdate, 'YYYY-MM-DD') AS day_str,
           COUNT(*) AS n_orders,
           CAST(SUM(CONVERT(DECIMAL(18,2), o_totalprice)) AS DOUBLE) AS total_price
    FROM {orders}
    GROUP BY 1;

    ALTER TABLE fct_daily RENAME TO fct_daily_old;
    ALTER TABLE fct_daily_new RENAME TO fct_daily;
    DROP TABLE fct_daily_old;

    SELECT day_str, n_orders, total_price FROM fct_daily;

    COMMIT;
"""


@register(
    "redshift_script_swap_publish",
    tags=("S6", "A1"),
    oracle="""
        SELECT strftime(o_orderdate, '%Y-%m-%d') AS day_str,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        FROM orders
        GROUP BY 1
    """,
)
def redshift_script_swap_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Redshift rebuild-and-swap publish pattern as ONE verbatim
    script (S6): build v1 (F-status only), rebuild v2 under a scratch
    name pinned to v1's schema via CREATE TABLE (LIKE ...), then two
    ALTER TABLE RENAMEs swap v2 in and the old version is dropped. The
    final SELECT reads the published name and must see v2 (all
    statuses) — which is exactly what the oracle computes directly, so
    a hash match proves the swap actually moved the new build into
    place (a broken rename would leave v1's F-only rows and fail).

    Scale: the swap is metadata-only in script scope (and in Redshift a
    catalog operation inside the transaction) — consumers never observe
    a half-built table; the builds themselves are one-shuffle rollups.
    """
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    load_table(spark, sf_dir, "orders").createOrReplaceTempView("rs_swap_orders")
    out = run_redshift_script(spark, _SCRIPT_SWAP_PUBLISH.format(orders="rs_swap_orders"))
    assert out is not None
    return out


# UPDATE ... FROM — the join-based price-adjustment every warehouse ETL
# runs. Factors are binary-exact (0.5 / 2.0 / 1.0) so the updated
# doubles are bit-identical across engines; sums use DECIMAL(18,4)
# because halving a 2-dp price yields 3 decimal places.
_SCRIPT_UPDATE_FROM = """
    BEGIN;

    CREATE TEMP TABLE #adj (status VARCHAR(1), factor DOUBLE PRECISION);
    INSERT INTO #adj VALUES ('F', 0.5), ('O', 2.0);

    CREATE TEMP TABLE ords AS
    SELECT o_orderkey, o_orderstatus, o_totalprice FROM {orders};

    UPDATE ords SET o_totalprice = ords.o_totalprice * a.factor
    FROM #adj a
    WHERE ords.o_orderstatus = a.status;

    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           CAST(SUM(CONVERT(DECIMAL(18,4), o_totalprice)) AS DOUBLE) AS total_price
    FROM ords
    GROUP BY 1;

    COMMIT;
"""


@register(
    "redshift_script_update_from",
    tags=("S6", "A1", "J1"),
    oracle="""
        SELECT o_orderstatus,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice *
                   CASE o_orderstatus WHEN 'F' THEN 0.5 WHEN 'O' THEN 2.0 ELSE 1.0 END
                   AS DECIMAL(18,4))) AS DOUBLE) AS total_price
        FROM orders
        GROUP BY o_orderstatus
    """,
)
def redshift_script_update_from(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-based UPDATE ... FROM as a verbatim script (the warehouse
    price-adjustment idiom): a #temp factor table drives a keyed update
    of the staged orders, and the rollup hash-matches an oracle that
    applies the same factors directly — proving each row updated exactly
    once with its matching factor (P-status rows untouched).

    Scale: the update is one equi-join on the factor key (the factor
    side broadcasts) plus a rowid-keyed left join back — no row
    explosion on multi-match sources by construction (script_runner
    picks one match per target row, Redshift's own contract).
    """
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    load_table(spark, sf_dir, "orders").createOrReplaceTempView("rs_updf_orders")
    out = run_redshift_script(spark, _SCRIPT_UPDATE_FROM.format(orders="rs_updf_orders"))
    assert out is not None
    return out


_SCRIPT_SCD2 = """
    BEGIN;

    CREATE TEMP TABLE dim AS
    SELECT c_custkey,
           CASE WHEN c_acctbal < 0 THEN 'neg'
                WHEN c_acctbal < 5000 THEN 'mid'
                ELSE 'high' END AS band,
           '2020-01-01' AS valid_from,
           '9999-12-31' AS valid_to,
           TRUE AS is_current
    FROM {customer};

    CREATE TEMP TABLE staged AS
    SELECT c_custkey,
           CASE WHEN c_acctbal < 2500 THEN 'mid' ELSE 'high' END AS band
    FROM {customer} WHERE MOD(c_custkey, 7) = 0;

    -- close out current rows whose attribute actually changed
    UPDATE dim SET valid_to = '2024-06-01', is_current = FALSE
    FROM staged s
    WHERE dim.c_custkey = s.c_custkey
      AND dim.is_current = TRUE AND dim.band <> s.band;

    -- open a new version for every staged key with no surviving
    -- current row (changed rows were just closed; no-change rows keep
    -- their current version and must NOT duplicate)
    INSERT INTO dim
    SELECT s.c_custkey, s.band, '2024-06-01', '9999-12-31', TRUE
    FROM staged s
    WHERE NOT EXISTS (
        SELECT 1 FROM dim d
        WHERE d.c_custkey = s.c_custkey AND d.is_current = TRUE
    );

    COMMIT;

    SELECT band, is_current,
           COUNT(*) AS n_rows,
           CAST(SUM(c_custkey) AS BIGINT) AS key_sum,
           MIN(valid_to) AS min_valid_to
    FROM dim
    GROUP BY band, is_current;
"""


@register(
    "redshift_script_scd2_dimension",
    tags=("S6", "J1"),
    oracle="""
        WITH base AS (
            SELECT c_custkey,
                   CASE WHEN c_acctbal < 0 THEN 'neg'
                        WHEN c_acctbal < 5000 THEN 'mid'
                        ELSE 'high' END AS band0
            FROM customer
        ),
        staged AS (
            SELECT c_custkey,
                   CASE WHEN c_acctbal < 2500 THEN 'mid' ELSE 'high' END AS band1
            FROM customer WHERE c_custkey % 7 = 0
        ),
        changed AS (
            SELECT b.c_custkey, b.band0, s.band1
            FROM base b JOIN staged s USING (c_custkey)
            WHERE s.band1 <> b.band0
        ),
        dim AS (
            SELECT c_custkey, band0 AS band,
                   c_custkey NOT IN (SELECT c_custkey FROM changed) AS is_current,
                   CASE WHEN c_custkey IN (SELECT c_custkey FROM changed)
                        THEN '2024-06-01' ELSE '9999-12-31' END AS valid_to
            FROM base
            UNION ALL
            SELECT c_custkey, band1, TRUE, '9999-12-31' FROM changed
        )
        SELECT band, is_current,
               COUNT(*) AS n_rows,
               CAST(SUM(c_custkey) AS BIGINT) AS key_sum,
               MIN(valid_to) AS min_valid_to
        FROM dim
        GROUP BY band, is_current
    """,
)
def redshift_script_scd2_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2 maintenance (r8) — the classic
    warehouse ETL the reference class of repo exists for: staged
    attribute changes close out the matching CURRENT dimension rows
    (UPDATE ... FROM sets valid_to + clears the flag, only where the
    attribute actually changed) and open new versions (INSERT ... WHERE
    NOT EXISTS a surviving current row — no-change keys must not
    duplicate). The verbatim-script end state hash-matches a DuckDB
    oracle that derives the same dimension declaratively; version
    counts, key membership, and the closed-row valid_to are all
    load-bearing.

    Scale: one broadcastable equi-join per step (staged is the small
    delta side by construction); the anti-join NOT EXISTS plans as a
    LeftAnti on the same key. No corpus-wide shuffle — per-ingest cost
    scales with the delta, the same argument as events_incremental_load.
    """
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    load_table(spark, sf_dir, "customer").createOrReplaceTempView("rs_scd_customer")
    out = run_redshift_script(spark, _SCRIPT_SCD2.format(customer="rs_scd_customer"))
    assert out is not None
    return out


_SCRIPT_MERGE_INTO = """
    BEGIN;

    CREATE TEMP TABLE dim_cust AS
    SELECT c_custkey, c_name, c_acctbal FROM {customer} WHERE c_custkey <= 800;

    CREATE TEMP TABLE delta AS
    SELECT c_custkey, c_custkey % 997 AS adj, UPPER(c_name) AS new_name
    FROM {customer} WHERE c_custkey BETWEEN 401 AND 1200;

    MERGE INTO dim_cust USING delta d ON dim_cust.c_custkey = d.c_custkey
    WHEN MATCHED THEN UPDATE
        SET c_acctbal = dim_cust.c_acctbal + d.adj, c_name = d.new_name
    WHEN NOT MATCHED THEN
        INSERT (c_custkey, c_name, c_acctbal) VALUES (d.c_custkey, d.new_name, d.adj);

    CREATE TEMP TABLE churn AS
    SELECT c_custkey FROM {customer}
    WHERE c_custkey <= 150 OR c_custkey BETWEEN 1300 AND 1350;

    MERGE INTO dim_cust USING churn ON dim_cust.c_custkey = churn.c_custkey
    WHEN MATCHED THEN DELETE
    WHEN NOT MATCHED THEN
        INSERT (c_custkey, c_name, c_acctbal) VALUES (churn.c_custkey, 'GHOST', 0);

    SELECT c_custkey, c_name, CAST(c_acctbal AS DOUBLE) AS acctbal
    FROM dim_cust;

    COMMIT;
"""


@register(
    "redshift_script_merge_into",
    tags=("E6", "S6"),
    oracle="""
        WITH dim AS (
            SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_custkey <= 800
        ), delta AS (
            SELECT c_custkey, c_custkey % 997 AS adj, UPPER(c_name) AS new_name
            FROM customer WHERE c_custkey BETWEEN 401 AND 1200
        ), merged1 AS (
            SELECT COALESCE(t.c_custkey, d.c_custkey) AS c_custkey,
                   CASE WHEN t.c_custkey IS NOT NULL AND d.c_custkey IS NOT NULL
                            THEN d.new_name
                        WHEN t.c_custkey IS NOT NULL THEN t.c_name
                        ELSE d.new_name END AS c_name,
                   CASE WHEN t.c_custkey IS NOT NULL AND d.c_custkey IS NOT NULL
                            THEN t.c_acctbal + d.adj
                        WHEN t.c_custkey IS NOT NULL THEN t.c_acctbal
                        ELSE CAST(d.adj AS DOUBLE) END AS c_acctbal
            FROM dim t FULL OUTER JOIN delta d ON t.c_custkey = d.c_custkey
        ), churn AS (
            SELECT c_custkey FROM customer
            WHERE c_custkey <= 150 OR c_custkey BETWEEN 1300 AND 1350
        ), merged2 AS (
            SELECT COALESCE(t.c_custkey, c.c_custkey) AS c_custkey,
                   CASE WHEN t.c_custkey IS NOT NULL THEN t.c_name
                        ELSE 'GHOST' END AS c_name,
                   CASE WHEN t.c_custkey IS NOT NULL THEN t.c_acctbal
                        ELSE CAST(0 AS DOUBLE) END AS c_acctbal
            FROM merged1 t FULL OUTER JOIN churn c ON t.c_custkey = c.c_custkey
            WHERE NOT (t.c_custkey IS NOT NULL AND c.c_custkey IS NOT NULL)
        )
        SELECT c_custkey, c_name, CAST(c_acctbal AS DOUBLE) AS acctbal
        FROM merged2
    """,
)
def redshift_script_merge_into(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO as a verbatim script statement (the last SQL-DML
    spelling): an upsert MERGE (matched rows re-priced and renamed,
    unmatched delta rows inserted) followed by a churn MERGE exercising
    WHEN MATCHED THEN DELETE + literal-valued inserts, with the full
    merged table hash-checked against a composed full-outer-join oracle
    — every row's provenance (updated / kept / inserted / deleted)
    proven by value.

    Scale: each MERGE is ONE key-partitioned full-outer join
    (operators/merge.py) plus a window count on the delta side for the
    multiple-match guard — no row explosion, no driver collection; the
    broadcast two-branch variant remains available on the operator for
    delta ≪ target (see merge_upsert).
    """
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    load_table(spark, sf_dir, "customer").createOrReplaceTempView("rs_mrg_customer")
    out = run_redshift_script(spark, _SCRIPT_MERGE_INTO.format(customer="rs_mrg_customer"))
    assert out is not None
    return out


_SCRIPT_MERGE_DEDUP = """
    BEGIN;

    CREATE TEMP TABLE snap AS
    SELECT c_custkey, c_name, c_acctbal FROM {customer} WHERE c_custkey <= 600;

    -- duplicate a slice of the snapshot to prove matched-dup collapse
    INSERT INTO snap
    SELECT c_custkey, c_name, c_acctbal FROM {customer}
    WHERE c_custkey BETWEEN 100 AND 260;

    CREATE TEMP TABLE fresh AS
    SELECT c_custkey, UPPER(c_name) AS c_name, c_acctbal + 1000 AS c_acctbal
    FROM {customer} WHERE c_custkey BETWEEN 200 AND 900;

    MERGE INTO snap USING fresh ON snap.c_custkey = fresh.c_custkey
    REMOVE DUPLICATES;

    SELECT c_custkey, c_name, CAST(c_acctbal AS DOUBLE) AS acctbal
    FROM snap;

    COMMIT;
"""


@register(
    "redshift_script_merge_remove_dups",
    tags=("E6", "S6"),
    oracle="""
        WITH snap AS (
            SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_custkey <= 600
            UNION ALL
            SELECT c_custkey, c_name, c_acctbal FROM customer
            WHERE c_custkey BETWEEN 100 AND 260
        ), fresh AS (
            SELECT c_custkey, UPPER(c_name) AS c_name, c_acctbal + 1000 AS c_acctbal
            FROM customer WHERE c_custkey BETWEEN 200 AND 900
        )
        SELECT c_custkey, c_name, CAST(c_acctbal AS DOUBLE) AS acctbal
        FROM snap WHERE c_custkey NOT IN (SELECT c_custkey FROM fresh)
        UNION ALL
        SELECT c_custkey, c_name, CAST(c_acctbal AS DOUBLE) AS acctbal
        FROM fresh
    """,
)
def redshift_script_merge_remove_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redshift's SIMPLIFIED MERGE (`ON cond REMOVE DUPLICATES`, no WHEN
    clauses) as a verbatim script: a snapshot with a deliberately
    duplicated key slice is merged with a fresh extract — matched keys
    (dups included) collapse to the single fresh row, unmatched snapshot
    rows (including their duplicates outside the fresh range) survive
    as-is, and new fresh keys insert. The full table hash-checks against
    an anti-join ∪ source oracle; the source here is key-unique so the
    deterministic-winner rule is not load-bearing in the hash.

    Scale: one left-anti join + one window dedup on the merge key — two
    key-partitioned shuffles, no row explosion (llm/dedup's exact-dedup
    posture applied to DML).
    """
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    load_table(spark, sf_dir, "customer").createOrReplaceTempView("rs_mrd_customer")
    out = run_redshift_script(spark, _SCRIPT_MERGE_DEDUP.format(customer="rs_mrd_customer"))
    assert out is not None
    return out


_SCRIPT_SCHEMA_EVOLUTION = """
    BEGIN;

    CREATE TEMP TABLE mart AS
    SELECT o_orderkey, o_orderstatus, o_totalprice FROM {orders}
    WHERE o_orderkey <= 2000;

    -- the additive-migration idiom: add with default, backfill, rename
    ALTER TABLE mart ADD COLUMN tier VARCHAR(8) DEFAULT 'STD';
    UPDATE mart SET tier = 'BIG' WHERE o_totalprice > 200000;
    ALTER TABLE mart ADD COLUMN price_k DOUBLE;
    UPDATE mart SET price_k = o_totalprice / 1000.0;
    ALTER TABLE mart RENAME COLUMN o_orderstatus TO status;
    ALTER TABLE mart DROP COLUMN o_totalprice;

    SELECT status, tier,
           COUNT(*) AS n_orders,
           CAST(SUM(CONVERT(DECIMAL(18,6), price_k)) AS DOUBLE) AS sum_price_k
    FROM mart
    GROUP BY 1, 2;

    COMMIT;
"""


@register(
    "redshift_script_schema_evolution",
    tags=("S6",),
    oracle="""
        SELECT o_orderstatus AS status,
               CASE WHEN o_totalprice > 200000 THEN 'BIG' ELSE 'STD' END AS tier,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice / 1000.0 AS DECIMAL(18,6))) AS DOUBLE)
                   AS sum_price_k
        FROM orders
        WHERE o_orderkey <= 2000
        GROUP BY 1, 2
    """,
)
def redshift_script_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The additive schema-migration idiom as a verbatim script (r6):
    ALTER TABLE ADD COLUMN with DEFAULT backfill, expression backfill
    via UPDATE, RENAME COLUMN, DROP COLUMN — then a rollup over the
    evolved schema hash-checked against an oracle computing the same
    result directly from the base table, proving every step (default
    fill, conditional backfill, rename, drop) preserved row values.

    Scale: ADD/RENAME/DROP are projection-only (zero shuffle, zero
    data movement — exactly why warehouses make them metadata ops);
    the backfills are row-local CASE projections.
    """
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    load_table(spark, sf_dir, "orders").createOrReplaceTempView("rs_sev_orders")
    out = run_redshift_script(spark, _SCRIPT_SCHEMA_EVOLUTION.format(orders="rs_sev_orders"))
    assert out is not None
    return out


_SCRIPT_MATERIALIZED_VIEW = """
    BEGIN;

    CREATE TEMP TABLE base AS
    SELECT o_orderkey, o_orderstatus, o_totalprice FROM {orders}
    WHERE o_orderkey <= 4000;

    CREATE MATERIALIZED VIEW status_mv AUTO REFRESH NO AS
    SELECT o_orderstatus AS status,
           COUNT(*) AS n_orders,
           CAST(SUM(CONVERT(DECIMAL(18,6), o_totalprice)) AS DOUBLE) AS total
    FROM base
    GROUP BY 1;

    -- base moves on; the MV must NOT see this until REFRESH
    INSERT INTO base
    SELECT o_orderkey, o_orderstatus, o_totalprice FROM {orders}
    WHERE o_orderkey BETWEEN 4001 AND 12000;

    SELECT status, n_orders, total INTO #stale FROM status_mv;

    REFRESH MATERIALIZED VIEW status_mv;

    SELECT f.status,
           s.n_orders AS stale_n, s.total AS stale_total,
           f.n_orders AS fresh_n, f.total AS fresh_total
    FROM status_mv f
    LEFT JOIN #stale s ON s.status = f.status;

    DROP TABLE IF EXISTS base, status_mv CASCADE;

    COMMIT;
"""


@register(
    "redshift_script_materialized_view",
    tags=("S6",),
    oracle="""
        WITH stale AS (
            SELECT o_orderstatus AS status, COUNT(*) AS n_orders,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
            FROM orders WHERE o_orderkey <= 4000 GROUP BY 1
        ), fresh AS (
            SELECT o_orderstatus AS status, COUNT(*) AS n_orders,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
            FROM orders WHERE o_orderkey <= 12000 GROUP BY 1
        )
        SELECT f.status,
               s.n_orders AS stale_n, s.total AS stale_total,
               f.n_orders AS fresh_n, f.total AS fresh_total
        FROM fresh f LEFT JOIN stale s ON s.status = f.status
    """,
)
def redshift_script_materialized_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view lifecycle as a verbatim script (r6): CREATE
    MATERIALIZED VIEW snapshots its defining rollup, a later INSERT into
    the base is provably invisible (the stale snapshot is captured with
    Redshift's SELECT ... INTO one-line CTAS), REFRESH re-runs the
    stored definition, and the final join hash-checks BOTH generations
    against an oracle computing each slice directly — so staleness,
    refresh, SELECT INTO, and the comma-list DROP are all load-bearing.

    Scale: the MV is one grouped rollup (partial-agg shuffle on the
    5-value status key); REFRESH re-runs exactly that plan — no
    incremental-maintenance machinery to go quadratic at 100 TB.
    """
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    load_table(spark, sf_dir, "orders").createOrReplaceTempView("rs_mv_orders")
    out = run_redshift_script(spark, _SCRIPT_MATERIALIZED_VIEW.format(orders="rs_mv_orders"))
    assert out is not None
    return out


_SCRIPT_STORED_PROC = """
    BEGIN;

    CREATE TEMP TABLE summary (
        batch VARCHAR(8), priority VARCHAR(16), n BIGINT, total DOUBLE PRECISION
    );

    CREATE OR REPLACE PROCEDURE load_batch(p_batch VARCHAR(8), p_lo BIGINT, p_hi BIGINT)
    AS $$
    BEGIN
        INSERT INTO summary
        SELECT p_batch, o_orderpriority, COUNT(*),
               CAST(SUM(CONVERT(DECIMAL(18,6), o_totalprice)) AS DOUBLE PRECISION)
        FROM {orders}
        WHERE o_orderkey BETWEEN p_lo AND p_hi
        GROUP BY o_orderpriority;
        COMMIT;
    END;
    $$ LANGUAGE plpgsql;

    CALL load_batch('b1', 1, 6000);
    CALL load_batch('b2', 6001, 15000);
    DROP PROCEDURE load_batch;

    SELECT batch, priority, n, total FROM summary;

    COMMIT;
"""


@register(
    "redshift_script_stored_procedure",
    tags=("S6",),
    oracle="""
        WITH b1 AS (
            SELECT 'b1' AS batch, o_orderpriority AS priority, COUNT(*) AS n,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
            FROM orders WHERE o_orderkey BETWEEN 1 AND 6000 GROUP BY 2
        ), b2 AS (
            SELECT 'b2' AS batch, o_orderpriority AS priority, COUNT(*) AS n,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
            FROM orders WHERE o_orderkey BETWEEN 6001 AND 15000 GROUP BY 2
        )
        SELECT batch, priority, n, total FROM b1
        UNION ALL
        SELECT batch, priority, n, total FROM b2
    """,
)
def redshift_script_stored_procedure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stored procedures as the orchestration unit (r6): a verbatim
    `CREATE PROCEDURE ... $$ BEGIN ... END $$ LANGUAGE plpgsql` whose
    straight-line body loads a parameterized batch rollup, CALLed twice
    with different IN arguments, then dropped — the parameter
    substitution is load-bearing in the hash (each batch's key range
    and label come only from CALL args). Oracle computes both batch
    slices directly.

    Scale: each CALL is one grouped rollup over a key-range filter that
    pushes to the scan; the procedure machinery itself is pure
    statement expansion — zero extra jobs, shuffles, or materialization
    beyond the statements it contains.
    """
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    load_table(spark, sf_dir, "orders").createOrReplaceTempView("rs_sp_orders")
    out = run_redshift_script(spark, _SCRIPT_STORED_PROC.format(orders="rs_sp_orders"))
    assert out is not None
    return out


_REDSHIFT_MISC4 = """
    SELECT o_orderkey,
           CAST(NEXT_DAY(o_orderdate, 'MON') AS VARCHAR) AS next_mon,
           ROUND(MONTHS_BETWEEN(DATE '1998-01-15', o_orderdate), 6) AS mb,
           WIDTH_BUCKET(o_totalprice, 0, 600000, 12) AS price_bucket,
           GET_BYTE(o_orderstatus, 0) AS status_byte
    FROM {orders}
    WHERE o_orderkey <= 2000
"""


@register(
    "redshift_sql_misc4",
    tags=("§2.7",),
    oracle="""
        SELECT o_orderkey,
               CAST(CAST(o_orderdate + to_days(CAST(
                   CASE WHEN (8 - CAST(strftime(o_orderdate, '%w') AS INT)) % 7 = 0
                        THEN 7
                        ELSE (8 - CAST(strftime(o_orderdate, '%w') AS INT)) % 7 END
                   AS INT)) AS DATE) AS VARCHAR) AS next_mon,
               ROUND((1998 - EXTRACT(YEAR FROM o_orderdate)) * 12
                     + (1 - EXTRACT(MONTH FROM o_orderdate))
                     + (15 - EXTRACT(DAY FROM o_orderdate)) / 31.0, 6) AS mb,
               CAST(floor(CAST(o_totalprice AS DOUBLE)
                          / (CAST(600000 AS DOUBLE) / 12)) AS BIGINT) + 1
                   AS price_bucket,
               ascii(o_orderstatus) AS status_byte
        FROM orders
        WHERE o_orderkey <= 2000
    """,
)
def redshift_sql_misc4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar surface round 6b: NEXT_DAY / MONTHS_BETWEEN /
    WIDTH_BUCKET pass through to Spark's natives (the oracle replays
    each definition arithmetically — strictly-after next-weekday,
    months + day-delta/31 with Spark's 8-digit rounding pinned by
    ROUND 6, floor((v-lo)/((hi-lo)/n))+1 bucketing); GET_BYTE rewrites
    to a binary substring (redshift_sql._rewrite_get_byte). DIFFERENCE
    (soundex match count, _rewrite_difference) and SOUNDEX itself are
    pytest-pinned with literal expectations — DuckDB has no soundex to
    oracle against.

    Scale: all row-local projections inside whole-stage codegen; the
    key filter pushes to the scan.
    """
    from sql_redshift_etl_spark.functions.redshift_sql import translate_redshift_sql

    load_table(spark, sf_dir, "orders").createOrReplaceTempView("rs_m4_orders")
    return spark.sql(
        translate_redshift_sql(_REDSHIFT_MISC4.format(orders="rs_m4_orders"))
    )


_REDSHIFT_MISC5 = """
    SELECT doc_id,
           CAST(JSON_ARRAY_LENGTH('[' || REPLICATE('1,', MOD(doc_id, 3)) || '9]')
               AS BIGINT) AS arr_len,
           JSON_EXTRACT_ARRAY_ELEMENT_TEXT(
               '[' || REPLICATE('1,', MOD(doc_id, 3)) || '9]', 0) AS first_elem,
           IS_VALID_JSON(CASE WHEN MOD(doc_id, 5) = 0 THEN '{{oops'
                              ELSE '{{"n": ' || n_chars || '}}' END) AS obj_ok,
           IS_VALID_JSON('[' || n_chars || ']') AS arr_as_obj,
           IS_VALID_JSON_ARRAY('[' || n_chars || ']') AS arr_ok,
           SPLIT_TO_ARRAY(source || '.' || lang, '.')[1] AS split_lang
    FROM {documents}
    WHERE doc_id <= 400
"""


@register(
    "redshift_sql_misc5",
    tags=("§2.7",),
    oracle="""
        SELECT doc_id,
               CAST(1 + doc_id % 3 AS BIGINT) AS arr_len,
               CASE WHEN doc_id % 3 = 0 THEN '9' ELSE '1' END AS first_elem,
               (doc_id % 5 <> 0) AS obj_ok,
               FALSE AS arr_as_obj,
               TRUE AS arr_ok,
               string_split(source || '.' || lang, '.')[2] AS split_lang
        FROM documents
        WHERE doc_id <= 400
    """,
)
def redshift_sql_misc5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar surface round 8 — the Redshift JSON battery
    (redshift_sql._rewrite_json_fns): JSON_ARRAY_LENGTH over arrays of
    varying length (built per row with REPLICATE), 0-indexed
    JSON_EXTRACT_ARRAY_ELEMENT_TEXT, IS_VALID_JSON (true objects, FALSE
    for arrays and malformed text — Redshift splits array validation
    into IS_VALID_JSON_ARRAY), and SPLIT_TO_ARRAY with a '.' delimiter —
    load-bearing for the regex-quoting rewrite (an unquoted '.' would
    split on every character). The oracle replays each definition
    arithmetically, so every semantic is value-checked, not just
    shape-checked.

    Scale: all row-local projections inside whole-stage codegen; the
    key filter pushes to the scan.
    """
    from sql_redshift_etl_spark.functions.redshift_sql import translate_redshift_sql

    load_table(spark, sf_dir, "documents").createOrReplaceTempView("rs_m5_documents")
    return spark.sql(
        translate_redshift_sql(_REDSHIFT_MISC5.format(documents="rs_m5_documents"))
    )


_SCRIPT_TRANSACTIONS = """
    CREATE TEMP TABLE ledger (grp VARCHAR(32), n BIGINT, total DOUBLE PRECISION);
    INSERT INTO ledger
    SELECT o_orderpriority, COUNT(*),
           CAST(SUM(CONVERT(DECIMAL(18,6), o_totalprice)) AS DOUBLE PRECISION)
    FROM {orders} WHERE o_orderstatus = 'F' GROUP BY o_orderpriority;

    BEGIN;
    UPDATE ledger SET n = -1;
    INSERT INTO ledger VALUES ('JUNK', 0, 0.0);
    ROLLBACK;

    BEGIN;
    INSERT INTO ledger
    SELECT 'TOTAL-' || o_orderstatus, COUNT(*),
           CAST(SUM(CONVERT(DECIMAL(18,6), o_totalprice)) AS DOUBLE PRECISION)
    FROM {orders} GROUP BY o_orderstatus;
    COMMIT;

    SELECT grp, n, total FROM ledger;
"""


@register(
    "redshift_script_transactions",
    tags=("S6",),
    oracle="""
        SELECT o_orderpriority AS grp, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
        FROM orders WHERE o_orderstatus = 'F' GROUP BY 1
        UNION ALL
        SELECT 'TOTAL-' || o_orderstatus, COUNT(*),
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
        FROM orders GROUP BY o_orderstatus
    """,
)
def redshift_script_transactions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit transactions (r6): BEGIN snapshots the script state,
    ROLLBACK restores it (a rolled-back UPDATE-all + junk INSERT leave
    no trace — load-bearing in the hash), COMMIT makes the second batch
    permanent. Previously ROLLBACK was a silent keep-changes no-op — a
    contract violation under the module's own loud policy.

    Scale: a snapshot is shallow dict copies of immutable DataFrame
    bindings — O(#tables) driver-side, no data copied, no extra jobs;
    rollback re-registers the old plans.
    """
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    load_table(spark, sf_dir, "orders").createOrReplaceTempView("rs_tx_orders")
    out = run_redshift_script(spark, _SCRIPT_TRANSACTIONS.format(orders="rs_tx_orders"))
    assert out is not None
    return out


_SCRIPT_PROC_CONTROL_FLOW = """
    CREATE SCHEMA mart;
    CREATE TEMP TABLE mart.monthly (m BIGINT, n BIGINT, total DOUBLE PRECISION)
        ON COMMIT PRESERVE ROWS;
    SET search_path TO '$user', public, mart;

    CREATE PROCEDURE build(p_year INT) AS $$
    DECLARE
        v_pad BIGINT;
    BEGIN
        FOR mm IN 1..3 LOOP
            INSERT INTO monthly
            SELECT mm, COUNT(*),
                   CAST(SUM(CONVERT(DECIMAL(18,6), o_totalprice)) AS DOUBLE PRECISION)
            FROM {orders}
            WHERE EXTRACT(YEAR FROM o_orderdate) = p_year
              AND EXTRACT(MONTH FROM o_orderdate) = mm;
        END LOOP;
        IF (SELECT COUNT(*) FROM monthly) = 0 THEN
            RAISE EXCEPTION 'no rows loaded for %', p_year;
        ELSIF (SELECT MIN(n) FROM monthly) < 0 THEN
            RAISE EXCEPTION 'negative counts';
        ELSE
            RAISE NOTICE 'loaded % months', (SELECT COUNT(*) FROM monthly);
        END IF;
        WHILE (SELECT COUNT(*) FROM monthly) < 5 LOOP
            SELECT MAX(m) + 100 INTO v_pad FROM monthly;
            INSERT INTO monthly VALUES (v_pad, -1, 0.0);
        END LOOP;
    END;
    $$ LANGUAGE plpgsql;

    CALL build(1995);
    SELECT m, n, total FROM mart.monthly;
"""


@register(
    "redshift_script_proc_control_flow",
    tags=("S6",),
    oracle="""
        WITH base AS (
            SELECT CAST(EXTRACT(MONTH FROM o_orderdate) AS BIGINT) AS m,
                   COUNT(*) AS n,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
            FROM orders
            WHERE EXTRACT(YEAR FROM o_orderdate) = 1995
              AND EXTRACT(MONTH FROM o_orderdate) <= 3
            GROUP BY 1
        )
        SELECT m, n, total FROM base
        UNION ALL SELECT CAST(103 AS BIGINT), CAST(-1 AS BIGINT), CAST(0.0 AS DOUBLE)
        UNION ALL SELECT CAST(203 AS BIGINT), CAST(-1 AS BIGINT), CAST(0.0 AS DOUBLE)
    """,
)
def redshift_script_proc_control_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """plpgsql control flow in procedures (r6): a verbatim body using
    FOR mm IN 1..3 (textual loop-variable substitution), IF/ELSIF/ELSE
    with scalar-subquery conditions, RAISE EXCEPTION guards (not
    taken) + RAISE NOTICE (taken, a log-level no-op), a DECLAREd
    variable assigned per-iteration via SELECT ... INTO, and a WHILE
    that re-evaluates table state per iteration (pads the rollup to
    exactly 5 rows: 103 then 203) — every construct is load-bearing in
    the hash. SET search_path resolution is too: the body's unqualified
    `monthly` references resolve to the declared `mart` schema.

    Scale: control flow is driver-side statement expansion — each
    condition is a one-row scalar query, each iteration's INSERT is the
    same pushed-filter rollup a straight-line script would run; nothing
    per-row or per-partition happens in Python.
    """
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    load_table(spark, sf_dir, "orders").createOrReplaceTempView("rs_cf_orders")
    out = run_redshift_script(
        spark, _SCRIPT_PROC_CONTROL_FLOW.format(orders="rs_cf_orders")
    )
    assert out is not None
    return out


_REDSHIFT_MISC3 = """
    SELECT c_custkey,
           REPLICATE(c_mktsegment, 2) AS seg_twice,
           ROUND(LOG(CAST(c_acctbal AS DECIMAL(12,2)) + 1001.0), 6) AS log10_bal,
           STRTOL(SUBSTRING(c_name, 16, 3), 16) AS name_hex,
           DATE_CMP(DATE '1995-06-16', DATE '1995-06-17') AS cmp_lt,
           DATE_CMP(DATE '1995-06-17', DATE '1995-06-17') AS cmp_eq,
           TIMESTAMP_CMP(TIMESTAMP '1995-06-17 00:00:01',
                         TIMESTAMP '1995-06-17 00:00:00') AS cmp_gt,
           QUOTE_IDENT(c_mktsegment) AS seg_ident,
           QUOTE_LITERAL(c_name) AS name_lit,
           CAST(TO_NUMBER('$' || CAST(c_custkey AS VARCHAR) || '.50', '$999999.99')
               AS DOUBLE PRECISION) AS key_num,
           BTRIM(c_name, 'Cutsomer#') AS name_trimmed,
           CAST(POSITION('#' IN c_name) AS BIGINT) AS hash_pos,
           CAST(OCTET_LENGTH(c_name) AS BIGINT) AS name_bytes,
           INITCAP(LOWER(c_mktsegment)) AS seg_cap,
           ROUND(CBRT(CAST(c_custkey AS DOUBLE)), 6) AS key_cbrt
    FROM {customer}
    WHERE c_custkey <= 600
"""


@register(
    "redshift_sql_misc3",
    tags=("§2.7",),
    oracle="""
        SELECT c_custkey,
               repeat(c_mktsegment, 2) AS seg_twice,
               ROUND(LOG(CAST(c_acctbal AS DECIMAL(12,2)) + 1001.0), 6) AS log10_bal,
               CAST(concat('0x', substring(c_name, 16, 3)) AS BIGINT) AS name_hex,
               CASE WHEN DATE '1995-06-16' < DATE '1995-06-17' THEN -1
                    WHEN DATE '1995-06-16' > DATE '1995-06-17' THEN 1
                    ELSE 0 END AS cmp_lt,
               CASE WHEN DATE '1995-06-17' < DATE '1995-06-17' THEN -1
                    WHEN DATE '1995-06-17' > DATE '1995-06-17' THEN 1
                    ELSE 0 END AS cmp_eq,
               CASE WHEN TIMESTAMP '1995-06-17 00:00:01' < TIMESTAMP '1995-06-17 00:00:00'
                    THEN -1
                    WHEN TIMESTAMP '1995-06-17 00:00:01' > TIMESTAMP '1995-06-17 00:00:00'
                    THEN 1 ELSE 0 END AS cmp_gt,
               concat('"', replace(c_mktsegment, '"', '""'), '"') AS seg_ident,
               concat('''', replace(c_name, '''', ''''''), '''') AS name_lit,
               CAST(CAST(replace(replace('$' || CAST(c_custkey AS VARCHAR) || '.50',
                                    ',', ''), '$', '') AS DECIMAL(8,2)) AS DOUBLE) AS key_num,
               trim(c_name, 'Cutsomer#') AS name_trimmed,
               CAST(position('#' IN c_name) AS BIGINT) AS hash_pos,
               CAST(octet_length(encode(c_name)) AS BIGINT) AS name_bytes,
               -- DuckDB has no initcap; the segment is one word
               upper(substring(lower(c_mktsegment), 1, 1))
                   || substring(lower(c_mktsegment), 2) AS seg_cap,
               ROUND(cbrt(CAST(c_custkey AS DOUBLE)), 6) AS key_cbrt
        FROM customer
        WHERE c_custkey <= 600
    """,
)
def redshift_sql_misc3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-6 scalar battery: REPLICATE→repeat, the 1-arg LOG base-10
    trap (Redshift LOG(x)=log10; Spark's log(x)=ln — the rewrite is
    what makes this hash-match), STRTOL→conv, DATE_CMP/TIMESTAMP_CMP→
    sign CASE, QUOTE_IDENT/QUOTE_LITERAL quoting helpers,
    TO_NUMBER('$…','$999999.99') format-stripped cast, plus
    natively-parity functions (BTRIM with a trim set, POSITION(x IN y),
    OCTET_LENGTH on multi-byte text, INITCAP, CBRT) against DuckDB
    equivalents.

    Scale: row-local projection over one scan; the WHERE pushes to
    parquet. Nothing shuffles.
    """
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("rs_misc3_customer")
    return run_redshift_sql(spark, _REDSHIFT_MISC3.format(customer="rs_misc3_customer"))


_REDSHIFT_NAMED_WINDOW = """
    SELECT l_orderkey, l_linenumber,
           CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn,
           CAST(SUM(CONVERT(DECIMAL(18,2), l_quantity)) OVER w AS DOUBLE)
               AS run_qty,
           LAG(l_linenumber) OVER w AS prev_line,
           COUNT(*) OVER (PARTITION BY l_orderkey) AS n_lines
    FROM {lineitem}
    WHERE l_orderkey <= 2000
    WINDOW w AS (PARTITION BY l_orderkey ORDER BY l_linenumber)
"""


@register(
    "window_named_clause",
    tags=("W1", "W2", "W5"),
    oracle="""
        SELECT l_orderkey, l_linenumber,
               ROW_NUMBER() OVER w AS rn,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER w AS DOUBLE)
                   AS run_qty,
               LAG(l_linenumber) OVER w AS prev_line,
               COUNT(*) OVER (PARTITION BY l_orderkey) AS n_lines
        FROM lineitem
        WHERE l_orderkey <= 2000
        WINDOW w AS (PARTITION BY l_orderkey ORDER BY l_linenumber)
    """,
)
def window_named_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named WINDOW clause (Redshift reusable window definitions):
    three functions share one ``WINDOW w AS (...)`` next to an inline
    OVER — run verbatim through the front-end (Spark parses the clause
    natively; the rewrite layer's job is to NOT touch it). The default
    ordered frame (RANGE UNBOUNDED PRECEDING..CURRENT ROW) drives the
    running sum in both engines, so frame semantics are load-bearing
    in the hash.

    Scale: a shared window name is one Sort+Window pass, not three —
    exactly why the clause exists.
    """
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("rs_nw_lineitem")
    return run_redshift_sql(spark, _REDSHIFT_NAMED_WINDOW.format(lineitem="rs_nw_lineitem"))


_REDSHIFT_PARTIQL = """
    SELECT e.vec_id, e.label, CAST(i AS BIGINT) AS pos,
           CAST(v AS DOUBLE) AS component
    FROM {embeddings} e, e.embedding v AT i
    WHERE e.vec_id < 20 AND i < 4
"""


@register(
    "partiql_unnest_embeddings",
    tags=("§2.7",),
    oracle="""
        SELECT vec_id, label, CAST(i - 1 AS BIGINT) AS pos,
               CAST(embedding[i] AS DOUBLE) AS component
        FROM embeddings, generate_series(1, 4) AS g(i)
        WHERE vec_id < 20
    """,
)
def partiql_unnest_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PartiQL array navigation (Redshift SUPER): the verbatim
    ``FROM t e, e.embedding v AT i`` unnest-with-ordinality form,
    rewritten to LATERAL VIEW posexplode by the front-end (the \\2
    backreference pins the qualifier to the preceding table alias, so
    schema-qualified comma joins pass through untouched). The oracle
    indexes the array directly per ordinal.

    Scale: explode is a row-local Generate — no shuffle; the ordinal
    filter prunes inside the generate, not after a full explode.
    """
    load_table(spark, sf_dir, "embeddings").createOrReplaceTempView("rs_pq_embeddings")
    return run_redshift_sql(spark, _REDSHIFT_PARTIQL.format(embeddings="rs_pq_embeddings"))


_SCRIPT_SCHEMAS = """
    BEGIN;
    CREATE SCHEMA IF NOT EXISTS staging;
    CREATE SCHEMA IF NOT EXISTS mart;

    CREATE TEMP TABLE staging.orders AS
    SELECT o_orderkey, o_orderstatus, o_totalprice FROM {orders}
    WHERE o_orderkey <= 8000;

    CREATE TABLE mart.status_rollup AS
    SELECT o_orderstatus AS status,
           COUNT(*) AS n_orders,
           CAST(SUM(CONVERT(DECIMAL(18,2), o_totalprice)) AS DOUBLE) AS total
    FROM staging.orders
    GROUP BY 1;

    DROP SCHEMA staging CASCADE;

    SELECT status, n_orders, total,
           CAST(RATIO_TO_REPORT(n_orders) OVER () AS DOUBLE) AS order_share
    FROM mart.status_rollup;

    COMMIT;
"""


@register(
    "redshift_script_schemas",
    tags=("S6",),
    oracle="""
        WITH r AS (
            SELECT o_orderstatus AS status, COUNT(*) AS n_orders,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
            FROM orders WHERE o_orderkey <= 8000 GROUP BY 1
        )
        SELECT status, n_orders, total,
               CAST(n_orders AS DOUBLE) / SUM(n_orders) OVER () AS order_share
        FROM r
    """,
)
def redshift_script_schemas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The schema-qualified staging→mart layout as a verbatim script
    (r6): CREATE SCHEMA + `staging.orders` / `mart.status_rollup`
    qualified names throughout (flattened to script-scoped single-part
    views), a cross-schema CTAS, DROP SCHEMA CASCADE retiring the
    staging layer mid-script, and a RATIO_TO_REPORT consume over the
    surviving mart — the dropped schema's invisibility and the
    qualified-name plumbing are both load-bearing in the hash.

    Scale: name management only — the plan is the same single rollup +
    tiny window any mart build runs; flattening adds zero operators.
    """
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    load_table(spark, sf_dir, "orders").createOrReplaceTempView("rs_sch_orders")
    out = run_redshift_script(spark, _SCRIPT_SCHEMAS.format(orders="rs_sch_orders"))
    assert out is not None
    return out


_SCRIPT_SQL_UDF = """
    BEGIN;
    SET enable_result_cache_for_session TO off;

    CREATE OR REPLACE FUNCTION f_discounted(price FLOAT8, disc FLOAT8)
    RETURNS FLOAT8 IMMUTABLE AS $$
        SELECT price * (1.0 - disc)
    $$ LANGUAGE sql;

    CREATE FUNCTION f_bucket(FLOAT8) RETURNS INT AS $$
        SELECT CAST(FLOOR($1 / 10000.0) AS INT)
    $$ LANGUAGE sql;

    SELECT f_bucket(f_discounted(CONVERT(DECIMAL(18,2), o_totalprice), 0.1))
               AS price_bucket,
           COUNT(*) AS n_orders,
           CAST(SUM(CONVERT(DECIMAL(18,2), o_totalprice)) AS DOUBLE) AS total
    FROM {orders}
    WHERE o_orderkey <= 6000
    GROUP BY 1;

    COMMIT;
"""


@register(
    "redshift_script_sql_udf",
    tags=("§2.10", "S6"),
    oracle="""
        SELECT CAST(FLOOR((CAST(o_totalprice AS DECIMAL(18,2)) * (1.0 - 0.1))
                    / 10000.0) AS INT) AS price_bucket,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM orders
        WHERE o_orderkey <= 6000
        GROUP BY 1
    """,
)
def redshift_script_sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redshift scalar SQL UDFs as a verbatim script (r6): two CREATE
    FUNCTION ... LANGUAGE sql definitions (named and $1-positional
    params), composed at the call site inside a grouped rollup — the
    inlining is load-bearing in the hash (the oracle spells the same
    expressions written out by hand). SET session knobs no-op.

    Scale: inlined UDFs are plain Catalyst expressions — whole-stage
    codegen, zero Python, zero per-row function-call overhead; the
    plan is identical to the hand-written query's.
    """
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    load_table(spark, sf_dir, "orders").createOrReplaceTempView("rs_udf_orders")
    out = run_redshift_script(spark, _SCRIPT_SQL_UDF.format(orders="rs_udf_orders"))
    assert out is not None
    return out


_SCRIPT_PYTHON_UDF = """
    CREATE OR REPLACE FUNCTION f_py_tier(bal FLOAT8, seg VARCHAR)
    RETURNS VARCHAR STABLE AS $$
        if bal is None or seg is None:
            return None
        tier = 'gold' if bal > 7500 else ('silver' if bal > 2500 else 'bronze')
        if seg.strip() == 'AUTOMOBILE' and tier != 'gold':
            tier = tier + '+'
        return tier
    $$ LANGUAGE plpythonu;

    CREATE FUNCTION f_py_keynum(s VARCHAR) RETURNS BIGINT IMMUTABLE AS $$
        total = 0
        for ch in s or '':
            if ch.isdigit():
                total = total * 10 + int(ch)
        return total
    $$ LANGUAGE plpythonu;

    SELECT f_py_tier(CAST(c_acctbal AS FLOAT8), c_mktsegment) AS tier,
           COUNT(*) AS n_cust,
           CAST(SUM(f_py_keynum(c_name)) AS BIGINT) AS key_sum
    FROM {customer}
    GROUP BY 1;
"""


@register(
    "redshift_script_python_udf",
    tags=("§2.10",),
    oracle="""
        SELECT CASE
                 WHEN c_acctbal > 7500 THEN 'gold'
                 WHEN trim(c_mktsegment) = 'AUTOMOBILE' THEN
                   CASE WHEN c_acctbal > 2500 THEN 'silver+' ELSE 'bronze+' END
                 WHEN c_acctbal > 2500 THEN 'silver'
                 ELSE 'bronze'
               END AS tier,
               COUNT(*) AS n_cust,
               CAST(SUM(CAST(regexp_replace(c_name, '[^0-9]', '', 'g')
                   AS BIGINT)) AS BIGINT) AS key_sum
        FROM customer
        GROUP BY 1
    """,
)
def redshift_script_python_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redshift scalar Python UDFs — ``CREATE FUNCTION ... LANGUAGE
    plpythonu`` (r9, closing the CREATE FUNCTION surface): the $$ body
    is arbitrary Python over the NAMED parameters, compiled once at
    CREATE and registered as an Arrow-batched pandas UDF
    (script_runner.py _register_python_udf). Redshift's data contract
    holds: NULL arguments arrive as None, returning None yields NULL
    (pinned in tests; the fixture has no NULLs so both branches here are
    value-driven). Two functions compose inside a grouped rollup — a
    string classifier used as the GROUP BY key and a digit-folding
    numeric used inside SUM — and the oracle spells the same logic in
    plain SQL (CASE ladder / regexp_replace), so the Python execution
    path is load-bearing in the hash.

    Scale: the body is arbitrary Python, so the per-element step is
    inherent (Redshift itself evaluates plpythonu row-at-a-time in its
    sandbox); Spark's win is Arrow columnar transfer + pipelined batch
    evaluation inside the scan stage — no shuffle is added, and the
    aggregation above it stays whole-stage-codegen JVM. The banned
    pattern (row-at-a-time @udf with per-row Python IPC) is exactly
    what this path avoids — functions/udfs.py's standing rule.
    """
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    load_table(spark, sf_dir, "customer").createOrReplaceTempView("rs_pyudf_customer")
    out = run_redshift_script(
        spark, _SCRIPT_PYTHON_UDF.format(customer="rs_pyudf_customer")
    )
    assert out is not None
    return out


_SCRIPT_DECL_BLOCK = """
    CREATE TEMP TABLE seg_stats (
        seg VARCHAR(12), hi DOUBLE PRECISION, lo DOUBLE PRECISION,
        spread DOUBLE PRECISION
    );

    CREATE PROCEDURE load_seg_stats() AS $$
    DECLARE v_scale DOUBLE PRECISION := 1; v_total BIGINT := 0;
            v_hi DOUBLE PRECISION; v_lo DOUBLE PRECISION;
    BEGIN
        FOR r IN SELECT DISTINCT c_mktsegment AS seg
                 FROM {customer} ORDER BY seg LOOP
            DECLARE v_scale DOUBLE PRECISION :=
                        CASE WHEN r.seg = 'AUTOMOBILE'
                             THEN v_scale * 2 ELSE v_scale END;
                    v_spread DOUBLE PRECISION;
            BEGIN
                SELECT MAX(c_acctbal), MIN(c_acctbal) INTO v_hi, v_lo
                FROM {customer} WHERE c_mktsegment = r.seg;
                v_spread := (v_hi - v_lo) * v_scale;
                INSERT INTO seg_stats VALUES (r.seg, v_hi, v_lo, v_spread);
                v_total := v_total + CAST(FLOOR(v_spread) AS BIGINT);
            END;
        END LOOP;
        INSERT INTO seg_stats
        VALUES ('__total', NULL, NULL, CAST(v_total AS DOUBLE PRECISION));
    END;
    $$ LANGUAGE plpgsql;

    CALL load_seg_stats();
    SELECT seg, hi, lo, spread FROM seg_stats;
"""


@register(
    "redshift_script_decl_block",
    tags=("§2.9b",),
    oracle="""
        WITH seg AS (
            SELECT c_mktsegment AS seg,
                   MAX(c_acctbal) AS hi, MIN(c_acctbal) AS lo,
                   (MAX(c_acctbal) - MIN(c_acctbal))
                     * (CASE WHEN c_mktsegment = 'AUTOMOBILE'
                             THEN 2 ELSE 1 END) AS spread
            FROM customer GROUP BY c_mktsegment
        )
        SELECT seg, hi, lo, spread FROM seg
        UNION ALL
        SELECT '__total', NULL, NULL,
               CAST(SUM(CAST(FLOOR(spread) AS BIGINT)) AS DOUBLE)
        FROM seg
    """,
)
def redshift_script_decl_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    """plpgsql nested ``DECLARE ... BEGIN ... END`` sub-blocks (r9 —
    closes the last named plpgsql structural seam): inner scalars SHADOW
    same-name outer variables for the block's extent and un-shadow on
    every exit path; defaults re-evaluate at EACH entry. Load-bearing in
    the hash: the inner ``v_scale`` default reads the OUTER ``v_scale``
    (so AUTOMOBILE's spread doubles while every re-entry re-derives from
    1, never compounding), and the outer ``v_total`` accumulates across
    iterations THROUGH the block (assignments to non-declared outer
    variables persist — plpgsql's scoping). Exit-path coverage
    (EXIT/RETURN/caught-error un-shadowing) is pinned by
    tests/test_units.py::test_plpgsql_nested_declare_blocks. The oracle
    spells the same math declaratively (grouped MAX/MIN + CASE scale +
    integer-exact FLOOR total, so float summation order cannot differ).

    Scale: the record-FOR iterates the 5 SEGMENTS (a bounded control
    table — the module's loop-over-control-rows-never-facts rule); each
    iteration's aggregate is one distributed job over the fact table.
    """
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    load_table(spark, sf_dir, "customer").createOrReplaceTempView("rs_declblk_customer")
    out = run_redshift_script(
        spark, _SCRIPT_DECL_BLOCK.format(customer="rs_declblk_customer")
    )
    assert out is not None
    return out


_SCRIPT_PROC_EXCEPTION = """
    CREATE TEMP TABLE results (grp VARCHAR(20), n BIGINT, total DOUBLE PRECISION);
    CREATE TEMP TABLE errlog (grp VARCHAR(10), code VARCHAR(10));

    CREATE PROCEDURE load_status(p_status VARCHAR(2), p_div BIGINT) AS $$
    BEGIN
        BEGIN
            INSERT INTO results VALUES (p_status || '~stage', 0, 0.0);
            INSERT INTO results
            SELECT p_status,
                   CAST(FLOOR(COUNT(*) / p_div) AS BIGINT),
                   CAST(SUM(CONVERT(DECIMAL(18,6), o_totalprice))
                        AS DOUBLE PRECISION) / p_div
            FROM {orders} WHERE o_orderstatus = p_status;
            DELETE FROM results WHERE grp = p_status || '~stage';
        EXCEPTION WHEN OTHERS THEN
            INSERT INTO errlog VALUES (p_status, SQLSTATE);
        END;
    END;
    $$ LANGUAGE plpgsql;

    CALL load_status('F', 1);
    CALL load_status('O', 0);
    CALL load_status('P', 2);

    SELECT grp, n, total FROM results
    UNION ALL
    SELECT 'ERR-' || grp || '-' || code, CAST(-1 AS BIGINT),
           CAST(0.0 AS DOUBLE PRECISION)
    FROM errlog;
"""


@register(
    "redshift_script_proc_exception",
    tags=("S6",),
    oracle="""
        SELECT 'F' AS grp, CAST(FLOOR(COUNT(*) / 1) AS BIGINT) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) / 1 AS total
        FROM orders WHERE o_orderstatus = 'F'
        UNION ALL
        SELECT 'P', CAST(FLOOR(COUNT(*) / 2) AS BIGINT),
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) / 2
        FROM orders WHERE o_orderstatus = 'P'
        UNION ALL
        SELECT 'ERR-O-22012', CAST(-1 AS BIGINT), CAST(0.0 AS DOUBLE)
    """,
)
def redshift_script_proc_exception(spark: SparkSession, sf_dir: str) -> DataFrame:
    """plpgsql EXCEPTION WHEN OTHERS (r7): the nightly-load
    error-wrapper idiom as a verbatim script. Three CALLs load one
    order-status partition each; the middle one divides by zero inside
    the guarded block, so its handler row (with the classified SQLSTATE
    22012) appears in errlog AND the block's already-inserted '~stage'
    marker row disappears — the state rollback is load-bearing in the
    hash, as are the two clean partitions whose '~stage' markers were
    DELETEd on the success path. Honest catch timing: inside a guard
    every mutation materializes eagerly (localCheckpoint), so the
    division error surfaces at the INSERT that caused it, not at the
    final SELECT (script_runner.py _GuardNode).

    Scale: the guard materializes each mutated binding once — the cost
    Redshift itself pays statement-by-statement; the rollback is
    driver-side dict restore, no data movement. Everything else is the
    same pushed-filter one-shuffle rollup a straight-line script runs.
    """
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    load_table(spark, sf_dir, "orders").createOrReplaceTempView("rs_exc_orders")
    out = run_redshift_script(spark, _SCRIPT_PROC_EXCEPTION.format(orders="rs_exc_orders"))
    assert out is not None
    return out


_SCRIPT_EXECUTE_DYNAMIC = """
    CREATE TEMP TABLE summary (seg VARCHAR(20), n BIGINT, bal DOUBLE PRECISION);

    CREATE PROCEDURE snap_seg(p_seg VARCHAR(20)) AS $$
    DECLARE
        v_tbl VARCHAR(64);
        v_n BIGINT;
    BEGIN
        v_tbl := 'seg_' || LOWER(p_seg);
        EXECUTE 'CREATE TEMP TABLE ' || v_tbl
            || ' AS SELECT * FROM {customer} WHERE c_mktsegment = '
            || QUOTE_LITERAL(p_seg);
        EXECUTE 'SELECT COUNT(*) FROM ' || v_tbl INTO v_n;
        EXECUTE 'INSERT INTO summary SELECT ' || QUOTE_LITERAL(p_seg)
            || ', ' || CAST(v_n AS VARCHAR)
            || ', CAST(SUM(CONVERT(DECIMAL(12,2), c_acctbal)) AS DOUBLE PRECISION)'
            || ' FROM ' || v_tbl;
    END;
    $$ LANGUAGE plpgsql;

    CALL snap_seg('BUILDING');
    CALL snap_seg('MACHINERY');

    SELECT seg, n, bal FROM summary
    UNION ALL
    SELECT 'tbl:seg_building', COUNT(*), CAST(0.0 AS DOUBLE PRECISION)
    FROM seg_building;
"""


@register(
    "redshift_script_execute_dynamic",
    tags=("S6",),
    oracle="""
        SELECT c_mktsegment AS seg, COUNT(*) AS n,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS bal
        FROM customer WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
        GROUP BY 1
        UNION ALL
        SELECT 'tbl:seg_building',
               (SELECT COUNT(*) FROM customer WHERE c_mktsegment = 'BUILDING'),
               CAST(0.0 AS DOUBLE)
    """,
)
def redshift_script_execute_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """plpgsql EXECUTE dynamic SQL (r7): the admin-script idiom — a
    procedure builds per-segment snapshot tables whose NAMES come from
    a variable ('seg_' || LOWER(param)), reads one back with
    EXECUTE ... INTO, and inserts a summary row through a third dynamic
    statement with QUOTE_LITERAL doing the quoting. The
    dynamically-built name is load-bearing in the hash: the final
    SELECT reads `seg_building` statically, which only exists if the
    dynamic CREATE produced exactly that identifier.

    Scale: EXECUTE is driver-side string evaluation (one 1-row job for
    the command expression) and the built statement then runs through
    the same lazy-view machinery as any other — the snapshot "tables"
    here stay unmaterialized plans the final aggregates fold into.
    """
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    load_table(spark, sf_dir, "customer").createOrReplaceTempView("rs_dyn_customer")
    out = run_redshift_script(
        spark, _SCRIPT_EXECUTE_DYNAMIC.format(customer="rs_dyn_customer")
    )
    assert out is not None
    return out


_SCRIPT_CURSOR_LOOP = """
    CREATE TEMP TABLE nation_counts AS
    SELECT n.n_name, COUNT(*) AS n_cust,
           CAST(SUM(CONVERT(DECIMAL(12,2), c.c_acctbal)) AS DOUBLE PRECISION) AS bal
    FROM {customer} c JOIN {nation} n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name;

    CREATE TEMP TABLE walk (n_name VARCHAR(25), n_cust BIGINT,
                            run_cust BIGINT, run_bal DOUBLE PRECISION);

    CREATE PROCEDURE runsum() AS $$
    DECLARE
        cur CURSOR FOR SELECT n_name, n_cust, bal FROM nation_counts
                       ORDER BY n_cust DESC, n_name LIMIT 10;
        v_name VARCHAR(25);
        v_n BIGINT;
        v_bal DOUBLE PRECISION;
        v_rc BIGINT := 0;
        v_rb DOUBLE PRECISION := 0;
    BEGIN
        OPEN cur;
        LOOP
            FETCH cur INTO v_name, v_n, v_bal;
            EXIT WHEN NOT found;
            v_rc := v_rc + v_n;
            v_rb := v_rb + v_bal;
            INSERT INTO walk VALUES (v_name, v_n, v_rc, v_rb);
        END LOOP;
        CLOSE cur;
    END;
    $$ LANGUAGE plpgsql;

    CALL runsum();
    SELECT n_name, n_cust, run_cust, ROUND(run_bal, 4) AS run_bal FROM walk;
"""


@register(
    "redshift_script_cursor_loop",
    tags=("S6",),
    oracle="""
        WITH counts AS (
            SELECT n_name, COUNT(*) AS n_cust,
                   CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS bal
            FROM customer JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name
        ), top10 AS (
            SELECT * FROM counts ORDER BY n_cust DESC, n_name LIMIT 10
        )
        SELECT n_name, n_cust,
               CAST(SUM(n_cust) OVER w AS BIGINT) AS run_cust,
               ROUND(SUM(bal) OVER w, 4) AS run_bal
        FROM top10
        WINDOW w AS (ORDER BY n_cust DESC, n_name ROWS UNBOUNDED PRECEDING)
    """,
)
def redshift_script_cursor_loop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """plpgsql forward-only cursor (r7): DECLARE ... CURSOR FOR over a
    top-10 control rollup, OPEN / FETCH ... INTO / EXIT WHEN NOT FOUND /
    CLOSE accumulating running totals through plpgsql variables — the
    cursor walk order, the FOUND flag, and the per-row variable
    arithmetic are all load-bearing (the oracle is the same running
    total as a window sum over the same top-10). The cursor buffers at
    most 1000 control rows driver-side — the bounded coordinator-loop
    contract plpgsql row iteration has at any engine (a per-fact cursor
    raises loudly; script_runner.py _Cursor).

    Scale: ONE shuffle builds the nation rollup; the cursor then walks
    10 driver-side rows. The running totals never touch Spark row
    counts — per-ingest work scales with the control table, not the
    corpus.
    """
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    load_table(spark, sf_dir, "customer").createOrReplaceTempView("rs_cur_customer")
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("rs_cur_nation")
    out = run_redshift_script(
        spark,
        _SCRIPT_CURSOR_LOOP.format(customer="rs_cur_customer", nation="rs_cur_nation"),
    )
    assert out is not None
    return out


_REDSHIFT_CONNECT_BY = """
    SELECT c_custkey, c_name, CAST(LEVEL AS BIGINT) AS lvl
    FROM {customer}
    WHERE MOD(c_custkey, 2) = 0
    START WITH c_custkey = 1
    CONNECT BY FLOOR(c_custkey / 10) = PRIOR c_custkey
"""


@register(
    "redshift_sql_connect_by",
    tags=("F2",),
    oracle="""
        WITH RECURSIVE cb AS (
            SELECT c_custkey, c_name, 1 AS lvl
            FROM customer WHERE c_custkey = 1
            UNION ALL
            SELECT c.c_custkey, c.c_name, p.lvl + 1
            FROM customer c JOIN cb p ON FLOOR(c.c_custkey / 10) = p.c_custkey
        )
        SELECT c_custkey, c_name, CAST(lvl AS BIGINT) AS lvl
        FROM cb WHERE MOD(c_custkey, 2) = 0
    """,
)
def redshift_sql_connect_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redshift hierarchical query (r7): START WITH / CONNECT BY PRIOR
    with the LEVEL pseudocolumn, rewritten by the dialect front-end into
    a recursive CTE (redshift_sql.py _rewrite_connect_by; Spark 4
    executes it natively as UnionLoop — zero driver-side iteration).
    Load-bearing semantics: the WHERE filters AFTER hierarchy expansion
    (odd-keyed parents vanish from the output but their even-keyed
    descendants remain — pruning the tree instead would change the
    rows), and LEVEL counts the walk depth per row.

    Scale: each recursion step is a distributed join of the base table
    against the previous frontier on the PRIOR key; depth here is
    log10(max key) regardless of row count — the same frontier-shrink
    argument as redshift_sql_recursive.
    """
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("rs_cb_customer")
    return run_redshift_sql(spark, _REDSHIFT_CONNECT_BY.format(customer="rs_cb_customer"))


_REDSHIFT_ORDER_SIBLINGS_MULTI = """
    SELECT c_custkey, CAST(LEVEL AS BIGINT) AS lvl, trim(c_mktsegment) AS seg
    FROM {customer}
    WHERE (LEVEL <= 3)
    START WITH c_custkey IN (1, 2, 3)
    CONNECT BY PRIOR c_custkey = FLOOR(c_custkey / 10)
    ORDER SIBLINGS BY c_mktsegment, c_custkey DESC
"""


@register(
    "redshift_sql_order_siblings_multi",
    tags=("F2",),
    oracle="""
        WITH RECURSIVE cb AS (
            SELECT c_custkey, 1 AS lvl, trim(c_mktsegment) AS seg
            FROM customer WHERE c_custkey IN (1, 2, 3)
            UNION ALL
            SELECT c.c_custkey, p.lvl + 1, trim(c.c_mktsegment)
            FROM customer c JOIN cb p ON FLOOR(c.c_custkey / 10) = p.c_custkey
            WHERE p.lvl + 1 <= 3
        )
        SELECT c_custkey, CAST(lvl AS BIGINT) AS lvl, seg FROM cb
    """,
)
def redshift_sql_order_siblings_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER SIBLINGS BY, widened surface (r10): MULTIPLE keys with
    per-key direction — here segment ASC then custkey DESC within equal
    segments — carried as an array of multi-field (null-flag, value)
    structs whose field order IS the key-major comparison; DESC keys
    order by the negated value (numeric only — loud under ANSI
    otherwise, never a silent missort), with Oracle's NULLS defaults
    (ASC→LAST, DESC→FIRST) and explicit NULLS FIRST|LAST accepted
    (redshift_sql.py _rewrite_connect_by). The driver's value hash is
    order-insensitive by design, so the oracle pins the ROW SET and the
    exact multi-key DFS sequence is pinned by
    tests/test_units.py::test_connect_by_order_siblings_widened plus
    the sibling-pair ordering property asserted on this very walk.

    Scale: identical to the single-key form — the carried key tuple
    adds bytes per frontier row (two fields instead of one), never
    jobs; the final global sort was always the ORDER BY's cost.
    """
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("rs_osm_customer")
    return run_redshift_sql(
        spark, _REDSHIFT_ORDER_SIBLINGS_MULTI.format(customer="rs_osm_customer")
    )


_REDSHIFT_ORDER_SIBLINGS_STRDESC = """
    SELECT c_custkey, trim(c_mktsegment) AS seg, CAST(LEVEL AS BIGINT) AS lvl
    FROM {customer}
    START WITH c_custkey IN (1, 2, 3)
    CONNECT BY PRIOR c_custkey = FLOOR(c_custkey / 10) AND LEVEL <= 3
    ORDER SIBLINGS BY (TRANSLATE(hex(encode(trim(c_mktsegment), 'utf-8')),
                                 '0123456789ABCDEF', 'FEDCBA9876543210')
                       || 'G'),
                      c_custkey
    LIMIT 40
"""


@register(
    "redshift_sql_order_siblings_strdesc",
    tags=("F2",),
    oracle="""
        WITH RECURSIVE cb AS (
            SELECT c_custkey, trim(c_mktsegment) AS seg, 1 AS lvl,
                   translate(hex(encode(trim(c_mktsegment))),
                             '0123456789ABCDEF', 'FEDCBA9876543210')
                     || 'G' || lpad(CAST(c_custkey AS VARCHAR), 12, '0')
                     || 'G' AS sort_path
            FROM customer WHERE c_custkey IN (1, 2, 3)
            UNION ALL
            SELECT c.c_custkey, trim(c.c_mktsegment), p.lvl + 1,
                   p.sort_path
                     || translate(hex(encode(trim(c.c_mktsegment))),
                                  '0123456789ABCDEF', 'FEDCBA9876543210')
                     || 'G' || lpad(CAST(c.c_custkey AS VARCHAR), 12, '0')
                     || 'G'
            FROM customer c JOIN cb p ON FLOOR(c.c_custkey / 10) = p.c_custkey
            WHERE p.lvl + 1 <= 3
        )
        SELECT c_custkey, seg, CAST(lvl AS BIGINT) AS lvl
        FROM cb ORDER BY sort_path LIMIT 40
    """,
)
def redshift_sql_order_siblings_strdesc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER SIBLINGS BY with a DESCENDING STRING key (r11) — the
    collation-safe spelling the DESC docstring names (VERDICT r10 item
    4): the expression key complements the key's UTF8 hex digits
    (TRANSLATE over hex(encode(...))) and appends a 'G' terminator
    (> any hex digit), which reverses UTF8_BINARY byte order exactly —
    the terminator makes every proper prefix sort AFTER its extensions
    ('ab' before 'a'), so ASC on the encoded key IS string DESC, with
    zero shuffle and no ANSI negation. c_custkey breaks segment ties.

    The trailing LIMIT makes the sibling ORDER row-set-visible to the
    driver's order-insensitive hash: the kept 40 rows are a prefix of
    the depth-first walk, so a missorted sibling changes WHICH rows
    survive, not just their sequence. The DuckDB oracle replays the
    identical walk by carrying a sort path per row — the same encoded
    component plus the zero-padded tiebreak, each 'G'-terminated, so
    VARCHAR path order equals the (segment DESC, custkey ASC) DFS
    (terminator consistency: within a component, complemented hex
    digits and '0'-padded digits all sort below 'G'; across rows an
    ancestor's path is a proper prefix and sorts first).

    Scale: identical to the other siblings walks — the encoded key adds
    bytes per frontier row, never jobs; ORDER BY + LIMIT plans as
    TakeOrderedAndProject (partial top-k per partition, no global sort
    materialization).
    """
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("rs_osd_customer")
    return run_redshift_sql(
        spark, _REDSHIFT_ORDER_SIBLINGS_STRDESC.format(customer="rs_osd_customer")
    )


_REDSHIFT_ORDER_SIBLINGS = """
    SELECT c_custkey, CAST(LEVEL AS BIGINT) AS lvl,
           SYS_CONNECT_BY_PATH(c_custkey, '/') AS key_path
    FROM {customer}
    START WITH c_custkey IN (1, 2, 3)
    CONNECT BY PRIOR c_custkey = FLOOR(c_custkey / 10) AND LEVEL <= 3
    ORDER SIBLINGS BY c_custkey
"""


@register(
    "redshift_sql_order_siblings",
    tags=("F2",),
    oracle="""
        WITH RECURSIVE cb AS (
            SELECT c_custkey, 1 AS lvl,
                   '/' || CAST(c_custkey AS VARCHAR) AS key_path
            FROM customer WHERE c_custkey IN (1, 2, 3)
            UNION ALL
            SELECT c.c_custkey, p.lvl + 1,
                   p.key_path || '/' || CAST(c.c_custkey AS VARCHAR)
            FROM customer c
            JOIN cb p ON FLOOR(c.c_custkey / 10) = p.c_custkey
            WHERE p.lvl + 1 <= 3
        )
        SELECT c_custkey, CAST(lvl AS BIGINT) AS lvl, key_path FROM cb
    """,
)
def redshift_sql_order_siblings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER SIBLINGS BY (r9 — closes another line of the CONNECT BY
    remainder): depth-first output with siblings key-ordered, carried
    as an ARRAY of the sibling key along the root-to-row path (arrays
    compare lexicographically in Spark — parent-prefix before children,
    siblings on their last element; redshift_sql.py _rewrite_connect_by).
    The driver's value hash is order-insensitive by design, so the
    oracle pins the ROW SET (the three interleaved trees, depth-capped
    in-condition) and the SEQUENCE is pinned by
    tests/test_units.py::test_connect_by_order_siblings (exact DFS
    order asserted on a fixed fixture and on this customer walk).

    Scale: one more carried column (the key array grows with depth,
    like the PATH column — bytes per frontier row, not jobs), plus the
    final global sort the ORDER BY was always going to pay.
    """
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("rs_os_customer")
    return run_redshift_sql(
        spark, _REDSHIFT_ORDER_SIBLINGS.format(customer="rs_os_customer")
    )


_REDSHIFT_CONNECT_BY_ISLEAF = """
    SELECT c_custkey, CAST(LEVEL AS BIGINT) AS lvl,
           CAST(CONNECT_BY_ISLEAF AS BIGINT) AS isleaf
    FROM {customer}
    WHERE (LEVEL <= 3)
    START WITH c_custkey IN (1, 2, 3)
    CONNECT BY PRIOR c_custkey = FLOOR(c_custkey / 10)
"""


@register(
    "redshift_sql_connect_by_isleaf",
    tags=("F2",),
    oracle="""
        WITH RECURSIVE cb AS (
            SELECT c_custkey, 1 AS lvl FROM customer WHERE c_custkey IN (1, 2, 3)
            UNION ALL
            SELECT c.c_custkey, p.lvl + 1
            FROM customer c JOIN cb p ON FLOOR(c.c_custkey / 10) = p.c_custkey
            WHERE p.lvl + 1 <= 3
        )
        SELECT cb.c_custkey, CAST(lvl AS BIGINT) AS lvl,
               CAST(CASE WHEN EXISTS (
                   SELECT 1 FROM customer k
                   WHERE FLOOR(k.c_custkey / 10) = cb.c_custkey
               ) THEN 0 ELSE 1 END AS BIGINT) AS isleaf
        FROM cb
    """,
)
def redshift_sql_connect_by_isleaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONNECT_BY_ISLEAF (r9 — the last pseudo-column a real org-chart
    query wants, VERDICT r8 missing item 2): leaf-ness of the
    CONNECT-BY-defined tree, computed as a post-CTE probe of the DISTINCT
    parent tuples against the base table on the SAME connect condition
    (one step of lookahead the recursion cannot see — redshift_sql.py
    _rewrite_connect_by). Load-bearing semantics: the WHERE LEVEL <= 3
    cap still PUSHES into the recursive arm (bounding the walk) but does
    NOT flip capped rows to leaves — Oracle's WHERE is a post-filter, so
    depth-3 rows with depth-4 children keep isleaf = 0, which is exactly
    what the oracle's walk-independent NOT-EXISTS probe checks.

    Scale: the probe joins |distinct parent keys| (bounded by the result
    set, broadcast-size here) against the base table once — the same
    shape as one more frontier step, not a per-row subquery.
    """
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("rs_cbi_customer")
    return run_redshift_sql(
        spark, _REDSHIFT_CONNECT_BY_ISLEAF.format(customer="rs_cbi_customer")
    )



_REDSHIFT_CONNECT_BY_PATH = """
    SELECT c_custkey, CAST(LEVEL AS BIGINT) AS lvl,
           CONNECT_BY_ROOT c_custkey AS root_key,
           SYS_CONNECT_BY_PATH(c_custkey, '/') AS key_path
    FROM {customer}
    WHERE (LEVEL <= 3)
    START WITH c_custkey IN (1, 2, 3)
    CONNECT BY PRIOR c_custkey = FLOOR(c_custkey / 10)
"""


@register(
    "redshift_sql_connect_by_path",
    tags=("F2",),
    oracle="""
        WITH RECURSIVE cb AS (
            SELECT c_custkey, 1 AS lvl, c_custkey AS root_key,
                   '/' || CAST(c_custkey AS VARCHAR) AS key_path
            FROM customer WHERE c_custkey IN (1, 2, 3)
            UNION ALL
            SELECT c.c_custkey, p.lvl + 1, p.root_key,
                   p.key_path || '/' || CAST(c.c_custkey AS VARCHAR)
            FROM customer c
            JOIN cb p ON FLOOR(c.c_custkey / 10) = p.c_custkey
            WHERE p.lvl + 1 <= 3
        )
        SELECT c_custkey, CAST(lvl AS BIGINT) AS lvl, root_key, key_path
        FROM cb
    """,
)
def redshift_sql_connect_by_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONNECT BY pseudo-columns (r8): CONNECT_BY_ROOT tags every row
    with its tree's root key (three interleaved trees here — the column
    is load-bearing in the hash) and SYS_CONNECT_BY_PATH materializes
    the root-to-row key path as a string (the org-chart / BOM
    path-printing idiom). Both are rewritten into columns CARRIED
    through the recursive CTE's arms (redshift_sql.py
    _rewrite_connect_by) — one extra projected column each, no extra
    join. The parenthesized ``(LEVEL <= 3)`` WHERE conjunct still pushes
    into the recursive arm (the r7-advice paren fix) and bounds the
    walk.

    Scale: identical to redshift_sql_connect_by — per-step distributed
    frontier join on the PRIOR key, runtime-planned by UnionLoop; the
    carried columns add bytes per frontier row (the path grows with
    depth), never jobs or shuffles.
    """
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("rs_cbp_customer")
    return run_redshift_sql(
        spark, _REDSHIFT_CONNECT_BY_PATH.format(customer="rs_cbp_customer")
    )


_REDSHIFT_CONNECT_BY_ISCYCLE = """
    SELECT id, CAST(LEVEL AS BIGINT) AS lvl,
           CAST(CONNECT_BY_ISCYCLE AS BIGINT) AS iscycle,
           CAST(CONNECT_BY_ISLEAF AS BIGINT) AS isleaf,
           SYS_CONNECT_BY_PATH(id, '/') AS key_path
    FROM rs_icy_edges
    START WITH id IN (15, 25, 35, 45, 55)
    CONNECT BY NOCYCLE PRIOR id = pid
"""


@register(
    "redshift_sql_connect_by_iscycle",
    tags=("F2",),
    oracle="""
        WITH RECURSIVE edges AS (
            SELECT c_custkey AS id,
                   CASE WHEN c_custkey % 10 = 0 THEN c_custkey + 9
                        ELSE c_custkey - 1 END AS pid
            FROM customer WHERE c_custkey BETWEEN 10 AND 59
        ),
        cb AS (
            SELECT id, 1 AS lvl, [id] AS pathkeys,
                   '/' || CAST(id AS VARCHAR) AS key_path
            FROM edges WHERE id IN (15, 25, 35, 45, 55)
            UNION ALL
            SELECT c.id, p.lvl + 1, list_append(p.pathkeys, c.id),
                   p.key_path || '/' || CAST(c.id AS VARCHAR)
            FROM edges c JOIN cb p ON c.pid = p.id
            WHERE NOT list_contains(p.pathkeys, c.id)
        )
        SELECT cb.id, CAST(lvl AS BIGINT) AS lvl,
               CAST(CASE WHEN EXISTS (
                   SELECT 1 FROM edges k
                   WHERE k.pid = cb.id AND list_contains(cb.pathkeys, k.id)
               ) THEN 1 ELSE 0 END AS BIGINT) AS iscycle,
               CAST(CASE WHEN NOT EXISTS (
                   SELECT 1 FROM edges k
                   WHERE k.pid = cb.id AND NOT list_contains(cb.pathkeys, k.id)
               ) THEN 1 ELSE 0 END AS BIGINT) AS isleaf,
               key_path
        FROM cb
    """,
)
def redshift_sql_connect_by_iscycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONNECT_BY_ISCYCLE + CONNECT_BY_ISLEAF under NOCYCLE (r9 — closes
    the CONNECT BY pseudo-column surface). The fixture derives a CYCLIC
    graph from customer keys 10-59: each decade is a directed ring
    (pid = id-1, wrapping at the decade boundary), so every walk from a
    mid-ring start traverses its 10-node ring and stops where NOCYCLE
    prunes the start key — that row flags iscycle = 1 AND isleaf = 1
    (its only child is an ancestor, so it cannot be further expanded;
    both semantics are load-bearing in the hash). Rewritten as ONE
    post-CTE probe that classifies every condition-child by the
    recursive arm's own instr() ancestor-path guard (redshift_sql.py
    _rewrite_connect_by): pruned child ⇒ ISCYCLE, no expanded child ⇒
    ISLEAF. ISCYCLE without NOCYCLE stays loud — Oracle's ORA-30007
    contract. The oracle is an independent DuckDB walk carrying the key
    path as a LIST, with EXISTS probes split by list_contains.

    Scale: the probe joins the distinct (parent-key, level, path) rows —
    bounded by the result set — against the base table once; the carried
    path adds bytes per frontier row, never jobs or shuffles.
    """
    edges = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey").between(10, 59))
        .select(
            F.col("c_custkey").alias("id"),
            F.when(
                F.col("c_custkey") % 10 == 0, F.col("c_custkey") + 9
            ).otherwise(F.col("c_custkey") - 1).alias("pid"),
        )
    )
    edges.createOrReplaceTempView("rs_icy_edges")
    return run_redshift_sql(spark, _REDSHIFT_CONNECT_BY_ISCYCLE)


_REDSHIFT_CONNECT_BY_EXPR = """
    SELECT c_custkey, CAST(LEVEL AS BIGINT) AS lvl,
           CONNECT_BY_ROOT(UPPER(SUBSTRING(c_name, 1, 12))) AS root_tag,
           CONNECT_BY_ROOT(c_custkey * 100 + c_nationkey) AS root_code,
           SYS_CONNECT_BY_PATH(CONCAT(c_custkey, '@', c_nationkey), '/') AS code_path
    FROM rs_cbx_customer
    WHERE (LEVEL <= 3)
    START WITH c_custkey IN (1, 2, 3)
    CONNECT BY PRIOR c_custkey = FLOOR(c_custkey / 10)
"""


@register(
    "redshift_sql_connect_by_expr",
    tags=("F2",),
    oracle="""
        WITH RECURSIVE cb AS (
            SELECT c_custkey, 1 AS lvl,
                   UPPER(SUBSTRING(c_name, 1, 12)) AS root_tag,
                   c_custkey * 100 + c_nationkey AS root_code,
                   '/' || CAST(c_custkey AS VARCHAR) || '@'
                       || CAST(c_nationkey AS VARCHAR) AS code_path
            FROM customer WHERE c_custkey IN (1, 2, 3)
            UNION ALL
            SELECT c.c_custkey, p.lvl + 1, p.root_tag, p.root_code,
                   p.code_path || '/' || CAST(c.c_custkey AS VARCHAR) || '@'
                       || CAST(c.c_nationkey AS VARCHAR)
            FROM customer c
            JOIN cb p ON FLOOR(c.c_custkey / 10) = p.c_custkey
            WHERE p.lvl + 1 <= 3
        )
        SELECT c_custkey, CAST(lvl AS BIGINT) AS lvl, root_tag, root_code,
               code_path
        FROM cb
    """,
)
def redshift_sql_connect_by_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expression pseudo-column arguments (r9 — the last line of the
    CONNECT BY remainder): CONNECT_BY_ROOT(expr) evaluates the
    expression AT THE ROOT ROW and tags every descendant with it (two
    distinct expressions here — a string tag and an arithmetic code,
    both load-bearing in the hash across the three interleaved trees);
    SYS_CONNECT_BY_PATH(expr, sep) evaluates it per row along the walk.
    The rewrite precomputes each distinct expression ROW-LOCALLY in a
    derived base CTE (__cbb) and then carries it exactly like a simple
    column (redshift_sql.py _rewrite_connect_by) — expressions may
    reference base-table columns only; PRIOR / LEVEL / nested
    pseudo-columns inside are loud.

    Scale: the derived projection folds into the base scan (row-local,
    no shuffle); the carry itself is the r8 pseudo-column argument —
    bytes per frontier row, measured free (0.98-1.06×, docs/ROUND8.md).
    """
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("rs_cbx_customer")
    return run_redshift_sql(spark, _REDSHIFT_CONNECT_BY_EXPR)


_SCRIPT_GET_DIAGNOSTICS = """
    CREATE TEMP TABLE stage AS
    SELECT * FROM {orders} WHERE o_orderstatus = 'O' AND o_custkey <= 300;
    CREATE TEMP TABLE audit_rc (step VARCHAR(10), n BIGINT);

    CREATE PROCEDURE load_and_scrub() AS $$
    DECLARE v_n BIGINT;
    BEGIN
        INSERT INTO stage
        SELECT * FROM {orders} WHERE o_orderstatus = 'F' AND o_custkey <= 300;
        GET DIAGNOSTICS v_n := ROW_COUNT;
        INSERT INTO audit_rc VALUES ('ins', v_n);

        UPDATE stage SET o_totalprice = 0 WHERE o_orderpriority = '1-URGENT';
        GET DIAGNOSTICS v_n := ROW_COUNT;
        INSERT INTO audit_rc VALUES ('upd', v_n);

        DELETE FROM stage WHERE o_custkey <= 150;
        GET DIAGNOSTICS v_n = ROW_COUNT;
        INSERT INTO audit_rc VALUES ('del', v_n);
    END;
    $$ LANGUAGE plpgsql;

    CALL load_and_scrub();
    SELECT step, n FROM audit_rc
    UNION ALL
    SELECT 'final', COUNT(*) FROM stage;
"""


@register(
    "redshift_script_get_diagnostics",
    tags=("S6",),
    oracle="""
        WITH loaded AS (
            SELECT * FROM orders
            WHERE o_orderstatus IN ('O', 'F') AND o_custkey <= 300
        )
        SELECT 'ins' AS step,
               (SELECT COUNT(*) FROM loaded WHERE o_orderstatus = 'F') AS n
        UNION ALL
        SELECT 'upd',
               (SELECT COUNT(*) FROM loaded WHERE o_orderpriority = '1-URGENT')
        UNION ALL
        SELECT 'del', (SELECT COUNT(*) FROM loaded WHERE o_custkey <= 150)
        UNION ALL
        SELECT 'final', (SELECT COUNT(*) FROM loaded WHERE o_custkey > 150)
    """,
)
def redshift_script_get_diagnostics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GET DIAGNOSTICS var := ROW_COUNT (r7): the load-audit idiom —
    each DML's affected-row count lands in an audit table, and every
    count is load-bearing in the hash (insert count, update-match count,
    delete count, surviving rows). Affected sets are captured as LAZY
    plans against the statement's own bindings and counted only at the
    GET DIAGNOSTICS read — an untracked intervening statement makes the
    read loud rather than silently stale (script_runner.py).

    Scale: one count job per ROW_COUNT read, each over the captured
    delta plan (pushed filters, no shuffle); procs that never read
    ROW_COUNT pay nothing.
    """
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    load_table(spark, sf_dir, "orders").createOrReplaceTempView("rs_gd_orders")
    out = run_redshift_script(spark, _SCRIPT_GET_DIAGNOSTICS.format(orders="rs_gd_orders"))
    assert out is not None
    return out


_SCRIPT_PROC_INOUT = """
    CREATE PROCEDURE order_stats(IN status CHAR(1),
                                 INOUT n_orders BIGINT,
                                 INOUT total_price DOUBLE PRECISION,
                                 INOUT tag VARCHAR(30)) AS $$
    BEGIN
        SELECT INTO n_orders COUNT(*) FROM {orders}
        WHERE o_orderstatus = status;
        SELECT INTO total_price
            CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE PRECISION)
            + total_price
        FROM {orders} WHERE o_orderstatus = status;
        tag := tag || '-' || status;
    END;
    $$ LANGUAGE plpgsql;

    CALL order_stats('F', 0, 0.0, 'audit');
"""


@register(
    "redshift_script_proc_inout",
    tags=("S6",),
    oracle="""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   + 0.0 AS total_price,
               'audit-F' AS tag
        FROM orders WHERE o_orderstatus = 'F'
    """,
)
def redshift_script_proc_inout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INOUT procedure parameters (r8, §2.9b R3): the CALL itself
    returns the final INOUT values as a one-row result — Redshift's
    contract (OUT args are forbidden in a SQL-level CALL there, and
    stay loud here). All three outputs are load-bearing in the hash:
    a count accumulated into a BIGINT INOUT, an exact-decimal sum
    folded into a DOUBLE INOUT seeded by the caller, and a VARCHAR
    INOUT mutated by := concatenation.

    Scale: the aggregates run as ordinary distributed jobs; only the
    three scalar INOUT values cross the driver (script_runner.py
    _inout_result — a one-row literal SELECT, no data collected).
    """
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    load_table(spark, sf_dir, "orders").createOrReplaceTempView("rs_io_orders")
    out = run_redshift_script(spark, _SCRIPT_PROC_INOUT.format(orders="rs_io_orders"))
    assert out is not None
    return out


_SCRIPT_CASE_STMT = """
    CREATE TEMP TABLE tiers (seg VARCHAR(20), tier VARCHAR(10), n BIGINT);

    CREATE PROCEDURE classify(p_seg VARCHAR(20)) AS $$
    DECLARE v_n BIGINT;
    BEGIN
        SELECT COUNT(*) INTO v_n FROM {customer} WHERE c_mktsegment = p_seg;
        CASE
            WHEN v_n = 0 THEN
                RAISE EXCEPTION 'empty segment %', p_seg;
            WHEN v_n < 250 THEN
                INSERT INTO tiers VALUES (p_seg, 'small', v_n);
            ELSE
                INSERT INTO tiers VALUES (p_seg, 'large', v_n);
        END CASE;
        CASE SUBSTRING(p_seg, 1, 1)
            WHEN 'B', 'F' THEN
                UPDATE tiers SET tier = tier || '+bf' WHERE seg = p_seg;
            ELSE
                UPDATE tiers SET tier = tier || '+other' WHERE seg = p_seg;
        END CASE;
    END;
    $$ LANGUAGE plpgsql;

    CALL classify('BUILDING');
    CALL classify('FURNITURE');
    CALL classify('MACHINERY');
    SELECT seg, tier, n FROM tiers;
"""


@register(
    "redshift_script_case_stmt",
    tags=("S6",),
    oracle="""
        SELECT c_mktsegment AS seg,
               (CASE WHEN COUNT(*) < 250 THEN 'small' ELSE 'large' END)
               || (CASE WHEN substring(c_mktsegment, 1, 1) IN ('B', 'F')
                        THEN '+bf' ELSE '+other' END) AS tier,
               COUNT(*) AS n
        FROM customer
        WHERE c_mktsegment IN ('BUILDING', 'FURNITURE', 'MACHINERY')
        GROUP BY c_mktsegment
    """,
)
def redshift_script_case_stmt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """plpgsql CASE *statement* (r7, late addition — leads the r8 driver
    window; pytest + driver_sim green this round): both forms are
    load-bearing — the searched form picks the size tier per segment
    (with an untaken RAISE branch), and the simple value-list form
    (`CASE SUBSTRING(seg,1,1) WHEN 'B','F'`) appends a suffix via
    UPDATE. A no-match CASE without ELSE raises case_not_found, as
    plpgsql does (unit-tested).

    Scale: CASE statements are driver-side branch selection over 1-row
    condition queries — the chosen arm's DML is the only distributed
    work, identical to the hand-written equivalent.
    """
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    load_table(spark, sf_dir, "customer").createOrReplaceTempView("rs_case_customer")
    out = run_redshift_script(spark, _SCRIPT_CASE_STMT.format(customer="rs_case_customer"))
    assert out is not None
    return out


def _guard_gk_group_sizes(
    df: DataFrame, group_col: str, query_name: str, parquet_path: str | None = None
) -> None:
    """Tier guard (ADVICE r10): an APPROXIMATE PERCENTILE_DISC gate
    query's exact-quantile DuckDB oracle is only valid while every group
    stays under the pinned GK accuracy — past it Spark may LEGALLY
    return a value ≤ n/accuracy ranks off the exact quantile and the
    gate's hash compare would fail mysteriously. Fail HERE, with the
    reason, instead. test_approx_percentile_gk_bound covers the
    approximate regime itself (no cross-engine oracle can).

    ADVICE r11: the groupBy/count probe used to run an eager Spark job
    on EVERY build, even at fixture tiers orders of magnitude below the
    accuracy — skewing any build-time measurement of these queries.
    The table's parquet footers bound every group's size from the
    driver (total rows >= any group), so below the accuracy the guard
    now costs zero Spark jobs; the per-group agg only runs in the
    genuinely risky regime, where its cost is irrelevant next to the
    loud refusal it may produce."""
    from sql_redshift_etl_spark.functions.redshift_sql import _APPROX_PCT_ACCURACY

    if parquet_path is not None:
        total = parquet_total_rows(parquet_path)
        if total is not None and total < _APPROX_PCT_ACCURACY:
            return
    max_group = df.groupBy(group_col).count().agg(F.max("count")).first()[0]
    if max_group is not None and max_group >= _APPROX_PCT_ACCURACY:
        raise ValueError(
            f"{query_name}: a {group_col} group has {max_group} rows ≥ "
            f"the pinned GK accuracy ({_APPROX_PCT_ACCURACY}) — in this "
            "regime Spark's estimate may legally differ from the exact "
            "DuckDB quantile_disc oracle by ≤ n/accuracy ranks, so the "
            "hash compare is not a valid gate. Run at a smaller fixture "
            "tier (the driver uses sf0.01) or see "
            "test_approx_percentile_gk_bound for the approximate-regime "
            "check."
        )


_REDSHIFT_APPROX_PCT = """
    SELECT l_returnflag,
           APPROXIMATE PERCENTILE_DISC(0.5)
               WITHIN GROUP (ORDER BY l_quantity) AS med_qty,
           APPROXIMATE PERCENTILE_DISC(0.9)
               WITHIN GROUP (ORDER BY l_extendedprice) AS p90_price,
           COUNT(*) AS n
    FROM {lineitem}
    GROUP BY l_returnflag
"""


@register(
    "redshift_sql_approx_percentile",
    tags=("A6",),
    oracle="""
        SELECT l_returnflag,
               quantile_disc(l_quantity, 0.5) AS med_qty,
               quantile_disc(l_extendedprice, 0.9) AS p90_price,
               COUNT(*) AS n
        FROM lineitem
        GROUP BY l_returnflag
    """,
)
def redshift_sql_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redshift's ``APPROXIMATE PERCENTILE_DISC`` spelling (r10):
    rewritten to Spark's Greenwald-Khanna ``approx_percentile`` with a
    pinned 1e6 accuracy (redshift_sql.py _rewrite_approx_percentile).
    The oracle is the EXACT discrete quantile: GK keeps every sample
    until the accuracy budget forces compression, so below 1e6 rows per
    group the estimate IS the exact order statistic — both engines
    return an actual element at the same rank convention (verified:
    Spark approx_percentile ≡ DuckDB quantile_disc on boundary cases) —
    and above it the rank error is ≤ 1/accuracy, which is exactly
    Redshift's approximate contract.

    Scale: THIS is why the APPROXIMATE spelling exists at 100 TB — the
    exact percentile needs a full sort (or all values shuffled per
    group); GK is one pass with O(accuracy) memory per group, partials
    merge associatively map-side, and accuracy dials memory against
    rank error. The exact twin (percentiles_price) stays for small
    groups; this query is the big-corpus path.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    # lineitem crosses 1e6 rows/group around sf0.5 — see the helper.
    _guard_gk_group_sizes(
        lineitem,
        "l_returnflag",
        "redshift_sql_approx_percentile",
        parquet_path=f"{sf_dir}/lineitem.parquet",
    )
    lineitem.createOrReplaceTempView("rs_apct_lineitem")
    return run_redshift_sql(
        spark, _REDSHIFT_APPROX_PCT.format(lineitem="rs_apct_lineitem")
    )


_REDSHIFT_APPROX_PCT_EXPR = """
    SELECT l_linestatus,
           APPROXIMATE PERCENTILE_DISC(0.5)
               WITHIN GROUP (ORDER BY COALESCE(l_tax, 0) ASC NULLS LAST) AS med_tax,
           APPROXIMATE PERCENTILE_DISC(0.75)
               WITHIN GROUP (ORDER BY l_extendedprice) AS p75_price,
           COUNT(*) AS n
    FROM {lineitem}
    GROUP BY l_linestatus
"""


@register(
    "redshift_sql_approx_percentile_expr",
    tags=("A6",),
    oracle="""
        SELECT l_linestatus,
               quantile_disc(COALESCE(l_tax, 0), 0.5) AS med_tax,
               quantile_disc(l_extendedprice, 0.75) AS p75_price,
               COUNT(*) AS n
        FROM lineitem
        GROUP BY l_linestatus
    """,
)
def redshift_sql_approx_percentile_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPROXIMATE PERCENTILE_DISC over an EXPRESSION key (r11): the
    ADVICE-r10-widened subset, oracled cross-engine — the ORDER BY
    expression contains a function-call comma (COALESCE(l_tax, 0)),
    which the paren-aware single-key check must accept as ONE key, plus
    the also-r11 'ASC NULLS LAST' spelling (stripped exactly: percentile
    aggregates ignore NULL inputs in Redshift, Spark, and DuckDB alike,
    so NULL placement cannot change the result). Same GK semantics and
    tier guard as redshift_sql_approx_percentile.

    Scale: identical to the sibling query — one-pass GK per group,
    O(accuracy) memory, associative map-side partial merge; COALESCE is
    row-local and folds into the scan projection.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    _guard_gk_group_sizes(
        lineitem,
        "l_linestatus",
        "redshift_sql_approx_percentile_expr",
        parquet_path=f"{sf_dir}/lineitem.parquet",
    )
    lineitem.createOrReplaceTempView("rs_apctx_lineitem")
    return run_redshift_sql(
        spark, _REDSHIFT_APPROX_PCT_EXPR.format(lineitem="rs_apctx_lineitem")
    )


_SCRIPT_FOUND_UPSERT = """
    BEGIN;
    CREATE TEMP TABLE tgt_fu AS
    SELECT n_nationkey AS k, n_name AS name, CAST(0 AS BIGINT) AS hits
    FROM {nation} WHERE n_nationkey < 15;

    CREATE PROCEDURE upsert_fu(k_in INT, nm VARCHAR(32)) AS $$
    BEGIN
        UPDATE tgt_fu SET hits = hits + 1 WHERE k = k_in;
        IF NOT found THEN
            INSERT INTO tgt_fu VALUES (k_in, nm, 1);
        END IF;
    END;
    $$ LANGUAGE plpgsql;

    CALL upsert_fu(3, 'patch-3');
    CALL upsert_fu(20, 'new-20');
    CALL upsert_fu(20, 'dup-20');
    CALL upsert_fu(14, 'patch-14');
    CALL upsert_fu(40, 'new-40');

    SELECT k, name, hits FROM tgt_fu;
    COMMIT;
"""


@register(
    "redshift_script_found_upsert",
    tags=("S6",),
    oracle="""
        SELECT n_nationkey AS k, n_name AS name,
               CAST(CASE WHEN n_nationkey IN (3, 14) THEN 1 ELSE 0 END
                    AS BIGINT) AS hits
        FROM nation WHERE n_nationkey < 15
        UNION ALL
        SELECT CAST(20 AS INTEGER), 'new-20', CAST(2 AS BIGINT)
        UNION ALL
        SELECT CAST(40 AS INTEGER), 'new-40', CAST(1 AS BIGINT)
    """,
)
def redshift_script_found_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classic pre-MERGE upsert idiom, verbatim (r12):
    ``UPDATE ...; IF NOT FOUND THEN INSERT`` inside a parameterized
    procedure, driven by five CALLs mixing existing keys (update path,
    FOUND true), a new key (insert path), and a re-CALL of the new key
    (now the update path — its second CALL must see the first CALL's
    insert AND leave the original inserted name in place). FOUND after
    DML is the r12 setter work (script_runner._mark_found_dml, lazy like
    ROW_COUNT); every branch decision is load-bearing in the hash — a
    stale FOUND double-inserts key 20 or never inserts at all.

    Scale: the plpgsql branch is driver-side control flow; each taken
    arm is the same single-table UPDATE/INSERT plan a straight-line
    script runs. The lazy FOUND read costs one bounded count job per
    branch decision — the coordinator-loop contract every plpgsql
    engine shares.
    """
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    load_table(spark, sf_dir, "nation").createOrReplaceTempView("rs_fu_nation")
    out = run_redshift_script(spark, _SCRIPT_FOUND_UPSERT.format(nation="rs_fu_nation"))
    assert out is not None
    return out
