"""Property-style invariants (SURVEY.md §5): relationships that must
hold between queries regardless of data — checked on the fixtures,
plus hypothesis-driven checks of the dialect helpers."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from sql_redshift_etl_spark.functions.dialect import translate_datetime_format
from sql_redshift_etl_spark.plans.registry import all_queries
from tests.conftest import SF_DIR

QUERIES = all_queries()


def test_union_all_count_additivity(spark, duck):
    n_union = QUERIES["union_all_accounts"].builder(spark, SF_DIR).count()
    n_c = duck.execute("SELECT COUNT(*) FROM customer").fetchone()[0]
    n_s = duck.execute("SELECT COUNT(*) FROM supplier").fetchone()[0]
    assert n_union == n_c + n_s


def test_distinct_leq_all(spark):
    distinct = QUERIES["union_distinct_nations"].builder(spark, SF_DIR).count()
    allrows = QUERIES["union_all_accounts"].builder(spark, SF_DIR).count()
    assert 0 < distinct <= allrows


def test_intersect_union_except_partition(spark):
    """|A ∩ B| + |A \\ B| == |distinct A| for the nation-key set ops."""
    inter = QUERIES["intersect_nations"].builder(spark, SF_DIR).count()
    from pyspark.sql import functions as F

    from sql_redshift_etl_spark.catalog import load_table

    c = load_table(spark, SF_DIR, "customer").select(F.col("c_nationkey").alias("k")).distinct()
    s = load_table(spark, SF_DIR, "supplier").select(F.col("s_nationkey").alias("k")).distinct()
    assert inter + c.subtract(s).count() == c.count()


def test_dedup_partition(spark):
    """Canonical-keep survivors + duplicate-group extras == all docs."""
    kept = QUERIES["dedup_keep_canonical"].builder(spark, SF_DIR).count()
    groups = QUERIES["dedup_exact_groups"].builder(spark, SF_DIR).collect()
    extras = sum(r["n_docs"] - 1 for r in groups)
    total = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    assert kept + extras == total


def test_topk_is_prefix_of_ordering(spark):
    """Global top-10 revenue must equal the first 10 of the full ordering."""
    top = [
        (r["l_orderkey"], r["l_linenumber"])
        for r in QUERIES["topk_global_revenue"].builder(spark, SF_DIR).collect()
    ]
    assert len(top) == 10 and len(set(top)) == 10


def test_sessionize_counts_consistent(spark):
    """Session event counts must sum to the total event count."""
    sessions = QUERIES["events_sessionize"].builder(spark, SF_DIR).collect()
    total = spark.read.parquet(f"{SF_DIR}/events.parquet").count()
    assert sum(r["n_events"] for r in sessions) == total
    for r in sessions:
        assert r["session_start"] <= r["session_end"]


def test_rollup_grand_total_matches(spark):
    rows = QUERIES["rollup_region_nation"].builder(spark, SF_DIR).collect()
    grand = [r for r in rows if r["grouping_level"] == 2]
    assert len(grand) == 1
    leaf_sum = sum(r["n_customers"] for r in rows if r["grouping_level"] == 0)
    assert grand[0]["n_customers"] == leaf_sum


@given(st.text(alphabet="YMDHISAPQ-:/. ", min_size=0, max_size=20))
@settings(max_examples=200, deadline=None)
def test_to_char_translation_total(fmt):
    """The format translator never crashes and never emits unquoted
    lowercase letters it didn't map (which Spark would misparse)."""
    out = translate_datetime_format(fmt)
    assert isinstance(out, str)


@given(st.integers(min_value=-(10**12), max_value=10**12))
@settings(max_examples=200, deadline=None)
def test_canon_cell_int_float_distinct(i):
    """STRICT contract (round 5): canon_cell must DISTINGUISH an int from
    its exact float form. The driver's hash renders cells str()-faithfully
    ('353' vs '353.0' — the q12 red row, r4), so a lenient local mirror
    that unified them could pass what the driver fails. Queries must cast
    both engines' output to the same type instead."""
    from sql_redshift_etl_spark.oracle import canon_cell

    assert canon_cell(i) != canon_cell(float(i))
    # …and the canon stays self-consistent within each type.
    assert canon_cell(i) == canon_cell(int(float(i)))
    assert canon_cell(float(i)) == canon_cell(float(int(i)))


def test_datediff_grid_parity_all_units(spark, duck):
    """redshift_datediff vs DuckDB date_diff on a dense adversarial grid —
    the boundary-crossing contract every §2.7 datetime query rests on.
    Grid: year/quarter/month/week/day/hour/minute/second boundaries, leap
    day, sub-second straddles, and both argument orders (negative diffs).
    One Spark job and one DuckDB query for the whole grid."""
    import itertools

    from pyspark.sql import functions as F

    from sql_redshift_etl_spark.functions.dialect import redshift_datediff

    anchors = [
        "2020-12-31 23:59:59.900",
        "2021-01-01 00:00:00.000",
        "2021-01-01 00:00:00.100",
        "2024-02-28 12:00:00.000",
        "2024-02-29 00:00:00.000",
        "2024-03-01 00:00:00.000",
        "2024-01-07 23:59:59.999",  # Sunday → ISO week boundary next tick
        "2024-01-08 00:00:00.000",
        "2024-03-31 23:00:00.000",  # quarter boundary approach
        "2024-04-01 01:30:00.500",
        "2024-06-15 13:45:30.250",
        "1999-12-31 23:59:00.000",
    ]
    pairs = list(itertools.product(anchors, anchors))
    units = ["year", "quarter", "month", "week", "day", "hour", "minute", "second"]

    pdf = spark.createDataFrame(pairs, "a string, b string").select(
        F.col("a"),
        F.col("b"),
        *[
            redshift_datediff(
                u, F.col("a").cast("timestamp_ntz"), F.col("b").cast("timestamp_ntz")
            ).cast("long").alias(u)
            for u in units
        ],
    )
    got = {(r["a"], r["b"]): tuple(r[u] for u in units) for r in pdf.collect()}

    values = ", ".join(f"('{a}', '{b}')" for a, b in pairs)
    duck_sql = (
        "SELECT a, b, "
        + ", ".join(
            f"date_diff('{u}', CAST(a AS TIMESTAMP), CAST(b AS TIMESTAMP)) AS {u}"
            for u in units
        )
        + f" FROM (VALUES {values}) t(a, b)"
    )
    want = {(r[0], r[1]): tuple(r[2:]) for r in duck.execute(duck_sql).fetchall()}

    mismatches = {
        k: (got[k], want[k]) for k in want if got[k] != want[k]
    }
    assert not mismatches, f"{len(mismatches)} boundary mismatches, e.g. {list(mismatches.items())[:3]}"


def test_lsh_band_cap_guards_hot_buckets(spark):
    """The hot-band guard (docs/SCALE.md): a mass-duplicated boilerplate
    block floods its band buckets; with band_cap set those buckets are
    excluded from candidate generation, while pairs living in small
    buckets are untouched."""
    from pyspark.sql import functions as F

    from sql_redshift_etl_spark.llm.dedup import minhash_lsh_pairs_df

    boiler = "the standard license header text block " * 3
    near_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    near_b = "alpha beta gamma delta epsilon zeta eta theta iota lambda"
    rows = [(i, boiler) for i in range(60)]
    rows += [(100, near_a), (101, near_b)]
    rows += [(200 + i, f"totally unrelated document number {i} with words w{i} x{i} y{i} z{i}") for i in range(5)]
    d = spark.createDataFrame(rows, "doc_id long, text string")

    uncapped = minhash_lsh_pairs_df(d)
    capped = minhash_lsh_pairs_df(d, band_cap=50)

    unc = {(r["doc_a"], r["doc_b"]) for r in uncapped.collect()}
    cap = {(r["doc_a"], r["doc_b"]) for r in capped.collect()}

    # uncapped: the 60 identical docs alone contribute C(60,2) pairs
    assert len([p for p in unc if p[0] < 60 and p[1] < 60]) == 60 * 59 // 2
    # capped: every boilerplate bucket (size 60 > 50) is excluded...
    assert not [p for p in cap if p[0] < 60 and p[1] < 60]
    # ...while the planted near-dup pair in small buckets survives
    assert (100, 101) in unc and (100, 101) in cap


def test_embedding_ann_band_cap_guards_hot_buckets(spark):
    """Same hot-bucket guard on the embedding side: a mass-duplicated
    vector (60 identical copies — every band bucket of size 60) is
    excluded with band_cap=50, while a near-dup pair in small buckets
    survives."""
    from sql_redshift_etl_spark.llm.dedup import embedding_ann_pairs_df

    base = [float((i * 7 + 3) % 11 - 5) or 1.0 for i in range(64)]
    rows = [(i, base) for i in range(60)]  # the mass-duplicated "boilerplate" vector
    small_a = [float(((i + 1) * 3) % 13 - 6) or 1.0 for i in range(64)]
    small_b = list(small_a)
    small_b[0] += 0.01  # cosine ~1, same sign signature, bucket of size 2
    rows += [(300, small_a), (301, small_b)]
    rows += [
        (200 + k, [float(((i + 1) * (k + 5)) % 13 - 6) or 1.0 for i in range(64)])
        for k in range(5)
    ]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    uncapped = {(r["vec_a"], r["vec_b"]) for r in embedding_ann_pairs_df(e).collect()}
    capped = {
        (r["vec_a"], r["vec_b"]) for r in embedding_ann_pairs_df(e, band_cap=50).collect()
    }
    # uncapped: the 60 identical vectors contribute C(60,2) pairs
    assert len([p for p in uncapped if p[0] < 60 and p[1] < 60]) == 60 * 59 // 2
    # capped: the size-60 buckets are excluded...
    assert not [p for p in capped if p[0] < 60 and p[1] < 60]
    # ...while the near-dup pair in a small bucket survives
    assert (300, 301) in uncapped and (300, 301) in capped


@given(
    st.lists(
        st.tuples(st.integers(0, 9), st.integers(-100, 100)), min_size=0, max_size=12
    ),
    st.dictionaries(st.integers(0, 12), st.integers(-100, 100), max_size=8),
)
@settings(max_examples=8, deadline=None)
def test_script_merge_into_semantics_random(spark, tgt_rows, src_map):
    """MERGE INTO semantics over random inputs (r6): every target row
    with a source match takes the source value (duplicate target keys
    each update — full-outer semantics), unmatched target rows pass
    through, unmatched source keys insert. Expected multiset computed
    independently in Python."""
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    spark.createDataFrame(
        [(k, v) for k, v in tgt_rows] or [(None, None)], "k int, v int"
    ).where("k IS NOT NULL").createOrReplaceTempView("rs_prop_tgt")
    spark.createDataFrame(
        list(src_map.items()) or [(None, None)], "k int, v int"
    ).where("k IS NOT NULL").createOrReplaceTempView("rs_prop_src")
    out = run_redshift_script(
        spark,
        """
        CREATE TEMP TABLE t AS SELECT * FROM rs_prop_tgt;
        CREATE TEMP TABLE s AS SELECT * FROM rs_prop_src;
        MERGE INTO t USING s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET v = s.v
        WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v);
        SELECT k, v FROM t;
        """,
    )
    got = sorted((r.k, r.v) for r in out.collect())
    tgt_keys = {k for k, _ in tgt_rows}
    expected = sorted(
        [(k, src_map.get(k, v) if k in src_map else v) for k, v in tgt_rows]
        + [(k, v) for k, v in src_map.items() if k not in tgt_keys]
    )
    assert got == expected


@given(
    st.lists(
        st.text(
            alphabet=st.characters(
                blacklist_characters=";'$", blacklist_categories=("Cs",)
            ),
            min_size=1,
            max_size=30,
        ).map(str.strip).filter(bool),
        min_size=1,
        max_size=6,
    )
)
@settings(max_examples=60, deadline=None)
def test_split_statements_dollar_quote_roundtrip(stmts):
    """Statements joined with ';' split back losslessly, and a $$ body
    containing semicolons/quotes survives as ONE statement."""
    from sql_redshift_etl_spark.functions.script_runner import split_statements

    joined = ";".join(stmts) + ";"
    assert split_statements(joined) == [s.strip() for s in stmts if s.strip()]

    body = "BEGIN " + "; ".join(stmts) + "; END;"
    script = f"CREATE PROCEDURE p() AS $${body}$$ LANGUAGE plpgsql; SELECT 1;"
    parts = split_statements(script)
    assert len(parts) == 2 and parts[0].endswith("LANGUAGE plpgsql")


@given(
    st.integers(min_value=0, max_value=10**6),
    st.integers(min_value=0, max_value=99),
)
@settings(max_examples=60, deadline=None)
def test_to_number_parses_any_grouped_amount(spark, whole, cents):
    """TO_NUMBER with a grouped currency format parses any rendered
    amount back to the exact decimal (property over random amounts)."""
    from sql_redshift_etl_spark.functions.redshift_sql import translate_redshift_sql

    rendered = f"${whole:,}.{cents:02d}"
    sql = translate_redshift_sql(
        f"SELECT TO_NUMBER('{rendered}', '$9,999,999.99') AS n"
    )
    got = spark.sql(sql).collect()[0]["n"]
    assert float(got) == whole + cents / 100


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=99999),
            st.text(alphabet="abcdefgh", min_size=0, max_size=6),
        ),
        min_size=1,
        max_size=8,
    )
)
@settings(max_examples=25, deadline=None)
def test_fixed_width_roundtrip_property(spark, tmp_path_factory, rows):
    """Any (int, word) table rendered at fixed widths reads back
    exactly through read_fixed_width (cuts, rtrim, casts)."""
    from sql_redshift_etl_spark.sources.readers import read_fixed_width

    d = tmp_path_factory.mktemp("fw")
    p = d / "data.txt"
    p.write_text("".join(f"{k:<6d}{w:<8s}\n" for k, w in rows))
    out = read_fixed_width(
        spark, str(p), "k BIGINT, w STRING", "k:6,w:8"
    ).collect()
    got = sorted((r["k"], r["w"]) for r in out)
    assert got == sorted((k, w) for k, w in rows)


# --- plpgsql control flow + variables vs a Python reference model (r6) ---

_CF_LIT = st.integers(-20, 20)
_CF_VAR = st.sampled_from(["v0", "v1"])


def _cf_stmts(depth: int):
    base = st.one_of(
        st.tuples(st.just("addk"), _CF_VAR, st.integers(-5, 5)),  # v := v + k
        st.tuples(st.just("copy"), _CF_VAR, _CF_VAR),             # v := w
        st.tuples(st.just("lit"), _CF_VAR, _CF_LIT),              # v := k
    )
    if depth <= 0:
        return st.lists(base, min_size=1, max_size=3)
    inner = _cf_stmts(depth - 1)
    block = st.one_of(
        base,
        st.tuples(st.just("if"), _CF_VAR, _CF_LIT, inner, inner),  # IF v < c
        st.tuples(st.just("while"), st.integers(0, 4), inner),     # v2-counter loop
        st.tuples(st.just("for"), st.integers(1, 3), _CF_VAR, inner),  # FOR i IN 1..n
    )
    return st.lists(block, min_size=1, max_size=3)


def _cf_render(stmts) -> str:
    out = []
    for s in stmts:
        if s[0] == "addk":
            out.append(f"{s[1]} := {s[1]} + {s[2]};")
        elif s[0] == "copy":
            out.append(f"{s[1]} := {s[2]};")
        elif s[0] == "lit":
            out.append(f"{s[1]} := {s[2]};")
        elif s[0] == "if":
            out.append(
                f"IF {s[1]} < {s[2]} THEN {_cf_render(s[3])} "
                f"ELSE {_cf_render(s[4])} END IF;"
            )
        elif s[0] == "while":
            out.append(
                f"v2 := 0; WHILE v2 < {s[1]} LOOP {_cf_render(s[2])} "
                "v2 := v2 + 1; END LOOP;"
            )
        elif s[0] == "for":
            out.append(
                f"FOR i IN 1..{s[1]} LOOP {s[2]} := {s[2]} + i; "
                f"{_cf_render(s[3])} END LOOP;"
            )
    return " ".join(out)


def _cf_eval(stmts, env) -> None:
    for s in stmts:
        if s[0] == "addk":
            env[s[1]] += s[2]
        elif s[0] == "copy":
            env[s[1]] = env[s[2]]
        elif s[0] == "lit":
            env[s[1]] = s[2]
        elif s[0] == "if":
            _cf_eval(s[3] if env[s[1]] < s[2] else s[4], env)
        elif s[0] == "while":
            env["v2"] = 0
            while env["v2"] < s[1]:
                _cf_eval(s[2], env)
                env["v2"] += 1
        elif s[0] == "for":
            for i in range(1, s[1] + 1):
                env[s[2]] += i
                _cf_eval(s[3], env)


@given(_CF_LIT, _CF_LIT, _cf_stmts(2))
@settings(max_examples=6, deadline=None)
def test_plpgsql_control_flow_matches_python_model(spark, a, b, stmts):
    """Random nested IF/WHILE/FOR + variable programs produce the same
    final (v0, v1) as an independent Python evaluator — the strongest
    check that condition timing, loop re-evaluation, and per-use-site
    variable substitution all agree with plpgsql's sequential model."""
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    env = {"v0": a, "v1": b, "v2": 0}
    _cf_eval(stmts, env)
    out = run_redshift_script(
        spark,
        f"""
        CREATE TEMP TABLE cf_out (x BIGINT, y BIGINT);
        CREATE PROCEDURE prog() AS $$
        DECLARE v0 BIGINT := {a}; v1 BIGINT := {b}; v2 BIGINT := 0;
        BEGIN
            {_cf_render(stmts)}
            INSERT INTO cf_out VALUES (v0, v1);
        END;
        $$ LANGUAGE plpgsql;
        CALL prog();
        SELECT x, y FROM cf_out;
        """,
    )
    assert [tuple(r) for r in out.collect()] == [(env["v0"], env["v1"])]


@given(
    st.lists(
        st.one_of(
            st.tuples(st.just("insert"), st.integers(0, 9)),
            st.tuples(st.just("begin")),
            st.tuples(st.just("commit")),
            st.tuples(st.just("rollback")),
        ),
        min_size=1,
        max_size=10,
    )
)
@settings(max_examples=10, deadline=None)
def test_script_transactions_match_model(spark, ops):
    """Random BEGIN/COMMIT/ROLLBACK/INSERT sequences leave exactly the
    rows a snapshot-stack reference model predicts (single-level
    transactions, nested BEGIN ignored, ROLLBACK outside a transaction
    a no-op — Redshift's contract)."""
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    rows: list[int] = []
    snap = None
    stmts = ["CREATE TEMP TABLE tx_t (k INT);"]
    for op in ops:
        if op[0] == "insert":
            stmts.append(f"INSERT INTO tx_t VALUES ({op[1]});")
            rows.append(op[1])
        elif op[0] == "begin":
            stmts.append("BEGIN;")
            if snap is None:
                snap = list(rows)
        elif op[0] == "commit":
            stmts.append("COMMIT;")
            snap = None
        else:
            stmts.append("ROLLBACK;")
            if snap is not None:
                rows = snap
                snap = None
    stmts.append("SELECT k FROM tx_t;")
    out = run_redshift_script(spark, "\n".join(stmts))
    assert sorted(r.k for r in out.collect()) == sorted(rows)


# --- r7: EXCEPTION guard semantics vs a Python reference model -------------
# Random programs of INSERTs, RAISEs, and nested BEGIN...EXCEPTION WHEN
# OTHERS blocks. The model: a guard snapshots the table at entry; a raise
# unwinds to the INNERMOST guard, restores the snapshot, and appends the
# handler's marker row; nested guards catch before outer ones. This is
# the strongest check that guard stacking, unwind order, and the
# snapshot/restore rollback all agree with plpgsql's block semantics.

_G_ITEM = st.deferred(
    lambda: st.one_of(
        st.tuples(st.just("ins"), st.integers(0, 99)),
        st.tuples(st.just("raise")),
        st.tuples(
            st.just("guard"),
            st.lists(_G_ITEM, min_size=0, max_size=3),
            st.integers(100, 199),
        ),
    )
)
_G_TOP = st.lists(
    st.one_of(
        st.tuples(st.just("ins"), st.integers(0, 99)),
        st.tuples(
            st.just("guard"),
            st.lists(_G_ITEM, min_size=0, max_size=3),
            st.integers(100, 199),
        ),
    ),
    min_size=1,
    max_size=4,
)


def _g_render(items) -> str:
    out = []
    for it in items:
        if it[0] == "ins":
            out.append(f"INSERT INTO g_t VALUES ({it[1]});")
        elif it[0] == "raise":
            out.append("RAISE EXCEPTION 'boom';")
        else:
            out.append(
                f"BEGIN {_g_render(it[1])} "
                f"EXCEPTION WHEN OTHERS THEN INSERT INTO g_t VALUES ({it[2]}); END;"
            )
    return " ".join(out)


class _GRaise(Exception):
    pass


def _g_eval(items, rows: list) -> None:
    for it in items:
        if it[0] == "ins":
            rows.append(it[1])
        elif it[0] == "raise":
            raise _GRaise()
        else:
            snap = list(rows)
            try:
                _g_eval(it[1], rows)
            except _GRaise:
                rows[:] = snap
                rows.append(it[2])


@given(_G_TOP)
@settings(max_examples=6, deadline=None)
def test_exception_guard_matches_python_model(spark, prog):
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    rows: list[int] = []
    _g_eval(prog, rows)
    out = run_redshift_script(
        spark,
        f"""
        CREATE TEMP TABLE g_t (k INT);
        CREATE PROCEDURE prog() AS $$
        BEGIN
            {_g_render(prog)}
        END;
        $$ LANGUAGE plpgsql;
        CALL prog();
        SELECT k FROM g_t;
        """,
    )
    assert sorted(r.k for r in out.collect()) == sorted(rows)


# --- r8: CONNECT BY (pseudo-columns + NOCYCLE + LEVEL caps) vs a Python
# reference walk. Random node/parent graphs — cycles included — with
# random START WITH sets, an optional post-expansion LEVEL cap
# (sometimes parenthesized, exercising the paren-tolerant pushdown), an
# optional bare-LEVEL cap INSIDE the CONNECT BY condition (child-level
# semantics, the r7-advice off-by-one), and NOCYCLE either on or backed
# by a cap (an uncapped cyclic walk without NOCYCLE is the documented
# loud recursion-limit stop, tested separately in test_units). The model
# enumerates every walk: a row per (path from a start node), LEVEL =
# path length, CONNECT_BY_ROOT = path head, SYS_CONNECT_BY_PATH = the
# '/'-joined id path, NOCYCLE = skip a child already on its own path.


@st.composite
def _cb_case(draw):
    n = draw(st.integers(3, 12))
    parents = [draw(st.one_of(st.none(), st.integers(0, n - 1))) for _ in range(n)]
    starts = draw(st.lists(st.integers(0, n - 1), min_size=1, max_size=3, unique=True))
    nocycle = draw(st.booleans())
    cap = draw(st.one_of(st.none(), st.integers(1, 4)))
    cb_cap = draw(st.one_of(st.none(), st.integers(1, 4)))
    if not nocycle and cap is None and cb_cap is None:
        cap = 4  # keep cyclic graphs bounded
    paren = draw(st.booleans())
    return n, parents, starts, nocycle, cap, cb_cap, paren


def _cb_model(n, parents, starts, nocycle, cap, cb_cap):
    rows = []
    kids: dict[int, list[int]] = {}
    for c, p in enumerate(parents):
        if p is not None:
            kids.setdefault(p, []).append(c)

    def flags(node, level, path):
        # r9: lookahead flags. The condition tree at this row includes a
        # child iff the in-condition cap admits its level (the pushed
        # post-expansion WHERE cap does NOT participate — the probe is
        # walk-independent). Under NOCYCLE a child already on the row's
        # own root path (ancestor-or-self) is PRUNED: ISCYCLE = some
        # pruned child; ISLEAF = no EXPANDED child.
        cond = [
            c
            for c in kids.get(node, ())
            if cb_cap is None or level + 1 <= cb_cap
        ]
        if not nocycle:
            return (0 if cond else 1, None)
        live = [c for c in cond if c not in path]
        pruned = [c for c in cond if c in path]
        return (0 if live else 1, 1 if pruned else 0)

    def walk(node, level, root, path):
        if cap is None or level <= cap:
            leaf, cyc = flags(node, level, path)
            rows.append(
                (
                    node,
                    level,
                    root,
                    "/" + "/".join(map(str, path)),
                    leaf,
                    root * 10 + 1,
                    "-" + "-".join(f"n{x}" for x in path),
                )
                + ((cyc,) if nocycle else ())
            )
        if cap is not None and level + 1 > cap:
            return  # pushdown-pruned: descendants only get deeper
        for c in kids.get(node, ()):
            if nocycle and c in path:
                continue
            if cb_cap is not None and level + 1 > cb_cap:
                continue
            walk(c, level + 1, root, path + [c])

    for s in sorted(starts):
        walk(s, 1, s, [s])
    return sorted(rows)


@given(_cb_case())
@settings(max_examples=8, deadline=None)
def test_connect_by_matches_python_model(spark, case):
    from sql_redshift_etl_spark.functions.redshift_sql import run_redshift_sql

    n, parents, starts, nocycle, cap, cb_cap, paren = case
    spark.createDataFrame(
        [(i, parents[i]) for i in range(n)], "id INT, parent INT"
    ).createOrReplaceTempView("cbf_t")
    in_list = ", ".join(map(str, sorted(starts)))
    cb = "CONNECT BY " + ("NOCYCLE " if nocycle else "") + "PRIOR id = parent"
    if cb_cap is not None:
        cb += f" AND LEVEL <= {cb_cap}"
    where = ""
    if cap is not None:
        conj = f"(LEVEL <= {cap})" if paren else f"LEVEL <= {cap}"
        where = f"WHERE {conj}"
    # r9: ISLEAF always; ISCYCLE only under NOCYCLE (loud otherwise);
    # expression arguments to ROOT (arithmetic) and PATH (CONCAT)
    cyc_col = ", CAST(CONNECT_BY_ISCYCLE AS INT) AS iscycle" if nocycle else ""
    out = run_redshift_sql(
        spark,
        f"""
        SELECT id, CAST(LEVEL AS BIGINT) AS lvl,
               CONNECT_BY_ROOT id AS root_id,
               SYS_CONNECT_BY_PATH(id, '/') AS path,
               CAST(CONNECT_BY_ISLEAF AS INT) AS isleaf,
               CONNECT_BY_ROOT(id * 10 + 1) AS root_code,
               SYS_CONNECT_BY_PATH(CONCAT('n', id), '-') AS npath{cyc_col}
        FROM cbf_t
        {where}
        START WITH id IN ({in_list})
        {cb}
        """,
    )
    got = sorted(tuple(r) for r in out.collect())
    assert got == _cb_model(n, parents, starts, nocycle, cap, cb_cap)


# --- r8: the exact-substring span family (report / cut / incremental)
# vs ONE Python reference model. Tiny vocab + short docs + k=3 make
# cross-document duplicated windows common; the model derives duplicated
# window keys, per-doc hit positions, gaps-and-islands span metrics
# (spans with start-gap 2..k-1 OVERLAP in token extent and double-count
# dup_tokens — the r7-oracled semantics, replicated deliberately), the
# cut as the UNION of covered token indices, and the incremental split
# (delta window duplicated iff stored in the corpus or shared by >= 2
# delta docs).

_SPAN_K = 3


@st.composite
def _span_case(draw):
    n_docs = draw(st.integers(2, 6))
    docs = []
    for i in range(n_docs):
        toks = draw(
            st.lists(st.sampled_from(["a", "b", "c", "d"]), min_size=3, max_size=14)
        )
        docs.append((i, " ".join(toks)))
    return docs


def _span_model(docs, k=_SPAN_K):
    toks = {i: t.split(" ") for i, t in docs if len(t.split(" ")) >= k}
    wins = {
        i: [" ".join(w[p : p + k]) for p in range(len(w) - k + 1)]
        for i, w in toks.items()
    }
    owners: dict[str, set] = {}
    for i, ws in wins.items():
        for key in ws:
            owners.setdefault(key, set()).add(i)
    dup = {key for key, o in owners.items() if len(o) >= 2}
    spans_rows, cut_rows = [], []
    for i, w in toks.items():
        hits = [p for p, key in enumerate(wins[i]) if key in dup]
        if hits:
            groups, cur = [], [hits[0]]
            for p in hits[1:]:
                if p - cur[-1] > 1:
                    groups.append(cur)
                    cur = []
                cur.append(p)
            groups.append(cur)
            spans_rows.append(
                (
                    i,
                    len(hits),
                    len(groups),
                    sum((g[-1] + k - 1) - g[0] + 1 for g in groups),
                )
            )
        covered = {t for p in hits for t in range(p, p + k)}
        kept = [t for j, t in enumerate(w) if j not in covered]
        cut_rows.append((i, len(w), len(kept), " ".join(kept)))
    # incremental: even doc_ids = corpus, odd = delta
    corpus_keys = {key for i, ws in wins.items() if i % 2 == 0 for key in ws}
    inc_rows = []
    for i, w in toks.items():
        if i % 2 == 0:
            continue
        hits = [
            p
            for p, key in enumerate(wins[i])
            if key in corpus_keys
            or len({j for j in owners[key] if j % 2 == 1}) >= 2
        ]
        if not hits:
            continue
        groups, cur = [], [hits[0]]
        for p in hits[1:]:
            if p - cur[-1] > 1:
                groups.append(cur)
                cur = []
            cur.append(p)
        groups.append(cur)
        inc_rows.append(
            (i, len(hits), len(groups), sum((g[-1] + k - 1) - g[0] + 1 for g in groups))
        )
    return sorted(spans_rows), sorted(cut_rows), sorted(inc_rows)


@given(_span_case())
@settings(max_examples=8, deadline=None)
def test_span_family_matches_python_model(spark, docs):
    from pyspark.sql import functions as F

    from sql_redshift_etl_spark.llm.dedup import (
        substring_cut_df,
        substring_spans_df,
        substring_spans_incremental_df,
    )

    d = spark.createDataFrame(docs, "doc_id INT, text STRING")
    want_spans, want_cut, want_inc = _span_model(docs)
    got_spans = sorted(
        (r.doc_id, r.n_dup_windows, r.n_spans, r.dup_tokens)
        for r in substring_spans_df(d, k=_SPAN_K).collect()
    )
    got_cut = sorted(map(tuple, substring_cut_df(d, k=_SPAN_K).collect()))
    got_inc = sorted(
        map(
            tuple,
            substring_spans_incremental_df(
                d.where(F.col("doc_id") % 2 == 0),
                d.where(F.col("doc_id") % 2 == 1),
                k=_SPAN_K,
            ).collect(),
        )
    )
    assert got_spans == want_spans
    assert got_cut == want_cut
    assert got_inc == want_inc


# --- r10: widened ORDER SIBLINGS BY (multi-key, per-key DESC, NULLS
# FIRST/LAST, expression keys) vs a Python DFS model. Random forests
# (parent < child, so acyclic by construction), a nullable first key and
# a second key, random direction/NULLS modifiers, and sometimes the
# first key spelled as a parenthesized expression ((k1 + 0) — same
# ordering). The trailing `id` key makes every sibling tuple unique, so
# the exact output SEQUENCE is deterministic and the assertion is
# order-sensitive — precisely what the order-insensitive driver hash
# cannot check.


@st.composite
def _os_fuzz_case(draw):
    n = draw(st.integers(3, 12))
    parents = [
        None if i == 0 else draw(st.one_of(st.none(), st.integers(0, i - 1)))
        for i in range(n)
    ]
    k1 = [draw(st.one_of(st.none(), st.integers(0, 3))) for _ in range(n)]
    k2 = [draw(st.integers(0, 5)) for _ in range(n)]
    d1 = draw(st.booleans())
    nf1 = draw(st.one_of(st.none(), st.booleans()))  # None → direction default
    expr1 = draw(st.booleans())
    two = draw(st.booleans())
    d2 = draw(st.booleans())
    return n, parents, k1, k2, d1, nf1, expr1, two, d2


def _os_fuzz_model(n, parents, k1, k2, d1, nf1, two, d2):
    kids: dict[int, list[int]] = {}
    roots = []
    for c, p in enumerate(parents):
        if p is None:
            roots.append(c)
        else:
            kids.setdefault(p, []).append(c)

    def part(v, desc, nf):
        nulls_first = desc if nf is None else nf
        nk = (0 if v is None else 1) if nulls_first else (1 if v is None else 0)
        return (nk, 0 if v is None else (-v if desc else v))

    def keyf(c):
        key = part(k1[c], d1, nf1)
        if two:
            key += part(k2[c], d2, None)
        return key + (c,)

    seq: list[int] = []

    def walk(node):
        seq.append(node)
        for c in sorted(kids.get(node, ()), key=keyf):
            walk(c)

    for r in sorted(roots, key=keyf):
        walk(r)
    return seq


@given(_os_fuzz_case())
@settings(max_examples=8, deadline=None)
def test_order_siblings_matches_python_model(spark, case):
    from sql_redshift_etl_spark.functions.redshift_sql import run_redshift_sql

    n, parents, k1, k2, d1, nf1, expr1, two, d2 = case
    spark.createDataFrame(
        [(i, parents[i], k1[i], k2[i]) for i in range(n)],
        "id INT, parent INT, k1 INT, k2 INT",
    ).createOrReplaceTempView("osf_t")
    spec1 = ("(k1 + 0)" if expr1 else "k1") + (" DESC" if d1 else "")
    if nf1 is not None:
        spec1 += " NULLS FIRST" if nf1 else " NULLS LAST"
    specs = [spec1] + ([f"k2{' DESC' if d2 else ''}"] if two else []) + ["id"]
    out = run_redshift_sql(
        spark,
        f"""
        SELECT id FROM osf_t
        START WITH parent IS NULL
        CONNECT BY PRIOR id = parent
        ORDER SIBLINGS BY {", ".join(specs)}
        """,
    )
    assert [r.id for r in out.collect()] == _os_fuzz_model(
        n, parents, k1, k2, d1, nf1, two, d2
    )


# --- r11: the collation-safe STRING DESC sibling spelling (the
# hex-complement expression key the DESC docstring names) vs the Python
# DFS model. Strings are drawn WITH prefix pairs ('a'/'ab'), the empty
# string, and a multi-byte char — exactly the cases where a naive
# encoding missorts — and the model sorts descending on raw UTF-8 bytes.


_STRDESC_POOL = ["", "a", "ab", "b", "ba", "é", "e", "aa", "z"]

_STRDESC_KEY = (
    "(TRANSLATE(hex(encode(nm, 'utf-8')),"
    " '0123456789ABCDEF', 'FEDCBA9876543210') || 'G')"
)


@st.composite
def _strdesc_case(draw):
    n = draw(st.integers(3, 12))
    parents = [
        None if i == 0 else draw(st.one_of(st.none(), st.integers(0, i - 1)))
        for i in range(n)
    ]
    names = [draw(st.sampled_from(_STRDESC_POOL)) for _ in range(n)]
    return n, parents, names


@given(_strdesc_case())
@settings(max_examples=8, deadline=None)
def test_order_siblings_string_desc_matches_python_model(spark, case):
    from sql_redshift_etl_spark.functions.redshift_sql import run_redshift_sql

    n, parents, names = case
    spark.createDataFrame(
        [(i, parents[i], names[i]) for i in range(n)],
        "id INT, parent INT, nm STRING",
    ).createOrReplaceTempView("osfs_t")
    out = run_redshift_sql(
        spark,
        f"""
        SELECT id FROM osfs_t
        START WITH parent IS NULL
        CONNECT BY PRIOR id = parent
        ORDER SIBLINGS BY {_STRDESC_KEY}, id
        """,
    )

    kids: dict[int, list[int]] = {}
    roots = []
    for c, p in enumerate(parents):
        (roots if p is None else kids.setdefault(p, [])).append(c)

    def keyf(c):
        # string DESC = descending raw UTF-8 byte order; tiebreak id ASC
        return ([255 - b for b in names[c].encode("utf-8")] + [256], c)

    seq: list[int] = []

    def walk(node):
        seq.append(node)
        for c in sorted(kids.get(node, ()), key=keyf):
            walk(c)

    for r in sorted(roots, key=keyf):
        walk(r)
    assert [r.id for r in out.collect()] == seq


# --- r11: float keys with NaN under per-key direction vs the Python DFS
# model (ADVICE r10 item 3's fix, fuzzed): a nullable DOUBLE key drawn
# from {NULL, NaN, small floats}, random ASC/DESC and NULLS placement,
# id tiebreak. Model bands per the shipped semantics: NULL at the
# requested end; NaN greatest — so ASC puts it after the numbers and
# DESC (which reverses the value order) puts it before them.


_NAN_POOL = [None, float("nan"), -2.0, 0.0, 1.5, 3.0]


@st.composite
def _os_nan_case(draw):
    n = draw(st.integers(3, 12))
    parents = [
        None if i == 0 else draw(st.one_of(st.none(), st.integers(0, i - 1)))
        for i in range(n)
    ]
    ks = [draw(st.sampled_from(_NAN_POOL)) for _ in range(n)]
    desc = draw(st.booleans())
    nf = draw(st.one_of(st.none(), st.booleans()))  # None → direction default
    return n, parents, ks, desc, nf


@given(_os_nan_case())
@settings(max_examples=8, deadline=None)
def test_order_siblings_nan_matches_python_model(spark, case):
    import math

    from sql_redshift_etl_spark.functions.redshift_sql import run_redshift_sql

    n, parents, ks, desc, nf = case
    spark.createDataFrame(
        [(i, parents[i], ks[i]) for i in range(n)],
        "id INT, parent INT, k DOUBLE",
    ).createOrReplaceTempView("osfn_t")
    spec = "k" + (" DESC" if desc else "")
    if nf is not None:
        spec += " NULLS FIRST" if nf else " NULLS LAST"
    out = run_redshift_sql(
        spark,
        f"""
        SELECT id FROM osfn_t
        START WITH parent IS NULL
        CONNECT BY PRIOR id = parent
        ORDER SIBLINGS BY {spec}, id
        """,
    )

    nulls_first = desc if nf is None else nf

    def keyf(c):
        v = ks[c]
        if v is None:
            band = 0 if nulls_first else 3
            val = 0.0
        elif math.isnan(v):
            band = 1 if desc else 2
            val = 0.0
        else:
            band = 2 if desc else 1
            val = -v if desc else v
        return (band, val, c)

    kids: dict[int, list[int]] = {}
    roots = []
    for c, p in enumerate(parents):
        (roots if p is None else kids.setdefault(p, [])).append(c)
    seq: list[int] = []

    def walk(node):
        seq.append(node)
        for c in sorted(kids.get(node, ()), key=keyf):
            walk(c)

    for r in sorted(roots, key=keyf):
        walk(r)
    assert [r.id for r in out.collect()] == seq


def test_partiql_nested_objects_matches_json_model(spark, duck):
    """Arrays-of-objects navigation (r12, partiql_nested_objects) over
    RANDOM nested documents vs DuckDB's json_extract path replay —
    derandomized (fixed seed). Covers what the fixture query cannot:
    empty item arrays (explode drops the doc from the per-item rows;
    head/size still report it), JSON null fields, and MISSING fields
    (both engines must yield NULL), item counts past the fixture's
    maximum."""
    import json as _json
    import random as _random

    import pandas as _pd

    rng = _random.Random(20260816)
    docs = []
    for i in range(30):
        items = []
        for k in range(rng.randint(0, 12)):
            obj = {"ln": k}
            if rng.random() < 0.85:
                obj["sku"] = rng.randint(0, 99999)
            if rng.random() < 0.7:
                obj["qty"] = rng.randint(1, 50) if rng.random() < 0.9 else None
            items.append(obj)
        docs.append((i, _json.dumps({"order": i, "items": items})))

    sdf = spark.createDataFrame(docs, "doc_id INT, doc STRING")
    from pyspark.sql import functions as F

    parsed = sdf.select(
        "doc_id",
        F.from_json(
            "doc",
            "`order` BIGINT, items ARRAY<STRUCT<ln: BIGINT, sku: BIGINT, qty: BIGINT>>",
        ).alias("p"),
    )
    heads = {
        (r.doc_id, r.n_items, r.first_sku)
        for r in parsed.select(
            "doc_id",
            F.size("p.items").cast("bigint").alias("n_items"),
            # F.get, not [0]: SUPER navigation is LAX — out-of-bounds on
            # an empty items array must be NULL, not an ANSI index error
            F.get("p.items", 0).getField("sku").alias("first_sku"),
        ).collect()
    }
    rows = {
        (r.doc_id, r.pos, r.sku, r.qty)
        for r in parsed.select(
            "doc_id", F.posexplode("p.items").alias("pos", "item")
        )
        .select(
            "doc_id",
            F.col("pos").cast("bigint").alias("pos"),
            F.col("item.sku").alias("sku"),
            F.col("item.qty").alias("qty"),
        )
        .collect()
    }

    duck.register("pq_fuzz_docs", _pd.DataFrame(docs, columns=["doc_id", "doc"]))
    want_heads = {
        (int(r[0]), int(r[1]), None if r[2] is None else int(r[2]))
        for r in duck.execute(
            """
            SELECT doc_id,
                   CAST(json_array_length(doc, '$.items') AS BIGINT),
                   CAST(json_extract(doc, '$.items[0].sku') AS BIGINT)
            FROM pq_fuzz_docs
            """
        ).fetchall()
    }
    want_rows = {
        (int(r[0]), int(r[1]), None if r[2] is None else int(r[2]),
         None if r[3] is None else int(r[3]))
        for r in duck.execute(
            """
            SELECT doc_id, g.i - 1,
                   CAST(json_extract(doc, '$.items[' || (g.i - 1) || '].sku') AS BIGINT),
                   CAST(json_extract(doc, '$.items[' || (g.i - 1) || '].qty') AS BIGINT)
            FROM pq_fuzz_docs, generate_series(1, 16) AS g(i)
            WHERE g.i <= json_array_length(doc, '$.items')
            """
        ).fetchall()
    }
    assert heads == want_heads
    assert rows == want_rows


@given(
    st.lists(
        st.one_of(
            st.tuples(st.just("update"), st.integers(0, 6)),
            st.tuples(st.just("delete"), st.integers(0, 6)),
            st.tuples(st.just("insert"), st.integers(0, 6)),
            st.tuples(st.just("select_into"), st.integers(0, 6)),
            st.tuples(st.just("check")),
        ),
        min_size=2,
        max_size=8,
    )
)
@settings(max_examples=8, deadline=None)
def test_plpgsql_found_matches_python_model(spark, ops):
    """Random DML/SELECT INTO programs probing FOUND (r12) against an
    independent Python evaluator — including the self-referential edge
    the hand-written tests document: a `check` records FOUND into the
    audit table, and that probe INSERT itself sets FOUND to true for
    whatever reads it next. Keys may duplicate (INSERT is multiset), so
    update/delete hit ALL matching rows; the final table multiset is
    compared too."""
    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script

    rows = [[k, 0] for k in range(4)]
    found = False
    audit: list[tuple[int, int]] = []
    body: list[str] = []
    seq = 0
    for op in ops:
        kind = op[0]
        if kind == "update":
            k = op[1]
            hit = [r for r in rows if r[0] == k]
            for r in hit:
                r[1] += 1
            found = bool(hit)
            body.append(f"UPDATE fnd_t SET hits = hits + 1 WHERE k = {k};")
        elif kind == "delete":
            k = op[1]
            found = any(r[0] == k for r in rows)
            rows = [r for r in rows if r[0] != k]
            body.append(f"DELETE FROM fnd_t WHERE k = {k};")
        elif kind == "insert":
            rows.append([op[1], 0])
            found = True
            body.append(f"INSERT INTO fnd_t VALUES ({op[1]}, 0);")
        elif kind == "select_into":
            found = any(r[0] == op[1] for r in rows)
            body.append(f"SELECT hits INTO x FROM fnd_t WHERE k = {op[1]};")
        else:  # check
            audit.append((seq, 1 if found else 0))
            body.append(f"INSERT INTO fnd_audit VALUES ({seq}, found);")
            seq += 1
            found = True  # the probe INSERT is itself a FOUND setter

    out = run_redshift_script(
        spark,
        f"""
        CREATE TEMP TABLE fnd_t (k INT, hits BIGINT);
        INSERT INTO fnd_t VALUES (0, 0), (1, 0), (2, 0), (3, 0);
        CREATE TEMP TABLE fnd_audit (seq INT, flag BOOLEAN);
        CREATE PROCEDURE prog() AS $$
        DECLARE x BIGINT;
        BEGIN
            {chr(10).join(body)}
        END;
        $$ LANGUAGE plpgsql;
        CALL prog();
        SELECT 'a' AS src, seq AS c1, CAST(flag AS INT) AS c2 FROM fnd_audit
        UNION ALL
        SELECT 't', k, CAST(hits AS INT) FROM fnd_t;
        """,
    )
    got = sorted(tuple(r) for r in out.collect())
    want = sorted(
        [("a", s, f) for s, f in audit] + [("t", k, h) for k, h in rows]
    )
    assert got == want


def test_partiql_object_unpivot_matches_python_model(spark):
    """OBJECT unpivot (r13, partiql_object_unpivot — Redshift's
    ``UNPIVOT expr AS value AT attribute``) over RANDOM JSON objects vs
    an independent Python dict model — derandomized (fixed seed).
    Covers what the fixture query cannot: EMPTY objects (explode drops
    the doc; size still reports 0 on the parsed map), spaced keys,
    JSON-null values (map value → NULL), and single-key docs."""
    import json as _json
    import random as _random

    rng = _random.Random(20260816)
    keyspace = ["A F", "N O", "N F", "R F", "solo", "with space"]
    docs = []
    for i in range(40):
        ks = rng.sample(keyspace, rng.randint(0, len(keyspace)))
        obj = {k: (rng.randint(0, 999) if rng.random() < 0.85 else None) for k in ks}
        docs.append((i, _json.dumps(obj)))

    from pyspark.sql import functions as F

    sdf = spark.createDataFrame(docs, "doc_id INT, doc STRING")
    parsed = sdf.select("doc_id", F.from_json("doc", "MAP<STRING, BIGINT>").alias("m"))
    sizes = {
        (r.doc_id, r.n) for r in parsed.select(
            "doc_id", F.size("m").cast("bigint").alias("n")
        ).collect()
    }
    rows = {
        (r.doc_id, r.attr, r.qty)
        for r in parsed.select("doc_id", F.explode("m").alias("attr", "qty")).collect()
    }

    want_sizes = set()
    want_rows = set()
    for i, d in docs:
        obj = _json.loads(d)
        want_sizes.add((i, len(obj)))
        for k, v in obj.items():
            want_rows.add((i, k, v))
    assert sizes == want_sizes
    assert rows == want_rows


def test_partiql_nested_objects_oracle_ordinal_guard():
    """ADVICE r12: partiql_nested_objects' oracle enumerates ordinals
    with a CONSTANT generate_series(1, 64); if a fixture tier ever grew
    an order past 64 items the oracle would silently drop the overflow
    rows and fail the gate as an undiagnosable hash mismatch. The guard
    must (a) fail LOUDLY with the reason on a 65-item order and (b) cost
    nothing in-domain (the unmodified oracle still runs green on a
    synthetic in-domain table)."""
    import duckdb as _duckdb
    import pandas as _pd
    import pytest as _pytest

    from sql_redshift_etl_spark.plans.registry import all_queries

    oracle = all_queries()["partiql_nested_objects"].oracle

    def mk_con(n_items):
        con = _duckdb.connect()
        df = _pd.DataFrame(
            {
                "l_orderkey": [1] * n_items,
                "l_linenumber": list(range(1, n_items + 1)),
                "l_partkey": [100 + i for i in range(n_items)],
                "l_quantity": [float(i % 50 + 1) for i in range(n_items)],
            }
        )
        con.register("lineitem", df)
        return con

    rows = mk_con(64).execute(oracle).fetchall()
    assert len(rows) == 64  # in-domain: guard is free, full iteration

    with _pytest.raises(_duckdb.Error, match="64-ordinal"):
        mk_con(65).execute(oracle).fetchall()


def test_copy_jsonpaths_matches_python_model(spark, tmp_path):
    """jsonpaths loader fuzz (r13, derandomized): RANDOM nested
    documents + randomly interleaved error records vs an independent
    pure-Python model of the contract. Covers what the fixture query
    cannot: missing elements at every nesting level (lax NULL),
    short arrays under an indexed path, the full malformed taxonomy
    (unparseable text, bare scalar roots — `null`, `123`, `true` —
    and empty lines, all error records per the object/array-root
    rule), budget acceptance at exactly n_bad, and strict-mode
    loudness whenever at least one error record exists."""
    import json as _json
    import random as _random

    import pytest as _pytest
    from pyspark.sql.types import StructType

    from sql_redshift_etl_spark.sources.readers import read_json_with_paths

    rng = _random.Random(20260817)
    words = ["alpha", "beta", "gamma", "delta", "epsilon"]
    bad_pool = ["this is not json", "null", "123", "true", "", "{broken"]

    lines: list[str] = []
    want_rows: list[tuple] = []
    n_bad = 0
    for _ in range(60):
        if rng.random() < 0.25:
            lines.append(rng.choice(bad_pool))
            n_bad += 1
            continue
        doc: dict = {}
        kid = rng.randrange(1000) if rng.random() < 0.8 else None
        if kid is not None:
            doc["k"] = {"id": kid}
        name = rng.choice(words) if rng.random() < 0.8 else None
        if name is not None:
            doc["meta"] = {"name": name}
        vals = [rng.randrange(100) for _ in range(rng.randrange(5))]
        if vals or rng.random() < 0.5:
            doc["vals"] = vals
        third = vals[2] if len(vals) > 2 else None
        lines.append(_json.dumps(doc))
        want_rows.append((kid, name, third))

    data = tmp_path / "fuzz.json"
    data.write_text("\n".join(lines) + "\n")
    ctl = tmp_path / "paths.json"
    ctl.write_text('{"jsonpaths": ["$.k.id", "$[\'meta\'][\'name\']", "$.vals[2]"]}')
    schema = StructType.fromDDL("kid BIGINT, name STRING, third BIGINT")

    # budget path: acceptance at exactly n_bad, rejection one below
    caches: list = []
    good, bad = read_json_with_paths(
        spark, str(data), schema, str(ctl), max_error=n_bad, caches=caches
    )
    got = sorted(
        [tuple(r) for r in good.collect()], key=lambda t: (repr(t))
    )
    assert got == sorted(want_rows, key=lambda t: (repr(t)))
    def _is_error_record(ln: str) -> bool:
        # the model of the contract: error iff the root does not parse
        # as a JSON object or array
        try:
            return not isinstance(_json.loads(ln), (dict, list))
        except ValueError:
            return True

    got_bad = sorted(r.raw_line for r in bad.collect())
    want_bad = sorted(ln for ln in lines if _is_error_record(ln))
    assert got_bad == want_bad
    assert n_bad > 0  # seed sanity: the taxonomy is actually exercised
    with _pytest.raises(ValueError, match="exceed MAXERROR"):
        read_json_with_paths(
            spark, str(data), schema, str(ctl), max_error=n_bad - 1, caches=caches
        )
    for c in caches:  # the caller owns the budget caches it registered
        c.unpersist()

    # strict mode: loud on the first error record read
    strict = read_json_with_paths(spark, str(data), schema, str(ctl))
    with _pytest.raises(Exception, match="malformed JSON record"):
        strict.collect()


def test_copy_budget_cache_released_after_script(spark):
    """r14 (r13 VERDICT item 2): a MAXERROR COPY caches the parsed load
    for its two in-statement consumers (budget count + good/bad split);
    the script runner must unpersist it at script end — at 100 TB a
    leaked cache pins the whole load in the block-manager for the
    session's lifetime. Asserts no cached RDD survives the COPY script
    (delta against pre-existing storage so unrelated tests can't leak
    into this one)."""
    from sql_redshift_etl_spark.plans.registry import all_queries

    before = {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}
    out = all_queries()["source_copy_jsonpaths_maxerror"].builder(spark, SF_DIR)
    assert len(out.collect()) > 0
    after = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    leaked = [str(i) for i in after if i.id() not in before]
    assert not leaked, f"COPY budget cache survived the script: {leaked}"


def test_script_cleanup_keeps_other_callers_budget_caches(spark, tmp_path):
    """A script releases only the COPY error-budget caches it registered:
    a cache that a direct reader call registered in its caller's list
    survives an unrelated script's cleanup, and is gone once its owner
    unpersists it."""
    from pyspark.sql.types import StructType

    from sql_redshift_etl_spark.functions.script_runner import run_redshift_script
    from sql_redshift_etl_spark.sources.readers import read_with_error_budget

    data = tmp_path / "load.csv"
    data.write_text("1,a\nnot-a-number,b\n3,c\n")
    sc = spark.sparkContext._jsc.sc()
    before = {i.id() for i in sc.getRDDStorageInfo()}
    caches: list = []
    good, bad = read_with_error_budget(
        spark,
        str(data),
        StructType.fromDDL("id BIGINT, s STRING"),
        "CSV",
        max_error=1,
        caches=caches,
    )
    assert len(caches) == 1 and good.count() == 2 and bad.count() == 1
    held = {i.id() for i in sc.getRDDStorageInfo()} - before
    assert held, "the budgeted read registered no cache"

    run_redshift_script(spark, "CREATE TEMP TABLE t AS SELECT 1 AS x; SELECT * FROM t")
    still = {i.id() for i in sc.getRDDStorageInfo()}
    assert held <= still, "an unrelated script's cleanup released a reader's cache"

    caches.pop().unpersist(blocking=True)
    assert not held & {i.id() for i in sc.getRDDStorageInfo()}
