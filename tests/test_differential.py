"""Differential fuzzing: hypothesis-generated SQL run on Spark AND DuckDB.

The reference's slt corpus pins known scenarios; this layer searches the
space the corpus doesn't enumerate — random projections, conjunctive/
disjunctive predicates, and grouped aggregates over `lineitem` — and
requires bit-identical results from both engines (same multiset compare
the driver's t2 gate uses).

Kept deliberately ANSI-neutral: integer-typed aggregates only (double
sums are association-order-dependent), no timestamp outputs (timezone),
comparisons only between same-typed operands.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from tests.oracle import compare

KEY_COLS = ["l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus"]

_pred = st.one_of(
    st.integers(1, 50).map(lambda x: f"l_quantity < {x}"),
    st.integers(1000, 90000).map(lambda x: f"l_extendedprice >= {x}"),
    st.sampled_from(["R", "A", "N"]).map(lambda v: f"l_returnflag = '{v}'"),
    st.sampled_from(["O", "F"]).map(lambda v: f"l_linestatus = '{v}'"),
    st.integers(2, 7).map(lambda k: f"l_orderkey % {k} = 0"),
)

_where = st.lists(_pred, min_size=0, max_size=3).flatmap(
    lambda ps: st.sampled_from([" AND ", " OR "]).map(
        lambda op: ("WHERE " + op.join(ps)) if ps else ""
    )
)


@st.composite
def select_query(draw):
    cols = draw(st.lists(st.sampled_from(KEY_COLS), min_size=1, max_size=4, unique=True))
    where = draw(_where)
    proj = ", ".join(cols)
    order = ", ".join(cols)
    limit = draw(st.sampled_from([50, 100]))
    return (
        f"SELECT {proj} FROM lineitem {where} "
        f"ORDER BY {order}, l_orderkey, l_linenumber LIMIT {limit}"
    )


@st.composite
def agg_query(draw):
    key = draw(st.sampled_from(KEY_COLS))
    where = draw(_where)
    return (
        f"SELECT {key}, COUNT(*) AS n, MIN(l_orderkey) AS min_k, "
        f"MAX(l_orderkey) AS max_k, CAST(SUM(l_linenumber) AS BIGINT) AS sum_ln, "
        f"COUNT(DISTINCT l_linenumber) AS nd_ln "
        f"FROM lineitem {where} GROUP BY {key} ORDER BY {key}"
    )


@pytest.fixture(scope="module")
def engines(spark, duck, sf_dir, oracle_sf_dir):
    from tests.oracle import register_duck_views
    from sqlrs_spark.sources.tables import register_views

    register_views(spark, sf_dir, ("lineitem",))
    register_duck_views(duck, sf_dir)
    return spark, duck


@pytest.fixture(scope="module")
def engines_join(spark, duck, sf_dir):
    from tests.oracle import register_duck_views
    from sqlrs_spark.sources.tables import register_views

    register_views(spark, sf_dir, ("lineitem", "orders"))
    register_duck_views(duck, sf_dir)
    return spark, duck


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(sql=select_query())
def test_differential_select(engines, sql):
    spark, duck = engines
    ok, msg = compare(spark.sql(sql), duck, sql)
    assert ok, f"{msg}\nSQL: {sql}"


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(sql=agg_query())
def test_differential_agg(engines, sql):
    spark, duck = engines
    ok, msg = compare(spark.sql(sql), duck, sql)
    assert ok, f"{msg}\nSQL: {sql}"


@st.composite
def join_query(draw):
    how = draw(st.sampled_from(["JOIN", "LEFT JOIN"]))
    where = draw(_where)
    o_pred = draw(
        st.sampled_from(
            ["", "AND o_orderstatus = 'F' ", "AND o_totalprice > 50000 "]
        )
    )
    key = draw(st.sampled_from(["o_orderstatus", "l_returnflag", "l_linestatus"]))
    return (
        f"SELECT {key}, COUNT(*) AS n, MIN(l_orderkey) AS min_k, "
        f"CAST(SUM(l_linenumber) AS BIGINT) AS sum_ln "
        f"FROM lineitem {how} orders ON o_orderkey = l_orderkey {o_pred}"
        f"{where} GROUP BY {key} ORDER BY {key}"
    )


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(sql=join_query())
def test_differential_join(engines_join, sql):
    spark, duck = engines_join
    ok, msg = compare(spark.sql(sql), duck, sql)
    assert ok, f"{msg}\nSQL: {sql}"


@st.composite
def setop_query(draw):
    op = draw(st.sampled_from(["UNION", "UNION ALL", "INTERSECT", "EXCEPT"]))
    p1, p2 = draw(_pred), draw(_pred)
    cols = "l_orderkey, l_linenumber"
    return (
        f"SELECT {cols} FROM lineitem WHERE {p1} {op} "
        f"SELECT {cols} FROM lineitem WHERE {p2} "
        f"ORDER BY l_orderkey, l_linenumber LIMIT 100"
    )


@st.composite
def having_query(draw):
    key = draw(st.sampled_from(KEY_COLS))
    where = draw(_where)
    hv = draw(st.integers(1, 20))
    return (
        f"SELECT {key}, COUNT(*) AS n, CAST(SUM(l_linenumber) AS BIGINT) AS s "
        f"FROM lineitem {where} GROUP BY {key} "
        f"HAVING COUNT(*) >= {hv} ORDER BY {key}"
    )


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(sql=setop_query())
def test_differential_setops(engines, sql):
    # ANSI set-op semantics (UNION dedups, EXCEPT/INTERSECT are DISTINCT
    # variants) must agree between engines
    spark, duck = engines
    ok, msg = compare(spark.sql(sql), duck, sql)
    assert ok, f"{msg}\nSQL: {sql}"


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(sql=having_query())
def test_differential_having(engines, sql):
    spark, duck = engines
    ok, msg = compare(spark.sql(sql), duck, sql)
    assert ok, f"{msg}\nSQL: {sql}"


@st.composite
def limit_offset_query(draw):
    # limit/offset windowing is a reference operator with real edge cases
    # (offset past end, limit 0 — src/executor/limit.rs:10-81); fuzz the
    # boundary arithmetic against DuckDB over a total order
    where = draw(_where)
    limit = draw(st.sampled_from([0, 1, 7, 100, 10000]))
    offset = draw(st.sampled_from([0, 1, 13, 5000, 100000]))
    return (
        f"SELECT l_orderkey, l_linenumber FROM lineitem {where} "
        f"ORDER BY l_orderkey, l_linenumber LIMIT {limit} OFFSET {offset}"
    )


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(sql=limit_offset_query())
def test_differential_limit_offset(engines, sql):
    spark, duck = engines
    ok, msg = compare(spark.sql(sql), duck, sql)
    assert ok, f"{msg}\nSQL: {sql}"


@st.composite
def scalar_subquery_query(draw):
    # uncorrelated scalar subqueries are a reference v1 feature
    # (src/binder/table/subquery.rs:99-167); fuzz them in WHERE and SELECT
    agg = draw(st.sampled_from(["MIN(l_orderkey)", "MAX(l_linenumber)", "COUNT(*)"]))
    inner_pred = draw(_pred)
    where = draw(_where)
    cmp = draw(st.sampled_from(["<", ">=", "<>"]))
    return (
        f"SELECT l_returnflag, COUNT(*) AS n, "
        f"(SELECT {agg} FROM lineitem WHERE {inner_pred}) AS sub "
        f"FROM lineitem {where} GROUP BY l_returnflag "
        f"HAVING COUNT(*) {cmp} (SELECT {agg} FROM lineitem WHERE {inner_pred}) "
        f"ORDER BY l_returnflag"
    )


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(sql=scalar_subquery_query())
def test_differential_scalar_subquery(engines, sql):
    spark, duck = engines
    ok, msg = compare(spark.sql(sql), duck, sql)
    assert ok, f"{msg}\nSQL: {sql}"


@st.composite
def date_arith_query(draw):
    # date ± interval is a reference v2 feature (tests/slt/time.slt,
    # arithmetic_function.rs:73-126); fuzz both interval classes and
    # comparison directions over the orders timestamps
    n = draw(st.integers(1, 36))
    unit = draw(st.sampled_from(["DAY", "MONTH", "YEAR", "HOUR"]))
    sign = draw(st.sampled_from(["+", "-"]))
    cmp = draw(st.sampled_from(["<", ">="]))
    return (
        f"SELECT o_orderkey, CAST(o_orderdate {sign} INTERVAL {n} {unit} AS DATE) AS d "
        f"FROM orders "
        f"WHERE o_orderdate {sign} INTERVAL {n} {unit} {cmp} TIMESTAMP '1996-06-15 00:00:00' "
        f"ORDER BY o_orderkey LIMIT 100"
    )


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(sql=date_arith_query())
def test_differential_date_arith(engines_join, sql):
    spark, duck = engines_join
    ok, msg = compare(spark.sql(sql), duck, sql)
    assert ok, f"{msg}\nSQL: {sql}"


@st.composite
def window_query(draw):
    """Window family, restricted to PEER-STABLE functions: the synthetic
    lineitem has duplicate (l_orderkey, l_linenumber) pairs (and fully
    duplicate rows), so NO total order exists and row-positional
    functions (ROW_NUMBER/NTILE/LAG, ROWS frames) are legitimately
    engine-divergent.  RANK/DENSE_RANK and default-frame (RANGE)
    aggregates depend only on the peer partition, so both engines must
    agree bit-for-bit.

    The outer sort must make the LIMIT cut multiset-invariant: a bare
    (l_orderkey, l_linenumber) sort is NOT enough, because the same key
    pair can recur in *different* window partitions (e.g. two (3,2) rows
    with different l_returnflag) and so carry different wv — both engines
    may legally keep different tied rows at the cut.  Appending wv pins
    it: rows tying on the full (l_orderkey, l_linenumber, wv) triple are
    identical projected tuples, so the cut multiset is unique."""
    part = draw(st.sampled_from(["l_returnflag", "l_linestatus", "l_orderkey % 5"]))
    fn = draw(
        st.sampled_from(
            [
                "RANK()",
                "DENSE_RANK()",
                "CAST(COUNT(*) OVER w AS BIGINT)",
                "CAST(SUM(l_linenumber) OVER w AS BIGINT)",
            ]
        )
    )
    where = draw(_where)
    expr = fn if "OVER" in fn else f"{fn} OVER w"
    return (
        f"SELECT l_orderkey, l_linenumber, {expr} AS wv "
        f"FROM lineitem {where} "
        f"WINDOW w AS (PARTITION BY {part} ORDER BY l_orderkey, l_linenumber) "
        f"ORDER BY l_orderkey, l_linenumber, wv LIMIT 100"
    )


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(sql=window_query())
def test_differential_window(engines, sql):
    spark, duck = engines
    ok, msg = compare(spark.sql(sql), duck, sql)
    assert ok, f"{msg}\nSQL: {sql}"


@st.composite
def range_frame_query(draw):
    """RANGE-frame family: value-offset frames with
    NUMERIC and INTERVAL offsets — the frame kinds x29/x27 pinned as
    single scenarios, here fuzzed across offsets, bound shapes and sort
    direction.  Identical statement text runs on both engines.

    Determinism: a RANGE frame's membership is decided by ORDER-BY
    *values*, not row positions, so every frame aggregate (COUNT/SUM/
    MIN/MAX over any column) is constant per (partition, order-value)
    peer set even though lineitem holds fully duplicate rows.  The
    numeric branch emits one row per peer set via DISTINCT (unique
    output key, no LIMIT ambiguity); the interval branch runs over
    events, where event_id is unique, so raw per-row output is already
    deterministic (the x27 shape)."""
    kind = draw(st.sampled_from(["numeric", "interval"]))
    direction = draw(st.sampled_from(["ASC", "DESC"]))
    lo = draw(st.integers(1, 12))
    hi = draw(st.integers(1, 12))
    bounds = draw(
        st.sampled_from(
            [
                f"{lo} PRECEDING AND CURRENT ROW",
                f"{lo} PRECEDING AND {hi} FOLLOWING",
                f"CURRENT ROW AND {hi} FOLLOWING",
                f"UNBOUNDED PRECEDING AND {hi} FOLLOWING",
            ]
        )
    )
    if kind == "numeric":
        part = draw(
            st.sampled_from(["l_returnflag", "l_linestatus", "l_orderkey % 5"])
        )
        where = draw(_where)
        return (
            f"SELECT DISTINCT {part} AS pk, CAST(l_quantity AS BIGINT) AS qty, "
            f"COUNT(*) OVER w AS n_in_band, "
            f"CAST(SUM(CAST(l_linenumber AS BIGINT)) OVER w AS BIGINT) AS s_ln, "
            f"MIN(l_orderkey) OVER w AS mn_k, MAX(l_orderkey) OVER w AS mx_k "
            f"FROM lineitem {where} "
            f"WINDOW w AS (PARTITION BY {part} "
            f"ORDER BY CAST(l_quantity AS BIGINT) {direction} "
            f"RANGE BETWEEN {bounds}) "
            f"ORDER BY pk, qty"
        )
    unit = draw(st.sampled_from(["MINUTES", "HOURS"]))
    ibounds = bounds.replace(f"{lo} PRECEDING", f"INTERVAL {lo * 7} {unit} PRECEDING")
    ibounds = ibounds.replace(f"{hi} FOLLOWING", f"INTERVAL {hi * 7} {unit} FOLLOWING")
    part = draw(st.sampled_from(["user_id", "event_type"]))
    return (
        f"SELECT event_id, "
        f"COUNT(*) OVER w AS n_in_band, "
        f"MIN(event_id) OVER w AS mn_e, MAX(event_id) OVER w AS mx_e "
        f"FROM events "
        f"WINDOW w AS (PARTITION BY {part} ORDER BY ts {direction} "
        f"RANGE BETWEEN {ibounds}) "
        f"ORDER BY event_id"
    )


@pytest.fixture(scope="module")
def engines_events(spark, duck, sf_dir):
    from tests.oracle import register_duck_views
    from sqlrs_spark.sources.tables import register_views

    register_views(spark, sf_dir, ("lineitem", "events"))
    register_duck_views(duck, sf_dir)
    return spark, duck


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(sql=range_frame_query())
def test_differential_range_frames(engines_events, sql):
    spark, duck = engines_events
    ok, msg = compare(spark.sql(sql), duck, sql)
    assert ok, f"{msg}\nSQL: {sql}"


@st.composite
def groupingsets_query(draw):
    """ROLLUP / CUBE / GROUPING SETS family: the
    super-aggregate NULLs and GROUPING() disambiguation bits must agree
    engine-to-engine.  Determinism lesson applied: no LIMIT anywhere, so
    the multiset compare needs no output ordering guarantee at all —
    (GROUPING(k1), GROUPING(k2), k1, k2) happens to be a unique output
    key, but nothing depends on it.

    KNOWN ENGINE DEVIATION (found by this fuzzer's first run): on EMPTY
    input, ANSI says a grouping set containing () still emits the
    grand-total row (COUNT(*)=0) — DuckDB and Postgres do; Spark returns
    zero rows.  The HAVING COUNT(*) > 0 below masks exactly that row and
    nothing else (every group over non-empty input has count >= 1), so
    the family keeps fuzzing the NULL/bit semantics without tripping on
    the documented difference (see COVERAGE.md, Known deviations)."""
    k1, k2 = draw(
        st.sampled_from(
            [
                ("l_returnflag", "l_linestatus"),
                ("l_linestatus", "l_returnflag"),
            ]
        )
    )
    form = draw(st.sampled_from(["ROLLUP", "CUBE", "GROUPING SETS"]))
    where = draw(_where)
    if form == "GROUPING SETS":
        sets = draw(
            st.sampled_from(
                [
                    f"(({k1}, {k2}), ({k1}), ())",
                    f"(({k1}), ({k2}))",
                    f"(({k1}, {k2}), ())",
                ]
            )
        )
        grp = f"GROUPING SETS {sets}"
    else:
        grp = f"{form} ({k1}, {k2})"
    return (
        f"SELECT {k1}, {k2}, "
        f"CAST(GROUPING({k1}) AS INT) AS g1, CAST(GROUPING({k2}) AS INT) AS g2, "
        f"COUNT(*) AS n, CAST(SUM(l_linenumber) AS BIGINT) AS s, "
        f"MIN(l_orderkey) AS mn, MAX(l_orderkey) AS mx "
        f"FROM lineitem {where} GROUP BY {grp} HAVING COUNT(*) > 0"
    )


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(sql=groupingsets_query())
def test_differential_groupingsets(engines, sql):
    spark, duck = engines
    ok, msg = compare(spark.sql(sql), duck, sql)
    assert ok, f"{msg}\nSQL: {sql}"


@st.composite
def join_rows_query(draw):
    """Non-aggregated join family: raw joined ROWS,
    where an engine bug (dropped/duplicated matches, wrong null-extension)
    hides from the grouped-agg family's summarization.  Determinism
    lesson applied: output is bounded by a SELECTIVE modulus predicate
    instead of ORDER BY+LIMIT (the output has no unique key — duplicate
    (l_orderkey, l_linenumber) pairs exist — so any LIMIT cut would be
    engine-ambiguous; without LIMIT the full multiset is unique)."""
    how = draw(st.sampled_from(["JOIN", "LEFT JOIN"]))
    mod = draw(st.sampled_from([97, 101, 103]))
    res = draw(st.integers(0, 7))
    # a filter on the orders side that FAILS for some rows makes LEFT JOIN
    # genuinely null-extending (the FK always matches, so without this an
    # outer join degenerates to inner)
    o_pred = draw(
        st.sampled_from(
            ["", "AND o_orderstatus = 'F' ", "AND o_totalprice > 100000 "]
        )
    )
    where = draw(_where)
    extra = f"AND ({where[6:]}) " if where else ""
    return (
        f"SELECT l_orderkey, l_linenumber, l_returnflag, "
        f"o_orderstatus, o_custkey "
        f"FROM lineitem {how} orders ON o_orderkey = l_orderkey {o_pred}"
        f"WHERE l_orderkey % {mod} = {res} {extra}"
    )


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(sql=join_rows_query())
def test_differential_join_rows(engines_join, sql):
    spark, duck = engines_join
    ok, msg = compare(spark.sql(sql), duck, sql)
    assert ok, f"{msg}\nSQL: {sql}"


@st.composite
def qualify_query(draw):
    """QUALIFY frontend family: the SAME statement
    text runs through Spark's string-level rewrite (session._rewrite_qualify
    via Session.sql) and DuckDB's NATIVE QualIFY — a free differential
    surface for exactly the edge cases a string rewriter gets wrong
    (alias vs inline window predicates, moved ORDER/LIMIT tails, the word
    'qualify' inside string literals).

    Determinism: peer-stable RANK/DENSE_RANK only, and every ORDER BY tail
    sorts by ALL projected columns, so rows tying at a LIMIT cut are
    identical projected tuples (window-family lesson) — the kept multiset
    is engine-unambiguous.  The no-tail variants need no ordering at all:
    rank <= k keeps peer-complete groups, a deterministic multiset."""
    part = draw(st.sampled_from(["l_returnflag", "l_linestatus"]))
    k = draw(st.integers(1, 4))
    fn = draw(st.sampled_from(["RANK()", "DENSE_RANK()"]))
    where = draw(
        st.sampled_from(
            [
                "",
                "WHERE l_quantity < 30 ",
                # literal-span stress: the scanner must NOT treat these as
                # the QUALIFY keyword / tail keywords
                "WHERE l_returnflag <> 'qualify order by limit' ",
            ]
        )
    )
    over = f"OVER (PARTITION BY {part} ORDER BY l_orderkey, l_linenumber)"
    if draw(st.booleans()):  # alias form: predicate references the alias
        tail = draw(
            st.sampled_from(["", " ORDER BY l_orderkey, l_linenumber, wv LIMIT 50"])
        )
        return (
            f"SELECT l_orderkey, l_linenumber, {fn} {over} AS wv "
            f"FROM lineitem {where}QUALIFY wv <= {k}{tail}"
        )
    # inline form: the window function sits in the predicate itself
    tail = draw(
        st.sampled_from(["", f" ORDER BY l_orderkey, l_linenumber, {part} LIMIT 50"])
    )
    return (
        f"SELECT l_orderkey, l_linenumber, {part} "
        f"FROM lineitem {where}QUALIFY {fn} {over} <= {k}{tail}"
    )


@pytest.fixture(scope="module")
def qualify_engines(engines):
    from sqlrs_spark.session import Session

    spark, duck = engines
    return Session(spark), duck


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(sql=qualify_query())
def test_differential_qualify(qualify_engines, sql):
    session, duck = qualify_engines
    ok, msg = compare(session.sql(sql), duck, sql)
    assert ok, f"{msg}\nSQL: {sql}"


@st.composite
def membership_query(draw):
    """IN / NOT IN / EXISTS / NOT EXISTS subquery family — the classic
    three-valued-logic divergence surface.  The NULL-injecting arm turns
    the subquery's select list nullable, where ANSI says a non-matching
    NOT IN must yield UNKNOWN (row dropped) the moment any NULL is in the
    list — exactly the semantics ad-hoc rewrites to anti-join get wrong.
    Output is a single aggregate row (COALESCEd for the empty case), so
    no ordering contract is needed at all."""
    op = draw(st.sampled_from(["IN", "NOT IN", "EXISTS", "NOT EXISTS"]))
    o_pred = draw(
        st.sampled_from(
            [
                "o_orderstatus = 'F'",
                "o_totalprice > 100000",
                "o_orderkey % 3 = 0",
            ]
        )
    )
    base = draw(st.sampled_from(["l_orderkey % 7 = 1", "l_quantity < 25"]))
    if op in ("IN", "NOT IN"):
        with_null = draw(st.booleans())
        sel = (
            "CASE WHEN o_orderkey % 11 = 0 THEN NULL ELSE o_orderkey END"
            if with_null
            else "o_orderkey"
        )
        member = (
            f"l_orderkey {op} (SELECT {sel} FROM orders WHERE {o_pred})"
        )
    else:
        member = (
            f"{op} (SELECT 1 FROM orders"
            f" WHERE o_orderkey = l_orderkey AND {o_pred})"
        )
    return (
        "SELECT COUNT(*) AS n, "
        "COALESCE(CAST(SUM(l_linenumber) AS BIGINT), 0) AS s, "
        "COALESCE(MIN(l_orderkey), 0) AS mn, "
        "COALESCE(MAX(l_orderkey), 0) AS mx "
        f"FROM lineitem WHERE {base} AND ({member})"
    )


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(sql=membership_query())
def test_differential_membership(engines_join, sql):
    spark, duck = engines_join
    ok, msg = compare(spark.sql(sql), duck, sql)
    assert ok, f"{msg}\nSQL: {sql}"


@st.composite
def string_expr_query(draw):
    """Scalar string-function family over the dialect-shared subset
    (SURVEY §2.8 surface): concat/case-mapping/trim/pad/substr/replace/
    reverse compose into one expression whose value feeds BOTH the
    projection and a GROUP BY, so a single divergence shows up as a
    different group count, not just a cell.  Restricted to semantics the
    engines genuinely share: positive substr offsets only (negative
    offsets legitimately differ), no collation-sensitive comparisons."""
    base = draw(
        st.sampled_from(
            [
                "l_returnflag || l_linestatus",
                "CAST(l_orderkey % 1000 AS STRING)",
                "l_linestatus || CAST(l_linenumber AS STRING)",
            ]
        )
    )
    outer = draw(
        st.sampled_from(
            [
                "UPPER({e})",
                "LOWER({e})",
                "REVERSE({e})",
                "LPAD({e}, 6, '_')",
                "RPAD({e}, 6, '.')",
                "SUBSTR({e}, 1, 3)",
                "REPLACE({e}, 'N', 'x')",
                "TRIM({e} || '  ')",
            ]
        )
    ).format(e=base)
    where = draw(_where)
    return (
        f"SELECT {outer} AS v, COUNT(*) AS n, "
        "COALESCE(CAST(SUM(LENGTH(" + outer + ")) AS BIGINT), 0) AS total_len "
        f"FROM lineitem {where} GROUP BY v ORDER BY v"
    )


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(sql=string_expr_query())
def test_differential_string_exprs(engines, sql):
    spark, duck = engines
    ok, msg = compare(spark.sql(sql), duck, sql)
    assert ok, f"{msg}\nSQL: {sql}"


@st.composite
def extract_query(draw):
    """EXTRACT date-part family over l_shipdate, restricted to the parts
    both engines define identically (probed: year/quarter/month/day/hour/
    minute/second/week/doy agree bit-for-bit once cast to BIGINT).

    KNOWN ENGINE DEVIATION (found while building this family): Spark's
    EXTRACT(DOW ...) is 1-based with Sunday=1 (its DAYOFWEEK), while
    DuckDB follows PostgreSQL with Sunday=0 — the same calendar day
    differs by one on every row.  `dow` is therefore excluded here and
    recorded in COVERAGE.md Known deviations with the portable rewrite
    (Spark `dow` - 1 == DuckDB `dow`)."""
    part = draw(
        st.sampled_from(
            ["year", "quarter", "month", "day", "hour", "minute",
             "second", "week", "doy"]
        )
    )
    where = draw(_where)
    return (
        f"SELECT CAST(EXTRACT({part} FROM l_shipdate) AS BIGINT) AS v, "
        "COUNT(*) AS n, MIN(l_orderkey) AS mn, MAX(l_orderkey) AS mx "
        f"FROM lineitem {where} GROUP BY v ORDER BY v"
    )


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(sql=extract_query())
def test_differential_extract(engines, sql):
    spark, duck = engines
    ok, msg = compare(spark.sql(sql), duck, sql)
    assert ok, f"{msg}\nSQL: {sql}"


def test_dow_deviation_is_exactly_off_by_one(engines):
    """Pin the documented DOW deviation so a future engine upgrade that
    silently fixes or shifts it is caught: on every distinct ship date,
    Spark's EXTRACT(DOW) must equal DuckDB's + 1 (Sunday: 1 vs 0)."""
    spark, duck = engines
    q = (
        "SELECT DISTINCT CAST(EXTRACT(DOW FROM l_shipdate) AS BIGINT) AS d,"
        " CAST(l_shipdate AS DATE) AS day FROM lineitem ORDER BY day, d"
    )
    s_rows = [(r["d"], str(r["day"])) for r in spark.sql(q).collect()]
    d_rows = [(int(d), str(day)) for d, day in duck.execute(q).fetchall()]
    assert len(s_rows) == len(d_rows) > 0
    for (sd, sday), (dd, dday) in zip(s_rows, d_rows):
        assert sday == dday
        assert sd == dd + 1, (sday, sd, dd)


@st.composite
def numeric_expr_query(draw):
    """Numeric scalar family over the dialect-shared subset: ABS/SIGN/
    FLOOR/CEIL/GREATEST/LEAST and the %-operator (probed: C-style
    dividend-sign semantics in BOTH engines, including negative
    operands).  Integer division is excluded — the engines agree on the
    semantics but not the SPELLING (Spark `DIV` vs DuckDB `//`), and
    these families run identical statement text; FLOOR(x / y) covers the
    behavior portably.  CAST(double AS INT) is likewise excluded: Spark
    truncates where DuckDB rounds — the documented deviation pinned by
    test_double_to_int_cast_deviation below (and the reason
    operators/common.cents uses FLOOR(x*100 + 0.5), never a bare CAST)."""
    expr = draw(
        st.sampled_from(
            [
                "ABS(l_quantity - {k})",
                "CAST(SIGN(l_quantity - {k}) AS BIGINT)",
                "CAST(FLOOR(l_extendedprice / {k}) AS BIGINT)",
                "CAST(CEIL(l_quantity / {k}) AS BIGINT)",
                "l_orderkey % {k}",
                "(l_partkey - l_orderkey) % {k}",
                "GREATEST(CAST(l_quantity AS BIGINT), CAST(l_linenumber * {k} AS BIGINT))",
                "LEAST(CAST(l_quantity AS BIGINT), CAST(l_linenumber * {k} AS BIGINT))",
            ]
        )
    ).format(k=draw(st.integers(2, 29)))
    where = draw(_where)
    return (
        f"SELECT {expr} AS v, COUNT(*) AS n, "
        "MIN(l_orderkey) AS mn, MAX(l_orderkey) AS mx "
        f"FROM lineitem {where} GROUP BY v ORDER BY v"
    )


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(sql=numeric_expr_query())
def test_differential_numeric_exprs(engines, sql):
    spark, duck = engines
    ok, msg = compare(spark.sql(sql), duck, sql)
    assert ok, f"{msg}\nSQL: {sql}"


def test_double_to_int_cast_deviation(engines):
    """Pin CAST(double AS INT)'s cross-engine split (the reason every
    money path uses FLOOR(x*100 + 0.5)): Spark truncates toward zero,
    DuckDB rounds — identical text, different values on the .5+ side.
    An engine upgrade changing either convention must surface here."""
    spark, duck = engines
    q = "SELECT CAST(CAST(2.7 AS DOUBLE) AS INT), CAST(CAST(-2.7 AS DOUBLE) AS INT)"
    assert tuple(spark.sql(q).collect()[0]) == (2, -2)
    assert tuple(duck.execute(q).fetchone()) == (3, -3)


@st.composite
def conditional_expr_query(draw):
    """Conditional-expression family: CASE / COALESCE / NULLIF composed so
    NULLs are INJECTED mid-expression (NULLIF manufactures them from real
    data) and then consumed by the outer conditional — the null-
    propagation chains that desugar differently per engine but must agree
    in value.  Searched CASE (WHEN pred) and simple CASE (CASE expr WHEN
    value) both appear; the expression feeds projection AND GROUP BY."""
    k = draw(st.integers(2, 9))
    inner = draw(
        st.sampled_from(
            [
                # NULL wherever the modulus hits: downstream must revive it
                "NULLIF(l_orderkey % {k}, 0)",
                "NULLIF(l_linenumber, {k})",
                "NULLIF(CAST(l_quantity AS BIGINT), {k} * 5)",
            ]
        )
    ).format(k=k)
    outer = draw(
        st.sampled_from(
            [
                "COALESCE({e}, -1)",
                "COALESCE(NULLIF({e}, 1), {e}, -1)",
                "CASE WHEN {e} IS NULL THEN -1 ELSE {e} + 1 END",
                "CASE {e} WHEN 1 THEN -10 WHEN 2 THEN -20 ELSE COALESCE({e}, 0) END",
            ]
        )
    ).format(e=inner)
    where = draw(_where)
    return (
        f"SELECT CAST({outer} AS BIGINT) AS v, COUNT(*) AS n, "
        "MIN(l_orderkey) AS mn, MAX(l_orderkey) AS mx "
        f"FROM lineitem {where} GROUP BY v ORDER BY v"
    )


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(sql=conditional_expr_query())
def test_differential_conditional_exprs(engines, sql):
    spark, duck = engines
    ok, msg = compare(spark.sql(sql), duck, sql)
    assert ok, f"{msg}\nSQL: {sql}"


@st.composite
def filter_clause_query(draw):
    """Aggregate FILTER-clause family: per-aggregate predicates (ANSI
    `agg(x) FILTER (WHERE p)`) with independently drawn filters per
    aggregate — including predicates that keep ZERO rows (SUM/MIN go
    NULL while COUNT goes 0, per spec) and predicates whose filter
    expression is itself three-valued (NULLIF manufactures UNKNOWN,
    which FILTER must treat as not-kept in both engines).  Identical
    statement text runs on both engines; exact aggregates only."""
    preds = st.sampled_from(
        [
            "l_linenumber > 3",
            "l_quantity < 10",
            "l_shipdate < DATE '1995-01-01'",
            # NULLIF(ln,1)=1: 1 -> NULL=1 (UNKNOWN, dropped), else ln=1 is
            # FALSE -> keeps zero rows; the empty-filter aggregate case
            "NULLIF(l_linenumber, 1) = 1",
            "l_discount BETWEEN 0.02 AND 0.04",
            "l_returnflag IN ('A', 'R')",
            "NULLIF(CAST(l_orderkey % 4 AS BIGINT), 0) >= 2",
        ]
    )
    p1, p2 = draw(preds), draw(preds)
    key = draw(st.sampled_from(["l_returnflag", "l_linestatus"]))
    where = draw(_where)
    return (
        f"SELECT {key}, "
        f"COUNT(*) FILTER (WHERE {p1}) AS n1, "
        f"CAST(SUM(l_linenumber) FILTER (WHERE {p2}) AS BIGINT) AS s2, "
        f"MIN(l_orderkey) FILTER (WHERE {p1}) AS mn1, "
        f"CAST(MAX(l_shipdate) FILTER (WHERE {p2}) AS DATE) AS mx2, "
        "COUNT(*) AS n_all "
        f"FROM lineitem {where} GROUP BY {key} ORDER BY {key}"
    )


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(sql=filter_clause_query())
def test_differential_filter_clause(engines, sql):
    spark, duck = engines
    ok, msg = compare(spark.sql(sql), duck, sql)
    assert ok, f"{msg}\nSQL: {sql}"


# --- array / higher-order-function family (dual-dialect) -------------------
#
# The HOF surface the similarity/dedup operators lean on (transform /
# filter / sort / distinct / slice over integer lists), fuzzed against
# DuckDB's list functions.  Unlike the other families the two engines
# spell these DIFFERENTLY (transform vs list_transform, array(..) vs
# [..], slice(start, len) vs list_slice(begin, end)), so the generator
# draws one AST and renders it per dialect; values must agree exactly.
#
# KNOWN ENGINE DEVIATION (found while building this family, pinned in
# test_array_distinct_null_deviation + DEVIATIONS.md): Spark
# array_distinct keeps first-occurrence order and RETAINS one NULL;
# DuckDB list_distinct DROPS NULLs and does not preserve order.  The
# family therefore only applies distinct after a drop-nulls filter and
# always forces a sort afterwards.


def _arr_render(ast, spark_dialect):
    kind = ast[0]
    if kind == "lit":
        elems = ["NULL" if e is None else str(e) for e in ast[1]]
        if spark_dialect:
            return f"array({', '.join(elems)})" if elems else "array()"
        return f"[{', '.join(elems)}]"
    if kind == "seq":
        _, lo, hi = ast
        return (
            f"sequence({lo}, {hi})" if spark_dialect else f"generate_series({lo}, {hi})"
        )
    inner = _arr_render(ast[1], spark_dialect)
    if kind == "map_add":
        fn = "transform" if spark_dialect else "list_transform"
        return f"{fn}({inner}, x -> x + {ast[2]})"
    if kind == "map_nullify":
        fn = "transform" if spark_dialect else "list_transform"
        return f"{fn}({inner}, x -> CASE WHEN x % {ast[2]} = {ast[3]} THEN NULL ELSE x END)"
    if kind == "filt_mod":
        fn = "filter" if spark_dialect else "list_filter"
        return f"{fn}({inner}, x -> x % {ast[2]} != {ast[3]})"
    if kind == "dropnull":
        fn = "filter" if spark_dialect else "list_filter"
        return f"{fn}({inner}, x -> x IS NOT NULL)"
    if kind == "sort":
        return (
            f"sort_array({inner})"
            if spark_dialect
            else f"list_sort({inner}, 'ASC', 'NULLS FIRST')"
        )
    if kind == "distinct":
        # only generated null-free + followed by sort (deviation above)
        fn = "array_distinct" if spark_dialect else "list_distinct"
        return f"{fn}({inner})"
    if kind == "slice":
        _, _, start, ln = ast
        if spark_dialect:
            return f"slice({inner}, {start}, {ln})"
        return f"list_slice({inner}, {start}, {start + ln - 1})"
    raise AssertionError(kind)


def _arr_terminal(ast, spark_dialect):
    inner = _arr_render(ast, spark_dialect)
    if spark_dialect:
        return (
            "array_join(transform("
            f"{inner}, x -> coalesce(cast(x as string), 'N')), ',')"
        )
    return f"array_to_string(list_transform({inner}, x -> coalesce(x::VARCHAR, 'N')), ',')"


@st.composite
def array_hof_ast(draw):
    base = draw(
        st.one_of(
            st.lists(
                st.one_of(st.integers(0, 20), st.none()), min_size=0, max_size=8
            ).map(lambda l: ("lit", l)),
            st.tuples(st.integers(0, 5), st.integers(0, 6)).map(
                lambda t: ("seq", min(t[0], t[1]), max(t[0], t[1]))
            ),
        )
    )
    ast = base
    for _ in range(draw(st.integers(0, 3))):
        op = draw(
            st.sampled_from(
                ["map_add", "map_nullify", "filt_mod", "dropnull", "sort",
                 "distinct", "slice"]
            )
        )
        if op == "map_add":
            ast = ("map_add", ast, draw(st.integers(0, 7)))
        elif op == "map_nullify":
            m = draw(st.integers(2, 5))
            ast = ("map_nullify", ast, m, draw(st.integers(0, m - 1)))
        elif op == "filt_mod":
            m = draw(st.integers(2, 5))
            ast = ("filt_mod", ast, m, draw(st.integers(0, m - 1)))
        elif op == "dropnull":
            ast = ("dropnull", ast)
        elif op == "sort":
            ast = ("sort", ast)
        elif op == "distinct":
            ast = ("sort", ("distinct", ("dropnull", ast)))
        elif op == "slice":
            ast = ("slice", ast, draw(st.integers(1, 4)), draw(st.integers(1, 4)))
    return ast


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(ast=array_hof_ast())
def test_differential_array_hofs(engines, ast):
    spark, duck = engines
    s_sql = f"SELECT {_arr_terminal(ast, True)} AS v"
    d_sql = f"SELECT {_arr_terminal(ast, False)} AS v"
    got_s = spark.sql(s_sql).collect()[0]["v"]
    got_d = duck.execute(d_sql).fetchall()[0][0]
    # boundary deviation, found by this family's first run: DuckDB
    # array_to_string([]) is NULL where Spark array_join(array()) is ''
    # — normalize the empty rendering, everything else must match raw
    got_s, got_d = got_s or "", got_d or ""
    assert got_s == got_d, f"spark={got_s!r} duck={got_d!r}\nS: {s_sql}\nD: {d_sql}"


def test_array_distinct_null_deviation(engines):
    """Pins deviation #6: distinct over a NULL-bearing list.  Spark keeps
    first-occurrence order and retains one NULL; DuckDB drops NULLs (and
    reorders — compare as sets after the null difference)."""
    spark, duck = engines
    s = spark.sql(
        "SELECT array_distinct(array(1, 2, 2, NULL, NULL, 3)) AS v"
    ).collect()[0]["v"]
    d = duck.execute("SELECT list_distinct([1, 2, 2, NULL, NULL, 3]) AS v").fetchall()[
        0
    ][0]
    assert s == [1, 2, None, 3]  # order-preserving, one NULL kept
    assert sorted(d) == [1, 2, 3], d  # NULLs gone entirely


def test_month_end_interval_clamping_agrees(engines):
    """Month-arithmetic boundary pin: BOTH engines clamp to the target
    month's last day (Jan 31 + 1 month = Feb 29 in a leap year, Feb 28
    otherwise; Feb 29 + 1 year = Feb 28).  Probed identical while
    hunting deviations — pinned so a Spark upgrade changing the clamping
    convention (e.g. to error or roll over) fails loudly rather than
    silently skewing every date±interval operator."""
    spark, duck = engines
    cases = [
        ("DATE '2024-01-31' + INTERVAL 1 MONTH", "2024-02-29"),
        ("DATE '2023-01-31' + INTERVAL 1 MONTH", "2023-02-28"),
        ("DATE '2024-02-29' + INTERVAL 1 YEAR", "2025-02-28"),
        ("DATE '2024-03-31' - INTERVAL 1 MONTH", "2024-02-29"),
    ]
    for expr, want in cases:
        got_s = spark.sql(f"SELECT CAST({expr} AS DATE) AS v").collect()[0]["v"]
        got_d = duck.execute(f"SELECT CAST(({expr}) AS DATE) AS v").fetchall()[0][0]
        assert str(got_s) == str(got_d) == want, (expr, got_s, got_d)


# --- ordered string-aggregation family (dual-dialect) ----------------------
#
# The LISTAGG surface (x35) had no fuzz family.  One
# AST — (group key, item expr, separator, order keys) — rendered to Spark's
# ANSI `listagg(item, sep) WITHIN GROUP (ORDER BY ...)` and DuckDB's
# `string_agg(item, sep ORDER BY ...)`.  The in-aggregate ORDER BY always
# ends with the unique n_nationkey, so concat order is a total order and
# any mismatch is a semantics bug, not tie noise.  Restricted to the
# shared surface: explicit separator (the DEFAULT separator genuinely
# deviates — pinned below), no DISTINCT (Spark's unordered listagg
# DISTINCT is nondeterministic by contract).


def _listagg_ast(draw, st):
    group = draw(st.sampled_from(["n_regionkey", "n_nationkey % 3", None]))
    item = draw(
        st.sampled_from(
            [
                "n_name",
                "substr(n_name, 1, 3)",
                "concat(n_name, '#', cast(n_nationkey as string))",
                # NULL-injecting arm: both aggregates must SKIP null items
                "case when n_nationkey % 4 = 0 then null else n_name end",
            ]
        )
    )
    sep = draw(st.sampled_from([",", "|", "", "--"]))
    order = draw(
        st.sampled_from(
            [
                ["n_name"],
                ["n_name DESC"],
                ["length(n_name)", "n_name"],
                ["n_nationkey DESC"],
                ["n_regionkey", "n_name"],
            ]
        )
    )
    filt = draw(st.sampled_from([None, "n_nationkey % 2 = 0", "n_regionkey < 3"]))
    return group, item, sep, order, filt


def _listagg_render(ast, spark_dialect: bool) -> str:
    group, item, sep, order, filt = ast
    # the concat(...) item is the one non-portable shape; every other item
    # (including cast(x as string)) parses identically in both dialects
    it = item
    if not spark_dialect and item.startswith("concat"):
        it = "(n_name || '#' || CAST(n_nationkey AS VARCHAR))"
    ob = ", ".join(order + ["n_nationkey"])
    lit_sep = sep.replace("'", "''")
    if spark_dialect:
        agg = f"listagg({it}, '{lit_sep}') WITHIN GROUP (ORDER BY {ob})"
    else:
        agg = f"string_agg({it}, '{lit_sep}' ORDER BY {ob})"
    where = f" WHERE {filt}" if filt else ""
    if group is None:
        return f"SELECT {agg} AS joined, COUNT(*) AS n FROM nation{where}"
    return (
        f"SELECT {group} AS g, {agg} AS joined, COUNT(*) AS n "
        f"FROM nation{where} GROUP BY {group} ORDER BY g"
    )


@st.composite
def listagg_ast(draw):
    return _listagg_ast(draw, st)


@pytest.fixture(scope="module")
def engines_nation(spark, duck, sf_dir):
    from sqlrs_spark.sources.tables import register_views
    from tests.oracle import register_duck_views

    register_views(spark, sf_dir, ("nation",))
    register_duck_views(duck, sf_dir)
    return spark, duck


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(ast=listagg_ast())
def test_differential_listagg(engines_nation, ast):
    spark, duck = engines_nation
    s_sql = _listagg_render(ast, True)
    d_sql = _listagg_render(ast, False)
    ok, msg = compare(spark.sql(s_sql), duck, d_sql)
    assert ok, f"{msg}\nS: {s_sql}\nD: {d_sql}"


def test_listagg_default_separator_deviation(engines):
    """Pins deviation #8 (found by this family's first probe): with NO
    explicit separator, Spark's `listagg(x)` concatenates with the EMPTY
    string while DuckDB's `string_agg(x)` defaults to ','.  Every
    portable call site must pass the separator explicitly (x35 does);
    pinned so an engine upgrade normalizing either default is caught."""
    spark, duck = engines
    s = spark.sql(
        "SELECT listagg(x) WITHIN GROUP (ORDER BY x) AS v FROM VALUES ('b'),('a') t(x)"
    ).collect()[0]["v"]
    d = duck.execute(
        "SELECT string_agg(x ORDER BY x) FROM (VALUES ('b'),('a')) t(x)"
    ).fetchall()[0][0]
    assert s == "ab", s
    assert d == "a,b", d


# --- corrupt-CSV malformed-row family (dual-engine) -------------------------
#
# Randomized malformed-row corpora through the v15 reader-mode matrix —
# Spark PERMISSIVE / DROPMALFORMED / FAILFAST vs DuckDB's
# `read_csv(..., ignore_errors=true)` — on one generated file per example.
# The AGREED surface (measured, r8): both engines keep clean rows
# (including quoted embedded delimiters, empty→NULL fields, +N integers),
# both drop rows with an unparseable numeric token, too few fields, or too
# many fields, and both skip blank lines entirely.  The DELIBERATELY
# EXCLUDED arm is numeric leniency — DuckDB parses '5.25'/'1e3'/'0x10'
# into a BIGINT column while Spark marks the row malformed — pinned as
# deviation #9 below, so the family's bad-token pool contains only
# tokens BOTH engines reject.


def _render_csv_rows(modes):
    """One line per mode; returns (lines, n_clean, n_malformed, n_blank).
    id (= row index) stays parseable in every mode, so PERMISSIVE's
    salvaged-column accounting is checkable per row."""
    lines, n_clean, n_bad, n_blank = [], 0, 0, 0
    for i, mode in enumerate(modes):
        if mode == "clean":
            lines.append(f"{i},n{i},{100 + i}")
            n_clean += 1
        elif mode == "plus":
            lines.append(f"{i},n{i},+{100 + i}")
            n_clean += 1
        elif mode == "nullval":
            lines.append(f"{i},n{i},")
            n_clean += 1
        elif mode == "quoted":
            lines.append(f'{i},"n,{i}",{100 + i}')
            n_clean += 1
        elif mode == "badnum":
            lines.append(f"{i},n{i},{'N/A' if i % 2 else 'x' + str(i)}")
            n_bad += 1
        elif mode == "short":
            lines.append(f"{i},n{i}")
            n_bad += 1
        elif mode == "long":
            lines.append(f"{i},n{i},{100 + i},EXTRA")
            n_bad += 1
        else:  # blank
            lines.append("")
            n_blank += 1
    return lines, n_clean, n_bad, n_blank


@st.composite
def corrupt_csv_modes(draw):
    return draw(
        st.lists(
            st.sampled_from(
                ["clean", "clean", "clean", "plus", "nullval", "quoted",
                 "badnum", "short", "long", "blank"]
            ),
            min_size=8,
            max_size=30,
        )
    )


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(modes=corrupt_csv_modes())
def test_differential_corrupt_csv_modes(engines, modes):
    import os
    import tempfile

    from pyspark.sql import functions as F

    spark, duck = engines
    lines, n_clean, n_bad, n_blank = _render_csv_rows(modes)
    root = tempfile.mkdtemp(prefix="sqlrs_csvfuzz_")
    path = os.path.join(root, "t.csv")
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
    try:
        schema = "id bigint, name string, val bigint"
        read = lambda mode: (  # noqa: E731
            spark.read.schema(schema + ", _corrupt string")
            .option("mode", mode)
            .option("columnNameOfCorruptRecord", "_corrupt")
            .csv(path)
        )
        # 1. kept-row parity: Spark DROPMALFORMED == DuckDB ignore_errors
        #    on the whole typed row multiset
        kept = (
            spark.read.schema(schema)
            .option("mode", "DROPMALFORMED")
            .csv(path)
            .orderBy("id")
        )
        ok, msg = compare(
            kept,
            duck,
            # auto_detect=false: even with explicit columns DuckDB still
            # SNIFFS the dialect, and the sniffer itself errors when the
            # file's first line is structurally short (found by this
            # family's first shrink)
            f"SELECT * FROM read_csv('{path}', columns={{'id': 'BIGINT',"
            f" 'name': 'VARCHAR', 'val': 'BIGINT'}}, header=false,"
            f" auto_detect=false, ignore_errors=true) ORDER BY id",
        )
        assert ok, f"{msg}\nmodes={modes}"
        # 2. PERMISSIVE accounting: every non-blank line survives, exactly
        #    the malformed ones carry _corrupt, and their id column is
        #    still salvaged (the quarantine-audit contract v15 states)
        perm = read("PERMISSIVE").cache()
        try:
            assert perm.count() == n_clean + n_bad
            bad = perm.filter(F.col("_corrupt").isNotNull())
            assert bad.count() == n_bad
            assert bad.filter(F.col("id").isNull()).count() == 0
        finally:
            perm.unpersist()
        # 3. FAILFAST raises iff the corpus has a malformed row.  Probe
        #    with a FULL-ROW materialization: v15's "malformedness is
        #    lazy" note goes further than v15 needed — a TYPE-malformed
        #    row raises as soon as its bad column is read, but a
        #    STRUCTURALLY malformed row (wrong field count) raises only
        #    when every schema column is requested; a pruned sum(val)
        #    sails straight past a short row EVEN THOUGH val is the
        #    missing field (measured, this family's first run).
        if n_bad:
            with pytest.raises(Exception, match="(?i)malformed|failfast"):
                read("FAILFAST").drop("_corrupt").collect()
        else:
            read("FAILFAST").drop("_corrupt").collect()
    finally:
        import shutil

        shutil.rmtree(root, ignore_errors=True)


def test_csv_numeric_leniency_deviation(engines):
    """Pins deviation #9 (found by this family's first probe): DuckDB's
    CSV reader parses decimal, scientific, and hex literals into a BIGINT
    column (rounding the fractional forms), while Spark's reader marks
    the row malformed.  The fuzz family's bad-token pool therefore holds
    only tokens BOTH engines reject; pinned so an engine upgrade
    normalizing either side is caught."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    spark, duck = engines
    root = tempfile.mkdtemp(prefix="sqlrs_csvdev_")
    path = os.path.join(root, "t.csv")
    with open(path, "w") as f:
        f.write("1,a,5.25\n2,b,5.75\n3,c,-2.5\n4,d,1e3\n5,e,0x10\n")
    try:
        d = duck.execute(
            f"SELECT val FROM read_csv('{path}', columns={{'id': 'BIGINT',"
            f" 'name': 'VARCHAR', 'val': 'BIGINT'}}, header=false,"
            f" auto_detect=false, ignore_errors=true) ORDER BY id"
        ).fetchall()
        assert [r[0] for r in d] == [5, 6, -3, 1000, 16], d
        # cache first: Spark disallows corrupt-column-only queries straight
        # off the reader (QUERY_ONLY_CORRUPT_RECORD_COLUMN)
        s = (
            spark.read.schema("id bigint, name string, val bigint, _c string")
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", "_c")
            .csv(path)
            .cache()
        )
        try:
            assert s.count() == 5
            assert s.filter(F.col("_c").isNotNull()).count() == 5
        finally:
            s.unpersist()
    finally:
        import shutil

        shutil.rmtree(root, ignore_errors=True)


# --- set-operation family (shared-dialect SQL, both engines) ----------------
#
# Round-8 addition (thirteenth family).  x03 pins ONE fixed UNION/
# INTERSECT/EXCEPT shape; this family searches the set-op space the slt
# corpus and x03 never enumerate: the ALL (bag) variants, NULL-keyed rows
# (set operations treat NULLs as EQUAL, unlike `=` — the 3VL hole the
# conjunction family can't see), empty branches (WHERE 1=0), duplicate-
# heavy projections, and 3-branch trees under BOTH association orders
# with explicit parentheses.  All six operators parse identically in
# Spark and DuckDB, so one rendered statement feeds both engines and any
# mismatch is a semantics bug, not a dialect artifact.  Determinism:
# every expression is integer- or substring-typed (no doubles, no
# timestamps), so the multiset compare is bit-stable.

_SETOP_INT_EXPRS = [
    "n_nationkey % 5",
    "n_regionkey",
    "CASE WHEN n_nationkey % 3 = 0 THEN NULL ELSE n_regionkey END",
]
_SETOP_STR_EXPRS = [
    "substr(n_name, 1, 2)",
    "CASE WHEN n_regionkey = 2 THEN NULL ELSE substr(n_name, 1, 1) END",
]
_SETOP_FILTERS = [
    "",
    " WHERE n_nationkey < 15",
    " WHERE n_regionkey >= 2",
    " WHERE 1 = 0",  # empty branch: X EXCEPT empty = X, empty INTERSECT X = empty
    " WHERE n_nationkey % 2 = 0",
]
_SETOP_OPS = [
    "UNION",
    "UNION ALL",
    "INTERSECT",
    "INTERSECT ALL",
    "EXCEPT",
    "EXCEPT ALL",
]


@st.composite
def setop_query(draw):
    # one column shape shared by every branch (union compatibility);
    # each branch draws its own expressions within that shape
    shape = draw(
        st.lists(st.sampled_from(["i", "s"]), min_size=1, max_size=2)
    )

    def branch() -> str:
        cols = ", ".join(
            draw(
                st.sampled_from(
                    _SETOP_INT_EXPRS if kind == "i" else _SETOP_STR_EXPRS
                )
            )
            + f" AS c{j}"
            for j, kind in enumerate(shape)
        )
        return f"SELECT {cols} FROM nation{draw(st.sampled_from(_SETOP_FILTERS))}"

    n_branch = draw(st.integers(2, 3))
    branches = [branch() for _ in range(n_branch)]
    ops = [draw(st.sampled_from(_SETOP_OPS)) for _ in range(n_branch - 1)]
    if n_branch == 2:
        return f"({branches[0]}) {ops[0]} ({branches[1]})"
    if draw(st.booleans()):  # left-deep
        return (
            f"(({branches[0]}) {ops[0]} ({branches[1]})) "
            f"{ops[1]} ({branches[2]})"
        )
    return (
        f"({branches[0]}) {ops[0]} "
        f"(({branches[1]}) {ops[1]} ({branches[2]}))"
    )


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(sql=setop_query())
def test_differential_setops(engines_nation, sql):
    spark, duck = engines_nation
    ok, msg = compare(spark.sql(sql), duck, sql)
    assert ok, f"{msg}\nSQL: {sql}"


def test_setop_null_equality(engines_nation):
    """Pins the semantics the family exists to probe: set operations
    compare NULLs as EQUAL (SQL `IS NOT DISTINCT FROM` grouping), unlike
    the `=` predicate.  A NULL row INTERSECTs with a NULL row, and
    EXCEPT removes it, in BOTH engines."""
    spark, duck = engines_nation
    sql = (
        "SELECT x FROM (SELECT CAST(NULL AS INT) AS x UNION ALL SELECT 1) a "
        "INTERSECT "
        "SELECT x FROM (SELECT CAST(NULL AS INT) AS x UNION ALL SELECT 2) b"
    )
    s = [r["x"] for r in spark.sql(sql).collect()]
    d = [r[0] for r in duck.execute(sql).fetchall()]
    assert s == [None], s
    assert d == [None], d


def test_setop_precedence_parity(engines_nation):
    """Pins operator precedence on the UNPARENTHESIZED chain: both
    engines bind INTERSECT tighter than UNION (ANSI), so
    `A UNION B INTERSECT C` means `A UNION (B INTERSECT C)`.  Spark only
    honors this with spark.sql.legacy.setopsPrecedence.enabled=false
    (the default); pinned so a config or engine drift is caught."""
    spark, duck = engines_nation
    chain = (
        "SELECT n_regionkey AS k FROM nation UNION "
        "SELECT n_nationkey % 7 FROM nation INTERSECT "
        "SELECT n_nationkey % 2 FROM nation"
    )
    explicit = (
        "SELECT n_regionkey AS k FROM nation UNION "
        "(SELECT n_nationkey % 7 FROM nation INTERSECT "
        "SELECT n_nationkey % 2 FROM nation)"
    )
    s_chain = sorted(r["k"] for r in spark.sql(chain).collect())
    s_expl = sorted(r["k"] for r in spark.sql(explicit).collect())
    d_chain = sorted(r[0] for r in duck.execute(chain).fetchall())
    assert s_chain == s_expl == d_chain == [0, 1, 2, 3, 4]
