"""v2 pending-query surface (reference src/main_entry/).

Covers the ClientContext lifecycle the reference implements: prepare →
pending → execute, stale-handle invalidation, multi-statement query(), and
interrupt() as a real Spark job-group cancellation.
"""

from __future__ import annotations

import datetime
import os
import threading
import time

import pytest

from sqlrs_spark.client_context import (
    _STALE_MSG,
    ClientContext,
    MaterializedQueryResult,
)


@pytest.fixture()
def ctx(spark):
    return ClientContext(spark)


def test_query_materializes_names_types_rows(ctx):
    res = ctx.query("select 1 as a, 'x' as b")
    assert isinstance(res, MaterializedQueryResult)
    assert res.names == ["a", "b"]
    assert res.types == ["int", "string"]
    assert res.rows == [(1, "x")]
    assert len(res) == 1


def test_pending_prepares_without_executing(ctx):
    pending = ctx.pending_query("select 41 + 1 as answer")
    # prepared: plan exists and is analyzed (schema known) pre-execution
    assert pending.dataframe.schema.fieldNames() == ["answer"]
    assert pending.execute().rows == [(42,)]


def test_new_pending_invalidates_old_handle(ctx):
    first = ctx.pending_query("select 1 as x")
    second = ctx.pending_query("select 2 as x")
    with pytest.raises(RuntimeError, match=_STALE_MSG.split()[0]):
        first.execute()
    assert second.execute().rows == [(2,)]


def test_interrupt_invalidates_pending(ctx):
    pending = ctx.pending_query("select 1 as x")
    ctx.interrupt()
    with pytest.raises(RuntimeError, match=_STALE_MSG.split()[0]):
        pending.execute()


def test_multi_statement_returns_last(ctx):
    res = ctx.query(
        "create or replace temp view ctx_t as select * from values (1),(2) as v(n);"
        " select sum(n) as s from ctx_t"
    )
    assert res.rows == [(3,)]


def test_frontend_sugar_flows_through(ctx, tmp_path):
    p = tmp_path / "ctx.csv"
    p.write_text("id,name\n1,ada\n2,lin\n")
    res = ctx.query(f"select name from read_csv('{p}', header=>true) order by name")
    assert res.rows == [("ada",), ("lin",)]


def test_interrupt_cancels_running_job(ctx):
    """interrupt() must kill an in-flight collect via the job group."""
    slow = ctx.pending_query(
        # two fat local cross joins: ~10^8+ rows of work, far beyond the
        # cancellation latency but bounded if cancellation were broken
        "select count(*) as n from (select explode(sequence(1, 10000)) a) x "
        "join (select explode(sequence(1, 10000)) b) y "
        "join (select explode(sequence(1, 50)) c) z"
    )
    errors: list[Exception] = []

    def run():
        try:
            slow.execute()
        except Exception as e:  # cancellation surfaces as a Spark job error
            errors.append(e)

    t = threading.Thread(target=run)
    start = time.monotonic()
    t.start()
    time.sleep(2.0)  # let tasks actually start
    ctx.interrupt()
    t.join(timeout=60)
    elapsed = time.monotonic() - start
    assert not t.is_alive(), "collect survived interrupt()"
    assert errors, "interrupted query should raise, not return"
    assert elapsed < 60


# ---------------------------------------------------------------------------
# prepared statements (prepared_statement_data.rs / query_context.rs)
# ---------------------------------------------------------------------------


def test_prepare_execute_many_positional(ctx):
    ctx.query(
        "create or replace temp view prep_t as "
        "select * from values (1, 'a'), (2, 'b'), (3, 'c') as v(id, tag)"
    )
    stmt = ctx.prepare("select tag from prep_t where id = ? order by tag")
    assert ctx.execute_prepared(stmt, 1).rows == [("a",)]
    assert ctx.execute_prepared(stmt, 3).rows == [("c",)]
    # names/types captured from the analyzed schema
    assert stmt.names == ["tag"]
    assert stmt.types == ["string"]


def test_prepare_execute_many_named(ctx):
    ctx.query(
        "create or replace temp view prep_n as "
        "select * from values (1, 10.0), (2, 20.0), (3, 30.0) as v(id, val)"
    )
    stmt = ctx.prepare(
        "select sum(val) as s from prep_n where id >= :lo and id <= :hi"
    )
    assert ctx.execute_prepared(stmt, lo=1, hi=2).rows == [(30.0,)]
    assert ctx.execute_prepared(stmt, lo=2, hi=3).rows == [(50.0,)]


def test_prepare_parse_error_is_eager(ctx):
    import pytest as _pytest

    with _pytest.raises(ValueError, match="parse"):
        ctx.prepare("selec 1")


def test_prepare_rejects_frontend_commands(ctx):
    import pytest as _pytest

    with _pytest.raises(ValueError, match="not preparable"):
        ctx.prepare("show tables")


def test_prepare_binding_is_not_string_splicing(ctx):
    """A quote in a bound string must be a literal value, not SQL."""
    ctx.query(
        "create or replace temp view prep_inj as "
        "select * from values ('x''; drop', 1), ('safe', 2) as v(tag, n)"
    )
    stmt = ctx.prepare("select n from prep_inj where tag = :t")
    assert ctx.execute_prepared(stmt, t="x'; drop").rows == [(1,)]


def test_prepare_applies_frontend_rewrites(ctx, tmp_path):
    p = tmp_path / "prep.csv"
    p.write_text("id,name\n1,ada\n2,lin\n3,tess\n")
    stmt = ctx.prepare(
        f"select name from read_csv('{p}', header=>true) where id > ? order by name"
    )
    assert ctx.execute_prepared(stmt, 1).rows == [("lin",), ("tess",)]


def test_prepare_applies_alias_in_where_retry(ctx):
    """Round-3 review: the prepared path must support the same binder
    quirks sql() retries — alias-in-WHERE resolves only at analysis,
    which for a parameterized statement happens at execute time."""
    ctx.query(
        "create or replace temp view prep_a as "
        "select * from values (1), (2), (3) as v(v1)"
    )
    stmt = ctx.prepare("select v1 + 1 as a from prep_a where a >= ? order by a")
    assert ctx.execute_prepared(stmt, 3).rows == [(3,), (4,)]
    # the rewritten text is kept: the second execute takes the fast path
    assert ctx.execute_prepared(stmt, 4).rows == [(4,)]


# ---------------------------------------------------------------------------
# catalog and EXPLAIN statements: driver-local results
# ---------------------------------------------------------------------------

CATALOG_DB = "sqlrs_catalog_db"
TABLES_NAMES = ["schema_name", "schema_oid", "table_name", "table_oid"]
TABLES_TYPES = ["string", "bigint", "string", "bigint"]
COLUMNS_NAMES = ["table_name", "column_name", "column_type", "nullable"]
COLUMNS_TYPES = ["string", "string", "string", "boolean"]
EXPLAIN_TYPES = ["logical_plan", "logical_plan_opt", "physical_plan"]


@pytest.fixture()
def catalog_ctx(spark):
    """A ClientContext on its own session (temp views and current database
    are per session), using a fresh database that holds two persistent
    tables, beside three visible temp views and one hidden ``__sqlrs_*``
    view."""
    ctx = ClientContext(spark.newSession())
    ctx.query(f"drop database if exists {CATALOG_DB} cascade")
    ctx.query(f"create database {CATALOG_DB}")
    ctx.query(f"use {CATALOG_DB}")
    ctx.query("create table zeta (a int, b string)")
    ctx.query(
        "create table alpha (k bigint, d decimal(18,2), arr array<struct<x:int,y:string>>,"
        " m map<string,bigint>, ts timestamp, dt date, u tinyint unsigned)"
    )
    ctx.query("create or replace temp view mid as select 1 as one")
    ctx.query("create or replace temp view __sqlrs_hidden as select 1 as h")
    ctx.query("create or replace temp view aview as select 1 as one")
    ctx.query(
        "create or replace temp view zz_nn as select 1 as n, 'x' as s,"
        " interval '3' day as iv, cast(null as string) as nul"
    )
    yield ctx
    ctx.query("use default")
    ctx.query(f"drop database {CATALOG_DB} cascade")


def _jobs_added(ctx, sql: str) -> int:
    """Spark jobs run by ``ctx.query(sql)``, prepare included: the job
    group is set before the statement is prepared, not only around its
    collect."""
    sc = ctx.spark.sparkContext
    before = set(sc.statusTracker().getJobIdsForGroup(ctx._group))
    sc.setJobGroup(ctx._group, "catalog statement")
    try:
        ctx.query(sql)
    finally:
        sc.setJobGroup("", "")
    return len(set(sc.statusTracker().getJobIdsForGroup(ctx._group)) - before)


def test_catalog_and_explain_statements_run_no_jobs(catalog_ctx):
    for sql in (
        "describe alpha",
        "describe zz_nn",
        "show tables",
        "select * from sqlrs_tables()",
        "select * from sqlrs_columns()",
        "explain select a, count(*) from zeta where a > 1 group by a",
    ):
        assert _jobs_added(catalog_ctx, sql) == 0, sql


def test_sqlrs_tables_lists_tables_then_temp_views_with_oid_gaps(catalog_ctx):
    res = catalog_ctx.query("select * from sqlrs_tables()")
    assert (res.names, res.types) == (TABLES_NAMES, TABLES_TYPES)
    # the hidden __sqlrs_hidden view holds oid 2
    assert res.rows == [
        (CATALOG_DB, 0, "alpha", 0),
        (CATALOG_DB, 0, "zeta", 1),
        ("main", 0, "aview", 3),
        ("main", 0, "mid", 4),
        ("main", 0, "zz_nn", 5),
    ]
    res = catalog_ctx.query("show tables")
    assert (res.names, res.types) == (["schema_name", "table_name"], ["string", "string"])
    assert res.rows == [
        (CATALOG_DB, "alpha"),
        (CATALOG_DB, "zeta"),
        ("main", "aview"),
        ("main", "mid"),
        ("main", "zz_nn"),
    ]
    # the first query registered its snapshot as __sqlrs_tables_view, which
    # now holds oid 3
    assert catalog_ctx.query("select table_name, table_oid from sqlrs_tables()").rows == [
        ("alpha", 0), ("zeta", 1), ("aview", 4), ("mid", 5), ("zz_nn", 6),
    ]


def test_persistent_table_in_default_reports_schema_default(spark):
    ctx = ClientContext(spark.newSession())
    ctx.query("drop table if exists sqlrs_catalog_default_t")
    ctx.query("create table sqlrs_catalog_default_t (a int)")
    try:
        res = ctx.query(
            "select schema_name, schema_oid, table_name from sqlrs_tables()"
            " where table_name = 'sqlrs_catalog_default_t'"
        )
        assert res.rows == [("default", 0, "sqlrs_catalog_default_t")]
    finally:
        ctx.query("drop table sqlrs_catalog_default_t")


def test_describe_and_sqlrs_columns_report_catalog_types(catalog_ctx):
    alpha = [
        ("alpha", "k", "bigint", True),
        ("alpha", "d", "decimal(18,2)", True),
        ("alpha", "arr", "array<struct<x:int,y:string>>", True),
        ("alpha", "m", "map<string,bigint>", True),
        ("alpha", "ts", "timestamp", True),
        ("alpha", "dt", "date", True),
        ("alpha", "u", "smallint", True),  # tinyint unsigned widens
    ]
    zz_nn = [
        ("zz_nn", "n", "int", False),
        ("zz_nn", "s", "string", False),
        ("zz_nn", "iv", "interval day", False),
        ("zz_nn", "nul", "string", True),
    ]
    for table, want in (("alpha", alpha), ("zz_nn", zz_nn), ("nosuch", [])):
        res = catalog_ctx.query(f"describe {table}")
        assert (res.names, res.types) == (COLUMNS_NAMES, COLUMNS_TYPES)
        assert res.rows == want, table
    res = catalog_ctx.query("select * from sqlrs_columns()")
    assert (res.names, res.types) == (COLUMNS_NAMES, COLUMNS_TYPES)
    assert res.rows == alpha + [
        ("zeta", "a", "int", True),
        ("zeta", "b", "string", True),
        ("aview", "one", "int", False),
        ("mid", "one", "int", False),
    ] + zz_nn


def test_empty_listing_keeps_the_schema(spark):
    ctx = ClientContext(spark.newSession())
    ctx.query("drop database if exists sqlrs_catalog_empty cascade")
    ctx.query("create database sqlrs_catalog_empty")
    ctx.query("use sqlrs_catalog_empty")
    try:
        for sql, names, types in (
            ("select * from sqlrs_tables()", TABLES_NAMES, TABLES_TYPES),
            ("select * from sqlrs_columns()", COLUMNS_NAMES, COLUMNS_TYPES),
            ("show tables", ["schema_name", "table_name"], ["string", "string"]),
        ):
            res = ctx.query(sql)
            assert (res.names, res.types, res.rows) == (names, types, []), sql
    finally:
        ctx.query("use default")
        ctx.query("drop database sqlrs_catalog_empty cascade")


def test_explain_plans_without_running_the_statement(catalog_ctx, tmp_path):
    """EXPLAIN of a write renders the write's plans and writes nothing."""
    csv = tmp_path / "rows.csv"
    csv.write_text("a,b\n5,x\n6,y\n")
    for sql, logical in (
        ("explain insert into zeta values (1, 'p'), (2, 'q')", "InsertIntoHadoopFsRelationCommand"),
        (f"explain copy zeta from '{csv}' (HEADER)", "InsertIntoHadoopFsRelationCommand"),
        ("explain create table made as select 1 as a", "CreateDataSourceTableAsSelectCommand"),
        ("explain select a, count(*) from zeta where a > 1 group by a", "Aggregate"),
    ):
        res = catalog_ctx.query(sql)
        assert (res.names, res.types) == (["type", "plan"], ["string", "string"])
        assert [r[0] for r in res.rows] == EXPLAIN_TYPES
        assert res.rows[0][1].startswith(logical), (sql, res.rows[0][1])
    assert catalog_ctx.query("select count(*) from zeta").rows == [(0,)]
    assert not catalog_ctx.spark.catalog.tableExists("made")


# ---------------------------------------------------------------------------
# write statements: COPY and INSERT … VALUES bind to the target's types
# ---------------------------------------------------------------------------

WRITE_DB = "sqlrs_write_db"
TARGET_DDL = "k bigint, v double, tag varchar"


@pytest.fixture()
def write_ctx(spark):
    """A ClientContext whose current database is a fresh one, dropped with
    its tables' directories afterwards."""
    ctx = ClientContext(spark.newSession())
    ctx.query(f"drop database if exists {WRITE_DB} cascade")
    ctx.query(f"create database {WRITE_DB}")
    ctx.query(f"use {WRITE_DB}")
    yield ctx
    ctx.query("use default")
    ctx.query(f"drop database {WRITE_DB} cascade")


def _parquet_files(ctx, table: str) -> set[str]:
    rows = ctx.spark.sql(f"describe table extended {table}").collect()
    root = {r[0]: r[1] for r in rows}["Location"].removeprefix("file:")
    return {f for f in os.listdir(root) if f.endswith(".parquet")}


def test_write_statements_run_one_job_and_write_one_file(write_ctx, tmp_path):
    """COPY reads the CSV with the target's schema (no inference jobs) and
    INSERT … VALUES writes one file however many rows it carries."""
    csv = tmp_path / "w.csv"
    csv.write_text("k,v,tag\n1,2.5,a\n2,3.5,b\n")
    write_ctx.query(f"create table w ({TARGET_DDL})")
    assert _jobs_added(write_ctx, f"copy w from '{csv}' (HEADER)") == 1
    before = _parquet_files(write_ctx, "w")
    write_ctx.query(
        "insert into w values (3, 0.5, 'c'), (4, 1.5, 'd'), (5, 2.0, 'e'), (6, 4.25, 'f')"
    )
    assert len(_parquet_files(write_ctx, "w") - before) == 1
    assert write_ctx.query("select sum(k), sum(v) from w").rows == [(21, 14.25)]


#: name: (CSV text, COPY options, the rows COPY leaves, or a pattern of the
#: error it raises).  DuckDB runs the same COPY statement as the judge.
COPY_CASES = {
    "ok": ("k,v,tag\n1,2.5,a\n2,,b\n", "HEADER", [(1, 2.5, "a"), (2, None, "b")]),
    "k_fraction": ("k,v,tag\n1.5,1,a\n", "HEADER", [(1, 1.0, "a")]),
    "k_exponent": ("k,v,tag\n1e3,1,a\n", "HEADER", [(1000, 1.0, "a")]),
    "k_bigint_max": (
        "k,v,tag\n9223372036854775807,1,a\n", "HEADER", [(9223372036854775807, 1.0, "a")]
    ),
    "k_overflow": ("k,v,tag\n1234567890123456789012,1,a\n", "HEADER", "CAST_OVERFLOW"),
    "v_malformed": ("k,v,tag\n1,abc,a\n", "HEADER", "CAST_INVALID_INPUT"),
    "spaces": ("k,v,tag\n 7 , 2.5 , a \n", "HEADER", [(7, 2.5, " a ")]),
    "short_row": ("k,v,tag\n1,2.5,a\n2,3.5\n", "HEADER", "MALFORMED_RECORD_IN_PARSING"),
    "long_row": ("k,v,tag\n1,2.5,a,extra\n", "HEADER", "MALFORMED_RECORD_IN_PARSING"),
    "no_header": ("1,2.5,a\n2,3,b\n", "HEADER false", [(1, 2.5, "a"), (2, 3.0, "b")]),
    "pipe": (
        "k|v|tag\n1|2.5|x,y\n2||\n", "DELIMITER '|', HEADER", [(1, 2.5, "x,y"), (2, None, None)]
    ),
}
#: DEVIATIONS.md: an integral target truncates a fractional cell, DuckDB rounds
DUCK_DEVIATES = {"k_fraction": [(2, 1.0, "a")]}


@pytest.mark.parametrize("case", list(COPY_CASES))
def test_copy_matches_duckdb(write_ctx, duck, tmp_path, case):
    import duckdb

    text, opts, want = COPY_CASES[case]
    csv = tmp_path / f"{case}.csv"
    csv.write_text(text)
    copy = f"copy cp from '{csv}' ({opts})"
    write_ctx.query(f"create table cp ({TARGET_DDL})")
    duck.execute(f"create or replace table cp ({TARGET_DDL})")
    try:
        if isinstance(want, str):
            with pytest.raises(Exception, match=want):
                write_ctx.query(copy)
            with pytest.raises(duckdb.Error):
                duck.execute(copy)
        else:
            write_ctx.query(copy)
            assert sorted(write_ctx.query("select * from cp").rows) == want
            duck.execute(copy)
            assert sorted(duck.execute("select * from cp").fetchall()) == DUCK_DEVIATES.get(
                case, want
            )
    finally:
        duck.execute("drop table cp")


def test_insert_values_cast_to_target_types(write_ctx):
    """bind_insert.rs:27-110: each value is cast to its column's type, in
    the plain, column-list and prepared forms; a width mismatch keeps
    Spark's own error."""
    write_ctx.query("create table d (x date, n int)")
    write_ctx.query("insert into d values ('2020-01-01', 1.7)")
    write_ctx.query("insert into d (n, x) values (2, '2021-02-02')")
    prepared = write_ctx.prepare("insert into d values (?, ?)")
    write_ctx.execute_prepared(prepared, "2022-03-03", 3)
    write_ctx.execute_prepared(prepared, "2023-04-04", 4.6)
    with pytest.raises(Exception, match="INSERT_COLUMN_ARITY_MISMATCH"):
        write_ctx.query("insert into d values ('2024-05-05')")
    assert sorted(write_ctx.query("select x, n from d").rows) == [
        (datetime.date(2020, 1, 1), 1),
        (datetime.date(2021, 2, 2), 2),
        (datetime.date(2022, 3, 3), 3),
        (datetime.date(2023, 4, 4), 4),
    ]
    # column names that need quoting, with and without a column list
    write_ctx.query("create table dq (`my col` int, `order` date)")
    write_ctx.query("insert into dq values (1.2, '2020-01-01')")
    write_ctx.query("insert into dq (`order`, `my col`) values ('2021-02-02', 2)")
    assert sorted(write_ctx.query("select * from dq").rows) == [
        (1, datetime.date(2020, 1, 1)),
        (2, datetime.date(2021, 2, 2)),
    ]
