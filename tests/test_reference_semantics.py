"""Semantic-parity tests ported from the reference's sqllogictest corpus
(/root/reference/tests/slt/*.slt — see SURVEY.md §5). Each test cites the
slt file it reproduces. Expected values are the reference's golden outputs;
row order is normalized (rowsort) wherever the reference's deterministic
ordering is an implementation detail (SURVEY §4.2).
"""

from __future__ import annotations

import pytest

from tests.fixtures import register_fixtures


@pytest.fixture(scope="module", autouse=True)
def fixtures(spark):
    register_fixtures(spark)


def _key(t):
    return tuple((v is None, str(v)) for v in t)


def rows(spark, sql):
    """Order-insensitive, None-safe sorted rows."""
    return sorted((tuple(r) for r in spark.sql(sql).collect()), key=_key)


def expect(rows_list):
    return sorted((tuple(r) for r in rows_list), key=_key)


# -- aggregation.slt ---------------------------------------------------------

def test_simple_aggs(spark):
    # aggregation.slt:1-20
    assert rows(spark, "select sum(salary) from employee") == [(33500,)]
    assert rows(
        spark,
        "select sum(salary), sum(id+1), count(id), count(salary) from employee where id > 1",
    ) == [(21500, 12, 3, 2)]
    assert rows(spark, "select max(salary), min(id), max(last_name) from employee") == [
        (12000, 1, "Travis")
    ]


def test_group_by_nullable_key(spark):
    # aggregation.slt:22-35 — NULL forms its own group; aggs over it are NULL
    got = rows(
        spark,
        "select state, count(state), sum(salary), max(salary), min(salary) "
        "from employee group by state",
    )
    assert got == expect(
        [
            ("CA", 1, 12000, 12000, 12000),
            ("CO", 2, 21500, 11500, 10000),
            # count(state) over the NULL group is 0 in standard SQL; the
            # reference printed 1 (it counted rows, not values) — DuckDB
            # semantics arbitrate (count of NULLs = 0)
            (None, 0, None, None, None),
        ]
    )


def test_group_by_salary_null_group(spark):
    # aggregation.slt:14-20
    got = rows(
        spark,
        "select salary, count(id), sum(salary), max(salary), min(salary) "
        "from employee group by salary",
    )
    assert (None, 1, None, None, None) in got
    assert (12000, 1, 12000, 12000, 12000) in got
    assert len(got) == 4


# -- join.slt ----------------------------------------------------------------

_JOIN_PROJ = (
    "select employee.id, employee.first_name, employee.department_id, "
    "department.department_name, department.id "
    "from employee {how} join department on employee.department_id = department.id"
)


def test_left_join(spark):
    got = rows(spark, _JOIN_PROJ.format(how="left"))
    assert got == expect(
        [
            (1, "Bill", 1, "IT", 1),
            (2, "Gregg", 2, "Marketing", 2),
            (3, "John", 4, "Engineering", 4),
            (4, "Von", None, None, None),
        ]
    )


def test_right_join(spark):
    got = rows(spark, _JOIN_PROJ.format(how="right"))
    assert (None, None, None, "Finance", 3) in got
    assert len(got) == 4


def test_full_join(spark):
    got = rows(spark, _JOIN_PROJ.format(how="full"))
    assert (None, None, None, "Finance", 3) in got
    assert (4, "Von", None, None, None) in got
    assert len(got) == 5


def test_inner_join(spark):
    got = rows(spark, _JOIN_PROJ.format(how="inner"))
    assert len(got) == 3


def test_join_duplicate_keys_fanout(spark):
    # join.slt t1/t2: duplicate keys on both sides → hash-join multi-match
    got = rows(spark, "select t1.a, t2.a from t1 join t2 on t1.a = t2.b")
    assert got == expect([(2, 10), (2, 10), (2, 20), (2, 20)])


def test_join_residual_filter(spark):
    # join_filter.slt shape: equi + non-equi residual in ON
    got = rows(
        spark,
        "select t1.a, t1.b, t2.a from t1 join t2 on t1.a = t2.b and t1.b > 7",
    )
    assert got == expect([(2, 8, 10), (2, 8, 20)])


# -- subquery.slt ------------------------------------------------------------

def test_derived_tables(spark):
    # subquery.slt:5-40
    assert rows(spark, "select * from (select * from t1 where c < 2) t_1") == [(2, 8, 1)]
    assert rows(
        spark,
        "select * from (select * from (select * from t1 where c < 2) t_1 "
        "where t_1.a > 1) t_2 where t_2.b > 7",
    ) == [(2, 8, 1)]
    assert rows(
        spark, "select t.b from (select a, b from t1 where a > 1) t where t.b > 7"
    ) == [(8,)]


def test_scalar_subquery(spark):
    # subquery.slt scalar section — uncorrelated scalar subqueries
    assert rows(spark, "select (select max(a) from t1)") == [(2,)]
    assert rows(spark, "select * from t1 where a = (select max(a) from t1)") == expect(
        [(2, 7, 9), (2, 8, 1)]
    )


# -- conjunction/comparison (Kleene 3VL) --------------------------------------

def test_kleene_and_or(spark):
    # conjunction_function.slt:53+ over integers(i,j) with NULL row:
    # NULL AND false = false, NULL OR true = true, NULL AND true = NULL
    got = rows(spark, "select i, (i > 2) and (j < 3) from integers")
    assert (None, None) in got
    assert (1, False) in got
    got = rows(spark, "select i, (i > 0) or (j is null) from integers")
    assert (None, True) in got  # NULL > 0 is NULL; NULL OR true = true


def test_comparison_null_propagation(spark):
    # comparison_function.slt: comparisons with NULL yield NULL (filtered out)
    assert rows(spark, "select i from integers where i > 1") == [(2,), (3,)]
    assert rows(spark, "select count(*) from integers where i = i") == [(3,)]


# -- order/limit (order.slt, limit.slt) ---------------------------------------

def test_order_nulls_and_direction(spark):
    # reference arrow SortOptions: asc → nulls first (SURVEY §2.6)
    got = [r[0] for r in spark.sql(
        "select i from integers order by i asc nulls first"
    ).collect()]
    assert got == [None, 1, 2, 3]
    got = [r[0] for r in spark.sql(
        "select i from integers order by i desc nulls last"
    ).collect()]
    assert got == [3, 2, 1, None]


def test_limit_offset_windowing(spark):
    # limit.slt / src/executor/limit.rs:83-124 windowing arithmetic
    q = "select a from t1 order by a, b"
    assert [r[0] for r in spark.sql(f"{q} limit 2").collect()] == [0, 1]
    assert [r[0] for r in spark.sql(f"{q} limit 2 offset 1").collect()] == [1, 2]
    assert [r[0] for r in spark.sql(f"{q} limit 10 offset 3").collect()] == [2]
    assert spark.sql(f"{q} limit 10 offset 9").count() == 0


# -- distinct.slt --------------------------------------------------------------

def test_distinct(spark):
    assert rows(spark, "select distinct a from t1") == [(0,), (1,), (2,)]
    assert rows(spark, "select distinct b, c from t2 where b = 2") == expect(
        [(2, 7), (2, 5)]
    )


# -- time.slt ------------------------------------------------------------------

def test_date_interval_arithmetic(spark):
    # time.slt: t5(v1 date) + interval year/month/day
    spark.sql("select date '2021-01-02' as v1").createOrReplaceTempView("t5")
    assert rows(spark, "select v1 + interval 1 year from t5") == [
        (__import__("datetime").date(2022, 1, 2),)
    ]
    assert rows(spark, "select v1 + interval 3 month from t5") == [
        (__import__("datetime").date(2021, 4, 2),)
    ]
    assert rows(spark, "select v1 - interval 1 day from t5") == [
        (__import__("datetime").date(2021, 1, 1),)
    ]


# -- csv quoting (employee.csv job_title: "Manager, Software") -----------------

def test_csv_quoted_comma(spark, tmp_path):
    # FIXTURES.md: quoted comma value exercises CSV quoting
    p = tmp_path / "emp.csv"
    p.write_text(
        'id,job_title\n1,"Manager, Software"\n2,Driver\n'
    )
    from sqlrs_spark.session import Session

    s = Session(spark)
    df = s.read_csv(str(p))
    got = sorted(tuple(r) for r in df.collect())
    assert got == [(1, "Manager, Software"), (2, "Driver")]


def test_csv_empty_is_null(spark, tmp_path):
    p = tmp_path / "nulls.csv"
    p.write_text("id,state\n1,CA\n2,\n")
    from sqlrs_spark.session import Session

    df = Session(spark).read_csv(str(p))
    got = sorted(tuple(r) for r in df.collect())
    assert got == [(1, "CA"), (2, None)]


def test_explain_output_shape(spark):
    # reference explain returns (type, plan) rows logical_plan /
    # logical_plan_opt / physical_plan (physical_explain.rs:24-33)
    from sqlrs_spark.session import Session

    out = Session(spark).sql("explain select 1 + 1").collect()
    assert [r.type for r in out] == ["logical_plan", "logical_plan_opt", "physical_plan"]
    assert all(r.plan for r in out)


class TestFunctionRegistry:
    """Reference §2.10: the internal ScalarFunction registry surfaced as a
    user API (scalar_function.rs / function/mod.rs:45-56)."""

    def test_python_scalar_udf(self, spark, sf_dir):
        from sqlrs_spark.session import Session

        s = Session(spark)
        s.create_function("rev_str", lambda x: x[::-1] if x is not None else None)
        out = s.sql("SELECT rev_str('sqlrs') AS r").collect()
        assert out[0]["r"] == "srlqs"
        # NULL propagates like the reference's null-aware kernels
        assert s.sql("SELECT rev_str(CAST(NULL AS STRING)) AS r").collect()[0]["r"] is None

    def test_pandas_vectorized_udf(self, spark, sf_dir):
        from sqlrs_spark.session import Session

        s = Session(spark)

        def double_plus_one(col):
            return col * 2 + 1

        s.create_pandas_function("dpo", double_plus_one, "long")
        from sqlrs_spark.sources.tables import register_views

        register_views(spark, sf_dir, ("nation",))
        rows = s.sql(
            "SELECT n_nationkey, dpo(n_nationkey) AS d FROM nation ORDER BY n_nationkey LIMIT 3"
        ).collect()
        assert [(r["n_nationkey"], r["d"]) for r in rows] == [(0, 1), (1, 3), (2, 5)]
