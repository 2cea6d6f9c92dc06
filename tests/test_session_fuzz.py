"""Differential fuzz of the Session SQL-frontend rewrite layer.

session.py's regex frontend (COPY / read_csv / replacement scan /
sqlrs_tables / offset-limit / alias-in-WHERE) is the one hand-built parser
in the repo.  The invariant under test: **string literals are data** — no
rewrite may fire inside one, in any quoting style Spark's lexer accepts
(single/double quotes, ``''`` doubling, backslash escapes).

Layer 1: pure-function checks on the literal-aware substitution helpers.
Layer 2: a live Session round-trip — ``SELECT '<adversarial>' AS x`` must
return the literal verbatim, for hand-picked killers and hypothesis-
generated strings stuffed with rewrite-trigger syntax.
"""

from __future__ import annotations

import os
import re

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from sqlrs_spark.session import (
    Session,
    _literal_spans,
    _rewrite_where_alias,
    _split_statements,
    _sub_outside_literals,
)

# ---------------------------------------------------------------------------
# Layer 1: the helpers, no Spark needed
# ---------------------------------------------------------------------------


def test_literal_spans_styles():
    q = "select 'a''b', \"c\\\"d\", `e``f`, 'g\\'h' from t"
    covered = [q[s:e] for s, e in _literal_spans(q)]
    assert covered == ["'a''b'", '"c\\"d"', "`e``f`", "'g\\'h'"]


def test_sub_skips_literal_starts():
    pat = re.compile(r"\bfoo\b")
    q = "foo 'foo' \"foo\" `foo` foo"
    assert _sub_outside_literals(pat, lambda m: "BAR", q) == "BAR 'foo' \"foo\" `foo` BAR"


def test_sub_allows_span_into_literal():
    # FROM 'x.csv' starts in code and captures the quoted path — must fire
    pat = re.compile(r"from\s+'(?P<p>[^']+)'", re.IGNORECASE)
    q = "select * from 'x.csv' where note = 'from ''y.csv'''"
    out = _sub_outside_literals(pat, lambda m: "from X", q)
    assert out == "select * from X where note = 'from ''y.csv'''"


def test_split_statements_backslash_escape():
    # Spark lexer: \' stays inside the literal (verified on 4.1, ANSI on)
    assert _split_statements(r"select 'a\'b;c' as x; select 1") == [
        r"select 'a\'b;c' as x",
        "select 1",
    ]


def test_where_alias_skips_literals():
    out = _rewrite_where_alias("select v+1 as a from t where a = 2 and note <> 'a b'")
    assert out == "select v+1 as a from t where (v+1) = 2 and note <> 'a b'"


def test_where_boundary_keyword_inside_literal():
    out = _rewrite_where_alias(
        "select v+1 as a from t where note = 'group by' and a = 2 order by a"
    )
    assert (
        out
        == "select v+1 as a from t where note = 'group by' and (v+1) = 2 order by a"
    )


# ---------------------------------------------------------------------------
# Layer 2: live round-trip through Session.sql
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def session(spark):
    s = Session(spark)
    s.spark.sql("CREATE OR REPLACE TEMP VIEW fuzz_t AS SELECT * FROM VALUES (1) AS v(id)")
    return s


def sql_quote(payload: str) -> str:
    """Escape a payload the way Spark's lexer expects inside '...'."""
    return payload.replace("\\", "\\\\").replace("'", "\\'")


KILLERS = [
    "data from 'a.csv' here",
    "use read_csv('f.csv', header=>true)",
    "offset 1 limit 2",
    "sqlrs_tables()",
    "sqlrs_columns() join 'x.parquet'",
    "a;b;c",
    "join 'j.json' on 1=1",
    "it's from 'q.csv'",
    "varchar and int unsigned",
]


@pytest.mark.parametrize("payload", KILLERS)
def test_literal_roundtrip_killers(session, payload):
    got = session.sql(f"select '{sql_quote(payload)}' as x from fuzz_t").collect()
    assert [r.x for r in got] == [payload]


@settings(
    max_examples=60,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.sampled_from(
            [
                "from 'x.csv'",
                "read_csv('y.csv')",
                "offset 3 limit 4",
                "limit 9",
                "sqlrs_tables()",
                ";",
                "'",
                '"',
                "\\",
                " where ",
                "group by",
                "a",
                "it's",
                "`q`",
            ]
        ),
        min_size=1,
        max_size=6,
    ).map(" ".join)
)
def test_literal_roundtrip_fuzz(session, payload):
    got = session.sql(f"select '{sql_quote(payload)}' as x from fuzz_t").collect()
    assert [r.x for r in got] == [payload]


def test_alias_in_where_still_works(session):
    session.spark.sql(
        "CREATE OR REPLACE TEMP VIEW alias_t1 AS SELECT * FROM VALUES (1),(2),(3) AS v(v1)"
    )
    session.spark.sql(
        "CREATE OR REPLACE TEMP VIEW alias_t2 AS SELECT * FROM VALUES (1,10),(2,20) AS v(v1, a)"
    )
    for query, want in [
        ("select id+1 as a from fuzz_t where a = 2", [2]),
        # a real column named like the alias keeps Spark semantics: no retry
        ("select v1+100 as a from alias_t2 where a >= 20", [102]),
        # the alias is substituted inside nested expressions too
        ("select v1*2 as a from alias_t1 where a + 1 >= 5 and not (a = 6)", [4]),
    ]:
        got = session.sql(query).collect()
        assert sorted(r.a for r in got) == want, query


def test_offset_limit_swap_still_works(session):
    session.spark.sql(
        "CREATE OR REPLACE TEMP VIEW fuzz_n AS SELECT * FROM VALUES (1),(2),(3),(4) AS v(n)"
    )
    got = session.sql("select n from fuzz_n order by n offset 1 limit 2").collect()
    assert [r.n for r in got] == [2, 3]


def test_copy_options_with_quoted_paren(session, tmp_path):
    p = tmp_path / "paren.csv"
    p.write_text("id)name\n1)ada\n2)lin\n")
    session.spark.sql("CREATE OR REPLACE TEMP VIEW __cp_schema AS SELECT 1")
    # a killed prior run can leave the managed table's warehouse dir behind
    # (LOCATION_ALREADY_EXISTS even after DROP) — clear both catalog and dir.
    # Derive the dir from the session's warehouse conf, not a cwd-relative
    # literal: pytest launched from any other cwd would otherwise silently
    # skip the cleanup and the flake returns.
    session.spark.sql("DROP TABLE IF EXISTS cp_paren")
    import shutil
    from urllib.parse import urlparse

    warehouse = session.spark.conf.get("spark.sql.warehouse.dir")
    wh_path = urlparse(warehouse).path or warehouse
    shutil.rmtree(os.path.join(wh_path, "cp_paren"), ignore_errors=True)
    session.sql("create table cp_paren (id int, name string)")
    session.sql(f"COPY cp_paren FROM '{p}' (DELIMITER ')', HEADER)")
    got = [tuple(r) for r in session.sql("select * from cp_paren order by id").collect()]
    assert got == [(1, "ada"), (2, "lin")]
