"""SQL-defined scalar functions (Spark 4 CREATE FUNCTION ... RETURN).

The reference's function registry (§2.10) is engine-internal; Session
exposes Python (create_function) and pandas (create_pandas_function)
registration.  Spark-native SQL UDFs are the third, fully-JVM surface —
they inline into the plan (no Python boundary), so they're the scale
path for user-defined scalar logic.
"""

from __future__ import annotations

from sqlrs_spark.plans import node_names
from sqlrs_spark.session import Session


def test_sql_udf_defines_and_inlines(spark):
    s = Session(spark)
    s.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION toknorm(t STRING) RETURNS STRING "
        "RETURN lower(trim(t))"
    )
    spark.sql("CREATE OR REPLACE TEMP VIEW udf_t AS SELECT * FROM VALUES ('  Foo '), ('BAR') AS v(s)")
    got = [r.n for r in s.sql("SELECT toknorm(s) AS n FROM udf_t ORDER BY n").collect()]
    assert got == ["bar", "foo"]
    # the UDF body inlines into the plan: no BatchEvalPython / PythonUDF
    names = node_names(s.sql("SELECT toknorm(s) AS n FROM udf_t"))
    assert not [n for n in names if "Python" in n], names


def test_sql_udf_composes_with_builtin_pipeline(spark):
    s = Session(spark)
    s.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION ws_tokens(t STRING) RETURNS INT "
        "RETURN size(split(t, ' '))"
    )
    spark.sql("CREATE OR REPLACE TEMP VIEW udf_d AS SELECT * FROM VALUES ('a b c'), ('x y') AS v(text)")
    got = s.sql("SELECT sum(ws_tokens(text)) AS n FROM udf_d").collect()[0].n
    assert got == 5
