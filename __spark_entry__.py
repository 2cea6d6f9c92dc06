"""Driver contract for the spark-graft builder (PySpark target).

All queries live in the sqlrs_spark registry (sqlrs_spark/registry.py);
this module just adapts it to the driver's entry/queries/oracle_sql shape.
The session comes from outside, so each call first pins the runtime conf
that result values depend on (``session.configure_runtime``); the
operators themselves set no conf.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


Entry = Callable[[SparkSession, str], DataFrame]


def _pinned(fn: Entry) -> Entry:
    """``fn`` run on a session whose runtime conf is pinned first."""
    from sqlrs_spark.session import configure_runtime

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return fn(configure_runtime(spark), sf_dir)

    return run


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from sqlrs_spark.registry import all_specs

    return _pinned(all_specs()["q01_pricing_summary"].fn)(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Entry]:
    """One entry per implemented operator from SURVEY.md §2."""
    from sqlrs_spark.registry import all_specs

    return {name: _pinned(spec.fn) for name, spec in all_specs().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for every SQL-expressible query."""
    from sqlrs_spark.registry import all_specs

    return {name: spec.oracle for name, spec in all_specs().items() if spec.oracle}
