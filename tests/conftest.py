from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SQLRS_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_ORACLE = os.environ.get("SQLRS_ORACLE_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from sqlrs_spark.session import build_spark

    # a per-run warehouse: managed and bucketed tables never outlive the
    # run, so no test sees another run's tables or files
    warehouse = str(tmp_path_factory.mktemp("warehouse"))
    spark = build_spark(
        "sqlrs_spark_tests",
        cores=8,
        shuffle_partitions=8,
        extra_conf={"spark.sql.warehouse.dir": warehouse},
    )
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def oracle_sf_dir():
    return SF_DIR_ORACLE


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    yield con
    con.close()
