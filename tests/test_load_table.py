"""``sources.tables.load_table`` reads each table's schema from a Parquet
footer on the driver: the schema ``spark.read.parquet`` infers, with no
Spark job."""

from __future__ import annotations

import datetime
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from sqlrs_spark.sources.tables import TABLES, load_table

SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def schema_mismatches(spark, d: str, names) -> list[str]:
    """Tables of ``d`` whose ``load_table`` schema differs from the one
    Spark infers (field metadata included)."""
    return [
        n
        for n in names
        if load_table(spark, d, n).schema != spark.read.parquet(f"{d}/{n}.parquet").schema
    ]


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_testdata_schemas_match_inference(spark, sf_dir, sf):
    d = os.path.join(os.path.dirname(sf_dir), sf)
    if not os.path.isdir(d):
        pytest.skip(f"{d} not present")
    assert schema_mismatches(spark, d, TABLES) == []


def test_spark_written_directory_keeps_its_row_metadata(spark, tmp_path):
    # Spark's writer stores its own schema under a footer key; char and
    # varchar columns come back through it exactly as inference reads them
    d = str(tmp_path)
    spark.sql(
        "select cast('ab' as varchar(5)) v, cast('x' as char(3)) c, 1L as i,"
        " named_struct('p', 1, 'q', array(2.5d)) st, map('k', 1) m"
    ).write.parquet(f"{d}/written.parquet")
    part = min(f for f in os.listdir(f"{d}/written.parquet") if f.endswith(".parquet"))
    assert SPARK_ROW_METADATA in pq.read_metadata(f"{d}/written.parquet/{part}").metadata
    assert schema_mismatches(spark, d, ["written"]) == []


def test_int96_and_unsigned_columns_match_inference(spark, tmp_path):
    # INT96 infers as a session-zone timestamp, and unsigned ints widen
    # (uint64 to decimal(20,0)): the cases an Arrow-type mapping gets wrong
    ts = [datetime.datetime(2020, 1, 1, 12), None]
    table = pa.table(
        {
            "t96": pa.array(ts, pa.timestamp("us")),
            "u8": pa.array([1, None], pa.uint8()),
            "u32": pa.array([1, 2**32 - 1], pa.uint32()),
            "u64": pa.array([1, 2**64 - 1], pa.uint64()),
        }
    )
    pq.write_table(table, tmp_path / "legacy.parquet", use_deprecated_int96_timestamps=True)
    assert schema_mismatches(spark, str(tmp_path), ["legacy"]) == []
    assert dict(load_table(spark, str(tmp_path), "legacy").dtypes)["t96"] == "timestamp"


@pytest.mark.parametrize("layout", ["empty", "success_marker_only"])
def test_directory_without_parquet_raises_sparks_own_error(spark, tmp_path, layout):
    d = tmp_path / "t.parquet"
    d.mkdir()
    if layout == "success_marker_only":
        (d / "_SUCCESS").write_text("")
    with pytest.raises(AnalysisException) as plain:
        spark.read.parquet(str(d))
    with pytest.raises(AnalysisException) as loaded:
        load_table(spark, str(tmp_path), "t")
    assert loaded.value.getCondition() == plain.value.getCondition()


def test_merged_schemas_take_sparks_own_inference(spark, tmp_path):
    # part files with different columns: one footer cannot give the
    # merged schema a session asks for
    d = tmp_path / "t.parquet"
    d.mkdir()
    pq.write_table(pa.table({"a": [1]}), d / "part-0.parquet")
    pq.write_table(pa.table({"a": [2], "b": ["x"]}), d / "part-1.parquet")
    session = spark.newSession()
    session.conf.set("spark.sql.parquet.mergeSchema", "true")
    assert load_table(session, str(tmp_path), "t").columns == ["a", "b"]
    assert load_table(spark, str(tmp_path), "t").columns == ["a"]
