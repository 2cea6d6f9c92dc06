"""Parquet star-schema sources (driver testdata, TESTDATA.md).

At 100 TB these would be partitioned/bucketed external tables; the read
path here is a plain `spark.read.parquet` so Catalyst's datasource V2
pushdown (filters + column pruning + partition pruning) applies untouched.

Loading a table runs no Spark job.  Without a schema, `spark.read.parquet`
infers one with a job that only reads a footer (~0.1 s of wall per load);
`load_table` reads that footer on the driver instead, through Spark's own
footer-to-schema conversion, and hands the schema to the reader.
"""

from __future__ import annotations

import json
import os
from urllib.parse import unquote, urlparse

from py4j.java_gateway import JavaClass
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at any realistic scale factor.
# region/nation are fixed-size in TPC-H; supplier/part/customer grow with SF
# but stay several orders of magnitude below the fact tables.
BROADCAST_SAFE = ("region", "nation")

#: path -> ((parquet file count, newest file mtime_ns), total row groups,
#: total rows).  File-layout METADATA only (the same thing Spark's own
#: InMemoryFileIndex caches per session) — never query results, so reruns
#: still compute from parquet.  The stamp covers every enumerated file, so a
#: part file rewritten in place or added inside a nested partition
#: directory invalidates the entry.
_SCAN_UNITS_CACHE: dict[str, tuple[tuple[int, int], int, int]] = {}


def _scan_units(path: str) -> tuple[int, int]:
    """(splittable units, rows) of a parquet table: the number of row
    groups across part files — the finest granularity Spark can assign to
    independent scan tasks (parquet is row-group-splittable, never
    within a row group)."""
    import pyarrow.parquet as pq

    if os.path.isdir(path):
        files = [
            os.path.join(root, f)
            for root, _, fs in os.walk(path)
            for f in fs
            if f.endswith(".parquet")
        ]
    else:
        files = [path]
    stamp = (len(files), max((os.stat(f).st_mtime_ns for f in files), default=0))
    hit = _SCAN_UNITS_CACHE.get(path)
    if hit and hit[0] == stamp:
        return hit[1], hit[2]
    units = rows = 0
    for f in files:
        md = pq.ParquetFile(f).metadata
        units += md.num_row_groups
        rows += md.num_rows
    _SCAN_UNITS_CACHE[path] = (stamp, units, rows)
    return units, rows


def file_rows(df: DataFrame) -> int | None:
    """Rows in the parquet files ``df`` scans, summed from their footers
    without a Spark job; None when a file is not on the local filesystem.

    A filter or projection of ``df``, or a join that matches each of its
    rows on a key, keeps at most this many rows, so it bounds the size of
    such a reduction before anything runs.
    """
    uris = [urlparse(f) for f in df.inputFiles()]
    if any(u.scheme not in ("", "file") for u in uris):
        return None
    return sum(_scan_units(unquote(u.path))[1] for u in uris)


def _footer_file(path: str) -> str | None:
    """The file whose footer Spark's schema inference reads for ``path``:
    the file itself, or the first ``*.parquet`` file in sorted order of a
    local directory; None when there is no such file."""
    if os.path.isfile(path):
        return path
    try:
        names = sorted(
            n for n in os.listdir(path) if n.endswith(".parquet") and not n.startswith(("_", "."))
        )
    except OSError:
        return None
    return os.path.join(path, names[0]) if names else None


def _footer_schema(spark: SparkSession, file: str) -> StructType:
    """The schema Spark infers from ``file``'s footer, read on the driver.

    The same calls Spark's inference job makes on an executor: the footer
    through parquet-hadoop, converted by ``ParquetFileFormat.readSchemaFromFooter``
    under the session's conf, so INT96, unsigned, nanosecond and
    ``inferTimestampNTZ`` handling and Spark's own row-metadata key all
    agree with ``spark.read.parquet`` by construction.  Classes are named
    in full (``JavaClass``): a ``spark._jvm.org.apache…`` chain costs one
    py4j round trip per name, ~9 ms of the ~14 ms this took that way.
    """
    client = spark._jvm._gateway_client
    pq = "org.apache.parquet."
    fmt = "org.apache.spark.sql.execution.datasources.parquet."
    state = spark._jsparkSession.sessionState()
    conf = state.newHadoopConf()
    path = JavaClass("org.apache.hadoop.fs.Path", client)(file)
    meta = JavaClass(pq + "hadoop.ParquetFileReader", client).readFooter(
        conf, path, JavaClass(pq + "format.converter.ParquetMetadataConverter", client).NO_FILTER
    )
    schema = JavaClass(fmt + "ParquetFileFormat", client).readSchemaFromFooter(
        JavaClass(pq + "hadoop.Footer", client)(path, meta),
        JavaClass(fmt + "ParquetToSparkSchemaConverter", client)(state.conf()),
    )
    return StructType.fromJson(json.loads(schema.json()))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Table ``name`` of ``sf_dir`` (``<sf_dir>/<name>.parquet``, a file or
    a directory of part files), without a Spark job.

    The schema comes from one footer read on the driver (`_footer_schema`)
    and is passed to the reader, so Spark skips its inference job; like
    that job, it takes the first part file's schema for all of them.  A
    path with no ``*.parquet`` file, or a session that merges schemas
    across files, takes plain `spark.read.parquet`: Spark's own inference,
    and its own error.
    """
    path = f"{sf_dir}/{name}.parquet"
    file = _footer_file(path)
    if file is None or spark._jsparkSession.sessionState().conf().isParquetSchemaMergingEnabled():
        return spark.read.parquet(path)
    return spark.read.schema(_footer_schema(spark, file)).parquet(path)


def register_views(spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES) -> None:
    """Register each parquet table as a temp view named by table name."""
    for t in tables:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
