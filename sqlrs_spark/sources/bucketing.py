"""Bucketed-table write/read path — co-located fact-fact joins at scale.

The reference is single-node and has no partitioning concept (SURVEY
§4.2); at 100 TB the dominant cost of orders⋈lineitem-shaped joins is the
shuffle of both fact tables.  Bucketing both sides on the join key at
write time makes that join shuffle-free forever after: Spark's scan
reports HashPartitioning(key, n) and Catalyst elides both Exchanges.

Usage (ETL side, once):
    write_bucketed(orders_df,   "orders_b",   "o_orderkey", 64)
    write_bucketed(lineitem_df, "lineitem_b", "l_orderkey", 64)
Query side:
    spark.table("orders_b").join(spark.table("lineitem_b"),
                                 on=[...])   # no Exchange on either side

Bucket-count guidance: buckets × target-file-size ≈ table size; at 100 TB
with 256 MB files that is O(400k) buckets — pick a power of two so future
2× growth splits evenly, and keep the SAME count on both join sides
(mismatched counts force a shuffle of the smaller side).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    buckets: int,
    sort_by: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as a bucketed (and optionally sorted) managed table.

    Sorting within buckets additionally enables shuffle-AND-sort-free
    sort-merge joins (the scan satisfies both the distribution and the
    ordering requirement) — but Spark only TRUSTS the per-bucket sort
    order when each bucket is a single file (multiple writer tasks
    appending to one bucket would interleave sorted runs), so a sorted
    write first repartitions into exactly ``buckets`` partitions on the
    key.  Repartition's hash partitioning and the bucket-id function are
    the same pmod(murmur3) — task i holds exactly bucket i's rows and
    writes exactly one file.  At cluster scale this is the standard
    ingest recipe: one sorted 256 MB-ish file per bucket, and every
    subsequent orderkey join/window runs with zero Exchange and zero
    Sort.
    """
    from pyspark.sql import functions as F

    if sort_by:
        df = df.repartition(buckets, F.col(key))
    writer = df.write.format("parquet").mode(mode).bucketBy(buckets, key)
    if sort_by:
        cols = [sort_by] if isinstance(sort_by, str) else list(sort_by)
        writer = writer.sortBy(*cols)
    writer.saveAsTable(table)


def _layout_tag(sf_dir: str, source: str, key: str, buckets: int, sort_by) -> str:
    """Content digest naming one (dataset, key, buckets, sort) layout."""
    import hashlib

    return hashlib.md5(
        f"{os.path.abspath(sf_dir)}|{source}|{key}|{buckets}|{sort_by}".encode()
    ).hexdigest()[:10]


def _warehouse_path(spark: SparkSession) -> str:
    from urllib.parse import urlparse

    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    return urlparse(warehouse).path or warehouse


def ensure_bucketed(
    spark: SparkSession,
    sf_dir: str,
    source: str,
    key: str,
    buckets: int = 32,
    sort_by: str | None = None,
) -> str:
    """Materialize (once per dataset) a bucketed copy of one testdata
    table; returns the managed table name.

    Table names are versioned by a digest of (sf_dir, source, key,
    buckets) so different datasets / layouts never collide in the shared
    warehouse, and an existing table is REUSED: real deployments bucket
    once at ingest and amortize the layout over every subsequent join —
    exactly what the reuse models (and what the bucketed bench variant
    measures: the recurring query cost, not the one-time ETL).
    """
    from sqlrs_spark.sources.tables import load_table

    tag = _layout_tag(sf_dir, source, key, buckets, sort_by)
    table = f"{source}_b_{tag}"
    if not spark.catalog.tableExists(table):
        loc = os.path.join(_warehouse_path(spark), table)
        if os.path.exists(os.path.join(loc, "_SUCCESS")):
            # A PREVIOUS session already wrote this layout; the default
            # in-memory catalog forgot it with the JVM, but the bucket id
            # is encoded in each FILE NAME by the bucketed writer (the
            # `_00042` infix), so the layout survives the catalog — re-
            # adopt the directory as an external bucketed table instead
            # of re-running the ETL (213s for the 1000x facts).  The
            # content-hash table name guarantees the files match this
            # exact (dataset, key, buckets, sort) request; bump the tag
            # input string if the writer's layout semantics ever change.
            adopt_bucketed(spark, table, loc, key, buckets, sort_by=sort_by)
        else:
            import shutil

            # half-written leftovers (no _SUCCESS) cannot be re-adopted
            shutil.rmtree(loc, ignore_errors=True)
            write_bucketed(
                load_table(spark, sf_dir, source), table, key, buckets, sort_by=sort_by
            )
    return table


def adopt_bucketed(
    spark: SparkSession,
    table: str,
    location: str,
    key: str,
    buckets: int,
    sort_by: str | None = None,
) -> None:
    """Register an EXTERNAL bucketed table over files a previous session's
    bucketed writer produced.  Spark derives the bucket id from the file
    name at scan time, so a re-adopted table keeps the zero-Exchange join
    property; the SORTED BY clause is likewise honored because the writer
    produced exactly one file per bucket (write_bucketed docstring).  This
    is the catalog-recovery half of any real bucketed ingest: data outlives
    metastores."""
    schema = spark.read.parquet(location).schema
    cols = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields)
    sorted_clause = ""
    if sort_by:
        sb = [sort_by] if isinstance(sort_by, str) else list(sort_by)
        sorted_clause = f" SORTED BY ({', '.join(sb)})"
    spark.sql(
        f"CREATE TABLE {table} ({cols}) USING parquet "
        f"CLUSTERED BY ({key}){sorted_clause} INTO {buckets} BUCKETS "
        f"LOCATION '{location}'"
    )


def ensure_bucketed_facts(
    spark: SparkSession, sf_dir: str, buckets: int = 32
) -> tuple[str, str]:
    """Bucketed orders/lineitem co-bucketed AND sorted on the order key —
    the ETL half of the zero-shuffle, zero-sort fact-fact join (same
    count on both sides; mismatched counts force a shuffle of the smaller
    side).  Sorting at write time moves the sort-merge join's sort cost
    into the one-time ingest: the measured bucketed q28 at the 1000x
    replica spent most of its residual time sorting 150M orders + 77M
    surviving lineitem rows at query time."""
    return (
        ensure_bucketed(
            spark, sf_dir, "orders", "o_orderkey", buckets, sort_by="o_orderkey"
        ),
        ensure_bucketed(
            spark, sf_dir, "lineitem", "l_orderkey", buckets, sort_by="l_orderkey"
        ),
    )

