"""Scale-path tests: bucketed co-located joins and skew salting.

These exercise the two plan-level tools the 100 TB design leans on beyond
AQE (README §Scale design): bucketing both fact tables on the join key so
orders⋈lineitem never shuffles, and deterministic salting for hot keys.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from sqlrs_spark.operators.skew import salted_join
from sqlrs_spark.plans import exchange_keys, node_names, plan_nodes
from sqlrs_spark.sources.bucketing import write_bucketed
from sqlrs_spark.sources.tables import (
    TABLES,
    _scan_units,
    file_rows,
    load_table,
)


def _exchanges(names) -> list[str]:
    """Exchange nodes of every kind (shuffle, broadcast, reused)."""
    return [n for n in names if "Exchange" in n]


@pytest.fixture(scope="module")
def bucketed_tables(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    for t in ("orders_b", "lineitem_b"):
        spark.sql(f"drop table if exists {t}")
    write_bucketed(orders, "orders_b", "o_orderkey", 8, sort_by="o_orderkey")
    write_bucketed(lineitem, "lineitem_b", "l_orderkey", 8, sort_by="l_orderkey")
    yield "orders_b", "lineitem_b"
    for t in ("orders_b", "lineitem_b"):
        spark.sql(f"drop table if exists {t}")


def test_bucketed_fact_join_no_shuffle(spark, bucketed_tables):
    left, right = bucketed_tables
    # disable broadcast so the test proves bucketing (not broadcast) elides
    # the exchanges — at real scale neither side is broadcastable anyway
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table(left).join(
            spark.table(right), F.col("o_orderkey") == F.col("l_orderkey")
        )
        assert not _exchanges(node_names(joined))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")


def test_sorted_bucketed_join_no_sort(spark, bucketed_tables):
    """Sorted one-file-per-bucket writes must elide the SMJ's runtime
    sorts too — the layout's whole point is paying the sort once at
    ingest (at the 1000x replica the unsorted-bucket q28 still spent most
    of its time sorting 150M orders + 77M lineitem rows per query)."""
    left, right = bucketed_tables
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        names = node_names(
            spark.table(left).join(
                spark.table(right), F.col("o_orderkey") == F.col("l_orderkey")
            )
        )
        assert not _exchanges(names), names
        assert "Sort" not in names, names
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")


def test_bucketed_join_matches_plain_join(spark, sf_dir, bucketed_tables):
    left, right = bucketed_tables
    plain = (
        load_table(spark, sf_dir, "orders")
        .join(load_table(spark, sf_dir, "lineitem"), F.col("o_orderkey") == F.col("l_orderkey"))
        .count()
    )
    bucketed = (
        spark.table(left)
        .join(spark.table(right), F.col("o_orderkey") == F.col("l_orderkey"))
        .count()
    )
    assert plain == bucketed > 0


def test_salted_join_matches_plain_inner(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    plain = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey")).groupBy(
        "o_orderstatus"
    ).agg(F.count("*").alias("n"), F.sum("l_quantity").alias("q"))
    salted = salted_join(li, orders, "l_orderkey", "o_orderkey", salt=8).groupBy(
        "o_orderstatus"
    ).agg(F.count("*").alias("n"), F.sum("l_quantity").alias("q"))
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_join_matches_plain_left(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber")
    # restrict the dim so some fact rows go unmatched (exercise null-extension)
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 2 == 0)
        .select("o_orderkey", "o_orderstatus")
    )
    plain = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"), "left").count()
    salted = salted_join(li, orders, "l_orderkey", "o_orderkey", salt=8, how="left").count()
    assert plain == salted > 0


def test_salted_join_rejects_dim_preserving(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    with pytest.raises(ValueError):
        salted_join(li, orders, "l_orderkey", "o_orderkey", how="right")


def test_salted_join_spreads_shuffle_key(spark, sf_dir):
    # plan must shuffle on (key, salt), not key alone
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        keys = exchange_keys(
            plan_nodes(salted_join(li, orders, "l_orderkey", "o_orderkey", salt=8))
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    assert any("__salt" in k for k in keys), keys


def test_bucketed_agg_join_pipeline_no_shuffle(spark, bucketed_tables):
    # q25_large_orders' shape on bucketed tables: the per-order aggregate
    # runs on the bucket key (no exchange), and the join-back to orders is
    # co-located — the whole pipeline is shuffle-free.  This is the scale
    # fix for q25's linearly-growing intermediate (README scale notes).
    left, right = bucketed_tables
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        qty = (
            spark.table(right)
            .groupBy("l_orderkey")
            .agg(F.sum("l_quantity").alias("sum_qty"))
            .filter(F.col("sum_qty") > 250.0)
        )
        joined = spark.table(left).join(
            qty, F.col("o_orderkey") == F.col("l_orderkey")
        )
        names = node_names(joined)
        assert not _exchanges(names), names
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")


def test_q25_plan_bucketed_matches_plain(spark, sf_dir, bucketed_tables):
    """The registered q03/q05/q25/q28 entries through explicit bucketed
    orders/lineitem sources must return the identical rows as their
    plain-parquet form — these are the pairs the scaled bench times
    (tools/bench10x.bench_bucketed)."""
    from sqlrs_spark.operators.analytics import q25_large_orders
    from sqlrs_spark.operators.analytics_deep import q28_nation_profit
    from sqlrs_spark.operators.relational import q03_shipping_priority, q05_local_volume

    left, right = bucketed_tables
    for entry in (q03_shipping_priority, q05_local_volume, q25_large_orders, q28_nation_profit):
        plain = [tuple(r) for r in entry(spark, sf_dir).collect()]
        bucketed = [
            tuple(r)
            for r in entry(spark, sf_dir, spark.table(left), spark.table(right)).collect()
        ]
        assert plain == bucketed, entry.__name__
        assert len(plain) > 0, entry.__name__


def test_aqe_splits_skewed_join_partition(spark, sf_dir):
    """AQE skew-join must actually activate on a hot key.

    Production thresholds (256 MiB) never trip on local test data, so this
    lowers them to force the mechanism and asserts the executed plan shows
    a skew-split sort-merge or shuffled-hash join — proving the config wired
    in session.build_spark does what the 100 TB design relies on: a hot
    join key is split across tasks at runtime instead of serializing one
    straggler partition.
    """
    conf = spark.conf
    saved = {
        k: conf.get(k)
        for k in (
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
        )
    }
    try:
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        # hot key: 80% of the fact rows share join key 0
        fact = (
            spark.range(0, 200_000)
            .withColumn("k", F.when(F.col("id") % 5 < 4, F.lit(0)).otherwise(F.col("id")))
            .withColumn("payload", F.concat(F.lit("x" * 32), F.col("id")))
        )
        dim = spark.range(0, 200_000).select(
            F.col("id").alias("k2"), (F.col("id") * 2).alias("v")
        )
        joined = fact.join(dim, F.col("k") == F.col("k2")).groupBy().count()
        joined.collect()  # materialize so AQE finalizes the plan
        joins = [
            n
            for n in plan_nodes(joined)
            if n.nodeName().startswith(("SortMergeJoin", "ShuffledHashJoin"))
        ]
        assert any(j.isSkewJoin() for j in joins), [j.nodeName() for j in joins]
    finally:
        for k, v in saved.items():
            if v is not None:
                conf.set(k, v)


def test_cache_table_serves_from_memory(spark, sf_dir):
    """CACHE TABLE surface: a cached view plans as InMemoryTableScan and
    returns identical results — the reuse story for iterative pipelines
    (p09/p18 style loops re-read their inputs every pass)."""
    from sqlrs_spark.sources.tables import register_views

    register_views(spark, sf_dir, ("nation",))
    spark.sql("CACHE TABLE nation")
    try:
        assert spark.catalog.isCached("nation")
        names = node_names(
            spark.sql("SELECT n_regionkey, COUNT(*) AS n FROM nation GROUP BY n_regionkey"),
            logical=True,
        )
        assert "InMemoryRelation" in names, names
        rows = spark.sql(
            "SELECT n_regionkey, COUNT(*) AS n FROM nation GROUP BY n_regionkey ORDER BY n_regionkey"
        ).collect()
        assert sum(r.n for r in rows) == 25
    finally:
        spark.sql("UNCACHE TABLE nation")


def test_adopt_bucketed_keeps_layout(spark, sf_dir, bucketed_tables):
    """Re-adopting a bucketed directory written by a PREVIOUS session
    (sources/bucketing.adopt_bucketed — the ensure_bucketed fast path when
    the in-memory catalog died with the JVM) must preserve both the data
    and the zero-Exchange/zero-Sort join property, because the bucket id
    lives in the file names, not the catalog."""
    import os
    import shutil
    from urllib.parse import urlparse

    from sqlrs_spark.sources.bucketing import adopt_bucketed

    left, right = bucketed_tables
    wh = spark.conf.get("spark.sql.warehouse.dir")
    wh_path = urlparse(wh).path or wh
    spark.sql("drop table if exists orders_adopted")
    adopted_loc = os.path.join(wh_path, "orders_adopted_files")
    shutil.rmtree(adopted_loc, ignore_errors=True)
    # simulate "files outlived the catalog": a copy of the bucketed dir
    # that THIS session's catalog has never seen under any table name
    shutil.copytree(os.path.join(wh_path, left), adopted_loc)
    try:
        adopt_bucketed(
            spark, "orders_adopted", adopted_loc, "o_orderkey", 8,
            sort_by="o_orderkey",
        )
        assert (
            spark.table("orders_adopted").count() == spark.table(left).count() > 0
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            names = node_names(
                spark.table("orders_adopted").join(
                    spark.table(right),
                    F.col("o_orderkey") == F.col("l_orderkey"),
                )
            )
            assert not _exchanges(names), names
            assert "Sort" not in names, names
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    finally:
        spark.sql("drop table if exists orders_adopted")
        shutil.rmtree(adopted_loc, ignore_errors=True)


def test_registered_plans_ignore_warehouse_layouts(spark, sf_dir):
    """A registered entry has one plan: bucketed layouts that an earlier
    run left in the warehouse must not change what q03/q05/q25/q28/q34
    scan.  Only an explicitly passed source reads a bucketed table."""
    import shutil
    from urllib.parse import urlparse

    from sqlrs_spark.registry import all_specs
    from sqlrs_spark.sources.bucketing import ensure_bucketed, ensure_bucketed_facts

    names = [
        "q03_shipping_priority", "q05_local_volume", "q25_large_orders",
        "q28_nation_profit", "q34_min_cost_supplier",
    ]
    specs = all_specs()
    before = {n: node_names(specs[n].fn(spark, sf_dir)) for n in names}
    tables = [
        *ensure_bucketed_facts(spark, sf_dir),
        ensure_bucketed(spark, sf_dir, "lineitem", "l_partkey", buckets=32),
    ]
    try:
        for n in names:
            nodes = plan_nodes(specs[n].fn(spark, sf_dir))
            tabled = [
                x.nodeName()
                for x in nodes
                if x.getClass().getSimpleName() == "FileSourceScanExec"
                and x.tableIdentifier().isDefined()
            ]
            assert not tabled, (n, tabled)
            assert node_names(nodes) == before[n], n
    finally:
        wh = spark.conf.get("spark.sql.warehouse.dir")
        wh_path = urlparse(wh).path or wh
        for tbl in tables:
            spark.sql(f"drop table if exists {tbl}")
            shutil.rmtree(os.path.join(wh_path, tbl), ignore_errors=True)


def test_adopted_facts_route_query_plans(spark, sf_dir):
    """Path-equivalence gate for the co-bucketed fact layout: with the
    layout built by ensure_bucketed_facts, the registered q03/q28 entry
    points still return the plain-path rows, and routing them through the
    layout by passing its tables as explicit sources (the bench path)
    returns the identical rows."""
    import shutil
    from urllib.parse import urlparse

    from sqlrs_spark.operators.analytics_deep import q28_nation_profit
    from sqlrs_spark.operators.relational import q03_shipping_priority
    from sqlrs_spark.sources.bucketing import ensure_bucketed_facts

    plain_q28 = [tuple(r) for r in q28_nation_profit(spark, sf_dir).collect()]
    plain_q03 = [tuple(r) for r in q03_shipping_priority(spark, sf_dir).collect()]
    assert plain_q28 and plain_q03
    o_t, l_t = ensure_bucketed_facts(spark, sf_dir)
    try:
        assert [tuple(r) for r in q28_nation_profit(spark, sf_dir).collect()] == plain_q28
        assert [tuple(r) for r in q03_shipping_priority(spark, sf_dir).collect()] == plain_q03
        bucketed_q28 = [
            tuple(r)
            for r in q28_nation_profit(
                spark, sf_dir, spark.table(o_t), spark.table(l_t)
            ).collect()
        ]
        bucketed_q03 = [
            tuple(r)
            for r in q03_shipping_priority(
                spark, sf_dir, spark.table(o_t), spark.table(l_t)
            ).collect()
        ]
        assert bucketed_q28 == plain_q28
        assert bucketed_q03 == plain_q03
    finally:
        wh = spark.conf.get("spark.sql.warehouse.dir")
        wh_path = urlparse(wh).path or wh
        for tbl in (o_t, l_t):
            spark.sql(f"drop table if exists {tbl}")
            shutil.rmtree(os.path.join(wh_path, tbl), ignore_errors=True)


def test_measured_broadcast_decides_by_measured_rows(spark, sf_dir, monkeypatch):
    """common.measured_broadcast hints a reduction by its MEASURED row
    count, independent of the static size threshold: with that threshold
    off, a reduction under the ceiling still plans a broadcast hash join
    against the fact, and with the ceiling at 0 the same join shuffles.
    A join hint only survives Catalyst under a join, so both cases are
    asserted on the plan of the join callers run."""
    from sqlrs_spark.operators import common

    fact = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    reduction = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 100000.0)
        .select("o_orderkey")
    )

    def joined(side):
        return node_names(fact.join(side, fact["l_orderkey"] == side["o_orderkey"]))

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        assert "BroadcastHashJoin" in joined(common.measured_broadcast(reduction))
        monkeypatch.setattr(common, "_BROADCAST_MAX_ROWS", 0)
        names = joined(common.measured_broadcast(reduction))
        assert "BroadcastHashJoin" not in names
        assert "SortMergeJoin" in names or "ShuffledHashJoin" in names
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_file_rows_bound_the_broadcast_decision(spark, sf_dir, monkeypatch):
    """sources.tables.file_rows reads a table's row count from its parquet
    footers, and a filter of the table keeps that bound.
    common.measured_broadcast takes it as an upper bound: while it fits
    the ceiling the frame is hinted with no Spark job at all, and past
    it the frame's own rows decide."""
    from sqlrs_spark.operators import common

    orders = load_table(spark, sf_dir, "orders")
    reduction = orders.filter(F.col("o_totalprice") > 100000.0).select("o_orderkey")
    n_orders, n_red = orders.count(), reduction.count()
    assert 0 < n_red < n_orders
    assert file_rows(orders) == file_rows(reduction) == n_orders

    sc = spark.sparkContext
    group = "measured-broadcast-bound"

    def decide():
        before = set(sc.statusTracker().getJobIdsForGroup(group))
        sc.setJobGroup(group, "bound check")
        try:
            side = common.measured_broadcast(reduction, file_rows(reduction))
        finally:
            sc.setJobGroup("", "")
        jobs = len(set(sc.statusTracker().getJobIdsForGroup(group)) - before)
        fact = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
        names = node_names(fact.join(side, fact["l_orderkey"] == side["o_orderkey"]))
        return "BroadcastHashJoin" in names, jobs

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        monkeypatch.setattr(common, "_BROADCAST_MAX_ROWS", n_orders)
        assert decide() == (True, 0)  # the bound fits: nothing runs
        monkeypatch.setattr(common, "_BROADCAST_MAX_ROWS", n_red)
        broadcast, jobs = decide()  # bound over the ceiling, rows fit
        assert broadcast and jobs > 0
        monkeypatch.setattr(common, "_BROADCAST_MAX_ROWS", n_red - 1)
        assert not decide()[0]  # rows over the ceiling too
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_loading_tables_sets_no_session_conf(spark, sf_dir):
    """Reading a table changes no session conf.  ``events`` ships as
    timestamp[us] at every scale and reads straight through; a
    TIMESTAMP(NANOS) file fails at read instead of flipping a legacy
    parquet flag on the shared session.  A fresh session starts from
    clean runtime conf, so a load that sets anything shows up here."""
    session = spark.newSession()
    before = dict(session.conf.getAll)
    dtypes = {name: dict(load_table(session, sf_dir, name).dtypes) for name in TABLES}
    assert dtypes["events"]["ts"].startswith("timestamp")
    assert dict(session.conf.getAll) == before


def test_q34_partkey_layout_routing(spark, sf_dir):
    """q34 through an explicitly passed partkey-bucketed lineitem layout
    must return identical rows, and its argmin aggregate
    must inherit the scan's partitioning (no Exchange between the
    bucketed scan and the partial/final HashAggregate pair collapsing to
    one)."""
    import shutil
    from urllib.parse import urlparse

    from sqlrs_spark.operators.analytics_deep import q34_min_cost_supplier
    from sqlrs_spark.sources.bucketing import ensure_bucketed

    plain = [tuple(r) for r in q34_min_cost_supplier(spark, sf_dir).collect()]
    li_t = ensure_bucketed(spark, sf_dir, "lineitem", "l_partkey", buckets=32)
    try:
        li_b = spark.table(li_t)
        bucketed = [tuple(r) for r in q34_min_cost_supplier(spark, sf_dir, li_b).collect()]
        assert bucketed == plain
        assert len(plain) > 0
        # plan shape: the aggregate runs on the bucketed scan's own hash
        # partitioning — exactly ONE single-stage HashAggregate pair and
        # no Exchange between scan and aggregate (the final orderBy's
        # range exchange remains, and is bounded by |parts| rows)
        bucketed_plan = q34_min_cost_supplier(spark, sf_dir, li_b)
        keys = exchange_keys(plan_nodes(bucketed_plan))
        assert not any(k[:1] == ["l_partkey"] for k in keys), keys
        assert "HashAggregate" in node_names(bucketed_plan)
    finally:
        wh = spark.conf.get("spark.sql.warehouse.dir")
        wh_path = urlparse(wh).path or wh
        spark.sql(f"drop table if exists {li_t}")
        shutil.rmtree(os.path.join(wh_path, li_t), ignore_errors=True)


def test_scan_units_sees_nested_rewrites_and_gates_repartition(spark, tmp_path):
    """The layout cache must notice a part file rewritten in place inside a
    nested partition directory (neither the table directory's mtime nor
    the file count changes), and p33's input must be repartitioned
    exactly when the measured layout is unsplittable: fewer row groups than
    session parallelism with at least 32 rows per core."""
    from sqlrs_spark.operators.text import _parallelized

    par = spark.sparkContext.defaultParallelism
    rows = 32 * par
    tbl = pa.table({"doc_id": pa.array(range(rows), pa.int64())})
    single = tmp_path / "single"
    single.mkdir()
    pq.write_table(tbl, single / "probe.parquet")
    table_dir = tmp_path / "split" / "probe.parquet"
    part = table_dir / "part=0" / "f.parquet"
    part.parent.mkdir(parents=True)
    pq.write_table(tbl, part)
    assert _scan_units(str(table_dir)) == (1, rows)
    pq.write_table(tbl, part, row_group_size=rows // par)
    # pin a later mtime so the check does not depend on the clock's tick
    st = part.stat()
    os.utime(part, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    assert _scan_units(str(table_dir)) == (par, rows)

    def repartitioned(sf_dir):
        df = _parallelized(spark, str(sf_dir), "probe")
        return any("Repartition" in n for n in node_names(df, logical=True))

    assert repartitioned(single)
    assert not repartitioned(tmp_path / "split")
