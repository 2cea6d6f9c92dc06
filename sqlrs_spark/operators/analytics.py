"""Deeper TPC-H-shape analytics over the reference's capability surface.

These widen the headline query set beyond operators/relational.py with the
classic multi-join / conditional-aggregate TPC-H shapes that stress the
engine the way a real warehouse load does (SURVEY.md §6: the bench target is
driver-defined TPC-H-ish data).  Everything here stays inside the
reference's operator inventory (equi joins, residual filters, hash aggs,
order/limit, scalar subqueries — SURVEY §2.3/§2.4) plus the documented
CASE/HAVING extensions; queries are adapted where the synthetic schema lacks
a TPC-H column (no partsupp, no l_shipmode/c_phone — TESTDATA.md).

Scale notes (100 TB design):
- Every plan is fact-scan → pushed filter → broadcast dim join →
  partial agg → single shuffle on the group key.  Nation/region/part/
  supplier stay broadcast at any SF (dimension tables grow ~linearly but
  stay orders of magnitude below the facts at TPC-H ratios).
- The only fact-fact joins (orders⋈lineitem) shuffle on orderkey; AQE
  handles skew/coalescing (session.py build_spark).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from sqlrs_spark.operators.common import (
    REV_CENTS_SQL,
    as_double,
    dec2,
    money_sum_aggs,
    money_sum_total,
    rev_cents,
)
from sqlrs_spark.registry import register
from sqlrs_spark.sources.tables import load_table

_ONE = "1.00"


def _rev():
    return dec2("l_extendedprice") * (F.lit(_ONE).cast("decimal(18,2)") - dec2("l_discount"))


_REV_SQL = "l_extendedprice::DECIMAL(18,2) * (1.00::DECIMAL(18,2) - l_discount::DECIMAL(18,2))"


@register(
    "q22_volume_shipping",
    oracle=f"""
    SELECT supp_nation, cust_nation, l_year,
           CAST(SUM(volume_c) AS BIGINT) / 10000.0 AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation,
             n2.n_name AS cust_nation,
             EXTRACT(year FROM l_shipdate) AS l_year,
             {REV_CENTS_SQL} AS volume_c
      FROM supplier
      JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_5' AND n2.n_name = 'NATION_13')
          OR (n1.n_name = 'NATION_13' AND n2.n_name = 'NATION_5'))
        AND l_shipdate BETWEEN TIMESTAMP '1995-01-01 00:00:00'
                           AND TIMESTAMP '1996-12-31 00:00:00'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
    tags=("core", "join"),
    bench=True,
)
def q22_volume_shipping(spark, sf_dir):
    """TPC-H Q7 shape: 6-way join with a disjunctive cross-nation residual (nation pair adapted to the synthetic NATION_* names).

    Reference ops: hash join chains (src/executor/join/hash_join.rs:16-323),
    residual non-equi filter in the join condition (hash_join.rs:47-127),
    hash agg (src/executor/aggregate/hash_agg.rs).  Spark plan: the
    2-nation filter is applied to supplier and customer FIRST (broadcast
    nation joins over the dimensions), so only ~2/25 of lineitem and of
    orders survive into the one fact-fact shuffle on orderkey — the
    classic Q7 rewrite.  The disjunctive pair filter then runs inside the
    post-join codegen stage; no extra pass over the facts.
    """
    # revenue collapses to ONE BIGINT before the fact shuffle
    # (common.cents): lineitem rides the exchange as 3 longs + the year
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            F.col("l_shipdate").between(
                F.lit("1995-01-01 00:00:00").cast("timestamp"),
                F.lit("1996-12-31 00:00:00").cast("timestamp"),
            )
        )
        .select(
            "l_orderkey",
            "l_suppkey",
            F.year("l_shipdate").alias("l_year"),
            rev_cents().alias("rev_c"),
        )
    )
    orders = load_table(spark, sf_dir, "orders")
    nation = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_5", "NATION_13")
    )
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    supp2 = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .select("s_suppkey", "supp_nation")
    )
    cust2 = (
        load_table(spark, sf_dir, "customer")
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .select("c_custkey", "cust_nation")
    )
    return (
        # supp2/cust2 derive from SF-scaling tables: no forced broadcast
        # hint (a hint overrides AQE's size check and would OOM executors
        # at the 100 TB target); AQE/stats still picks broadcast at small
        # SF because the 2-nation filter shrinks both sides.
        li.join(supp2, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(
            orders.join(cust2, F.col("c_custkey") == F.col("o_custkey")),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .filter(
            ((F.col("supp_nation") == "NATION_5") & (F.col("cust_nation") == "NATION_13"))
            | ((F.col("supp_nation") == "NATION_13") & (F.col("cust_nation") == "NATION_5"))
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(*money_sum_aggs("rev_c"))
        .select(
            "supp_nation",
            "cust_nation",
            "l_year",
            money_sum_total("rev_c").alias("revenue"),
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@register(
    "q23_market_share",
    oracle=f"""
    SELECT o_year,
           CAST(SUM(CASE WHEN nation = 'NATION_2' THEN volume
                         ELSE 0::DECIMAL(18,2) END) AS DOUBLE) AS brazil_volume,
           CAST(SUM(volume) AS DOUBLE) AS total_volume,
           COUNT(*) AS n_lines
    FROM (
      SELECT EXTRACT(year FROM o_orderdate) AS o_year,
             {_REV_SQL} AS volume,
             n2.n_name AS nation
      FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region    ON n1.n_regionkey = r_regionkey
      JOIN supplier  ON l_suppkey = s_suppkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'AMERICA'
        AND o_orderdate BETWEEN TIMESTAMP '1995-01-01 00:00:00'
                            AND TIMESTAMP '1996-12-31 00:00:00'
        AND p_size <= 25
    ) all_nations
    GROUP BY o_year
    ORDER BY o_year
    """,
    tags=("core", "join"),
)
def q23_market_share(spark, sf_dir):
    """TPC-H Q8 shape: 8-way star join + conditional (CASE) aggregate.

    The p_type national-market filter is adapted to p_size (synthetic part
    table, TESTDATA.md).  Reference ops: left-deep join chain
    (src/planner/select.rs:51-80) + hash agg; CASE is an extension (SURVEY
    §2.8 "not in reference").  Spark plan: nation/region carry explicit
    broadcast hints (fixed 25/5 rows); part/customer/supplier are left to
    AQE's stats-based choice — broadcast at small SF, shuffle join at the
    100 TB target where they no longer fit.  One shuffle for
    lineitem⋈orders, one for the 1-key agg.  The conditional sum is a
    map-side partial aggregate — no second pass.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_size") <= 25)
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").between(
            F.lit("1995-01-01 00:00:00").cast("timestamp"),
            F.lit("1996-12-31 00:00:00").cast("timestamp"),
        )
    )
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    n1 = nation.select(F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey"))
    n2 = nation.select(F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation"))
    zero = F.lit("0").cast("decimal(18,2)")
    return (
        # part/customer/supplier scale with SF — hints stay off so AQE's
        # size check decides (it broadcasts them at small SF; at 100 TB it
        # falls back to shuffle joins instead of OOMing an executor).
        # nation/region are fixed 25/5 rows: hints are safe at any scale.
        li.join(part, F.col("p_partkey") == F.col("l_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            as_double(
                F.sum(F.when(F.col("nation") == "NATION_2", _rev()).otherwise(zero))
            ).alias("brazil_volume"),
            as_double(F.sum(_rev())).alias("total_volume"),
            F.count("*").alias("n_lines"),
        )
        .orderBy("o_year")
    )


@register(
    "q24_promo_effect",
    oracle=f"""
    SELECT CAST(SUM(CASE WHEN p_brand = 'Brand#1'
                         THEN {_REV_SQL} ELSE 0::DECIMAL(18,2) END) AS DOUBLE)
             AS promo_revenue,
           CAST(SUM({_REV_SQL}) AS DOUBLE) AS total_revenue,
           COUNT(*) AS n
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1995-09-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1995-10-01 00:00:00'
    """,
    tags=("core", "join"),
)
def q24_promo_effect(spark, sf_dir):
    """TPC-H Q14 shape: fact⋈dim join + conditional global aggregate
    (promo share of one month's revenue; p_type PROMO% adapted to p_brand).

    Reference ops: hash join + SimpleAgg (no group key —
    src/executor/aggregate/simple_agg.rs).  Spark plan: part is broadcast,
    the date range pushes into the parquet scan, and the whole query is one
    stage + a 1-row final agg — no wide shuffle at any SF.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-09-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1995-10-01 00:00:00").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part")
    zero = F.lit("0").cast("decimal(18,2)")
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            as_double(
                F.sum(F.when(F.col("p_brand") == "Brand#1", _rev()).otherwise(zero))
            ).alias("promo_revenue"),
            as_double(F.sum(_rev())).alias("total_revenue"),
            F.count("*").alias("n"),
        )
    )


@register(
    "q25_large_orders",
    oracle="""
    SELECT c_name, o_orderkey, CAST(o_orderdate AS DATE) AS orderdate,
           o_totalprice, CAST(qty.sum_qty AS DOUBLE) AS sum_qty
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN (
      SELECT l_orderkey, SUM(l_quantity) AS sum_qty
      FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 250.0
    ) qty ON o_orderkey = qty.l_orderkey
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
    tags=("core", "join"),
    bench=True,
)
def q25_large_orders(spark, sf_dir, orders_src=None, li_src=None):
    """TPC-H Q18 shape: agg-derived table joined back to its parents
    (large-volume orders), then top-k.

    Reference ops: derived table (src/binder/table/subquery.rs:10-59),
    hash agg, hash join, Order+Limit (fused by Spark to
    TakeOrderedAndProject).  Spark plan: the lineitem agg shuffles once on
    orderkey; the HAVING filter shrinks it to a tiny set, which then joins
    orders on the *same* key — AQE converts that join to broadcast at
    runtime, so the orders side never shuffles.

    The optional orders/lineitem sources are for the bucketed layout: the
    orderkey agg — the whole cost of this query, a full-fact-width
    shuffle — runs zero-Exchange when lineitem arrives hash-partitioned by
    the bucketed scan, and the tiny HAVING survivor set broadcasts into
    orders exactly as before.
    """
    li = li_src if li_src is not None else load_table(spark, sf_dir, "lineitem")
    orders = orders_src if orders_src is not None else load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    # quantities are integral-valued doubles (TPC-H 1..50); summing them
    # as BIGINT keeps the 150M-group aggregate in plain long adds and is
    # exact — the final cast back to double matches the oracle's double
    # sum bit-for-bit because every intermediate is integer-representable
    qty = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty_c"))
        .filter(F.col("sum_qty_c") > 250)
        .withColumnRenamed("sum_qty_c", "sum_qty")
    )
    return (
        orders.join(qty, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_name",
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("orderdate"),
            "o_totalprice",
            as_double(F.col("sum_qty")).alias("sum_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
    )


@register(
    "q26_inactive_customers",
    oracle="""
    SELECT n_name,
           COUNT(*) AS n_cust,
           CAST(SUM(c_acctbal::DECIMAL(18,2)) AS DOUBLE) AS total_bal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY n_name
    ORDER BY n_name
    """,
    tags=("core", "subquery"),
)
def q26_inactive_customers(spark, sf_dir):
    """TPC-H Q22 shape: uncorrelated scalar subquery + NOT EXISTS anti join
    (rich customers who never ordered; phone-prefix filter adapted to the
    nation dimension — no c_phone in the synthetic schema).

    Reference ops: uncorrelated scalar subquery rewritten to a cross join
    (src/binder/table/subquery.rs:99-167); anti join is the left_anti
    extension noted in SURVEY §2.3.  Spark plan: the 1-row AVG aggregates
    then broadcasts into the customer scan filter; the anti join shuffles
    customer against a 1-column projection of orders (or broadcasts the
    distinct custkeys when small); nation broadcasts.
    """
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    nation = load_table(spark, sf_dir, "nation")
    avg_bal = cust.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    return (
        cust.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders, F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_cust"),
            as_double(F.sum(dec2("c_acctbal"))).alias("total_bal"),
        )
        .orderBy("n_name")
    )
