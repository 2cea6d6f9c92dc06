"""Second tranche of TPC-H-shape analytics: the remaining classic query
shapes (Q2/Q4/Q9/Q11/Q13/Q15/Q16/Q17 adapted) not yet covered by
operators/analytics.py.

Everything stays inside the reference's capability surface (SURVEY.md §2.3
joins incl. semi/anti extensions, §2.4 aggregates, §2.6 order/limit,
scalar subqueries §2.3) — adapted where the synthetic star schema lacks a
TPC-H column (no partsupp / l_commitdate / c_phone, TESTDATA.md).

Scale notes (100 TB design), per query in the docstrings; the common
discipline:
- dims (part/supplier/nation) broadcast; the only wide shuffles are on
  fact keys (orderkey/partkey/suppkey/custkey) that a real cluster would
  bucket on.
- threshold comparisons against aggregates are kept in DECIMAL so the
  row-membership decision is exact and partitioning-independent — a
  double sum that lands on the filter boundary would make the result
  nondeterministic across partitionings (and diverge from the oracle).
- argmin/argmax use min(struct(...)) — one shuffle, no window sort, no
  join-back (same pattern as p10_dedup_canonical).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from sqlrs_spark.operators.common import (
    as_double,
    cents,
    dec2,
    measured_broadcast,
    money_sum_aggs,
    money_sum_total,
    packed_minmax,
    rev_cents,
    unpack_id,
    unpack_value,
)
from sqlrs_spark.registry import register
from sqlrs_spark.sources.tables import file_rows, load_table

_REV_SQL = "l_extendedprice::DECIMAL(18,2) * (1.00::DECIMAL(18,2) - l_discount::DECIMAL(18,2))"


def _rev():
    return dec2("l_extendedprice") * (
        F.lit("1.00").cast("decimal(18,2)") - dec2("l_discount")
    )


@register(
    "q27_order_priority",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1995-07-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    tags=("core", "join", "subquery"),
)
def q27_order_priority(spark, sf_dir):
    """TPC-H Q4 shape: correlated EXISTS → semi join with a cross-table
    residual (commit/receipt lateness adapted to l_shipdate > o_orderdate).

    Reference ops: hash join with residual filter
    (src/executor/join/hash_join.rs:47-127); EXISTS itself is the
    left_semi extension noted in SURVEY §2.3.  Spark plan: the date range
    pushes into the orders parquet scan; the semi join shuffles both
    sides on orderkey once and keeps only orders columns (no row
    multiplication, unlike a join+distinct formulation); 1-key agg after.
    """
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1995-07-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        orders.join(
            li,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


@register(
    "q28_nation_profit",
    oracle=f"""
    SELECT nation, o_year, CAST(SUM(amount_c) AS BIGINT) / 10000.0 AS sum_profit
    FROM (
      SELECT n_name AS nation,
             EXTRACT(year FROM o_orderdate) AS o_year,
             (CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
                * (100 - CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT)))
               - CAST(FLOOR(p_retailprice * 100 + 0.5) AS BIGINT)
                 * CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT) AS amount_c
      FROM lineitem
      JOIN part     ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN nation   ON s_nationkey = n_nationkey
      WHERE p_name LIKE '%red%'
    ) profit
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
    """,
    tags=("core", "join"),
    bench=True,
)
def q28_nation_profit(spark, sf_dir, orders_src=None, li_src=None):
    """TPC-H Q9 shape: product-line profit by nation and year (supply cost
    adapted to p_retailprice × quantity — no partsupp table).

    Reference ops: left-deep multi-join (src/planner/select.rs:51-80),
    hash agg; LIKE is a documented extension (SURVEY §2.8 "not in
    reference").  Spark plan: the p_name filter shrinks part BEFORE the
    join; the reduced frame and supplier go through
    common.measured_broadcast, bounded by the footer row counts of part
    and supplier (broadcast while the MEASURED rows fit its ceiling,
    exact shuffle plan beyond — a pinned hint would OOM at the 100 TB
    target); nation keeps its hint (fixed 25 rows) and joins AFTER the
    aggregate so its name string never rides a wide exchange.  The
    single wide shuffle is lineitem⋈orders on orderkey, then a 2-key
    agg.  Profit is exact integer 1e-4-dollar units
    (common.cents): the per-row amount collapses to ONE BIGINT before the
    wide shuffle, and the partial aggregates are plain long adds —
    partial-agg order cannot perturb the result, same as the decimal
    path, at a fraction of its cost.

    The optional orders/lineitem sources let the scaled bench run the
    IDENTICAL query through the bucketed layout: when part/supplier/nation
    broadcast (measured, or hinted for the fixed-size nation), lineitem's
    orderkey bucket partitioning SURVIVES those joins, so the final
    fact-fact join runs with zero Exchange on both sides; even when a dim
    join shuffles, the bucketed orders scan still elides its own Exchange.
    """
    li = (li_src if li_src is not None else load_table(spark, sf_dir, "lineitem")).select(
        "l_partkey", "l_suppkey", "l_orderkey",
        "l_extendedprice", "l_discount", "l_quantity",
    )
    # measured broadcast, not AQE's call: the %red% filter keeps ~13% of
    # part — past part's broadcast byte threshold at the 1000x replica,
    # where AQE planned a ShuffledHashJoin that exchanged the ENTIRE
    # bloom-survivor lineitem on l_partkey (a second wide fact shuffle)
    # and, on the bucketed path, destroyed the orderkey bucket
    # partitioning the merge join needs.  The measured frame (2.6M rows
    # at ~sf100, ceiling 30M) broadcasts, so lineitem's only exchange is
    # the orders join — and none at all through the bucketed layout.
    part_t = load_table(spark, sf_dir, "part")
    part = measured_broadcast(
        part_t.filter(F.col("p_name").like("%red%")).select(
            "p_partkey", cents("p_retailprice").alias("rp_c")
        ),
        file_rows(part_t),
    )
    # supplier measured-broadcast for the same reason as part: ~1% of the
    # fact at any SF, but past AQE's static byte threshold at the big
    # replicas, where the planner exchanged the part-surviving lineitem
    # rows on l_suppkey — a second wide fact shuffle.  Measured 1M rows at
    # ~sf100 (ceiling 30M); beyond the ceiling the suppkey shuffle
    # returns, and on the bucketed path a shuffle here would also destroy
    # the orderkey bucket partitioning the merge join needs.
    supp_t = load_table(spark, sf_dir, "supplier")
    supp = measured_broadcast(
        supp_t.select("s_suppkey", "s_nationkey"), file_rows(supp_t)
    )
    orders = (
        orders_src if orders_src is not None else load_table(spark, sf_dir, "orders")
    ).select("o_orderkey", "o_orderdate")
    if orders_src is not None:
        # bucketed path: both fact sides arrive hash-partitioned AND
        # sorted on the order key, so a merge join is exchange-free and
        # sort-free — strictly better than the session's shuffled-hash
        # preference, whose per-bucket build (150M orders / 64 buckets)
        # cannot fit 32 concurrent task memory shares at the 1000x replica
        orders = orders.hint("merge")
    nation = load_table(spark, sf_dir, "nation")
    # the integer-cents money arithmetic (common.cents) runs AFTER the
    # ~13%-selective part probe — projections evaluate where declared, so
    # computing rev_c/qty_c in the scan projection would FLOOR-multiply
    # all 100% of the fact; here only part survivors pay, and the probe +
    # project still fuse into the scan's codegen stage
    amount_c = rev_cents() - F.col("rp_c") * cents("l_quantity")
    return (
        li.join(part, F.col("p_partkey") == F.col("l_partkey"))
        .join(supp, F.col("s_suppkey") == F.col("l_suppkey"))
        .select(
            "l_orderkey", "s_nationkey", amount_c.alias("amount_c")
        )
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            "s_nationkey",
            F.year("o_orderdate").alias("o_year"),
            "amount_c",
        )
        # group on the nation KEY and join the 25-row name table after the
        # aggregate collapses to ~175 rows — the n_name string never rides
        # the wide orderkey exchange
        .groupBy("s_nationkey", "o_year")
        .agg(*money_sum_aggs("amount_c"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("n_name").alias("nation"),
            "o_year",
            money_sum_total("amount_c").alias("sum_profit"),
        )
        .orderBy(F.col("nation"), F.col("o_year").desc())
    )


@register(
    "q29_important_parts",
    oracle=f"""
    WITH pv AS (
      SELECT l_partkey, SUM({_REV_SQL}) AS value_dec
      FROM lineitem GROUP BY l_partkey
    )
    SELECT l_partkey, CAST(value_dec AS DOUBLE) AS value
    FROM pv
    WHERE value_dec * 1000 > (SELECT SUM({_REV_SQL}) FROM lineitem)
    ORDER BY value DESC, l_partkey
    """,
    tags=("core", "subquery"),
)
def q29_important_parts(spark, sf_dir):
    """TPC-H Q11 shape: per-part value exceeding a fraction of the global
    total (uncorrelated scalar subquery threshold; partsupp value adapted
    to lineitem revenue).

    Reference ops: hash agg + uncorrelated scalar subquery → cross join
    (src/binder/table/subquery.rs:99-167).  Spark plan: one shuffle on
    partkey for the per-part agg; the global total is a 1-row aggregate
    broadcast into the filter.  The threshold compare is DECIMAL×1000 vs
    DECIMAL — exact, so membership at the boundary is
    partitioning-independent (a double compare here is flaky at any SF).
    The fraction is 1/1000 of total so the result set shrinks as data
    grows — output stays bounded at cluster scale.
    """
    li = load_table(spark, sf_dir, "lineitem")
    pv = li.groupBy("l_partkey").agg(F.sum(_rev()).alias("value_dec"))
    total = li.agg(F.sum(_rev()).alias("total_dec"))
    return (
        pv.join(F.broadcast(total))
        .filter(F.col("value_dec") * 1000 > F.col("total_dec"))
        .select("l_partkey", as_double(F.col("value_dec")).alias("value"))
        .orderBy(F.col("value").desc(), F.col("l_partkey"))
    )


@register(
    "q30_customer_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer
      LEFT JOIN orders ON c_custkey = o_custkey
                      AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    ) c_orders
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
    tags=("core", "join"),
)
def q30_customer_distribution(spark, sf_dir):
    """TPC-H Q13 shape: customer order-count distribution (left outer join
    with an ON-clause-only filter, then an agg of an agg).

    Reference ops: left outer join keeping unmatched build rows
    (hash_join.rs:194-206), hash agg.  Spark plan: instead of the naive
    join-then-count (which shuffles the full customer×orders join), BOTH
    sides pre-aggregate to one row per custkey (map-side partial
    combine), then LEFT join — the join input is |custkeys| + |custkeys|,
    not |orders|.  The second agg groups ~100 distinct counts — broadcast-
    scale.  Exact equivalence to the oracle's join-then-group (r8
    star-schema sweep): the oracle groups the JOINED rows by c_custkey,
    so (a) a duplicated custkey multiplies its order count by its copy
    count (copies x cnt) but still forms ONE group, and (b) only
    non-NULL o_orderkey matches count — COUNT(o_orderkey), not
    COUNT(*).  On a unique-key customer table both reduce to the old
    coalesce(cnt, 0) form.
    """
    cust_g = (
        load_table(spark, sf_dir, "customer")
        .groupBy("c_custkey")
        .agg(F.count("*").alias("copies"))
    )
    per_cust = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != "1-URGENT")
        .groupBy("o_custkey")
        .agg(F.count("o_orderkey").alias("cnt"))
    )
    return (
        cust_g.join(per_cust, F.col("c_custkey") == F.col("o_custkey"), "left")
        .select(
            (F.col("copies") * F.coalesce(F.col("cnt"), F.lit(0))).alias("c_count")
        )
        .groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@register(
    "q31_top_supplier",
    oracle=f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no, SUM({_REV_SQL}) AS total_rev
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1995-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_revenue
    FROM supplier
    JOIN revenue ON s_suppkey = supplier_no
    WHERE total_rev = (SELECT MAX(total_rev) FROM revenue)
    ORDER BY s_suppkey
    """,
    tags=("core", "subquery"),
)
def q31_top_supplier(spark, sf_dir):
    """TPC-H Q15 shape: supplier(s) achieving the quarter's max revenue
    (the reference's view-based formulation collapsed to a derived table +
    uncorrelated scalar-subquery equality).

    Reference ops: derived table, hash agg, scalar subquery → cross join
    (src/binder/table/subquery.rs:99-167).  Spark plan: one shuffle on
    suppkey for the revenue agg; MAX over it is a 1-row broadcast; the
    equality filter is DECIMAL=DECIMAL (exact — double equality here
    would drop the winner on a ULP).  Supplier dim broadcasts.  The
    revenue derived table is computed once per branch; at scale you'd
    cache/CTE-materialize it, but it is a post-shuffle aggregate of
    |suppliers| rows — tiny relative to the scan either way.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1995-04-01 00:00:00").cast("timestamp"))
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(_rev()).alias("total_rev")
    )
    max_rev = revenue.agg(F.max("total_rev").alias("max_rev"))
    supp = load_table(spark, sf_dir, "supplier")
    return (
        revenue.join(F.broadcast(max_rev))
        .filter(F.col("total_rev") == F.col("max_rev"))
        .join(supp, F.col("s_suppkey") == F.col("supplier_no"))
        .select("s_suppkey", "s_name", as_double(F.col("total_rev")).alias("total_revenue"))
        .orderBy("s_suppkey")
    )


@register(
    "q32_small_qty_revenue",
    oracle="""
    SELECT CAST(SUM(l_extendedprice::DECIMAL(18,2)) AS DOUBLE) / 7.0 AS avg_yearly,
           COUNT(*) AS n
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN (
      SELECT l_partkey AS pk,
             SUM(l_quantity::DECIMAL(18,2)) AS sq,
             COUNT(*) AS cnt
      FROM lineitem GROUP BY l_partkey
    ) pa ON pk = l_partkey
    WHERE p_brand = 'Brand#1'
      AND l_quantity::DECIMAL(18,2) * 5 * cnt < sq
    """,
    tags=("core", "join", "subquery"),
)
def q32_small_qty_revenue(spark, sf_dir):
    """TPC-H Q17 shape: small-quantity-order revenue — lineitem rows below
    20% of their part's average quantity.

    Reference ops: derived-table agg joined back to the fact (correlated
    AVG subquery decorrelated by hand, as the reference only supports
    uncorrelated ones — src/binder/table/subquery.rs:125).  Spark plan:
    the per-part agg and the join-back co-partition on partkey (one
    shuffle each side, AQE coalesced); the Brand#1 broadcast filter
    prunes both the fact scan and (transitively, via the join) the agg
    output actually probed.  The 20%-of-average test is rearranged to
    qty × 5 × cnt < sum(qty) — all DECIMAL/BIGINT, exact; the canonical
    qty < 0.2*avg(qty) double compare is partitioning-dependent at the
    boundary.  /7.0 happens once at the end in double, identically
    ordered in both engines.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    pa = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum(dec2("l_quantity")).alias("sq"), F.count("*").alias("cnt")
    )
    return (
        li.join(part, F.col("p_partkey") == F.col("l_partkey"))
        .join(pa, F.col("pk") == F.col("l_partkey"))
        .filter(dec2("l_quantity") * 5 * F.col("cnt") < F.col("sq"))
        .agg(
            (as_double(F.sum(dec2("l_extendedprice"))) / F.lit(7.0)).alias("avg_yearly"),
            F.count("*").alias("n"),
        )
    )


@register(
    "q33_supplier_cnt",
    oracle="""
    SELECT p_brand, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1'
      AND p_size IN (1, 5, 9, 13, 17)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
    GROUP BY p_brand, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_size
    """,
    tags=("core", "join"),
)
def q33_supplier_cnt(spark, sf_dir):
    """TPC-H Q16 shape: distinct supplier count per part attribute bucket,
    excluding a blacklisted supplier set (NOT IN → anti join; the
    part-supplier relation adapted from partsupp to lineitem).

    Reference ops: count(distinct) (src/executor/aggregate/count.rs:31-58),
    anti join extension (SURVEY §2.3), IN-list and <> filters.  Spark
    plan: part (IN-list + <> pushed to scan) and the negative supplier
    list are both heavily filtered, so AQE broadcasts them at any
    realistic SF without a forced hint — the anti join never shuffles
    the fact; the
    count-distinct agg shuffles once on (brand, size) with partial
    distinct aggregation map-side.  s_suppkey is non-null so NOT IN ≡
    left_anti (the NULL-poisoning NOT IN edge case doesn't arise; with a
    nullable column this would need the null-aware variant).
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1") & F.col("p_size").isin(1, 5, 9, 13, 17)
    )
    bad_supp = load_table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0.0).select(
        "s_suppkey"
    )
    return (
        li.join(part, F.col("p_partkey") == F.col("l_partkey"))
        .join(bad_supp, F.col("s_suppkey") == F.col("l_suppkey"), "left_anti")
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), F.col("p_brand"), F.col("p_size"))
    )


@register(
    "q34_min_cost_supplier",
    oracle="""
    WITH m AS (
      SELECT l_partkey,
             MIN(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS min_price_c
      FROM lineitem GROUP BY l_partkey
    ), pick AS (
      SELECT l.l_partkey, m.min_price_c, MIN(l.l_suppkey) AS s_key
      FROM lineitem l
      JOIN m ON l.l_partkey = m.l_partkey
            AND CAST(FLOOR(l.l_extendedprice * 100 + 0.5) AS BIGINT) = m.min_price_c
      GROUP BY l.l_partkey, m.min_price_c
    )
    SELECT p_partkey, p_name, s_name,
           CAST(min_price_c AS DOUBLE) / 100.0 AS min_price
    FROM pick
    JOIN part ON p_partkey = pick.l_partkey
    JOIN supplier ON s_suppkey = s_key
    WHERE p_size <= 10
    ORDER BY p_partkey
    """,
    tags=("core", "join", "subquery"),
    bench=True,
)
def q34_min_cost_supplier(spark, sf_dir, li_src=None):
    """TPC-H Q2 shape: for each (small) part, the supplier offering the
    minimum price (min-supplycost correlated subquery adapted to lineitem
    prices; ties broken by lowest suppkey).

    Reference ops: correlated-min subquery decorrelated to an agg +
    join-back (the oracle SQL spells that two-phase form out).  Spark
    plan: ONE wide shuffle total — a partial-aggregable lexicographic
    argmin, so the agg+join-back+re-agg of the SQL formulation collapses
    to a single groupBy (same trick as p10_dedup_canonical).  Two
    scale-critical choices beyond that: (1) the argmin orderand is
    common.packed_minmax's single DECIMAL, not min(struct(price,
    suppkey)) — a struct aggregation buffer demotes the whole aggregate
    to SortAggregate, a full per-partition sort of the fact input, which
    (not the shuffle) dominated q34's 27s at the 1000x replica; the
    decimal pack keeps HashAggregate with the identical (min price, min
    suppkey) order.  (2) the fact side reaches the aggregate through a
    broadcast SEMI join on the measured filtered-part frame and carries
    only (l_partkey, packed) — p_name rides no shuffle; the ~uncompacted
    partial-agg output (group-per-row for a partkey-grouped fact) joins
    the part names and supplier AFTER collapsing to one row per part.
    Fallback honesty: past measured_broadcast's ceiling the semi join
    shuffles li on l_partkey and the groupBy REUSES that exact
    partitioning — the degraded plan adds no extra exchange.

    The optional lineitem source lets the scaled bench run the IDENTICAL
    query through a partkey-bucketed layout: the argmin aggregate — this
    plan's only wide shuffle — inherits the bucketed scan's hash
    partitioning and its Exchange disappears.
    """
    li = li_src if li_src is not None else load_table(spark, sf_dir, "lineitem")
    part_t = load_table(spark, sf_dir, "part")
    part = measured_broadcast(
        part_t.filter(F.col("p_size") <= 10).select("p_partkey", "p_name"),
        file_rows(part_t),
    )
    supp = load_table(spark, sf_dir, "supplier")
    best = (
        li.join(part, F.col("p_partkey") == F.col("l_partkey"), "left_semi")
        .groupBy("l_partkey")
        .agg(
            F.min(
                packed_minmax(cents("l_extendedprice"), F.col("l_suppkey"))
            ).alias("m")
        )
    )
    return (
        best.join(part, F.col("p_partkey") == F.col("l_partkey"))
        .join(supp, F.col("s_suppkey") == unpack_id(F.col("m")))
        .select(
            "p_partkey",
            "p_name",
            "s_name",
            (unpack_value(F.col("m")).cast("double") / 100.0).alias("min_price"),
        )
        .orderBy("p_partkey")
    )


@register(
    "q35_priority_shipping",
    oracle="""
    SELECT l_linestatus,
           COUNT(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                      THEN 1 END) AS high_line_count,
           COUNT(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                      THEN 1 END) AS low_line_count
    FROM orders
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_returnflag = 'N'
      AND l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-01-01 00:00:00'
    GROUP BY l_linestatus
    ORDER BY l_linestatus
    """,
    tags=("core", "join"),
)
def q35_priority_shipping(spark, sf_dir):
    """TPC-H Q12 shape: per-category line counts split by order priority
    (shipmode adapted to l_linestatus — no l_shipmode column).

    Reference ops: hash join + hash agg with conditional counts (CASE is
    the documented §2.8 extension).  Spark plan: returnflag + date range
    push into the lineitem scan; one shuffle joins the two facts on
    orderkey; the conditional counts partial-aggregate map-side into a
    2-group result.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_returnflag") == "N")
        & (F.col("l_shipdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-01-01 00:00:00").cast("timestamp"))
    )
    orders = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        orders.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.count(F.when(high, 1)).alias("high_line_count"),
            F.count(F.when(~high, 1)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


@register(
    "q36_waiting_suppliers",
    oracle="""
    WITH late AS (
      SELECT l_orderkey, l_suppkey
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
    ),
    per_order AS (
      SELECT l_orderkey AS ok, COUNT(DISTINCT l_suppkey) AS n_supp
      FROM lineitem GROUP BY 1
    ),
    late_per_order AS (
      SELECT l_orderkey AS ok, COUNT(DISTINCT l_suppkey) AS n_late
      FROM late GROUP BY 1
    )
    SELECT s_name, COUNT(*) AS numwait
    FROM late
    JOIN per_order p ON p.ok = late.l_orderkey
    JOIN late_per_order lpo ON lpo.ok = late.l_orderkey
    JOIN supplier ON s_suppkey = late.l_suppkey
    WHERE p.n_supp >= 2 AND lpo.n_late = 1
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
    tags=("core", "join", "subquery"),
)
def q36_waiting_suppliers(spark, sf_dir):
    """TPC-H Q21 shape: suppliers who were the SOLE late supplier on a
    multi-supplier order (commit-date lateness adapted to shipdate >
    orderdate + 60 days).

    The reference-era EXISTS / NOT EXISTS pair is decorrelated into two
    per-order aggregates — total distinct suppliers and late distinct
    suppliers — joined back to the late lines; semantics are identical
    (EXISTS other supplier ⇔ n_supp ≥ 2; NOT EXISTS other late supplier
    ⇔ n_late = 1).  Spark plan: every join and both aggregates key on
    l_orderkey, so the whole query runs in ONE shuffle partitioning
    (AQE reuses it), supplier's join is AQE stats-chosen (broadcast
    while it fits), and the top-20 fuses to
    TakeOrderedAndProject.  This is the classic rewrite that turns Q21
    from the slowest TPC-H query into a linear pipeline.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    supp = load_table(spark, sf_dir, "supplier")
    late = (
        li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY"))
        .select("l_orderkey", "l_suppkey")
    )
    per_order = li.groupBy(F.col("l_orderkey").alias("ok")).agg(
        F.countDistinct("l_suppkey").alias("n_supp")
    )
    late_per_order = late.groupBy(F.col("l_orderkey").alias("lok")).agg(
        F.countDistinct("l_suppkey").alias("n_late")
    )
    return (
        late.join(per_order, F.col("ok") == F.col("l_orderkey"))
        .join(late_per_order, F.col("lok") == F.col("l_orderkey"))
        .filter((F.col("n_supp") >= 2) & (F.col("n_late") == 1))
        .join(supp, F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name"))
        .limit(20)
    )


@register(
    "q37_forecast_revenue",
    oracle=f"""
    SELECT CAST(SUM(l_extendedprice::DECIMAL(18,2) * l_discount::DECIMAL(18,2))
                AS DOUBLE) AS revenue,
           COUNT(*) AS n
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-01-01 00:00:00'
      AND l_discount BETWEEN 0.04 AND 0.06
      AND l_quantity < 24.0
    """,
    tags=("core",),
)
def q37_forecast_revenue(spark, sf_dir):
    """TPC-H Q6 verbatim shape: forecast-revenue-change — a pure
    scan→filter→global-aggregate with a BETWEEN band on discount.

    Reference ops: filter (src/executor/filter.rs), SimpleAgg
    (simple_agg.rs); BETWEEN is a documented §2.8 extension.  Spark plan:
    every predicate pushes into the parquet scan (PushedFilters), the
    aggregate is a map-side partial + 1-row final — the cheapest possible
    TPC-H query and the canonical scan-throughput probe at 100 TB.
    Discount comparisons run on the raw double column (synthetic
    discounts are exact hundredths, representable in binary? no — 0.04
    is not exact in binary, but BOTH engines compare the same stored
    double against the same literal, so membership is identical).
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & F.col("l_discount").between(0.04, 0.06)
            & (F.col("l_quantity") < 24.0)
        )
        .agg(
            as_double(F.sum(dec2("l_extendedprice") * dec2("l_discount"))).alias(
                "revenue"
            ),
            F.count("*").alias("n"),
        )
    )


@register(
    "q38_excess_suppliers",
    oracle="""
    WITH shipped AS (
      SELECT l_suppkey, l_partkey, SUM(l_quantity::DECIMAL(18,2)) AS qty
      FROM lineitem
      JOIN part ON p_partkey = l_partkey
      WHERE p_name LIKE 'red%'
        AND l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1996-01-01 00:00:00'
      GROUP BY l_suppkey, l_partkey
      HAVING SUM(l_quantity::DECIMAL(18,2)) > 40.0
    ),
    per_supp AS (
      SELECT l_suppkey, COUNT(*) AS n_excess_parts FROM shipped GROUP BY l_suppkey
    )
    SELECT s_name, n_name, n_excess_parts
    FROM per_supp
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    ORDER BY s_name
    """,
    tags=("core", "join", "subquery"),
)
def q38_excess_suppliers(spark, sf_dir):
    """TPC-H Q20 shape: suppliers with excess volume of a part family
    (partsupp availqty adapted to shipped-quantity-per-(supplier, part)
    over a year, threshold 40; Q20's IN-subquery semi join is expressed
    as the agg-derived pair set rolled up per supplier — identical
    membership, and it also yields the per-supplier excess-part count).

    Reference ops: semi join via agg-derived table with HAVING
    (src/binder/table/subquery.rs derived tables + §2.4 aggregates).
    Spark plan: the filtered part key list and supplier join are AQE
    stats-chosen (broadcast while small, shuffle at 100 TB — no forced
    hints on SF-scaling tables); the pair agg shuffles once on
    (suppkey, partkey); nation keeps its fixed-25-row hint.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-01-01 00:00:00").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("red%"))
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    shipped = (
        li.join(part.select("p_partkey"), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(dec2("l_quantity")).alias("qty"))
        .filter(F.col("qty") > F.lit("40.0").cast("decimal(18,2)"))
    )
    return (
        shipped.groupBy("l_suppkey")
        .agg(F.count("*").alias("n_excess_parts"))
        .join(supp, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_name", "n_name", "n_excess_parts")
        .orderBy("s_name")
    )
