"""Core relational surface — the reference's v1+v2 operator inventory
(SURVEY.md §2) expressed as idiomatic Spark DataFrame plans.

Per-operator reference citations are in each docstring. Every query here
has a DuckDB oracle; money aggregates go through exact DECIMAL(18,2) so the
value-hash is stable across engines and partitionings (see common.dec2).

Scale notes (100 TB design):
- All fact-table plans are scan→filter→partial-agg→shuffle→final-agg;
  filters/projections push into the parquet scan (verified in
  tests/test_plans.py).
- Dimension joins (region/nation/customer at TPC-H ratios) are broadcast;
  fact-fact joins shuffle on the join key and rely on AQE for skew.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from sqlrs_spark.operators.common import (
    as_double,
    dec2,
    measured_broadcast,
    money_sum_aggs,
    money_sum_total,
    rev_cents,
)
from sqlrs_spark.registry import register
from sqlrs_spark.sources.tables import file_rows, load_table


# ---------------------------------------------------------------------------
# Aggregation (reference: src/executor/aggregate/*.rs — SURVEY §2.4)
# ---------------------------------------------------------------------------

@register(
    "q01_pricing_summary",
    # Money aggregation runs in exact INTEGER CENTS, not DECIMAL: the
    # 2-decimal columns convert losslessly to BIGINT cents
    # (FLOOR(x*100 + 0.5) — the double's representation error is ~1e-9,
    # far below the 0.5 margin, and FLOOR is bit-identical across
    # engines, unlike double->int CAST, which truncates in Spark but
    # rounds in DuckDB).  Partial aggregates are then plain long adds —
    # measured 28.4s -> 5.7s at the 1000x replica vs DECIMAL(18,2)
    # accumulation, Spark's single biggest agg overhead.  Exactness and
    # partitioning-invariance are unchanged: every sum is an exact
    # integer; sum_charge's per-row term reaches ~1e11 (cents × basis
    # points²), so its sum would overflow BIGINT at SF100 — it is summed
    # split-radix (quotient/remainder by 1e6) and recombined exactly in
    # one wide-integer scalar op on the 6 output rows (DECIMAL(38,0) in
    # Spark, HUGEINT in DuckDB), then converted with the same
    # round-once-then-divide sequence in both engines.
    oracle="""
    WITH c AS (
      SELECT l_returnflag, l_linestatus, l_quantity, l_extendedprice,
             CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS pc,
             CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT)      AS dc,
             CAST(FLOOR(l_tax * 100 + 0.5) AS BIGINT)           AS tc
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    )
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(l_quantity) AS DOUBLE)                         AS sum_qty,
           CAST(SUM(pc) AS BIGINT) / 100.0                         AS sum_base_price,
           CAST(SUM(pc * (100 - dc)) AS BIGINT) / 10000.0          AS sum_disc_price,
           CAST(CAST(SUM((pc * (100 - dc) * (100 + tc)) // 1000000) AS HUGEINT)
                  * 1000000
                + CAST(SUM((pc * (100 - dc) * (100 + tc)) % 1000000) AS HUGEINT)
                AS DOUBLE) / 1000000.0                             AS sum_charge,
           MIN(l_quantity)                                         AS min_qty,
           MAX(l_extendedprice)                                    AS max_price,
           COUNT(*)                                                AS count_order
    FROM c
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    tags=("core", "agg"),
    bench=True,
)
def q01_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: filter → hash agg on 2 keys → order.

    Reference ops: Filter (src/executor/filter.rs:13-26), HashAgg
    (src/executor/aggregate/hash_agg.rs:21-150), sum/min/max/count
    accumulators (sum.rs, min_max.rs, count.rs), Order
    (src/executor/order.rs:13-67). Spark runs this as partial agg →
    shuffle(2-key) → final agg; 4 groups, so the shuffle is tiny at any SF.
    Money sums run in exact integer cents (see the oracle note above):
    long-typed partial aggregates, split-radix recombination for the wide
    sum_charge term, identical FLOOR/divide sequences in both engines.

    1000x history (experiment script at git revision e90cdda): 3.8s
    fresh-process, ~1.18x DuckDB; a DECIMAL(38,0) charge sum and a
    pre-projected product both measured slower.
    """
    li = load_table(spark, sf_dir, "lineitem")
    cents = lambda c: F.floor(F.col(c) * 100 + F.lit(0.5)).cast("bigint")  # noqa: E731
    f = li.filter(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")
    ).select(
        "l_returnflag",
        "l_linestatus",
        "l_quantity",
        "l_extendedprice",
        cents("l_extendedprice").alias("pc"),
        cents("l_discount").alias("dc"),
        cents("l_tax").alias("tc"),
    )
    sd_i = F.col("pc") * (100 - F.col("dc"))
    sc_i = sd_i * (100 + F.col("tc"))
    g = f.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").alias("sum_qty"),
        F.sum("pc").alias("sb_c"),
        F.sum(sd_i).alias("sd_i"),
        F.sum(F.expr("pc * (100 - dc) * (100 + tc) div 1000000")).alias("sc_hi"),
        F.sum(sc_i % 1000000).alias("sc_lo"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_extendedprice").alias("max_price"),
        F.count("*").alias("count_order"),
    )
    charge_exact = F.col("sc_hi").cast("decimal(38,0)") * 1000000 + F.col("sc_lo")
    return g.select(
        "l_returnflag",
        "l_linestatus",
        F.col("sum_qty").cast("double").alias("sum_qty"),
        (F.col("sb_c") / 100.0).alias("sum_base_price"),
        (F.col("sd_i") / 10000.0).alias("sum_disc_price"),
        (charge_exact.cast("double") / 1000000.0).alias("sum_charge"),
        "min_qty",
        "max_price",
        "count_order",
    ).orderBy("l_returnflag", "l_linestatus")


@register(
    "q06_simple_agg",
    oracle="""
    SELECT CAST(SUM(l_extendedprice::DECIMAL(18,2) * l_discount::DECIMAL(18,2)) AS DOUBLE)
             AS revenue,
           COUNT(*) AS n
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount >= 0.05 AND l_discount <= 0.07
      AND l_quantity < 24.0
    """,
    tags=("core", "agg"),
    bench=True,
)
def q06_simple_agg(spark, sf_dir):
    """TPC-H Q6 shape: conjunctive filter → global agg (no GROUP BY).

    Reference: SimpleAgg (src/executor/aggregate/simple_agg.rs:15-65);
    physical choice group_by-empty→SimpleAgg (src/optimizer/physical_rewriter.rs:49-62).
    All four predicates push down to the parquet scan.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24.0)
        )
        .agg(
            as_double(F.sum(dec2("l_extendedprice") * dec2("l_discount"))).alias("revenue"),
            F.count("*").alias("n"),
        )
    )


@register(
    "q14_agg_distinct",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_suppkey)                    AS n_supp,
           CAST(SUM(DISTINCT l_quantity) AS DOUBLE)     AS sum_dist_qty,
           COUNT(l_orderkey)                            AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    tags=("core", "agg"),
)
def q14_agg_distinct(spark, sf_dir):
    """DISTINCT aggregates: count(distinct), sum(distinct).

    Reference: DistinctCount (src/executor/aggregate/count.rs:31-58),
    DistinctSum (sum.rs:99-132) — HashSet-based exact distincts. Spark's
    exact distinct agg expands + reshuffles; quantities are integral doubles
    so sum(distinct) is exact.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_suppkey").alias("n_supp"),
            as_double(F.sum_distinct(F.col("l_quantity"))).alias("sum_dist_qty"),
            F.count("l_orderkey").alias("n_rows"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "q16_minmax_strings",
    oracle="""
    SELECT o_orderstatus,
           MIN(o_orderpriority) AS min_prio,
           MAX(o_orderpriority) AS max_prio,
           MIN(o_totalprice)    AS min_price,
           MAX(o_totalprice)    AS max_price,
           COUNT(*)             AS n
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    tags=("core", "agg"),
)
def q16_minmax_strings(spark, sf_dir):
    """min/max over Utf8 strings and doubles (src/executor/aggregate/min_max.rs:111-157)."""
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.min("o_orderpriority").alias("min_prio"),
            F.max("o_orderpriority").alias("max_prio"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
            F.count("*").alias("n"),
        )
        .orderBy("o_orderstatus")
    )


# ---------------------------------------------------------------------------
# Scan / filter / project (SURVEY §2.1, §2.2)
# ---------------------------------------------------------------------------

@register(
    "q02_filter_project",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_orderstatus = 'O' AND o_totalprice > 150000.0
    """,
    tags=("core", "scan"),
)
def q02_filter_project(spark, sf_dir):
    """Scan → filter → project; both predicate and 3-column pruning reach the
    parquet reader (reference: filter src/executor/filter.rs; projection
    pushdown rule src/optimizer/rules/column_pruning.rs:46-108)."""
    return (
        load_table(spark, sf_dir, "orders")
        .filter((F.col("o_orderstatus") == "O") & (F.col("o_totalprice") > 150000.0))
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


@register(
    "q18_derived_table",
    oracle="""
    SELECT big.o_custkey AS custkey, COUNT(*) AS n_big, CAST(SUM(big.tp) AS DOUBLE) AS total
    FROM (
      SELECT o_custkey, o_totalprice::DECIMAL(18,2) AS tp
      FROM orders WHERE o_totalprice > 100000.0
    ) big
    GROUP BY big.o_custkey
    HAVING COUNT(*) >= 3
    ORDER BY total DESC, custkey
    LIMIT 50
    """,
    tags=("core", "scan"),
)
def q18_derived_table(spark, sf_dir):
    """Derived table (FROM (subquery) alias — src/binder/table/subquery.rs:10-59)
    with aggregation over it; HAVING is the Spark-free extension noted in
    SURVEY §2.4."""
    orders = load_table(spark, sf_dir, "orders")
    big = (
        orders.filter(F.col("o_totalprice") > 100000.0)
        .select(F.col("o_custkey"), dec2("o_totalprice").alias("tp"))
        .alias("big")
    )
    return (
        big.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(F.count("*").alias("n_big"), as_double(F.sum("tp")).alias("total"))
        .filter(F.col("n_big") >= 3)
        .orderBy(F.col("total").desc(), F.col("custkey"))
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Joins (reference: src/executor/join/*.rs — SURVEY §2.3)
# ---------------------------------------------------------------------------

@register(
    "q03_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           CAST(SUM((CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
                     * (100 - CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT))))
                AS BIGINT) / 10000.0
             AS revenue,
           CAST(o_orderdate AS DATE) AS orderdate
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate  > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    tags=("core", "join"),
    bench=True,
)
def q03_shipping_priority(spark, sf_dir, orders_src=None, li_src=None):
    """TPC-H Q3 shape: 3-way equi join → agg → top-k.

    Reference: hash join (src/executor/join/hash_join.rs:16-323), left-deep
    multi-join planning (src/planner/select.rs:51-80). Spark: orders joins
    the BUILDING customers FIRST, so lineitem — the widest input — probes
    an order set already reduced by both the date and segment predicates
    (measured 4.4s -> 3.2s at the 100x replica; the pre-aggregate-lineitem
    alternative was measured and REJECTED at 8.8s — a 15M-group decimal
    hash agg costs more than the join it shrinks).  Both reductions go
    through common.measured_broadcast, bounded by the footer row counts
    of customer and orders, so they broadcast while they measure small
    and shuffle past its ceiling; ORDER+LIMIT fuses to
    TakeOrderedAndProject (SURVEY §2.6).

    1000x history (experiment scripts at git revision e90cdda): ~15.4s
    straight probe, ~28.8s pre-aggregated, ~9.5s through a co-bucketed
    shuffle-hash-plus-bloom tier whose 12M-row crossover no replica up to
    100x reaches (deleted with it).

    The optional orders/lineitem sources let the scaled bench run the
    IDENTICAL query through the bucketed layout: lineitem — the widest
    shuffle of this plan — arrives at the orderkey join already
    hash-partitioned by the bucketed scan, so its Exchange disappears and
    only the (much smaller) date+segment-reduced order set moves.
    """
    # BUILDING keeps ~20% of customer — one long column, well under the
    # measured-broadcast ceiling at the tested replicas, so the orders
    # side of the reduction below never shuffles on custkey either (AQE's
    # static size estimate put the filtered scan past the byte threshold
    # and planned a 150M-row orders exchange); beyond the ceiling the
    # frame comes back unhinted and the custkey shuffle returns.
    customer = load_table(spark, sf_dir, "customer")
    all_orders = orders_src if orders_src is not None else load_table(spark, sf_dir, "orders")
    cust = customer.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    orders = all_orders.filter(
        F.col("o_orderdate") < F.lit("1998-03-15 00:00:00").cast("timestamp")
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    li = (
        (li_src if li_src is not None else load_table(spark, sf_dir, "lineitem"))
        .filter(F.col("l_shipdate") > F.lit("1995-03-15 00:00:00").cast("timestamp"))
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    # The date+segment-reduced order set keeps at most one row per order
    # (c_custkey is customer's key), so the footer row counts of customer
    # and orders bound both reductions with no job; a bound over the
    # ceiling falls back to counting that reduction.  The order set
    # broadcasts while it fits and lineitem never shuffles on orderkey
    # (1.45M rows at the 100x replica); over the ceiling the plain
    # shuffle plan returns
    cust = measured_broadcast(cust, file_rows(customer))
    ordc = measured_broadcast(
        orders.join(cust, orders.o_custkey == cust.c_custkey).select(
            "o_orderkey", "o_orderdate"
        ),
        file_rows(all_orders),
    )
    # rev_c (ONE BIGINT, common.cents) is computed AFTER the ordc probe:
    # projections evaluate where declared, so hoisting it above the join
    # would run the FLOOR/multiply money arithmetic on every shipdate
    # survivor (~2/3 of the fact) instead of only the ~20% that belong to
    # a BUILDING order.  Probe, project, and partial agg fuse into the
    # scan's codegen stage, so carrying the two raw money doubles to the
    # join costs no materialization — WHILE ordc broadcasts.  Tradeoff on
    # the over-ceiling fallback (reduction > 30M rows, un-hinted): the
    # orderkey shuffle then carries the two doubles instead of one
    # packed long (~1.5x row width) in exchange for skipping the money
    # arithmetic on non-surviving rows; if that path ever dominates at a
    # deployment's scale, hoist rev_c back above the join for that tier.
    return (
        li.join(ordc, li.l_orderkey == ordc.o_orderkey)
        .select("l_orderkey", "o_orderdate", rev_cents().alias("rev_c"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(*money_sum_aggs("rev_c"))
        .select(
            "l_orderkey",
            money_sum_total("rev_c").alias("revenue"),
            F.col("o_orderdate").cast("date").alias("orderdate"),
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@register(
    "q05_local_volume",
    oracle="""
    SELECT n_name,
           CAST(SUM((CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
                     * (100 - CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT))))
                AS BIGINT) / 10000.0
             AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
    tags=("core", "join"),
    bench=True,
)
def q05_local_volume(spark, sf_dir, orders_src=None, li_src=None):
    """TPC-H Q5 shape: 6-way join with a two-column equi condition.

    Join order is selectivity-first (the textbook Q5 plan): the ASIA
    filter reaches customer through a broadcast of the 5 surviving
    nations, orders joins the reduced customer set BEFORE touching
    lineitem, and only then does the widest table join — against an
    (o_orderkey, c_nationkey) pair set already shrunk by both the date
    and region predicates (~5x smaller than the unreduced orders side;
    measured 5.7s -> 3.8s at the 100x replica).  nation/region keep
    broadcast hints (fixed 25/5 rows at any SF); the ASIA customers and
    suppliers and the reduced order set scale with SF, so they go through
    common.measured_broadcast (broadcast while the measured rows fit its
    ceiling, shuffle at 100 TB), all three bounded by the footer row
    counts of supplier, customer and orders.  Every join input is pruned
    to its key/agg columns before the exchange.  The
    (l_suppkey, c_nationkey)=(s_suppkey, s_nationkey) pair exercises
    multi-pair JoinCondition::On (src/binder/table/join.rs:40-48).

    The optional orders/lineitem sources let the scaled bench run the
    IDENTICAL query through the bucketed layout
    (sources/bucketing.ensure_bucketed_facts): a bucketed scan reports
    the orderkey hash partitioning, so the one wide fact-fact exchange
    disappears and only the supplier join shuffles.
    """
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    all_orders = orders_src if orders_src is not None else load_table(spark, sf_dir, "orders")
    cust = customer.select("c_custkey", "c_nationkey")
    orders = (
        all_orders.filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
        )
        .select("o_orderkey", "o_custkey")
    )
    li = (li_src if li_src is not None else load_table(spark, sf_dir, "lineitem")).select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nat_asia = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select("n_nationkey", "n_name")
    # The supplier side joins as the ASIA-ONLY map (1/5 of supplier) with
    # n_name pre-attached, instead of the full supplier map plus a third
    # nation join.  1000x history (experiment script at git revision
    # e90cdda): identical on the plain layout, 11.8 -> 9.6s through the
    # orderkey-bucketed layout; probing the ASIA suppliers before ordc
    # measured 19.2s vs 12.1s, so the most-selective probe goes first.
    supp = (
        supplier.select("s_suppkey", "s_nationkey")
        .join(F.broadcast(nat_asia), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    # ASIA keeps 1/5 of customer — (custkey, nationkey) longs under the
    # measured ceiling at the tested replicas, so producing ordc below
    # costs zero exchanges (orders probes this broadcast); over the
    # ceiling the custkey shuffle comes back, exactly as for ordc itself.
    cust_asia = cust.join(
        F.broadcast(nat_asia), cust.c_nationkey == nat_asia.n_nationkey
    ).select("c_custkey", "c_nationkey")
    # Every join here matches on a key, so each reduction keeps at most
    # one row per row of the table it is drawn from, and that table's
    # footer row count bounds it with no job (none is measured inside
    # another; a bound over the ceiling falls back to counting).
    # ordc broadcasts while it fits, so lineitem NEVER shuffles — the
    # widest exchange in the whole query disappears (1000x history at git
    # revision e90cdda: 25.4s -> 15.0s).  Over the ceiling (100 TB) the
    # plain frame comes back and the join keeps its shuffle plan.
    supp = measured_broadcast(supp, file_rows(supplier))
    cust_asia = measured_broadcast(cust_asia, file_rows(customer))
    ordc = measured_broadcast(
        orders.join(cust_asia, orders.o_custkey == cust_asia.c_custkey).select(
            "o_orderkey", "c_nationkey"
        ),
        file_rows(all_orders),
    )
    # rev_c (ONE BIGINT, 1e-4-dollar units, common.cents) is computed
    # AFTER the reducing probes: projections evaluate where declared, so
    # hoisting it above the joins would run the money arithmetic on all
    # 100% of the fact instead of the ~6% that survive the date+region
    # reduction.  With every join side broadcast while measured-small,
    # scan → probes → project → partial agg fuse into one codegen stage.
    return (
        li.join(ordc, li.l_orderkey == ordc.o_orderkey)
        .join(
            supp,
            (li.l_suppkey == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .select("n_name", rev_cents().alias("rev_c"))
        .groupBy("n_name")
        .agg(*money_sum_aggs("rev_c"))
        .select("n_name", money_sum_total("rev_c").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("n_name"))
    )


@register(
    "q17_join_residual",
    oracle="""
    SELECT p_brand, COUNT(*) AS n, CAST(SUM(l_quantity) AS DOUBLE) AS qty
    FROM lineitem JOIN part ON l_partkey = p_partkey AND l_quantity > p_size
    GROUP BY p_brand ORDER BY p_brand
    """,
    tags=("core", "join"),
)
def q17_join_residual(spark, sf_dir):
    """Inner hash join with a non-equi residual predicate — the equi pair is
    split from the residual at bind time in the reference
    (src/binder/table/join.rs:89-227, hash_join.rs:47-127); Catalyst does the
    same split internally. part scales with SF — no forced broadcast hint;
    AQE/stats broadcast it while it fits."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    return (
        li.join(
            part,
            (li.l_partkey == part.p_partkey) & (li.l_quantity > part.p_size),
        )
        .groupBy("p_brand")
        .agg(F.count("*").alias("n"), as_double(F.sum("l_quantity")).alias("qty"))
        .orderBy("p_brand")
    )


@register(
    "q07_join_left",
    oracle="""
    SELECT o.o_orderstatus,
           COUNT(*)          AS n_rows,
           COUNT(l.l_orderkey) AS n_matched
    FROM orders o
    LEFT JOIN lineitem l ON o.o_orderkey = l.l_orderkey AND l.l_quantity > 45.0
    GROUP BY o.o_orderstatus ORDER BY o.o_orderstatus
    """,
    tags=("core", "join"),
)
def q07_join_left(spark, sf_dir):
    """LEFT OUTER join with residual inside ON: unmatched left rows survive
    with NULL right columns (hash_join.rs:194-206 bitmap tracking;
    keep-unmatched residual handling hash_join.rs:47-127). count(col) counts
    only matches — NULL-skipping count (count.rs:10-29)."""
    orders = load_table(spark, sf_dir, "orders").alias("o")
    li = load_table(spark, sf_dir, "lineitem").alias("l")
    return (
        orders.join(
            li,
            (F.col("o.o_orderkey") == F.col("l.l_orderkey")) & (F.col("l.l_quantity") > 45.0),
            "left",
        )
        .groupBy("o.o_orderstatus")
        .agg(F.count("*").alias("n_rows"), F.count("l.l_orderkey").alias("n_matched"))
        .orderBy("o.o_orderstatus")
    )


@register(
    "q08_join_right",
    oracle="""
    SELECT o.o_orderstatus, COUNT(*) AS n_rows, COUNT(o.o_orderkey) AS n_matched
    FROM lineitem l
    RIGHT JOIN orders o ON l.l_orderkey = o.o_orderkey AND l.l_quantity > 45.0
    GROUP BY o.o_orderstatus ORDER BY o.o_orderstatus
    """,
    tags=("core", "join"),
)
def q08_join_right(spark, sf_dir):
    """RIGHT OUTER join — mirror of q07 (hash_join.rs right-side bitmap path)."""
    orders = load_table(spark, sf_dir, "orders").alias("o")
    li = load_table(spark, sf_dir, "lineitem").alias("l")
    return (
        li.join(
            orders,
            (F.col("l.l_orderkey") == F.col("o.o_orderkey")) & (F.col("l.l_quantity") > 45.0),
            "right",
        )
        .groupBy("o.o_orderstatus")
        .agg(F.count("*").alias("n_rows"), F.count("o.o_orderkey").alias("n_matched"))
        .orderBy("o.o_orderstatus")
    )


@register(
    "q09_join_full",
    oracle="""
    WITH c AS (SELECT c_nationkey AS nk, COUNT(*) AS n_cust FROM customer GROUP BY 1),
         s AS (SELECT s_nationkey AS nk, COUNT(*) AS n_supp FROM supplier GROUP BY 1)
    SELECT COALESCE(c.nk, s.nk) AS nationkey, c.n_cust, s.n_supp
    FROM c FULL JOIN s ON c.nk = s.nk
    ORDER BY nationkey
    """,
    tags=("core", "join"),
)
def q09_join_full(spark, sf_dir):
    """FULL OUTER join of two aggregates; nullable columns on both sides
    (hash_join.rs full-outer path :294-322)."""
    cust = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count("*").alias("n_cust"))
        .alias("c")
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.count("*").alias("n_supp"))
        .alias("s")
    )
    return (
        cust.join(supp, F.col("c.nk") == F.col("s.nk"), "full")
        .select(
            F.coalesce(F.col("c.nk"), F.col("s.nk")).alias("nationkey"),
            "n_cust",
            "n_supp",
        )
        .orderBy("nationkey")
    )


@register(
    "q10_cross_join",
    oracle="""
    SELECT r_name, n_name
    FROM region CROSS JOIN nation
    WHERE r_regionkey <> n_regionkey
    ORDER BY r_name, n_name
    """,
    tags=("core", "join"),
)
def q10_cross_join(spark, sf_dir):
    """Cross join (src/executor/join/cross_join.rs:15-57) + non-equi filter.
    Spark: BroadcastNestedLoopJoin — correct physical pick for small×small."""
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    return (
        region.crossJoin(nation)
        .filter(F.col("r_regionkey") != F.col("n_regionkey"))
        .select("r_name", "n_name")
        .orderBy("r_name", "n_name")
    )


# ---------------------------------------------------------------------------
# Subqueries (src/binder/table/subquery.rs — SURVEY §2.3)
# ---------------------------------------------------------------------------

@register(
    "q11_scalar_subquery",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer
    WHERE c_acctbal > (SELECT MAX(c_acctbal) FROM customer) * 0.99
    ORDER BY c_custkey
    """,
    tags=("core", "subquery"),
)
def q11_scalar_subquery(spark, sf_dir):
    """Uncorrelated scalar subquery in WHERE — the reference rewrites it to a
    cross join against the 1-row agg (src/binder/table/subquery.rs:99-167).
    We express it the same way in the DataFrame API (broadcast 1-row cross
    join → Catalyst folds it); Spark SQL also supports the subquery natively.
    """
    cust = load_table(spark, sf_dir, "customer")
    max_bal = cust.agg(F.max("c_acctbal").alias("__maxbal"))
    return (
        cust.crossJoin(F.broadcast(max_bal))
        .filter(F.col("c_acctbal") > F.col("__maxbal") * 0.99)
        .select("c_custkey", "c_name", "c_acctbal")
        .orderBy("c_custkey")
    )


@register(
    "q04_priority_count",
    oracle="""
    SELECT o_orderpriority, COUNT(DISTINCT o_orderkey) AS n_orders
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    WHERE l_shipdate > o_orderdate
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    tags=("core", "join", "agg"),
)
def q04_priority_count(spark, sf_dir):
    """Join + column-vs-column predicate + distinct count by priority."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate"))
        .groupBy("o_orderpriority")
        .agg(F.countDistinct("o_orderkey").alias("n_orders"))
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Distinct / order / limit / offset (SURVEY §2.4 DISTINCT, §2.6)
# ---------------------------------------------------------------------------

@register(
    "q12_distinct",
    oracle="""
    SELECT DISTINCT c_nationkey, c_mktsegment FROM customer
    ORDER BY c_nationkey, c_mktsegment
    """,
    tags=("core",),
)
def q12_distinct(spark, sf_dir):
    """SELECT DISTINCT — planned as group-by-all-columns in the reference
    (src/planner/select.rs:29-32); Spark's dropDuplicates is the same plan."""
    return (
        load_table(spark, sf_dir, "customer")
        .select("c_nationkey", "c_mktsegment")
        .distinct()
        .orderBy("c_nationkey", "c_mktsegment")
    )


@register(
    "q13_order_limit_offset",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20 OFFSET 10
    """,
    tags=("core",),
)
def q13_order_limit_offset(spark, sf_dir):
    """Multi-key sort + limit/offset (src/executor/order.rs:13-67,
    limit.rs:10-81). Deterministic via the o_orderkey tiebreak."""
    return (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .offset(10)
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Date / interval arithmetic (src/function/scalar/arithmetic_function.rs:73-126)
# ---------------------------------------------------------------------------

@register(
    "q15_date_interval",
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderdate AS DATE)                       AS orderdate,
           CAST(o_orderdate + INTERVAL 3 MONTH AS DATE)    AS plus_3m,
           CAST(o_orderdate - INTERVAL 90 DAY AS DATE)     AS minus_90d,
           CAST(o_orderdate + INTERVAL 1 YEAR AS DATE)     AS plus_1y
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-02-01 00:00:00'
    ORDER BY o_orderkey
    """,
    tags=("core", "datetime"),
)
def q15_date_interval(spark, sf_dir):
    """date ± INTERVAL (YearMonth and DayTime) — reference tests/slt/time.slt;
    arithmetic impl src/function/scalar/arithmetic_function.rs:73-126."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.filter(
            (F.col("o_orderdate") >= F.lit("1998-01-01 00:00:00").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-02-01 00:00:00").cast("timestamp"))
        )
        .select(
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("orderdate"),
            (F.col("o_orderdate") + F.expr("INTERVAL 3 MONTH")).cast("date").alias("plus_3m"),
            (F.col("o_orderdate") - F.expr("INTERVAL 90 DAY")).cast("date").alias("minus_90d"),
            (F.col("o_orderdate") + F.expr("INTERVAL 1 YEAR")).cast("date").alias("plus_1y"),
        )
        .orderBy("o_orderkey")
    )


@register(
    "q19_disjunctive_pred",
    oracle="""
    SELECT CAST(SUM(l_extendedprice::DECIMAL(18,2)
                    * (1.00::DECIMAL(18,2) - l_discount::DECIMAL(18,2))) AS DOUBLE)
             AS revenue,
           COUNT(*) AS n
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity >= 1 AND l_quantity <= 21)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25 AND l_quantity >= 10 AND l_quantity <= 30)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35 AND l_quantity >= 20 AND l_quantity <= 40)
    """,
    tags=("core", "join", "expr"),
)
def q19_disjunctive_pred(spark, sf_dir):
    """TPC-H Q19 shape: OR-of-conjunctions across both join sides.

    Reference ops: hash join + residual filter (src/executor/join/
    hash_join.rs:47-127), Kleene AND/OR (src/function/conjunction/
    default_conjunction.rs:114-144), comparisons (default_comparison.rs).
    Scale: the equi half (p_partkey = l_partkey) drives the join — AQE
    broadcasts part while it fits (no forced hint: part scales with SF);
    the disjunction stays a post-join residual that Catalyst also
    partially pushes to both scans (each branch's single-table conjuncts
    OR-ed per side).
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    one = F.lit("1.00").cast("decimal(18,2)")
    joined = li.join(part, F.col("p_partkey") == F.col("l_partkey"))
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & (F.col("l_quantity") >= 1)
            & (F.col("l_quantity") <= 21)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 25)
            & (F.col("l_quantity") >= 10)
            & (F.col("l_quantity") <= 30)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 35)
            & (F.col("l_quantity") >= 20)
            & (F.col("l_quantity") <= 40)
        )
    )
    return joined.filter(cond).agg(
        as_double(F.sum(dec2("l_extendedprice") * (one - dec2("l_discount")))).alias(
            "revenue"
        ),
        F.count("*").alias("n"),
    )


@register(
    "q20_returned_items",
    oracle="""
    SELECT c_custkey, c_name,
           CAST(SUM(l_extendedprice::DECIMAL(18,2)
                    * (1.00::DECIMAL(18,2) - l_discount::DECIMAL(18,2))) AS DOUBLE)
             AS revenue,
           n_name
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    tags=("core", "join", "agg"),
)
def q20_returned_items(spark, sf_dir):
    """TPC-H Q10 shape: 4-way join → group by customer → top-20 by revenue.

    Reference ops: multi-join left-deep chain (src/planner/select.rs:51-80),
    hash agg (hash_agg.rs), Order+Limit (order.rs, limit.rs — Spark fuses to
    TakeOrderedAndProject).  Scale: orders⋈lineitem is the only fact-fact
    shuffle (co-partitioned on orderkey); customer and nation broadcast;
    the 2-key group-by shuffles only post-agg partials.
    """
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    one = F.lit("1.00").cast("decimal(18,2)")
    return (
        orders.filter(
            (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-04-01 00:00:00").cast("timestamp"))
        )
        .join(li.filter(F.col("l_returnflag") == "R"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .join(nation, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            as_double(
                F.sum(dec2("l_extendedprice") * (one - dec2("l_discount")))
            ).alias("revenue")
        )
        .select("c_custkey", "c_name", "revenue", "n_name")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@register(
    "q21_top_supplier",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             CAST(SUM(l_extendedprice::DECIMAL(18,2)
                      * (1.00::DECIMAL(18,2) - l_discount::DECIMAL(18,2))) AS DOUBLE)
               AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    ORDER BY s_suppkey
    """,
    tags=("core", "join", "subquery", "agg"),
)
def q21_top_supplier(spark, sf_dir):
    """TPC-H Q15 shape: aggregated view + uncorrelated scalar subquery.

    Reference ops: uncorrelated scalar subquery in WHERE rewritten to a
    cross join against the 1-row aggregate (src/binder/table/
    subquery.rs:99-167) — the same plan is used here explicitly.  Scale:
    revenue is one shuffle on l_suppkey; the 1-row max broadcasts
    (explicit hint is safe — always exactly one row); supplier scales
    with SF so its join is stats-chosen; nothing rescans lineitem twice
    (the revenue plan is shared via cache-free recompute of a cheap agg).
    """
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    one = F.lit("1.00").cast("decimal(18,2)")
    revenue = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-04-01 00:00:00").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            as_double(
                F.sum(dec2("l_extendedprice") * (one - dec2("l_discount")))
            ).alias("total_revenue")
        )
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("__max_rev"))
    return (
        revenue.join(F.broadcast(max_rev), F.col("total_revenue") == F.col("__max_rev"))
        .join(sup, F.col("s_suppkey") == F.col("supplier_no"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )
