"""Beyond-reference relational extensions that Spark provides natively.

The reference's SURVEY notes these as "free if we extend": semi/anti joins
(SURVEY §2.3 join types), set operations (§2.7), window functions (§2.5),
plus the expression families the reference lacks (§2.8: LIKE/IN/BETWEEN/
CASE/IS NULL, string & math functions). They are part of the complete
engine surface and each carries a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from sqlrs_spark.operators.common import VAL_NAN_NULL, as_double, epoch_us
from sqlrs_spark.registry import register
from sqlrs_spark.sources.tables import load_table, register_views


@register(
    "x01_semi_join",
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS n_cust_with_orders
    FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 200000.0)
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
    tags=("extension", "join"),
)
def x01_semi_join(spark, sf_dir):
    """LEFT SEMI join (EXISTS) — not in the reference (Inner/Left/Right/Full/
    Cross only, src/binder/table/join.rs:18-24); native in Spark."""
    cust = load_table(spark, sf_dir, "customer")
    big_orders = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 200000.0)
    return (
        cust.join(big_orders, cust.c_custkey == big_orders.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_cust_with_orders"))
        .orderBy("c_mktsegment")
    )


@register(
    "x02_anti_join",
    # NOT EXISTS, not NOT IN: the operator is Spark's left_anti, whose
    # semantics are NOT EXISTS — a NULL o_custkey anywhere makes NOT IN
    # return zero rows under 3VL while the anti join (and NOT EXISTS)
    # still keeps every unmatched customer (r8 star-schema sweep finding;
    # the old NOT IN oracle was only equivalent on NULL-free clean data)
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS n_cust_no_orders
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
    tags=("extension", "join"),
)
def x02_anti_join(spark, sf_dir):
    """LEFT ANTI join ≡ NOT EXISTS (NULL-key-robust; a NOT IN oracle
    would empty out under any NULL o_custkey)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_cust_no_orders"))
        .orderBy("c_mktsegment")
    )


@register(
    "x03_set_ops",
    oracle="""
    SELECT 'union' AS op, nk FROM (
        SELECT c_nationkey AS nk FROM customer UNION SELECT s_nationkey FROM supplier)
    UNION ALL
    SELECT 'intersect', nk FROM (
        SELECT c_nationkey AS nk FROM customer INTERSECT SELECT s_nationkey FROM supplier)
    UNION ALL
    SELECT 'except', nk FROM (
        SELECT c_nationkey AS nk FROM customer EXCEPT SELECT s_nationkey FROM supplier)
    ORDER BY op, nk
    """,
    tags=("extension", "setop"),
)
def x03_set_ops(spark, sf_dir):
    """UNION / INTERSECT / EXCEPT — unimplemented in the reference
    (bind_select_node.rs:42 todo!); Spark natives."""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk"))
    u = c.union(s).distinct().select(F.lit("union").alias("op"), "nk")
    i = c.intersect(s).select(F.lit("intersect").alias("op"), "nk")
    e = c.distinct().subtract(s.distinct()).select(F.lit("except").alias("op"), "nk")
    return u.unionAll(i).unionAll(e).orderBy("op", "nk")


@register(
    "x04_window_topk",
    oracle="""
    SELECT c_mktsegment, o_orderkey, o_totalprice, rn FROM (
      SELECT c_mktsegment, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders JOIN customer ON o_custkey = c_custkey
    ) WHERE rn <= 3
    ORDER BY c_mktsegment, rn
    """,
    tags=("extension", "window"),
)
def x04_window_topk(spark, sf_dir):
    """Top-K per group via ROW_NUMBER window — no window operator exists in
    the reference (SURVEY §2.5); Spark Window is the idiomatic scale path
    (partial sort within hash partitions, no global sort)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    w = W.partitionBy("c_mktsegment").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .select("c_mktsegment", "o_orderkey", "o_totalprice")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .orderBy("c_mktsegment", "rn")
    )


@register(
    "x05_expressions",
    oracle="""
    SELECT p_partkey,
           CASE WHEN p_size BETWEEN 10 AND 20 THEN 'mid'
                WHEN p_size < 10 THEN 'small' ELSE 'large' END AS size_class,
           (p_brand LIKE 'Brand#1%')                            AS brand1,
           (p_type IN ('a', 'b'))                               AS ab_type,
           (p_retailprice IS NULL)                              AS price_null,
           UPPER(SUBSTR(p_name, 1, 4))                          AS name4,
           ABS(p_size - 25)                                     AS size_dist,
           ROUND(SQRT(p_retailprice::DOUBLE), 4)                AS sqrt_price
    FROM part WHERE p_partkey <= 200 ORDER BY p_partkey
    """,
    tags=("extension", "expr"),
)
def x05_expressions(spark, sf_dir):
    """CASE/LIKE/IN/BETWEEN/IS NULL + string/math scalar functions — all
    listed as absent from the reference (SURVEY §2.8 'Not in reference')."""
    part = load_table(spark, sf_dir, "part")
    return (
        part.filter(F.col("p_partkey") <= 200)
        .select(
            "p_partkey",
            F.when(F.col("p_size").between(10, 20), "mid")
            .when(F.col("p_size") < 10, "small")
            .otherwise("large")
            .alias("size_class"),
            F.col("p_brand").like("Brand#1%").alias("brand1"),
            F.col("p_type").isin("a", "b").alias("ab_type"),
            F.col("p_retailprice").isNull().alias("price_null"),
            F.upper(F.substring("p_name", 1, 4)).alias("name4"),
            F.abs(F.col("p_size") - 25).alias("size_dist"),
            F.round(F.sqrt(F.col("p_retailprice")), 4).alias("sqrt_price"),
        )
        .orderBy("p_partkey")
    )


@register(
    "x06_rollup",
    oracle="""
    SELECT r_name, n_name, COUNT(*) AS n_cust
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP(r_name, n_name)
    ORDER BY r_name NULLS FIRST, n_name NULLS FIRST
    """,
    tags=("extension", "agg"),
)
def x06_rollup(spark, sf_dir):
    """GROUPING SETS / ROLLUP — absent from the reference (SURVEY §2.4)."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(F.count("*").alias("n_cust"))
        .orderBy(F.col("r_name").asc_nulls_first(), F.col("n_name").asc_nulls_first())
    )


@register(
    "x07_conditional_pivot",
    oracle="""
    SELECT user_id % 100 AS user_bucket,
           COUNT(*) FILTER (event_type = 'click')    AS clicks,
           COUNT(*) FILTER (event_type = 'view')     AS views,
           COUNT(*) FILTER (event_type = 'purchase') AS purchases,
           CAST(SUM(CASE WHEN event_type = 'purchase'
                         THEN (CASE WHEN isnan(value) THEN NULL ELSE value END)::DECIMAL(18,4)
                         ELSE 0 END) AS DOUBLE) AS purchase_value
    FROM events
    GROUP BY 1 ORDER BY 1
    """,
    tags=("extension", "agg", "events"),
)
def x07_conditional_pivot(spark, sf_dir):
    """Pivot-style conditional aggregation over the events stream table."""
    ev = load_table(spark, sf_dir, "events")
    # NaN -> NULL before the decimal cast in both dialects (a NaN purchase
    # is reachable: r8 degenerate-events user 12; DuckDB's cast errors,
    # Spark's nulls — VAL_NAN_NULL pins the shared policy)
    val4 = F.expr(VAL_NAN_NULL).cast("decimal(18,4)")
    return (
        ev.groupBy((F.col("user_id") % 100).alias("user_bucket"))
        .agg(
            F.count(F.when(F.col("event_type") == "click", 1)).alias("clicks"),
            F.count(F.when(F.col("event_type") == "view", 1)).alias("views"),
            F.count(F.when(F.col("event_type") == "purchase", 1)).alias("purchases"),
            as_double(
                F.sum(
                    F.when(F.col("event_type") == "purchase", val4).otherwise(
                        F.lit("0").cast("decimal(18,4)")
                    )
                )
            ).alias("purchase_value"),
        )
        .orderBy("user_bucket")
    )


@register(
    "x08_json_extract",
    oracle=r"""
    SELECT event_id,
           CAST(NULLIF(regexp_extract(props, '"k":\s*(\d+)', 1), '') AS BIGINT) AS k
    FROM events WHERE event_id < 100 ORDER BY event_id
    """,
    tags=("extension", "expr", "events"),
)
def x08_json_extract(spark, sf_dir):
    """Semi-structured extraction from the events.props JSON string.

    regexp_extract keeps the oracle portable (Java regex vs RE2 agree on
    this pattern); production path would be get_json_object/from_json."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.filter(F.col("event_id") < 100)
        .select(
            "event_id",
            F.nullif(F.regexp_extract("props", r'"k":\s*(\d+)', 1), F.lit(""))
            .cast("bigint")
            .alias("k"),
        )
        .orderBy("event_id")
    )


@register(
    "x09_events_tumbling",
    oracle="""
    SELECT date_trunc('hour', ts) AS hour_start,
           event_type,
           COUNT(*) AS n,
           CAST(SUM((CASE WHEN isnan(value) THEN NULL ELSE value END)::DECIMAL(18,4)) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
    tags=("extension", "events", "datetime"),
)
def x09_events_tumbling(spark, sf_dir):
    """Tumbling 1-hour window aggregation (batch form; streaming twin in
    sqlrs_spark/streaming/ops.py runs the same plan incrementally)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour_start"), F.col("event_type")
        )
        .agg(
            F.count("*").alias("n"),
            as_double(F.sum(F.expr(VAL_NAN_NULL).cast("decimal(18,4)"))).alias("total_value"),
        )
        .orderBy("hour_start", "event_type")
    )


@register(
    "x10_sessionization",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE OR
                       LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events WHERE ts IS NOT NULL
    ),
    sessions AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id, COUNT(*) AS n_events,
           CAST(date_diff('second', MIN(ts), MAX(ts)) AS BIGINT) AS duration_s
    FROM sessions
    GROUP BY user_id, session_id
    ORDER BY user_id, session_id
    """,
    tags=("extension", "events", "window"),
)
def x10_sessionization(spark, sf_dir):
    """Sessionization: lag-gap flag + running sum (classic Spark pattern).
    Scale: both windows partition by user_id — one shuffle, no global sort."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = W.partitionBy("user_id").orderBy("ts").rowsBetween(W.unboundedPreceding, 0)
    lag_ts = F.lag("ts").over(w)
    flagged = ev.withColumn(
        "new_session",
        F.when(
            lag_ts.isNull()
            # full-precision micros gap — exactly the oracle's
            # `ts - LAG(ts) > INTERVAL 30 MINUTE` (every ts in the data has
            # sub-second micros, so truncating to seconds first would flip
            # boundary-straddling gaps)
            | ((epoch_us("ts") - epoch_us(lag_ts)) > 1800 * 1_000_000),
            1,
        ).otherwise(0),
    )
    sessions = flagged.withColumn("session_id", F.sum("new_session").over(wrun))
    return (
        sessions.groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            # integral `div` keeps the floor exact on bigint micros (no
            # double rounding); per-value floor ≡ DuckDB date_diff('second')
            (
                F.max(F.expr("unix_micros(cast(ts as timestamp_ltz)) div 1000000"))
                - F.min(F.expr("unix_micros(cast(ts as timestamp_ltz)) div 1000000"))
            ).alias(
                "duration_s"
            ),
        )
        .orderBy("user_id", "session_id")
    )


@register(
    "x11_correlated_subquery",
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           (SELECT COUNT(*) FROM lineitem
            WHERE l_orderkey = o_orderkey AND l_quantity > 25.0) AS big_lines
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-02-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
    ORDER BY o_orderkey
    """,
    tags=("extension", "subquery"),
)
def x11_correlated_subquery(spark, sf_dir):
    """Correlated EXISTS + correlated scalar aggregate subquery — beyond the
    reference (it handles only *uncorrelated* scalar subqueries,
    src/binder/table/subquery.rs:125); Catalyst decorrelates both into
    joins (EXISTS → left-semi, scalar count → left outer aggregate join),
    so the plan is shuffle-keyed on l_orderkey rather than re-executing the
    subquery per row — the only formulation that survives at scale.
    """
    return spark.sql(
        """
        SELECT o_orderkey, o_orderpriority,
               (SELECT COUNT(*) FROM {lineitem}
                WHERE l_orderkey = o_orderkey AND l_quantity > 25.0) AS big_lines
        FROM {orders}
        WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1997-02-01 00:00:00'
          AND EXISTS (SELECT 1 FROM {lineitem}
                      WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        ORDER BY o_orderkey
        """,
        orders=load_table(spark, sf_dir, "orders"),
        lineitem=load_table(spark, sf_dir, "lineitem"),
    )


@register(
    "x15_approx_sketches",
    # The sketch ESTIMATES are engine-implementation-specific (HLL++ /
    # t-digest internals), so they cannot be hash-compared — but their
    # ERROR CONTRACT can: the output carries the exact values plus
    # booleans asserting each estimate sits inside its advertised bound,
    # and the oracle computes the identical exact side with literal TRUE
    # for every bound.  A broken sketch flips a boolean and the driver
    # hash catches it — the strongest check available for approximate
    # operators (exact twins: q14, x14).
    oracle="""
    SELECT o_orderstatus,
           COUNT(DISTINCT o_custkey) AS exact_custs,
           COUNT(*) AS n,
           TRUE AS hll_within_rsd,
           TRUE AS p50_within_err,
           TRUE AS p95_within_err,
           TRUE AS p99_within_err
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    tags=("extension", "agg", "sketch"),
)
def x15_approx_sketches(spark, sf_dir):
    """Approximate aggregates — the 100 TB path for distincts/quantiles:
    HLL++ approx_count_distinct (constant memory vs exact distinct's
    shuffle-heavy expansion) and t-digest approx_percentile, grouped per
    order status.

    Verified contract: HLL++ at rsd=0.05 must land within 5 sigma
    (|est - exact| <= 0.25 * exact).  5 sigma, not 3: the driver re-hashes
    this row every round across groups and SFs, and a 3-sigma gate leaves
    ~0.3% legitimate-excursion tail probability PER GROUP — enough to flake
    once across the build and masquerade as an engine bug, while a broken
    sketch misses by orders of magnitude and still trips 5 sigma.
    approx_percentile at accuracy=1000
    advertises rank error <= 1/accuracy, checked with a 5x margin — the
    estimate must lie between the exact percentiles at p +/- 0.005
    (groups under 1000 measures degrade to min/max membership — the
    interpolated band is narrower than one rank there; see pct_within).
    The
    exact sides ride the same grouped pass (one extra distinct expansion
    + one exact percentile sort per group — affordable at driver-check
    SFs; production use keeps just the sketch columns).  Scale note: at
    high cardinality exact COUNT(DISTINCT) rewrites to a two-phase expand
    + reshuffle; the HLL sketch is a single partial-aggregating pass with
    ~1.5 KB of state per group at rsd=0.05.
    """
    orders = load_table(spark, sf_dir, "orders")
    # scalar percentile columns, not one array column — the driver's
    # canonicalization cannot hash/sort list cells (m03 lesson)
    pct = F.expr("approx_percentile(o_totalprice, array(0.5D, 0.95D, 0.99D), 1000)")
    ex = F.expr(
        "percentile(o_totalprice,"
        " array(0.495D, 0.505D, 0.945D, 0.955D, 0.985D, 0.995D))"
    )
    est = orders.groupBy("o_orderstatus").agg(
        F.approx_count_distinct("o_custkey", 0.05).alias("approx_custs"),
        F.count_distinct(F.col("o_custkey")).alias("exact_custs"),
        pct[0].alias("est_p50"),
        pct[1].alias("est_p95"),
        pct[2].alias("est_p99"),
        ex.alias("exb"),
        F.count("*").alias("n"),
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
        F.count("o_totalprice").alias("n_price"),
    )
    within = (
        F.abs(F.col("approx_custs") - F.col("exact_custs"))
        <= 0.25 * F.col("exact_custs")
    )

    def pct_within(est_col: str, lo_i: int, hi_i: int):
        # The +/-0.005 RANK-error band is checked through INTERPOLATED
        # exact percentiles, which is only meaningful when the band spans
        # several ranks (0.01*n >= ~10).  On smaller groups (r8
        # star-schema sweep: a 2-row status) the interpolated band falls
        # BETWEEN adjacent elements while the sketch returns an actual
        # element — correct by the rank contract, outside the band.  The
        # small-group contract degrades to [group min, group max]
        # membership, and an all-NULL-measure group is vacuously within.
        tight = F.col(est_col).between(F.col("exb")[lo_i], F.col("exb")[hi_i])
        loose = F.col(est_col).between(F.col("lo"), F.col("hi"))
        return F.coalesce(
            F.when(F.col("n_price") >= 1000, tight).otherwise(loose), F.lit(True)
        )

    return est.select(
        "o_orderstatus",
        "exact_custs",
        "n",
        within.alias("hll_within_rsd"),
        pct_within("est_p50", 0, 1).alias("p50_within_err"),
        pct_within("est_p95", 2, 3).alias("p95_within_err"),
        pct_within("est_p99", 4, 5).alias("p99_within_err"),
    ).orderBy("o_orderstatus")


@register(
    "x16_retention_cohorts",
    oracle="""
    WITH firsts AS (
      SELECT user_id, MIN(date_trunc('week', ts)) AS cohort_week
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS act_week FROM events
    )
    SELECT CAST(cohort_week AS DATE) AS cohort_week,
           CAST(date_diff('day', cohort_week, act_week) // 7 AS BIGINT)
             AS week_offset,
           COUNT(*) AS active_users
    FROM activity
    JOIN firsts USING (user_id)
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    tags=("extension", "events", "join"),
)
def x16_retention_cohorts(spark, sf_dir):
    """Cohort retention: users grouped by first-active week, counted in each
    subsequent week they return — the standard growth-analytics triangle.

    Scale path: both the first-seen MIN and the per-week DISTINCT reduce
    events to |users|-sized sets WITH partial aggregation before their
    user_id shuffle, and the two shuffles share the user_id partitioning
    so the self-join is co-located (AQE keeps it shuffle-free on the
    reused exchange or broadcasts the firsts side — |users| ≪ |events|).
    Week arithmetic is date-truncated integer day math, div 7 — exact,
    timezone-pinned by the session, identical in both engines.
    """
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.date_trunc("week", F.col("ts"))).alias("cohort_week")
    )
    activity = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("act_week")
    ).distinct()
    return (
        activity.join(firsts, "user_id")
        .groupBy(
            F.col("cohort_week").cast("date").alias("cohort_week"),
            F.expr("div(datediff(act_week, cohort_week), 7)").alias("week_offset"),
        )
        .agg(F.count("*").alias("active_users"))
        .orderBy("cohort_week", "week_offset")
    )


@register(
    "x17_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n,
           CAST(SUM(l_quantity::DECIMAL(18,2)) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    ORDER BY l_returnflag NULLS LAST, l_linestatus NULLS LAST
    """,
    tags=("extension", "agg"),
)
def x17_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS (detail + per-flag subtotal + grand total) —
    the general form of x06's ROLLUP.

    Spark expands grouping sets inside a single Expand+HashAggregate pair:
    one pass over the fact, one shuffle, rows replicated per set only
    AFTER the partial aggregate — at 100 TB the replication factor applies
    to group cardinality, not input rows.  NULL is the subtotal marker in
    both engines (the reference has no grouping sets at all — SURVEY
    §2.4 "not in reference").
    """
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM {lineitem}
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        ORDER BY l_returnflag NULLS LAST, l_linestatus NULLS LAST
        """,
        lineitem=load_table(spark, sf_dir, "lineitem"),
    )


@register(
    "x18_funnel",
    oracle="""
    WITH stage AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view'     THEN ts END) AS t_view,
             MIN(CASE WHEN event_type = 'click'    THEN ts END) AS t_click,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      FROM events GROUP BY user_id
    )
    SELECT COUNT(*) AS n_users,
           COUNT(t_view) AS viewed,
           COUNT(CASE WHEN t_click > t_view THEN 1 END) AS clicked_after_view,
           COUNT(CASE WHEN t_purchase > t_click AND t_click > t_view
                      THEN 1 END) AS purchased_after_click
    FROM stage
    """,
    tags=("extension", "events"),
    bench=True,
)
def x18_funnel(spark, sf_dir):
    """Ordered conversion funnel (view → click → purchase): stage
    timestamps collapse to one MIN per user per stage, then the ordering
    constraints count strictly-sequential conversions.

    The conditional-MIN pivot means ONE shuffle on user_id and per-user
    state of three timestamps — the standard trick that replaces per-user
    event-sequence scans (self-joins or per-user sorts) with a partial-
    aggregable fold; the final funnel counts are a 1-row aggregate.  NULL
    stage times propagate correctly through the > comparisons (a user
    with no view never counts as clicked_after_view — Kleene 3VL).
    """
    ev = load_table(spark, sf_dir, "events")
    stage = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "t_purchase"
        ),
    )
    return stage.agg(
        F.count("*").alias("n_users"),
        F.count("t_view").alias("viewed"),
        F.count(F.when(F.col("t_click") > F.col("t_view"), 1)).alias(
            "clicked_after_view"
        ),
        F.count(
            F.when(
                (F.col("t_purchase") > F.col("t_click"))
                & (F.col("t_click") > F.col("t_view")),
                1,
            )
        ).alias("purchased_after_click"),
    )


@register(
    "x19_running_windows",
    # frame-based running aggregates; money-style DECIMAL discipline keeps
    # the running sums exact and partition-order-free (operators/common
    # dec2 rationale), so the driver value hash is stable
    oracle="""
    SELECT user_id,
           event_id,
           CAST(SUM((CASE WHEN isnan(value) THEN NULL ELSE value END)::DECIMAL(18,4)) OVER w_run AS DOUBLE)   AS running_total,
           CAST(SUM((CASE WHEN isnan(value) THEN NULL ELSE value END)::DECIMAL(18,4)) OVER w_3 AS DOUBLE)
             / COUNT(*) OVER w_3                                  AS moving_avg_3,
           COUNT(*) OVER w_run                                    AS n_so_far,
           CAST(MAX(CASE WHEN isnan(value) THEN NULL ELSE value END) OVER w_run AS DOUBLE)                  AS peak_value
    FROM events WHERE ts IS NOT NULL
    WINDOW
      w_run AS (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      w_3   AS (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    ORDER BY user_id, event_id
    """,
    tags=("extension", "window"),
)
def x19_running_windows(spark, sf_dir):
    """Frame-based running aggregates (§2.5 depth beyond rank windows):
    per-user running total, 3-row moving average, running count and
    running peak over event time — the cumulative/sliding-frame family
    (ROWS BETWEEN) that x04's rank-style windows don't exercise.

    Determinism: (ts, event_id) is a total order within each user, sums
    run over DECIMAL(18,4) so the running values are exact at any
    partitioning, and the moving average divides two exact quantities.
    Scale: one shuffle on user_id, then a single sort per partition
    serves all four frames (Catalyst collapses same-spec windows into
    one Window operator).
    """
    return spark.sql(
        """
        SELECT user_id,
               event_id,
               CAST(SUM(CAST(CASE WHEN isnan(value) THEN NULL ELSE value END AS DECIMAL(18,4))) OVER w_run AS DOUBLE)
                                                                 AS running_total,
               CAST(SUM(CAST(CASE WHEN isnan(value) THEN NULL ELSE value END AS DECIMAL(18,4))) OVER w_3 AS DOUBLE)
                 / COUNT(*) OVER w_3                             AS moving_avg_3,
               COUNT(*) OVER w_run                               AS n_so_far,
               CAST(MAX(CASE WHEN isnan(value) THEN NULL ELSE value END) OVER w_run AS DOUBLE)             AS peak_value
        FROM {events} WHERE ts IS NOT NULL
        WINDOW
          w_run AS (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
          w_3   AS (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        ORDER BY user_id, event_id
        """,
        events=load_table(spark, sf_dir, "events"),
    )


@register(
    "x20_correlated_subqueries",
    # same SQL in both engines: correlated scalar + EXISTS + NOT IN
    oracle="""
    SELECT c.c_custkey,
           c.c_acctbal,
           (SELECT COUNT(*) FROM orders o
             WHERE o.o_custkey = c.c_custkey) AS n_orders,
           EXISTS (SELECT 1 FROM orders o
                    WHERE o.o_custkey = c.c_custkey
                      AND o.o_totalprice > 100000) AS has_big_order
    FROM customer c
    WHERE c.c_acctbal > (SELECT AVG(c2.c_acctbal::DECIMAL(18,4)) FROM customer c2
                          WHERE c2.c_nationkey = c.c_nationkey)
    ORDER BY c.c_custkey
    """,
    tags=("extension", "subquery"),
)
def x20_correlated_subqueries(spark, sf_dir):
    """Correlated subqueries — the binder class the reference lacks
    entirely (its planner_v2 binds only UNCORRELATED scalar subqueries,
    src/planner_v2/binder/expression/bind_subquery.rs): a correlated
    scalar aggregate in WHERE (above-nation-average account balance), a
    correlated COUNT in the select list, and a correlated EXISTS flag.

    Spark-first shape: Catalyst de-correlates all three into joins —
    the WHERE subquery becomes an aggregate-then-join on c_nationkey,
    the COUNT/EXISTS become left-outer/left-semi aggregate joins on
    o_custkey — so at 100 TB this runs as three co-keyed shuffles, never
    one-query-per-row. AVG over DECIMAL keeps the threshold exact, so
    the boundary rows agree with the oracle bit-for-bit.
    """
    return spark.sql(
        """
        SELECT c.c_custkey,
               c.c_acctbal,
               (SELECT COUNT(*) FROM {orders} o
                 WHERE o.o_custkey = c.c_custkey) AS n_orders,
               EXISTS (SELECT 1 FROM {orders} o
                        WHERE o.o_custkey = c.c_custkey
                          AND o.o_totalprice > 100000) AS has_big_order
        FROM {customer} c
        WHERE c.c_acctbal > (SELECT AVG(CAST(c2.c_acctbal AS DECIMAL(18,4)))
                               FROM {customer} c2
                              WHERE c2.c_nationkey = c.c_nationkey)
        ORDER BY c.c_custkey
        """,
        customer=load_table(spark, sf_dir, "customer"),
        orders=load_table(spark, sf_dir, "orders"),
    )


_X21_SQL = """
WITH RECURSIVE anc AS (
  SELECT p_partkey AS pk, p_partkey AS node, 0 AS depth
  FROM {part} WHERE p_partkey < 1000
  UNION ALL
  SELECT pk, CAST(floor(node / 10) AS BIGINT) AS node, depth + 1 AS depth
  FROM anc WHERE node > 0
)
SELECT pk AS p_partkey,
       CAST(MAX(depth) AS INT) AS depth_to_root,
       COUNT(*) AS n_chain_nodes
FROM anc
GROUP BY pk
ORDER BY pk
"""


@register(
    "x21_recursive_cte",
    oracle=_X21_SQL.format(part="part"),
    tags=("extension", "recursion"),
)
def x21_recursive_cte(spark, sf_dir):
    """Native WITH RECURSIVE (Spark 4's recursive CTE support): ancestor
    chains over a derived decimal-digit hierarchy (parent = floor(key/10)),
    per-key depth and chain length.  The reference has no recursion at
    all; p09's connected components covers the iterative-driver-loop
    pattern — this covers the declarative form, byte-identical SQL in
    both engines.

    Scale: each recursion step is one self-union Spark materializes
    iteratively (same shape as p09's loop but planner-managed); the seed
    predicate prunes at the scan, and termination is structural
    (node > 0 strictly shrinks).  Depth is log10(key) — 4 steps here.
    """
    return spark.sql(_X21_SQL, part=load_table(spark, sf_dir, "part"))


# comma-LATERAL: the join form both engines parse (DuckDB's JOIN LATERAL
# requires ON; Spark's takes none — `, LATERAL` is inner-cross in both)
_X22_SQL = """
SELECT c.c_custkey, l.o_orderkey, l.o_totalprice
FROM {customer} c, LATERAL (
  SELECT o_orderkey, o_totalprice
  FROM {orders} o
  WHERE o.o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey
  LIMIT 2
) l
WHERE c.c_custkey < 500
ORDER BY c.c_custkey, l.o_totalprice DESC, l.o_orderkey
"""


@register(
    "x22_lateral_topn",
    oracle=_X22_SQL.format(customer="customer", orders="orders"),
    tags=("extension", "subquery"),
)
def x22_lateral_topn(spark, sf_dir):
    """LATERAL correlated subquery: top-2 orders by value per customer —
    the per-row-subquery formulation of top-n-per-group (the window
    formulation is x04).  Byte-identical SQL in both engines; ties break
    on o_orderkey so the pair set is deterministic.

    Scale: Catalyst de-correlates the lateral into a ranked join on
    o_custkey — one shuffle each side, no per-row execution; the LIMIT
    inside the lateral becomes a per-group top-k, not a global one.
    """
    return spark.sql(
        _X22_SQL,
        customer=load_table(spark, sf_dir, "customer"),
        orders=load_table(spark, sf_dir, "orders"),
    )


_X23_SQL = """
WITH wide AS (
  SELECT l_returnflag,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)      AS sum_qty,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
         CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE)      AS sum_disc
  FROM {lineitem}
  GROUP BY l_returnflag
)
SELECT l_returnflag, metric, val
FROM wide UNPIVOT (val FOR metric IN (sum_qty, sum_price, sum_disc))
ORDER BY l_returnflag, metric
"""


@register(
    "x23_unpivot",
    oracle=_X23_SQL.format(lineitem="lineitem"),
    tags=("extension", "reshape"),
)
def x23_unpivot(spark, sf_dir):
    """UNPIVOT — wide-to-long reshape, the inverse of x08's pivot:
    per-returnflag decimal-exact sums unpivoted into (metric, val) rows.
    SQL-standard syntax parses byte-identically in both engines.

    Scale: UNPIVOT is an Expand projection (k output rows per input row,
    no shuffle) over an already-aggregated frame — the reshape itself
    adds zero exchanges; the only shuffle is the upstream partial/final
    aggregation.
    """
    return spark.sql(_X23_SQL, lineitem=load_table(spark, sf_dir, "lineitem"))


_X24_SQL = """
SELECT c_nationkey, c_custkey,
       round(percent_rank() OVER w, 9) AS bal_pct_rank,
       round(cume_dist()    OVER w, 9) AS bal_cume_dist,
       ntile(4)             OVER w     AS bal_quartile
FROM {customer}
WINDOW w AS (PARTITION BY c_nationkey
             ORDER BY c_acctbal NULLS FIRST, c_custkey NULLS FIRST)
ORDER BY c_nationkey, c_custkey
"""


@register(
    "x24_dist_windows",
    oracle=_X24_SQL.format(customer="customer"),
    tags=("extension", "window"),
)
def x24_dist_windows(spark, sf_dir):
    """Distribution window functions — percent_rank / cume_dist / ntile —
    rounding out the §2.5 window family beyond rank top-k (x04) and
    frame-based running aggregates (x19).  The named-WINDOW SQL parses
    byte-identically in both engines; (c_acctbal, c_custkey) is a total
    order so every rank — and the (rank-1)/(n-1) divisions behind
    percent_rank/cume_dist — is deterministic and bit-identical.  The
    explicit NULLS FIRST pins the one place the dialects' defaults part:
    Spark ASC sorts NULLS FIRST, DuckDB NULLS LAST (r8 star-schema
    sweep: a NULL acctbal flipped every rank in its nation).

    Scale: one shuffle on the partition key (nation), one sort within
    partitions; all three functions evaluate in the same window pass, and
    skewed nations split under AQE like any other sort.
    """
    return spark.sql(_X24_SQL, customer=load_table(spark, sf_dir, "customer"))


# ---------------------------------------------------------------------------
# x25 — native PIVOT: the wide reshape that inverts x23's UNPIVOT.  x07
# builds the same shape with manual CASE WHEN conditional aggregates; x25
# uses Spark SQL's first-class PIVOT clause (multiple aggregates, aliased
# value list), which Catalyst lowers to the identical single-pass
# hash-aggregate plan — proving the sugar and the manual form converge.
# The oracle spells out the conditional aggregates, so the test also pins
# that equivalence cross-engine.
# ---------------------------------------------------------------------------

_X25_TYPES = ("view", "click", "purchase")

_X25_ORACLE = """
SELECT user_id % 7 AS bucket,
       COUNT(CASE WHEN event_type = 'view' THEN value END)     AS view_n,
       CAST(SUM(CASE WHEN event_type = 'view'
                     THEN value::DECIMAL(18,4) END) AS DOUBLE)     AS view_amt,
       COUNT(CASE WHEN event_type = 'click' THEN value END)    AS click_n,
       CAST(SUM(CASE WHEN event_type = 'click'
                     THEN value::DECIMAL(18,4) END) AS DOUBLE)     AS click_amt,
       COUNT(CASE WHEN event_type = 'purchase' THEN value END) AS purchase_n,
       CAST(SUM(CASE WHEN event_type = 'purchase'
                     THEN value::DECIMAL(18,4) END) AS DOUBLE)     AS purchase_amt
FROM (SELECT user_id, event_type, CASE WHEN isnan(value) THEN NULL ELSE value END AS value FROM events) events
GROUP BY bucket
ORDER BY bucket
"""


@register("x25_pivot", oracle=_X25_ORACLE, tags=("extension", "reshape", "events"))
def x25_pivot(spark, sf_dir):
    """Native PIVOT reshape: per-user-bucket event counts and decimal-exact
    value sums, one output column pair per event type.  Event types
    outside the IN list are dropped by the clause itself — no pre-filter
    needed.

    Scale: PIVOT is sugar over groupBy(bucket).agg(conditional aggs) —
    one partial-agg shuffle on the 7-value bucket key, output width fixed
    by the declared value list (never data-dependent), so the plan is
    identical at any SF.  A data-driven pivot (unknown value set) would
    need a distinct-scan first — that is x07's two-phase territory.
    """
    wide = spark.sql(
        """
        SELECT * FROM (
          SELECT user_id % 7 AS bucket, event_type,
                 CAST(CASE WHEN isnan(value) THEN NULL ELSE value END AS DECIMAL(18,4)) AS v
          FROM {events}
        )
        PIVOT (COUNT(v) AS n, SUM(v) AS amt
               FOR event_type IN ('view' AS view, 'click' AS click,
                                  'purchase' AS purchase))
        """,
        events=load_table(spark, sf_dir, "events"),
    )
    cols = [F.col("bucket")]
    for ty in _X25_TYPES:
        # PIVOT leaves a NULL cell when a (bucket, type) combination has
        # no rows at all; the conditional-aggregate form COUNTs it as 0 —
        # align with COUNT semantics (visible only on degenerate corpora
        # where NULL event_types empty out combinations)
        cols.append(F.coalesce(F.col(f"{ty}_n"), F.lit(0)).alias(f"{ty}_n"))
        cols.append(F.col(f"{ty}_amt").cast("double").alias(f"{ty}_amt"))
    return wide.select(*cols).orderBy("bucket")


# ---------------------------------------------------------------------------
# x27 — time-based RANGE-frame windows (interval frames, peer-inclusive)
# ---------------------------------------------------------------------------

_X27_SQL = """
SELECT user_id,
       event_id,
       COUNT(*) OVER w_1h                                      AS n_last_hour,
       CAST(SUM(CAST(CASE WHEN isnan(value) THEN NULL ELSE value END AS DECIMAL(18,4))) OVER w_1h AS DOUBLE)
                                                               AS value_last_hour,
       COUNT(*) OVER w_1d                                      AS n_last_day
FROM {events} WHERE ts IS NOT NULL
WINDOW
  w_1h AS (PARTITION BY user_id ORDER BY ts
           RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW),
  w_1d AS (PARTITION BY user_id ORDER BY ts
           RANGE BETWEEN INTERVAL 24 HOURS PRECEDING AND CURRENT ROW)
ORDER BY user_id, event_id
"""


@register(
    "x27_range_windows",
    oracle=_X27_SQL.format(events="events"),
    tags=("extension", "window", "events"),
)
def x27_range_windows(spark, sf_dir):
    """Time-based RANGE-frame windows (§2.5 depth): per-user trailing
    1-hour event count and exact DECIMAL value sum — the interval-frame
    family (RANGE BETWEEN INTERVAL ... PRECEDING) that x19's row-counted
    frames cannot express: the frame width is wall-clock, not row count,
    the velocity/rate-limiting signal an abuse or billing pipeline
    computes per entity.

    Determinism: a RANGE frame is defined by the ORDER BY VALUE interval
    [ts - 1h, ts], inclusive of all peers — so the result is independent
    of row order among equal timestamps and needs no tiebreaker column
    (unlike ROWS frames); the sum runs over DECIMAL(18,4).  Both engines
    implement the identical inclusive-boundary SQL-standard frame.

    Scale: one shuffle on user_id, one sort per partition, then a
    two-pointer sliding frame over each partition — the same single
    Window operator cost profile as x19, bounded state (the 1 h horizon),
    no self-join (the naive equivalent is an O(n^2) range self-join per
    user).
    """
    return spark.sql(_X27_SQL, events=load_table(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# x28 — QUALIFY clause (window filter without a manual subquery)
# ---------------------------------------------------------------------------

_X28_SQL = """
SELECT l_returnflag, l_orderkey, l_linenumber,
       CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS price_c,
       CAST(ROW_NUMBER() OVER (PARTITION BY l_returnflag
                               ORDER BY l_extendedprice DESC,
                                        l_orderkey, l_linenumber) AS BIGINT) AS rn
FROM lineitem
QUALIFY rn <= 5
ORDER BY l_returnflag, rn, l_orderkey, l_linenumber
"""


@register(
    "x28_qualify_topk",
    # DuckDB runs the IDENTICAL statement through its NATIVE QUALIFY —
    # the oracle is the dialect the frontend emulates
    oracle=_X28_SQL,
    tags=("extension", "frontend", "window"),
)
def x28_qualify_topk(spark, sf_dir):
    """QUALIFY surface parity: the Session frontend rewrites the clause
    into a window-filter subquery (session.Session._rewrite_qualify) and
    the oracle executes the SAME text on DuckDB's native QUALIFY — the
    strongest possible check for a frontend feature: one statement, two
    engines, two code paths, one value hash.

    The predicate references the select-list ALIAS (rn), exercising the
    output-relation scoping rule.  Determinism: the window order has a
    unique key among distinct rows — tied full-duplicate rows are
    interchangeable under the multiset compare.  Plan: one window pass +
    filter; Catalyst pushes nothing through the window (correct — the
    predicate depends on it), so the shape is exactly the manual
    subquery's.
    """
    from sqlrs_spark.session import Session

    # a session of its own: the frontend binds by view name, and the
    # caller's views stay as they are
    s = Session(spark.newSession())
    register_views(s.spark, sf_dir, ("lineitem",))
    return s.sql(_X28_SQL)


# ---------------------------------------------------------------------------
# x29 — numeric RANGE-frame windows (value-offset frames, peer-inclusive)
# ---------------------------------------------------------------------------

# The frame aggregates are constant per (partition, order-value) peer set,
# so the output collapses to DISTINCT peer rows — compact AND trivially
# deterministic (no tiebreaker needed anywhere).
_X29_SQL = """
SELECT DISTINCT
       l_returnflag,
       CAST(l_quantity AS BIGINT)                                AS qty,
       COUNT(*) OVER w_below                                     AS n_within_5_below,
       CAST(SUM(CAST(l_quantity AS BIGINT)) OVER w_below AS BIGINT)
                                                                 AS qty_sum_5_below,
       COUNT(*) OVER w_around                                    AS n_within_3_around
FROM {lineitem}
WINDOW
  w_below  AS (PARTITION BY l_returnflag ORDER BY CAST(l_quantity AS BIGINT)
               RANGE BETWEEN 5 PRECEDING AND CURRENT ROW),
  w_around AS (PARTITION BY l_returnflag ORDER BY CAST(l_quantity AS BIGINT)
               RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)
ORDER BY l_returnflag, qty
"""


@register(
    "x29_numeric_range_windows",
    oracle=_X29_SQL.format(lineitem="lineitem"),
    tags=("extension", "window"),
)
def x29_numeric_range_windows(spark, sf_dir):
    """Numeric value-offset RANGE frames — the third frame kind, completing
    the window-frame matrix alongside x19 (ROWS) and x27 (time-interval
    RANGE): for every quantity value, how many line items fall within a
    quantity band below / around it, per return flag.  The band-count
    shape behind histogram smoothing and "similar-size orders" features.

    Value frames are peer-inclusive by definition (every row with the
    same ORDER BY value joins the frame), so results need no tiebreaker
    — and both frame aggregates are constant per (flag, quantity) peer
    set, which the DISTINCT exploits to emit one row per distinct value.
    Identical statement text runs on both engines.

    At scale: one hash-partitioned sort per flag partition computes both
    frames in a single Window operator (same-partitioning frames share
    the sort); the DISTINCT collapses map-side.  Quantity is cast to
    BIGINT so the frame bounds are exact integer arithmetic in both
    engines (double-valued RANGE offsets invite representation drift).
    """
    return spark.sql(_X29_SQL, lineitem=load_table(spark, sf_dir, "lineitem"))


# ---------------------------------------------------------------------------
# x30 — observed metrics (CollectMetrics: single-pass data-quality counters)
# ---------------------------------------------------------------------------


@register(
    "x30_observed_metrics",
    # the oracle recomputes every observed counter as plain aggregates —
    # the semantics CollectMetrics must match while riding the main job
    oracle="""
    SELECT COUNT(*) AS n_rows,
           CAST(COALESCE(SUM(CASE WHEN n_chars < 20 THEN 1 END), 0) AS BIGINT)
             AS n_short,
           CAST(COALESCE(SUM(CASE WHEN lang NOT IN ('en','de','es','fr','zh')
                                  THEN 1 END), 0) AS BIGINT) AS n_bad_lang,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars
    FROM documents
    """,
    tags=("extension", "observability"),
)
def x30_observed_metrics(spark, sf_dir):
    """Observed metrics via ``DataFrame.observe`` (Catalyst CollectMetrics):
    data-quality counters — row count, short-doc count, unknown-language
    count, char totals — harvested from the SAME single pass that runs the
    main aggregate, instead of a second full scan.  At 100 TB this is the
    only affordable way to emit per-job quality telemetry: the metrics
    expressions ride the scan inside the existing job (Spark streams them
    through an accumulator), so observability costs zero extra I/O.

    The callable executes the observed plan once (the Observation handle
    requires a completed action), then returns the harvested metrics as a
    one-row frame; the oracle recomputes every counter as ordinary
    aggregates over the same table, so the driver hash proves
    CollectMetrics' accumulator path agrees with the declarative
    semantics.  tests/test_plans pins that the observed plan contains a
    CollectMetrics node (the single-pass property, not a second scan).
    """
    from pyspark.sql import Observation

    obs = Observation("dq")
    docs = load_table(spark, sf_dir, "documents").observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum((F.col("n_chars") < 20).cast("long")).alias("n_short"),
        F.sum(
            (~F.col("lang").isin("en", "de", "es", "fr", "zh")).cast("long")
        ).alias("n_bad_lang"),
        F.sum("n_chars").alias("total_chars"),
    )
    # the main job: any action over the observed node populates the
    # metrics; max(n_chars) stands in for the real pipeline's aggregate
    main = docs.agg(F.max("n_chars").alias("max_chars"))
    max_chars = main.collect()[0]["max_chars"]
    m = obs.get
    return spark.createDataFrame(
        [
            (
                int(m["n_rows"]),
                int(m["n_short"]),
                int(m["n_bad_lang"]),
                int(m["total_chars"]),
                int(max_chars),
            )
        ],
        "n_rows bigint, n_short bigint, n_bad_lang bigint,"
        " total_chars bigint, max_chars bigint",
    )


# ---------------------------------------------------------------------------
# x31 — interval range join via time-bucket expansion (the range-join
#       optimization Spark lacks natively)
# ---------------------------------------------------------------------------

_X31_SPARK = """
WITH win AS (
  SELECT user_id AS owner,
         MIN(ts) AS w_start,
         MIN(ts) + INTERVAL 6 HOURS AS w_end
  FROM {events} WHERE user_id % 10 = 0 GROUP BY user_id
),
winb AS (
  SELECT owner, w_start, w_end, bucket
  FROM win
  LATERAL VIEW explode(sequence(date_trunc('hour', w_start),
                                date_trunc('hour', w_end),
                                interval 1 hour)) AS bucket
),
ev AS (
  SELECT user_id, ts,
         CAST(FLOOR((CASE WHEN isnan(value) THEN NULL ELSE value END) * 100 + 0.5) AS BIGINT) AS v_cents,
         date_trunc('hour', ts) AS bucket
  FROM {events}
)
SELECT w.owner,
       COUNT(*) AS n_events,
       COUNT(DISTINCT e.user_id) AS n_users,
       CAST(SUM(e.v_cents) AS BIGINT) AS total_cents
FROM winb w JOIN ev e ON e.bucket = w.bucket
WHERE e.ts >= w.w_start AND e.ts < w.w_end
GROUP BY w.owner
ORDER BY w.owner
"""

# the oracle is the NAIVE range join — a different formulation on purpose,
# proving the bucket-expansion rewrite preserves interval-overlap semantics
_X31_DUCK = """
WITH win AS (
  SELECT user_id AS owner,
         MIN(ts) AS w_start,
         MIN(ts) + INTERVAL 6 HOURS AS w_end
  FROM events WHERE user_id % 10 = 0 GROUP BY user_id
)
SELECT w.owner,
       COUNT(*) AS n_events,
       COUNT(DISTINCT e.user_id) AS n_users,
       CAST(SUM(CAST(FLOOR((CASE WHEN isnan(e.value) THEN NULL ELSE e.value END) * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM win w JOIN events e ON e.ts >= w.w_start AND e.ts < w.w_end
GROUP BY w.owner
ORDER BY w.owner
"""


@register(
    "x31_range_join_bucketed",
    oracle=_X31_DUCK,
    tags=("extension", "join", "events"),
)
def x31_range_join_bucketed(spark, sf_dir):
    """Interval range join — every event falling inside each observation
    window ([first event, +6h) per sampled user), joined CROSS-ENTITY —
    via time-bucket expansion: windows explode map-side into the hour
    buckets they cover (bounded: 7 per 6-hour window), events map to
    exactly ONE bucket each, and the join becomes a bucket EQUI-join plus
    a residual interval filter.

    Spark has no native band/range join optimization: a raw `ON ts
    BETWEEN s AND e` join plans as BroadcastNestedLoopJoin — acceptable
    only when one side is a constant-size dimension (x13's 4-row band
    table; temporal.py:134), O(|wins| * |events|) compares when BOTH
    sides grow with the data, as observation windows do.  The bucket
    rewrite is the standard fix (the technique behind Databricks' range
    join hint, built from plain operators): each event is compared only
    against windows sharing its hour bucket, so work is O(|events| *
    windows-per-bucket), shuffle-partitioned on the bucket key, AQE-
    managed like any equi-join.  Same rows, provably: the DuckDB oracle
    runs the NAIVE inequality join.

    All arithmetic stays on TIMESTAMP_NTZ (no epoch cast), so the plan is
    timezone-proof by construction; the output carries no timestamps.
    Determinism: COUNT/COUNT DISTINCT/bigint-cents SUM are exact.
    """
    return spark.sql(_X31_SPARK, events=load_table(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# x35 — ordered string aggregation (LISTAGG ... WITHIN GROUP)
# ---------------------------------------------------------------------------


def _x35(spark_dialect: bool) -> str:
    """Dual-dialect ordered string aggregation.

    Per market segment: the top-5 customer nations as one deterministic
    ``NAME:count`` CSV, ordered inside the aggregate (count desc, name).
    Spark 4's ``listagg(expr, sep) WITHIN GROUP (ORDER BY ...)`` is the
    ANSI form; DuckDB spells it ``string_agg(expr, sep ORDER BY ...)``.

    Scale shape: the aggregation that touches the FACT (customer) is a
    plain composite-key count — map-side partial, one shuffle on
    (segment, nation).  The ordered concat runs strictly AFTER that
    reduction, over the |segments| x |nations| frame (hundreds of rows at
    any corpus size), so no unbounded per-group string state ever crosses
    an exchange — the pattern for "ordered label list per entity" that
    stays safe at 100 TB.
    """
    if spark_dialect:
        item = "concat(n_name, ':', cast(n_cust as string))"
        agg = f"listagg({item}, ',') WITHIN GROUP (ORDER BY n_cust DESC, n_name)"
        cust, nat = "{customer}", "{nation}"
    else:
        item = "n_name || ':' || CAST(n_cust AS VARCHAR)"
        agg = f"string_agg({item}, ',' ORDER BY n_cust DESC, n_name)"
        cust, nat = "customer", "nation"
    return f"""
WITH per AS (
  SELECT c_mktsegment AS segment, n_name, COUNT(*) AS n_cust
  FROM {cust} JOIN {nat} ON c_nationkey = n_nationkey
  GROUP BY 1, 2
),
ranked AS (
  SELECT segment, n_name, n_cust,
         ROW_NUMBER() OVER (PARTITION BY segment
                            ORDER BY n_cust DESC, n_name) AS rk
  FROM per
)
SELECT segment,
       {agg} AS top_nations,
       COUNT(*) AS n_in_list,
       CAST(SUM(n_cust) AS BIGINT) AS covered_customers
FROM ranked
WHERE rk <= 5
GROUP BY segment
ORDER BY segment
"""


@register("x35_string_agg", oracle=_x35(False), tags=("extension", "aggregate"))
def x35_string_agg(spark, sf_dir):
    """Ordered string aggregation (ANSI LISTAGG / string_agg) — not in the
    reference (its aggregate set is sum/count/min/max/avg over scalars,
    src/function/aggregate.rs); Spark 4 provides it natively and the plan
    keeps the concat off the fact-table path (see _x35)."""
    return spark.sql(
        _x35(True),
        customer=load_table(spark, sf_dir, "customer"),
        nation=load_table(spark, sf_dir, "nation"),
    )
