"""Flagship + reference-core operators, query layer, events (split from the original queries.py; registration
order preserved — modules import in the original definition order)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from financial_data_pipeline_optimization_spark.functions import explode_nonempty, portable_id
from financial_data_pipeline_optimization_spark.operators import (
    clean,
    dedup,
    joins,
    scd,
    sketch,
    temporal,
    timeseries,
)
from financial_data_pipeline_optimization_spark.sources import load_table

from financial_data_pipeline_optimization_spark.queries._registry import (
    QuerySpec,
    _REGISTRY,
    _r2,
    _r4,
    _register,
    _t,
)



# ===========================================================================
# Flagship (SURVEY.md §7.2): the reference-core surface in one query —
# scan, cast, calendar derivation (F1-F5), join, group-agg, window rank.
# ===========================================================================


@_register(
    "flagship_monthly_segment_revenue",
    """
    WITH enriched AS (
      SELECT c.c_mktsegment,
             CAST(year(o.o_orderdate) AS INT) AS order_year,
             CAST(month(o.o_orderdate) AS INT) AS order_month,
             l.l_extendedprice * (1 - l.l_discount) AS rev,
             l.l_orderkey
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    agg AS (
      SELECT c_mktsegment, order_year, order_month,
             floor(SUM(rev)*100 + 0.50005)/100 AS revenue,
             CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
      FROM enriched
      GROUP BY 1, 2, 3
    )
    SELECT c_mktsegment, order_year, order_month, revenue, n_orders,
           CAST(RANK() OVER (
             PARTITION BY order_year, order_month
             ORDER BY revenue DESC, c_mktsegment) AS INT) AS revenue_rank
    FROM agg
    """,
    doc="Monthly revenue per market segment with in-month rank "
    "(scan+join+agg+window; reference core F1-F5/P/§2.8 in one plan). "
    "Order-grain factorization: segment and order month are "
    "ORDER-level attributes, so lineitems pre-aggregate to one "
    "revenue row per order BEFORE the joins — the orderkey groupBy "
    "combines map-side (lineitem is clustered by orderkey), the "
    "orders/customer joins see order-grain rows instead of 4x the "
    "lineitems, and COUNT(DISTINCT l_orderkey) degenerates to a "
    "plain count (each order lands in exactly one group), removing "
    "the distinct-expand second shuffle entirely. The oracle keeps "
    "the flat lineitem-grain SUM + COUNT DISTINCT, pinning that the "
    "factorization loses nothing.",
)
def q_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    per_order = lineitem.groupBy("l_orderkey").agg(
        F.sum(
            F.col("l_extendedprice") * (1 - F.col("l_discount"))
        ).alias("order_rev")
    )
    enriched = (
        per_order.join(orders, per_order.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .select(
            "c_mktsegment",
            F.year("o_orderdate").alias("order_year"),
            F.month("o_orderdate").alias("order_month"),
            "order_rev",
        )
    )
    agg = enriched.groupBy("c_mktsegment", "order_year", "order_month").agg(
        _r2(F.sum("order_rev")).alias("revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    w = Window.partitionBy("order_year", "order_month").orderBy(
        F.col("revenue").desc(), F.col("c_mktsegment")
    )
    return agg.withColumn("revenue_rank", F.rank().over(w))


# ===========================================================================
# Reference core operators (SURVEY.md §2) over the star schema
# ===========================================================================


@_register(
    "temporal_derive",
    """
    SELECT o_orderkey,
           CAST(o_orderdate AS DATE) AS order_date,
           CAST(year(o_orderdate) AS INT) AS "Year",
           CAST(month(o_orderdate) AS INT) AS "Month",
           CAST(day(o_orderdate) AS INT) AS "Day",
           CAST(quarter(o_orderdate) AS INT) AS "Quarter",
           dayname(o_orderdate) AS "Weekday"
    FROM orders
    """,
    doc="F1-F5 calendar derivations (transformation.py:70-74) on o_orderdate.",
)
def q_temporal(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").withColumn(
        "order_date", F.col("o_orderdate").cast("date")
    )
    return temporal.derive_calendar(orders, "order_date").select(
        "o_orderkey", "order_date", "Year", "Month", "Day", "Quarter", "Weekday"
    )


@_register(
    "cast_project",
    """
    SELECT l_orderkey,
           CAST(l_linenumber AS BIGINT) AS line_no,
           floor(l_extendedprice * (1 + l_tax)*100 + 0.50005)/100 AS gross_price,
           lower(l_returnflag) AS flag,
           CAST(floor(l_quantity) AS BIGINT) AS qty_floor
    FROM lineitem
    """,
    doc="P1-P6: projection, rename, numeric/string casts (transformation.py:57-66).",
)
def q_cast_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return clean.project(
        li,
        [
            F.col("l_orderkey"),
            F.col("l_linenumber").cast("long").alias("line_no"),
            _r2(F.col("l_extendedprice") * (1 + F.col("l_tax"))).alias(
                "gross_price"
            ),
            F.lower("l_returnflag").alias("flag"),
            F.floor("l_quantity").cast("long").alias("qty_floor"),
        ],
    )


@_register(
    "fillna_outer_join",
    """
    SELECT c.c_custkey,
           COALESCE(o.o_orderkey, 0) AS o_orderkey,
           COALESCE(o.o_totalprice, 0.0) AS o_totalprice,
           COALESCE(o.o_orderstatus, 'Unknown') AS o_orderstatus
    FROM customer c
    LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    """,
    doc="N1 type-dispatched fillna (transformation.py:81-89) over the "
    "nulls produced by an outer join.",
)
def q_fillna(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    joined = customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left"
    ).select("c_custkey", "o_orderkey", "o_totalprice", "o_orderstatus")
    return clean.fill_nulls(joined)


@_register(
    "dedup_keep_latest",
    """
    SELECT o_custkey, o_orderkey, o_totalprice,
           CAST(o_orderdate AS DATE) AS o_date
    FROM orders
    QUALIFY ROW_NUMBER() OVER (
      PARTITION BY o_custkey
      ORDER BY o_orderdate DESC, o_orderkey DESC) = 1
    """,
    doc="D1 keep-latest dedup (extraction.py:105, keep='last') — latest "
    "order per customer via explicit row_number ordering.",
)
def q_keep_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return dedup.keep_latest(
        orders, ["o_custkey"], ["o_orderdate", "o_orderkey"]
    ).select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.col("o_orderdate").cast("date").alias("o_date"),
    )


@_register(
    "anti_join_new_keys",
    """
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '2001-01-01')
    """,
    doc="J1/K5: the NOT EXISTS dedup insert (loading.py:159-169) as a "
    "Spark left-anti join — customers with no orders in the current "
    "period (churn candidates). The period filter keeps the check "
    "NON-VACUOUS: every customer has some order in the synthetic "
    "data, so the unfiltered anti join verified nothing (0≡0); the "
    "filter is pushed to the orders scan before the anti join.",
)
def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp")
    )
    return customer.join(
        orders.select(F.col("o_custkey").alias("c_custkey")),
        "c_custkey",
        "left_anti",
    ).select("c_custkey", "c_name")


@_register(
    "upsert_merge",
    """
    WITH target AS (SELECT * FROM orders WHERE o_orderkey % 3 <> 0),
         staged AS (SELECT * FROM orders WHERE o_orderkey % 2 = 0),
         fresh AS (
           SELECT s.* FROM staged s
           WHERE NOT EXISTS (SELECT 1 FROM target t
                             WHERE t.o_orderkey = s.o_orderkey)
         )
    SELECT o_orderkey, o_custkey, o_totalprice FROM target
    UNION ALL
    SELECT o_orderkey, o_custkey, o_totalprice FROM fresh
    """,
    doc="I2: full staging→target upsert (loading.py:127-178) engine-side: "
    "left-anti + unionByName on simulated key splits of orders.",
)
def q_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    target = orders.filter(F.col("o_orderkey") % 3 != 0)
    staged = orders.filter(F.col("o_orderkey") % 2 == 0)
    merged = joins.anti_join_upsert(target, staged, ["o_orderkey"])
    return merged.select("o_orderkey", "o_custkey", "o_totalprice")


@_register(
    "lookup_join_dim",
    """
    SELECT n.n_nationkey, n.n_name, r.r_name
    FROM nation n LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
    """,
    doc="J2/F6: broadcast dim lookup (the ticker→company dict map, "
    "extraction.py:85-94) — nation enriched with region name.",
)
def q_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return joins.broadcast_lookup(
        nation, region, nation.n_regionkey == region.r_regionkey
    ).select("n_nationkey", "n_name", "r_name")


@_register(
    "union_sort",
    """
    SELECT * FROM (
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      WHERE o_orderstatus = 'F'
      UNION ALL
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      WHERE o_orderstatus <> 'F'
    ) ORDER BY o_orderkey
    """,
    doc="U1/U2 unions (extraction.py:79,104) + O1 multi-key sort "
    "(extraction.py:112).",
)
def q_union_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    f_part = orders.filter(F.col("o_orderstatus") == "F")
    rest = orders.filter(F.col("o_orderstatus") != "F")
    return f_part.unionByName(rest).orderBy("o_orderkey")


@_register(
    "stable_id",
    """
    SELECT o_orderkey,
           md5(concat(
             CASE WHEN o_orderkey IS NULL THEN chr(0)
                  ELSE chr(1) || CAST(o_orderkey AS VARCHAR) END,
             chr(31),
             CASE WHEN o_custkey IS NULL THEN chr(0)
                  ELSE chr(1) || CAST(o_custkey AS VARCHAR) END
           )) AS row_id
    FROM orders
    """,
    doc="F7 replacement (SURVEY §7.4): deterministic content-derived row "
    "id instead of monotonically_increasing_id (transformation.py:92).",
)
def q_stable_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey", portable_id("o_orderkey", "o_custkey").alias("row_id")
    )


# ===========================================================================
# Query layer (SURVEY.md §7.3): aggregations, windows, set ops, top-k
# ===========================================================================


@_register(
    "group_agg_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           floor(SUM(l_quantity)*100 + 0.50005)/100 AS sum_qty,
           floor(SUM(l_extendedprice)*100 + 0.50005)/100 AS sum_base_price,
           floor(SUM(l_extendedprice * (1 - l_discount))*100 + 0.50005)/100
             AS sum_disc_price,
           floor(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax))*100
                 + 0.50005)/100 AS sum_charge,
           floor(AVG(l_quantity)*100 + 0.50005)/100 AS avg_qty,
           floor(AVG(l_extendedprice)*100 + 0.50005)/100 AS avg_price,
           floor(AVG(l_discount)*10000 + 0.5000005)/10000 AS avg_disc,
           CAST(COUNT(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1-shaped pricing summary: filter + groupBy + 8 aggregates "
    "(the §2.8 aggregation layer the reference lacks).",
)
def q_group_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").cast("date") <= F.lit("1998-09-02").cast("date")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        _r2(F.sum("l_quantity")).alias("sum_qty"),
        _r2(F.sum("l_extendedprice")).alias("sum_base_price"),
        _r2(F.sum(disc_price)).alias("sum_disc_price"),
        _r2(F.sum(disc_price * (1 + F.col("l_tax")))).alias("sum_charge"),
        _r2(F.avg("l_quantity")).alias("avg_qty"),
        _r2(F.avg("l_extendedprice")).alias("avg_price"),
        _r4(F.avg("l_discount")).alias("avg_disc"),
        F.count("*").alias("count_order"),
    )


@_register(
    "topk_orders",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
    doc="Top-k: orderBy + limit; Catalyst plans TakeOrderedAndProject "
    "(no full sort at scale).",
)
def q_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
    )


@_register(
    "window_rank_in_nation",
    """
    SELECT c_custkey, c_nationkey, c_acctbal,
           CAST(DENSE_RANK() OVER (
             PARTITION BY c_nationkey ORDER BY c_acctbal DESC) AS INT)
             AS bal_rank
    FROM customer
    """,
    doc="Ranking window: dense_rank of customers by balance within nation.",
)
def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("c_nationkey").orderBy(F.col("c_acctbal").desc())
    return (
        _t(spark, sf_dir, "customer")
        .select("c_custkey", "c_nationkey", "c_acctbal")
        .withColumn("bal_rank", F.dense_rank().over(w))
    )


@_register(
    "window_moving_avg",
    """
    SELECT o_custkey, o_orderkey,
           floor(AVG(o_totalprice) OVER (
             PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)*100 + 0.50005)/100
             AS moving_avg_price
    FROM orders
    """,
    doc="Frame-spec window: 3-row moving average of order value per "
    "customer (the per-ticker moving-average shape, SURVEY §2.8).",
)
def q_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-2, 0)
    )
    return _t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        _r2(F.avg("o_totalprice").over(w)).alias("moving_avg_price"),
    )


@_register(
    "window_lag_returns",
    """
    SELECT o_custkey, o_orderkey,
           floor((o_totalprice - LAG(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey))*100
             + 0.50005)/100 AS price_delta
    FROM orders
    """,
    doc="lag() analytic window — the day-over-day return/delta shape.",
)
def q_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return _t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        _r2(
            F.col("o_totalprice") - F.lag("o_totalprice").over(w)
        ).alias("price_delta"),
    )


@_register(
    "rollup_region_nation",
    """
    SELECT r.r_name, n.n_name,
           CAST(COUNT(c.c_custkey) AS BIGINT) AS n_customers,
           floor(SUM(c.c_acctbal)*100 + 0.50005)/100 AS total_balance
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
    """,
    doc="Hierarchical rollup: region → nation → grand total.",
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    joined = customer.join(
        nation, customer.c_nationkey == nation.n_nationkey
    ).join(region, nation.n_regionkey == region.r_regionkey)
    return joined.rollup("r_name", "n_name").agg(
        F.count("c_custkey").alias("n_customers"),
        _r2(F.sum("c_acctbal")).alias("total_balance"),
    )


@_register(
    "cube_status_priority",
    """
    SELECT o_orderstatus, o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           floor(SUM(o_totalprice)*100 + 0.50005)/100 AS total_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    doc="Cube over order status × priority.",
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            _r2(F.sum("o_totalprice")).alias("total_price"),
        )
    )


@_register(
    "set_intersect",
    """
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    """,
    doc="INTERSECT: customers with both fulfilled and open orders.",
)
def q_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    f_cust = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    o_cust = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    return f_cust.intersect(o_cust)


@_register(
    "set_except",
    """
    SELECT c_custkey FROM customer
    EXCEPT
    SELECT o_custkey AS c_custkey FROM orders
    WHERE o_totalprice > 400000
    """,
    doc="EXCEPT: the anti-join shape as a set operation — customers "
    "who never placed a large order. (The big-order filter keeps the "
    "difference non-empty; the unfiltered version was vacuous since "
    "every customer has orders.)",
)
def q_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = _t(spark, sf_dir, "customer").select("c_custkey")
    ordered = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 400000)
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return customer.exceptAll(ordered).distinct()


@_register(
    "semi_join_big_spenders",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_totalprice > 200000)
    """,
    doc="Left-semi join (EXISTS): customers with at least one large order.",
)
def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = _t(spark, sf_dir, "customer")
    big = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 200000)
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return customer.join(big, "c_custkey", "left_semi").select(
        "c_custkey", "c_name"
    )


@_register(
    "distinct_agg",
    """
    SELECT o_orderstatus,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders GROUP BY o_orderstatus
    """,
    doc="Distinct aggregate per group (Catalyst expand + two-phase agg).",
)
def q_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.count("*").alias("n_orders"),
        )
    )


@_register(
    "pivot_status_by_priority",
    """
    SELECT o_orderpriority,
           floor(COALESCE(SUM(o_totalprice) FILTER (o_orderstatus = 'F'), 0)
                 *100 + 0.50005)/100 AS "F",
           floor(COALESCE(SUM(o_totalprice) FILTER (o_orderstatus = 'O'), 0)
                 *100 + 0.50005)/100 AS "O",
           floor(COALESCE(SUM(o_totalprice) FILTER (o_orderstatus = 'P'), 0)
                 *100 + 0.50005)/100 AS "P"
    FROM orders GROUP BY o_orderpriority
    """,
    doc="Pivot: order value by priority × status (explicit value list — "
    "no driver-side distinct scan).",
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    pivoted = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .sum("o_totalprice")
    )
    return pivoted.select(
        "o_orderpriority",
        *[_r2(F.coalesce(F.col(s), F.lit(0.0))).alias(s)
          for s in ("F", "O", "P")],
    )


@_register(
    "star_join_revenue_by_region",
    """
    SELECT r.r_name,
           CAST(floor(SUM(CAST(l.l_extendedprice AS DECIMAL(15,2))
                          * (1 - CAST(l.l_discount AS DECIMAL(15,2))))
                      * 100 + 0.50005) / 100 AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
    doc="4-way star join with broadcast dims (TPC-H Q5 shape). "
    "Region is an ORDER-level attribute (via custkey), so lineitems "
    "pre-aggregate to one revenue row per order before entering the "
    "star: the orderkey groupBy combines map-side (lineitem is "
    "clustered by orderkey) and every join — including the customer "
    "join that outgrows the broadcast threshold at scale — moves "
    "order-grain rows instead of 4x the lineitems. The oracle keeps "
    "the flat lineitem-grain join+SUM. Both sum exact DECIMAL(15,2) "
    "line revenue before the cents rounding: a double sum at region "
    "scale can miss an exact .xx5 tie by more than _r2's nudge, in a "
    "direction that depends on summation order, so the engines could "
    "round the same tie apart.",
)
def q_star_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    per_order = li.groupBy("l_orderkey").agg(
        F.sum(
            F.col("l_extendedprice").cast("decimal(15,2)")
            * (1 - F.col("l_discount").cast("decimal(15,2)"))
        ).alias("order_rev")
    )
    return (
        per_order.join(orders, per_order.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(nation, customer.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(_r2(F.sum("order_rev")).alias("revenue"))
    )


# ===========================================================================
# Events: JSON, temporal windows, as-of / range joins, sessionization
# (SURVEY.md §7.3 scalar extensions + §7.5 streaming batch-twins)
# ===========================================================================


@_register(
    "json_extract_agg",
    """
    SELECT CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           floor(SUM(value)*100 + 0.50005)/100 AS total_value
    FROM events
    GROUP BY 1
    """,
    doc="JSON prop extraction (from_json / get_json_object on "
    "events.props) + aggregation.",
)
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    return (
        events.withColumn(
            "k_bucket",
            (F.get_json_object("props", "$.k").cast("int") % 10),
        )
        .groupBy("k_bucket")
        .agg(
            F.count("*").alias("n_events"),
            _r2(F.sum("value")).alias("total_value"),
        )
    )


@_register(
    "tumbling_window_agg",
    """
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           floor(SUM(value)*100 + 0.50005)/100 AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="Tumbling 1-hour window aggregate over events.ts — the batch "
    "twin of the streaming groupBy(window(...)) (SURVEY §7.4).",
)
def q_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.window("ts", "1 hour").getField("start").alias("window_start"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            _r2(F.sum("value")).alias("total_value"),
        )
    )


@_register(
    "sliding_window_agg",
    """
    WITH assigned AS (
      SELECT e.value,
             unnest([time_bucket(INTERVAL '30 minutes', e.ts),
                     time_bucket(INTERVAL '30 minutes', e.ts)
                       - INTERVAL '30 minutes']) AS window_start
      FROM events e
    )
    SELECT window_start,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           floor(SUM(value)*100 + 0.50005)/100 AS total_value
    FROM assigned
    GROUP BY 1
    """,
    doc="Sliding window (1 h length, 30 min slide): each event lands in "
    "2 windows; oracle assigns the two covering starts explicitly.",
)
def q_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.window("ts", "1 hour", "30 minutes")
            .getField("start")
            .alias("window_start")
        )
        .agg(
            F.count("*").alias("n_events"),
            _r2(F.sum("value")).alias("total_value"),
        )
    )


@_register(
    "session_window_agg",
    """
    WITH gaps AS (
      SELECT user_id, ts, event_id,
             CASE WHEN LAG(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, ts,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_id
      FROM gaps
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM sess GROUP BY user_id, session_id
    """,
    doc="Sessionization (30-min inactivity gap) via lag + cumulative "
    "sum — the batch twin of session_window(ts, '30 minutes').",
)
def q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cum = w.rowsBetween(Window.unboundedPreceding, 0)
    lag_ts = F.lag("ts").over(w)
    new_sess = F.when(
        lag_ts.isNull()
        | (F.unix_micros(F.col("ts")) - F.unix_micros(lag_ts) > 1_800_000_000),
        1,
    ).otherwise(0)
    return (
        events.withColumn("new_sess", new_sess)
        .withColumn("session_id", F.sum("new_sess").over(cum))
        .groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
        )
        .select(
            "user_id", "session_id", "session_start", "session_end", "n_events"
        )
    )


@_register(
    "asof_join_last_view",
    """
    WITH clicks AS (SELECT * FROM events WHERE event_type = 'click'),
         views AS (
           SELECT user_id, ts, value FROM events
           WHERE event_type = 'view'
           QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, ts
                                      ORDER BY event_id DESC) = 1
         )
    SELECT l.event_id, l.user_id, l.ts,
           r.ts AS ts_right, r.value AS value_right
    FROM clicks l ASOF LEFT JOIN views r
      ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
    doc="As-of join (operators.joins.asof_join: union+window, one "
    "shuffle): each click matched to the user's latest view at-or-before "
    "it; DuckDB's native ASOF JOIN is the oracle.",
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    views = dedup.keep_latest(
        events.filter(F.col("event_type") == "view").select(
            "user_id", "ts", "value", "event_id"
        ),
        ["user_id", "ts"],
        ["event_id"],
    ).drop("event_id")
    return joins.asof_join(
        clicks, views, on=["user_id"], left_ts="ts", right_ts="ts"
    ).withColumnRenamed("value", "value_right")


@_register(
    "range_join_followers",
    """
    SELECT a.event_id, CAST(COUNT(*) AS BIGINT) AS n_follow
    FROM events a
    JOIN events b ON a.user_id = b.user_id
      AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL '1 hour'
    GROUP BY a.event_id
    """,
    doc="Range join (operators.joins.range_join: bucketized equi-join, "
    "no nested loop): events of the same user within the hour after "
    "each event.",
)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    left = events.select("event_id", "user_id", "ts")
    right = (
        events.select("event_id", "user_id", "ts")
        .withColumn("range_start", F.col("ts"))
        .withColumn("range_end", F.col("ts") + F.expr("interval 1 hour"))
    )
    paired = joins.range_join(
        left,
        right,
        left_ts="ts",
        range_start="range_start",
        range_end="range_end",
        on=["user_id"],
        bucket="1 hour",
    )
    return (
        paired.filter(F.col("ts") > F.col("ts_right"))
        .groupBy(F.col("event_id_right").alias("event_id"))
        .agg(F.count("*").alias("n_follow"))
    )


