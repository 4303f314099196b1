"""Suite queries — tpch: the 22 TPC-H shapes plus the agg/window/set-op surface.

Split from the original suite.py; registration order is enforced
centrally by the package __init__ via _CANONICAL_ORDER."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from isilon_hadoop_tools_spark.operators.topk import topk_per_group

from isilon_hadoop_tools_spark.suite._shared import (
    PARTSUPP_SQL,
    Q11_NATION,
    Q1_CUTOFF,
    Q20_NATION,
    Q7_NATION_A,
    Q7_NATION_B,
    Q8_NATION,
    _partsupp,
    _t,
    query,
)


@query(
    "q1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                        AS sum_qty,
           round(sum(l_extendedprice), 2)                                   AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
           round(avg(l_quantity), 4)                                        AS avg_qty,
           round(avg(l_extendedprice), 4)                                   AS avg_price,
           round(avg(l_discount), 4)                                        AS avg_disc,
           count(*)                                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '{Q1_CUTOFF}'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan → pushed-down filter → 8-agg groupBy.

    Catalyst plan: parquet scan with PushedFilters on l_shipdate,
    partial (map-side) HashAggregate → exchange on the 2 group keys →
    final HashAggregate, all whole-stage-codegen'd.
    """
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit(Q1_CUTOFF).cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "q3_top_revenue_orders",
    oracle="""
    SELECT o_orderkey, o_orderdate,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1999-01-01'
      AND l_shipdate  > TIMESTAMP '1997-01-01'
    GROUP BY o_orderkey, o_orderdate
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
)
def q3_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join → agg → global top-k.

    customer is dimension-sized → broadcast into the orders scan; the
    only shuffle is the groupBy on o_orderkey; top-10 plans as
    TakeOrderedAndProject (per-partition heaps, no global sort).
    """
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1997-01-01").cast("timestamp")
    )
    return (
        li.join(
            orders.join(
                F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey")
            ).select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


@query(
    "q5_local_supplier_volume",
    oracle="""
    SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1999-01-01'
    GROUP BY n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way star join (4 broadcast dims + 1 fact
    shuffle join) → agg. region/nation/supplier/customer all broadcast;
    lineitem⋈orders is the one sort-merge/shuffle join (AQE decides).
    """
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    supplier = _t(spark, sf_dir, "supplier")
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(supplier),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@query(
    "customers_without_orders",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join (SURVEY J6/SO2 semantics on fact data)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@query(
    "urgent_orders_with_heavy_items",
    oracle="""
    SELECT o_orderkey, o_orderpriority
    FROM orders
    WHERE o_orderpriority = '1-URGENT'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_quantity > 45)
    """,
)
def urgent_orders_with_heavy_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join (SURVEY J7: existence check)."""
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45)
    return orders.join(
        li, orders.o_orderkey == li.l_orderkey, "left_semi"
    ).select("o_orderkey", "o_orderpriority")


@query(
    "top3_orders_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rank
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rank
      FROM orders
    )
    WHERE rank <= 3
    """,
)
def top3_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k via ranking window (SURVEY W3, §2.6).

    One shuffle on o_custkey; rank filter is pushed below the window's
    sort via Spark's WindowGroupLimit optimization.
    """
    orders = _t(spark, sf_dir, "orders")
    return topk_per_group(
        orders.select("o_custkey", "o_orderkey", "o_totalprice"),
        "o_custkey",
        [F.col("o_totalprice").desc(), F.col("o_orderkey")],
        3,
    )


@query(
    "agg_surface_stats",
    oracle="""
    SELECT l_returnflag,
           count(DISTINCT l_suppkey) AS n_suppliers,
           round(stddev_samp(l_quantity), 4) AS qty_stddev,
           round(quantile_cont(l_quantity, 0.5), 4) AS qty_median,
           round(quantile_cont(l_extendedprice, 0.9), 4) AS price_p90
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_surface_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count-distinct + sample stddev + exact interpolated percentiles
    (A1/A6). ``percentile`` (exact) matches DuckDB's quantile_cont;
    at 100 TB the same query swaps in approx_count_distinct /
    percentile_approx for one-pass sketches."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count_distinct("l_suppkey").alias("n_suppliers"),
        F.round(F.stddev_samp("l_quantity"), 4).alias("qty_stddev"),
        F.round(F.expr("percentile(l_quantity, 0.5)"), 4).alias("qty_median"),
        F.round(F.expr("percentile(l_extendedprice, 0.9)"), 4).alias("price_p90"),
    )


@query(
    "q14_promo_revenue",
    oracle="""
    SELECT round(100.0 * sum(CASE WHEN p_type LIKE 'PROMO%'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0 END)
                 / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-09-01'
      AND l_shipdate <  TIMESTAMP '1997-10-01'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: fact scan with a pushed one-month predicate,
    broadcast join to the part dimension, conditional aggregation."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    part = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                100.0
                * F.sum(
                    F.when(F.col("p_type").startswith("PROMO"), rev).otherwise(0.0)
                )
                / F.sum(rev),
                4,
            ).alias("promo_revenue")
        )
    )


@query(
    "q6_forecast_revenue",
    oracle="""
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: pure scan-and-aggregate; every predicate (two date
    bounds, a discount band, a quantity cap) reaches the parquet scan
    as PushedFilters — zero joins, zero shuffles past the final agg."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            )
        )
    )


@query(
    "q4_order_priority",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate <  TIMESTAMP '1997-04-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS decorrelated to a left-semi join whose
    condition mixes an equi key with a theta (date-offset) predicate —
    Catalyst keys the shuffle on l_orderkey and applies the residual
    date comparison post-match, so the semi join stays hash-based."""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    late = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    )
    return (
        orders.join(li, late, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@query(
    "q7_nation_volume",
    oracle=f"""
    SELECT supp_nation, cust_nation, l_year, round(sum(volume), 2) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             year(l_shipdate) AS l_year,
             l_extendedprice * (1 - l_discount) AS volume
      FROM supplier
      JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE (n1.n_name = '{Q7_NATION_A}' AND n2.n_name = '{Q7_NATION_B}')
         OR (n1.n_name = '{Q7_NATION_B}' AND n2.n_name = '{Q7_NATION_A}')
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: 5-way join with a *disjunctive cross-dimension*
    residual (either nation orientation). Both nation sides and
    supplier broadcast; the one big shuffle is lineitem⋈orders."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == Q7_NATION_A) & (F.col("cust_nation") == Q7_NATION_B)
    ) | ((F.col("supp_nation") == Q7_NATION_B) & (F.col("cust_nation") == Q7_NATION_A))
    return (
        li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@query(
    "q10_returned_items",
    oracle="""
    SELECT c_custkey, c_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           c_acctbal, n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate <  TIMESTAMP '1997-04-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: returned-item revenue ranking — selective fact
    predicates pushed to both scans, broadcast dims, top-k via
    TakeOrderedAndProject."""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@query(
    "q13_customer_distribution",
    oracle="""
    SELECT c_count, count(*) AS custdist
    FROM (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer
      LEFT JOIN orders ON c_custkey = o_custkey
                      AND o_orderpriority <> '5-LOW'
      GROUP BY c_custkey
    ) c_orders
    GROUP BY c_count
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: left outer join with a join-side filter, then a
    two-level aggregation (orders per customer → histogram of that
    count). count(o_orderkey) counts only matched rows — unmatched
    customers land in the c_count=0 bucket."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "5-LOW"
    )
    return (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


@query(
    "q15_top_supplier",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1997-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier
    JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: derived revenue view consumed twice — once for the
    scalar max subquery, once for the equality probe. The max side is
    a single-row broadcast; Spark reuses the revenue exchange for both
    consumers (ReusedExchange) instead of scanning lineitem twice."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
        # applied once at the source (ID keys are non-null by schema
        # contract): the probe-side join would push isnotnull into its
        # own scan, and the asymmetric filters would defeat exchange
        # reuse — the revenue subplan would be computed twice
        & F.col("l_suppkey").isNotNull()
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "total_revenue"
        )
    )
    best = revenue.agg(F.max("total_revenue").alias("_best"))
    supp = _t(spark, sf_dir, "supplier")
    return (
        revenue.join(F.broadcast(best), F.col("total_revenue") == F.col("_best"))
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("supplier_no"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@query(
    "q17_small_quantity_revenue",
    oracle="""
    SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#23' AND p_type = 'MEDIUM'
      AND l_quantity < (SELECT 0.2 * avg(l_quantity)
                        FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: correlated scalar subquery (per-part average
    quantity) decorrelated into a groupBy + broadcast join — the
    classic rewrite Catalyst itself applies to correlated aggregates;
    here it is expressed directly so the plan is one lineitem scan for
    the averages and one for the probe, no per-row subquery."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#23") & (F.col("p_type") == "MEDIUM")
    )
    part_avg = li.groupBy(F.col("l_partkey").alias("avg_partkey")).agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_cap")
    )
    return (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(part_avg), F.col("avg_partkey") == F.col("l_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_cap"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


@query(
    "q18_large_volume_customers",
    oracle="""
    SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
           round(sum(l_quantity), 2) AS sum_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                         GROUP BY l_orderkey HAVING sum(l_quantity) > 250)
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
    LIMIT 100
    """,
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: IN-over-HAVING decorrelated to a left-semi join
    against the aggregated order quantities; the heavy-orders set is
    tiny (sum(qty) > 250), so it broadcasts into the fact scan."""
    li = _t(spark, sf_dir, "lineitem")
    heavy = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("_s"))
        .filter(F.col("_s") > 250)
        .select(F.col("l_orderkey").alias("heavy_orderkey"))
    )
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    return (
        li.join(
            F.broadcast(heavy), F.col("l_orderkey") == F.col("heavy_orderkey"), "left_semi"
        )
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey"))
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .orderBy(F.col("o_totalprice").desc(), "o_orderdate", "o_orderkey")
        .limit(100)
    )


@query(
    "q19_bracket_revenue",
    oracle="""
    SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
           AND l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_bracket_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: three disjunctive cross-table predicate brackets.
    The part side broadcasts; Catalyst derives the implied single-
    table filters (brand IN (...), quantity <= 30) and pushes them
    below the join so the OR evaluates on far fewer rows."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    bracket = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .filter(bracket)
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@query(
    "q22_dormant_customers",
    oracle="""
    SELECT cntrycode, count(*) AS numcust, round(sum(c_acctbal), 2) AS totacctbal
    FROM (
      SELECT substr(c_name, length(c_name) - 1, 2) AS cntrycode, c_acctbal
      FROM customer
      WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer
                         WHERE c_acctbal > 0.0)
        AND NOT EXISTS (SELECT 1 FROM orders
                        WHERE o_custkey = c_custkey
                          AND o_orderpriority = '1-URGENT'
                          AND o_orderdate >= TIMESTAMP '2000-01-01')
    ) custsale
    GROUP BY cntrycode
    """,
)
def q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar average subquery (broadcast single-row
    cross join) + NOT EXISTS (left-anti join against the filtered
    orders). The reference's console scripts have the same
    "skip rows already satisfied" anti-join at their core."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
    )
    pos_avg = cust.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("_avg_bal")
    )
    return (
        cust.join(F.broadcast(pos_avg))
        .filter(F.col("c_acctbal") > F.col("_avg_bal"))
        .join(orders, F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .select(
            F.substring(
                F.col("c_name"), F.length("c_name") - 1, 2
            ).alias("cntrycode"),
            "c_acctbal",
        )
        .groupBy("cntrycode")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


@query(
    "q2_min_cost_supplier",
    oracle=f"""
    WITH {PARTSUPP_SQL.strip()}
    SELECT s_acctbal, s_name, n_name, p_partkey, ps_supplycost
    FROM part
    JOIN partsupp ON p_partkey = ps_partkey
    JOIN supplier ON s_suppkey = ps_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE p_size = 15 AND r_name = 'EUROPE'
      AND ps_supplycost = (
        SELECT min(ps2.ps_supplycost)
        FROM partsupp ps2
        JOIN supplier s2 ON s2.s_suppkey = ps2.ps_suppkey
        JOIN nation n2   ON s2.s_nationkey = n2.n_nationkey
        JOIN region r2   ON n2.n_regionkey = r2.r_regionkey
        WHERE ps2.ps_partkey = p_partkey AND r2.r_name = 'EUROPE')
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2: minimum-cost supplier per part within a region — the
    correlated min subquery decorrelated into a per-part min aggregate
    over the region-filtered partsupp, re-joined on cost equality.
    The region-filtered partsupp subplan feeds both the probe and the
    aggregate; dims broadcast; top-k via TakeOrderedAndProject."""
    ps = _partsupp(spark, sf_dir)
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    part = _t(spark, sf_dir, "part").filter(F.col("p_size") == 15)
    eu_supp = (
        supp.join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    eu_ps = ps.join(F.broadcast(eu_supp), F.col("ps_suppkey") == F.col("s_suppkey"))
    min_cost = eu_ps.groupBy(F.col("ps_partkey").alias("mc_partkey")).agg(
        F.min("ps_supplycost").alias("min_cost")
    )
    return (
        eu_ps.join(
            F.broadcast(part), F.col("p_partkey") == F.col("ps_partkey")
        )
        .join(
            F.broadcast(min_cost),
            (F.col("mc_partkey") == F.col("ps_partkey"))
            & (F.col("ps_supplycost") == F.col("min_cost")),
        )
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "ps_supplycost")
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@query(
    "q11_important_stock",
    oracle=f"""
    WITH {PARTSUPP_SQL.strip()},
    nat_ps AS (
      SELECT ps_partkey, ps_supplycost * ps_availqty AS v
      FROM partsupp
      JOIN supplier ON s_suppkey = ps_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      WHERE n_name = '{Q11_NATION}'
    )
    SELECT ps_partkey, round(sum(v), 2) AS stock_value
    FROM nat_ps
    GROUP BY ps_partkey
    HAVING sum(v) > (SELECT sum(v) * 0.001 FROM nat_ps)
    """,
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11: stock value per part filtered by a scalar fraction
    of the national total — the HAVING subquery is a single-row
    broadcast; the national partsupp slice is computed once and feeds
    both the per-part aggregate and the total."""
    ps = _partsupp(spark, sf_dir)
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation").filter(F.col("n_name") == Q11_NATION)
    nat_supp = supp.join(
        F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey")
    nat_ps = ps.join(
        F.broadcast(nat_supp), F.col("ps_suppkey") == F.col("s_suppkey")
    ).select(
        "ps_partkey", (F.col("ps_supplycost") * F.col("ps_availqty")).alias("v")
    )
    total = nat_ps.agg((F.sum("v") * 0.001).alias("_cap"))
    return (
        nat_ps.groupBy("ps_partkey")
        .agg(F.sum("v").alias("_sv"))
        .join(F.broadcast(total))
        .filter(F.col("_sv") > F.col("_cap"))
        .select("ps_partkey", F.round("_sv", 2).alias("stock_value"))
    )


@query(
    "q16_supplier_part_counts",
    oracle=f"""
    WITH {PARTSUPP_SQL.strip()}
    SELECT p_brand, p_type, p_size,
           count(DISTINCT ps_suppkey) AS supplier_cnt
    FROM partsupp
    JOIN part ON p_partkey = ps_partkey
    WHERE p_brand <> 'Brand#5' AND p_type <> 'MEDIUM'
      AND p_size IN (1, 4, 9, 14, 19)
      AND ps_suppkey NOT IN
          (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    """,
)
def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16: distinct-supplier counts per part attribute bucket,
    excluding flagged suppliers (negative balance stands in for the
    'Customer Complaints' text filter — the testdata has no comment
    column). NOT IN over a non-null key is a left-anti join; part
    filters push to the scan; dims broadcast."""
    ps = _partsupp(spark, sf_dir)
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#5")
        & (F.col("p_type") != "MEDIUM")
        & F.col("p_size").isin(1, 4, 9, 14, 19)
    )
    flagged = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        ps.join(F.broadcast(part), F.col("p_partkey") == F.col("ps_partkey"))
        .join(
            F.broadcast(flagged),
            F.col("ps_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").alias("supplier_cnt"))
    )


@query(
    "q20_excess_stock_suppliers",
    oracle=f"""
    WITH {PARTSUPP_SQL.strip()}
    SELECT s_name, s_acctbal
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name = '{Q20_NATION}'
      AND s_suppkey IN (
        SELECT ps_suppkey FROM partsupp
        WHERE ps_partkey IN
              (SELECT p_partkey FROM part WHERE p_name LIKE '%red%')
          AND ps_availqty > (
            SELECT 0.5 * sum(l_quantity) FROM lineitem
            WHERE l_partkey = ps_partkey AND l_suppkey = ps_suppkey
              AND l_shipdate >= TIMESTAMP '1997-01-01'
              AND l_shipdate <  TIMESTAMP '1998-01-01'))
    ORDER BY s_name
    """,
)
def q20_excess_stock_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20: suppliers holding excess stock of selected parts —
    a three-deep nested IN decorrelated to: per-(part, supplier)
    shipped-quantity aggregate, inner-joined to partsupp (absent
    shipment rows excluded, matching the NULL-compare semantics of
    the correlated subquery), semi-joined up to the supplier list."""
    ps = _partsupp(spark, sf_dir)
    red_parts = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").contains("red"))
        .select("p_partkey")
    )
    shipped = (
        _t(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .groupBy(
            F.col("l_partkey").alias("sh_partkey"),
            F.col("l_suppkey").alias("sh_suppkey"),
        )
        .agg((F.lit(0.5) * F.sum("l_quantity")).alias("half_qty"))
    )
    excess = (
        ps.join(F.broadcast(red_parts), F.col("p_partkey") == F.col("ps_partkey"), "left_semi")
        .join(
            shipped,
            (F.col("sh_partkey") == F.col("ps_partkey"))
            & (F.col("sh_suppkey") == F.col("ps_suppkey")),
        )
        .filter(F.col("ps_availqty") > F.col("half_qty"))
        .select("ps_suppkey")
        .distinct()
    )
    nation = _t(spark, sf_dir, "nation").filter(F.col("n_name") == Q20_NATION)
    return (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(
            F.broadcast(excess), F.col("s_suppkey") == F.col("ps_suppkey"), "left_semi"
        )
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    )


@query(
    "q8_market_share",
    oracle=f"""
    SELECT o_year,
           round(sum(CASE WHEN nation = '{Q8_NATION}' THEN volume ELSE 0 END)
                 / sum(volume), 4) AS mkt_share
    FROM (
      SELECT year(o_orderdate) AS o_year,
             l_extendedprice * (1 - l_discount) AS volume,
             n2.n_name AS nation
      FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region   ON n1.n_regionkey = r_regionkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'ASIA' AND p_type = 'PROMO'
        AND o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate <  TIMESTAMP '1998-01-01'
    ) all_nations
    GROUP BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: national market share — an 8-way join (nation twice,
    under two roles) feeding a conditional-ratio aggregate. Every
    dimension broadcasts; the only shuffles are lineitem⋈orders and
    the final 2-row group. The share is one pass: sum(CASE)/sum."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    supp = _t(spark, sf_dir, "supplier")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    cust_nation = nation.join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    ).select(F.col("n_nationkey").alias("cn_key"))
    supp_nation = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("nation")
    )
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(cust_nation), F.col("cn_key") == F.col("c_nationkey"))
        .join(F.broadcast(supp_nation), F.col("sn_key") == F.col("s_nationkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("nation") == Q8_NATION, volume).otherwise(0.0))
                / F.sum(volume),
                4,
            ).alias("mkt_share")
        )
    )


@query(
    "q9_product_type_profit",
    oracle="""
    SELECT nation, o_year, round(sum(amount), 2) AS sum_profit
    FROM (
      SELECT n_name AS nation, year(o_orderdate) AS o_year,
             l_extendedprice * (1 - l_discount)
               - 0.6 * p_retailprice * l_quantity AS amount
      FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN nation   ON s_nationkey = n_nationkey
      WHERE p_name LIKE '%red%'
    ) profit
    GROUP BY nation, o_year
    """,
)
def q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: product-type profit by supplier nation and
    year. The testdata has no partsupp table, so supply cost is
    synthesized as 0.6 * p_retailprice (same join graph and agg shape,
    minus the partsupp hop). Contains predicate is pushed to the part
    scan; everything but lineitem⋈orders broadcasts."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").contains("red"))
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.lit(0.6) * F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    return (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year")
        )
        .agg(F.round(F.sum(amount), 2).alias("sum_profit"))
    )


@query(
    "q12_late_shipment_priority",
    oracle="""
    -- sums cast to BIGINT: DuckDB sums integers into HUGEINT, which
    -- lands as float64 in the gate's pandas compare and hash-mismatches
    -- Spark's int64 (CORRECTNESS_r03 flagged exactly this)
    SELECT ship_band,
           sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
           sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END)::BIGINT AS low_line_count
    FROM (
      SELECT o_orderpriority,
             CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
                  THEN 'LATE' ELSE 'ONTIME' END AS ship_band
      FROM orders
      JOIN lineitem ON o_orderkey = l_orderkey
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1998-01-01'
    ) shipping
    GROUP BY ship_band
    """,
)
def q12_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: priority counts split by shipment lateness.
    The testdata has no l_shipmode/l_commitdate/l_receiptdate, so the
    mode bucket is a derived lateness band (shipped >60 days after the
    order date) — same join + dual conditional-count shape. One fact
    shuffle; the CASE counts fold into a single aggregate pass."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            F.when(
                F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"),
                "LATE",
            )
            .otherwise("ONTIME")
            .alias("ship_band"),
            high.alias("_high"),
        )
        .groupBy("ship_band")
        .agg(
            F.sum(F.when(F.col("_high"), 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~F.col("_high"), 1).otherwise(0)).alias("low_line_count"),
        )
    )


@query(
    "q21_waiting_suppliers",
    oracle="""
    SELECT s_name, count(*) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    WHERE o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 100
    """,
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the *sole* late shipper on
    a finished multi-supplier order — EXISTS (another supplier on the
    order) + NOT EXISTS (another *late* supplier). Lateness is derived
    from l_shipdate vs o_orderdate (no l_receiptdate in testdata).

    Decorrelation, single-pass: instead of re-joining the fact against
    per-order aggregates (two scans of lineitem⋈orders), reduce to one
    row per (order, supplier) with its late-lineitem count, then a
    window over l_orderkey supplies both existence tests — total
    suppliers on the order and how many shipped late. One fact scan,
    one agg shuffle, one window re-shuffle on a strictly smaller
    intermediate."""
    supp = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    li = _t(spark, sf_dir, "lineitem")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    per_supp = (
        li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.sum(F.when(late, 1).otherwise(0)).alias("late_cnt"))
    )
    w = Window.partitionBy("l_orderkey")
    return (
        per_supp.select(
            "l_orderkey",
            "l_suppkey",
            "late_cnt",
            F.count(F.lit(1)).over(w).alias("n_supp"),
            F.sum((F.col("late_cnt") > 0).cast("int")).over(w).alias("n_late_supp"),
        )
        .filter(
            (F.col("late_cnt") > 0)
            & (F.col("n_supp") > 1)
            & (F.col("n_late_supp") == 1)
        )
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("s_name")
        .agg(F.sum("late_cnt").cast("long").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(100)
    )
