"""Suite queries — analytics: profiling, trends, intervals, SCD2, privacy gates, graph.

Split from the original suite.py; registration order is enforced
centrally by the package __init__ via _CANONICAL_ORDER."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from isilon_hadoop_tools_spark.functions.hashing import (
    FINGERPRINT64_SQL,
    stable_hash32_sql,
)
from isilon_hadoop_tools_spark.sources.local import local_df

from isilon_hadoop_tools_spark.suite._shared import (
    REGISTRY,
    _CMS_D,
    _CMS_SEED,
    _CMS_W,
    _CORR_COLS,
    _PROFILE_COLS,
    _QTY_BANDS,
    _SCRATCH,
    _kcore_oracle,
    _lpa_oracle,
    _pagerank_oracle,
    _profile_oracle,
    _t,
    query,
)


@query(
    "customer_order_gaps",
    oracle="""
    SELECT o_custkey, o_orderkey,
           date_diff('day',
                     lag(o_orderdate) OVER (PARTITION BY o_custkey
                                            ORDER BY o_orderdate, o_orderkey),
                     o_orderdate)::BIGINT AS gap_days
    FROM orders
    """,
)
def customer_order_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag() analytic window (SURVEY W3): days since the customer's
    previous order (NULL for the first)."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.datediff(
            F.col("o_orderdate"), F.lag("o_orderdate").over(w)
        ).cast("long").alias("gap_days"),
    )


@query(
    "nations_customers_only",
    oracle="""
    SELECT n_nationkey FROM nation JOIN customer ON c_nationkey = n_nationkey
    EXCEPT
    SELECT n_nationkey FROM nation JOIN supplier ON s_nationkey = n_nationkey
    """,
)
def nations_customers_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT set op (SURVEY SO2)."""
    nation = _t(spark, sf_dir, "nation")
    cust_n = nation.join(
        _t(spark, sf_dir, "customer"),
        F.col("c_nationkey") == F.col("n_nationkey"),
    ).select("n_nationkey")
    supp_n = nation.join(
        _t(spark, sf_dir, "supplier"),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("n_nationkey")
    return cust_n.subtract(supp_n)  # set-semantics EXCEPT


@query(
    "nations_customers_and_suppliers",
    oracle="""
    SELECT n_nationkey FROM nation JOIN customer ON c_nationkey = n_nationkey
    INTERSECT
    SELECT n_nationkey FROM nation JOIN supplier ON s_nationkey = n_nationkey
    """,
)
def nations_customers_and_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT set op (SURVEY SO3)."""
    nation = _t(spark, sf_dir, "nation")
    cust_n = nation.join(
        _t(spark, sf_dir, "customer"),
        F.col("c_nationkey") == F.col("n_nationkey"),
    ).select("n_nationkey")
    supp_n = nation.join(
        _t(spark, sf_dir, "supplier"),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("n_nationkey")
    return cust_n.intersect(supp_n)


@query(
    "lineitem_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           GROUPING(l_returnflag, l_linestatus) AS gid,
           round(sum(l_quantity), 2) AS sum_qty,
           count(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def lineitem_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with grouping_id (A6): subtotal rows per flag and a
    grand total, one pass (Catalyst expands + single shuffle)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.grouping_id().alias("gid"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "lineitem_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           GROUPING(l_returnflag, l_linestatus) AS gid,
           count(*) AS n
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def lineitem_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE with grouping_id (A6): all grouping-set combinations."""
    li = _t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.grouping_id().alias("gid"), F.count(F.lit(1)).alias("n")
    )


@query(
    "customer_trailing_revenue",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderdate,
           round(sum(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate
             RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW
           ), 2) AS trailing_30d
    FROM orders
    """,
)
def customer_trailing_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame analytic window (W3): per order, the same
    customer's trailing-30-day revenue. The frame is value-based
    (epoch seconds), not row-based — ties on the date enter the frame
    together, which a rowsBetween frame would get wrong."""
    orders = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.unix_timestamp("o_orderdate"))
        .rangeBetween(-30 * 86400, 0)
    )
    return orders.select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        F.round(F.sum("o_totalprice").over(w), 2).alias("trailing_30d"),
    )


@query(
    "lineitem_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           GROUPING(l_returnflag, l_linestatus) AS gid,
           round(sum(l_extendedprice), 2) AS sum_price,
           count(*) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
    """,
)
def lineitem_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (A6) through the SQL entrypoint — the
    engine's plans are declarable as SQL text too; Catalyst expands
    the sets into one Expand node over a single scan, not one scan
    per set."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_gs")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               grouping_id(l_returnflag, l_linestatus) AS gid,
               round(sum(l_extendedprice), 2) AS sum_price,
               count(*) AS n
        FROM lineitem_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        """
    )


@query(
    "orders_format_roundtrip",
    oracle="""
    SELECT fmt, o_orderstatus, count(*) AS n,
           round(sum(o_totalprice), 2) AS sum_total
    FROM (
      SELECT 'csv' AS fmt, o_orderstatus, o_totalprice FROM orders
      WHERE o_orderpriority LIKE '1-%'
      UNION ALL
      SELECT 'json', o_orderstatus, o_totalprice FROM orders
      WHERE o_orderpriority LIKE '1-%'
    )
    GROUP BY fmt, o_orderstatus
    """,
)
def orders_format_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-format sinks + scans (S15): the same projection written to
    CSV and JSON, read back with explicit schemas, and aggregated —
    the round trip must be lossless for both formats."""
    import shutil

    sub = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority").startswith("1-"))
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    schema = "o_orderkey LONG, o_orderstatus STRING, o_totalprice DOUBLE"
    outs = []
    for fmt in ("csv", "json"):
        path = f"{_SCRATCH}/roundtrip_{fmt}"
        shutil.rmtree(path, ignore_errors=True)
        writer = sub.write.mode("overwrite")
        if fmt == "csv":
            writer = writer.option("header", True)
        getattr(writer, fmt)(path)
        reader = spark.read.schema(schema)
        if fmt == "csv":
            reader = reader.option("header", True)
        back = getattr(reader, fmt)(path)
        outs.append(back.withColumn("fmt", F.lit(fmt)))
    both = outs[0].unionByName(outs[1])
    return both.groupBy("fmt", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_total"),
    )


@query(
    "orders_partitioned_pruning",
    oracle="""
    SELECT o_orderpriority, count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS sum_total
    FROM orders
    WHERE year(o_orderdate) = 1997
    GROUP BY o_orderpriority
    """,
)
def orders_partitioned_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned-table lifecycle (S15 + the 100 TB layout story):
    orders written out hive-partitioned by derived year, read back
    with a partition predicate. The filter prunes at planning time —
    the scan's PartitionFilters handles o_year=1997 and non-matching
    directories are never listed into the task set (asserted in
    tests/test_plan_quality.py). At 100 TB this is the difference
    between reading one year and reading the decade."""
    import os
    import shutil

    path = f"{_SCRATCH}/orders_by_year_{os.path.basename(sf_dir.rstrip('/'))}"
    shutil.rmtree(path, ignore_errors=True)
    (
        _t(spark, sf_dir, "orders")
        .withColumn("o_year", F.year("o_orderdate"))
        .write.partitionBy("o_year")
        .mode("overwrite")
        .parquet(path)
    )
    return (
        spark.read.parquet(path)
        .filter(F.col("o_year") == 1997)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_total"),
        )
    )


@query(
    "orders_price_bands",
    oracle="""
    WITH bands(band, lo, hi) AS (VALUES
      ('small', 0.0, 50000.0),
      ('medium', 50000.0, 150000.0),
      ('large', 150000.0, 1000000000.0)
    )
    SELECT band, count(*) AS n, round(sum(o_totalprice), 2) AS sum_total
    FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice < hi
    GROUP BY band
    """,
)
def orders_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range/theta join (J9): facts joined to a broadcast band table
    on an interval condition — plans as BroadcastNestedLoopJoin with
    the tiny side broadcast, the fact side streaming."""
    bands = local_df(
        spark,
        [("small", 0.0, 50000.0), ("medium", 50000.0, 150000.0),
         ("large", 150000.0, 1e9)],
        "band STRING, lo DOUBLE, hi DOUBLE",
    )
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.join(
            F.broadcast(bands),
            (orders["o_totalprice"] >= bands["lo"])
            & (orders["o_totalprice"] < bands["hi"]),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_total"),
        )
    )


@query("orders_profile", oracle=_profile_oracle())
def orders_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long-format data-profiling summary of the orders table: per
    column row/null/exact-distinct counts and numeric min/max. One
    scan — all aggregates (including the multiple DISTINCTs, via
    Catalyst's Expand) in a single aggregation, unpivoted with stack,
    never a per-column re-scan."""
    from isilon_hadoop_tools_spark.operators.analytics import profile_table

    return profile_table(_t(spark, sf_dir, "orders"), _PROFILE_COLS)


@query(
    "customer_blocked_editdist",
    oracle="""
    WITH blocked AS (
      SELECT c_custkey AS id, c_name AS txt,
             substring(c_name, 10, 8) AS blk
      FROM customer
    ),
    sizes AS (SELECT blk, count(*) AS bn FROM blocked GROUP BY blk),
    small AS (
      SELECT b.* FROM blocked b JOIN sizes s USING (blk)
      WHERE s.bn <= 200
    )
    SELECT a.id AS id_a, b.id AS id_b,
           levenshtein(a.txt, b.txt)::BIGINT AS edit_dist
    FROM small a JOIN small b USING (blk)
    WHERE a.id < b.id AND levenshtein(a.txt, b.txt) <= 1
    """,
)
def customer_blocked_editdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record linkage: within-block Levenshtein pairs (block = 8-digit
    name prefix), never all-pairs — oversized blocks are dropped by the
    max_block cap (the inverted-index max_df idea), bounding work at
    max_block² per block at any corpus size."""
    from isilon_hadoop_tools_spark.operators.analytics import (
        blocked_edit_distance_pairs,
    )

    out = blocked_edit_distance_pairs(
        _t(spark, sf_dir, "customer"),
        id_col="c_custkey", text_col="c_name",
        block_expr="substring(c_name, 10, 8)",
        max_dist=1, max_block=200,
    )
    return out.withColumn("edit_dist", F.col("edit_dist").cast("long"))


@query(
    "lineitem_part_pairs",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem
    ),
    pairs AS (
      SELECT a.it AS item_a, b.it AS item_b, count(*) AS n_baskets
      FROM items a JOIN items b USING (bk)
      WHERE a.it < b.it
      GROUP BY a.it, b.it
    )
    SELECT item_a, item_b, n_baskets
    FROM pairs
    ORDER BY n_baskets DESC, item_a, item_b
    LIMIT 20
    """,
)
def lineitem_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket mining: top-20 part pairs co-occurring in the
    same order. Pair fan-out is bounded by per-basket item counts
    (co-partitioned self-join on the basket key), and the top-20 is a
    TakeOrderedAndProject with a total-order tiebreak — no global
    sort, deterministic under ties."""
    from isilon_hadoop_tools_spark.operators.analytics import basket_pairs

    return basket_pairs(_t(spark, sf_dir, "lineitem"), top_n=20)


@query(
    "customer_priority_scd2",
    oracle="""
    WITH ordered AS (
      SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
             lag(o_orderpriority) OVER w AS prev
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey)
    ),
    changes AS (
      SELECT * FROM ordered
      WHERE prev IS NULL OR prev <> o_orderpriority
    )
    SELECT o_custkey, o_orderpriority,
           o_orderdate AS valid_from,
           lead(o_orderdate) OVER w2 AS valid_to,
           row_number() OVER w2 AS version
    FROM changes
    WINDOW w2 AS (PARTITION BY o_custkey
                  ORDER BY o_orderdate, o_orderkey)
    """,
)
def customer_priority_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 SCD build: per-customer order-priority history with
    valid_from/valid_to effectivity (null = current) and version
    numbers. Change-detect (lag), close-out (lead) and versioning
    (row_number) share one key partitioning — a single shuffle; the
    post-filter window re-sorts but never re-exchanges."""
    from isilon_hadoop_tools_spark.operators.analytics import scd2_history

    return scd2_history(
        _t(spark, sf_dir, "orders"),
        key="o_custkey", attr="o_orderpriority",
        ts="o_orderdate", tiebreak="o_orderkey",
    )


@query(
    "lineitem_priority_at_ship",
    oracle="""
    WITH ordered AS (
      SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
             lag(o_orderpriority) OVER w AS prev
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey)
    ),
    changes AS (
      SELECT * FROM ordered
      WHERE prev IS NULL OR prev <> o_orderpriority
    ),
    hist AS (
      SELECT o_custkey, o_orderpriority,
             o_orderdate AS valid_from,
             lead(o_orderdate) OVER w2 AS valid_to,
             row_number() OVER w2 AS version
      FROM changes
      WINDOW w2 AS (PARTITION BY o_custkey
                    ORDER BY o_orderdate, o_orderkey)
    ),
    f AS (
      SELECT l.l_orderkey, l.l_linenumber, o.o_custkey, l.l_shipdate
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    )
    SELECT f.l_orderkey, f.l_linenumber, f.o_custkey, f.l_shipdate,
           h.o_orderpriority AS priority_at_ship, h.version
    FROM f LEFT JOIN hist h
      ON h.o_custkey = f.o_custkey
     AND h.valid_from <= f.l_shipdate
     AND (h.valid_to IS NULL OR f.l_shipdate < h.valid_to)
    """,
)
def lineitem_priority_at_ship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time SCD2 lookup (EA13b — the temporal star join):
    each shipped line item picks up the order-priority version that
    was EFFECTIVE on its ship date from the customer's type-2
    history. Equi-join on the customer key with the effectivity range
    as residual — disjoint versions guarantee at most one match;
    ships before the first version keep NULLs."""
    from isilon_hadoop_tools_spark.operators.analytics import (
        scd2_history,
        scd2_point_in_time_join,
    )

    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    dim = scd2_history(
        orders, key="o_custkey", attr="o_orderpriority",
        ts="o_orderdate", tiebreak="o_orderkey",
    ).withColumnRenamed("o_orderpriority", "priority_at_ship")
    facts = li.join(
        orders.select("o_orderkey", "o_custkey"),
        li["l_orderkey"] == F.col("o_orderkey"),
    ).select("l_orderkey", "l_linenumber", "o_custkey", "l_shipdate")
    return scd2_point_in_time_join(
        facts, dim, key="o_custkey", ts="l_shipdate"
    )


@query("nation_trade_pagerank", oracle=_pagerank_oracle(5))
def nation_trade_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the nation trade graph (supplier nation
    → customer nation, edge weight = lineitem revenue): 5 Pregel-style
    iterations, each ONE broadcast join of the vertex-sized rank
    vector onto the edge fact + ONE map-side-partial aggregation —
    the edge table never re-shuffles after normalization; dangling
    mass redistributes uniformly. Per-iteration rounding (10 dp) is the cross-engine determinism
    contract, as in the quantized k-means (L28)."""
    from isilon_hadoop_tools_spark.operators.graph import pagerank

    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    edges = (
        li.join(sup, li["l_suppkey"] == sup["s_suppkey"])
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .groupBy(
            F.col("s_nationkey").alias("src"),
            F.col("c_nationkey").alias("dst"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                2,
            ).alias("w")
        )
    )
    pr = pagerank(edges, "src", "dst", "w", iterations=5)
    return pr.select(F.col("v").alias("nationkey"), "pagerank")


@query(
    "orders_expectations",
    oracle="""
    SELECT 'custkey_not_null' AS rule_name,
           sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)::BIGINT
             AS n_violations,
           sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) = 0
             AS passed
    FROM orders
    UNION ALL
    SELECT 'orderkey_unique',
           (sum(CASE WHEN o_orderkey IS NOT NULL THEN 1 ELSE 0 END)
            - count(DISTINCT o_orderkey))::BIGINT,
           sum(CASE WHEN o_orderkey IS NOT NULL THEN 1 ELSE 0 END)
            - count(DISTINCT o_orderkey) = 0
    FROM orders
    UNION ALL
    SELECT 'status_accepted',
           sum(CASE WHEN o_orderstatus IS NULL
                      OR o_orderstatus NOT IN ('O', 'F', 'P')
                    THEN 1 ELSE 0 END)::BIGINT,
           sum(CASE WHEN o_orderstatus IS NULL
                      OR o_orderstatus NOT IN ('O', 'F', 'P')
                    THEN 1 ELSE 0 END) = 0
    FROM orders
    UNION ALL
    SELECT 'price_in_range',
           sum(CASE WHEN o_totalprice IS NULL
                      OR o_totalprice < 0 OR o_totalprice > 1000000
                    THEN 1 ELSE 0 END)::BIGINT,
           sum(CASE WHEN o_totalprice IS NULL
                      OR o_totalprice < 0 OR o_totalprice > 1000000
                    THEN 1 ELSE 0 END) = 0
    FROM orders
    """,
)
def orders_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality contract over orders: not-null,
    uniqueness, accepted-values, and range rules — evaluated in ONE
    scan (all conditional sums plus the DISTINCT count share a single
    aggregation via Expand), reported long-format. The oracle is the
    per-rule UNION spec."""
    from isilon_hadoop_tools_spark.operators.analytics import expectations

    return expectations(
        _t(spark, sf_dir, "orders"),
        [
            ("custkey_not_null", "not_null", "o_custkey"),
            ("orderkey_unique", "unique", "o_orderkey"),
            ("status_accepted", "accepted_values", "o_orderstatus",
             ["O", "F", "P"]),
            ("price_in_range", "range", "o_totalprice", 0, 1_000_000),
        ],
    )


@query(
    "orders_table_checksum",
    oracle=f"""
    SELECT bit_xor(
             {FINGERPRINT64_SQL.format(
                 expr="o_orderkey::VARCHAR || '|' || o_custkey::VARCHAR"
                      " || '|' || o_orderstatus || '|' || o_orderpriority"
             )}
           ) AS checksum,
           count(*) AS n_rows
    FROM orders
    """,
)
def orders_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent anti-entropy checksum of the orders table
    (key + status + priority columns): per-row md5 fingerprint XORed
    into one 60-bit digest — map-side partials, no sort, no shuffle
    beyond the single-row combine; two replicas (or two engines, as
    the oracle proves) agree iff they hold the same rows."""
    from isilon_hadoop_tools_spark.operators.analytics import table_checksum

    return table_checksum(
        _t(spark, sf_dir, "orders"),
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"],
    )


@query(
    "customer_spend_deciles",
    oracle="""
    WITH spend AS (
      SELECT o_custkey, round(sum(o_totalprice), 2) AS total_spend
      FROM orders GROUP BY o_custkey
    )
    SELECT o_custkey, total_spend,
           ntile(10) OVER w AS decile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cum_dist
    FROM spend
    WINDOW w AS (ORDER BY total_spend DESC, o_custkey)
    """,
)
def customer_spend_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-rank window completeness (W3): customer lifetime
    spend bucketed with ntile(10) plus percent_rank/cume_dist, over a
    TOTAL order (spend desc, key) so ties cannot make either engine's
    bucketing ambiguous. The global window runs over the aggregated
    customer-sized relation, never the order fact — the correct shape
    when the fact is 100 TB but the dimension fits a sort."""
    spend = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("total_spend"))
    )
    w = Window.orderBy(F.desc("total_spend"), F.asc("o_custkey"))
    return spend.select(
        "o_custkey",
        "total_spend",
        F.ntile(10).over(w).alias("decile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cum_dist"),
    )


@query(
    "lineitem_quantity_band_join",
    oracle=f"""
    WITH bands(band, lo, hi) AS (
      VALUES {", ".join(f"('{b}', {lo}, {hi})" for b, lo, hi in _QTY_BANDS)}
    )
    SELECT b.band, count(*) AS n_items,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2)
             AS revenue
    FROM lineitem l JOIN bands b
      ON l.l_quantity >= b.lo AND l.l_quantity <= b.hi
    GROUP BY b.band
    """,
)
def lineitem_quantity_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True range/band join (J9): the fact joins a broadcast range
    dimension on BETWEEN — a BroadcastNestedLoopJoin where the
    streamed fact never shuffles and each row tests 5 band predicates
    (vs `orders_price_bands`' CASE ladder, this is the join-shaped
    form a user writes when bands live in a table). The post-join
    aggregation takes map-side partials on the 5 band keys."""
    li = _t(spark, sf_dir, "lineitem")
    bands = local_df(spark, _QTY_BANDS, "band string, lo int, hi int")
    return (
        li.join(
            F.broadcast(bands),
            (li["l_quantity"] >= F.col("lo"))
            & (li["l_quantity"] <= F.col("hi")),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                2,
            ).alias("revenue"),
        )
    )


@query(
    "customer_first_last_orders",
    oracle="""
    SELECT DISTINCT o_custkey,
           first_value(o_orderdate) OVER w AS first_order,
           last_value(o_orderdate) OVER w AS last_order,
           nth_value(o_orderdate, 2) OVER w AS second_order
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING
                          AND UNBOUNDED FOLLOWING)
    """,
)
def customer_first_last_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-window completeness (W3): first_value / last_value /
    nth_value over an explicit full frame (the default frame would
    make last_value the current row — the classic trap) with a total
    order, one row per customer. One shuffle; the DISTINCT needs no
    second exchange on the same key partitioning."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        _t(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            F.first("o_orderdate").over(w).alias("first_order"),
            F.last("o_orderdate").over(w).alias("last_order"),
            F.nth_value("o_orderdate", 2).over(w).alias("second_order"),
        )
        .distinct()
    )


@query(
    "orders_priority_multiset_diff",
    oracle="""
    SELECT o_orderpriority FROM orders
    EXCEPT ALL
    SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F'
    """,
)
def orders_priority_multiset_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset EXCEPT ALL (SO2's bag-semantics sibling, the
    documented Spark/DuckDB parity trap: DuckDB's plain EXCEPT is set
    semantics, Spark's subtract() likewise — exceptAll is the bag
    form on both). Result keeps one priority row per non-'F' order,
    duplicates preserved."""
    o = _t(spark, sf_dir, "orders")
    return o.select("o_orderpriority").exceptAll(
        o.filter(F.col("o_orderstatus") == "F").select("o_orderpriority")
    )


@query(
    "customer_entity_resolution",
    oracle="""
    WITH RECURSIVE blocked AS (
      SELECT c_custkey AS id, c_name AS txt,
             substring(c_name, 10, 8) AS blk
      FROM customer
    ),
    sizes AS (SELECT blk, count(*) AS bn FROM blocked GROUP BY blk),
    small AS (
      SELECT b.* FROM blocked b JOIN sizes s USING (blk)
      WHERE s.bn <= 200
    ),
    pairs AS (
      SELECT a.id AS id_a, b.id AS id_b
      FROM small a JOIN small b USING (blk)
      WHERE a.id < b.id AND levenshtein(a.txt, b.txt) <= 1
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL
      SELECT id_b, id_a FROM pairs
    ),
    cc(id, keep_id) AS (
      SELECT id, id FROM blocked
      UNION
      SELECT e.dst, c.keep_id FROM cc c JOIN edges e ON e.src = c.id
    )
    SELECT id AS c_custkey, min(keep_id) AS entity_id
    FROM cc GROUP BY id
    """,
)
def customer_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution (the MDM workload): blocked
    Levenshtein candidate pairs (EA6) → min-label connected
    components (L8's iterative propagation, no graph library) →
    every customer labeled with its entity's canonical (min) id;
    singletons resolve to themselves. Composes two oracle-checked
    operators; the oracle replays the whole pipeline with a recursive
    CTE closure."""
    from isilon_hadoop_tools_spark.operators.analytics import (
        blocked_edit_distance_pairs,
    )
    from isilon_hadoop_tools_spark.operators.dedup import (
        connected_components,
    )

    cust = _t(spark, sf_dir, "customer")
    pairs = blocked_edit_distance_pairs(
        cust, id_col="c_custkey", text_col="c_name",
        block_expr="substring(c_name, 10, 8)", max_dist=1, max_block=200,
    )
    cc = connected_components(
        cust.select(F.col("c_custkey").alias("id")), pairs,
        id_col="id", a_col="id_a", b_col="id_b",
    )
    return cc.select(
        F.col("id").alias("c_custkey"), F.col("keep_id").alias("entity_id")
    )


@query(
    "lineitem_orders_join_size_cms",
    oracle=f"""
    WITH ha AS (
      SELECT r AS row_id,
             (('0x' || substr(md5((({_CMS_SEED} + r)::VARCHAR || ':')
                               || l_orderkey::VARCHAR), 1, 8))::BIGINT)
               % {_CMS_W} AS bucket
      FROM lineitem, range(0, {_CMS_D}) t(r)
    ),
    ska AS (SELECT row_id, bucket, count(*) AS cnt
            FROM ha GROUP BY row_id, bucket),
    hb AS (
      SELECT r AS row_id,
             (('0x' || substr(md5((({_CMS_SEED} + r)::VARCHAR || ':')
                               || o_orderkey::VARCHAR), 1, 8))::BIGINT)
               % {_CMS_W} AS bucket
      FROM orders, range(0, {_CMS_D}) t(r)
    ),
    skb AS (SELECT row_id, bucket, count(*) AS cnt
            FROM hb GROUP BY row_id, bucket),
    ip AS (
      SELECT a.row_id, sum(a.cnt * b.cnt) AS p
      FROM ska a JOIN skb b USING (row_id, bucket)
      GROUP BY a.row_id
    ),
    exact AS (
      SELECT coalesce(sum(na * nb), 0)::BIGINT AS exact_pairs FROM
        (SELECT l_orderkey AS k, count(*) AS na
         FROM lineitem GROUP BY k) a
        JOIN
        (SELECT o_orderkey AS k, count(*) AS nb
         FROM orders GROUP BY k) b
        USING (k)
    )
    SELECT (SELECT count(*) FROM lineitem) AS n_a,
           (SELECT count(*) FROM orders) AS n_b,
           exact_pairs,
           (SELECT CASE WHEN count(*) < {_CMS_D} THEN 0
                        ELSE min(p) END::BIGINT FROM ip) AS est_pairs,
           (SELECT CASE WHEN count(*) < {_CMS_D} THEN 0
                        ELSE min(p) END::BIGINT FROM ip) >= exact_pairs
             AS overestimate_ok
    FROM exact
    """,
)
def lineitem_orders_join_size_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-size estimation from sketches (L37d, Cormode &
    Muthukrishnan 2005): the lineitem-orders equi-join cardinality
    estimated as the min row-wise inner product of the two count-min
    sketches — a hard overestimate (certified in-query), computed
    from 2·d·w integers instead of executing the join. The exact size
    rides along via vocabulary-sized count tables, never a row-level
    join."""
    from isilon_hadoop_tools_spark.operators.sketches import (
        cms_join_size_estimate,
    )

    return cms_join_size_estimate(
        _t(spark, sf_dir, "lineitem"), "l_orderkey",
        _t(spark, sf_dir, "orders"), "o_orderkey",
        d=_CMS_D, w=_CMS_W, seed_base=_CMS_SEED,
    )


@query(
    "customer_k_anonymity",
    oracle="""
    WITH groups AS (
      SELECT c_nationkey, c_mktsegment,
             floor(c_acctbal / 1000)::BIGINT AS bal_band,
             count(*) AS n
      FROM customer GROUP BY 1, 2, 3
    )
    SELECT sum(n)::BIGINT AS n_rows,
           count(*) AS n_groups,
           min(n)::BIGINT AS min_group_size,
           sum(CASE WHEN n < 5 THEN 1 ELSE 0 END)::BIGINT
             AS groups_below_k,
           sum(CASE WHEN n < 5 THEN n ELSE 0 END)::BIGINT
             AS rows_below_k,
           round(sum(CASE WHEN n < 5 THEN n ELSE 0 END)::DOUBLE
                 / sum(n), 6) AS frac_rows_below_k,
           min(n) >= 5 AS k_anonymous
    FROM groups
    """,
)
def customer_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (EA28, Sweeney 2002) on the customer table
    with quasi-identifiers (nation, market segment, account-balance
    band): the release gate after PII redaction — combinations of
    innocuous attributes can still isolate individuals; reports the
    minimum equivalence-class size and how many rows sit in classes
    below k=5. One quasi-tuple-keyed aggregation + a group-table
    fold."""
    from isilon_hadoop_tools_spark.operators.analytics import (
        k_anonymity_report,
    )

    cust = _t(spark, sf_dir, "customer")
    return k_anonymity_report(
        cust,
        [
            F.col("c_nationkey"),
            F.col("c_mktsegment"),
            F.floor(F.col("c_acctbal") / 1000).alias("bal_band"),
        ],
        k=5,
    )


_FS_PAIRS_SINGLE = """pairs AS (
      SELECT CASE WHEN a.c_mktsegment = b.c_mktsegment
                  THEN 1 ELSE 0 END AS g1,
             CASE WHEN floor(a.c_acctbal / 1000)
                       = floor(b.c_acctbal / 1000)
                  THEN 1 ELSE 0 END AS g2,
             CASE WHEN right(a.c_name, 1) = right(b.c_name, 1)
                  THEN 1 ELSE 0 END AS g3
      FROM customer a JOIN customer b
        ON a.c_nationkey = b.c_nationkey
       AND a.c_custkey < b.c_custkey
    )"""

# Splink-style multi-rule union: nation-block pairs UNION balance-
# band-block pairs, deduped on the pair key (UNION set semantics —
# the comparison bits are functions of the ids, so whole-row dedup
# == pair dedup)
_FS_PAIRS_MULTI = """pairs AS (
      SELECT g1, g2, g3 FROM (
        SELECT a.c_custkey AS ia, b.c_custkey AS ib,
               CASE WHEN a.c_mktsegment = b.c_mktsegment
                    THEN 1 ELSE 0 END AS g1,
               CASE WHEN floor(a.c_acctbal / 1000)
                         = floor(b.c_acctbal / 1000)
                    THEN 1 ELSE 0 END AS g2,
               CASE WHEN right(a.c_name, 1) = right(b.c_name, 1)
                    THEN 1 ELSE 0 END AS g3
        FROM customer a JOIN customer b
          ON a.c_nationkey = b.c_nationkey
         AND a.c_custkey < b.c_custkey
        UNION
        SELECT a.c_custkey, b.c_custkey,
               CASE WHEN a.c_mktsegment = b.c_mktsegment
                    THEN 1 ELSE 0 END,
               CASE WHEN floor(a.c_acctbal / 1000)
                         = floor(b.c_acctbal / 1000)
                    THEN 1 ELSE 0 END,
               CASE WHEN right(a.c_name, 1) = right(b.c_name, 1)
                    THEN 1 ELSE 0 END
        FROM customer a JOIN customer b
          ON floor(a.c_acctbal / 500) = floor(b.c_acctbal / 500)
         AND a.c_custkey < b.c_custkey
      )
    )"""


def _fs_em_oracle(iters: int = 3, pairs_sql: str | None = None) -> str:
    """DuckDB twin of ``fellegi_sunter_em`` on the customer linkage
    fixture: pattern counts once, then the EM iterations unrolled as
    alternating E/M CTEs with the identical expression shapes and
    9-dp per-iteration parameter rounding."""

    def lik(prefix: str) -> str:
        head = "p" if prefix == "m" else "(1.0 - p)"
        terms = [
            f"(CASE WHEN g{i} = 1 THEN {prefix}{i}"
            f" ELSE 1.0 - {prefix}{i} END)"
            for i in (1, 2, 3)
        ]
        return head + " * " + " * ".join(terms)

    # Splink-style degeneracy clamps, mirrored from the Spark side:
    # posteriors into [1e-9, 1-1e-9], params into [1e-6, 1-1e-6] —
    # numeric no-ops on this fixture, identical literals both engines.
    w = (
        f"least(greatest(round(({lik('m')}) / (({lik('m')}) +"
        f" ({lik('u')})), 9), 1e-9), 1.0 - 1e-9)"
    )
    parts = [
        pairs_sql or _FS_PAIRS_SINGLE,
        """pat AS (SELECT g1, g2, g3, count(*)::BIGINT AS n_pairs
            FROM pairs GROUP BY 1, 2, 3)""",
        """p0 AS (SELECT 0.01 AS p, 0.9 AS m1, 0.9 AS m2, 0.9 AS m3,
                    0.1 AS u1, 0.1 AS u2, 0.1 AS u3)""",
    ]
    for t in range(1, iters + 1):
        parts.append(
            f"e{t} AS (SELECT pat.*, {w} AS w FROM pat, p{t - 1})"
        )
        def cl(expr: str) -> str:
            return f"least(greatest({expr}, 1e-6), 1.0 - 1e-6)"

        ms = ", ".join(
            cl(
                f"round(sum(w * n_pairs * g{i}) / sum(w * n_pairs), 9)"
            )
            + f" AS m{i}"
            for i in (1, 2, 3)
        )
        us = ", ".join(
            cl(
                f"round(sum((1.0 - w) * n_pairs * g{i})"
                f" / sum((1.0 - w) * n_pairs), 9)"
            )
            + f" AS u{i}"
            for i in (1, 2, 3)
        )
        parts.append(
            f"p{t} AS (SELECT "
            + cl("round(sum(w * n_pairs) / sum(n_pairs), 9)")
            + f" AS p, {ms}, {us} FROM e{t})"
        )
    chain = ",\n    ".join(parts)
    return f"""
    WITH {chain}
    SELECT g1, g2, g3, n_pairs,
           round(({lik("m")}) / (({lik("m")}) + ({lik("u")})), 6)
             AS match_w
    FROM pat, p{iters}
    """


@query("customer_fs_linkage_em", oracle=_fs_em_oracle())
def customer_fs_linkage_em(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter probabilistic linkage with EM (EA32; Fellegi &
    Sunter 1969, Winkler 1988 -- the model behind Splink): customer
    pairs blocked by nation reduce to 2^3 agreement patterns over
    (segment, balance-band, name-last-digit), and three unrolled EM
    rounds learn m/u/prior with no labels; each pattern gets its
    posterior match weight. EM cost is independent of pair count
    (the pattern table is the sufficient statistic)."""
    from isilon_hadoop_tools_spark.operators.analytics import (
        fellegi_sunter_em,
    )

    cust = _t(spark, sf_dir, "customer")
    return fellegi_sunter_em(
        cust,
        "c_custkey",
        "c_nationkey",
        [
            ("segment", F.col("c_mktsegment")),
            ("bal_band", F.floor(F.col("c_acctbal") / 1000)),
            ("name_tail", F.substring(F.col("c_name"), -1, 1)),
        ],
        iters=3,
    )


@query(
    "customer_fs_linkage_multirule",
    oracle=_fs_em_oracle(pairs_sql=_FS_PAIRS_MULTI),
)
def customer_fs_linkage_multirule(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Fellegi-Sunter linkage with MULTI-RULE blocking (EA32 +
    Splink's blocking-rule union): candidate pairs from nation blocks
    UNION 500-wide balance-band blocks, deduped on the pair key, then
    the same unrolled EM over the pattern table -- several narrow
    rules recover recall without any single rule's hot block. The
    oracle unions both rules' pairs with set semantics and replays
    the identical E/M chain."""
    from isilon_hadoop_tools_spark.operators.analytics import (
        fellegi_sunter_em,
    )

    cust = _t(spark, sf_dir, "customer")
    return fellegi_sunter_em(
        cust,
        "c_custkey",
        [F.col("c_nationkey"), F.floor(F.col("c_acctbal") / 500)],
        [
            ("segment", F.col("c_mktsegment")),
            ("bal_band", F.floor(F.col("c_acctbal") / 1000)),
            ("name_tail", F.substring(F.col("c_name"), -1, 1)),
        ],
        iters=3,
    )


@query(
    "customer_linkage_block_audit",
    oracle="""
    WITH b AS (
      SELECT c_nationkey AS block, count(*)::BIGINT AS n_rows
      FROM customer GROUP BY 1
    ),
    e AS (
      SELECT block, n_rows,
             CAST(n_rows * (n_rows - 1) / 2 AS BIGINT) AS pairs_exact,
             CAST(greatest(1, ceil(n_rows / 25.0)) AS BIGINT) AS n_sub
      FROM b
    ),
    f AS (
      SELECT *,
             CAST(floor(n_rows / n_sub) AS BIGINT) AS q
      FROM e
    ),
    g AS (
      SELECT *, n_rows - q * n_sub AS r FROM f
    )
    SELECT block, n_rows, pairs_exact, n_sub,
           CAST(r * CAST((q + 1) * q / 2 AS BIGINT)
                + (n_sub - r) * CAST(q * (q - 1) / 2 AS BIGINT)
                AS BIGINT) AS pairs_budget,
           round(pairs_exact
                 / (SELECT sum(pairs_exact)::DOUBLE FROM e),
                 6) AS pair_share
    FROM g
    """,
)
def customer_linkage_block_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Blocked-linkage pre-flight audit (pairs with EA32/EA6): per
    nation block of the customer linkage, the exact C(n,2) candidate
    pair count, the sub-block split a 25-row budget would impose, the
    even-split pair budget after salting, and the block's share of
    total pairs -- the forecast a Splink-class user reads BEFORE
    launching the quadratic candidate join at 100 TB. One map-side
    agg; output is #blocks rows."""
    from isilon_hadoop_tools_spark.operators.analytics import (
        linkage_block_audit,
    )

    cust = _t(spark, sf_dir, "customer")
    return linkage_block_audit(cust, "c_nationkey", max_block_rows=25)


@query(
    "customer_dp_histogram",
    oracle=f"""
    WITH groups AS (
      SELECT c_mktsegment, c_nationkey, count(*) AS n_true
      FROM customer GROUP BY 1, 2
    ),
    uni AS (
      SELECT *,
             (({stable_hash32_sql(
                 "concat_ws('|', c_mktsegment, c_nationkey::VARCHAR)",
                 seed=13,
             )} + 0.5) / 4294967296.0) AS u
      FROM groups
    ),
    noised AS (
      SELECT c_mktsegment, c_nationkey, n_true,
             round((-1.0 * sign(u - 0.5))
                   * ln(1.0 - 2.0 * abs(u - 0.5)), 6) AS noise
      FROM uni
    )
    SELECT c_mktsegment, c_nationkey, n_true, noise,
           round(n_true + noise, 6) AS noisy_count,
           greatest(floor(round(n_true + noise, 6) + 0.5), 0)::BIGINT
             AS released
    FROM noised
    """,
)
def customer_dp_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laplace-mechanism DP histogram (EA31; Dwork et al. 2006) —
    the release MECHANISM completing the privacy family's audits:
    per-(segment, nation) customer counts + Laplace(1/ε) noise at
    ε=1, clamped non-negative integer release. Noise is
    seeded-hash inverse-CDF so the oracle recomputes it exactly
    (stated caveat: a real release swaps in true randomness — the
    rest of the pipeline is unchanged). One scan, group-table
    column algebra after."""
    from isilon_hadoop_tools_spark.operators.analytics import (
        dp_laplace_counts,
    )

    return dp_laplace_counts(
        _t(spark, sf_dir, "customer"),
        ["c_mktsegment", "c_nationkey"],
        epsilon=1.0,
        seed=13,
    )


@query(
    "customer_l_diversity",
    oracle="""
    WITH cells AS (
      SELECT c_nationkey,
             floor(c_acctbal / 1000)::BIGINT AS bal_band,
             c_mktsegment, count(*) AS n
      FROM customer GROUP BY 1, 2, 3
    ),
    groups AS (
      SELECT c_nationkey, bal_band,
             sum(n)::BIGINT AS rows_n, count(*) AS l
      FROM cells GROUP BY 1, 2
    )
    SELECT sum(rows_n)::BIGINT AS n_rows,
           count(*) AS n_groups,
           min(l)::BIGINT AS min_l,
           sum(CASE WHEN l < 3 THEN 1 ELSE 0 END)::BIGINT
             AS groups_below_l,
           sum(CASE WHEN l < 3 THEN rows_n ELSE 0 END)::BIGINT
             AS rows_below_l,
           round(sum(CASE WHEN l < 3 THEN rows_n ELSE 0 END)::DOUBLE
                 / sum(rows_n), 6) AS frac_rows_below_l,
           min(l) >= 3 AS l_diverse
    FROM groups
    """,
)
def customer_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (EA28b, Machanavajjhala et al. 2007) — the
    release gate k-anonymity alone can't close: a large equivalence
    class whose rows all share one sensitive value still leaks it
    (the homogeneity attack). Quasi-identifiers (nation,
    account-balance band), sensitive attribute = market segment,
    l=3: every class must span >= 3 distinct segments. Same one-scan
    shape as the k-anonymity gate, one key wider — the distinct
    count falls out of the (quasi, sensitive) cell aggregation for
    free."""
    from isilon_hadoop_tools_spark.operators.analytics import (
        l_diversity_report,
    )

    cust = _t(spark, sf_dir, "customer")
    return l_diversity_report(
        cust,
        [
            F.col("c_nationkey"),
            F.floor(F.col("c_acctbal") / 1000).alias("bal_band"),
        ],
        "c_mktsegment",
        l=3,
    )


@query(
    "customer_t_closeness",
    oracle="""
    WITH cells AS (
      SELECT c_nationkey,
             floor(c_acctbal / 1000)::BIGINT AS bal_band,
             c_mktsegment AS s, count(*) AS n
      FROM customer GROUP BY 1, 2, 3
    ),
    gshare AS (
      SELECT s, sum(n)::DOUBLE / (SELECT sum(n) FROM cells)::DOUBLE AS q
      FROM cells GROUP BY s
    ),
    joined AS (
      SELECT c.c_nationkey, c.bal_band, c.n, g.q,
             c.n::DOUBLE / (sum(c.n) OVER (PARTITION BY c.c_nationkey,
                                           c.bal_band))::DOUBLE AS p
      FROM cells c JOIN gshare g USING (s)
    ),
    groups AS (
      SELECT c_nationkey, bal_band, sum(n)::BIGINT AS rows_n,
             round(0.5 * (sum(abs(p - q)) + 1.0 - sum(q)), 6) AS t
      FROM joined GROUP BY 1, 2
    )
    SELECT sum(rows_n)::BIGINT AS n_rows,
           count(*) AS n_groups,
           round(max(t), 6) AS max_t,
           sum(CASE WHEN t > 0.35 THEN 1 ELSE 0 END)::BIGINT
             AS groups_above_t,
           sum(CASE WHEN t > 0.35 THEN rows_n ELSE 0 END)::BIGINT
             AS rows_above_t,
           round(sum(CASE WHEN t > 0.35 THEN rows_n ELSE 0 END)::DOUBLE
                 / sum(rows_n), 6) AS frac_rows_above_t,
           max(t) <= 0.35 AS t_close
    FROM groups
    """,
)
def customer_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (EA28c, Li et al. 2007) — the third privacy
    gate: a class can be k-anonymous AND l-diverse while its sensitive
    DISTRIBUTION still leaks (the skewness attack); every quasi
    class's market-segment distribution must sit within total-
    variation distance t=0.35 of the global one. Absent values fold
    in via 1 − Σ_{present} P(s), so the work is the l-diversity cell
    aggregation + a value-share broadcast join + a class fold."""
    from isilon_hadoop_tools_spark.operators.analytics import (
        t_closeness_report,
    )

    cust = _t(spark, sf_dir, "customer")
    return t_closeness_report(
        cust,
        [
            F.col("c_nationkey"),
            F.floor(F.col("c_acctbal") / 1000).alias("bal_band"),
        ],
        "c_mktsegment",
        t=0.35,
    )


@query(
    "customer_link_triangles",
    oracle="""
    WITH blocked AS (
      SELECT c_custkey AS id, c_name AS txt,
             substring(c_name, 10, 8) AS blk
      FROM customer
    ),
    sizes AS (SELECT blk, count(*) AS bn FROM blocked GROUP BY blk),
    small AS (
      SELECT b.* FROM blocked b JOIN sizes s USING (blk)
      WHERE s.bn <= 200
    ),
    e AS (
      SELECT a.id AS src, b.id AS dst
      FROM small a JOIN small b USING (blk)
      WHERE a.id < b.id AND levenshtein(a.txt, b.txt) <= 1
    ),
    tri AS (
      SELECT xy.src AS x, xy.dst AS y, yz.dst AS z
      FROM e xy
      JOIN e yz ON yz.src = xy.dst
      JOIN e xz ON xz.src = xy.src AND xz.dst = yz.dst
    )
    SELECT v, count(*) AS n_triangles FROM (
      SELECT x AS v FROM tri
      UNION ALL SELECT y FROM tri
      UNION ALL SELECT z FROM tri
    ) GROUP BY v
    """,
)
def customer_link_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex triangle counts (G2) over the record-linkage graph:
    each x<y<z triangle enumerated once via the ordered two-join
    closure (fan-out bounded by per-vertex degree, never a cross
    product), corners exploded and counted — the local-clustering
    signal that flags dense near-duplicate communities."""
    from isilon_hadoop_tools_spark.operators.analytics import (
        blocked_edit_distance_pairs,
    )
    from isilon_hadoop_tools_spark.operators.graph import triangle_counts

    pairs = blocked_edit_distance_pairs(
        _t(spark, sf_dir, "customer"),
        id_col="c_custkey", text_col="c_name",
        block_expr="substring(c_name, 10, 8)", max_dist=1, max_block=200,
    )
    return triangle_counts(pairs)


@query(
    "customer_link_neighbor_jaccard",
    oracle="""
    WITH blocked AS (
      SELECT c_custkey AS id, c_name AS txt,
             substring(c_name, 10, 8) AS blk
      FROM customer
    ),
    sizes AS (SELECT blk, count(*) AS bn FROM blocked GROUP BY blk),
    small AS (
      SELECT b.* FROM blocked b JOIN sizes s USING (blk)
      WHERE s.bn <= 200
    ),
    e AS (
      SELECT a.id AS src, b.id AS dst
      FROM small a JOIN small b USING (blk)
      WHERE a.id < b.id AND levenshtein(a.txt, b.txt) <= 1
    ),
    adj AS (
      SELECT src AS w, dst AS v FROM e
      UNION ALL SELECT dst AS w, src AS v FROM e
    ),
    deg AS (SELECT v, count(*) AS deg FROM adj GROUP BY v),
    common AS (
      SELECT a.v AS id_a, b.v AS id_b, count(*) AS n_common
      FROM adj a JOIN adj b ON a.w = b.w AND a.v < b.v
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, n_common,
           round(n_common::DOUBLE / (da.deg + db.deg - n_common), 6)
             AS jaccard
    FROM common
    JOIN deg da ON da.v = id_a
    JOIN deg db ON db.v = id_b
    """,
)
def customer_link_neighbor_jaccard(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Structural node similarity over the record-linkage graph (G5):
    neighborhood Jaccard |N(u)∩N(v)|/|N(u)∪N(v)| for every pair
    sharing a neighbor — the link-prediction / role-equivalence
    readout (two customer records whose near-dup edges touch the same
    records are probably the same entity even without a direct
    edge). Candidates from the wedge join, Jaccard exact from full
    degrees; no neighbor-set materialization, no cross product."""
    from isilon_hadoop_tools_spark.operators.analytics import (
        blocked_edit_distance_pairs,
    )
    from isilon_hadoop_tools_spark.operators.graph import (
        neighbor_jaccard_pairs,
    )

    pairs = blocked_edit_distance_pairs(
        _t(spark, sf_dir, "customer"),
        id_col="c_custkey", text_col="c_name",
        block_expr="substring(c_name, 10, 8)", max_dist=1, max_block=200,
    )
    return neighbor_jaccard_pairs(pairs)


@query(
    "customer_link_clustering",
    oracle="""
    WITH blocked AS (
      SELECT c_custkey AS id, c_name AS txt,
             substring(c_name, 10, 8) AS blk
      FROM customer
    ),
    sizes AS (SELECT blk, count(*) AS bn FROM blocked GROUP BY blk),
    small AS (
      SELECT b.* FROM blocked b JOIN sizes s USING (blk)
      WHERE s.bn <= 200
    ),
    e AS (
      SELECT a.id AS src, b.id AS dst
      FROM small a JOIN small b USING (blk)
      WHERE a.id < b.id AND levenshtein(a.txt, b.txt) <= 1
    ),
    und AS (
      SELECT src AS v, dst AS u FROM e
      UNION ALL SELECT dst, src FROM e
    ),
    deg AS (SELECT v, count(*) AS degree FROM und GROUP BY v),
    tri AS (
      SELECT xy.src AS x, xy.dst AS y, yz.dst AS z
      FROM e xy
      JOIN e yz ON yz.src = xy.dst
      JOIN e xz ON xz.src = xy.src AND xz.dst = yz.dst
    ),
    tcnt AS (
      SELECT v, count(*) AS n_triangles FROM (
        SELECT x AS v FROM tri
        UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri
      ) GROUP BY v
    )
    SELECT d.v, d.degree, coalesce(t.n_triangles, 0)::BIGINT
             AS n_triangles,
           round(coalesce(t.n_triangles, 0)
                 / nullif(d.degree * (d.degree - 1) / 2.0, 0), 6)
             AS clustering
    FROM deg d LEFT JOIN tcnt t ON t.v = d.v
    WHERE d.degree >= 2
    """,
)
def customer_link_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient (G2's companion metric):
    triangles through a vertex over its possible neighbor pairs
    (deg choose 2) — 1.0 means the vertex's neighborhood is a clique
    (a tightly-duplicated record community). Composes the degree agg
    with triangle_counts; both ride the same canonical edge list."""
    from isilon_hadoop_tools_spark.operators.analytics import (
        blocked_edit_distance_pairs,
    )
    from isilon_hadoop_tools_spark.operators.graph import triangle_counts

    pairs = blocked_edit_distance_pairs(
        _t(spark, sf_dir, "customer"),
        id_col="c_custkey", text_col="c_name",
        block_expr="substring(c_name, 10, 8)", max_dist=1, max_block=200,
    ).localCheckpoint(eager=False)
    und = pairs.select(
        F.col("id_a").alias("v")
    ).unionByName(pairs.select(F.col("id_b").alias("v")))
    deg = und.groupBy("v").agg(F.count(F.lit(1)).alias("degree"))
    tri = triangle_counts(pairs)
    possible = F.col("degree") * (F.col("degree") - 1) / 2.0
    return (
        deg.join(tri, "v", "left")
        .filter(F.col("degree") >= 2)
        .select(
            "v",
            "degree",
            F.coalesce(F.col("n_triangles"), F.lit(0))
            .cast("long")
            .alias("n_triangles"),
            F.round(
                F.coalesce(F.col("n_triangles"), F.lit(0))
                / F.nullif(possible, F.lit(0.0)),
                6,
            ).alias("clustering"),
        )
    )


@query("customer_link_kcore", oracle=_kcore_oracle(2, 6))
def customer_link_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core of the record-linkage graph (G3): iterative peeling of
    degree<2 vertices isolates the cyclically-linked duplicate
    communities from mere pairwise matches — per round one degree agg
    + two semi-joins with per-round lineage truncation, early-exited
    at the fixed point (result equals the oracle's fixed 6-round
    unroll because peeling is monotone)."""
    from isilon_hadoop_tools_spark.operators.analytics import (
        blocked_edit_distance_pairs,
    )
    from isilon_hadoop_tools_spark.operators.graph import kcore

    pairs = blocked_edit_distance_pairs(
        _t(spark, sf_dir, "customer"),
        id_col="c_custkey", text_col="c_name",
        block_expr="substring(c_name, 10, 8)", max_dist=1, max_block=200,
    )
    return kcore(pairs, k=2, rounds=6).select(
        F.col("v").alias("c_custkey"), "core_degree"
    )


@query("customer_link_communities", oracle=_lpa_oracle(4))
def customer_link_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation communities (G4) over the record-linkage
    graph: 4 synchronous rounds of the deterministic
    most-frequent-neighbor-label vote (self-vote included, ties to
    the lowest label) — the "which dense region claims this vertex?"
    readout complementing components (reachability) and k-core
    (density). One vertex-sized label join + two keyed aggs per
    round, lineage truncated per round."""
    from isilon_hadoop_tools_spark.operators.analytics import (
        blocked_edit_distance_pairs,
    )
    from isilon_hadoop_tools_spark.operators.graph import label_propagation

    pairs = blocked_edit_distance_pairs(
        _t(spark, sf_dir, "customer"),
        id_col="c_custkey", text_col="c_name",
        block_expr="substring(c_name, 10, 8)", max_dist=1, max_block=200,
    )
    return label_propagation(pairs, rounds=4).select(
        F.col("v").alias("c_custkey"), "community"
    )


@query(
    "lineitem_corr_matrix",
    oracle="""
    WITH w AS (
      SELECT round(corr(l_quantity, l_extendedprice), 6) AS c01,
             round(corr(l_quantity, l_discount), 6) AS c02,
             round(corr(l_quantity, l_tax), 6) AS c03,
             round(corr(l_extendedprice, l_discount), 6) AS c12,
             round(corr(l_extendedprice, l_tax), 6) AS c13,
             round(corr(l_discount, l_tax), 6) AS c23
      FROM lineitem
    )
    SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b, c01 AS corr FROM w
    UNION ALL SELECT 'l_quantity', 'l_discount', c02 FROM w
    UNION ALL SELECT 'l_quantity', 'l_tax', c03 FROM w
    UNION ALL SELECT 'l_extendedprice', 'l_discount', c12 FROM w
    UNION ALL SELECT 'l_extendedprice', 'l_tax', c13 FROM w
    UNION ALL SELECT 'l_discount', 'l_tax', c23 FROM w
    """,
)
def lineitem_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlations of the lineitem numerics in ONE
    scan (EA24): six algebraic corr states in a single groupBy-less
    aggregation, stack-unpivoted to long format — the collinearity /
    leakage screen before feature selection."""
    from isilon_hadoop_tools_spark.operators.analytics import corr_matrix

    return corr_matrix(_t(spark, sf_dir, "lineitem"), _CORR_COLS)


@query(
    "orders_snapshot_merge_upsert",
    oracle="""
    WITH t AS (
      SELECT o_orderkey AS k, o_orderstatus AS st,
             round(o_totalprice::DOUBLE, 2) AS tp
      FROM orders
    ),
    s AS (
      SELECT k, 'U' AS st, round(tp + 1000.0, 2) AS tp
      FROM t WHERE k % 10 = 0
      UNION ALL
      SELECT k, 'D', 0.0 FROM t WHERE k % 10 = 5
      UNION ALL
      SELECT k + 600000000, 'N', tp FROM t WHERE k % 10 = 3
    )
    SELECT coalesce(s.k, t.k) AS o_orderkey,
           CASE WHEN s.k IS NOT NULL THEN s.st ELSE t.st END
             AS o_orderstatus,
           CASE WHEN s.k IS NOT NULL THEN s.tp ELSE t.tp END
             AS o_totalprice
    FROM t FULL JOIN s ON t.k = s.k
    WHERE NOT (s.k IS NOT NULL AND t.k IS NOT NULL AND s.st = 'D')
    """,
)
def orders_snapshot_merge_upsert(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MERGE INTO through the snapshot layer (SC10f - the Delta/
    Iceberg upsert verb): the orders projection is committed as v1,
    then ONE merge applies the three ANSI clauses at once - matched
    keys ending in 0 are UPDATED (price bump, status 'U'), matched
    keys ending in 5 are DELETED (source-side 'D' condition), and
    source keys ending in 3 re-keyed past the table are INSERTED -
    committed atomically as v2 with v1 still time-travel readable.
    The oracle replays the identical full-outer merge algebra."""
    import os
    import shutil

    from isilon_hadoop_tools_spark.operators.snapshots import (
        snapshot_merge,
        snapshot_read,
        snapshot_write,
    )

    orders = _t(spark, sf_dir, "orders")
    target = orders.select(
        F.col("o_orderkey"),
        F.col("o_orderstatus"),
        F.round(F.col("o_totalprice").cast("double"), 2).alias(
            "o_totalprice"
        ),
    )
    tag = os.path.basename(sf_dir.rstrip("/"))
    table_dir = f"{_SCRATCH}/snapshot_merge_{tag}"
    shutil.rmtree(table_dir, ignore_errors=True)
    snapshot_write(target, table_dir)
    k = F.col("o_orderkey")
    source = (
        target.filter(k % 10 == 0)
        .select(
            k.alias("o_orderkey"),
            F.lit("U").alias("o_orderstatus"),
            F.round(F.col("o_totalprice") + 1000.0, 2).alias(
                "o_totalprice"
            ),
        )
        .unionByName(
            target.filter(k % 10 == 5).select(
                k.alias("o_orderkey"),
                F.lit("D").alias("o_orderstatus"),
                F.lit(0.0).alias("o_totalprice"),
            )
        )
        .unionByName(
            target.filter(k % 10 == 3).select(
                (k + F.lit(600000000)).alias("o_orderkey"),
                F.lit("N").alias("o_orderstatus"),
                F.col("o_totalprice"),
            )
        )
    )
    snapshot_merge(
        spark,
        table_dir,
        source,
        ["o_orderkey"],
        delete_when=lambda t, s: s("o_orderstatus") == "D",
    )
    return snapshot_read(spark, table_dir)


@query(
    "orders_lineitem_incremental_join",
    oracle="""
    WITH ao AS (SELECT * FROM orders   WHERE o_orderkey % 7 <> 0),
         ad AS (SELECT * FROM orders   WHERE o_orderkey % 7 = 0),
         bo AS (SELECT * FROM lineitem WHERE l_suppkey % 5 <> 0),
         bd AS (SELECT * FROM lineitem WHERE l_suppkey % 5 = 0),
         dv AS (
           SELECT o_orderpriority, l_quantity
           FROM ad JOIN bo ON o_orderkey = l_orderkey
           UNION ALL
           SELECT o_orderpriority, l_quantity
           FROM ao JOIN bd ON o_orderkey = l_orderkey
           UNION ALL
           SELECT o_orderpriority, l_quantity
           FROM ad JOIN bd ON o_orderkey = l_orderkey
         )
    SELECT o_orderpriority,
           count(*)::BIGINT AS n_rows,
           round(sum(l_quantity)::DOUBLE, 2) AS sum_qty
    FROM dv GROUP BY o_orderpriority
    """,
)
def orders_lineitem_incremental_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental JOIN-view maintenance (EA34 - the IVM delta-join
    algebra): orders and lineitem are each split into a materialized
    base and an insert delta, and the view increment dV = dA JOIN B
    UNION A JOIN dB UNION dA JOIN dB is computed WITHOUT re-joining
    the two bases - the property that keeps a 100 TB materialized
    join maintainable under a daily feed. The readout aggregates dV
    per order priority; the oracle replays the same three-way
    union."""
    from isilon_hadoop_tools_spark.operators.analytics import (
        incremental_join_delta,
    )

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_suppkey", "l_quantity"
    )
    a_old = orders.filter(F.col("o_orderkey") % 7 != 0)
    a_delta = orders.filter(F.col("o_orderkey") % 7 == 0)
    b_old = li.filter(F.col("l_suppkey") % 5 != 0)
    b_delta = li.filter(F.col("l_suppkey") % 5 == 0)
    dv = incremental_join_delta(a_old, a_delta, b_old, b_delta, "o_orderkey")
    return dv.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("l_quantity").cast("double"), 2).alias("sum_qty"),
    )


@query(
    "orders_lineitem_bloom_semi_join",
    oracle="""
    SELECT l_returnflag, count(*)::BIGINT AS n_rows,
           round(sum(l_quantity)::DOUBLE, 2) AS sum_qty
    FROM lineitem
    WHERE l_orderkey IN (
      SELECT o_orderkey FROM orders WHERE o_totalprice > 400000
    )
    GROUP BY l_returnflag
    """,
)
def orders_lineitem_bloom_semi_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Bloom semi-join reduction (SC11 - sideways information
    passing): the selective order set (price > 400k) folds into a
    driver-side Bloom bitmap and the lineitem probe side drops its
    misses MAP-SIDE before any exchange; Bloom survivors verify
    against the exact key set, so the readout equals the plain
    left-semi join the oracle runs - at 100 TB the probe side never
    shuffles rows that cannot match."""
    from isilon_hadoop_tools_spark.operators.skew import bloom_semi_join

    li = _t(spark, sf_dir, "lineitem")
    hi = _t(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 400000
    ).select("o_orderkey")
    reduced = bloom_semi_join(li, hi, "l_orderkey", "o_orderkey")
    return reduced.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("l_quantity").cast("double"), 2).alias("sum_qty"),
    )


@query(
    "orders_wap_publish",
    oracle="""
    SELECT o_orderkey,
           round(round(o_totalprice::DOUBLE, 2) + 10.0, 2)
             AS o_totalprice
    FROM orders
    """,
)
def orders_wap_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-audit-publish staging (SC10g - the Iceberg WAP pattern):
    a BAD batch (negated prices) is STAGED with publish=False, its
    audit (a negative-price expectation on the staged version) fails,
    and it is never published - readers keep resolving v1 throughout;
    a GOOD batch then stages, passes the same audit, and ONE atomic
    pointer swap publishes it. The committed table the oracle sees
    contains only the audited data; the bad version remains an
    orphaned manifest the vacuum's orphan rule respects."""
    import os
    import shutil

    from isilon_hadoop_tools_spark.operators.snapshots import (
        latest_version,
        snapshot_publish,
        snapshot_read,
        snapshot_write,
    )

    orders = _t(spark, sf_dir, "orders")
    target = orders.select(
        "o_orderkey",
        F.round(F.col("o_totalprice").cast("double"), 2).alias(
            "o_totalprice"
        ),
    )
    tag = os.path.basename(sf_dir.rstrip("/"))
    table_dir = f"{_SCRATCH}/snapshot_wap_{tag}"
    shutil.rmtree(table_dir, ignore_errors=True)
    snapshot_write(target, table_dir)  # v1: the committed base

    def audit(version: int) -> bool:
        staged = snapshot_read(spark, table_dir, version)
        bad = staged.filter(F.col("o_totalprice") < 0).limit(1).count()
        return bad == 0

    # bad batch: stage, audit, REJECT (never published)
    bad = target.withColumn(
        "o_totalprice",
        F.when(
            F.pmod(F.col("o_orderkey"), F.lit(3)) == 0,
            -F.col("o_totalprice"),
        ).otherwise(F.col("o_totalprice")),
    )
    v_bad = snapshot_write(bad, table_dir, publish=False)
    assert not audit(v_bad)
    assert latest_version(table_dir) == 1  # stage invisible

    # good batch: stage, audit, publish
    good = target.withColumn(
        "o_totalprice", F.round(F.col("o_totalprice") + 10.0, 2)
    )
    v_good = snapshot_write(good, table_dir, publish=False)
    assert audit(v_good)
    assert latest_version(table_dir) == 1  # still invisible pre-publish
    snapshot_publish(table_dir, v_good)
    return snapshot_read(spark, table_dir)


# SAME oracle as the batch Bloom semi-join: the stream-maintained
# bitmap must reduce the probe side to the identical exact result.
@query(
    "orders_bloom_index_stream",
    oracle=REGISTRY["orders_lineitem_bloom_semi_join"].oracle,
)
def orders_bloom_index_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming Bloom-bitmap maintenance (SC11s): the selective
    build side (orders > 400k) arrives AS A STREAM and its bit
    positions fold into a bounded state table (<= m_bits rows
    forever; set-union is idempotent, so replays converge — the
    re-drain no-op is pinned by the streaming unit matrix in
    tests/test_streaming_neardup.py, not re-proven per invocation);
    the lineitem probe side then prefilters
    map-side with the maintained bitmap and verifies against the
    exact key set - identical result to the batch SC11 join."""
    import os
    import shutil

    from isilon_hadoop_tools_spark.operators.skew import bloom_probe_cond
    from isilon_hadoop_tools_spark.plans.state import ParquetState
    from isilon_hadoop_tools_spark.streaming.events import drain
    from isilon_hadoop_tools_spark.streaming.neardup import (
        BLOOM_BITS_SCHEMA,
        bloom_index_apply_batch,
    )

    tag = os.path.basename(sf_dir.rstrip("/"))
    root = f"{_SCRATCH}/bloom_stream_{tag}"
    shutil.rmtree(root, ignore_errors=True)
    state = ParquetState(spark, root)
    schema = spark.read.parquet(f"{sf_dir}/orders.parquet").schema
    src = (
        spark.readStream.schema(schema)
        .parquet(f"{sf_dir}/orders.*")
        .filter(F.col("o_totalprice") > 400000)
        .select("o_orderkey")
    )
    drain(
        src,
        lambda batch, _id: bloom_index_apply_batch(batch, state, "o_orderkey"),
        None,
    )
    bits = {
        r["bit"]
        for r in state.read("bloom_bits", BLOOM_BITS_SCHEMA).collect()
    }
    li = _t(spark, sf_dir, "lineitem")
    hi = _t(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 400000
    ).select(F.col("o_orderkey").cast("string").alias("_k"))
    reduced = li.filter(bloom_probe_cond("l_orderkey", bits)).join(
        hi, F.col("l_orderkey").cast("string") == F.col("_k"), "left_semi"
    )
    return reduced.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("l_quantity").cast("double"), 2).alias("sum_qty"),
    )


@query(
    "lineitem_brand_rules",
    oracle="""
    WITH bi AS (
      SELECT DISTINCT l.l_orderkey AS b, p.p_brand AS i
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ),
    nb AS (SELECT count(DISTINCT b) AS n FROM bi),
    items AS (SELECT i, count(*) AS n_i FROM bi GROUP BY i),
    pairs AS (
      SELECT x.i AS ia, y.i AS ib, count(*) AS n_ab
      FROM bi x JOIN bi y ON x.b = y.b AND x.i < y.i
      GROUP BY x.i, y.i HAVING count(*) >= 50
    ),
    bothdir AS (
      SELECT ia, ib, n_ab FROM pairs
      UNION ALL SELECT ib, ia, n_ab FROM pairs
    )
    SELECT bothdir.ia AS antecedent, bothdir.ib AS consequent, n_ab,
           round(n_ab / nb.n, 6) AS support,
           round(n_ab / a.n_i, 6) AS confidence,
           round(n_ab * nb.n / (a.n_i * c.n_i), 6) AS lift
    FROM bothdir
    JOIN items a ON a.i = bothdir.ia
    JOIN items c ON c.i = bothdir.ib
    CROSS JOIN nb
    """,
)
def lineitem_brand_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over order baskets of part BRANDS (EA7b -
    support / confidence / lift on EA7's pair-mining shape): lift
    separates genuine association from popularity confounding, which
    confidence alone cannot; both rule directions emitted (confidence
    is asymmetric)."""
    from isilon_hadoop_tools_spark.operators.analytics import basket_rules

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    baskets = li.join(
        part, li["l_partkey"] == part["p_partkey"]
    ).select("l_orderkey", "p_brand")
    return basket_rules(
        baskets, "l_orderkey", "p_brand", min_pair_count=50
    )
