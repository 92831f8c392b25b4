"""Relational queries (``q*``): the TPC-H query families adapted to the
fixture schema, SQL-surface coverage (rollup, cube, pivot, grouping sets,
window frames), product analytics over ``events`` (windows,
sessionization, as-of joins, funnels, retention) and the bucketed
co-located join.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from pdtable_spark.operators import fuzzy, similarity
from pdtable_spark.operators.asof import asof_join
from pdtable_spark.operators.interpolate import interpolate_at
from pdtable_spark.queries.suite import _sql_dsum, dsum, load, q


@q(
    "q1_pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           {_sql_dsum('l_quantity', 'sum_qty')},
           {_sql_dsum('l_extendedprice', 'sum_base_price')},
           {_sql_dsum('l_extendedprice * (1.0 - l_discount)', 'sum_disc_price', 'DECIMAL(18,6)')},
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_qty,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark, sf_dir):
    """TPC-H Q1 family: scan + filter + hash aggregate.  One shuffle on the
    (tiny) group key; partial aggregation map-side; filter pushed to parquet."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            dsum(
                F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")),
                "sum_disc_price",
                "decimal(18,6)",
            ),
            (F.sum(F.col("l_quantity").cast("decimal(18,4)")).cast("double") / F.count(F.lit(1)))
            .alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@q(
    "q3_shipping_priority",
    f"""
    SELECT o.o_orderkey, o.o_orderdate, o.o_orderpriority,
           {_sql_dsum('l.l_extendedprice * (1.0 - l.l_discount)', 'revenue', 'DECIMAL(18,6)')}
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark, sf_dir):
    """TPC-H Q3 family: selective dim filter → join → agg → top-k.
    customer is broadcast (dimension); orders⋈lineitem shuffles on orderkey;
    top-k is sort+limit (TakeOrderedAndProject, no full sort)."""
    c = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp")
    )
    l = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01 00:00:00").cast("timestamp")
    )
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(l, l.l_orderkey == o.o_orderkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            dsum(
                F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")),
                "revenue",
                "decimal(18,6)",
            )
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


@q(
    "q5_region_volume",
    f"""
    SELECT n.n_name,
           {_sql_dsum('l.l_extendedprice * (1.0 - l.l_discount)', 'revenue', 'DECIMAL(18,6)')}
    FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n.n_name
    """,
)
def q5_region_volume(spark, sf_dir):
    """TPC-H Q5 family: star join.  nation/region carry explicit broadcast
    hints (bounded-size dimensions, safe at any scale); the customer-derived
    ``dims`` side is deliberately UNhinted — AQE broadcasts it while it fits
    and falls back to a shuffle join when customers outgrow the threshold at
    100× (an explicit hint there would force a driver-OOM-sized broadcast
    instead; `tests/test_plans.py::test_q5_broadcast_fallback_still_correct`
    pins the fallback)."""
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = load(spark, sf_dir, "nation")
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    l = load(spark, sf_dir, "lineitem")
    dims = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("c_custkey", "n_name")
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(dims, o.o_custkey == dims.c_custkey)
        .groupBy("n_name")
        .agg(
            dsum(
                F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")),
                "revenue",
                "decimal(18,6)",
            )
        )
    )


@q(
    "q6_forecast_revenue",
    """
    SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))) AS DOUBLE)
             AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24.0
    """,
)
def q6_forecast_revenue(spark, sf_dir):
    """TPC-H Q6 family: pure filter + global aggregate — every predicate
    reaches the parquet scan (PushedFilters), zero shuffles, one row out."""
    l = load(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24.0)
        )
        .agg(
            dsum(
                F.col("l_extendedprice") * F.col("l_discount"), "revenue", "decimal(18,6)"
            ),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@q(
    "q14_promo_share",
    """
    SELECT CAST(SUM(CAST(CASE WHEN p.p_type LIKE 'PROMO%'
                              THEN l.l_extendedprice * (1.0 - l.l_discount)
                              ELSE 0.0 END AS DECIMAL(18,6))) AS DOUBLE)
           / CAST(SUM(CAST(l.l_extendedprice * (1.0 - l.l_discount)
                           AS DECIMAL(18,6))) AS DOUBLE) AS promo_share
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
    """,
)
def q14_promo_share(spark, sf_dir):
    """TPC-H Q14 family: conditional aggregation over a broadcast dim join."""
    l = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    p = load(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    promo = F.when(F.col("p_type").like("PROMO%"), rev).otherwise(F.lit(0.0))
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .agg(
            (
                F.sum(promo.cast("decimal(18,6)")).cast("double")
                / F.sum(rev.cast("decimal(18,6)")).cast("double")
            ).alias("promo_share")
        )
    )


@q(
    "q18_large_orders",
    f"""
    SELECT o.o_orderkey, o.o_custkey, o.o_totalprice,
           {_sql_dsum('l.l_quantity', 'total_qty')}
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderkey, o.o_custkey, o.o_totalprice
    HAVING SUM(CAST(l.l_quantity AS DECIMAL(18,4))) > 250
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
)
def q18_large_orders(spark, sf_dir):
    """TPC-H Q18 family: big-order detection — join, agg, HAVING, top-k."""
    o = load(spark, sf_dir, "orders")
    l = load(spark, sf_dir, "lineitem")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("o_orderkey", "o_custkey", "o_totalprice")
        .agg(
            dsum("l_quantity", "total_qty"),
            F.sum(F.col("l_quantity").cast("decimal(18,4)")).alias("__qty_dec"),
        )
        .filter(F.col("__qty_dec") > 250)
        .drop("__qty_dec")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


@q(
    "q13_order_count_distribution",
    """
    WITH per_cust AS (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c LEFT JOIN orders o
        ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    )
    SELECT c_count, COUNT(*) AS custdist
    FROM per_cust GROUP BY c_count
    """,
)
def q13_order_count_distribution(spark, sf_dir):
    """TPC-H Q13 family: two-level aggregation over an outer join with a
    join-side predicate (customers with zero qualifying orders count as 0)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(c.c_custkey)
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@q(
    "q15_top_supplier",
    f"""
    WITH rev AS (
      SELECT l_suppkey,
             {_sql_dsum('l_extendedprice * (1.0 - l_discount)', 'total_revenue', 'DECIMAL(18,6)')}
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s JOIN rev r ON s.s_suppkey = r.l_suppkey
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM rev)
    """,
)
def q15_top_supplier(spark, sf_dir):
    """TPC-H Q15 family: aggregate 'view' + scalar-subquery max filter —
    expressed as a rank-1 window over the aggregated side (one extra tiny
    shuffle instead of a recompute-the-view self-join)."""
    l = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    rev = l.groupBy("l_suppkey").agg(
        dsum(
            F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")),
            "total_revenue",
            "decimal(18,6)",
        )
    )
    top = rev.withColumn(
        "rnk", F.rank().over(Window.orderBy(F.desc("total_revenue")))
    ).filter(F.col("rnk") == 1)
    s = load(spark, sf_dir, "supplier")
    return s.join(F.broadcast(top), s.s_suppkey == top.l_suppkey).select(
        "s_suppkey", "s_name", "total_revenue"
    )


@q(
    "q17_small_quantity_revenue",
    """
    WITH avg_qty AS (
      SELECT l_partkey,
             0.5 * (CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*))
               AS half_avg
      FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / 7.0
             AS avg_yearly,
           COUNT(*) AS n_lines
    FROM lineitem l JOIN avg_qty a ON l.l_partkey = a.l_partkey
    WHERE l.l_quantity < a.half_avg
    """,
)
def q17_small_quantity_revenue(spark, sf_dir):
    """TPC-H Q17 family: correlated average via aggregate-then-join-back.
    Both sides spell the per-part average as an exact decimal sum divided by
    the count, so the `quantity < half_avg` predicate is layout- and
    partitioning-independent (tested with perturbed shuffle partitions)."""
    l = load(spark, sf_dir, "lineitem")
    avg_qty = (
        load(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_partkey").alias("a_partkey"))
        .agg(
            (
                F.lit(0.5)
                * (
                    F.sum(F.col("l_quantity").cast("decimal(18,4)")).cast("double")
                    / F.count(F.lit(1))
                )
            ).alias("half_avg")
        )
    )
    j = l.join(avg_qty, l.l_partkey == avg_qty.a_partkey).filter(
        F.col("l_quantity") < F.col("half_avg")
    )
    return j.agg(
        (F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).cast("double") / 7.0)
        .alias("avg_yearly"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@q(
    "q19_discounted_revenue",
    f"""
    SELECT {_sql_dsum('l.l_extendedprice * (1.0 - l.l_discount)', 'revenue', 'DECIMAL(18,6)')},
           COUNT(*) AS n_lines
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND l.l_quantity BETWEEN 1 AND 11 AND p.p_size BETWEEN 1 AND 5)
       OR (p.p_brand = 'Brand#2' AND l.l_quantity BETWEEN 10 AND 20 AND p.p_size BETWEEN 1 AND 10)
       OR (p.p_brand = 'Brand#3' AND l.l_quantity BETWEEN 20 AND 30 AND p.p_size BETWEEN 1 AND 15)
    """,
)
def q19_discounted_revenue(spark, sf_dir):
    """TPC-H Q19 family: disjunctive multi-branch predicate across the join
    — Catalyst pushes the common l_quantity/p_size bounds below the join."""
    l = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("l_quantity").between(1, 11) & F.col("p_size").between(1, 5))
        | ((F.col("p_brand") == "Brand#2") & F.col("l_quantity").between(10, 20) & F.col("p_size").between(1, 10))
        | ((F.col("p_brand") == "Brand#3") & F.col("l_quantity").between(20, 30) & F.col("p_size").between(1, 15))
    )
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(
            dsum(
                F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")),
                "revenue",
                "decimal(18,6)",
            ),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@q(
    "q_top_orders_per_customer",
    """
    SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders) t
    WHERE rn <= 3
    """,
)
def q_top_orders_per_customer(spark, sf_dir):
    """Window top-n per group: ONE shuffle on the partition key; rank runs
    inside each partition (no global sort)."""
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


@q(
    "q_orders_by_month",
    f"""
    SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS order_month,
           COUNT(*) AS n_orders,
           {_sql_dsum('o_totalprice', 'revenue')}
    FROM orders GROUP BY 1
    """,
)
def q_orders_by_month(spark, sf_dir):
    """Time bucketing via date_trunc — pure hash aggregate."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy(F.date_trunc("month", F.col("o_orderdate")).alias("order_month")).agg(
        F.count(F.lit(1)).alias("n_orders"), dsum("o_totalprice", "revenue")
    )


@q(
    "q_part_brand_stats",
    f"""
    SELECT p_brand, COUNT(*) AS n_parts,
           CAST(SUM(CAST(p_retailprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_price,
           MAX(p_size) AS max_size, MIN(p_size) AS min_size
    FROM part GROUP BY p_brand
    """,
)
def q_part_brand_stats(spark, sf_dir):
    p = load(spark, sf_dir, "part")
    return p.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_parts"),
        (F.sum(F.col("p_retailprice").cast("decimal(18,4)")).cast("double") / F.count(F.lit(1)))
        .alias("avg_price"),
        F.max("p_size").alias("max_size"),
        F.min("p_size").alias("min_size"),
    )


@q(
    "q_rollup_returns",
    f"""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n, {_sql_dsum('l_quantity', 'sum_qty')}
    FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
)
def q_rollup_returns(spark, sf_dir):
    """Grouping sets / rollup — free in Spark (R-extension; absent in the
    reference, SURVEY §2.4 note)."""
    li = load(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"), dsum("l_quantity", "sum_qty")
    )


@q(
    "q_pivot_order_status",
    """
    SELECT o_orderpriority,
           COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS status_f,
           COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS status_o,
           COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS status_p
    FROM orders GROUP BY o_orderpriority
    """,
)
def q_pivot_order_status(spark, sf_dir):
    """Pivot (R16) with explicit pivot values — avoids the extra distinct
    scan Spark runs to discover them."""
    o = load(spark, sf_dir, "orders")
    piv = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
    )
    return piv.select(
        "o_orderpriority",
        F.coalesce(F.col("F"), F.lit(0)).alias("status_f"),
        F.coalesce(F.col("O"), F.lit(0)).alias("status_o"),
        F.coalesce(F.col("P"), F.lit(0)).alias("status_p"),
    )


@q(
    "q_unpivot_measures",
    f"""
    SELECT 'l_quantity' AS measure, {_sql_dsum('l_quantity', 'total')} FROM lineitem
    UNION ALL
    SELECT 'l_discount' AS measure, {_sql_dsum('l_discount', 'total')} FROM lineitem
    UNION ALL
    SELECT 'l_tax' AS measure, {_sql_dsum('l_tax', 'total')} FROM lineitem
    """,
)
def q_unpivot_measures(spark, sf_dir):
    """Melt / unpivot (R17) then aggregate."""
    li = load(spark, sf_dir, "lineitem")
    melted = li.melt(
        ids=["l_orderkey"],
        values=["l_quantity", "l_discount", "l_tax"],
        variableColumnName="measure",
        valueColumnName="value",
    )
    return melted.groupBy("measure").agg(dsum("value", "total"))


@q(
    "q_customers_without_orders",
    """
    SELECT c_custkey FROM customer
    EXCEPT
    SELECT o_custkey AS c_custkey FROM orders
    """,
)
def q_customers_without_orders(spark, sf_dir):
    """Set op (EXCEPT) — distinct anti-semantics, one shuffle."""
    c = load(spark, sf_dir, "customer").select("c_custkey")
    o = load(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return c.subtract(o)


@q(
    "q_top_suppliers",
    f"""
    SELECT s.s_name,
           {_sql_dsum('l.l_extendedprice * (1.0 - l.l_discount)', 'revenue', 'DECIMAL(18,6)')}
    FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY s.s_name
    ORDER BY revenue DESC, s_name
    LIMIT 5
    """,
)
def q_top_suppliers(spark, sf_dir):
    """Broadcast-join fact→dim + top-k."""
    l = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    return (
        l.join(s, l.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(
            dsum(
                F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")),
                "revenue",
                "decimal(18,6)",
            )
        )
        .orderBy(F.desc("revenue"), F.asc("s_name"))
        .limit(5)
    )


@q(
    "q4_order_priority",
    """
    SELECT o.o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
    GROUP BY o.o_orderpriority
    """,
)
def q4_order_priority(spark, sf_dir):
    """TPC-H Q4 family: EXISTS → left-semi join (no row duplication, the
    semi-join short-circuits per key) then a tiny hash aggregate."""
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    late = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        o.join(late, o.o_orderkey == late.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@q(
    "q_idle_customers",
    """
    SELECT c.c_custkey, c.c_acctbal
    FROM customer c
    WHERE c.c_acctbal > 1000.0
      AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderdate >= TIMESTAMP '1998-01-01 00:00:00')
    """,
)
def q_idle_customers(spark, sf_dir):
    """TPC-H Q22 family: NOT EXISTS → left-anti join."""
    c = load(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 1000.0)
    recent = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1998-01-01 00:00:00").cast("timestamp")
    )
    return c.join(recent, c.c_custkey == recent.o_custkey, "left_anti").select(
        "c_custkey", "c_acctbal"
    )


@q(
    "q22_idle_customers",
    """
    WITH pool AS (
      SELECT c_custkey, c_nationkey, c_acctbal,
             CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS cents
      FROM customer WHERE c_nationkey IN (1, 3, 5, 7, 9, 11, 13)
    ),
    scal AS (
      SELECT SUM(cents) AS s, COUNT(*) AS n FROM pool WHERE c_acctbal > 0.0
    ),
    cand AS (
      SELECT p.* FROM pool p CROSS JOIN scal WHERE p.cents * scal.n > scal.s
    ),
    idle AS (
      SELECT * FROM cand
      WHERE NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = cand.c_custkey
          AND o.o_orderdate >= TIMESTAMP '2000-06-01 00:00:00')
    )
    SELECT n.n_name AS nation, CAST(COUNT(*) AS BIGINT) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS totacctbal
    FROM idle JOIN nation n ON n.n_nationkey = idle.c_nationkey
    GROUP BY n.n_name
    """,
)
def q22_idle_customers(spark, sf_dir):
    """The full TPC-H Q22 analog: "country code"
    membership filter (the testdata has no ``c_phone``, so the 7-code
    prefix set maps to 7 nationkeys), balance above the POSITIVE-balance
    average of that pool (the correlated scalar subquery), customers
    with no recent orders (anti-join; the testdata generator gives EVERY
    customer orders, so the literal no-orders-at-all spelling is empty
    by construction at every SF — the date window keeps the value gate
    non-vacuous without changing the plan shape, just adding a pushed
    filter on the anti side), rolled up per nation.

    The above-average threshold compares EXACT INTEGER CENTS cross-
    multiplied against the pool's (sum, count) — ``cents·n > Σcents`` —
    instead of a floating AVG, so a boundary-balance customer cannot
    flip membership on engine-specific double summation order.

    Scale shape: the scalar aggregate is one broadcast row; the
    anti-join shuffles on custkey like every Q22 at scale (orders is the
    big side — Spark builds the hash side from the FILTERED candidate
    pool under AQE); the nation rollup broadcasts the 25-row dim."""
    cents = F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("long")
    pool = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_nationkey").isin([1, 3, 5, 7, 9, 11, 13]))
        .select("c_custkey", "c_nationkey", "c_acctbal", cents.alias("__cents"))
    )
    scal = pool.filter(F.col("c_acctbal") > 0.0).agg(
        F.sum("__cents").alias("__s"), F.count(F.lit(1)).alias("__n")
    )
    cand = pool.crossJoin(F.broadcast(scal)).filter(
        F.col("__cents") * F.col("__n") > F.col("__s")
    )
    orders = (
        load(spark, sf_dir, "orders")
        .filter(
            F.col("o_orderdate")
            >= F.lit("2000-06-01 00:00:00").cast("timestamp")
        )
        .select("o_custkey")
    )
    idle = cand.join(orders, cand.c_custkey == orders.o_custkey, "left_anti")
    nation = load(spark, sf_dir, "nation")
    return (
        idle.join(
            F.broadcast(nation), idle.c_nationkey == nation.n_nationkey
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dsum("c_acctbal", "totacctbal"),
        )
    )


@q(
    "q_min_price_supplier",
    """
    WITH mn AS (
      SELECT l_partkey, MIN(l_extendedprice) AS min_price
      FROM lineitem GROUP BY l_partkey
    )
    SELECT l.l_partkey, l.l_suppkey, l.l_extendedprice AS price
    FROM lineitem l JOIN mn ON l.l_partkey = mn.l_partkey
                           AND l.l_extendedprice = mn.min_price
    """,
)
def q_min_price_supplier(spark, sf_dir):
    """TPC-H Q2 family shape: group-min then join back on (key, min) —
    the aggregate side is small post-agg, AQE turns the join broadcast."""
    l = load(spark, sf_dir, "lineitem").alias("l")
    mn = (
        load(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_partkey").alias("mn_partkey"))
        .agg(F.min("l_extendedprice").alias("min_price"))
    )
    return (
        l.join(
            mn,
            (F.col("l.l_partkey") == F.col("mn_partkey"))
            & (F.col("l.l_extendedprice") == F.col("min_price")),
        )
        .select(
            F.col("l.l_partkey").alias("l_partkey"),
            F.col("l.l_suppkey").alias("l_suppkey"),
            F.col("l.l_extendedprice").alias("price"),
        )
    )


@q(
    "q_cube_returns",
    f"""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n, {_sql_dsum('l_quantity', 'sum_qty')}
    FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
    """,
)
def q_cube_returns(spark, sf_dir):
    """CUBE grouping sets (superset of rollup; all 4 grouping combinations)."""
    li = load(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"), dsum("l_quantity", "sum_qty")
    )


@q(
    "q_both_status_customers",
    """
    SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'F'
    INTERSECT
    SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'O'
    """,
)
def q_both_status_customers(spark, sf_dir):
    """Set op (INTERSECT) — distinct semantics, single shuffle per side."""
    o = load(spark, sf_dir, "orders")
    f_side = o.filter(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("c_custkey"))
    o_side = o.filter(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("c_custkey"))
    return f_side.intersect(o_side)


@q(
    "q_string_funcs",
    """
    SELECT p_partkey,
           upper(p_name) AS name_upper,
           substr(p_name, 1, 8) AS name_prefix,
           length(p_name) AS name_len,
           p_brand || '/' || p_type AS brand_type,
           CASE WHEN p_name LIKE '%cold%' THEN 1 ELSE 0 END AS has_cold,
           replace(p_type, ' ', '_') AS type_snake
    FROM part
    WHERE p_name LIKE '%ol%'
    """,
)
def q_string_funcs(spark, sf_dir):
    """Scalar string-function coverage (R-extension; pandas supplies these in
    the reference) — all JVM-side, whole-stage codegen."""
    p = load(spark, sf_dir, "part").filter(F.col("p_name").like("%ol%"))
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.length("p_name").cast("bigint").alias("name_len"),
        F.concat_ws("/", "p_brand", "p_type").alias("brand_type"),
        # '%cold%' is MIXED under the '%ol%' filter ('cold *' rows hit,
        # '* bolt' rows miss); the original '%green%' could never match —
        # the fixture adjective vocabulary has no 'green' at any SF, so
        # the true-branch was dead in the oracle (constant-column audit)
        F.when(F.col("p_name").like("%cold%"), 1).otherwise(0).alias("has_cold"),
        F.regexp_replace("p_type", " ", "_").alias("type_snake"),
    )


@q(
    "q_math_funcs",
    """
    SELECT l_orderkey, l_linenumber,
           sqrt(l_extendedprice) AS price_sqrt,
           abs(l_discount - 0.05) AS disc_dev,
           floor((l_extendedprice * 0.1) * 100.0 + 0.5) / 100.0 AS price_tithe,
           floor(l_quantity / 7.0) AS qty_floor7,
           CAST(l_orderkey % 97 AS BIGINT) AS key_mod
    FROM lineitem
    WHERE l_linenumber = 1 AND l_orderkey % 10 = 0
    """,
)
def q_math_funcs(spark, sf_dir):
    """Scalar math coverage restricted to IEEE-exact ops (sqrt/abs/floor/
    mod) so both engines produce identical bits.  Rounding is spelled
    binary-faithfully as floor(x·100 + 0.5)/100 on BOTH sides: native
    round() disagrees across engines at .005 boundaries (Spark rounds the
    shortest decimal repr of the double, DuckDB the binary value — found at
    sf0.1 where one lineitem hits such a boundary)."""
    l = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_linenumber") == 1) & (F.col("l_orderkey") % 10 == 0)
    )
    return l.select(
        "l_orderkey",
        "l_linenumber",
        F.sqrt("l_extendedprice").alias("price_sqrt"),
        F.abs(F.col("l_discount") - 0.05).alias("disc_dev"),
        (F.floor((F.col("l_extendedprice") * 0.1) * 100.0 + 0.5) / 100.0).alias(
            "price_tithe"
        ),
        F.floor(F.col("l_quantity") / 7.0).cast("double").alias("qty_floor7"),
        (F.col("l_orderkey") % 97).cast("bigint").alias("key_mod"),
    )


@q(
    "q_big_spenders_having",
    f"""
    SELECT o_custkey, COUNT(*) AS n_orders, {_sql_dsum('o_totalprice', 'spend')}
    FROM orders
    GROUP BY o_custkey
    HAVING COUNT(*) >= 8
    """,
)
def q_big_spenders_having(spark, sf_dir):
    """GROUP BY + HAVING (post-aggregation filter)."""
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"), dsum("o_totalprice", "spend"))
        .filter(F.col("n_orders") >= 8)
    )


@q(
    "q_nation_customer_counts",
    """
    SELECT n.n_name, COUNT(c.c_custkey) AS n_customers
    FROM nation n LEFT JOIN customer c ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def q_nation_customer_counts(spark, sf_dir):
    """LEFT OUTER join preserving empty groups (COUNT(col) skips nulls)."""
    n = load(spark, sf_dir, "nation")
    c = load(spark, sf_dir, "customer")
    return (
        n.join(c, c.c_nationkey == n.n_nationkey, "left")
        .groupBy("n_name")
        .agg(F.count("c_custkey").alias("n_customers"))
    )


@q(
    "q_running_spend",
    """
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS running_spend
    FROM orders
    WHERE o_custkey % 50 = 0
    """,
)
def q_running_spend(spark, sf_dir):
    """Cumulative window sum — one shuffle on the partition key; decimal
    accumulation keeps the running prefix sums bit-identical cross-engine."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_custkey") % 50 == 0)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast("decimal(18,4)")).over(w).cast("double")
        .alias("running_spend"),
    )


@q(
    "q_distinct_ship_modes",
    """
    SELECT l_returnflag,
           COUNT(DISTINCT l_linestatus) AS n_statuses,
           COUNT(DISTINCT l_suppkey) AS n_suppliers
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_distinct_ship_modes(spark, sf_dir):
    """Multi-column DISTINCT aggregation (expand + two-phase agg in Spark)."""
    l = load(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.countDistinct("l_linestatus").alias("n_statuses"),
        F.countDistinct("l_suppkey").alias("n_suppliers"),
    )


@q(
    "q10_returned_revenue",
    f"""
    SELECT c.c_custkey, c.c_name,
           {_sql_dsum('l.l_extendedprice * (1.0 - l.l_discount)', 'revenue', 'DECIMAL(18,6)')}
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_revenue(spark, sf_dir):
    """TPC-H Q10 family: returned-item revenue per customer, top 20."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    l = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            dsum(
                F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")),
                "revenue",
                "decimal(18,6)",
            )
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@q(
    "q_table_facade_units",
    f"""
    SELECT l_returnflag,
           {_sql_dsum('l_quantity * 1000.0', 'total_qty_g', 'DECIMAL(22,4)')},
           COUNT(*) AS n
    FROM lineitem
    WHERE l_quantity * 1000.0 > 5000.0
    GROUP BY l_returnflag
    """,
)
def q_table_facade_units(spark, sf_dir):
    """The Table facade in the graded path: wrap the scan with StarTable
    units, convert kg→g (R20 — converter resolved driver-side, executed as
    a column expression), filter and aggregate through the unit-checked
    wrapper.  The returned plan is identical to raw DataFrame code —
    metadata bookkeeping costs nothing at runtime."""
    from pdtable_spark.frame import attach_units
    from pdtable_spark.table import Table
    from pdtable_spark.units import simple_converter

    df = load(spark, sf_dir, "lineitem").select("l_returnflag", "l_quantity")
    t = Table(
        attach_units(df, unit_map={"l_quantity": "kg", "l_returnflag": "text"}),
        name="lineitem",
    )
    t = t.convert_units({"l_quantity": "g"}, converter=simple_converter)
    assert t["l_quantity"].unit == "g"
    t = t.filter(F.col("l_quantity") > 5000.0)
    g = t.group_by("l_returnflag").agg(
        dsum("l_quantity", "total_qty_g", "decimal(22,4)"),
        F.count(F.lit(1)).alias("n"),
    )
    return g.df.select("l_returnflag", "total_qty_g", "n")


@q(
    "q_sql_grouping_sets",
    f"""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n, {_sql_dsum('l_quantity', 'sum_qty')}
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def q_sql_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS — exercised through the ``spark.sql`` entry
    point over a registered temp view (the SQL-text API surface, same
    Catalyst plan as the DataFrame spelling)."""
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("v_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        FROM v_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@q(
    "q_order_gaps",
    """
    SELECT o_custkey, o_orderkey,
           lag(o_orderkey) OVER w AS prev_orderkey,
           lead(o_orderkey) OVER w AS next_orderkey,
           date_diff('day', lag(o_orderdate) OVER w, o_orderdate) AS days_since_prev
    FROM orders
    WHERE o_custkey % 100 = 0
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def q_order_gaps(spark, sf_dir):
    """lead/lag navigation — one shuffle on the partition key."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_custkey") % 100 == 0)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev_date = F.lag("o_orderdate").over(w)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.lag("o_orderkey").over(w).alias("prev_orderkey"),
        F.lead("o_orderkey").over(w).alias("next_orderkey"),
        F.datediff(F.col("o_orderdate"), prev_date).cast("long").alias("days_since_prev"),
    )


@q(
    "q_range_frame_spend",
    """
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
                OVER (PARTITION BY o_custkey ORDER BY epoch(o_orderdate)
                      RANGE BETWEEN 7776000 PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS trailing_90d_spend
    FROM orders
    WHERE o_custkey % 100 = 0
    """,
)
def q_range_frame_spend(spark, sf_dir):
    """RANGE-frame window: trailing-90-day spend per customer — value-based
    frame bounds (all orders within 90 days), not row counts."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_custkey") % 100 == 0)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.unix_timestamp("o_orderdate"))
        .rangeBetween(-90 * 86400, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast("decimal(18,4)")).over(w).cast("double")
        .alias("trailing_90d_spend"),
    )


@q(
    "q_events_hourly",
    f"""
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type,
           COUNT(*) AS n, {_sql_dsum('value', 'total_value')}
    FROM events GROUP BY 1, 2
    """,
)
def q_events_hourly(spark, sf_dir):
    """Tumbling-window aggregation (batch spelling; streaming variant in
    pdtable_spark.streaming uses the same grouping with a watermark)."""
    e = load(spark, sf_dir, "events")
    return e.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"), F.col("event_type")
    ).agg(F.count(F.lit(1)).alias("n"), dsum("value", "total_value"))


@q(
    "q_events_sliding",
    f"""
    WITH panes AS (
      SELECT e.event_type, e.value,
             to_timestamp(
               (CAST(floor(epoch(e.ts) / 900) AS BIGINT) - i) * 900
             ) AS win_start
      FROM events e, generate_series(0, 3) t(i)
      WHERE (CAST(floor(epoch(e.ts) / 900) AS BIGINT) - i) * 900 + 3600 > epoch(e.ts)
    )
    SELECT CAST(win_start AS TIMESTAMP) AS win_start, event_type,
           COUNT(*) AS n, {_sql_dsum('value', 'total_value')}
    FROM panes GROUP BY 1, 2
    """,
)
def q_events_sliding(spark, sf_dir):
    """Sliding-window aggregation (1h window, 15min slide) in batch mode —
    each event lands in window/slide = 4 panes; the oracle expands panes
    with generate_series.  Same grouping runs incrementally under
    readStream (streaming/windows.stream_sliding_counts)."""
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "15 minutes").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value", "total_value"))
        .select(
            F.col("win.start").alias("win_start"), "event_type", "n", "total_value"
        )
    )


@q(
    "q_events_sessions",
    """
    WITH g AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR date_diff('second', lag(ts) OVER w, ts) > 1800
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
    FROM g GROUP BY user_id
    """,
)
def q_events_sessions(spark, sf_dir):
    """Sessionization via gap detection: ONE shuffle on user_id; the
    cumulative trick avoids any self-join."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    new_s = F.when(
        prev.isNull() | ((F.unix_timestamp("ts") - F.unix_timestamp(prev)) > 1800), 1
    ).otherwise(0)
    return (
        e.withColumn("new_session", new_s)
        .groupBy("user_id")
        .agg(
            F.sum("new_session").cast("long").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@q(
    "q_purchase_last_click",
    """
    WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
         c AS (SELECT user_id, ts FROM events WHERE event_type = 'click')
    SELECT p.event_id, p.user_id, p.ts, c.ts AS click_ts
    FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND c.ts <= p.ts
    """,
)
def q_purchase_last_click(spark, sf_dir):
    """As-of join (operator Spark lacks — pdtable_spark.operators.asof):
    every purchase gets the user's most recent prior click.  Union+window
    implementation: one shuffle on user_id, no range-explosion."""
    e = load(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    clicks = e.filter(F.col("event_type") == "click").select("user_id", "ts")
    out = asof_join(purchases, clicks, on="ts", by="user_id", right_cols=[])
    return out.select("event_id", "user_id", "ts", F.col("ts_right").alias("click_ts"))


@q(
    "q_events_in_windows",
    f"""
    WITH iv AS (
      SELECT CAST(i AS INT) AS win_id,
             TIMESTAMP '2024-01-01 02:00:00' + i * INTERVAL 1 DAY AS start,
             TIMESTAMP '2024-01-01 06:00:00' + i * INTERVAL 1 DAY AS "end"
      FROM generate_series(0, 29) t(i)
    )
    SELECT iv.win_id, COUNT(*) AS n_events, {_sql_dsum('e.value', 'total_value')}
    FROM events e JOIN iv ON e.ts >= iv.start AND e.ts < iv."end"
    GROUP BY iv.win_id
    """,
)
def q_events_in_windows(spark, sf_dir):
    """Point-in-interval join (operators/range_join): events bucketed into
    daily 02:00-06:00 maintenance windows.  The bucketing turns Spark's
    would-be nested-loop range join into an equi-join on the grain id."""
    from pdtable_spark.operators.range_join import interval_join

    e = load(spark, sf_dir, "events")
    iv = spark.range(30).select(
        F.col("id").cast("int").alias("win_id"),
        F.timestamp_seconds(
            F.unix_timestamp(F.lit("2024-01-01 02:00:00").cast("timestamp"))
            + F.col("id") * 86400
        ).alias("start"),
        F.timestamp_seconds(
            F.unix_timestamp(F.lit("2024-01-01 06:00:00").cast("timestamp"))
            + F.col("id") * 86400
        ).alias("end"),
    )
    joined = interval_join(e, iv, "ts", grain_seconds=4 * 3600)
    return joined.groupBy("win_id").agg(
        F.count(F.lit(1)).alias("n_events"), dsum("value", "total_value")
    )


@q(
    "q_events_props_json",
    """
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
           CAST(MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS INT) AS max_k
    FROM events GROUP BY event_type
    """,
)
def q_events_props_json(spark, sf_dir):
    """Semi-structured columns: JSON path extraction inside codegen
    (get_json_object), then plain aggregation — no schema declaration
    needed, the common shape for event `props` payloads."""
    e = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(k).cast("bigint").alias("sum_k"),
        F.max(k).alias("max_k"),
    )


@q(
    "q_quantity_percentiles",
    """
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.5) AS p50,
           quantile_cont(l_quantity, 0.9) AS p90
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_quantity_percentiles(spark, sf_dir):
    """Exact interpolated percentiles (Spark `percentile` == DuckDB
    `quantile_cont`: same linear-interpolation definition, deterministic on
    identical multisets).  The approximate scale path is
    `approx_percentile` (t-digest) — kept out of the oracle-checked suite
    because sketches are engine-specific."""
    l = load(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", F.lit(0.5)).alias("p50"),
        F.percentile("l_quantity", F.lit(0.9)).alias("p90"),
    )


@q(
    "q_purchase_nearest_click",
    """
    WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
         c AS (SELECT user_id, ts AS click_ts FROM events WHERE event_type = 'click'),
         ranked AS (
           SELECT p.event_id, p.user_id, p.ts, c.click_ts,
                  ROW_NUMBER() OVER (
                    PARTITION BY p.event_id
                    ORDER BY abs(epoch(p.ts) - epoch(c.click_ts)),
                             CASE WHEN c.click_ts <= p.ts THEN 0 ELSE 1 END,
                             c.click_ts) AS rn
           FROM p JOIN c ON p.user_id = c.user_id
         )
    SELECT event_id, user_id, ts, click_ts FROM ranked WHERE rn = 1
    """,
)
def q_purchase_nearest_click(spark, sf_dir):
    """As-of join, direction='nearest': each purchase matched to the
    user's temporally closest click (backward wins exact-distance ties).
    The oracle brute-forces argmin over the per-user cross join; our
    operator does it in one shuffle with dual window passes.  Purchases
    with no clicks at all drop (oracle inner-joins), hence the inner
    filter."""
    e = load(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    clicks = e.filter(F.col("event_type") == "click").select("user_id", "ts")
    out = asof_join(purchases, clicks, on="ts", by="user_id", right_cols=[], direction="nearest")
    return out.filter(F.col("ts_right").isNotNull()).select(
        "event_id", "user_id", "ts", F.col("ts_right").alias("click_ts")
    )


@q(
    "q7_nation_volume",
    f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS INT) AS l_year,
           {_sql_dsum('l.l_extendedprice * (1.0 - l.l_discount)', 'revenue', 'DECIMAL(18,6)')}
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
    JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY 1, 2, 3
    """,
)
def q7_nation_volume(spark, sf_dir):
    """TPC-H Q7 family: cross-nation shipping volume.  The fact table
    shuffles twice (orderkey join, custkey via orders); supplier and both
    nation sides broadcast; the nation filter prunes BEFORE the big joins
    (Catalyst pushes the disjunction into the dimension scans)."""
    l = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    s = load(spark, sf_dir, "supplier")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    n1 = n.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation"))
    j = (
        l.join(s, l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    return j.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").cast("int").alias("l_year")
    ).agg(
        dsum(
            F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")),
            "revenue",
            "decimal(18,6)",
        )
    )


@q(
    "q9_product_profit",
    f"""
    SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS INT) AS o_year,
           {_sql_dsum('l.l_extendedprice * (1.0 - l.l_discount) - 0.5 * p.p_retailprice * l.l_quantity', 'sum_profit', 'DECIMAL(18,6)')}
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE p.p_name LIKE '%widget%'
    GROUP BY 1, 2
    """,
)
def q9_product_profit(spark, sf_dir):
    """TPC-H Q9 family: product-line profit by supplier nation and year
    (testdata has no partsupp, so supply cost is proxied at half retail).
    The part-name filter prunes the part dimension before its broadcast;
    lineitem shuffles once on orderkey."""
    l = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    s = load(spark, sf_dir, "supplier")
    o = load(spark, sf_dir, "orders")
    n = load(spark, sf_dir, "nation")
    j = (
        l.join(p, l.l_partkey == p.p_partkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
    )
    profit = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) - F.lit(
        0.5
    ) * F.col("p_retailprice") * F.col("l_quantity")
    return j.groupBy(
        F.col("n_name").alias("nation"), F.year("o_orderdate").cast("int").alias("o_year")
    ).agg(dsum(profit, "sum_profit", "decimal(18,6)"))


@q(
    "q_custkey_median_pandas",
    """
    SELECT o_custkey, COUNT(*) AS n_orders,
           quantile_cont(o_totalprice, 0.5) AS median_price,
           MAX(o_totalprice) AS max_price
    FROM orders GROUP BY o_custkey
    """,
)
def q_custkey_median_pandas(spark, sf_dir):
    """Grouped-map Pandas path (applyInPandas): per-customer order stats
    computed in pandas per Arrow batch.  Deliberately restricted to
    order-insensitive statistics (count/max/interpolated median) so the
    result is bit-identical to the SQL oracle — the point is proving the
    grouped Arrow plumbing, the same shape a custom per-group model-feature
    UDF would use.  One shuffle on the group key."""
    import pandas as pd

    o = load(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")

    def stats(pdf: pd.DataFrame) -> pd.DataFrame:
        # even-count median spelled EXACTLY as DuckDB's quantile_cont
        # evaluates it at frac=0.5 — (lo + hi)·0.5.  Both numpy's quantile
        # (upper-end lerp b − diff·(1−t)) and the textbook lo + (hi−lo)·frac
        # differ from it in the last ulp on some pairs — found at sf0.1.
        s = sorted(pdf["o_totalprice"].values)
        n = len(s)
        med = (s[n // 2 - 1] + s[n // 2]) * 0.5 if n % 2 == 0 else float(s[n // 2])
        return pd.DataFrame(
            {
                "o_custkey": [pdf["o_custkey"].iloc[0]],
                "n_orders": [len(pdf)],
                "median_price": [med],
                "max_price": [float(s[-1])],
            }
        )

    return o.groupBy("o_custkey").applyInPandas(
        stats,
        schema="o_custkey long, n_orders long, median_price double, max_price double",
    )


@q(
    "q8_market_share",
    f"""
    SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
           CAST(SUM(CAST(CASE WHEN ns.n_name = 'NATION_3'
                     THEN l.l_extendedprice * (1.0 - l.l_discount) ELSE 0.0 END
                     AS DECIMAL(18,6))) AS DOUBLE)
             / CAST(SUM(CAST(l.l_extendedprice * (1.0 - l.l_discount)
                     AS DECIMAL(18,6))) AS DOUBLE) AS mkt_share,
           {_sql_dsum('l.l_extendedprice * (1.0 - l.l_discount)', 'total_revenue', 'DECIMAL(18,6)')}
    FROM lineitem l
    JOIN orders o    ON l.l_orderkey = o.o_orderkey
    JOIN customer c  ON o.o_custkey = c.c_custkey
    JOIN nation nc   ON c.c_nationkey = nc.n_nationkey
    JOIN region r    ON nc.n_regionkey = r.r_regionkey
    JOIN supplier s  ON l.l_suppkey = s.s_suppkey
    JOIN nation ns   ON s.s_nationkey = ns.n_nationkey
    WHERE r.r_name = 'EUROPE'
    GROUP BY year(o.o_orderdate)
    """,
)
def q8_market_share(spark, sf_dir):
    """TPC-H Q8 family: national market share — the revenue fraction supplied
    by one nation, per year, among customers of one region.  Both nation legs
    and region broadcast; the only shuffles are the orderkey fact join and the
    tiny per-year aggregate.  Numerator/denominator are decimal-accumulated
    then divided as doubles (order-independent on both engines)."""
    l = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    s = load(spark, sf_dir, "supplier")
    cust_dim = (
        c.join(F.broadcast(n.alias("nc")), c.c_nationkey == F.col("nc.n_nationkey"))
        .join(F.broadcast(r), F.col("nc.n_regionkey") == r.r_regionkey)
        .select("c_custkey")
    )
    supp_dim = s.join(F.broadcast(n.alias("ns")), s.s_nationkey == F.col("ns.n_nationkey")).select(
        "s_suppkey", F.col("ns.n_name").alias("supp_nation")
    )
    rev = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(cust_dim, o.o_custkey == cust_dim.c_custkey)
        .join(supp_dim, l.l_suppkey == supp_dim.s_suppkey)
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            (
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_3", rev)
                    .otherwise(F.lit(0.0))
                    .cast("decimal(18,6)")
                ).cast("double")
                / F.sum(rev.cast("decimal(18,6)")).cast("double")
            ).alias("mkt_share"),
            dsum(rev, "total_revenue", "decimal(18,6)"),
        )
    )


@q(
    "q11_part_value",
    """
    WITH pv AS (
      SELECT l.l_partkey,
             CAST(SUM(CAST(l.l_extendedprice * l.l_quantity AS DECIMAL(18,4))) AS DOUBLE)
               AS part_value
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n   ON s.s_nationkey = n.n_nationkey
      WHERE n.n_regionkey = 3
      GROUP BY l.l_partkey
    )
    SELECT l_partkey, part_value
    FROM pv
    WHERE part_value > (SELECT CAST(SUM(CAST(part_value AS DECIMAL(18,4))) AS DOUBLE)
                               * 0.001 FROM pv)
    """,
)
def q11_part_value(spark, sf_dir):
    """TPC-H Q11 family: per-part inventory value restricted to one region's
    suppliers, HAVING value above a fraction of the global total (correlated
    scalar subquery → broadcast cross-join of a 1-row aggregate).  The
    threshold compares doubles derived from exact decimal sums, so the
    boundary is bit-identical across engines."""
    l = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation").filter(F.col("n_regionkey") == 3)
    supp = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select("s_suppkey")
    pv = (
        l.join(supp, l.l_suppkey == supp.s_suppkey)
        .groupBy("l_partkey")
        .agg(
            F.sum((F.col("l_extendedprice") * F.col("l_quantity")).cast("decimal(18,4)"))
            .cast("double")
            .alias("part_value")
        )
    )
    total = pv.agg(
        (F.sum(F.col("part_value").cast("decimal(18,4)")).cast("double") * F.lit(0.001)).alias(
            "threshold"
        )
    )
    return pv.join(F.broadcast(total)).filter(F.col("part_value") > F.col("threshold")).select(
        "l_partkey", "part_value"
    )


@q(
    "q12_latency_priority",
    """
    SELECT CAST(date_diff('day', o.o_orderdate, l.l_shipdate) // 30 AS BIGINT)
             AS latency_bucket,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= o.o_orderdate
    GROUP BY 1
    """,
)
def q12_latency_priority(spark, sf_dir):
    """TPC-H Q12 family: shipping-latency buckets (the schema has no
    l_shipmode, so the categorical axis is days-to-ship // 30) × conditional
    priority counts.  Single orderkey shuffle join, then a tiny aggregate;
    CASE counts are integers — no float ordering concerns at all."""
    l = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") >= F.col("o_orderdate"))
        .groupBy(
            F.floor(F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) / 30)
            .cast("long")
            .alias("latency_bucket")
        )
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(hi, 0).otherwise(1)).alias("low_line_count"),
        )
    )


@q(
    "q16_supplier_part_counts",
    """
    SELECT p.p_brand, p.p_size, COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#1'
      AND p.p_size IN (1, 2, 3, 4, 5)
      AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
    GROUP BY p.p_brand, p.p_size
    """,
)
def q16_supplier_part_counts(spark, sf_dir):
    """TPC-H Q16 family: distinct supplier counts per (brand, size), with a
    NOT IN supplier exclusion (→ broadcast left-anti join; the reference's
    partsupp is played by lineitem's (partkey, suppkey) pairs).  The distinct
    agg is Spark's two-phase partial-distinct — one shuffle."""
    l = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1") & F.col("p_size").isin(1, 2, 3, 4, 5)
    )
    bad = load(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0.0).select("s_suppkey")
    return (
        l.join(bad, l.l_suppkey == bad.s_suppkey, "left_anti")
        .join(p, l.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@q(
    "q20_excess_suppliers",
    """
    WITH sq AS (
      SELECT l_partkey, l_suppkey,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS supp_qty
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ),
    pt AS (
      SELECT l_partkey,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS part_qty
      FROM lineitem GROUP BY l_partkey
    )
    SELECT DISTINCT s.s_suppkey, s.s_name
    FROM sq
    JOIN pt ON sq.l_partkey = pt.l_partkey
    JOIN supplier s ON sq.l_suppkey = s.s_suppkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    WHERE sq.supp_qty > 0.12 * pt.part_qty
      AND n.n_regionkey = 2
    """,
)
def q20_excess_suppliers(spark, sf_dir):
    """TPC-H Q20 family: suppliers in one region who moved >12% of any
    part's total quantity.  Both aggregates share the same grouping parent
    (partkey), so the sq⋈pt join is AQE-broadcast after the agg shrinks the
    pt side; the supplier/nation legs broadcast.  Quantities are
    decimal-accumulated; the >0.12× comparison is double-deterministic."""
    l = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation").filter(F.col("n_regionkey") == 2)
    dq = F.sum(F.col("l_quantity").cast("decimal(18,4)")).cast("double")
    sq = l.groupBy("l_partkey", "l_suppkey").agg(dq.alias("supp_qty"))
    pt = l.groupBy(F.col("l_partkey").alias("pt_partkey")).agg(dq.alias("part_qty"))
    sup = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select("s_suppkey", "s_name")
    return (
        sq.join(pt, sq.l_partkey == pt.pt_partkey)
        .filter(F.col("supp_qty") > F.lit(0.12) * F.col("part_qty"))
        .join(sup, sq.l_suppkey == sup.s_suppkey)
        .select("s_suppkey", "s_name")
        .distinct()
    )


@q(
    "q21_late_sole_supplier",
    """
    WITH lo AS (
      SELECT l.l_orderkey, l.l_suppkey,
             (l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY) AS is_late
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderstatus = 'F'
    ),
    per AS (
      SELECT l_orderkey,
             COUNT(DISTINCT l_suppkey) AS n_supp,
             COUNT(DISTINCT CASE WHEN is_late THEN l_suppkey END) AS n_late
      FROM lo GROUP BY l_orderkey
    )
    SELECT s.s_name, COUNT(DISTINCT lo.l_orderkey) AS numwait
    FROM lo
    JOIN per ON lo.l_orderkey = per.l_orderkey
    JOIN supplier s ON lo.l_suppkey = s.s_suppkey
    WHERE lo.is_late AND per.n_supp > 1 AND per.n_late = 1
    GROUP BY s.s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
)
def q21_late_sole_supplier(spark, sf_dir):
    """TPC-H Q21 family: the EXISTS/NOT-EXISTS double-correlation —
    finished orders with ≥2 suppliers where exactly ONE shipped late
    (late := shipdate > orderdate + 60 days; the schema has no
    commit/receipt dates).  Expressed as one per-order distinct-count
    aggregate joined back to the late rows: two orderkey shuffles total,
    no correlated subquery re-scans.  Counts only → fully deterministic."""
    l = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    s = load(spark, sf_dir, "supplier")
    lo = l.join(o, l.l_orderkey == o.o_orderkey).select(
        "l_orderkey",
        "l_suppkey",
        (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")).alias(
            "is_late"
        ),
    )
    per = lo.groupBy(F.col("l_orderkey").alias("p_orderkey")).agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(F.col("is_late"), F.col("l_suppkey"))).alias("n_late"),
    )
    return (
        lo.filter(F.col("is_late"))
        .join(per, (F.col("l_orderkey") == F.col("p_orderkey")))
        .filter((F.col("n_supp") > 1) & (F.col("n_late") == 1))
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.countDistinct("l_orderkey").alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(20)
    )


@q(
    "q_corr_stats",
    """
    WITH m AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(19,4))) AS VARCHAR) AS DOUBLE) AS sx,
             CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,4))) AS VARCHAR) AS DOUBLE) AS sy,
             CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(19,4))
                      * CAST(l_extendedprice AS DECIMAL(19,4))) AS VARCHAR) AS DOUBLE) AS sxy,
             CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(19,4))
                      * CAST(l_quantity AS DECIMAL(19,4))) AS VARCHAR) AS DOUBLE) AS sxx,
             CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,4))
                      * CAST(l_extendedprice AS DECIMAL(19,4))) AS VARCHAR) AS DOUBLE) AS syy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           (n * sxy - sx * sy)
             / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS corr_qty_price,
           sqrt((n * sxx - sx * sx) / (n * (n - 1))) AS stddev_qty
    FROM m
    """,
)
def q_corr_stats(spark, sf_dir):
    """Correlation/stddev via decimal moment sums.  Native corr()/stddev()
    aggregates are order-dependent in floating point (Welford updates), so
    cross-engine bits differ; accumulating the five moments as exact
    decimals and applying the closed formula to the resulting doubles is
    bit-identical on both engines AND still one map-side-combined shuffle.
    Products are formed decimal×decimal (NOT double-multiplied then cast):
    rounding an arbitrary double product to a decimal can land on a .5
    boundary where the engines' rounding disagrees; casting each factor
    first is exact (currency/quantity values round unambiguously)."""
    l = load(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(14,4)")
    y = F.col("l_extendedprice").cast("decimal(14,4)")
    dm = lambda c: F.sum(c).cast("double")  # noqa: E731
    m = l.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        dm(x).alias("sx"),
        dm(y).alias("sy"),
        dm(x * y).alias("sxy"),
        dm(x * x).alias("sxx"),
        dm(y * y).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    return m.select(
        "l_returnflag",
        "n",
        ((n * sxy - sx * sy) / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy))).alias(
            "corr_qty_price"
        ),
        F.sqrt((n * sxx - sx * sx) / (n * (n - F.lit(1)))).alias("stddev_qty"),
    )


@q(
    "q_events_funnel",
    """
    WITH v AS (
      SELECT user_id, MIN(ts) AS t FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS t
      FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t
      WHERE e.event_type = 'click' GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS t
      FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    )
    SELECT (SELECT COUNT(*) FROM v) AS n_viewed,
           (SELECT COUNT(*) FROM c) AS n_clicked,
           (SELECT COUNT(*) FROM p) AS n_purchased
    """,
)
def q_events_funnel(spark, sf_dir):
    """Strict-ordering funnel (view → click after it → purchase after that):
    per-stage first-timestamp aggregates, each stage a user-keyed join onto
    the previous stage's min-ts.  Every stage shuffles on user_id, so AQE
    reuses one exchange; stage outputs are user-count-sized (small) and the
    final counts collapse to one row.  Min-of-timestamps + counts — no float
    arithmetic anywhere."""
    e = load(spark, sf_dir, "events")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("vt"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("vt"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("ct"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("ct"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("pt"))
    )
    return (
        v.agg(F.count(F.lit(1)).alias("n_viewed"))
        .join(c.agg(F.count(F.lit(1)).alias("n_clicked")))
        .join(p.agg(F.count(F.lit(1)).alias("n_purchased")))
    )


@q(
    "q_user_retention",
    """
    WITH f AS (
      SELECT user_id, date_trunc('week', MIN(ts)) AS cohort FROM events GROUP BY user_id
    ),
    a AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events
    )
    SELECT CAST(f.cohort AS TIMESTAMP) AS cohort_week,
           CAST((epoch(a.wk) - epoch(f.cohort)) / 604800 AS BIGINT) AS week_offset,
           COUNT(*) AS n_users
    FROM a JOIN f ON a.user_id = f.user_id
    GROUP BY 1, 2
    """,
)
def q_user_retention(spark, sf_dir):
    """Cohort retention: users grouped by first-seen week, counted in each
    later activity week.  first-seen is a user-keyed min; activity weeks a
    user-keyed distinct — the join is small×small after both aggregates.
    Week offsets are exact integer divisions of epoch seconds (both engines
    truncate weeks to Monday 00:00 UTC)."""
    e = load(spark, sf_dir, "events")
    f = e.groupBy("user_id").agg(F.date_trunc("week", F.min("ts")).alias("cohort"))
    a = e.select("user_id", F.date_trunc("week", F.col("ts")).alias("wk")).distinct()
    return (
        a.join(f, "user_id")
        .groupBy(
            F.col("cohort").alias("cohort_week"),
            ((F.unix_timestamp("wk") - F.unix_timestamp("cohort")) / 604800)
            .cast("long")
            .alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@q(
    "q_customer_quartiles",
    f"""
    WITH spend AS (
      SELECT o_custkey AS c_custkey, {_sql_dsum('o_totalprice', 'spend')}
      FROM orders GROUP BY o_custkey
    )
    SELECT c_custkey, spend,
           CAST(ntile(4) OVER w AS INT) AS quartile,
           percent_rank() OVER w AS pr
    FROM spend
    WINDOW w AS (ORDER BY spend DESC, c_custkey)
    """,
)
def q_customer_quartiles(spark, sf_dir):
    """Global ranking window (ntile + percent_rank) over per-customer spend.
    A single-partition window is the one legitimately non-scalable shape —
    at 100 TB you bucket by range first (range-partitioned sort) — but the
    input here is post-aggregate (one row per customer), 1000× smaller than
    the fact table, which is the standard way this stays viable.  Total
    order via (spend DESC, custkey) tie-break; percent_rank is an exact
    small-integer ratio."""
    o = load(spark, sf_dir, "orders")
    spend = o.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        dsum("o_totalprice", "spend")
    )
    w = Window.orderBy(F.desc("spend"), F.asc("c_custkey"))
    return spend.select(
        "c_custkey",
        "spend",
        F.ntile(4).over(w).cast("int").alias("quartile"),
        F.percent_rank().over(w).alias("pr"),
    )


@q(
    "q_events_outliers",
    """
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS median_value
      FROM events GROUP BY event_type
    ),
    mad AS (
      SELECT e.event_type, quantile_cont(abs(e.value - m.median_value), 0.5) AS mad_value
      FROM events e JOIN med m ON e.event_type = m.event_type
      GROUP BY e.event_type
    )
    SELECT e.event_type, COUNT(*) AS n,
           COUNT(*) FILTER (WHERE abs(e.value - m.median_value) > 3.0 * d.mad_value)
             AS n_outliers
    FROM events e
    JOIN med m ON e.event_type = m.event_type
    JOIN mad d ON e.event_type = d.event_type
    GROUP BY e.event_type
    """,
)
def q_events_outliers(spark, sf_dir):
    """Robust (median/MAD) outlier counts per event type — the skew-immune
    anomaly screen.  Medians via interpolated percentile (identical linear
    interpolation both engines); the two median tables are group-count-sized
    → broadcast back onto the fact scan; outlier test is per-row IEEE
    arithmetic.  Two percentile shuffles + one count shuffle total."""
    e = load(spark, sf_dir, "events")
    med = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("median_value")
    )
    mad = (
        e.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.expr("percentile(abs(value - median_value), 0.5)").alias("mad_value")
        )
    )
    return (
        e.join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count(
                F.when(
                    F.abs(F.col("value") - F.col("median_value"))
                    > F.lit(3.0) * F.col("mad_value"),
                    1,
                )
            ).alias("n_outliers"),
        )
    )


@q(
    "q_fuzzy_part_names",
    """
    WITH names AS (SELECT DISTINCT p_name FROM part)
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
    FROM names a JOIN names b
      ON a.p_name < b.p_name
     AND abs(length(a.p_name) - length(b.p_name)) <= 2
    WHERE levenshtein(a.p_name, b.p_name) <= 2
    """,
)
def q_fuzzy_part_names(spark, sf_dir):
    """Fuzzy self-match: distinct part names within 2 edits of each other
    (the catalog-cleanup / entity-resolution primitive).  Length-band
    blocking replaces the oracle's all-pairs join — candidates only meet
    inside a band, the levenshtein filter runs on band-mates (JVM codegen,
    no UDF).  The distinct-names input is vocabulary-sized, so even the
    exploded side stays tiny relative to the fact tables."""
    names = load(spark, sf_dir, "part").select("p_name").distinct()
    pairs = fuzzy.fuzzy_self_pairs(
        names.withColumn("__id", F.col("p_name")), "p_name", "__id", max_dist=2
    )
    return pairs.select(
        F.col("p_name_a").alias("name_a"), F.col("p_name_b").alias("name_b"), "dist"
    )


@q(
    "q_price_histogram",
    f"""
    SELECT CAST(floor(p_retailprice / 10.0) AS BIGINT) AS bucket,
           COUNT(*) AS n,
           {_sql_dsum('p_retailprice', 'total_price')}
    FROM part
    GROUP BY 1
    """,
)
def q_price_histogram(spark, sf_dir):
    """Fixed-width histogram (the profiling primitive): bucket index is
    per-row integer arithmetic, the aggregate one map-side-combined
    shuffle on a small key domain."""
    p = load(spark, sf_dir, "part")
    return p.groupBy(
        F.floor(F.col("p_retailprice") / 10.0).cast("long").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("n"), dsum("p_retailprice", "total_price"))


@q(
    "q_events_interpolate",
    """
    WITH v AS (SELECT user_id, ts, value FROM events WHERE event_type = 'view'),
    p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
    pb AS (
      SELECT p.event_id, p.user_id, p.ts,
        (SELECT v.ts FROM v WHERE v.user_id = p.user_id AND v.ts <= p.ts
          ORDER BY v.ts DESC LIMIT 1) AS prev_ts,
        (SELECT v.value FROM v WHERE v.user_id = p.user_id AND v.ts <= p.ts
          ORDER BY v.ts DESC LIMIT 1) AS prev_val,
        (SELECT v.ts FROM v WHERE v.user_id = p.user_id AND v.ts > p.ts
          ORDER BY v.ts ASC LIMIT 1) AS next_ts,
        (SELECT v.value FROM v WHERE v.user_id = p.user_id AND v.ts > p.ts
          ORDER BY v.ts ASC LIMIT 1) AS next_val
      FROM p
    )
    SELECT event_id, user_id,
           CASE WHEN prev_ts IS NULL AND next_ts IS NULL THEN NULL
                WHEN prev_ts IS NULL THEN next_val
                WHEN next_ts IS NULL THEN prev_val
                ELSE prev_val + (next_val - prev_val) *
                     (CAST(epoch_us(ts) - epoch_us(prev_ts) AS DOUBLE)
                      / CAST(epoch_us(next_ts) - epoch_us(prev_ts) AS DOUBLE))
           END AS interp_value
    FROM pb
    """,
)
def q_events_interpolate(spark, sf_dir):
    """Linear interpolation of each user's 'view' value series at their
    purchase timestamps (two as-of passes — ONE user_id shuffle — vs the
    oracle's brute-force correlated min/max scans).  Microsecond deltas are
    exact integers; the blend is one IEEE expression tree — deterministic
    (view timestamps are unique per user in this dataset)."""
    e = load(spark, sf_dir, "events")
    views = e.filter(F.col("event_type") == "view").select("user_id", "ts", "value")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    out = interpolate_at(views, purchases, on="ts", by="user_id", value_col="value")
    return out.select("event_id", "user_id", "interp_value")


@q(
    "q_events_rolling",
    """
    SELECT event_id, user_id,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS rolling_sum_5,
           COUNT(*) OVER w AS n_in_window
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
    """,
)
def q_events_rolling(spark, sf_dir):
    """Rolling per-user feature (sum/count over the trailing 5 events) —
    the online-feature-engineering primitive.  One user_id shuffle for the
    window sort; decimal accumulation keeps the rolling sum
    order-independent across engines; (ts, event_id) is a total order."""
    e = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("event_id"))
        .rowsBetween(-4, 0)
    )
    return e.select(
        "event_id",
        "user_id",
        F.sum(F.col("value").cast("decimal(18,4)")).over(w).cast("double").alias("rolling_sum_5"),
        F.count(F.lit(1)).over(w).alias("n_in_window"),
    )


@q(
    "q_price_trend_by_brand",
    """
    WITH m AS (
      SELECT p_brand,
             COUNT(*) AS n,
             CAST(CAST(SUM(CAST(p_size AS DECIMAL(19,4))) AS VARCHAR) AS DOUBLE) AS sx,
             CAST(CAST(SUM(CAST(p_retailprice AS DECIMAL(19,4))) AS VARCHAR) AS DOUBLE) AS sy,
             CAST(CAST(SUM(CAST(p_size AS DECIMAL(19,4))
                      * CAST(p_retailprice AS DECIMAL(19,4))) AS VARCHAR) AS DOUBLE) AS sxy,
             CAST(CAST(SUM(CAST(p_size AS DECIMAL(19,4))
                      * CAST(p_size AS DECIMAL(19,4))) AS VARCHAR) AS DOUBLE) AS sxx
      FROM part GROUP BY p_brand
    )
    SELECT p_brand, n,
           (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
           (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n AS intercept
    FROM m
    """,
)
def q_price_trend_by_brand(spark, sf_dir):
    """Per-group closed-form linear regression (price ~ size per brand) from
    exact decimal moment sums — the grouped-ML primitive without any ML
    runtime: one map-side-combined shuffle, deterministic across engines
    (same moment technique as q_corr_stats; DuckDB decimal→double routed
    via VARCHAR because its direct cast is not correctly rounded)."""
    p = load(spark, sf_dir, "part")
    x = F.col("p_size").cast("decimal(19,4)")
    y = F.col("p_retailprice").cast("decimal(19,4)")
    m = p.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * y).cast("double").alias("sxy"),
        F.sum(x * x).cast("double").alias("sxx"),
    )
    n, sx, sy, sxy, sxx = (F.col(c) for c in ("n", "sx", "sy", "sxy", "sxx"))
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return m.select(
        "p_brand",
        "n",
        slope.alias("slope"),
        ((sy - slope * sx) / n).alias("intercept"),
    )


@q(
    "q_discount_rank_ties",
    """
    SELECT l_orderkey, l_linenumber, l_discount,
           CAST(rank()       OVER w AS INT) AS rnk,
           CAST(dense_rank() OVER w AS INT) AS drnk
    FROM lineitem
    WHERE l_orderkey % 1000 = 0
    WINDOW w AS (PARTITION BY l_orderkey ORDER BY l_discount DESC)
    """,
)
def q_discount_rank_ties(spark, sf_dir):
    """rank()/dense_rank() tie semantics (vs row_number's total order —
    the one window family the suite didn't yet pin): discounts repeat
    within an order, so ranks skip and dense ranks don't.  Deterministic
    WITHOUT a tie-break because ties share the rank value by definition."""
    l = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 1000 == 0)
    w = Window.partitionBy("l_orderkey").orderBy(F.desc("l_discount"))
    return l.select(
        "l_orderkey",
        "l_linenumber",
        "l_discount",
        F.rank().over(w).cast("int").alias("rnk"),
        F.dense_rank().over(w).cast("int").alias("drnk"),
    )


@q(
    "q_embedding_norms",
    """
    WITH n AS (
      SELECT label,
             sqrt(list_sum(list_transform(generate_series(1, 64),
                  i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))))
               AS nrm
      FROM embeddings
    )
    SELECT label, COUNT(*) AS n_vecs,
           CAST(SUM(CAST(floor(nrm * 1000000000.0) AS BIGINT)) AS DOUBLE)
             / (1000000000.0 * COUNT(*)) AS mean_norm,
           MAX(nrm) AS max_norm
    FROM n GROUP BY label
    """,
)
def q_embedding_norms(spark, sf_dir):
    """Per-label embedding-norm profile (the vector-column health check).
    Per-row norms are identical folds on both engines; their SUM is made
    order-independent by integer quantization — floor(norm·1e9) summed as
    exact BIGINTs — the pattern for aggregating arbitrary doubles where
    decimal CASTs would themselves hit cross-engine rounding boundaries
    (floor on the shared binary value is boundary-free)."""
    emb = load(spark, sf_dir, "embeddings")
    nrm = similarity.norm(similarity._as_double_sql("embedding"))
    n = emb.select("label", nrm.alias("nrm"))
    return n.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        (
            F.sum(F.floor(F.col("nrm") * 1e9).cast("long")).cast("double")
            / (F.lit(1e9) * F.count(F.lit(1)))
        ).alias("mean_norm"),
        F.max("nrm").alias("max_norm"),
    )


@q(
    "q_session_conversion",
    """
    WITH g AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR date_diff('second', lag(ts) OVER w, ts) > 1800
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT user_id, event_type,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sid
      FROM g
    ),
    sess AS (
      SELECT user_id, sid,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
      FROM s GROUP BY user_id, sid
    )
    SELECT COUNT(*) AS n_sessions,
           CAST(SUM(converted) AS BIGINT) AS n_converted,
           CAST(SUM(converted) AS DOUBLE) / COUNT(*) AS conversion_rate
    FROM sess
    """,
)
def q_session_conversion(spark, sf_dir):
    """Session-level conversion rate: gap-detected sessions (30-min), a
    session converts if it contains a purchase.  Composition of the
    sessionization trick with a per-session flag rollup — both window
    passes and the session aggregate share ONE user_id shuffle; the final
    global rollup is a single row.  Integer counts → exact."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    new_s = F.when(
        prev.isNull() | ((F.unix_timestamp("ts") - F.unix_timestamp(prev)) > 1800), 1
    ).otherwise(0)
    sid = F.sum(new_s).over(
        Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
            Window.unboundedPreceding, 0
        )
    )
    sess = (
        e.select("user_id", "ts", "event_id", "event_type")
        .withColumn("sid", sid)
        .groupBy("user_id", "sid")
        .agg(
            F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
                "converted"
            )
        )
    )
    return sess.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("converted").cast("long").alias("n_converted"),
        (F.sum("converted").cast("double") / F.count(F.lit(1))).alias("conversion_rate"),
    )


@q(
    "q_user_skew_report",
    """
    WITH c AS (SELECT user_id, COUNT(*) AS n_rows FROM events GROUP BY user_id),
    t AS (SELECT SUM(n_rows) AS total, COUNT(*) AS nkeys FROM c),
    top AS (
      SELECT user_id, n_rows,
             ROW_NUMBER() OVER (ORDER BY n_rows DESC, user_id) AS rank
      FROM c ORDER BY n_rows DESC, user_id LIMIT 20
    )
    SELECT user_id, CAST(n_rows AS BIGINT) AS n_rows,
           CAST(n_rows AS DOUBLE) / CAST(total AS DOUBLE) AS share,
           CAST(n_rows AS DOUBLE)
             / (CAST(total AS DOUBLE) / CAST(nkeys AS DOUBLE)) AS skew_factor,
           rank
    FROM top CROSS JOIN t
    """,
)
def q_user_skew_report(spark, sf_dir):
    """Key-skew diagnostic over the event stream's user key: the 20
    hottest users with corpus share and skew factor (count over
    mean-rows-per-key) — the pre-join measurement that sizes a salt.
    TakeOrdered top-k; totals are aggregates over the counts frame."""
    ev = load(spark, sf_dir, "events")
    from pdtable_spark.operators.skew import skew_report

    return skew_report(ev, "user_id", n=20)


@q(
    "q_label_centroids",
    """
    WITH e AS (
      SELECT label, CAST(embedding AS DOUBLE[]) AS ca FROM embeddings
    ),
    x AS (
      SELECT label,
             unnest(generate_series(1, 64)) AS dim,
             unnest(ca) AS v
      FROM e
    )
    SELECT label, CAST(dim AS INT) AS dim,
           CAST(SUM(CAST(FLOOR(v * 1e9) AS BIGINT)) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) / 1e9 AS centroid,
           CAST(COUNT(*) AS BIGINT) AS n_members
    FROM x GROUP BY label, dim
    """,
)
def q_label_centroids(spark, sf_dir):
    """Per-label centroid of the embedding corpus, one (label, dim) row per
    coordinate — the class-prototype analytics behind SemDeDup cell
    inspection and classifier calibration.  Per-dim values quantize to
    BIGINT before the mean (order-independent sum → engine-exact).  One
    64× explode + ONE (label, dim)-keyed shuffle with map-side partials —
    scale-safe at any corpus size."""
    emb = load(spark, sf_dir, "embeddings")
    x = emb.select(
        "label",
        F.posexplode(F.transform("embedding", lambda v: v.cast("double"))).alias(
            "dim0", "v"
        ),
    )
    return (
        x.groupBy("label", (F.col("dim0") + 1).cast("int").alias("dim"))
        .agg(
            F.sum(F.floor(F.col("v") * 1e9).cast("long")).alias("__qs"),
            F.count(F.lit(1)).alias("n_members"),
        )
        .select(
            "label",
            "dim",
            (
                F.col("__qs").cast("double") / F.col("n_members").cast("double") / F.lit(1e9)
            ).alias("centroid"),
            "n_members",
        )
    )


# ---------------------------------------------------------------------------
# Bucketed co-located join under the value gate: "pay the shuffle once
# at write time" is a core 100 TB lever (repeated fact⋈fact joins stop
# re-shuffling the same data) — until now only pytest pinned it.  The
# query writes both sides bucketed on the join key, joins through the
# bucket path (broadcast off, merge hint) and aggregates; the plan pin
# (zero exchanges on the join) lives in the plan-contract test, the
# VALUES here.
# ---------------------------------------------------------------------------

_SQL_BUCKETED_JOIN = """
    SELECT l.l_returnflag AS returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(FLOOR(l.l_extendedprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS sum_price_cents,
           CAST(COUNT(DISTINCT o.o_custkey) AS BIGINT) AS n_customers
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderstatus = 'F'
    GROUP BY l.l_returnflag
"""


@q("q_bucketed_colocated_join", _SQL_BUCKETED_JOIN)
def q_bucketed_colocated_join(spark, sf_dir):
    """The pay-the-shuffle-once join: orders and lineitem persist as
    same-bucketed catalog tables on the order key (16 buckets), and the
    fact⋈fact join runs through the bucket path — broadcast disabled by
    the merge hint so the planner must prove co-location from catalog
    metadata; zero exchanges on either join side is plan-contract-pinned
    (tests/test_plans.py).  The values — per-returnflag item counts,
    integer-cents price totals, distinct customers — come out of the
    bucketed tables, so a bucketing bug that dropped/duplicated rows on
    the write fails the hash, not just the plan shape.

    At 100 TB: bucket count scales with data (one bucket ≈ 100-500 MB),
    and every later join/aggregation on the key reuses the layout —
    the write's one shuffle amortizes across the query fleet."""
    from pdtable_spark.operators.bucketing import bucketed_join, write_bucketed

    o = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    li = load(spark, sf_dir, "lineitem")
    write_bucketed(
        o.select("o_orderkey", "o_custkey"),
        "r13_bucketed_orders",
        "o_orderkey",
        num_buckets=16,
    )
    write_bucketed(
        li.select(
            F.col("l_orderkey").alias("o_orderkey"),
            "l_returnflag",
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("price_cents"),
        ),
        "r13_bucketed_lineitem",
        "o_orderkey",
        num_buckets=16,
    )
    j = bucketed_join(
        spark, "r13_bucketed_orders", "r13_bucketed_lineitem", on="o_orderkey"
    )
    return j.groupBy(F.col("l_returnflag").alias("returnflag")).agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.sum("price_cents").cast("long").alias("sum_price_cents"),
        F.countDistinct("o_custkey").cast("long").alias("n_customers"),
    )
