"""Core relational spine: scans, projection/filter, every join type,
set operations, sort/limit/top-k.

The reference's only joins are a broadcast nested-loop theta join of
frames x target faces (reference src/prediction_producer.py:286-362)
and an implicit key-equality pipeline between its two stages; the full
relational join surface here is the engine's generalization of that,
mandated by SURVEY.md §2 Part B.

Scale notes (100 TB):
- Dimension joins (region/nation/customer-as-dim) are explicitly
  ``F.broadcast`` — no shuffle of the fact side.
- Fact-fact joins (orders x lineitem) shuffle on the join key; AQE
  handles skew splitting and partition coalescing at runtime.
- Top-k uses sort+limit (Spark's TakeOrdered physical op — per
  partition heap + driver merge of k rows) — never a global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..sources import load_table
from .registry import query


# --------------------------------------------------------------------------
# Flagship: the reference's standing query restated on the driver tables —
# filter (match predicate) -> broadcast dim join (target broadcast, A5/A6)
# -> aggregate (latency stats, A8) -> order.
# --------------------------------------------------------------------------
@query(
    "flagship_purchases_by_nation",
    oracle="""
    SELECT n.n_name,
           count(*) AS n_purchases,
           round(sum(e.value), 2) AS purchase_value,
           count(DISTINCT e.user_id) AS n_users
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE e.event_type = 'purchase'
    GROUP BY n.n_name
    """,
)
def flagship_purchases_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchase events per nation: filter -> 2 broadcast dim joins -> agg.

    Mirrors the reference's standing-query shape (filter = match
    predicate prediction_producer.py:317; broadcast join = target
    faces A5; agg = latency stats A8). Dims broadcast: the events
    fact never shuffles.
    """
    events = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    customer = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        events.join(F.broadcast(customer), events.user_id == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_purchases"),
            F.round(F.sum("value"), 2).alias("purchase_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


@query(
    "pricing_summary",
    oracle="""
    SELECT l_returnflag,
           l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           round(avg(l_quantity), 4) AS avg_qty,
           round(avg(l_extendedprice), 4) AS avg_price,
           round(avg(l_discount), 4) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: scan -> pushed filter -> hash agg.

    Partial (map-side) aggregation then final — 2-row-per-partition
    shuffle regardless of input size; the canonical scale-safe agg.
    """
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@query(
    "join_revenue_by_priority",
    oracle="""
    SELECT o.o_orderpriority,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           count(*) AS n_items
    FROM orders o
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def join_revenue_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact equi join (orders x lineitem) -> agg.

    Both sides large: Catalyst picks shuffle join (SMJ/SHJ) on
    l_orderkey; AQE splits skewed partitions at runtime. No
    broadcast hint on purpose — this is the shuffle-join exemplar.
    """
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


@query(
    "semi_join_active_customers",
    oracle="""
    SELECT c_mktsegment, count(*) AS n_customers
    FROM customer c
    WHERE EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
    )
    GROUP BY c_mktsegment
    """,
)
def semi_join_active_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join (EXISTS): customers with at least one 'F' order."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_custkey")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
    )


@query(
    "anti_join_silent_customers",
    oracle="""
    SELECT c_mktsegment, count(*) AS n_customers
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM events e WHERE e.user_id = c.c_custkey)
    GROUP BY c_mktsegment
    """,
)
def anti_join_silent_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join (NOT EXISTS): customers with no events at all."""
    customer = load_table(spark, sf_dir, "customer")
    users = load_table(spark, sf_dir, "events").select("user_id")
    return (
        customer.join(users, customer.c_custkey == users.user_id, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
    )


@query(
    "outer_join_order_count_histogram",
    oracle="""
    SELECT n_orders, count(*) AS n_customers
    FROM (
        SELECT c.c_custkey, count(o.o_orderkey) AS n_orders
        FROM customer c
        LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY c.c_custkey
    )
    GROUP BY n_orders
    """,
)
def outer_join_order_count_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join preserving customers with zero orders, then a
    distribution over per-customer order counts."""
    customer = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    per_cust = (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(F.count("*").alias("n_customers"))


@query(
    "theta_join_acctbal_dominance",
    oracle="""
    SELECT s.s_nationkey AS nationkey, count(*) AS n_pairs
    FROM supplier s
    JOIN customer c
      ON s.s_nationkey = c.c_nationkey AND s.s_acctbal < c.c_acctbal
    GROUP BY s.s_nationkey
    """,
)
def theta_join_acctbal_dominance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta join: equi key (nationkey) + inequality (acctbal <).

    Mirrors the reference's distance-threshold theta predicate
    (prediction_producer.py:317). The equi component keeps this a
    partitioned join at scale — never a full cross product.
    """
    supplier = load_table(spark, sf_dir, "supplier")
    customer = load_table(spark, sf_dir, "customer")
    cond = (supplier.s_nationkey == customer.c_nationkey) & (
        supplier.s_acctbal < customer.c_acctbal
    )
    return (
        supplier.join(customer, cond)
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count("*").alias("n_pairs"))
    )


@query(
    "cross_join_region_pairs",
    oracle="""
    SELECT a.r_name AS r1, b.r_name AS r2
    FROM region a CROSS JOIN region b
    WHERE a.r_name < b.r_name
    """,
)
def cross_join_region_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross join (broadcast nested loop) of a small dim with itself."""
    a = load_table(spark, sf_dir, "region").select(F.col("r_name").alias("r1"))
    b = load_table(spark, sf_dir, "region").select(F.col("r_name").alias("r2"))
    return a.crossJoin(F.broadcast(b)).filter(F.col("r1") < F.col("r2"))


@query(
    "setop_union_nations",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    UNION
    SELECT s_nationkey FROM supplier
    """,
)
def setop_union_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (distinct) of two key sets."""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.union(s).distinct()


@query(
    "setop_intersect_nations",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey FROM supplier
    """,
)
def setop_intersect_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct)."""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


@query(
    "setop_except_customers",
    oracle="""
    SELECT c_custkey AS custkey FROM customer
    EXCEPT
    SELECT user_id FROM events
    """,
)
def setop_except_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct): customers that never emitted an event.

    (Key sets chosen so the result is non-empty at every sf — events
    draw from a small user_id range; a supplier/customer nation EXCEPT
    would be vacuously empty and prove nothing.)
    """
    c = load_table(spark, sf_dir, "customer").select(F.col("c_custkey").alias("custkey"))
    e = load_table(spark, sf_dir, "events").select(F.col("user_id").alias("custkey"))
    return c.subtract(e)


@query(
    "topk_orders_by_price",
    oracle="""
    SELECT o_orderkey, round(o_totalprice, 2) AS total_price
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 10
    """,
)
def topk_orders_by_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: orderBy + limit compiles to TakeOrderedAndProject
    (per-partition heap, driver merges k rows — no global sort)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
        .select("o_orderkey", F.round("o_totalprice", 2).alias("total_price"))
    )


@query(
    "topk_per_group_orders",
    oracle="""
    SELECT o_orderpriority, o_orderkey, round(o_totalprice, 2) AS total_price
    FROM (
        SELECT o_orderpriority, o_orderkey, o_totalprice,
               row_number() OVER (
                   PARTITION BY o_orderpriority
                   ORDER BY o_totalprice DESC, o_orderkey ASC
               ) AS rn
        FROM orders
    )
    WHERE rn <= 3
    """,
)
def topk_per_group_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group via ranking window (the reference's first-match
    top-1, prediction_producer.py:321-323, generalized to k=3)."""
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "o_orderpriority",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("total_price"),
        )
    )


@query(
    "minmax_by_segment",
    oracle="""
    WITH ranked AS (
        SELECT c_mktsegment, c_name, c_acctbal,
               row_number() OVER (
                   PARTITION BY c_mktsegment
                   ORDER BY c_acctbal DESC, c_name DESC
               ) AS r_rich,
               row_number() OVER (
                   PARTITION BY c_mktsegment
                   ORDER BY c_acctbal ASC, c_name ASC
               ) AS r_poor
        FROM customer
    )
    SELECT c_mktsegment,
           max(CASE WHEN r_rich = 1 THEN c_name END) AS richest,
           max(CASE WHEN r_poor = 1 THEN c_name END) AS poorest,
           round(max(c_acctbal), 2) AS max_bal,
           round(min(c_acctbal), 2) AS min_bal
    FROM ranked
    GROUP BY c_mktsegment
    """,
)
def minmax_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min_by/max_by — the reference's argmax-free 'first/best match'
    selection (A6) as a proper aggregate.

    Ordering value is struct(c_acctbal, c_name) so a tie at the segment
    extremum breaks deterministically on name (a bare max_by over a
    bounded-range double is engine-dependent under ties). DuckDB's
    max_by can't order by a struct, so the oracle states the same
    semantics with row_number windows.
    """
    customer = load_table(spark, sf_dir, "customer")
    return customer.groupBy("c_mktsegment").agg(
        F.max_by("c_name", F.struct("c_acctbal", "c_name")).alias("richest"),
        F.min_by("c_name", F.struct("c_acctbal", "c_name")).alias("poorest"),
        F.round(F.max("c_acctbal"), 2).alias("max_bal"),
        F.round(F.min("c_acctbal"), 2).alias("min_bal"),
    )


@query(
    "filter_projection_pushdown",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(round(CAST(l_extendedprice AS DECIMAL(12,2))
                      * (1 - CAST(l_discount AS DECIMAL(12,2))), 2)
                AS DOUBLE) AS net_price
    FROM lineitem
    WHERE l_returnflag = 'R'
      AND l_quantity > 45
      AND l_shipdate >= TIMESTAMP '2000-01-01 00:00:00'
    """,
)
def filter_projection_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plain scan->filter->project; predicates and the 6-column read
    schema push into the parquet scan (verified in tests via the
    physical plan's PushedFilters).

    net_price is computed in exact DECIMAL(12,2) arithmetic before the
    2-digit round: prices and discounts are 2-decimal values, so the
    product is exact in 4 decimals and both engines round the same
    number. Rounding the raw double product instead disagrees between
    engines at x.xx5 boundaries — 5 rows at sf0.1 (none at sf0.01),
    found by the full-registry sf0.1 oracle pass.
    """
    li = load_table(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(12,2)")
    return (
        li.filter(
            (F.col("l_returnflag") == "R")
            & (F.col("l_quantity") > 45)
            & (F.col("l_shipdate") >= F.lit("2000-01-01").cast("timestamp"))
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            F.round(price * (F.lit(1).cast("decimal(12,2)") - disc), 2)
            .cast("double")
            .alias("net_price"),
        )
    )


@query(
    "unpivot_part_metrics",
    oracle="""
    SELECT p_partkey, 'size' AS metric, CAST(p_size AS DOUBLE) AS value
    FROM part
    UNION ALL
    SELECT p_partkey, 'retailprice' AS metric, round(p_retailprice, 2) AS value
    FROM part
    """,
)
def unpivot_part_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide -> long reshape (unpivot/melt), the inverse of
    pivot_event_counts: one output row per (part, metric). Spark's
    native unpivot keeps this a narrow projection — the oracle
    restates it as the classic UNION ALL."""
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_size").cast("double").alias("size"),
        F.round("p_retailprice", 2).alias("retailprice"),
    )
    return p.unpivot("p_partkey", ["size", "retailprice"], "metric", "value")
