"""Core relational query catalog — the per-operator inventory queries
from SURVEY.md §2 expressed over the TPC-H-ish testdata star schema.

Each entry is registered as ``QUERIES[name] = (spark_fn, oracle_sql)``:
``spark_fn(spark, sf_dir) -> pyspark DataFrame`` built with the
``spear_spark`` facade / functions, and ``oracle_sql`` the equivalent
ANSI SQL that DuckDB runs on the same parquet views.  The driver (and
``tests/test_oracle.py``) compares both sides value-for-value.

Cross-engine determinism convention: double aggregations go through
DECIMAL casts (the source columns are 2-decimal money/rate values, so
``DECIMAL(12,2)``/``DECIMAL(3,2)`` casts are exact) — decimal sums are
exact in both engines, and the final ``CAST(... AS DOUBLE)`` of an
identical decimal value is bit-identical.  Averages are computed as
``CAST(SUM(decimal) AS DOUBLE) / COUNT`` so no engine-specific decimal
division rules apply.  FP-order-sensitive aggregates (``product``)
are rounded.

Scale notes are inlined per query (what the plan looks like at 100 TB).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame as SDF
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from spear_spark import functions as sf
from spear_spark.config import stage
from spear_spark.dataframe import DataFrame
from spear_spark.sources import load_table, register_tables

QUERIES: dict[str, tuple[Callable[[SparkSession, str], SDF], str | None]] = {}


def q(name: str, oracle: str | None):
    def deco(fn):
        QUERIES[name] = (fn, oracle)
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return DataFrame(load_table(spark, sf_dir, name))


# exact decimal views of the 2-decimal money / rate columns
def D(c, prec: int = 12, scale: int = 2):
    col = F.col(c) if isinstance(c, str) else c
    return col.cast(f"decimal({prec},{scale})")


def one():
    return F.lit(1).cast("decimal(3,2)")


def dsum(expr):
    """SUM over exact decimals, surfaced as double (bit-identical in
    Spark and DuckDB because the decimal value is exact)."""
    return F.sum(expr).cast("double")


# ---------------------------------------------------------------------------
# q01 — full-table aggregation (Aggregate, LogicalPlan.scala:344-357;
# HashAggregate, HashAggregate.scala:11-47).  TPC-H Q1 shape.
# Scale: partial (map-side) aggregation collapses 100 TB to ~8 groups
# before the shuffle — the exchange moves a few KB per task.
# ---------------------------------------------------------------------------
@q(
    "q01_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
      CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS sum_disc_price,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))) * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(3,2)))) AS DOUBLE) AS sum_charge,
      CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_price,
      CAST(SUM(CAST(l_discount AS DECIMAL(3,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
      COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> SDF:
    li = _t(spark, sf_dir, "lineitem")
    disc = one() - D("l_discount", 3, 2)
    charge = D("l_extendedprice") * disc * (one() + D("l_tax", 3, 2))
    n = F.count(F.lit(1))
    out = (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(D("l_quantity")).alias("sum_qty"),
            dsum(D("l_extendedprice")).alias("sum_base_price"),
            dsum(D("l_extendedprice") * disc).alias("sum_disc_price"),
            dsum(charge).alias("sum_charge"),
            (dsum(D("l_quantity")) / n).alias("avg_qty"),
            (dsum(D("l_extendedprice")) / n).alias("avg_price"),
            (dsum(D("l_discount", 3, 2)) / n).alias("avg_disc"),
            n.alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )
    return out.df


# ---------------------------------------------------------------------------
# q02 — scan + filter + project + sort + limit (Project/Filter/Sort/Limit).
# Scale: the l_shipdate filter and 4-column projection push into the
# parquet scan (PushedFilters / ReadSchema); top-k is TakeOrderedAndProject
# (per-partition heap, no global sort).
# ---------------------------------------------------------------------------
@q(
    "q02_filter_topk",
    """
    SELECT l_orderkey AS orderkey, l_partkey AS partkey,
           l_extendedprice AS price, l_discount AS discount
    FROM lineitem
    WHERE l_shipdate > TIMESTAMP '1998-01-01' AND l_quantity > 45.0
    ORDER BY price DESC, orderkey, partkey
    LIMIT 25
    """,
)
def q02_filter_topk(spark: SparkSession, sf_dir: str) -> SDF:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_quantity") > 45.0)
        )
        .select(
            F.col("l_orderkey").alias("orderkey"),
            F.col("l_partkey").alias("partkey"),
            F.col("l_extendedprice").alias("price"),
            F.col("l_discount").alias("discount"),
        )
        .orderBy(F.col("price").desc(), "orderkey", "partkey")
        .limit(25)
        .df
    )


# ---------------------------------------------------------------------------
# q03 — 3-way join + aggregation + top-k (TPC-H Q3 shape).
# Scale: customer is the small side → broadcast; orders ⋈ lineitem is the
# big shuffle on orderkey; AQE handles skew.
# ---------------------------------------------------------------------------
@q(
    "q03_shipping_priority",
    """
    SELECT l_orderkey AS orderkey,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue,
      o_orderdate AS orderdate, o_orderpriority AS priority
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-06-01'
      AND l_shipdate > TIMESTAMP '1998-06-01'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, orderkey
    LIMIT 10
    """,
)
def q03_shipping_priority(spark: SparkSession, sf_dir: str) -> SDF:
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-06-01").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-06-01").cast("timestamp")
    )
    joined = cust.join(orders, F.col("c_custkey") == F.col("o_custkey")).join(
        li, F.col("l_orderkey") == F.col("o_orderkey")
    )
    return (
        joined.groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(D("l_extendedprice") * (one() - D("l_discount", 3, 2))).alias("revenue"))
        .df.select(
            F.col("l_orderkey").alias("orderkey"),
            F.col("revenue"),
            F.col("o_orderdate").alias("orderdate"),
            F.col("o_orderpriority").alias("priority"),
        )
        .orderBy(F.col("revenue").desc(), "orderkey")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# q04 — theta join (equi + range residual).  The reference plans every
# join as a nested loop (basicOperators.scala:78-100); here the equi part
# becomes a broadcast-hash join with the range predicate as a post-join
# filter — the scalable shape of a theta join.
# ---------------------------------------------------------------------------
@q(
    "q04_theta_join",
    """
    SELECT p_brand AS brand, COUNT(*) AS n_over,
      CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty_sum
    FROM lineitem JOIN part ON l_partkey = p_partkey AND l_quantity > p_size
    GROUP BY p_brand
    ORDER BY brand
    """,
)
def q04_theta_join(spark: SparkSession, sf_dir: str) -> SDF:
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    cond = (F.col("l_partkey") == F.col("p_partkey")) & (F.col("l_quantity") > F.col("p_size"))
    return (
        li.join(part, cond)
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n_over"), dsum(D("l_quantity")).alias("qty_sum"))
        .orderBy("p_brand")
        .df.withColumnRenamed("p_brand", "brand")
    )


# ---------------------------------------------------------------------------
# q05 — self join with alias disambiguation (DeduplicateReferences,
# Analyzer.scala:151-209; reference test LocalQueryCompilerSuite.scala:119-131).
# Scale: both sides shuffle on o_custkey once; the pair explosion is
# bounded by per-key order counts (~10), not table size.
# ---------------------------------------------------------------------------
@q(
    "q05_self_join_pairs",
    """
    SELECT o1.o_custkey AS custkey, COUNT(*) AS n_pairs,
           MIN(o2.o_orderkey) AS first_later_order
    FROM orders o1 JOIN orders o2
      ON o1.o_custkey = o2.o_custkey AND o1.o_orderkey < o2.o_orderkey
    GROUP BY o1.o_custkey
    ORDER BY n_pairs DESC, custkey
    LIMIT 100
    """,
)
def q05_self_join_pairs(spark: SparkSession, sf_dir: str) -> SDF:
    orders = _t(spark, sf_dir, "orders")
    o1 = orders.subquery("o1")
    o2 = orders.subquery("o2")
    cond = (F.col("o1.o_custkey") == F.col("o2.o_custkey")) & (
        F.col("o1.o_orderkey") < F.col("o2.o_orderkey")
    )
    return (
        o1.join(o2, cond)
        .groupBy(F.col("o1.o_custkey").alias("custkey"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.min(F.col("o2.o_orderkey")).alias("first_later_order"),
        )
        .orderBy(F.col("n_pairs").desc(), "custkey")
        .limit(100)
        .df
    )


# ---------------------------------------------------------------------------
# q06 — selective scan aggregation (TPC-H Q6 shape).  All three predicates
# push to the parquet reader; no shuffle at all (global agg of partials).
# ---------------------------------------------------------------------------
@q(
    "q06_forecast_revenue",
    """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(3,2))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24.0
    """,
)
def q06_forecast_revenue(spark: SparkSession, sf_dir: str) -> SDF:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24.0)
        )
        .agg(
            dsum(D("l_extendedprice") * D("l_discount", 3, 2)).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .df
    )


# ---------------------------------------------------------------------------
# q07 — left outer join + aggregation.  The reference declares LeftOuter
# (LogicalPlan.scala:259-277) but never implemented it physically
# (LocalQueryCompiler.scala:63-64) — Spark executes it natively.
# ---------------------------------------------------------------------------
@q(
    "q07_customer_orders_left",
    """
    SELECT c_custkey AS custkey, c_mktsegment AS segment,
           COUNT(o_orderkey) AS n_orders,
           CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(14,2))), 0) AS DOUBLE) AS total_spent
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey, c_mktsegment
    ORDER BY custkey
    """,
)
def q07_customer_orders_left(spark: SparkSession, sf_dir: str) -> SDF:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        cust.leftJoin(orders, F.col("c_custkey") == F.col("o_custkey"))
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(F.sum(D("o_totalprice", 14, 2)), F.lit(0).cast("decimal(14,2)"))
            .cast("double")
            .alias("total_spent"),
        )
        .orderBy("c_custkey")
        .df.withColumnRenamed("c_custkey", "custkey")
        .withColumnRenamed("c_mktsegment", "segment")
    )


# ---------------------------------------------------------------------------
# q08 — full outer join over two aggregates + CTE.  FullOuter is declared
# but unimplemented in the reference; Spark's sort-merge join handles it.
# ---------------------------------------------------------------------------
@q(
    "q08_nation_coverage",
    """
    WITH s AS (SELECT s_nationkey AS nk, COUNT(*) AS n_supp FROM supplier GROUP BY s_nationkey),
         c AS (SELECT c_nationkey AS nk, COUNT(*) AS n_cust FROM customer GROUP BY c_nationkey)
    SELECT COALESCE(s.nk, c.nk) AS nationkey,
           COALESCE(n_supp, 0) AS n_supp, COALESCE(n_cust, 0) AS n_cust
    FROM s FULL OUTER JOIN c ON s.nk = c.nk
    ORDER BY nationkey
    """,
)
def q08_nation_coverage(spark: SparkSession, sf_dir: str) -> SDF:
    supp = (
        _t(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_supp"))
        .subquery("s")
    )
    cust = (
        _t(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_cust"))
        .subquery("c")
    )
    return (
        supp.outerJoin(cust, F.col("s.nk") == F.col("c.nk"))
        .select(
            F.coalesce(F.col("s.nk"), F.col("c.nk")).alias("nationkey"),
            F.coalesce(F.col("n_supp"), F.lit(0)).alias("n_supp"),
            F.coalesce(F.col("n_cust"), F.lit(0)).alias("n_cust"),
        )
        .orderBy("nationkey")
        .df
    )


# ---------------------------------------------------------------------------
# q09 — anti join (extension: the reference has no semi/anti joins or
# subquery expressions; Spark's left_anti ≡ NOT EXISTS).
# ---------------------------------------------------------------------------
@q(
    "q09_customers_without_orders",
    """
    SELECT c_mktsegment AS segment, COUNT(*) AS n_customers
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '2001-01-01')
    GROUP BY c_mktsegment
    ORDER BY segment
    """,
)
def q09_customers_without_orders(spark: SparkSession, sf_dir: str) -> SDF:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp")
    )
    return (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("segment")
        .df
    )


# ---------------------------------------------------------------------------
# q10/q11/q12 — set operators with spear's pinned semantics (SURVEY §2.1 ⚠):
# UNION is a bag (unionAll), INTERSECT/EXCEPT are multiset
# (intersectAll/exceptAll ≡ basicOperators.scala:61-76).
# ---------------------------------------------------------------------------
@q(
    "q10_union_bag",
    """
    SELECT k, COUNT(*) AS n FROM (
      SELECT l_orderkey AS k FROM lineitem WHERE l_returnflag = 'R'
      UNION ALL
      SELECT o_orderkey AS k FROM orders WHERE o_orderstatus = 'F'
    ) t GROUP BY k ORDER BY n DESC, k LIMIT 100
    """,
)
def q10_union_bag(spark: SparkSession, sf_dir: str) -> SDF:
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("k")
    )
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F").select(
        F.col("o_orderkey").alias("k")
    )
    return (
        li.union(orders)
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "k")
        .limit(100)
        .df
    )


@q(
    "q11_intersect_multiset",
    """
    SELECT suppkey, COUNT(*) AS n FROM (
      SELECT l_suppkey AS suppkey FROM lineitem WHERE l_returnflag = 'A'
      INTERSECT ALL
      SELECT l_suppkey AS suppkey FROM lineitem WHERE l_returnflag = 'R'
    ) t GROUP BY suppkey ORDER BY suppkey
    """,
)
def q11_intersect_multiset(spark: SparkSession, sf_dir: str) -> SDF:
    li = _t(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_returnflag") == "A").select(F.col("l_suppkey").alias("suppkey"))
    r = li.filter(F.col("l_returnflag") == "R").select(F.col("l_suppkey").alias("suppkey"))
    return (
        a.intersect(r)
        .groupBy("suppkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("suppkey")
        .df
    )


@q(
    "q12_except_multiset",
    """
    SELECT suppkey, COUNT(*) AS n FROM (
      SELECT l_suppkey AS suppkey FROM lineitem WHERE l_returnflag = 'A'
      EXCEPT ALL
      SELECT l_suppkey AS suppkey FROM lineitem WHERE l_returnflag = 'R'
    ) t GROUP BY suppkey ORDER BY suppkey
    """,
)
def q12_except_multiset(spark: SparkSession, sf_dir: str) -> SDF:
    li = _t(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_returnflag") == "A").select(F.col("l_suppkey").alias("suppkey"))
    r = li.filter(F.col("l_returnflag") == "R").select(F.col("l_suppkey").alias("suppkey"))
    return (
        a.except_(r)
        .groupBy("suppkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("suppkey")
        .df
    )


# ---------------------------------------------------------------------------
# q13 — Distinct (LogicalPlan.scala:115-117; rewritten to group-by-all at
# aggregationAnalysis.scala:25-30 — Spark's Deduplicate does the same with
# map-side partials).
# ---------------------------------------------------------------------------
@q(
    "q13_distinct",
    """
    SELECT DISTINCT c_nationkey AS nationkey, c_mktsegment AS segment
    FROM customer ORDER BY nationkey, segment
    """,
)
def q13_distinct(spark: SparkSession, sf_dir: str) -> SDF:
    return (
        _t(spark, sf_dir, "customer")
        .select(F.col("c_nationkey").alias("nationkey"), F.col("c_mktsegment").alias("segment"))
        .distinct()
        .orderBy("nationkey", "segment")
        .df
    )


# ---------------------------------------------------------------------------
# q14 — aggregate-over-window, spear style (any aggregate OVER a spec,
# WindowFunction.scala:6-19) with spear's default ROWS frame pinned
# (SURVEY §2.6 ⚠).
# ---------------------------------------------------------------------------
@q(
    "q14_window_aggregates",
    """
    SELECT o_orderkey AS orderkey, o_custkey AS custkey, o_totalprice AS totalprice,
      CAST(MAX(CAST(o_totalprice AS DECIMAL(14,2))) OVER (PARTITION BY o_custkey) AS DOUBLE) AS max_cust_price,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) OVER
           (PARTITION BY o_custkey ORDER BY o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spent,
      COUNT(*) OVER (PARTITION BY o_custkey) AS cust_orders
    FROM orders ORDER BY orderkey
    """,
)
def q14_window_aggregates(spark: SparkSession, sf_dir: str) -> SDF:
    from spear_spark.windows import Window as SpearWindow

    orders = load_table(spark, sf_dir, "orders")
    w_part = W.partitionBy("o_custkey")
    # spear default frame (ROWS unbounded-preceding → current) via our builder
    w_run = SpearWindow().partitionBy("o_custkey").orderBy("o_orderkey").to_spark()
    return (
        orders.select(
            F.col("o_orderkey").alias("orderkey"),
            F.col("o_custkey").alias("custkey"),
            F.col("o_totalprice").alias("totalprice"),
            F.max(D("o_totalprice", 14, 2)).over(w_part).cast("double").alias("max_cust_price"),
            F.sum(D("o_totalprice", 14, 2)).over(w_run).cast("double").alias("running_spent"),
            F.count(F.lit(1)).over(w_part).alias("cust_orders"),
        )
        .orderBy("orderkey")
    )


# ---------------------------------------------------------------------------
# q15 — ranking window (extension: the reference has no ranking functions;
# row_number comes free from Spark).  Top-3 per group pattern.
# ---------------------------------------------------------------------------
@q(
    "q15_top3_per_nation",
    """
    SELECT nationkey, custkey, c_acctbal AS acctbal,
           CAST(rnk AS INTEGER) AS rnk  -- match Spark row_number (int32)
    FROM (
      SELECT c_nationkey AS nationkey, c_custkey AS custkey, c_acctbal,
             ROW_NUMBER() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rnk
      FROM customer) t
    WHERE rnk <= 3 ORDER BY nationkey, rnk
    """,
)
def q15_top3_per_nation(spark: SparkSession, sf_dir: str) -> SDF:
    cust = load_table(spark, sf_dir, "customer")
    w = W.partitionBy("c_nationkey").orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
    return (
        cust.select(
            F.col("c_nationkey").alias("nationkey"),
            F.col("c_custkey").alias("custkey"),
            F.col("c_acctbal").alias("acctbal"),
            F.row_number().over(w).alias("rnk"),
        )
        .filter(F.col("rnk") <= 3)
        .orderBy("nationkey", "rnk")
    )


# ---------------------------------------------------------------------------
# q16 — RANGE frame (RangeFrame, WindowSpec.scala:16-28).
# Scale note: the frame is GLOBAL but BOUNDED (10 key units), so it
# evaluates via windows.partitioned_bounded_range — bucket the key
# space, copy each bucket's 10-key tail into the next bucket as ghost
# rows, window per bucket, drop ghosts.  Identical results to the
# naive unpartitioned window (the oracle IS the naive form), but the
# plan is a hash exchange + per-bucket windows instead of a
# single-task global sort — the round-2..4 "only weak-at-100× plan"
# flag is retired.
# ---------------------------------------------------------------------------
@q(
    "q16_range_frame",
    """
    SELECT orderkey, nearby_revenue FROM (
      SELECT o_orderkey AS orderkey,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) OVER
             (ORDER BY o_orderkey RANGE BETWEEN 10 PRECEDING AND CURRENT ROW) AS DOUBLE) AS nearby_revenue
      FROM orders) t
    WHERE orderkey <= 1000 ORDER BY orderkey
    """,
)
def q16_range_frame(spark: SparkSession, sf_dir: str) -> SDF:
    from spear_spark.windows import partitioned_bounded_range

    orders = load_table(spark, sf_dir, "orders")
    framed = partitioned_bounded_range(
        orders.select("o_orderkey", "o_totalprice"),
        "o_orderkey",
        {"nearby_revenue": (D("o_totalprice", 14, 2), F.sum)},
        preceding_range=10,
        bucket_width=10_000,
    )
    return (
        framed.select(
            F.col("o_orderkey").alias("orderkey"),
            F.col("nearby_revenue").cast("double").alias("nearby_revenue"),
        )
        .filter(F.col("orderkey") <= 1000)
        .orderBy("orderkey")
    )


# ---------------------------------------------------------------------------
# q17 — lag over event time (extension; exact integer math via
# microsecond epochs so both engines agree bit-for-bit).
# ---------------------------------------------------------------------------
@q(
    "q17_event_gaps",
    """
    WITH g AS (
      SELECT event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) - lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS gap_us
      FROM events)
    SELECT event_type, COUNT(gap_us) AS n_gaps,
           CAST(SUM(gap_us) AS DOUBLE) / COUNT(gap_us) AS avg_gap_us,
           MIN(gap_us) AS min_gap_us, MAX(gap_us) AS max_gap_us
    FROM g GROUP BY event_type ORDER BY event_type
    """,
)
def q17_event_gaps(spark: SparkSession, sf_dir: str) -> SDF:
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "event_type",
        (F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)).alias("gap_us"),
    )
    return (
        gaps.groupBy("event_type")
        .agg(
            F.count("gap_us").alias("n_gaps"),
            (F.sum("gap_us").cast("double") / F.count("gap_us")).alias("avg_gap_us"),
            F.min("gap_us").alias("min_gap_us"),
            F.max("gap_us").alias("max_gap_us"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# q18 — GROUP BY + HAVING via the Grouped builder (DataFrame.scala:199-220,
# UnifyFilteredSortedAggregate / ExpandUnresolvedAggregates,
# aggregationAnalysis.scala:89-323).
# ---------------------------------------------------------------------------
@q(
    "q18_big_spenders",
    """
    SELECT o_custkey AS custkey, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS spent
    FROM orders GROUP BY o_custkey
    HAVING COUNT(*) >= 12 AND SUM(CAST(o_totalprice AS DECIMAL(14,2))) > 3000000
    ORDER BY custkey
    """,
)
def q18_big_spenders(spark: SparkSession, sf_dir: str) -> SDF:
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.col("o_custkey").alias("custkey"))
        .having(
            (F.col("n_orders") >= 12)
            & (F.col("spent_dec") > F.lit(3000000).cast("decimal(24,2)"))
        )
        .orderBy("custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(D("o_totalprice", 14, 2)).alias("spent_dec"),
        )
        .df.select("custkey", "n_orders", F.col("spent_dec").cast("double").alias("spent"))
    )


# ---------------------------------------------------------------------------
# q19 — explicit null ordering (SortOrder.scala:16-44; spear default is
# nulls-larger: ASC → NULLS LAST, pinned in DataFrame.orderBy ⚠).
# ---------------------------------------------------------------------------
@q(
    "q19_sort_nulls",
    """
    SELECT o_orderkey AS orderkey, NULLIF(o_orderstatus, 'O') AS status
    FROM orders ORDER BY status ASC NULLS LAST, orderkey LIMIT 500
    """,
)
def q19_sort_nulls(spark: SparkSession, sf_dir: str) -> SDF:
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.select(
            F.col("o_orderkey").alias("orderkey"),
            sf.nullif(F.col("o_orderstatus"), F.lit("O")).alias("status"),
        )
        .orderBy("status", "orderkey")  # facade default = spear nulls-larger
        .limit(500)
        .df
    )


# ---------------------------------------------------------------------------
# q20 — scalar expression library (SURVEY §2.4): null-skipping concat ⚠,
# coalesce/nullif/case/greatest/least/power(^)/integral div ⚠/in/<=>.
# ---------------------------------------------------------------------------
@q(
    "q20_scalar_functions",
    """
    SELECT l_orderkey AS orderkey, l_linenumber AS linenumber,
      concat(l_returnflag, NULLIF(l_linestatus, 'F')) AS flag_concat,
      COALESCE(NULLIF(l_returnflag, 'N'), 'none') AS flag_or_none,
      CASE WHEN l_quantity < 10 THEN 'low' WHEN l_quantity < 30 THEN 'mid' ELSE 'high' END AS qty_band,
      GREATEST(l_discount, l_tax) AS max_rate,
      LEAST(l_discount, l_tax) AS min_rate,
      POWER(2.0, CAST(l_linenumber AS DOUBLE)) AS pow2,
      l_orderkey // 100 AS okey_div,
      l_returnflag IN ('A', 'N') AS is_an,
      l_discount IS NOT DISTINCT FROM l_tax AS same_rate,
      CAST(length(concat(l_returnflag, l_linestatus)) AS INTEGER) AS flag_len
    FROM lineitem WHERE l_orderkey < 300
    ORDER BY orderkey, linenumber
    """,
)
def q20_scalar_functions(spark: SparkSession, sf_dir: str) -> SDF:
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 300)
    return (
        li.select(
            F.col("l_orderkey").alias("orderkey"),
            F.col("l_linenumber").alias("linenumber"),
            sf.concat(F.col("l_returnflag"), sf.nullif(F.col("l_linestatus"), F.lit("F"))).alias(
                "flag_concat"
            ),
            sf.coalesce(sf.nullif(F.col("l_returnflag"), F.lit("N")), F.lit("none")).alias(
                "flag_or_none"
            ),
            sf.case_when(
                (F.col("l_quantity") < 10, F.lit("low")),
                (F.col("l_quantity") < 30, F.lit("mid")),
                else_=F.lit("high"),
            ).alias("qty_band"),
            sf.greatest("l_discount", "l_tax").alias("max_rate"),
            sf.least("l_discount", "l_tax").alias("min_rate"),
            sf.power(F.lit(2.0), F.col("l_linenumber").cast("double")).alias("pow2"),
            sf.div(F.col("l_orderkey"), F.lit(100)).alias("okey_div"),
            sf.in_(F.col("l_returnflag"), "A", "N").alias("is_an"),
            sf.null_safe_eq(F.col("l_discount"), F.col("l_tax")).alias("same_rate"),
            sf.length(sf.concat("l_returnflag", "l_linestatus")).alias("flag_len"),
        )
        .orderBy("orderkey", "linenumber")
        .df
    )


# ---------------------------------------------------------------------------
# q21 — aggregate function library (SURVEY §2.5): count distinct
# (extension — the reference *rejects* distinct aggs,
# aggregationAnalysis.scala:111-121), product, bool_and/bool_or,
# deterministic first/last via min_by/max_by, order-pinned array_agg ⚠.
# ---------------------------------------------------------------------------
def _ordkey():
    """Deterministic first/last ordering key: l_linenumber has duplicate
    values within an order, so ties are broken by the picked value itself
    (identical arithmetic in both engines)."""
    return (
        F.col("l_linenumber").cast("bigint") * F.lit(10000000000)
        + F.round(F.col("l_extendedprice") * 100).cast("bigint")
    )


@q(
    "q21_aggregate_library",
    """
    SELECT l_orderkey AS orderkey,
      COUNT(DISTINCT l_suppkey) AS n_supps,
      ROUND(PRODUCT(1 + l_tax), 9) AS tax_factor,
      bool_and(l_discount > 0.02) AS all_disc,
      bool_or(l_quantity >= 45) AS any_big,
      arg_min(l_extendedprice, l_linenumber * 10000000000 + CAST(round(l_extendedprice * 100) AS BIGINT)) AS first_price,
      arg_max(l_extendedprice, l_linenumber * 10000000000 + CAST(round(l_extendedprice * 100) AS BIGINT)) AS last_price,
      array_to_string(list_sort(array_agg(l_linenumber)), ',') AS linenums
    FROM lineitem WHERE l_orderkey < 2000
    GROUP BY l_orderkey ORDER BY orderkey
    """,
)
def q21_aggregate_library(spark: SparkSession, sf_dir: str) -> SDF:
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 2000)
    return (
        li.groupBy(F.col("l_orderkey").alias("orderkey"))
        .agg(
            F.count_distinct(F.col("l_suppkey")).alias("n_supps"),
            F.round(sf.product(F.lit(1) + F.col("l_tax")), 9).alias("tax_factor"),
            sf.bool_and(F.col("l_discount") > 0.02).alias("all_disc"),
            sf.bool_or(F.col("l_quantity") >= 45).alias("any_big"),
            F.min_by("l_extendedprice", _ordkey()).alias("first_price"),
            F.max_by("l_extendedprice", _ordkey()).alias("last_price"),
            F.array_join(sf.array_agg("l_linenumber", sort=True), ",").alias("linenums"),
        )
        .orderBy("orderkey")
        .df
    )


# ---------------------------------------------------------------------------
# q22 — CTE + scalar subquery via the SQL entry point (With,
# LogicalPlan.scala:382-390; TPC-H Q15 shape).  Runs through spark.sql on
# registered views — the reference's Context.sql path.
# ---------------------------------------------------------------------------
_Q22_SQL = """
    WITH revenue AS (
      SELECT l_suppkey AS suppkey,
             SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS total_rev
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      GROUP BY l_suppkey)
    SELECT s_suppkey AS suppkey, s_name AS name, CAST(total_rev AS DOUBLE) AS total_rev
    FROM supplier JOIN revenue ON s_suppkey = suppkey
    WHERE total_rev = (SELECT MAX(total_rev) FROM revenue)
    ORDER BY suppkey
"""


@q("q22_top_supplier_cte", _Q22_SQL)
def q22_top_supplier_cte(spark: SparkSession, sf_dir: str) -> SDF:
    # The scalar-subquery formulation (kept verbatim as the oracle)
    # inlines the CTE twice → two full lineitem aggregations.  The
    # Spark-side plan uses RANK() OVER () instead: one scan, one
    # aggregation, and a window over the already-tiny per-supplier
    # rollup.  `WHERE total_rev = (SELECT MAX...)` ≡ `rnk = 1` with
    # RANK (ties included in both).
    register_tables(spark, sf_dir, ("lineitem", "supplier"))
    return spark.sql(
        """
        WITH revenue AS (
          SELECT l_suppkey AS suppkey,
                 SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS total_rev
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          GROUP BY l_suppkey),
        ranked AS (
          SELECT suppkey, total_rev, RANK() OVER (ORDER BY total_rev DESC) AS rnk
          FROM revenue)
        SELECT s_suppkey AS suppkey, s_name AS name, CAST(total_rev AS DOUBLE) AS total_rev
        FROM supplier JOIN ranked ON s_suppkey = suppkey
        WHERE rnk = 1
        ORDER BY suppkey
        """
    )


# ---------------------------------------------------------------------------
# q23 — FROM-less SELECT (SingleRowRelation, LogicalPlan.scala:89-91 /
# OneRowRelation in Spark).
# ---------------------------------------------------------------------------
_Q23_SQL = """
    SELECT 1 + 2 AS a, concat('sp', 'ear') AS b,
           CAST(POWER(2, 10) AS BIGINT) AS c,
           COALESCE(NULL, 'x') AS d, CAST(LEAST(3, 1, 2) AS INTEGER) AS e,
           CAST(NULL AS INTEGER) IS NULL AS f
"""


@q("q23_select_no_from", _Q23_SQL)
def q23_select_no_from(spark: SparkSession, sf_dir: str) -> SDF:
    return spark.sql(_Q23_SQL)


# ---------------------------------------------------------------------------
# q24 — event-time tumbling window over the batch events table
# (date_trunc bucketing — the batch twin of the streaming rollup in
# spear_spark.streaming).
# ---------------------------------------------------------------------------
@q(
    "q24_hourly_rollup",
    """
    SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_ts, event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS value_sum,
           COUNT(DISTINCT user_id) AS n_users
    FROM events GROUP BY date_trunc('hour', CAST(ts AS TIMESTAMP)), event_type
    ORDER BY hour_ts, event_type
    """,
)
def q24_hourly_rollup(spark: SparkSession, sf_dir: str) -> SDF:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour_ts"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum(D("value")).alias("value_sum"),
            F.count_distinct(F.col("user_id")).alias("n_users"),
        )
        .orderBy("hour_ts", "event_type")
        .df
    )


# ---------------------------------------------------------------------------
# q25 — semi-structured extraction from the JSON props column (regexp-based
# so both engines share exact semantics; at scale prefer from_json with an
# explicit schema — JVM-side, no Python).
# ---------------------------------------------------------------------------
@q(
    "q25_json_extract",
    r"""
    SELECT event_type,
           CAST(SUM(CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT)) AS BIGINT) AS k_sum,
           MIN(CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT)) AS k_min,
           MAX(CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT)) AS k_max
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def q25_json_extract(spark: SparkSession, sf_dir: str) -> SDF:
    ev = _t(spark, sf_dir, "events")
    k = F.regexp_extract(F.col("props"), r'"k":\s*(\d+)', 1).cast("bigint")
    return (
        ev.groupBy("event_type")
        .agg(
            F.sum(k).alias("k_sum"),
            F.min(k).alias("k_min"),
            F.max(k).alias("k_max"),
        )
        .orderBy("event_type")
        .df
    )


# ---------------------------------------------------------------------------
# q26 — ROLLUP grouping sets (extension: absent from the reference,
# SURVEY §2.1 "notably absent"; free in Spark).
# ---------------------------------------------------------------------------
@q(
    "q26_rollup",
    """
    SELECT r_name AS region, n_name AS nation, COUNT(*) AS n_cust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS bal_sum
    FROM customer JOIN nation ON c_nationkey = n_nationkey
                  JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    ORDER BY region NULLS LAST, nation NULLS LAST
    """,
)
def q26_rollup(spark: SparkSession, sf_dir: str) -> SDF:
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    joined = cust.join(nation, cust.c_nationkey == nation.n_nationkey).join(
        region, nation.n_regionkey == region.r_regionkey
    )
    return (
        joined.rollup(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(F.count(F.lit(1)).alias("n_cust"), dsum(D("c_acctbal")).alias("bal_sum"))
        .orderBy(F.col("region").asc_nulls_last(), F.col("nation").asc_nulls_last())
    )


# ---------------------------------------------------------------------------
# q27 — pivot (extension, absent from the reference).  Explicit value list
# keeps the output schema static — required for a deterministic plan and
# a single-pass pivot at scale.
# ---------------------------------------------------------------------------
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


@q(
    "q27_pivot_segments",
    """
    SELECT c_nationkey AS nationkey,
      COUNT(*) FILTER (WHERE c_mktsegment = 'AUTOMOBILE') AS automobile,
      COUNT(*) FILTER (WHERE c_mktsegment = 'BUILDING') AS building,
      COUNT(*) FILTER (WHERE c_mktsegment = 'FURNITURE') AS furniture,
      COUNT(*) FILTER (WHERE c_mktsegment = 'HOUSEHOLD') AS household,
      COUNT(*) FILTER (WHERE c_mktsegment = 'MACHINERY') AS machinery
    FROM customer GROUP BY c_nationkey ORDER BY nationkey
    """,
)
def q27_pivot_segments(spark: SparkSession, sf_dir: str) -> SDF:
    cust = load_table(spark, sf_dir, "customer")
    pivoted = (
        cust.groupBy(F.col("c_nationkey").alias("nationkey"))
        .pivot("c_mktsegment", _SEGMENTS)
        .count()
    )
    return pivoted.select(
        "nationkey",
        *[F.coalesce(F.col(s), F.lit(0)).alias(s.lower()) for s in _SEGMENTS],
    ).orderBy("nationkey")


# ---------------------------------------------------------------------------
# q28 — explode / unnest (extension: no lateral views in the reference).
# Scale: explode fans out ~100 words/doc; partial aggregation absorbs the
# fan-out before the shuffle.
# ---------------------------------------------------------------------------
@q(
    "q28_word_counts",
    """
    SELECT w AS word, COUNT(*) AS n FROM (
      SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
    GROUP BY w ORDER BY n DESC, word LIMIT 50
    """,
)
def q28_word_counts(spark: SparkSession, sf_dir: str) -> SDF:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "word")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# q30 — right outer join (JoinType RightOuter, LogicalPlan.scala:259-277;
# declared but never physically implemented in the reference).
# ---------------------------------------------------------------------------
@q(
    "q30_right_join",
    """
    SELECT n_nationkey AS nationkey, n_name AS nation, COUNT(s_suppkey) AS n_supp
    FROM supplier RIGHT JOIN nation ON s_nationkey = n_nationkey
    GROUP BY n_nationkey, n_name ORDER BY nationkey
    """,
)
def q30_right_join(spark: SparkSession, sf_dir: str) -> SDF:
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    return (
        supp.rightJoin(nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_nationkey").alias("nationkey"), F.col("n_name").alias("nation"))
        .agg(F.count("s_suppkey").alias("n_supp"))
        .orderBy("nationkey")
        .df
    )


# ---------------------------------------------------------------------------
# q31 — cross join (bare JOIN without condition; the reference's only
# physical join is the cartesian nested loop, basicOperators.scala:78-100).
# Kept small-side × small-side: a cartesian over big tables is a bug,
# not a query.
# ---------------------------------------------------------------------------
@q(
    "q31_cross_join",
    """
    SELECT r_name AS region, n_name AS nation
    FROM region CROSS JOIN nation
    ORDER BY region, nation
    """,
)
def q31_cross_join(spark: SparkSession, sf_dir: str) -> SDF:
    region = _t(spark, sf_dir, "region")
    nation = _t(spark, sf_dir, "nation")
    return (
        region.crossJoin(nation)
        .select(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .orderBy("region", "nation")
        .df
    )


# ---------------------------------------------------------------------------
# q32 — named window via the SQL WINDOW clause (WindowDef,
# LogicalPlan.scala:392-396; InlineWindowDefinitions,
# windowAnalysis.scala:56-94).  Spark SQL supports the clause natively;
# frames pinned explicitly per spear's ROWS default (SURVEY §2.6 ⚠).
# ---------------------------------------------------------------------------
_Q32_SQL = """
    SELECT c_custkey AS custkey, c_nationkey AS nationkey,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) OVER w AS DOUBLE) AS running_bal,
           COUNT(*) OVER w AS seen
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_custkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ORDER BY custkey
"""


@q("q32_named_window", _Q32_SQL)
def q32_named_window(spark: SparkSession, sf_dir: str) -> SDF:
    register_tables(spark, sf_dir, ("customer",))
    return spark.sql(_Q32_SQL)


# ---------------------------------------------------------------------------
# q33 — TPC-H Q13 shape: outer-join count distribution (histogram of
# per-customer order counts, including zero after a filtered left join).
# ---------------------------------------------------------------------------
@q(
    "q33_order_count_distribution",
    """
    SELECT c_count, COUNT(*) AS custdist FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey) t
    GROUP BY c_count ORDER BY custdist DESC, c_count DESC
    """,
)
def q33_order_count_distribution(spark: SparkSession, sf_dir: str) -> SDF:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    cond = (F.col("c_custkey") == F.col("o_custkey")) & (
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        cust.leftJoin(orders, cond)
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
        .df
    )


# ---------------------------------------------------------------------------
# q34 — TPC-H Q18 shape: IN-subquery over a HAVING aggregate (subquery
# expressions are an extension — the reference has none, SURVEY §2.1).
# ---------------------------------------------------------------------------
_Q34_SQL = """
    SELECT o_orderkey AS orderkey, o_custkey AS custkey,
           CAST(o_totalprice AS DOUBLE) AS totalprice,
           CAST(qty_dec AS DOUBLE) AS total_qty
    FROM orders JOIN (
      SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(12,2))) AS qty_dec
      FROM lineitem GROUP BY l_orderkey) t ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 150)
    ORDER BY totalprice DESC, orderkey
    LIMIT 100
"""


@q("q34_large_quantity_orders", _Q34_SQL)
def q34_large_quantity_orders(spark: SparkSession, sf_dir: str) -> SDF:
    register_tables(spark, sf_dir, ("orders", "lineitem"))
    return spark.sql(_Q34_SQL)


# ---------------------------------------------------------------------------
# q35 — complex-type constructors + accessors (MakeNamedStruct /
# MakeArray / MakeMap, complexTypes.scala:7-88) — built, accessed, and
# surfaced as scalars so the cross-engine compare stays value-based.
# ---------------------------------------------------------------------------
@q(
    "q35_complex_types",
    """
    SELECT n_nationkey AS k,
           struct_pack(name := n_name, region := n_regionkey).name AS s_name,
           struct_pack(name := n_name, region := n_regionkey).region AS s_region,
           [n_nationkey, n_regionkey][1] AS arr_first,
           CAST(len([n_nationkey, n_regionkey]) AS INTEGER) AS arr_len,
           map(['nk'], [n_nationkey])['nk'][1] AS map_val
    FROM nation ORDER BY k
    """,
)
def q35_complex_types(spark: SparkSession, sf_dir: str) -> SDF:
    nation = _t(spark, sf_dir, "nation")
    s = sf.named_struct("name", F.col("n_name"), "region", F.col("n_regionkey"))
    arr = sf.array(F.col("n_nationkey"), F.col("n_regionkey"))
    m = sf.map_(F.lit("nk"), F.col("n_nationkey"))
    return (
        nation.select(
            F.col("n_nationkey").alias("k"),
            s.getField("name").alias("s_name"),
            s.getField("region").alias("s_region"),
            F.element_at(arr, 1).alias("arr_first"),
            F.size(arr).alias("arr_len"),
            F.element_at(m, "nk").alias("map_val"),
        )
        .orderBy("k")
        .df
    )


# ---------------------------------------------------------------------------
# q36 — correlated scalar subquery (TPC-H Q17 shape): per-part average
# threshold.  Catalyst decorrelates this into an aggregate + join —
# exactly the rewrite the reference never got to (no subquery
# expressions at all, SURVEY §2.1).  The threshold is computed with the
# exact-decimal convention so the boundary comparison is deterministic.
# ---------------------------------------------------------------------------
_Q36_SQL = """
    SELECT p_brand AS brand, COUNT(*) AS n_small,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS small_revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE l_quantity < (
      SELECT 0.4 * (CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*))
      FROM lineitem l2 WHERE l2.l_partkey = part.p_partkey)
    GROUP BY p_brand ORDER BY brand
"""


@q("q36_small_quantity_revenue", _Q36_SQL)
def q36_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> SDF:
    register_tables(spark, sf_dir, ("lineitem", "part"))
    return spark.sql(_Q36_SQL)


# ---------------------------------------------------------------------------
# q37 — string/regex functions: RLike (stringExpressions.scala:24-37)
# as a filter plus LIKE, substring, upper/lower, length projections.
# ---------------------------------------------------------------------------
@q(
    "q37_string_functions",
    """
    SELECT o_orderkey AS orderkey, o_orderpriority AS priority,
           upper(o_orderpriority) AS pri_upper,
           lower(o_orderpriority) AS pri_lower,
           substr(o_orderpriority, 1, 1) AS pri_code,
           CAST(length(o_orderpriority) AS INTEGER) AS pri_len,
           o_orderpriority LIKE '%URGENT%' AS is_urgentish
    FROM orders
    WHERE regexp_matches(o_orderpriority, '^[12]-')
    ORDER BY orderkey LIMIT 200
    """,
)
def q37_string_functions(spark: SparkSession, sf_dir: str) -> SDF:
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.filter(sf.rlike(F.col("o_orderpriority"), "^[12]-"))
        .select(
            F.col("o_orderkey").alias("orderkey"),
            F.col("o_orderpriority").alias("priority"),
            F.upper("o_orderpriority").alias("pri_upper"),
            F.lower("o_orderpriority").alias("pri_lower"),
            F.substring("o_orderpriority", 1, 1).alias("pri_code"),
            sf.length("o_orderpriority").alias("pri_len"),
            F.col("o_orderpriority").like("%URGENT%").alias("is_urgentish"),
        )
        .orderBy("orderkey")
        .limit(200)
        .df
    )


# ---------------------------------------------------------------------------
# q38 — multiple DISTINCT aggregates in one grouping (Catalyst plans
# this with an Expand node — one pass, no per-distinct re-scan; the
# reference rejects distinct aggregates entirely,
# aggregationAnalysis.scala:111-121 — extension).
# ---------------------------------------------------------------------------
@q(
    "q38_multi_distinct",
    """
    SELECT l_returnflag AS flag,
           COUNT(DISTINCT l_suppkey) AS n_supp,
           COUNT(DISTINCT l_partkey) AS n_part,
           COUNT(DISTINCT l_suppkey * 1000000 + l_partkey) AS n_supp_part,
           COUNT(*) AS n_rows
    FROM lineitem GROUP BY l_returnflag ORDER BY flag
    """,
)
def q38_multi_distinct(spark: SparkSession, sf_dir: str) -> SDF:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy(F.col("l_returnflag").alias("flag"))
        .agg(
            F.count_distinct("l_suppkey").alias("n_supp"),
            F.count_distinct("l_partkey").alias("n_part"),
            F.count_distinct(
                F.col("l_suppkey") * 1000000 + F.col("l_partkey")
            ).alias("n_supp_part"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy("flag")
        .df
    )


# ---------------------------------------------------------------------------
# q39 — CUBE grouping sets with GROUPING() markers (extension beyond
# the reference like q26's ROLLUP; grouping-set queries are one Expand
# pass, not 2^k scans).
# ---------------------------------------------------------------------------
@q(
    "q39_cube",
    """
    SELECT o_orderstatus AS status, o_orderpriority AS priority,
           CAST(GROUPING(o_orderstatus) AS TINYINT) AS g_status,
           CAST(GROUPING(o_orderpriority) AS TINYINT) AS g_priority,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS revenue
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    ORDER BY g_status, g_priority, status NULLS LAST, priority NULLS LAST
    """,
)
def q39_cube(spark: SparkSession, sf_dir: str) -> SDF:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping("o_orderstatus").alias("g_status"),
            F.grouping("o_orderpriority").alias("g_priority"),
            F.count(F.lit(1)).alias("n"),
            dsum(D("o_totalprice", 14, 2)).alias("revenue"),
        )
        .select(
            F.col("o_orderstatus").alias("status"),
            F.col("o_orderpriority").alias("priority"),
            "g_status",
            "g_priority",
            "n",
            "revenue",
        )
        .orderBy(
            "g_status",
            "g_priority",
            F.col("status").asc_nulls_last(),
            F.col("priority").asc_nulls_last(),
        )
    )


# ---------------------------------------------------------------------------
# q40 — batch sessionization: gap-based session assignment via the
# lag → boundary-flag → running-sum idiom (one shuffle on user_id,
# two windows over the same (partition, order) spec — Spark evaluates
# them in a single WindowExec).  Batch twin of
# streaming.sessionize_stream's session_window.
# ---------------------------------------------------------------------------
@q(
    "q40_sessionize",
    """
    WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
    marked AS (
      SELECT user_id, event_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS new_session
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    sess AS (
      SELECT user_id, event_id,
             -- CAST: DuckDB window SUM over INTEGER yields HUGEINT (int128);
             -- the driver's serialization hash is type-sensitive, so pin BIGINT
             -- to match Spark's LongType (CORRECTNESS_r01 q40 hash_match fail).
             CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_no
      FROM marked)
    SELECT user_id, session_no, COUNT(*) AS n_events, MIN(event_id) AS first_event
    FROM sess GROUP BY user_id, session_no
    ORDER BY user_id, session_no
    """,
)
def q40_sessionize(spark: SparkSession, sf_dir: str) -> SDF:
    from spear_spark.windows import Window as SpearWindow

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    marked = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.when(F.lag("ts").over(w).isNull() | (gap_us > 1_800_000_000), 1)
        .otherwise(0)
        .alias("new_session"),
    )
    w_run = (
        SpearWindow().partitionBy("user_id").orderBy("ts", "event_id").to_spark()
    )  # spear default ROWS frame
    sess = marked.select(
        "user_id", "event_id", F.sum("new_session").over(w_run).alias("session_no")
    )
    return (
        sess.groupBy("user_id", "session_no")
        .agg(F.count(F.lit(1)).alias("n_events"), F.min("event_id").alias("first_event"))
        .orderBy("user_id", "session_no")
    )


# ---------------------------------------------------------------------------
# q41 — ranking/analytic window library (extensions: the reference has
# no dedicated ranking functions, SURVEY §2.6; rank fractions are exact
# rational arithmetic → deterministic cross-engine).
# ---------------------------------------------------------------------------
@q(
    "q41_ranking_functions",
    """
    SELECT c_custkey AS custkey, c_nationkey AS nationkey,
           CAST(DENSE_RANK() OVER w AS INTEGER) AS drnk,
           CAST(NTILE(4) OVER w AS INTEGER) AS quartile,
           PERCENT_RANK() OVER w AS prnk,
           CUME_DIST() OVER w AS cdist,
           LEAD(c_custkey, 1) OVER w AS next_cust
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
    ORDER BY custkey
    """,
)
def q41_ranking_functions(spark: SparkSession, sf_dir: str) -> SDF:
    cust = load_table(spark, sf_dir, "customer")
    w = W.partitionBy("c_nationkey").orderBy(F.col("c_acctbal").desc(), "c_custkey")
    return (
        cust.select(
            F.col("c_custkey").alias("custkey"),
            F.col("c_nationkey").alias("nationkey"),
            F.dense_rank().over(w).alias("drnk"),
            F.ntile(4).over(w).alias("quartile"),
            F.percent_rank().over(w).alias("prnk"),
            F.cume_dist().over(w).alias("cdist"),
            F.lead("c_custkey", 1).over(w).alias("next_cust"),
        )
        .orderBy("custkey")
    )


# ---------------------------------------------------------------------------
# q42 — arithmetic expression edges (SURVEY §2.4): unary Negate/Positive,
# Remainder on integral + double operands, IsNaN, plain double division.
# ---------------------------------------------------------------------------
@q(
    "q42_arithmetic_edges",
    """
    SELECT l_orderkey AS orderkey, l_linenumber AS ln,
           -l_quantity AS neg_qty,
           +l_linenumber AS pos_ln,
           l_linenumber % 3 AS ln_mod,
           CAST(CAST(l_quantity AS DOUBLE) % CAST(7 AS DOUBLE) AS DOUBLE) AS qty_mod,
           isnan(CAST('NaN' AS DOUBLE)) AS nan_true,
           isnan(l_discount) AS disc_nan,
           l_extendedprice / 2.0 AS half_price
    FROM lineitem WHERE l_orderkey < 500
    ORDER BY orderkey, ln, neg_qty
    """,
)
def q42_arithmetic_edges(spark: SparkSession, sf_dir: str) -> SDF:
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 500)
    return (
        li.select(
            F.col("l_orderkey").alias("orderkey"),
            F.col("l_linenumber").alias("ln"),
            (-F.col("l_quantity")).alias("neg_qty"),
            F.col("l_linenumber").alias("pos_ln"),
            (F.col("l_linenumber") % 3).alias("ln_mod"),
            (F.col("l_quantity").cast("double") % F.lit(7).cast("double"))
            .cast("double")
            .alias("qty_mod"),
            sf.isnan(F.lit("NaN").cast("double")).alias("nan_true"),
            sf.isnan(F.col("l_discount")).alias("disc_nan"),
            (F.col("l_extendedprice") / 2.0).alias("half_price"),
        )
        .orderBy("orderkey", "ln", "neg_qty")
        .df
    )


# ---------------------------------------------------------------------------
# q43 — hypertable-style multi-granularity rollup: hourly AND daily
# continuous aggregates in ONE scan via GROUPING SETS over two derived
# time buckets (the Expand pass computes both grains without a second
# read — the batch form of a TimescaleDB continuous aggregate).
# ---------------------------------------------------------------------------
_Q43_SQL = """
    SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS hour_ts,
           CAST(date_trunc('day',  CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS day_ts,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS value_sum
    FROM events
    GROUP BY GROUPING SETS (
      (CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP), event_type),
      (CAST(date_trunc('day',  CAST(ts AS TIMESTAMP)) AS TIMESTAMP), event_type))
    ORDER BY hour_ts NULLS LAST, day_ts NULLS LAST, event_type
"""


@q("q43_multigrain_rollup", _Q43_SQL)
def q43_multigrain_rollup(spark: SparkSession, sf_dir: str) -> SDF:
    ev = load_table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("events")
    # Spark SQL over the µs-normalized view; CAST(ts AS TIMESTAMP) is a
    # no-op there, keeping the statement identical to the oracle.
    return spark.sql(_Q43_SQL)


# ---------------------------------------------------------------------------
# q44 — correlated minimum (TPC-H Q2 shape): rows matching a per-group
# minimum computed in a correlated subquery; Catalyst decorrelates to
# an aggregate + join.
# ---------------------------------------------------------------------------
_Q44_SQL = """
    SELECT l_partkey AS partkey, l_suppkey AS suppkey,
           l_extendedprice AS best_price
    FROM lineitem
    WHERE l_extendedprice = (
      SELECT MIN(l2.l_extendedprice) FROM lineitem l2
      WHERE l2.l_partkey = lineitem.l_partkey)
      AND l_partkey < 50
    ORDER BY partkey, suppkey
"""


@q("q44_min_price_supplier", _Q44_SQL)
def q44_min_price_supplier(spark: SparkSession, sf_dir: str) -> SDF:
    register_tables(spark, sf_dir, ("lineitem",))
    return spark.sql(_Q44_SQL)


# ---------------------------------------------------------------------------
# q45 — double correlated EXISTS / NOT EXISTS (TPC-H Q21 shape, adapted
# to available columns): suppliers with a late shipment in a
# multi-supplier order where no other supplier shipped late.
# ---------------------------------------------------------------------------
_Q45_SQL = """
    SELECT s_name AS name, COUNT(*) AS numwait
    FROM supplier JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
                  JOIN orders ON o_orderkey = l1.l_orderkey
    WHERE o_orderstatus = 'F'
      AND l1.l_shipdate > TIMESTAMP '1999-01-01'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > TIMESTAMP '1999-01-01')
    GROUP BY s_name
    ORDER BY numwait DESC, name
    """


@q("q45_waiting_suppliers", _Q45_SQL)
def q45_waiting_suppliers(spark: SparkSession, sf_dir: str) -> SDF:
    register_tables(spark, sf_dir, ("supplier", "lineitem", "orders"))
    return spark.sql(_Q45_SQL)


# ---------------------------------------------------------------------------
# q46 — deterministic key-hash sampling via functions.rand_like: the
# oracle-checkable stand-in for the reference's sequential Rand
# (stateful.scala:9-25), whose per-row XORShift state has no
# order-independent distributed equivalent.  u = md5[:13 hex]/2^52 is
# bit-identical in both engines and partitioning-independent, so a 10%
# sample is reproducible at any cluster size — the property that matters
# for reproducible training-data subsets at 100 TB.
# ---------------------------------------------------------------------------
@q(
    "q46_rand_sample",
    """
    WITH r AS (
      SELECT o_orderkey,
             ('0x'||substr(md5('42_'||CAST(o_orderkey AS VARCHAR)),1,13))::BIGINT
               / 4503599627370496.0 AS u
      FROM orders)
    SELECT o_orderkey AS okey, u FROM r WHERE u < 0.1 ORDER BY okey
    """,
)
def q46_rand_sample(spark: SparkSession, sf_dir: str) -> SDF:
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.select(
            F.col("o_orderkey").alias("okey"),
            sf.rand_like("o_orderkey", seed=42).alias("u"),
        )
        .filter(F.col("u") < 0.1)
        .orderBy("okey")
        .df
    )


# ---------------------------------------------------------------------------
# q47 — LocalRelation surfaces: Context.lift (local rows → relation,
# LogicalPlan.scala:93-113) and Context.range (Context.scala:32-40),
# joined against a stored table.  At scale a lifted relation is exactly
# the broadcast-side shape: tiny, driver-resident, shipped to executors
# once.
# ---------------------------------------------------------------------------
@q(
    "q47_local_relation",
    """
    WITH ks AS (SELECT range AS id FROM range(0, 5)),
         w(k, wt) AS (VALUES (0, 2), (1, 3), (2, 5), (3, 7), (4, 11))
    SELECT r.r_name AS region_name, w.wt AS wt, ks.id AS id
    FROM ks JOIN w ON ks.id = w.k JOIN region r ON r.r_regionkey = w.k
    ORDER BY region_name
    """,
)
def q47_local_relation(spark: SparkSession, sf_dir: str) -> SDF:
    from spear_spark.context import Context

    ctx = Context(spark)
    weights = ctx.lift([(0, 2), (1, 3), (2, 5), (3, 7), (4, 11)], "k: int, wt: int")
    ks = ctx.range(0, 5)
    region = _t(spark, sf_dir, "region")
    return (
        ks.join(weights, F.col("id") == F.col("k"))
        .join(region, F.col("r_regionkey") == F.col("k"))
        .select(F.col("r_name").alias("region_name"), "wt", "id")
        .orderBy("region_name")
        .df
    )


# ---------------------------------------------------------------------------
# q48 — cast matrix (Cast.scala:107-146): int→string, timestamp→date,
# date→string, string→int, int→double, and the spear string→boolean
# acceptance matrix (yes/no/t/f/on/off — wider than Spark's cast, pinned
# in functions.to_boolean; the oracle spells out the same matrix).
# ---------------------------------------------------------------------------
@q(
    "q48_cast_matrix",
    """
    SELECT o_orderkey AS okey,
           CAST(o_orderkey AS VARCHAR) AS okey_str,
           CAST(o_orderdate AS DATE) AS odate,
           CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS odate_str,
           CAST(substr(o_orderpriority, 1, 1) AS INTEGER) AS pri_num,
           CAST(o_custkey AS DOUBLE) AS cust_d,
           CASE WHEN lower(trim(CASE WHEN o_orderkey % 3 = 0 THEN 'yes'
                                     WHEN o_orderkey % 3 = 1 THEN 'OFF'
                                     ELSE 'garbage' END))
                  IN ('true', 't', 'yes', 'y', 'on', '1') THEN TRUE
                WHEN lower(trim(CASE WHEN o_orderkey % 3 = 0 THEN 'yes'
                                     WHEN o_orderkey % 3 = 1 THEN 'OFF'
                                     ELSE 'garbage' END))
                  IN ('false', 'f', 'no', 'n', 'off', '0') THEN FALSE
                ELSE NULL END AS flag
    FROM orders WHERE o_orderkey < 400 ORDER BY okey
    """,
)
def q48_cast_matrix(spark: SparkSession, sf_dir: str) -> SDF:
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 400)
    bool_src = sf.case_when(
        (F.col("o_orderkey") % 3 == 0, F.lit("yes")),
        (F.col("o_orderkey") % 3 == 1, F.lit("OFF")),
        else_=F.lit("garbage"),
    )
    return (
        orders.select(
            F.col("o_orderkey").alias("okey"),
            F.col("o_orderkey").cast("string").alias("okey_str"),
            F.col("o_orderdate").cast("date").alias("odate"),
            F.col("o_orderdate").cast("date").cast("string").alias("odate_str"),
            F.substring("o_orderpriority", 1, 1).cast("int").alias("pri_num"),
            F.col("o_custkey").cast("double").alias("cust_d"),
            sf.to_boolean(bool_src).alias("flag"),
        )
        .orderBy("okey")
        .df
    )


# ---------------------------------------------------------------------------
# q49 — both UDAF surfaces (SURVEY §2.5, interfaces.scala:20-126) in one
# grouped aggregation: geometric_mean is the DECLARATIVE pattern (formula
# over built-in sum/count partials → map-side partial aggregation for
# free), median_udaf the IMPERATIVE one (Arrow GROUPED_AGG pandas UDF —
# order-independent, so exact cross-engine).  The geometric mean's
# float log-sum is order-sensitive → ROUND(…, 6) per convention.
# ---------------------------------------------------------------------------
@q(
    "q49_udaf_surfaces",
    """
    SELECT l_returnflag AS flag,
           ROUND(exp(SUM(ln(l_extendedprice)) / COUNT(l_extendedprice)), 6) AS geo_mean_price,
           MEDIAN(l_quantity) AS median_qty,
           COUNT(*) AS n
    FROM lineitem GROUP BY l_returnflag ORDER BY flag
    """,
)
def q49_udaf_surfaces(spark: SparkSession, sf_dir: str) -> SDF:
    from spear_spark.functions.udaf import geometric_mean, median_udaf

    li = load_table(spark, sf_dir, "lineitem")
    med = median_udaf()
    # Spark forbids mixing a GROUPED_AGG pandas UDF with JVM aggregates
    # in one Aggregate (INVALID_PANDAS_UDF_PLACEMENT) — run the two
    # surfaces as separate aggs over the same grouping and join on the
    # (tiny) group key.  Both aggs share the scan; the join is a few rows.
    declarative = li.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.round(geometric_mean("l_extendedprice"), 6).alias("geo_mean_price"),
        F.count(F.lit(1)).alias("n"),
    )
    imperative = li.groupBy(F.col("l_returnflag").alias("flag")).agg(
        med(F.col("l_quantity")).alias("median_qty")
    )
    return (
        declarative.join(imperative, "flag")
        .select("flag", "geo_mean_price", "median_qty", "n")
        .orderBy("flag")
    )


# ---------------------------------------------------------------------------
# q50 — SQL entry through the spear dialect shim (Context.sql +
# sql_dialect.to_spark_sql): bag UNION, '^'-as-power rewrite, and a
# double-quoted SQL-2006 identifier, all in one statement.  The oracle is
# the hand-rewritten ANSI form, so this driver row certifies the shim
# itself.
# ---------------------------------------------------------------------------
_Q50_SPEAR_SQL = """
    SELECT k AS "region key", COUNT(*) AS n, CAST(MAX(2 ^ k) AS DOUBLE) AS max_pow
    FROM (
      SELECT n_regionkey AS k FROM nation
      UNION
      SELECT r_regionkey AS k FROM region
    ) t
    GROUP BY k ORDER BY k
"""


@q(
    "q50_sql_dialect",
    """
    SELECT k AS "region key", COUNT(*) AS n, CAST(MAX(power(2, k)) AS DOUBLE) AS max_pow
    FROM (
      SELECT n_regionkey AS k FROM nation
      UNION ALL
      SELECT r_regionkey AS k FROM region
    ) t
    GROUP BY k ORDER BY k
    """,
)
def q50_sql_dialect(spark: SparkSession, sf_dir: str) -> SDF:
    from spear_spark.context import Context

    register_tables(spark, sf_dir, ("nation", "region"))
    return Context(spark).sql(_Q50_SPEAR_SQL).df


# ---------------------------------------------------------------------------
# q51 — PARTITIONED RANGE frame: the scalable twin of q16 (whose global
# ordered window is deliberately a single-task semantics pin).  Trailing
# 30-minute value sum per user over event time: partitioning by user_id
# spreads the window across the cluster, and the frame is computed on
# exact integer microseconds with DECIMAL value sums — the shape real
# trailing-metric pipelines use at 100 TB.
# ---------------------------------------------------------------------------
@q(
    "q51_partitioned_range",
    """
    SELECT user_id, event_id,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER
                (PARTITION BY user_id ORDER BY epoch_us(CAST(ts AS TIMESTAMP))
                 RANGE BETWEEN 1800000000 PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS trailing_value
    FROM events ORDER BY event_id
    """,
)
def q51_partitioned_range(spark: SparkSession, sf_dir: str) -> SDF:
    ev = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-1_800_000_000, W.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.sum(D("value")).over(w).cast("double").alias("trailing_value"),
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# q29 — as-of join (custom operator: Spark lacks it for batch; composed
# from union + ordered window + last(ignorenulls), the shuffle-once
# scalable shape — no per-row subqueries).  For each error event, the most
# recent click by the same user at or before it.
# ---------------------------------------------------------------------------
@q(
    "q29_asof_last_click",
    """
    WITH err AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events WHERE event_type = 'error')
    SELECT e.event_id AS event_id, MAX(CAST(c.ts AS TIMESTAMP)) AS prev_click_ts
    FROM err e LEFT JOIN events c
      ON c.user_id = e.user_id AND c.event_type = 'click' AND CAST(c.ts AS TIMESTAMP) <= e.ts
    GROUP BY e.event_id ORDER BY event_id
    """,
)
def q29_asof_last_click(spark: SparkSession, sf_dir: str) -> SDF:
    from spear_spark.operators.asof import asof_join_last

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("ts").alias("click_ts")
    )
    errors = ev.filter(F.col("event_type") == "error").select("user_id", "ts", "event_id")
    out = asof_join_last(
        errors, clicks, on="user_id", ts="ts", value="click_ts", result="prev_click_ts"
    )
    return out.select("event_id", "prev_click_ts").orderBy("event_id")


# ---------------------------------------------------------------------------
# q52 — TPC-H Q22 shape (global-avg scalar subquery + NOT EXISTS anti
# join + aggregation; adapted: no phone column, so grouped by market
# segment): untapped segments — above-average-balance customers with no
# recent orders.  Scale: the scalar average is a 1-row DataFrame
# broadcast onto the fact scan (no second scan at the consumer, no
# driver round-trip); the NOT EXISTS is a left_anti hash join on
# custkey.  Reference: SubqueryParser EXISTS/scalar-subquery grammar
# (spear-core parsers), here composed from first-class plans.
# ---------------------------------------------------------------------------
@q(
    "q52_untapped_segments",
    """
    WITH thr AS (
      SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_bal
      FROM customer WHERE c_acctbal > 0.0)
    SELECT c_mktsegment AS segment,
           COUNT(*) AS n_cust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal
    FROM customer, thr
    WHERE c_acctbal > thr.avg_bal
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '2001-01-01')
    GROUP BY c_mktsegment
    ORDER BY segment
    """,
)
def q52_untapped_segments(spark: SparkSession, sf_dir: str) -> SDF:
    cust = load_table(spark, sf_dir, "customer")
    thr = (
        cust.filter(F.col("c_acctbal") > 0.0)
        .agg((dsum(D("c_acctbal")) / F.count(F.lit(1))).alias("avg_bal"))
    )
    recent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp")
    )
    return (
        cust.crossJoin(F.broadcast(thr))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            dsum(D("c_acctbal")).alias("total_bal"),
        )
        .orderBy("segment")
    )


# ---------------------------------------------------------------------------
# q53 — gap-filled hourly rollup (the hypertable/time_bucket_gapfill
# shape): a dense hour × event_type grid with zero-filled gaps, built
# from sequence() + explode over the observed bounds.  Scale: the grid
# is hours × types (tiny — thousands of rows per year) built from a
# 1-row min/max aggregate, then LEFT-joined by the aggregated facts;
# the 100 TB side is collapsed by a partial agg before the join, and
# the grid side broadcasts.
# ---------------------------------------------------------------------------
@q(
    "q53_gapfill_hourly",
    """
    WITH e AS (SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h, event_type, value
               FROM events),
    agg AS (SELECT h, event_type, COUNT(*) AS n,
                   CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sv
            FROM e GROUP BY h, event_type),
    bounds AS (SELECT MIN(h) AS mn, MAX(h) AS mx FROM e),
    grid AS (SELECT unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS h FROM bounds),
    types AS (SELECT DISTINCT event_type FROM events)
    SELECT g.h AS hour, t.event_type AS event_type,
           COALESCE(a.n, 0) AS n_events,
           COALESCE(a.sv, 0.0) AS sum_value
    FROM grid g CROSS JOIN types t
    LEFT JOIN agg a ON a.h = g.h AND a.event_type = t.event_type
    ORDER BY hour, event_type
    """,
)
def q53_gapfill_hourly(spark: SparkSession, sf_dir: str) -> SDF:
    ev = load_table(spark, sf_dir, "events").select(
        F.date_trunc("hour", "ts").alias("h"), "event_type", "value"
    )
    agg = ev.groupBy("h", "event_type").agg(
        F.count(F.lit(1)).alias("n"), dsum(D("value")).alias("sv")
    )
    grid = (
        ev.agg(F.min("h").alias("mn"), F.max("h").alias("mx"))
        .select(
            F.explode(F.sequence("mn", "mx", F.expr("INTERVAL 1 HOUR"))).alias("hour")
        )
        .crossJoin(ev.select("event_type").distinct())
    )
    return (
        grid.join(
            agg,
            (agg["h"] == grid["hour"]) & (agg["event_type"] == grid["event_type"]),
            "left",
        )
        .select(
            grid["hour"],
            grid["event_type"],
            F.coalesce(agg["n"], F.lit(0)).alias("n_events"),
            F.coalesce(agg["sv"], F.lit(0.0)).alias("sum_value"),
        )
        .orderBy("hour", "event_type")
    )


# ---------------------------------------------------------------------------
# q54 — TPC-H Q4 shape (correlated EXISTS with date arithmetic): count
# orders per priority having at least one line shipped > 60 days after
# the order date.  Scale: Catalyst decorrelates the EXISTS into a
# left-semi hash join on orderkey; the date condition evaluates at the
# join, not per-row-subquery.
# ---------------------------------------------------------------------------
_Q54_SQL = """
    SELECT o_orderpriority AS priority, COUNT(*) AS n_orders
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    ORDER BY priority
    """


@q("q54_priority_check", _Q54_SQL)
def q54_priority_check(spark: SparkSession, sf_dir: str) -> SDF:
    register_tables(spark, sf_dir, ("orders", "lineitem"))
    return spark.sql(_Q54_SQL)


# ---------------------------------------------------------------------------
# q55 — TPC-H Q14 shape (conditional aggregation over a fact-dim join):
# promo revenue share in one month.  Scale: part broadcasts; the two
# sums come from one pass (CASE inside SUM), two-phase aggregated.
# ---------------------------------------------------------------------------
@q(
    "q55_promo_revenue",
    """
    SELECT CAST(100.00 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                 THEN CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))
                 ELSE CAST(0 AS DECIMAL(14,4)) END) AS DOUBLE)
           / CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS DOUBLE)
      AS promo_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1998-01-01' AND l_shipdate < TIMESTAMP '1998-02-01'
    """,
)
def q55_promo_revenue(spark: SparkSession, sf_dir: str) -> SDF:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-02-01").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    disc_price = D("l_extendedprice") * (one() - D("l_discount", 3, 2))
    promo = F.when(F.col("p_type") == "PROMO", disc_price).otherwise(
        F.lit(0).cast("decimal(14,4)")
    )
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            (F.lit(100.0) * F.sum(promo).cast("double") / F.sum(disc_price).cast("double"))
            .cast("double")
            .alias("promo_pct")
        )
    )


# ---------------------------------------------------------------------------
# q56 — TPC-H Q19 shape (disjunctive multi-clause join predicate):
# revenue from three OR'd brand/size/quantity clauses.  Scale: the
# common l_partkey = p_partkey conjunct stays a hash join key with the
# OR residual as the join filter — NOT a cartesian; the quantity/size
# bounds push into both scans.
# ---------------------------------------------------------------------------
_Q56_SQL = """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#15' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)
    """


@q("q56_disjunctive_join", _Q56_SQL)
def q56_disjunctive_join(spark: SparkSession, sf_dir: str) -> SDF:
    register_tables(spark, sf_dir, ("lineitem", "part"))
    return spark.sql(_Q56_SQL)


# ---------------------------------------------------------------------------
# q57 — TPC-H Q12 shape (two-bucket conditional counts; adapted: no
# shipmode/receipt columns, so buckets = slow vs fast ship lag): per
# returnflag, how many high- vs low-priority orders shipped late.
# Scale: one join orders⋈lineitem (shuffle SMJ at scale), CASE counts
# fold into the two-phase aggregate.
# ---------------------------------------------------------------------------
@q(
    "q57_ship_lag_buckets",
    """
    SELECT l_returnflag AS returnflag,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
    GROUP BY l_returnflag ORDER BY returnflag
    """,
)
def q57_ship_lag_buckets(spark: SparkSession, sf_dir: str) -> SDF:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_shipdate"
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        orders.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAY"))
        .groupBy(F.col("l_returnflag").alias("returnflag"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("returnflag")
    )


# ---------------------------------------------------------------------------
# q58 — round-3 dialect extensions through the spear SQL entry, one
# statement exercising every new shim rewrite: bare INTERSECT (multiset,
# basicOperators.scala:61-70), multi-valued simple CASE
# (CaseWhenParser simple-when-clause), adjacent string literals
# (SQL-2006 §5.3), a U&"..." Unicode identifier (IdentifierParser), and
# named-window inheritance (WINDOW w1 AS (w0 ...)).  The oracle is the
# hand-rewritten ANSI form, so this driver row certifies the rewrites
# themselves.  nation has 5 rows per region key and region 1, so the
# multiset INTERSECT keeps exactly min(5, 1) = 1 row per key.
# ---------------------------------------------------------------------------
_Q58_SPEAR_SQL = """
    WITH both_keys AS (
      SELECT n_regionkey AS k FROM nation
      INTERSECT
      SELECT r_regionkey AS k FROM region
    )
    SELECT k AS U&"\\006b\\0065\\0079",
           CASE k WHEN 0, 1 THEN 'low' WHEN 2, 3 THEN 'mid' ELSE 'high' END AS band,
           'region' ' ' 'bucket' AS tag,
           COUNT(*) OVER w1 AS cnt_below
    FROM both_keys
    WINDOW w0 AS (ORDER BY k), w1 AS (w0 ROWS UNBOUNDED PRECEDING)
    ORDER BY U&"\\006b\\0065\\0079"
"""


@q(
    "q58_dialect_extensions",
    """
    WITH both_keys AS (
      SELECT n_regionkey AS k FROM nation
      INTERSECT ALL
      SELECT r_regionkey AS k FROM region
    )
    SELECT k AS "key",
           CASE WHEN k IN (0, 1) THEN 'low' WHEN k IN (2, 3) THEN 'mid' ELSE 'high' END AS band,
           'region bucket' AS tag,
           COUNT(*) OVER (ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cnt_below
    FROM both_keys
    ORDER BY "key"
    """,
)
def q58_dialect_extensions(spark: SparkSession, sf_dir: str) -> SDF:
    from spear_spark.context import Context

    register_tables(spark, sf_dir, ("nation", "region"))
    return Context(spark).sql(_Q58_SPEAR_SQL).df


# ---------------------------------------------------------------------------
# q59 — TPC-H Q5 shape (local supplier volume): 6-way join where the
# customer and the supplier must share a nation.  Scale: region/nation/
# supplier/customer are dims (broadcast); orders ⋈ lineitem is the one
# big shuffle on orderkey; the c_nationkey = s_nationkey residual rides
# the supplier join.
# ---------------------------------------------------------------------------
@q(
    "q59_local_supplier_volume",
    """
    SELECT n_name AS nation,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
               * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE)
        AS revenue
    FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC, nation
    """,
)
def q59_local_supplier_volume(spark: SparkSession, sf_dir: str) -> SDF:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    joined = (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            supp,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(nat, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(reg, F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return (
        joined.groupBy("n_name")
        .agg(dsum(D("l_extendedprice") * (one() - D("l_discount", 3, 2))).alias("revenue"))
        .df.select(F.col("n_name").alias("nation"), "revenue")
        .orderBy(F.col("revenue").desc(), "nation")
    )


# ---------------------------------------------------------------------------
# q60 — TPC-H Q7 shape (volume shipping between two nations, both
# directions, by ship year).  Scale: both nation-filtered dim chains
# broadcast; the fact-side shuffle is orders ⋈ lineitem only.
# ---------------------------------------------------------------------------
@q(
    "q60_volume_shipping",
    """
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      CAST(year(l_shipdate) AS INTEGER) AS l_year,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
               * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE)
        AS revenue
    FROM supplier
      JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_12' AND n2.n_name = 'NATION_11')
        OR (n1.n_name = 'NATION_11' AND n2.n_name = 'NATION_12'))
      AND l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY n1.n_name, n2.n_name, year(l_shipdate)
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def q60_volume_shipping(spark: SparkSession, sf_dir: str) -> SDF:
    supp = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    joined = (
        supp.join(li, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .join(n1, F.col("s_nationkey") == F.col("n1_key"))
        .join(n2, F.col("c_nationkey") == F.col("n2_key"))
        .filter(
            ((F.col("supp_nation") == "NATION_12") & (F.col("cust_nation") == "NATION_11"))
            | ((F.col("supp_nation") == "NATION_11") & (F.col("cust_nation") == "NATION_12"))
        )
        .withColumn("l_year", F.year("l_shipdate").cast("int"))
    )
    return (
        joined.groupBy("supp_nation", "cust_nation", "l_year")
        .agg(dsum(D("l_extendedprice") * (one() - D("l_discount", 3, 2))).alias("revenue"))
        .df.orderBy("supp_nation", "cust_nation", "l_year")
    )


# ---------------------------------------------------------------------------
# q61 — TPC-H Q8 shape (market share): one nation's fraction of a
# region's PROMO revenue per order year — a ratio of two conditional
# decimal sums, divided once in double.  Scale: the CASE rides the
# aggregate (no second pass); all dims broadcast.
# ---------------------------------------------------------------------------
@q(
    "q61_market_share",
    """
    SELECT o_year,
      ROUND(CAST(nation_rev AS DOUBLE) / CAST(total_rev AS DOUBLE), 6) AS mkt_share
    FROM (
      SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
        SUM(CASE WHEN n2.n_name = 'NATION_6'
                 THEN CAST(l_extendedprice AS DECIMAL(12,2))
                      * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))
                 ELSE CAST(0 AS DECIMAL(12,2)) END) AS nation_rev,
        SUM(CAST(l_extendedprice AS DECIMAL(12,2))
            * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS total_rev
      FROM part
        JOIN lineitem ON p_partkey = l_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN region ON n1.n_regionkey = r_regionkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'AMERICA' AND p_type = 'PROMO'
        AND o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate < TIMESTAMP '1998-01-01'
      GROUP BY year(o_orderdate)) t
    ORDER BY o_year
    """,
)
def q61_market_share(spark: SparkSession, sf_dir: str) -> SDF:
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    cust = _t(spark, sf_dir, "customer")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_rkey")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nat")
    )
    reg = _t(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    joined = (
        part.join(li, F.col("p_partkey") == F.col("l_partkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(n1, F.col("c_nationkey") == F.col("n1_key"))
        .join(reg, F.col("n1_rkey") == F.col("r_regionkey"))
        .join(n2, F.col("s_nationkey") == F.col("n2_key"))
        .withColumn("o_year", F.year("o_orderdate").cast("int"))
    )
    vol = D("l_extendedprice") * (one() - D("l_discount", 3, 2))
    zero = F.lit(0).cast("decimal(12,2)")
    agged = joined.groupBy("o_year").agg(
        F.sum(F.when(F.col("supp_nat") == "NATION_6", vol).otherwise(zero)).alias(
            "nation_rev"
        ),
        F.sum(vol).alias("total_rev"),
    )
    return agged.df.select(
        "o_year",
        F.round(
            F.col("nation_rev").cast("double") / F.col("total_rev").cast("double"), 6
        ).alias("mkt_share"),
    ).orderBy("o_year")


# ---------------------------------------------------------------------------
# q62 — TPC-H Q10 shape (returned-item reporting): top 20 customers by
# revenue lost to returns in a quarter.  Scale: orders date filter
# pushes to the scan; nation broadcasts; top-k is
# TakeOrderedAndProject (per-partition heaps, no full sort).
# ---------------------------------------------------------------------------
@q(
    "q62_returned_items",
    """
    SELECT c_custkey AS custkey, c_name AS name,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
               * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE)
        AS revenue,
      CAST(c_acctbal AS DOUBLE) AS acctbal, n_name AS nation
    FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN nation ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1996-04-01'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, custkey
    LIMIT 20
    """,
)
def q62_returned_items(spark: SparkSession, sf_dir: str) -> SDF:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nat = _t(spark, sf_dir, "nation")
    joined = (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(nat, F.col("c_nationkey") == F.col("n_nationkey"))
    )
    return (
        joined.groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(dsum(D("l_extendedprice") * (one() - D("l_discount", 3, 2))).alias("revenue"))
        .df.select(
            F.col("c_custkey").alias("custkey"),
            F.col("c_name").alias("name"),
            "revenue",
            F.col("c_acctbal").cast("double").alias("acctbal"),
            F.col("n_name").alias("nation"),
        )
        .orderBy(F.col("revenue").desc(), "custkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# q63 — TPC-H Q9 shape (product-type profit): nation × order-year profit
# for parts matching a name token, profit = revenue − cost.  The testdata
# has no partsupp table, so supply cost is proxied as 1% of
# p_retailprice × quantity (exact decimal arithmetic end-to-end).
# Scale: part name filter prunes the part side before the fact join;
# part/supplier/nation broadcast; the only big shuffle is
# lineitem ⋈ orders on orderkey.
# ---------------------------------------------------------------------------
@q(
    "q63_product_profit",
    """
    SELECT n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS o_year,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                 * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))
               - CAST(p_retailprice AS DECIMAL(12,2))
                 * CAST(l_quantity AS DECIMAL(12,2))
                 * CAST(0.01 AS DECIMAL(3,2))) AS DOUBLE) AS profit
    FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN orders ON l_orderkey = o_orderkey
      JOIN nation ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%gear%'
    GROUP BY n_name, year(o_orderdate)
    ORDER BY nation, o_year DESC
    """,
)
def q63_product_profit(spark: SparkSession, sf_dir: str) -> SDF:
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%gear%"))
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders")
    nat = _t(spark, sf_dir, "nation")
    rev = D("l_extendedprice") * (one() - D("l_discount", 3, 2))
    cost = D("p_retailprice") * D("l_quantity") * F.lit(0.01).cast("decimal(3,2)")
    joined = (
        part.join(li, F.col("p_partkey") == F.col("l_partkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(nat, F.col("s_nationkey") == F.col("n_nationkey"))
        .withColumn("o_year", F.year("o_orderdate").cast("int"))
    )
    return (
        joined.groupBy(F.col("n_name").alias("nation"), F.col("o_year"))
        .agg(dsum(rev - cost).alias("profit"))
        .df.orderBy("nation", F.col("o_year").desc())
    )


# ---------------------------------------------------------------------------
# q64 — TPC-H Q11 shape (important stock): parts whose inventory value
# held by one nation's suppliers exceeds a fixed fraction of that
# nation's total — a scalar aggregate subquery in HAVING.  No partsupp
# table, so value is proxied as Σ extendedprice × quantity.
# Scale: the per-part aggregate is one shuffle; the global threshold is
# a 1-row aggregate of the SAME staged result (lazy localCheckpoint so
# the base aggregate computes once), broadcast into the filter —
# no second scan, no driver round-trip.  Threshold arithmetic is kept
# exact by capping the decimal widths (Spark and DuckDB both hit
# precision-38 truncation rules if SUM(dec25) is multiplied directly).
# ---------------------------------------------------------------------------
@q(
    "q64_important_stock",
    """
    WITH vals AS (
      SELECT l_partkey,
        SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS v
      FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
      WHERE n_name = 'NATION_3'
      GROUP BY l_partkey)
    SELECT l_partkey AS partkey, CAST(v AS DOUBLE) AS value
    FROM vals
    WHERE v > (SELECT CAST(SUM(v) AS DECIMAL(18,4)) * CAST(0.002 AS DECIMAL(6,4)) FROM vals)
    ORDER BY value DESC, partkey
    """,
)
def q64_important_stock(spark: SparkSession, sf_dir: str) -> SDF:
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    vals = stage(
        li.join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(nat, F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("l_partkey")
        .agg(F.sum(D("l_extendedprice") * D("l_quantity")).alias("v"))
        .df
    )
    threshold = vals.agg(
        (
            F.sum("v").cast("decimal(18,4)") * F.lit(0.002).cast("decimal(6,4)")
        ).alias("thr")
    )
    return (
        vals.crossJoin(F.broadcast(threshold))
        .filter(F.col("v") > F.col("thr"))
        .select(
            F.col("l_partkey").alias("partkey"),
            F.col("v").cast("double").alias("value"),
        )
        .orderBy(F.col("value").desc(), "partkey")
    )


# ---------------------------------------------------------------------------
# q65 — TPC-H Q16 shape (supplier-part relationship): distinct supplier
# counts per (brand, type, size) bucket, excluding a NOT-IN supplier
# denylist (suppliers with negative balance stand in for the spec's
# complaint-comment scan; the testdata has no comment columns).
# Scale: the denylist is a tiny broadcast anti join; count(DISTINCT)
# is a two-shuffle expand-aggregate; part attributes ride the
# broadcast part join.
# ---------------------------------------------------------------------------
@q(
    "q65_parts_supplier_relationship",
    """
    SELECT p_brand AS brand, p_type AS type, p_size AS size,
      COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#4' AND p_type <> 'PROMO'
      AND p_size IN (1,9,14,19,23,36,45,49)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, brand, type, size
    """,
)
def q65_parts_supplier_relationship(spark: SparkSession, sf_dir: str) -> SDF:
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#4")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49)
    )
    denylist = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).df.select("s_suppkey")
    return (
        li.join(part, F.col("p_partkey") == F.col("l_partkey"))
        .df.join(
            F.broadcast(denylist),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.col("p_type").alias("type"),
            F.col("p_size").alias("size"),
        )
        .agg(F.count_distinct(F.col("l_suppkey")).alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "brand", "type", "size")
    )


# ---------------------------------------------------------------------------
# q66 — TPC-H Q20 shape (potential part promotion): suppliers in a
# nation set who shipped more than a threshold quantity of any one
# 'small%' part in 1996 — an IN subquery over a grouped HAVING.
# (The spec compares partsupp availqty to half the shipped volume; with
# no partsupp table the grouped-shipment threshold keeps the same
# semi-join-over-aggregate shape.)  Scale: the aggregate shuffles on
# (suppkey, partkey); the surviving supplier set is tiny → broadcast
# LeftSemi into the dim-side supplier ⋈ nation.
# ---------------------------------------------------------------------------
@q(
    "q66_part_promotion",
    """
    SELECT s_name AS name, n_name AS nation
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name IN ('NATION_1','NATION_5','NATION_9')
      AND s_suppkey IN (
        SELECT l_suppkey FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_name LIKE 'small%'
          AND l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
        GROUP BY l_suppkey, l_partkey
        HAVING SUM(l_quantity) > 45)
    ORDER BY name
    """,
)
def q66_part_promotion(spark: SparkSession, sf_dir: str) -> SDF:
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_5", "NATION_9")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").like("small%"))
    heavy_shippers = (
        li.join(part, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 45)
        .df.select("l_suppkey")
        .distinct()
    )
    return (
        supp.join(nat, F.col("s_nationkey") == F.col("n_nationkey"))
        .df.join(
            F.broadcast(heavy_shippers),
            F.col("s_suppkey") == F.col("l_suppkey"),
            "left_semi",
        )
        .select(F.col("s_name").alias("name"), F.col("n_name").alias("nation"))
        .orderBy("name")
    )

# ---------------------------------------------------------------------------
# q67 — explicit GROUPING SETS + GROUPING() markers (the general form
# behind q26 rollup / q39 cube; spear's UnresolvedAggregate grouping
# extension, Aggregate in LogicalPlan.scala:344-357).  Scale: Spark
# plans one Expand (3× row multiply) + one two-phase aggregate — the
# multiply happens map-side before the partial agg collapses it, so
# the shuffle still carries only group rows.
# ---------------------------------------------------------------------------
@q(
    "q67_grouping_sets",
    """
    SELECT o_orderstatus AS status, o_orderpriority AS priority,
           CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
           CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_priority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    ORDER BY g_status, g_priority, status, priority
    """,
)
def q67_grouping_sets(spark: SparkSession, sf_dir: str) -> SDF:
    orders = _t(spark, sf_dir, "orders").df
    return (
        orders.groupingSets(
            [["o_orderstatus"], ["o_orderpriority"], []],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            F.grouping("o_orderstatus").cast("int").alias("g_status"),
            F.grouping("o_orderpriority").cast("int").alias("g_priority"),
            F.count(F.lit(1)).alias("n_orders"),
            dsum(D("o_totalprice")).alias("total"),
        )
        .select(
            F.col("o_orderstatus").alias("status"),
            F.col("o_orderpriority").alias("priority"),
            "g_status",
            "g_priority",
            "n_orders",
            "total",
        )
        .orderBy("g_status", "g_priority", "status", "priority")
    )


# ---------------------------------------------------------------------------
# q68 — LATERAL correlated subquery join (SQL-2011 LATERAL; a dialect
# extension — the reference grammar has table subqueries but no
# LATERAL).  Top-2 customers per nation via a correlated ordered-LIMIT
# subquery.  Scale: Spark decorrelates this into a ranked join — for
# very large "per-row top-k" the window form (q15) is the plan to
# prefer; this entry pins the LATERAL surface itself.
# ---------------------------------------------------------------------------
_Q68_SQL = """
    SELECT n_name AS nation, t.custkey, t.acctbal
    FROM nation JOIN LATERAL (
      SELECT c_custkey AS custkey, c_acctbal AS acctbal
      FROM customer
      WHERE c_nationkey = n_nationkey
      ORDER BY c_acctbal DESC, c_custkey
      LIMIT 2) t {on}
    ORDER BY nation, acctbal DESC, custkey
"""


@q("q68_lateral_topn", _Q68_SQL.format(on="ON true"))
def q68_lateral_topn(spark: SparkSession, sf_dir: str) -> SDF:
    register_tables(spark, sf_dir, ("nation", "customer"))
    return spark.sql(_Q68_SQL.format(on=""))  # Spark's JOIN LATERAL takes no ON


# ---------------------------------------------------------------------------
# q69 — UNPIVOT / melt (wide → long; the inverse of q27's pivot).
# DataFrame ``unpivot`` is Spark-native (TungstenExpand, one pass, no
# shuffle beyond the feeding aggregate); the oracle states the same
# relation as the textbook UNION ALL.
# ---------------------------------------------------------------------------
@q(
    "q69_unpivot",
    """
    WITH s AS (SELECT l_returnflag AS flag,
        CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
      FROM lineitem GROUP BY l_returnflag)
    SELECT flag, 'sum_qty' AS metric, sum_qty AS val FROM s
    UNION ALL
    SELECT flag, 'sum_price' AS metric, sum_price AS val FROM s
    ORDER BY flag, metric
    """,
)
def q69_unpivot(spark: SparkSession, sf_dir: str) -> SDF:
    li = _t(spark, sf_dir, "lineitem")
    wide = (
        li.groupBy(F.col("l_returnflag").alias("flag"))
        .agg(
            dsum(D("l_quantity")).alias("sum_qty"),
            dsum(D("l_extendedprice")).alias("sum_price"),
        )
        .df
    )
    return wide.unpivot(["flag"], ["sum_qty", "sum_price"], "metric", "val").orderBy(
        "flag", "metric"
    )


# ---------------------------------------------------------------------------
# q70 — QUALIFY window filtering (Snowflake/DuckDB-style; dialect
# extension rewritten by sql_dialect._rewrite_qualify into the triple
# wrap Spark accepts).  The SAME statement text runs natively on
# DuckDB as the oracle — grammar parity demonstrated, not asserted.
# Scale: the rewrite keeps the window inside one stage; filtering on
# rank is the standard top-k-per-group shuffle.
# ---------------------------------------------------------------------------
_Q70_SQL = """
    SELECT o_custkey AS custkey, o_orderkey AS orderkey,
           CAST(o_totalprice AS DOUBLE) AS totalprice,
           CAST(row_number() OVER (PARTITION BY o_custkey
                ORDER BY CAST(o_totalprice AS DECIMAL(12,2)) DESC, o_orderkey)
             AS INTEGER) AS rn
    FROM orders
    WHERE o_custkey <= 200
    QUALIFY rn <= 2
    ORDER BY custkey, rn, orderkey
"""


@q("q70_qualify", _Q70_SQL)
def q70_qualify(spark: SparkSession, sf_dir: str) -> SDF:
    from spear_spark.context import Context

    register_tables(spark, sf_dir, ("orders",))
    return Context(spark).sql(_Q70_SQL).df


# ---------------------------------------------------------------------------
# q71 — ordered string aggregation: SQL-2016 LISTAGG ... WITHIN GROUP
# (Spark 4 native) vs DuckDB string_agg with ORDER BY.  DISTINCT +
# explicit order makes the result deterministic across engines and
# partitionings — the only safe way to emit concatenated groups at
# scale.
# ---------------------------------------------------------------------------
@q(
    "q71_listagg",
    """
    SELECT o_orderstatus AS status,
           string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority)
             AS priorities,
           COUNT(*) AS n_orders
    FROM orders GROUP BY o_orderstatus ORDER BY status
    """,
)
def q71_listagg(spark: SparkSession, sf_dir: str) -> SDF:
    register_tables(spark, sf_dir, ("orders",))
    return spark.sql(
        """
        SELECT o_orderstatus AS status,
               listagg(DISTINCT o_orderpriority, ',')
                 WITHIN GROUP (ORDER BY o_orderpriority) AS priorities,
               COUNT(*) AS n_orders
        FROM orders GROUP BY o_orderstatus ORDER BY status
        """
    )


# ---------------------------------------------------------------------------
# q72 — WITH RECURSIVE (SQL-1999 recursive query; Spark 4 native).  The
# reference's CTE support (`WITH`, QueryExpressionParser) is
# non-recursive — this is the dialect extension completing it.  A
# binary-heap parent tree derived from nation keys is walked from the
# root, yielding (key, depth) — the same statement text runs on DuckDB.
# FLOOR before CAST: DuckDB CAST(double AS BIGINT) rounds half-to-even
# while Spark truncates, so the parent arithmetic must floor explicitly.
# Scale: each recursion step is one self-join on the frontier — Spark
# plans it as an iterative union with the loop bounded by data depth
# (log n for this tree), the same shape iterative label-propagation
# (dedup.connected_components) uses.
# ---------------------------------------------------------------------------
_Q72_SQL = """
    WITH RECURSIVE chain(key, depth) AS (
      SELECT n_nationkey AS key, 0 AS depth FROM nation WHERE n_nationkey = 0
      UNION ALL
      SELECT n.n_nationkey, c.depth + 1
      FROM nation n JOIN chain c
        ON CAST(FLOOR((n.n_nationkey - 1) / 2.0) AS BIGINT) = c.key
      WHERE n.n_nationkey > 0)
    SELECT key, depth, CAST(COUNT(*) OVER (PARTITION BY depth) AS BIGINT)
             AS level_width
    FROM chain ORDER BY depth, key
"""


@q("q72_recursive_cte", _Q72_SQL)
def q72_recursive_cte(spark: SparkSession, sf_dir: str) -> SDF:
    register_tables(spark, sf_dir, ("nation",))
    return spark.sql(_Q72_SQL)


# ---------------------------------------------------------------------------
# q73 — array higher-order functions as a user surface (transform /
# filter / exists / aggregate / sort over the token array; spear's
# complex-type constructors are q35 — this exercises the *lambda*
# library on real data).  Engine-specific lambda syntax → DataFrame API
# on the Spark side, list_* functions in the oracle.  Scale: pure
# projection, no shuffle except the output sort; HOFs evaluate
# per-row JVM-side.
# ---------------------------------------------------------------------------
@q(
    "q73_array_functions",
    r"""
    WITH t AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
               FROM documents)
    SELECT doc_id,
           len(list_filter(toks, x -> strlen(x) > 4)) AS n_long,
           CAST(list_sum(list_transform(toks, x -> strlen(x))) AS BIGINT) AS total_len,
           list_contains(toks, 'the') AS has_the,
           array_to_string(list_sort(list_distinct(toks))[1:3], '|') AS first3
    FROM t ORDER BY doc_id
    """,
)
def q73_array_functions(spark: SparkSession, sf_dir: str) -> SDF:
    from spear_spark.operators.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    return (
        docs.select(
            "doc_id",
            F.size(F.filter(toks, lambda x: F.length(x) > 4)).cast("long").alias("n_long"),
            F.aggregate(
                F.transform(toks, lambda x: F.length(x).cast("long")),
                F.lit(0).cast("long"),
                lambda acc, e: acc + e,
            ).alias("total_len"),
            F.array_contains(toks, "the").alias("has_the"),
            # '|'-joined instead of raw array: the driver canonicalizer
            # cannot hash list cells (r4's one red-row cause)
            F.concat_ws(
                "|", F.slice(F.array_sort(F.array_distinct(toks)), 1, 3)
            ).alias("first3"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# q74 — SQL-2016 statistical + bitwise aggregate library per group:
# stddev_samp / var_samp / corr / covar_samp / regr_slope /
# regr_intercept (rounded — unordered FP sums) and bit_and / bit_or /
# bit_xor (integer-exact).  Skewness/kurtosis are deliberately absent:
# Spark computes population g-statistics, DuckDB sample G-statistics —
# a genuine engine divergence, documented here rather than papered
# over.  Scale: all are mergeable one-pass aggregates (two-phase with
# map-side partials).
# ---------------------------------------------------------------------------
@q(
    "q74_stats_aggregates",
    """
    SELECT o_orderpriority AS priority,
           ROUND(stddev_samp(o_totalprice), 4) AS sd_price,
           ROUND(var_samp(o_totalprice), 4) AS var_price,
           ROUND(corr(o_totalprice, CAST(o_custkey AS DOUBLE)), 6) AS corr_pc,
           ROUND(covar_samp(o_totalprice, CAST(o_custkey AS DOUBLE)), 4) AS cov_pc,
           ROUND(regr_slope(o_totalprice, CAST(o_custkey AS DOUBLE)), 6) AS slope,
           ROUND(regr_intercept(o_totalprice, CAST(o_custkey AS DOUBLE)), 4)
             AS intercept,
           bit_and(o_orderkey) AS band, bit_or(o_orderkey) AS bor,
           bit_xor(o_orderkey) AS bxor
    FROM orders GROUP BY o_orderpriority ORDER BY priority
    """,
)
def q74_stats_aggregates(spark: SparkSession, sf_dir: str) -> SDF:
    orders = load_table(spark, sf_dir, "orders")
    ck = F.col("o_custkey").cast("double")
    price = F.col("o_totalprice")
    return (
        orders.groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.round(F.stddev_samp(price), 4).alias("sd_price"),
            F.round(F.var_samp(price), 4).alias("var_price"),
            F.round(F.corr(price, ck), 6).alias("corr_pc"),
            F.round(F.covar_samp(price, ck), 4).alias("cov_pc"),
            F.round(F.regr_slope(price, ck), 6).alias("slope"),
            F.round(F.regr_intercept(price, ck), 4).alias("intercept"),
            F.bit_and(F.col("o_orderkey")).alias("band"),
            F.bit_or(F.col("o_orderkey")).alias("bor"),
            F.bit_xor(F.col("o_orderkey")).alias("bxor"),
        )
        .orderBy("priority")
    )


# ---------------------------------------------------------------------------
# q75 — temporal function library (the reference's TIME/TIMESTAMP type
# surface, SURVEY §1.2, exercised as functions): extraction, ISO
# day-of-week/week, truncation, month-end, date arithmetic, epoch
# days, formatting.  Engine deltas pinned by casts: Spark extraction
# returns INT where DuckDB returns BIGINT, and Spark date_trunc
# returns TIMESTAMP where DuckDB's week-grain returns DATE; Spark
# weekday (0=Mon) maps to ISO dow as weekday+1.  Scale: pure
# projection over the scan + output sort.
# ---------------------------------------------------------------------------
@q(
    "q75_datetime_functions",
    """
    SELECT event_id,
           CAST(year(ts) AS INTEGER) AS y, CAST(quarter(ts) AS INTEGER) AS q,
           CAST(month(ts) AS INTEGER) AS mo, CAST(day(ts) AS INTEGER) AS d,
           CAST(hour(ts) AS INTEGER) AS h,
           CAST(isodow(ts) AS INTEGER) AS dow,
           CAST(week(ts) AS INTEGER) AS wk,
           CAST(date_trunc('week', ts) AS DATE) AS week_start,
           last_day(CAST(ts AS DATE)) AS month_end,
           CAST(ts AS DATE) + 30 AS plus30,
           CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS INTEGER)
             AS days_since_ny,
           CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS INTEGER)
             AS epoch_days,
           strftime(ts, '%Y-%m') AS ym
    FROM events WHERE event_type = 'purchase' ORDER BY event_id
    """,
)
def q75_datetime_functions(spark: SparkSession, sf_dir: str) -> SDF:
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    d = F.to_date("ts")
    return ev.select(
        "event_id",
        F.year("ts").alias("y"), F.quarter("ts").alias("q"),
        F.month("ts").alias("mo"), F.dayofmonth("ts").alias("d"),
        F.hour("ts").alias("h"),
        (F.weekday("ts") + 1).alias("dow"),
        F.weekofyear("ts").alias("wk"),
        F.date_trunc("week", F.col("ts")).cast("date").alias("week_start"),
        F.last_day(d).alias("month_end"),
        F.date_add(d, 30).alias("plus30"),
        F.datediff(d, F.lit("2024-01-01").cast("date")).alias("days_since_ny"),
        F.unix_date(d).alias("epoch_days"),
        F.date_format("ts", "yyyy-MM").alias("ym"),
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# q76 — UNION ALL BY NAME: schema-aligned bag union of relations whose
# column ORDER differs and whose column SETS differ (missing columns
# null-fill) — Spark's unionByName(allowMissingColumns=True), DuckDB's
# UNION ALL BY NAME.  The positional-union pitfall this avoids is the
# reference's bare-UNION semantics (q10); this is the ingestion-side
# variant for heterogeneous shards.  Scale: pure concatenation — no
# shuffle beyond the output sort.
# ---------------------------------------------------------------------------
@q(
    "q76_union_by_name",
    """
    SELECT custkey, name, acctbal, mktsegment FROM (
      SELECT c_custkey AS custkey, c_name AS name, c_acctbal AS acctbal
      FROM customer WHERE c_mktsegment = 'BUILDING'
      UNION ALL BY NAME
      SELECT c_mktsegment AS mktsegment, c_acctbal AS acctbal,
             c_name AS name, c_custkey AS custkey
      FROM customer WHERE c_mktsegment = 'MACHINERY')
    ORDER BY custkey, mktsegment NULLS FIRST
    """,
)
def q76_union_by_name(spark: SparkSession, sf_dir: str) -> SDF:
    cust = load_table(spark, sf_dir, "customer")
    left = cust.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_name").alias("name"),
        F.col("c_acctbal").alias("acctbal"),
    )
    right = cust.filter(F.col("c_mktsegment") == "MACHINERY").select(
        F.col("c_mktsegment").alias("mktsegment"),
        F.col("c_acctbal").alias("acctbal"),
        F.col("c_name").alias("name"),
        F.col("c_custkey").alias("custkey"),
    )
    return (
        left.unionByName(right, allowMissingColumns=True)
        .select("custkey", "name", "acctbal", "mktsegment")
        .orderBy("custkey", F.col("mktsegment").asc_nulls_first())
    )


# ---------------------------------------------------------------------------
# q77 — GROUP BY ALL / ORDER BY ALL (SQL-2023-adjacent shorthand both
# Spark 4 and DuckDB implement): grouping keys inferred as every
# non-aggregate select item, ordering over the full select list.  The
# SAME statement text runs on both engines — grammar parity shown, not
# asserted.  Scale: identical plan to the explicit q01-family
# aggregate (two-phase, pushdown); the shorthand is purely syntactic.
# ---------------------------------------------------------------------------
_Q77_SQL = """
    SELECT l_returnflag AS flag, l_linestatus AS status,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
           COUNT(*) AS n
    FROM lineitem
    WHERE l_shipdate > TIMESTAMP '1998-06-01'
    GROUP BY ALL ORDER BY ALL
"""


@q("q77_group_by_all", _Q77_SQL)
def q77_group_by_all(spark: SparkSession, sf_dir: str) -> SDF:
    register_tables(spark, sf_dir, ("lineitem",))
    return spark.sql(_Q77_SQL)


# ---------------------------------------------------------------------------
# q78 — explicit SEMI / ANTI join syntax (the reference exposes these
# only through EXISTS / NOT EXISTS rewrites, q09/q45/q52/q54; Spark
# and DuckDB both surface them as join types).  Customers with ≥1
# urgent order (semi) and nations with no such customer (anti),
# chained so one query pins both join types and their null-free
# semantics.  Scale: both plan as broadcast/shuffled hash joins that
# stop probing on first match — no row multiplication ever.
# ---------------------------------------------------------------------------
@q(
    "q78_semi_anti_join",
    """
    WITH urgent AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'),
    hit AS (SELECT c_custkey, c_nationkey FROM customer SEMI JOIN urgent
            ON c_custkey = o_custkey)
    SELECT n_nationkey AS nationkey, n_name AS nation
    FROM nation ANTI JOIN hit ON n_nationkey = c_nationkey
    ORDER BY nationkey
    """,
)
def q78_semi_anti_join(spark: SparkSession, sf_dir: str) -> SDF:
    register_tables(spark, sf_dir, ("orders", "customer", "nation"))
    return spark.sql(
        """
        WITH urgent AS (SELECT o_custkey FROM orders
                        WHERE o_orderpriority = '1-URGENT'),
        hit AS (SELECT c_custkey, c_nationkey FROM customer LEFT SEMI JOIN urgent
                ON c_custkey = o_custkey)
        SELECT n_nationkey AS nationkey, n_name AS nation
        FROM nation LEFT ANTI JOIN hit ON n_nationkey = c_nationkey
        ORDER BY nationkey
        """
    )


# ---------------------------------------------------------------------------
# q79 — ordered event funnel (view → click-after-view →
# purchase-after-click per user): the sequential-pattern aggregation
# the reference's window operator family implies but never composes
# (WindowSpec tests stop at single frames, Window.scala:11-56).
# Stage timestamps are nested filtered-min windows — stage k's cutoff
# is stage k-1's result — then one per-user collapse and a global
# conditional count.  Scale: ALL three windows share one user_id
# hash partitioning (a single exchange, windows pipeline on top), the
# per-user collapse rides the same partitioning, and the final
# aggregate is a 3-counter map-side reduction.  No joins at all.
# ---------------------------------------------------------------------------
_Q79_SQL = """
    WITH e1 AS (
      SELECT user_id, ts, event_type,
             MIN(CASE WHEN event_type = 'view' THEN ts END)
               OVER (PARTITION BY user_id) AS t_view
      FROM events),
    e2 AS (
      SELECT *, MIN(CASE WHEN event_type = 'click' AND ts > t_view THEN ts END)
                  OVER (PARTITION BY user_id) AS t_click
      FROM e1),
    e3 AS (
      SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts > t_click THEN ts END)
                  OVER (PARTITION BY user_id) AS t_buy
      FROM e2),
    pu AS (SELECT user_id, MAX(t_view) AS tv, MAX(t_click) AS tc, MAX(t_buy) AS tb
           FROM e3 GROUP BY user_id)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(COUNT(tv) AS BIGINT) AS n_view,
           CAST(COUNT(tc) AS BIGINT) AS n_click_after_view,
           CAST(COUNT(tb) AS BIGINT) AS n_purchase_after_click,
           -- NULLIF zero guard: on a corpus with no 'view' events the
           -- two engines would otherwise diverge (DuckDB IEEE inf/nan
           -- vs Spark ANSI divide error) — both now emit NULL
           ROUND(CAST(COUNT(tb) AS DOUBLE) / NULLIF(COUNT(tv), 0), 6) AS full_conversion
    FROM pu
"""


@q("q79_event_funnel", _Q79_SQL)
def q79_event_funnel(spark: SparkSession, sf_dir: str) -> SDF:
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    w = W.partitionBy("user_id")
    t = F.col("event_type")
    e1 = ev.withColumn(
        "t_view", F.min(F.when(t == "view", F.col("ts"))).over(w)
    )
    e2 = e1.withColumn(
        "t_click",
        F.min(
            F.when((t == "click") & (F.col("ts") > F.col("t_view")), F.col("ts"))
        ).over(w),
    )
    e3 = e2.withColumn(
        "t_buy",
        F.min(
            F.when((t == "purchase") & (F.col("ts") > F.col("t_click")), F.col("ts"))
        ).over(w),
    )
    pu = e3.groupBy("user_id").agg(
        F.max("t_view").alias("tv"),
        F.max("t_click").alias("tc"),
        F.max("t_buy").alias("tb"),
    )
    return pu.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("tv").alias("n_view"),
        F.count("tc").alias("n_click_after_view"),
        F.count("tb").alias("n_purchase_after_click"),
        F.round(
            F.count("tb").cast("double") / F.nullif(F.count("tv"), F.lit(0)), 6
        ).alias("full_conversion"),
    )


# ---------------------------------------------------------------------------
# q80 — weekly retention cohorts: users grouped by the ISO week of
# their first event, counted per activity-week offset — the
# engagement-decay triangle every event warehouse serves.  Both
# engines truncate weeks to Monday, so offsets are exact day-diff/7
# integers.  Scale: first-event is a two-phase min per user; the
# distinct (user, week) activity set is one exchange; the cohort join
# keys on user_id (shuffle join — the user dim is NOT broadcastable
# at 100 TB) and the final count is two-phase on a (cohort, offset)
# key domain bounded by weeks², independent of user count.
# ---------------------------------------------------------------------------
_Q80_SQL = """
    WITH firsts AS (
      SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
      FROM events GROUP BY user_id),
    act AS (
      SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
      FROM events)
    SELECT cohort_week,
           CAST(date_diff('day', cohort_week, wk) // 7 AS INTEGER) AS week_offset,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM act JOIN firsts USING (user_id)
    GROUP BY cohort_week, week_offset
    ORDER BY cohort_week, week_offset
"""


@q("q80_retention_cohorts", _Q80_SQL)
def q80_retention_cohorts(spark: SparkSession, sf_dir: str) -> SDF:
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    act = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("wk")
    ).distinct()
    return (
        act.join(firsts, "user_id")
        .groupBy(
            "cohort_week",
            (F.datediff(F.col("wk"), F.col("cohort_week")) / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


# ---------------------------------------------------------------------------
# q81 — time-interval RANGE frame: rolling 1-hour event count per user
# (RANGE BETWEEN INTERVAL ... PRECEDING over a timestamp ORDER BY) —
# the frame variant q16/q51 leave uncovered (numeric RANGE offsets).
# Both engines express it natively in SQL; ties on ts share a frame by
# RANGE semantics, so the result is order-deterministic.  Scale: one
# hash partition per user carries the window; frame state is bounded
# by events-per-hour, not history.
# ---------------------------------------------------------------------------
_Q81_FRAME = """
    SELECT user_id, event_id, ts,
           CAST(COUNT(*) OVER (PARTITION BY user_id ORDER BY ts
                  RANGE BETWEEN INTERVAL '1' HOUR PRECEDING AND CURRENT ROW)
                AS BIGINT) AS n_last_hour
    FROM events ORDER BY user_id, ts, event_id
"""


@q("q81_interval_range_frame", _Q81_FRAME)
def q81_interval_range_frame(spark: SparkSession, sf_dir: str) -> SDF:
    register_tables(spark, sf_dir, ("events",))
    return spark.sql(_Q81_FRAME)


# ---------------------------------------------------------------------------
# q82 — symmetric bounded RANGE frame (10 PRECEDING AND 10 FOLLOWING):
# the reference's RangeFrame boundaries are symmetric
# (WindowSpec.scala:16-28 — Preceding AND Following), so the q16-class
# halo rewrite needs the forward halo too.  Same scale shape: one
# bounded two-way row duplication + ONE hash exchange on the bucket
# id + per-bucket windows, value-identical to the naive global window
# (which IS the oracle) — no single-task sort anywhere.
# ---------------------------------------------------------------------------
@q(
    "q82_symmetric_range_frame",
    """
    SELECT orderkey, nearby_revenue, nearby_orders FROM (
      SELECT o_orderkey AS orderkey,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) OVER w AS DOUBLE) AS nearby_revenue,
        CAST(COUNT(*) OVER w AS BIGINT) AS nearby_orders
      FROM orders
      WINDOW w AS (ORDER BY o_orderkey
                   RANGE BETWEEN 10 PRECEDING AND 10 FOLLOWING)) t
    WHERE orderkey <= 1000 ORDER BY orderkey
    """,
)
def q82_symmetric_range_frame(spark: SparkSession, sf_dir: str) -> SDF:
    from spear_spark.windows import partitioned_bounded_range

    orders = load_table(spark, sf_dir, "orders")
    framed = partitioned_bounded_range(
        orders.select("o_orderkey", "o_totalprice"),
        "o_orderkey",
        {
            "nearby_revenue": (D("o_totalprice", 14, 2), F.sum),
            "nearby_orders": (F.lit(1), F.count),
        },
        preceding_range=10,
        bucket_width=10_000,
        following_range=10,
    )
    return (
        framed.select(
            F.col("o_orderkey").alias("orderkey"),
            F.col("nearby_revenue").cast("double").alias("nearby_revenue"),
            F.col("nearby_orders").cast("long").alias("nearby_orders"),
        )
        .filter(F.col("orderkey") <= 1000)
        .orderBy("orderkey")
    )


# ---------------------------------------------------------------------------
# q83 — batch sessionization via the BUILT-IN session_window (the
# twin of q40's lag→flag→running-sum idiom and of
# streaming.sessionize_stream, which shares this exact operator):
# one hash exchange on user_id, sessions merged by Catalyst's
# SessionWindow node (events exactly `gap` apart MERGE — strict-`>`
# new-session rule, verified against q40's semantics; window.end =
# last event + gap).  Oracle: the island-detection rewrite.  Scale:
# identical shape to q40 — a single user-keyed exchange, no
# single-task stage; the streaming twin keeps one state row per open
# session under a watermark.
# ---------------------------------------------------------------------------
_Q83_SQL = """
    WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
               -- mirror session_window's implicit isnotnull(ts) filter
               -- (visible in the pinned plan); without it a NULL ts
               -- would count into the oracle's sessions but not Spark's
               WHERE ts IS NOT NULL),
    marked AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS ns
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
    sess AS (
      SELECT user_id, ts,
             CAST(SUM(ns) OVER (PARTITION BY user_id ORDER BY ts
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
      FROM marked)
    SELECT user_id, MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM sess GROUP BY user_id, sid
    ORDER BY user_id, session_start
"""


@q("q83_session_window", _Q83_SQL)
def q83_session_window(spark: SparkSession, sf_dir: str) -> SDF:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
        .orderBy("user_id", "session_start")
    )
