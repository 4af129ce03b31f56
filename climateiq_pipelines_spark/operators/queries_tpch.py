"""Composite TPC-H-shape queries (beyond SURVEY §2's per-operator keys).

The §2 keys each isolate one operator; these three exercise the full
multi-operator pipelines users actually run, end to end, with the same
oracle discipline (fixed-point revenue sums, unique-key tie-breaks).
Parameters are adapted to the fixture's value ranges (probed at sf0.01,
noted per key).

Scale notes: each query is the canonical warehouse plan — selective
dim broadcast + fact shuffle + partial agg + bounded top-k. No plan
node here is quadratic or driver-side; tests/test_plans.py sweeps them
with every other key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from climateiq_pipelines_spark.functions.helpers import (
    REVENUE,
    dsum,
    exact_agg,
    revenue_col,
    sql_dsum,
)
from climateiq_pipelines_spark.plans import register
from climateiq_pipelines_spark.registry import load_table


@register(
    "q3_shipping_priority",
    oracle=f"""
    SELECT l_orderkey,
           {sql_dsum(REVENUE)} AS revenue,
           CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS order_day,
           o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-06-15'
      AND l_shipdate > TIMESTAMP '1998-06-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping priority), full composite: segment-filtered
    customers ⋈ open orders ⋈ not-yet-shipped lineitems, revenue per
    order, top 10. (o_orderpriority stands in for o_shippriority —
    the fixture has no shippriority column.)

    Plan: both filters reach their parquet scans; the filtered
    customer side broadcasts; lineitem shuffles once on l_orderkey;
    partial+final agg; TakeOrderedAndProject caps the tail. Cut-off
    1998-06-15 sits mid-range of the fixture's 1995-2001 dates."""
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-06-15").cast("timestamp_ntz")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-06-15").cast("timestamp_ntz")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        # cust is segment-filtered but still SF-proportional (~30k rows/SF)
        # — no broadcast hint; AQE broadcasts while small, shuffles at scale.
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(revenue_col(), "revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.col("o_orderdate").cast("date").cast("string").alias("order_day"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@register(
    "q6_revenue_forecast",
    oracle=f"""
    SELECT {sql_dsum('l_extendedprice * l_discount')} AS promo_revenue,
           COUNT(*) AS n_lineitems
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
      AND l_discount >= 0.025 AND l_discount <= 0.075
      AND l_quantity < 24
    """,
)
def q6_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecasting revenue change): pure scan-side query —
    every predicate pushes to the parquet scan, one global fixed-point
    sum, zero joins, zero wide shuffles (partial sums → single final
    row). The discount band uses thresholds (0.025/0.075) placed away
    from the 0.01-step representable values so both engines make
    identical double comparisons.

    ONE group over all of filtered lineitem is the most ceiling-exposed
    shape there is, so the sum is limb-split (helpers module
    docstring, invariants 2 and 3)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
        & (F.col("l_discount") >= 0.025)
        & (F.col("l_discount") <= 0.075)
        & (F.col("l_quantity") < 24)
    )
    return exact_agg(
        li,
        [],
        [
            ("dsum", "l_extendedprice * l_discount", "promo_revenue"),
            ("count", "n_lineitems"),
        ],
    )


@register(
    "q18_large_orders",
    oracle="""
    WITH big AS (
      SELECT l_orderkey, SUM(l_quantity) AS total_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(l_quantity) > 300
    )
    SELECT c_name, c_custkey, o_orderkey,
           CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS order_day,
           o_totalprice, total_qty
    FROM big
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20
    """,
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume customers): aggregate-then-join — the
    HAVING filter shrinks lineitem to the few dozen qualifying orders
    (46 at sf0.01, threshold 300 vs max 458) BEFORE touching
    orders/customer, so the joins run on the reduced set and broadcast.
    Quantities are integer-valued doubles, so SUM is exact in both
    engines without the fixed-point detour."""
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 300)
    )
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return (
        # big is a HAVING-filtered aggregate of lineitem — selective but
        # SF-proportional — no broadcast hint; AQE decides from runtime size.
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.col("o_orderdate").cast("date").cast("string").alias("order_day"),
            "o_totalprice",
            "total_qty",
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(20)
    )
