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

from climateiq_pipelines_spark.functions.helpers import REVENUE, exact_sql, sql_dsum
from climateiq_pipelines_spark.plans import register
from climateiq_pipelines_spark.registry import sql


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
    # cust is segment-filtered but still SF-proportional (~30k rows/SF):
    # no broadcast hint; AQE broadcasts while small, shuffles at scale.
    return sql(spark, sf_dir, f"""
        SELECT l_orderkey, revenue,
               CAST(CAST(o_orderdate AS DATE) AS STRING) AS order_day,
               o_orderpriority
        FROM (
          SELECT l_orderkey, o_orderdate, o_orderpriority,
                 {exact_sql([("dsum1", REVENUE, "revenue")])}
          FROM {{lineitem}}
          JOIN {{orders}} ON l_orderkey = o_orderkey
          JOIN {{customer}} ON o_custkey = c_custkey
          WHERE c_mktsegment = 'BUILDING'
            AND o_orderdate < TIMESTAMP_NTZ '1998-06-15 00:00:00'
            AND l_shipdate > TIMESTAMP_NTZ '1998-06-15 00:00:00'
          GROUP BY l_orderkey, o_orderdate, o_orderpriority
        )
        ORDER BY revenue DESC, l_orderkey
        LIMIT 10
    """)


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
    return sql(spark, sf_dir, f"""
        SELECT {exact_sql([("dsum", "l_extendedprice * l_discount", "promo_revenue"),
                           ("count", "n_lineitems")])}
        FROM {{lineitem}}
        WHERE l_shipdate >= TIMESTAMP_NTZ '1997-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP_NTZ '1998-01-01 00:00:00'
          AND l_discount >= 0.025 AND l_discount <= 0.075
          AND l_quantity < 24
    """)


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
    # big is a HAVING-filtered aggregate of lineitem, selective but
    # SF-proportional: no broadcast hint; AQE decides from runtime size.
    return sql(spark, sf_dir, """
        SELECT c_name, c_custkey, o_orderkey,
               CAST(CAST(o_orderdate AS DATE) AS STRING) AS order_day,
               o_totalprice, total_qty
        FROM {orders}
        JOIN (
          SELECT l_orderkey, sum(l_quantity) AS total_qty
          FROM {lineitem} GROUP BY l_orderkey
          HAVING total_qty > 300
        ) ON o_orderkey = l_orderkey
        JOIN {customer} ON o_custkey = c_custkey
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 20
    """)
