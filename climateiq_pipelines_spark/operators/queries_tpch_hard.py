"""TPC-H hard shapes Q21 / Q2, each one Spark SQL text over the fixture
tables (``registry.sql``): a semi+anti join composition and a
correlated min-aggregate equality.

Fixture adaptations as elsewhere (no l_commitdate/l_receiptdate —
"kept waiting" means shipped >60 days after the order date; no
partsupp — supply cost is the supplier's average sale price of the
part from lineitem).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from climateiq_pipelines_spark.functions.helpers import exact_sql, sql_davg
from climateiq_pipelines_spark.plans import register
from climateiq_pipelines_spark.registry import sql


@register(
    "q21_suppliers_kept_waiting",
    oracle="""
    SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM supplier, lineitem l1, orders
    WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
      AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      JOIN orders o2 ON o2.o_orderkey = l3.l_orderkey
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o2.o_orderdate + INTERVAL 60 DAY)
    GROUP BY s_name
    """,
)
def q21_suppliers_kept_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 (suppliers who kept orders waiting), fixture-adapted:
    count each supplier's late lineitems (shipped >60 days after the
    order date) in multi-supplier orders where it was the ONLY late
    supplier — the canonical EXISTS + NOT EXISTS pair decorrelated into
    a LEFT SEMI then LEFT ANTI join, both with a suppkey-inequality
    residual.

    Plan: the late set (lineitem ⋈ orders, late filter) is built once
    and drives BOTH the probe side and the anti side; the semi side is
    the full lineitem projected to (orderkey, suppkey). Every join and
    the final count shuffle on l_orderkey — one hash partitioning
    carried through semi, anti, and the supplier dim join (supplier
    broadcasts while small, policy as Q5). At 100 TB co-bucketing
    lineitem/orders by orderkey removes the dominant shuffle."""
    return sql(spark, sf_dir, """
        WITH late AS (
          SELECT l_orderkey, l_suppkey
          FROM {lineitem} JOIN {orders} ON l_orderkey = o_orderkey
          WHERE l_shipdate > timestampadd(DAY, 60, o_orderdate)
        )
        SELECT s_name, count(1) AS numwait
        FROM late
        LEFT SEMI JOIN (SELECT l_orderkey AS o2_orderkey, l_suppkey AS o2_suppkey
                        FROM {lineitem})
          ON o2_orderkey = l_orderkey AND o2_suppkey <> l_suppkey
        LEFT ANTI JOIN (SELECT l_orderkey AS o3_orderkey, l_suppkey AS o3_suppkey
                        FROM late)
          ON o3_orderkey = l_orderkey AND o3_suppkey <> l_suppkey
        JOIN {supplier} ON l_suppkey = s_suppkey
        GROUP BY s_name
    """)


@register(
    "q2_min_cost_supplier",
    oracle=f"""
    WITH ps AS (
      SELECT l_partkey, l_suppkey,
             {sql_davg("l_extendedprice")} AS avg_price
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ),
    ranked AS (
      SELECT *, min(avg_price) OVER (PARTITION BY l_partkey) AS min_price
      FROM ps
    )
    SELECT p.p_partkey AS partkey, p.p_name, s.s_name,
           round(avg_price, 6) AS min_avg_price
    FROM ranked
    JOIN part p ON p.p_partkey = l_partkey
    JOIN supplier s ON s.s_suppkey = l_suppkey
    WHERE avg_price = min_price
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (minimum-cost supplier), fixture-adapted: for
    each part, the supplier(s) whose average sale price of that part is
    the part's minimum — the canonical correlated aggregate-equality
    subquery, decorrelated into a windowed min + equality filter
    instead of a rejoin against a grouped subquery (one pass over the
    aggregate, no second shuffle).

    Exactness of the equality: avg goes through the fixed-point policy
    (exact integer micro-sum → double → / count), so both engines
    produce bit-identical doubles and the min/equality pick identical
    winners — float equality is safe HERE because the compared values
    are same-expression outputs, never independently-rounded results.
    Ties (two suppliers at the exact minimum) surface BOTH rows, same
    as the SQL. Plan: lineitem aggregates on (partkey, suppkey); the
    window partitions on partkey over the AGGREGATED frame (bounded by
    |suppliers-per-part|); part/supplier dims broadcast while small."""
    return sql(spark, sf_dir, f"""
        WITH ps AS (
          SELECT l_partkey, l_suppkey,
                 {exact_sql([("davg1", "l_extendedprice", "avg_price")])}
          FROM {{lineitem}} GROUP BY l_partkey, l_suppkey
        ),
        best AS (
          SELECT * FROM (
            SELECT *, min(avg_price) OVER (PARTITION BY l_partkey) AS min_price
            FROM ps
          ) WHERE avg_price = min_price
        )
        SELECT p_partkey AS partkey, p_name, s_name,
               round(avg_price, 6) AS min_avg_price
        FROM best
        JOIN {{part}} ON l_partkey = p_partkey
        JOIN {{supplier}} ON l_suppkey = s_suppkey
    """)
