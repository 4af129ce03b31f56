"""TPC-H composites Q7 / Q10 / Q12 / Q22, each one Spark SQL text over
the fixture tables (``registry.sql``).

Same discipline as operators/queries_tpch.py: parameters adapted to the
fixture's value ranges (nations are NATION_0..24, dates 1995-2001, no
l_shipmode/l_commitdate columns — Q12 substitutes the return flag as
its category axis and keeps the canonical conditional-count shape).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from climateiq_pipelines_spark.functions.helpers import REVENUE, exact_sql, sql_dsum
from climateiq_pipelines_spark.plans import register
from climateiq_pipelines_spark.registry import sql


@register(
    "q7_volume_shipping",
    oracle=f"""
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           CAST(year(l_shipdate) AS BIGINT) AS l_year,
           {sql_dsum(REVENUE)} AS revenue
    FROM lineitem
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation sn ON sn.n_nationkey = s_nationkey
    JOIN nation cn ON cn.n_nationkey = c_nationkey
    WHERE ((sn.n_name = 'NATION_12' AND cn.n_name = 'NATION_10')
        OR (sn.n_name = 'NATION_10' AND cn.n_name = 'NATION_12'))
      AND l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY 1, 2, 3
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 (volume shipping): revenue flowing between a nation
    PAIR in either direction, per shipment year — the classic
    double-dimension join with a symmetric OR predicate.

    Plan: nation (25 rows) broadcasts twice under different aliases;
    supplier and the filtered fact chain shuffle on their FK keys; the
    OR pair predicate is applied after both nation joins (Catalyst
    cannot split it into per-scan filters without losing the cross
    pairing, but the two n_name IN (pair) halves DO push into each
    broadcast side as derived filters). Year extraction is exact
    integer date arithmetic in both engines."""
    # nation-pair x year groups are fact-fraction-sized: limb-split
    # sums, exact below 2^42 rows per group (helpers invariant 3).  The
    # pair is probed nonempty at sf0.001.
    return sql(spark, sf_dir, f"""
        SELECT /*+ BROADCAST(sn, cn) */
               supp_nation, cust_nation,
               CAST(year(l_shipdate) AS BIGINT) AS l_year,
               {exact_sql([("dsum", REVENUE, "revenue")])}
        FROM {{lineitem}}
        JOIN {{supplier}} ON l_suppkey = s_suppkey
        JOIN {{orders}} ON l_orderkey = o_orderkey
        JOIN {{customer}} ON o_custkey = c_custkey
        JOIN (SELECT n_nationkey AS sn_key, n_name AS supp_nation FROM {{nation}}
              WHERE n_name IN ('NATION_12', 'NATION_10')) sn
          ON s_nationkey = sn_key
        JOIN (SELECT n_nationkey AS cn_key, n_name AS cust_nation FROM {{nation}}
              WHERE n_name IN ('NATION_12', 'NATION_10')) cn
          ON c_nationkey = cn_key
        WHERE l_shipdate >= TIMESTAMP_NTZ '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP_NTZ '1998-01-01 00:00:00'
          AND supp_nation <> cust_nation
        GROUP BY supp_nation, cust_nation, CAST(year(l_shipdate) AS BIGINT)
    """)


@register(
    "q10_returned_items",
    oracle=f"""
    SELECT c_custkey, c_name, n_name,
           {sql_dsum(REVENUE)} AS revenue,
           COUNT(*) AS n_items
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON n_nationkey = c_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate < TIMESTAMP '1997-07-01'
    GROUP BY 1, 2, 3
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (returned-item reporting): customers who returned the
    most revenue in one half-year window, top 20 — the
    customer-attribution shape (fact filtered two ways, rolled up to
    the customer grain, bounded tail).

    Plan: both date and returnflag predicates push to their scans;
    nation broadcasts; the order/lineitem chain shuffles on its FK
    keys; TakeOrderedAndProject bounds the result. Revenue is the
    shared fixed-point sum."""
    return sql(spark, sf_dir, f"""
        SELECT /*+ BROADCAST(n) */ c_custkey, c_name, n_name,
               {exact_sql([("dsum1", REVENUE, "revenue"), ("count", "n_items")])}
        FROM {{lineitem}}
        JOIN {{orders}} ON l_orderkey = o_orderkey
        JOIN {{customer}} ON o_custkey = c_custkey
        JOIN {{nation}} n ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP_NTZ '1997-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP_NTZ '1997-07-01 00:00:00'
        GROUP BY c_custkey, c_name, n_name
        ORDER BY revenue DESC, c_custkey
        LIMIT 20
    """)


@register(
    "q22_global_sales_opportunity",
    oracle="""
    WITH thresh AS (
      SELECT CAST(SUM(CAST(floor(c_acctbal * 100) AS BIGINT)) AS DOUBLE)
             / 100.0 / COUNT(*) AS avg_bal
      FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c_nationkey,
           COUNT(*) AS n_custs,
           CAST(SUM(CAST(floor(c_acctbal * 100) AS BIGINT)) AS DOUBLE)
             / 100.0 AS total_bal
    FROM customer, thresh
    WHERE c_acctbal > thresh.avg_bal
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderpriority = '1-URGENT')
    GROUP BY c_nationkey
    """,
)
def q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global sales opportunity): customers with an
    above-average positive balance and no URGENT order, per nation.  A
    scalar aggregate subquery gives the threshold, and NOT EXISTS
    (probed nonempty at sf0.001; every fixture customer has SOME
    order) is decorrelated by Catalyst into a left-anti join.

    Exactness: the threshold is an exact fixed-point mean
    (sum of floor(bal·100) int64s / 100 / count) — a naive AVG(double)
    differs across engines in the last ulp, which could flip a
    boundary customer.

    Plan: customer scans once per side but both with pushed
    projections; the scalar subquery broadcasts as a 1-row cross; the
    NOT EXISTS becomes a left-anti hash join keyed on custkey."""
    return sql(spark, sf_dir, """
        WITH thresh AS (
          SELECT CAST(sum(CAST(floor(c_acctbal * 100) AS BIGINT)) AS DOUBLE)
                 / 100.0 / count(1) AS avg_bal
          FROM {customer} WHERE c_acctbal > 0.0
        )
        SELECT c_nationkey,
               count(1) AS n_custs,
               CAST(sum(CAST(floor(c_acctbal * 100) AS BIGINT)) AS DOUBLE)
                 / 100.0 AS total_bal
        FROM {customer}, thresh
        WHERE c_acctbal > thresh.avg_bal
          AND NOT EXISTS (SELECT 1 FROM {orders}
                          WHERE o_custkey = c_custkey
                            AND o_orderpriority = '1-URGENT')
        GROUP BY c_nationkey
    """)


@register(
    "q12_priority_by_flag",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) FILTER (WHERE o_orderpriority IN ('1-URGENT', '2-HIGH'))
             AS high_line_count,
           COUNT(*) FILTER (WHERE o_orderpriority NOT IN ('1-URGENT', '2-HIGH'))
             AS low_line_count
    FROM orders
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY l_returnflag
    """,
)
def q12_priority_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipping modes and order priority), adapted:
    the fixture carries no l_shipmode/l_commitdate, so the category
    axis is l_returnflag and the late-commit predicate is dropped —
    what remains is Q12's essence: fact⋈fact join + per-category
    CONDITIONAL COUNTS over a priority class split.

    Plan: the ship-date band pushes to the lineitem scan; one shuffle
    joins orders (the priority carrier) to the filtered lineitems; the
    conditional counts are a single partial+final aggregate (two
    codegen'd count-if accumulators, no second pass)."""
    return sql(spark, sf_dir, """
        SELECT l_returnflag,
               count(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 END)
                 AS high_line_count,
               count(CASE WHEN NOT o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 END)
                 AS low_line_count
        FROM {lineitem} JOIN {orders} ON l_orderkey = o_orderkey
        WHERE l_shipdate >= TIMESTAMP_NTZ '1997-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP_NTZ '1998-01-01 00:00:00'
        GROUP BY l_returnflag
    """)
