"""TPC-H composites Q4 / Q13 / Q14 / Q19, each one Spark SQL text over
the fixture tables (``registry.sql``).

Same discipline as operators/queries_tpch.py and queries_tpch_ext.py:
parameters adapted to the fixture's value ranges (no partsupp table, no
l_commitdate/l_receiptdate/l_shipmode/p_container columns — Q4
substitutes "shipped >90 days after order date" for the canonical
late-commit EXISTS, Q13 filters on o_orderpriority instead of the
comment LIKE, Q19 drops the container conjunct), keeping each query's
canonical PLAN SHAPE: Q4 = EXISTS → left-semi join with a non-equi
residual, Q13 = outer-join aggregate → histogram re-aggregate, Q14 =
conditional share over a joined month slice, Q19 = disjunction of
multi-table conjunctions exercising OR-predicate pushdown.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from climateiq_pipelines_spark.functions.helpers import REVENUE, exact_sql, sql_dsum
from climateiq_pipelines_spark.plans import register
from climateiq_pipelines_spark.registry import sql


@register(
    "q4_order_priority",
    oracle="""
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-07-01'
      AND o_orderdate < TIMESTAMP '1996-10-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 (order priority checking), fixture-adapted: count a
    quarter's orders per priority where AT LEAST ONE lineitem shipped
    more than 90 days after the order date (the fixture has no
    commit/receipt dates; the canonical shape — an EXISTS decorrelated
    into a semi-join — is preserved exactly).

    Plan: the date filter prunes orders at the scan; LEFT SEMI join on
    l_orderkey with the >90-day residual condition — the semi join
    stops probing an order at its first late item (no fan-out, no
    dedup), which is precisely why EXISTS compiles to semi and not
    inner+distinct. One shuffle pair on the order key; the aggregate is
    5 groups. At 100 TB both sides shuffle on orderkey — co-bucketing
    orders/lineitem by orderkey (join_bucketed_colocated's layout)
    removes the shuffle entirely."""
    return sql(spark, sf_dir, """
        SELECT o_orderpriority, count(1) AS order_count
        FROM {orders}
        LEFT SEMI JOIN {lineitem}
          ON l_orderkey = o_orderkey
         AND l_shipdate > timestampadd(DAY, 90, o_orderdate)
        WHERE o_orderdate >= TIMESTAMP_NTZ '1996-07-01 00:00:00'
          AND o_orderdate < TIMESTAMP_NTZ '1996-10-01 00:00:00'
        GROUP BY o_orderpriority
    """)


@register(
    "q13_customer_distribution",
    oracle="""
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM (
      SELECT c.c_custkey,
             CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
      FROM customer c
      LEFT JOIN orders o
        ON c.c_custkey = o.o_custkey
       AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    )
    GROUP BY c_count
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (customer distribution): histogram of per-customer
    order counts, customers with zero qualifying orders included — the
    canonical outer-join-aggregate. The fixture has no order comments,
    so the exclusion predicate is o_orderpriority <> '1-URGENT'
    (canonically NOT LIKE '%special%requests%').

    Plan: orders are PRE-AGGREGATED to (o_custkey, cnt) before touching
    customer — the orders shuffle carries one row per customer, not one
    per order, and the subsequent outer join is key-to-key (customer
    LEFT JOIN counts, missing → 0). The declarative oracle keeps the
    join-then-count form; both compute the same distribution. The final
    histogram aggregate is at most |distinct counts| groups. At 100 TB
    the only large shuffle is the orders pre-aggregate (map-side
    partials shrink it) — the join side is |customers| rows."""
    return sql(spark, sf_dir, """
        SELECT c_count, count(1) AS custdist
        FROM (
          SELECT coalesce(cnt, 0L) AS c_count
          FROM {customer}
          LEFT JOIN (
            SELECT o_custkey, count(1) AS cnt
            FROM {orders} WHERE o_orderpriority <> '1-URGENT'
            GROUP BY o_custkey
          ) ON c_custkey = o_custkey
        )
        GROUP BY c_count
    """)


_PROMO_REVENUE = f"CASE WHEN p_type = 'PROMO' THEN {REVENUE} ELSE 0.0 END"


@register(
    "q14_promo_revenue",
    oracle=f"""
    SELECT round(
      100.0 * {sql_dsum(_PROMO_REVENUE)}
            / {sql_dsum(REVENUE)}, 6) AS promo_share
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-03-01'
      AND l_shipdate < TIMESTAMP '1997-04-01'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promotion effect): the revenue share of PROMO-typed
    parts within one shipment month — the canonical conditional-
    aggregate ratio (100 * sum(case) / sum(all)).

    Plan: the month filter prunes lineitem at the scan (~1/80 of rows);
    part joins on partkey (broadcast while small, shuffle at scale —
    dimension is SF-proportional so no forced hint, same policy as Q5);
    one group-less two-accumulator aggregate. Both numerator and
    denominator go through the fixed-point long accumulator (helpers
    policy), so the final division divides two bit-identical doubles —
    the engines' shares match exactly; round(…,6) is belt-and-braces.
    """
    # both accumulators are GLOBAL over a month of lineitem: limb-split
    # sums, exact below 2^42 rows (helpers invariant 3).
    # An empty month yields NULL/NULL -> NULL on both engines.
    return sql(spark, sf_dir, f"""
        SELECT round(100.0D * promo_rev / total_rev, 6) AS promo_share
        FROM (
          SELECT {exact_sql([("dsum", _PROMO_REVENUE, "promo_rev"),
                             ("dsum", REVENUE, "total_rev")])}
          FROM {{lineitem}} JOIN {{part}} ON l_partkey = p_partkey
          WHERE l_shipdate >= TIMESTAMP_NTZ '1997-03-01 00:00:00'
            AND l_shipdate < TIMESTAMP_NTZ '1997-04-01 00:00:00'
        )
    """)


@register(
    "q19_discounted_revenue",
    oracle=f"""
    SELECT {sql_dsum(REVENUE)} AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#3'  AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 20)
       OR (p_brand = 'Brand#12' AND p_size BETWEEN 5 AND 25
           AND l_quantity BETWEEN 10 AND 30)
       OR (p_brand = 'Brand#24' AND p_size BETWEEN 10 AND 40
           AND l_quantity BETWEEN 20 AND 40)
    """,
)
def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 (discounted revenue): single revenue total over a
    DISJUNCTION of brand/size/quantity conjunctions spanning both join
    sides (fixture-adapted: no p_container column, three brand tiers
    with widening size/quantity bands).

    Plan shape this exists to exercise: Catalyst's constraint
    propagation extracts the part-only disjunction
    (brand=B3 AND size…) OR (brand=B12 AND size…) OR … and pushes it
    below the join into the part scan, and likewise the l_quantity
    bounds' union into the lineitem scan — the join then sees only
    candidate rows of both tables, and the full mixed predicate runs as
    the join residual. Group-less aggregate via the fixed-point long
    accumulator; one row out."""
    # a GLOBAL sum over the tier band: limb-split, exact below 2^42
    # rows (helpers invariant 3).  An empty band aggregates to one
    # NULL-revenue row on both engines.
    return sql(spark, sf_dir, f"""
        SELECT {exact_sql([("dsum", REVENUE, "revenue")])}
        FROM {{lineitem}} JOIN {{part}} ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 1 AND 20)
           OR (p_brand = 'Brand#12' AND p_size BETWEEN 5 AND 25
               AND l_quantity BETWEEN 10 AND 30)
           OR (p_brand = 'Brand#24' AND p_size BETWEEN 10 AND 40
               AND l_quantity BETWEEN 20 AND 40)
    """)
