"""TPC-H composites Q8 / Q9 / Q11 / Q15 / Q16 / Q17 / Q20, each one
Spark SQL text over the fixture tables (``registry.sql``).

Fixture adaptations (as for Q2/Q21): there is no
partsupp table, no l_commitdate/l_receiptdate, and no p_container —
supply relationships come from lineitem's (l_partkey, l_suppkey) pairs,
nations are NATION_0..24, and part names are '<adjective> <noun>'
('small ring', 'red widget', ...). Every key keeps the ORIGINAL query's
optimizer-relevant shape: exact conditional
share aggregate (Q8), multi-dim star join with a LIKE filter (Q9),
max-equality over an aggregated view (Q15), anti-join + count-distinct
grouping (Q16), correlated per-part average threshold (Q17), nested
semi-join chain (Q20).

Float policy as everywhere: all revenue/quantity sums go through the
fixed-point long accumulator (helpers.exact_sql), so both engines produce
bit-identical doubles and the share divisions / threshold comparisons /
max-equality picks are exact on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from climateiq_pipelines_spark.functions.helpers import (
    REVENUE,
    davg_over,
    exact_sql,
    sql_dsum,
    sql_micros,
)
from climateiq_pipelines_spark.plans import register
from climateiq_pipelines_spark.registry import sql


@register(
    "q8_market_share",
    oracle=f"""
    WITH rev AS (
      SELECT year(o_orderdate) AS o_year,
             {REVENUE} AS volume,
             sn.n_name AS supp_nation
      FROM lineitem
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN part     ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation sn ON sn.n_nationkey = s_nationkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation cn ON cn.n_nationkey = c_nationkey
      JOIN region   ON r_regionkey = cn.n_regionkey
      WHERE r_name = 'ASIA'
        AND p_type = 'PROMO'
        AND o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate < TIMESTAMP '1998-01-01'
    )
    SELECT o_year,
           round({sql_dsum("CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0.0 END")}
                 / {sql_dsum("volume")}, 6) AS mkt_share
    FROM rev
    GROUP BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (national market share): NATION_3 suppliers' share of
    PROMO-part revenue sold to ASIA customers, per order year — the
    exact-sum pattern where an inner star join tags each revenue row
    with the supplier nation and the outer aggregate divides a
    conditional sum by the total.

    Plan: the orders date filter and the part type filter push into
    their scans BEFORE the fact join chain (the shuffled volume is two
    years of one part type); region/nation broadcast as bounded dims;
    customer/supplier carry no hints (SF-proportional — AQE promotes
    while small, policy as Q5). Share division divides two
    fixed-point-exact doubles, so engines agree bit-for-bit."""
    # two o_year groups over the region-filtered fact chain are
    # table-fraction-sized: both accumulators are limb-split sums,
    # exact below 2^42 rows per group (helpers invariant 3)
    nation_rev = f"CASE WHEN supp_nation = 'NATION_3' THEN {REVENUE} ELSE 0.0 END"
    return sql(spark, sf_dir, f"""
        SELECT o_year, round(nation_rev / total_rev, 6) AS mkt_share
        FROM (
          SELECT /*+ BROADCAST(asia_cn, sn) */ o_year,
                 {exact_sql([("dsum", nation_rev, "nation_rev"),
                             ("dsum", REVENUE, "total_rev")])}
          FROM {{lineitem}}
          JOIN (SELECT o_orderkey, o_custkey, year(o_orderdate) AS o_year
                FROM {{orders}}
                WHERE o_orderdate >= TIMESTAMP_NTZ '1996-01-01 00:00:00'
                  AND o_orderdate < TIMESTAMP_NTZ '1998-01-01 00:00:00')
            ON l_orderkey = o_orderkey
          JOIN {{part}} ON l_partkey = p_partkey
          JOIN {{customer}} ON o_custkey = c_custkey
          JOIN (SELECT /*+ BROADCAST(r) */ n_nationkey AS cn_key
                FROM {{nation}} JOIN {{region}} r ON n_regionkey = r_regionkey
                WHERE r_name = 'ASIA') asia_cn
            ON c_nationkey = cn_key
          JOIN {{supplier}} ON l_suppkey = s_suppkey
          JOIN (SELECT n_nationkey AS sn_key, n_name AS supp_nation
                FROM {{nation}}) sn
            ON s_nationkey = sn_key
          WHERE p_type = 'PROMO'
          GROUP BY o_year
        )
    """)


@register(
    "q9_product_profit",
    oracle=f"""
    SELECT sn.n_name AS nation,
           year(o_orderdate) AS o_year,
           {sql_dsum(REVENUE)} AS sum_profit
    FROM lineitem
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN part     ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation sn ON sn.n_nationkey = s_nationkey
    WHERE p_name LIKE '%red%'
    GROUP BY 1, 2
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (product-type profit), fixture-adapted (no partsupp, so
    profit = revenue): revenue from parts whose name contains 'red',
    grouped by the SUPPLIER's nation and order year — the widest star
    join in the suite after Q8, with a non-prefix LIKE that cannot
    become a range predicate.

    Plan: the LIKE filter still prunes part BEFORE the join (predicate
    pushdown into the scan, a contains filter evaluated in the
    vectorized reader); lineitem joins part first (smallest surviving
    dimension), then orders for the year, then supplier→nation
    (broadcast, 25 rows). Aggregate is |nations|x|years| groups —
    map-side partials collapse the shuffle."""
    # nation x year groups over the part-filtered fact are
    # table-fraction-sized: limb-split sums, exact below 2^42 rows per
    # group (helpers invariant 3)
    return sql(spark, sf_dir, f"""
        SELECT /*+ BROADCAST(sn) */ nation, o_year,
               {exact_sql([("dsum", REVENUE, "sum_profit")])}
        FROM {{lineitem}}
        JOIN {{part}} ON l_partkey = p_partkey
        JOIN (SELECT o_orderkey, year(o_orderdate) AS o_year FROM {{orders}})
          ON l_orderkey = o_orderkey
        JOIN {{supplier}} ON l_suppkey = s_suppkey
        JOIN (SELECT n_nationkey AS sn_key, n_name AS nation FROM {{nation}}) sn
          ON s_nationkey = sn_key
        WHERE contains(p_name, 'red')
        GROUP BY nation, o_year
    """)


@register(
    "q15_top_supplier",
    oracle=f"""
    WITH revenue_view AS (
      SELECT l_suppkey AS supplier_no,
             {sql_dsum(REVENUE)} AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, round(total_revenue, 6) AS total_revenue
    FROM revenue_view JOIN supplier ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue_view)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier): the supplier(s) with maximum total
    revenue in 1996Q1 — the classic view + scalar-max-equality query,
    decorrelated into an unpartitioned max WINDOW over the AGGREGATED
    per-supplier frame (|suppliers| rows — bounded by the dimension,
    never by lineitem; the single-partition window is over ~100 rows
    at any SF, which is the correct plan for a global max-equality).

    Equality on total_revenue is safe: both sides of the comparison are
    the same fixed-point-exact double computed once. Ties surface every
    max supplier, same as the SQL."""
    return sql(spark, sf_dir, f"""
        WITH rev AS (
          SELECT l_suppkey AS supplier_no,
                 {exact_sql([("dsum1", REVENUE, "total_revenue")])}
          FROM {{lineitem}}
          WHERE l_shipdate >= TIMESTAMP_NTZ '1996-01-01 00:00:00'
            AND l_shipdate < TIMESTAMP_NTZ '1996-04-01 00:00:00'
          GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name, round(total_revenue, 6) AS total_revenue
        FROM (
          SELECT * FROM (
            SELECT *, max(total_revenue) OVER () AS max_rev FROM rev
          ) WHERE total_revenue = max_rev
        )
        JOIN {{supplier}} ON supplier_no = s_suppkey
    """)


@register(
    "q16_parts_supplier_relation",
    oracle="""
    SELECT p_brand, p_type, p_size,
           COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1'
      AND p_type <> 'PROMO'
      AND p_size IN (1, 4, 9, 14, 23, 36, 45, 49)
      AND l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY p_brand, p_type, p_size
    """,
)
def q16_parts_supplier_relation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 (parts/supplier relationship), fixture-adapted: count
    distinct suppliers per (brand, type, size) for a size subset,
    excluding one brand, one type, and "complaint" suppliers (stand-in:
    negative account balance) — the canonical NOT IN anti-join over a
    distinct-pair supply relation (partsupp is derived as the DISTINCT
    (l_partkey, l_suppkey) pairs of lineitem, the fixture's supply
    table).

    Plan: part filters (brand/type/size IN) push into the part scan;
    the complaint set is a tiny aggregate anti-joined BEFORE the count
    (left_anti on suppkey — NULL-safe here because s_suppkey is a key,
    matching NOT IN semantics on non-null domains); the distinct pair
    reduction happens map-side-combined on (partkey, suppkey) before
    the dimension join. Final count-distinct groups are bounded by
    |brand x type x size-subset|."""
    return sql(spark, sf_dir, """
        SELECT p_brand, p_type, p_size,
               count(DISTINCT l_suppkey) AS supplier_cnt
        FROM (SELECT DISTINCT l_partkey, l_suppkey FROM {lineitem})
        LEFT ANTI JOIN (SELECT s_suppkey FROM {supplier} WHERE s_acctbal < 0)
          ON l_suppkey = s_suppkey
        JOIN {part} ON l_partkey = p_partkey
        WHERE p_brand <> 'Brand#1'
          AND p_type <> 'PROMO'
          AND p_size IN (1, 4, 9, 14, 23, 36, 45, 49)
        GROUP BY p_brand, p_type, p_size
    """)


@register(
    "q17_small_qty_revenue",
    oracle=f"""
    WITH brand_li AS (
      SELECT l_partkey, l_quantity, l_extendedprice
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_brand = 'Brand#1'
    ),
    thresholds AS (
      SELECT l_partkey,
             0.2 * ({sql_dsum("l_quantity")} / COUNT(*)) AS qty_limit
      FROM brand_li GROUP BY l_partkey
    )
    SELECT round({sql_dsum("l_extendedprice")} / 7.0, 6) AS avg_yearly
    FROM brand_li JOIN thresholds USING (l_partkey)
    WHERE l_quantity < qty_limit
    """,
)
def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (small-quantity-order revenue): yearly revenue that
    would vanish if small orders (quantity under 20% of the part's
    average order quantity) were no longer filled, over one brand —
    the canonical CORRELATED per-group average threshold, decorrelated
    into a window average over the brand-pruned fact instead of a
    per-row subquery.

    Exactness: the per-part average goes through the fixed-point
    accumulator (integer micro-sum / count) and the 0.2x threshold is
    one multiplication of that exact double — bit-identical on both
    engines, so the `<` cut keeps identical row sets. Plan: the brand
    filter prunes part to ~1/25 and the join prunes lineitem before
    the window; the window partitions on l_partkey (bounded per-part
    state, one shuffle); the final sum is a 1-row aggregate."""
    # the final sum is GLOBAL over the small-quantity band: limb-split,
    # exact below 2^42 rows (helpers invariant 3).  Zero kept rows
    # aggregate to one NULL-revenue row on both engines.
    return sql(spark, sf_dir, f"""
        SELECT round(rev / 7.0D, 6) AS avg_yearly
        FROM (
          SELECT {exact_sql([("dsum", "l_extendedprice", "rev")])}
          FROM (
            SELECT l_partkey, l_quantity, l_extendedprice, p_partkey,
                   0.2D * ({davg_over("l_quantity", "w")}) AS qty_limit
            FROM {{lineitem}} JOIN {{part}} ON l_partkey = p_partkey
            WHERE p_brand = 'Brand#1'
            WINDOW w AS (PARTITION BY l_partkey)
          )
          WHERE l_quantity < qty_limit
        )
    """)


@register(
    "q20_potential_promotion",
    oracle=f"""
    WITH small_parts AS (
      SELECT p_partkey FROM part WHERE p_name LIKE 'small%'
    ),
    shipped AS (
      SELECT l_partkey, l_suppkey, {sql_dsum("l_quantity")} AS qty
      FROM lineitem JOIN small_parts ON p_partkey = l_partkey
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1997-01-01'
      GROUP BY l_partkey, l_suppkey
    ),
    dominant AS (
      SELECT l_suppkey
      FROM (
        SELECT l_suppkey, qty,
               SUM(qty) OVER (PARTITION BY l_partkey) AS part_total
        FROM shipped
      ) WHERE qty > 0.5 * part_total
    )
    SELECT s_suppkey, s_name
    FROM supplier
    WHERE EXISTS (SELECT 1 FROM dominant d WHERE d.l_suppkey = s_suppkey)
    """,
)
def q20_potential_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 (potential part promotion), fixture-adapted (no
    partsupp availability, so "excess stock" becomes DOMINANCE):
    suppliers who shipped more than half of some 'small…' part's total
    1996 volume — the canonical nested-semi-join chain: part-name
    filter → per-(part, supplier) aggregate → per-part threshold →
    DISTINCT supplier set → left-semi against the supplier dim.

    Plan: the name LIKE 'small%' is a PREFIX pattern (becomes a range
    predicate in the scan); the year filter prunes lineitem at the
    source; the (part, supplier) aggregate is map-side combined; the
    dominance window partitions on l_partkey over the AGGREGATED frame
    (|suppliers-per-part| rows of state). The final semi-join keeps
    supplier rows intact — no duplication regardless of how many parts
    a supplier dominates. Quantity sums are fixed-point exact, so the
    0.5x dominance cut is engine-identical."""
    return sql(spark, sf_dir, f"""
        WITH shipped AS (
          SELECT l_partkey, l_suppkey,
                 {exact_sql([("dsum1", "l_quantity", "qty")])}
          FROM {{lineitem}} JOIN {{part}} ON l_partkey = p_partkey
          WHERE startswith(p_name, 'small')
            AND l_shipdate >= TIMESTAMP_NTZ '1996-01-01 00:00:00'
            AND l_shipdate < TIMESTAMP_NTZ '1997-01-01 00:00:00'
          GROUP BY l_partkey, l_suppkey
        )
        SELECT s_suppkey, s_name
        FROM {{supplier}}
        LEFT SEMI JOIN (
          SELECT l_suppkey FROM (
            SELECT l_suppkey, qty,
                   sum(qty) OVER (PARTITION BY l_partkey) AS part_total
            FROM shipped
          ) WHERE qty > 0.5D * part_total
        ) ON s_suppkey = l_suppkey
    """)


@register(
    "q11_important_stock",
    oracle="""
    WITH nat_sup AS (
      SELECT s_suppkey FROM supplier
      JOIN nation ON s_nationkey = n_nationkey
      WHERE n_name = 'NATION_7'
    ),
    vals AS (
      SELECT l_partkey,
             SUM(CAST(floor(l_extendedprice * (1 - l_discount) * 1000000)
                      AS BIGINT)) AS v_micros
      FROM lineitem
      WHERE l_suppkey IN (SELECT s_suppkey FROM nat_sup)
      GROUP BY l_partkey
    ),
    tot AS (SELECT SUM(v_micros) AS t_micros FROM vals)
    SELECT l_partkey,
           CAST(v_micros AS DOUBLE) / 1000000.0 AS part_value
    FROM vals, tot
    WHERE v_micros * 200 > t_micros
    """,
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 (important stock identification) — the LAST of the 22
    classic shapes; with it every TPC-H query the fixture's tables can
    express is registered. Fixture-adapted (no partsupp / supplycost /
    availqty): a part's "stock value" held by one nation's suppliers is
    the discounted revenue its lineitems contribute through those
    suppliers; report parts whose value exceeds 1/200 of the nation's
    total — the canonical GROUP BY + scalar-subquery HAVING threshold.

    Exactness: both sides of the threshold stay in INTEGER micro-units
    — the per-part sum accumulates in DECIMAL(38,0), matching the
    oracle's DuckDB sum that widens BIGINT to HUGEINT, so the
    `v*200 > t` cut is exact integer arithmetic at ANY SF, not only
    under 2^63.  The output value is the single exact int→double
    conversion.

    Plan: nation (25 rows, bounded) broadcasts into supplier; the ~1/25
    supplier slice left-semi-joins into lineitem UNHINTED — it is
    SF-proportional (supplier = SF x 10k rows in TPC-H), so AQE
    broadcasts it while under threshold (it does at every test SF) and
    falls back to shuffle instead of OOMing the build side at cluster
    scale (the policy of Q5); one partial-agg'd
    groupBy(l_partkey) shuffle builds vals; the grand total is a 1-row
    aggregate that broadcast-crossJoins back — the standard
    decorrelation of Q11's scalar subquery. At 1000 executors the only
    data-sized exchange is the single partkey shuffle."""
    return sql(spark, sf_dir, f"""
        WITH vals AS (
          SELECT l_partkey,
                 sum(CAST({sql_micros(REVENUE)} AS DECIMAL(38,0))) AS v_micros
          FROM {{lineitem}}
          LEFT SEMI JOIN (
            SELECT /*+ BROADCAST(n) */ s_suppkey
            FROM {{supplier}} JOIN {{nation}} n ON s_nationkey = n_nationkey
            WHERE n_name = 'NATION_7'
          ) ON l_suppkey = s_suppkey
          GROUP BY l_partkey
        )
        SELECT /*+ BROADCAST(tot) */ l_partkey,
               CAST(v_micros AS DOUBLE) / 1000000.0D AS part_value
        FROM vals CROSS JOIN (SELECT sum(v_micros) AS t_micros FROM vals) tot
        WHERE v_micros * 200 > t_micros
    """)
