"""Round-6 TPC-H third wave (Q8 / Q9 / Q15 / Q16 / Q17 / Q20 shapes) —
the remaining classic composites expressible over the fixture's tables.
Loaded after the driver's 50-entry certification window
(plans.load_all); covered by tools/driver_sim.py and rotation-targeted
for round 7.

Fixture adaptations (consistent with the Q2/Q21 wave): there is no
partsupp table, no l_commitdate/l_receiptdate, and no p_container —
supply relationships come from lineitem's (l_partkey, l_suppkey) pairs,
nations are NATION_0..24, and part names are '<adjective> <noun>'
('small ring', 'red widget', ...). Every key keeps the ORIGINAL query's
optimizer-relevant shape (the point of the wave): exact conditional
share aggregate (Q8), multi-dim star join with a LIKE filter (Q9),
max-equality over an aggregated view (Q15), anti-join + count-distinct
grouping (Q16), correlated per-part average threshold (Q17), nested
semi-join chain (Q20).

Float policy as everywhere: all revenue/quantity sums go through the
fixed-point long accumulator (helpers.dsum), so both engines produce
bit-identical doubles and the share divisions / threshold comparisons /
max-equality picks are exact on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from climateiq_pipelines_spark.functions.helpers import (
    REVENUE,
    davg_window,
    dsum,
    exact_agg,
    micros,
    revenue_col,
    sql_dsum,
)
from climateiq_pipelines_spark.plans import register
from climateiq_pipelines_spark.registry import load_table


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
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    ).select("o_orderkey", "o_custkey", F.year("o_orderdate").alias("o_year"))
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_type") == "PROMO")
        .select("p_partkey")
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    sn = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    cn = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region")
    )
    region = (
        load_table(spark, sf_dir, "region")
        .filter(F.col("r_name") == "ASIA")
        .select("r_regionkey")
    )
    asia_cn = cn.join(
        F.broadcast(region), cn.cn_region == F.col("r_regionkey")
    ).select("cn_key")
    rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(part, li.l_partkey == part.p_partkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(asia_cn), cust.c_nationkey == F.col("cn_key"))
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(sn), supp.s_nationkey == sn.sn_key)
    )
    # two o_year groups over the region-filtered fact chain are
    # table-fraction-sized: both accumulators are limb-split sums,
    # exact below 2^42 rows per group (helpers invariant 3)
    return (
        exact_agg(
            rev,
            ["o_year"],
            [
                (
                    "dsum",
                    f"CASE WHEN supp_nation = 'NATION_3' THEN {REVENUE} ELSE 0.0 END",
                    "nation_rev",
                ),
                ("dsum", REVENUE, "total_rev"),
            ],
        )
        .select(
            "o_year",
            F.round(F.col("nation_rev") / F.col("total_rev"), 6).alias(
                "mkt_share"
            ),
        )
    )


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
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").contains("red"))
        .select("p_partkey")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").alias("o_year")
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    sn = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("nation")
    )
    red = (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(sn), supp.s_nationkey == sn.sn_key)
    )
    # nation x year groups over the part-filtered fact are
    # table-fraction-sized: limb-split sums, exact below 2^42 rows per
    # group (helpers invariant 3)
    return exact_agg(
        red, ["nation", "o_year"], [("dsum", REVENUE, "sum_profit")]
    )


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
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
    )
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        dsum(revenue_col(), "total_revenue")
    )
    w = W.partitionBy()
    best = rev.withColumn(
        "max_rev", F.max("total_revenue").over(w)
    ).filter(F.col("total_revenue") == F.col("max_rev"))
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return best.join(supp, best.supplier_no == supp.s_suppkey).select(
        "s_suppkey",
        "s_name",
        F.round("total_revenue", 6).alias("total_revenue"),
    )


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
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey"
    ).distinct()
    part = (
        load_table(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#1")
            & (F.col("p_type") != "PROMO")
            & F.col("p_size").isin(1, 4, 9, 14, 23, 36, 45, 49)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    complaints = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    kept = li.join(
        complaints, li.l_suppkey == complaints.s_suppkey, "left_anti"
    )
    return (
        kept.join(part, kept.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


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
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#1")
        .select("p_partkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    brand_li = li.join(part, li.l_partkey == part.p_partkey)
    w = W.partitionBy("l_partkey")
    # helpers.davg_window (round-13 review batch F): the inline scale
    # here sat next to an oracle built from sql_dsum — the documented
    # scale-drift class.
    avg_qty = davg_window(F.col("l_quantity"), w)
    small = brand_li.withColumn("qty_limit", F.lit(0.2) * avg_qty).filter(
        F.col("l_quantity") < F.col("qty_limit")
    )
    # the final sum is GLOBAL over the small-quantity band: limb-split,
    # exact below 2^42 rows (helpers invariant 3).  Zero kept rows
    # aggregate to one NULL-revenue row on both engines.
    return exact_agg(small, [], [("dsum", "l_extendedprice", "rev")]).select(
        F.round(F.col("rev") / F.lit(7.0), 6).alias("avg_yearly")
    )


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
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").startswith("small"))
        .select("p_partkey")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    ).select("l_partkey", "l_suppkey", "l_quantity")
    shipped = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("l_partkey", "l_suppkey")
        .agg(dsum(F.col("l_quantity"), "qty"))
    )
    w = W.partitionBy("l_partkey")
    dominant = (
        shipped.withColumn("part_total", F.sum("qty").over(w))
        .filter(F.col("qty") > F.lit(0.5) * F.col("part_total"))
        .select("l_suppkey")
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return supp.join(
        dominant, supp.s_suppkey == dominant.l_suppkey, "left_semi"
    )


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
    — the per-part sum accumulates in DECIMAL(38,0) (round-13: Spark
    SUM(BIGINT) silently wraps while the oracle's DuckDB sum widens to
    HUGEINT; decimal matches that widening, so the `v*200 > t` cut is
    exact integer arithmetic at ANY SF, not just under the 2^63
    headroom the previous form relied on).  The output value is the
    single exact int→double conversion.

    Plan: nation (25 rows, bounded) broadcasts into supplier; the ~1/25
    supplier slice left-semi-joins into lineitem UNHINTED — it is
    SF-proportional (supplier = SF x 10k rows in TPC-H), so AQE
    broadcasts it while under threshold (it does at every test SF) and
    falls back to shuffle instead of OOMing the build side at cluster
    scale (the round-5 BROADCAST_OK policy); one partial-agg'd
    groupBy(l_partkey) shuffle builds vals; the grand total is a 1-row
    aggregate that broadcast-crossJoins back — the standard
    decorrelation of Q11's scalar subquery. At 1000 executors the only
    data-sized exchange is the single partkey shuffle."""
    nation = (
        load_table(spark, sf_dir, "nation")
        .filter(F.col("n_name") == "NATION_7")
        .select("n_nationkey")
    )
    sup = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    # DECIMAL(38,0) accumulation (round-13 review batch F): Spark's
    # SUM(BIGINT) silently WRAPS on overflow while the oracle's DuckDB
    # SUM(BIGINT) widens to HUGEINT — at large SF one nation's
    # Σ|rev|·1e6 (×200 in the threshold) approaches 2^63 and the kept
    # set would silently diverge.  decimal(38,0) matches the oracle's
    # widening semantics exactly (the aggregates._MOM dialect-note
    # policy); the threshold compare stays pure integer arithmetic.
    vals = (
        li.join(sup, li.l_suppkey == sup.s_suppkey, "left_semi")
        .groupBy("l_partkey")
        .agg(
            F.sum(micros(revenue_col()).cast("decimal(38,0)")).alias(
                "v_micros"
            )
        )
    )
    tot = vals.agg(F.sum("v_micros").alias("t_micros"))
    return (
        vals.crossJoin(F.broadcast(tot))
        .filter(F.col("v_micros") * 200 > F.col("t_micros"))
        .select(
            "l_partkey",
            (F.col("v_micros").cast("double") / F.lit(1e6)).alias("part_value"),
        )
    )
