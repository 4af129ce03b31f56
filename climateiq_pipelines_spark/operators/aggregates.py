"""Aggregation operators (SURVEY.md §2.4) — 16 keys.

Logical agg semantics only — partial/final split, hash-vs-sort agg and
spill are Catalyst/Tungsten's (SURVEY §4). Float policy: every SUM/AVG
over doubles goes through the exact fixed-point long accumulator
(helpers.dsum / davg — see helpers module docstring for the measured 3×
win over a decimal accumulator and the capacity bound); second-order
moments keep decimal power sums (squared measures exceed the long-micro
range) with identical expression trees in Spark and the oracle, so
results are bit-stable across engines and partition layouts.

Scale notes: groupBy keys here are low-cardinality (flags, segments,
priorities) → map-side partial aggregation collapses the shuffle to
~|groups|×partitions rows. High-cardinality aggs (per-order, per-user)
shuffle on the key; skew would be handled by AQE skew splitting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from climateiq_pipelines_spark.functions.helpers import (
    REVENUE,
    exact_agg,
    exact_aggs,
    fin,
    sql_davg,
    sql_dsum,
)
from climateiq_pipelines_spark.plans import register
from climateiq_pipelines_spark.registry import load_table


@register(
    "agg_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum('l_quantity')} AS sum_qty,
           {sql_dsum('l_extendedprice')} AS sum_base_price,
           {sql_dsum(REVENUE)} AS sum_disc_price,
           {sql_dsum(REVENUE + ' * (1 + l_tax)')} AS sum_charge,
           {sql_davg('l_quantity')} AS avg_qty,
           {sql_davg('l_extendedprice')} AS avg_price,
           {sql_davg('l_discount')} AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-01-01'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: the canonical scan→filter→partial-agg→final-agg
    pipeline. At 100 TB the shuffle carries only |groups| rows per map
    task thanks to partial aggregation.

    Q1's ~6 groups span all of lineitem, so every sum is limb-split
    (helpers module docstring, invariants 2 and 3); a sum and an
    average of one measure share its limb sums."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2000-01-01").cast("timestamp_ntz")
    )
    return exact_agg(
        li,
        ["l_returnflag", "l_linestatus"],
        [
            ("dsum", "l_quantity", "sum_qty"),
            ("dsum", "l_extendedprice", "sum_base_price"),
            ("dsum", REVENUE, "sum_disc_price"),
            ("dsum", REVENUE + " * (1 + l_tax)", "sum_charge"),
            ("davg", "l_quantity", "avg_qty"),
            ("davg", "l_extendedprice", "avg_price"),
            ("davg", "l_discount", "avg_disc"),
            ("count", "count_order"),
        ],
    )


@register(
    "agg_count_distinct",
    oracle="""
    SELECT o_orderpriority,
           COUNT(DISTINCT o_custkey) AS n_custs,
           COUNT(DISTINCT (o_custkey, o_orderstatus)) AS n_cust_status,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact multi-column distinct counts per group.

    DATA CONTRACT (round-13 review): the two engines disagree on
    NULL-containing tuples — Spark's countDistinct(a, b) DROPS any row
    with a NULL argument while DuckDB's COUNT(DISTINCT (a, b)) counts
    (x, NULL) as a distinct tuple — so this key's parity additionally
    requires o_custkey/o_orderstatus to be non-null.  That holds for
    every TPC-H-shaped fixture and is pinned as a NAMED precondition by
    tests/test_determinism.py::test_count_distinct_columns_are_non_null,
    so a regenerated fixture with NULLs fails there attributably
    instead of as an opaque off-by-N hash mismatch here."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_custs"),
        F.countDistinct("o_custkey", "o_orderstatus").alias("n_cust_status"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@register(
    "agg_approx_count_distinct",
    oracle="""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS exact_users,
           COUNT(*) AS n_events,
           TRUE AS approx_within_5pct
    FROM events
    GROUP BY event_type
    """,
)
def agg_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++). The raw HLL estimate is
    engine-specific (no cross-engine value oracle exists), so the
    SQL-checkable contract is the ACCURACY BOUND itself: the estimate
    (rsd=0.01 — measured error 0.5-0.7% on this fixture family; the
    default rsd=0.05 sketch actually misses 5% at sf0.1) must sit
    within a 5% band (5x the rsd) of the exact per-group distinct,
    emitted as a boolean next to the exact count — a wrong sketch, a
    broken merge, or a misread column all flip the boolean and
    hash-mismatch. tests/test_sketches.py pins the same band against
    DuckDB's exact counts independently. Scale note: HLL is THE
    distinct-count at 100 TB — fixed KB-sized state per group vs
    unbounded exact state; the exact countDistinct here is the audit
    companion, not the production path."""
    events = load_table(spark, sf_dir, "events")
    agg = events.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.01).alias("approx_users"),
        F.countDistinct("user_id").alias("exact_users"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return agg.select(
        "event_type",
        "exact_users",
        "n_events",
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            <= F.lit(0.05) * F.col("exact_users")
        ).alias("approx_within_5pct"),
    )


@register(
    "agg_conditional_filter",
    oracle=f"""
    SELECT event_type,
           COUNT(*) FILTER (WHERE value > 10) AS n_big,
           {sql_dsum('CASE WHEN value > 10 THEN value END')} AS sum_big,
           COUNT(*) AS n_total
    FROM events
    GROUP BY event_type
    """,
)
def agg_conditional_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTER-clause aggregation (conditional sum/count per group),
    limb-split over ~5 table-sized event_type groups (helpers module
    docstring, invariants 2 and 3).  SUM skips the NULL terms of rows
    that fail the condition, and an all-NULL group sums to NULL -- the
    oracle's CASE WHEN semantics."""
    events = load_table(spark, sf_dir, "events")
    return exact_agg(
        events,
        ["event_type"],
        [
            ("countc", "CASE WHEN value > 10 THEN 1 END", "n_big"),
            ("dsum", "CASE WHEN value > 10 THEN value END", "sum_big"),
            ("count", "n_total"),
        ],
    )


# Second-order moments from EXACT CENT-INTEGER power sums: the measures
# are true 2-decimal values (pinned by test_determinism's cent-grid
# contract), so round(x*100) recovers the exact cent integer on both
# engines and every moment is pure integer arithmetic until ONE final
# integer-sum → double conversion + double division — bit-identical
# cross-engine. This replaced the per-row CAST(x*x AS DECIMAL(25,6))
# form in round 9: quantizing the DOUBLE product is NOT grid-faithful
# at price scale (y² ~ 1e10 has ulp ~ 3.7e-6 > the 5e-7 half-gap —
# measured ~80% of rows with y > 1e5 units flip the 6th decimal), so
# an exact-cents engine against a quantized oracle only matched
# because the final double cast absorbed the sub-ulp net difference.
# Exact cents on BOTH sides removes the quantize dependence entirely.
# The derived double arithmetic (ratios, sqrt chains) is NOT
# association-stable across engines — round-1 showed last-ulp corr
# divergence — so every derived moment is rounded to 9 dp on both
# sides.
#
# DIALECT NOTE (ADVICE r9 #2): this text is DuckDB-ONLY and must not
# be run through spark.sql — SUM(xc * xc) of cent-squared products
# (~1e14/row) relies on DuckDB's SUM(BIGINT)→HUGEINT widening; Spark's
# SUM(BIGINT)→BIGINT would silently overflow around sf1.  The ENGINE
# side accumulates in decimal(30,0) for exactly this reason (see the
# builder comment below).
_MOM = """
    WITH c AS (
      SELECT l_returnflag,
             CAST(round(l_quantity * 100) AS BIGINT) AS xc,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS yc
      FROM lineitem
    ),
    s AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             CAST(SUM(xc) AS DOUBLE) / 100.0 AS sx,
             CAST(SUM(xc * xc) AS DOUBLE) / 10000.0 AS sxx,
             CAST(SUM(yc) AS DOUBLE) / 100.0 AS sy,
             CAST(SUM(yc * yc) AS DOUBLE) / 10000.0 AS syy,
             CAST(SUM(xc * yc) AS DOUBLE) / 10000.0 AS sxy
      FROM c GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           round((sxx - sx * sx / n) / (n - 1), 9) AS var_qty,
           round(sqrt((sxx - sx * sx / n) / (n - 1)), 9) AS std_qty,
           round((sxy - sx * sy / n) / (n - 1), 9) AS covar_qty_price,
           round(((sxy - sx * sy / n) / (n - 1))
             / (sqrt((sxx - sx * sx / n) / (n - 1)) * sqrt((syy - sy * sy / n) / (n - 1))), 9)
             AS corr_qty_price
    FROM s
"""


@register("agg_stats_moments", oracle=_MOM)
def agg_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Per-row path mirrors agg_linear_fit (relational_ext.py): the
    # inputs carry <=2 true decimal places, so one round-to-cent-longs
    # conversion replaces five double->decimal casts and the moment
    # products stay in long arithmetic.
    #
    # Exact integer sums ("isum", helpers module docstring, invariants 2
    # and 3) over the table-sized flag groups.  Each product term, yc²
    # (~1.2e14 per row) and xc·yc, is evaluated in long, so |v| < 2^63
    # per row (|yc| < 3.03e9 cents, price < ~3e7 units; ANSI-loud
    # beyond); its limb sums are exact below 2^42 rows per flag.
    li = load_table(spark, sf_dir, "lineitem")
    xc = F.round(F.col("l_quantity") * 100).cast("long")
    yc = F.round(F.col("l_extendedprice") * 100).cast("long")
    cents = li.select("l_returnflag", xc.alias("xc"), yc.alias("yc"))
    sc = exact_agg(
        cents,
        ["l_returnflag"],
        [
            ("count", "n"),
            ("isum", "xc", "sxc"),
            ("isum", "xc * xc", "sxxc"),
            ("isum", "yc", "syc"),
            ("isum", "yc * yc", "syyc"),
            ("isum", "xc * yc", "sxyc"),
        ],
    )
    # Conversion back to unit scale happens in DOUBLE arithmetic —
    # double(exact integer sum) / 100.0 — the IDENTICAL expression
    # tree the oracle text runs, so the doubles match bit-for-bit.
    c = F.col
    s = sc.select(
        "l_returnflag",
        "n",
        (c("sxc").cast("double") / F.lit(100.0)).alias("sx"),
        (c("sxxc").cast("double") / F.lit(10000.0)).alias("sxx"),
        (c("syc").cast("double") / F.lit(100.0)).alias("sy"),
        (c("syyc").cast("double") / F.lit(10000.0)).alias("syy"),
        (c("sxyc").cast("double") / F.lit(10000.0)).alias("sxy"),
    )
    n, sx, sxx, sy, syy, sxy = (F.col(c) for c in ["n", "sx", "sxx", "sy", "syy", "sxy"])
    var_x = (sxx - sx * sx / n) / (n - 1)
    var_y = (syy - sy * sy / n) / (n - 1)
    covar = (sxy - sx * sy / n) / (n - 1)
    return s.select(
        "l_returnflag",
        fin(var_x, "var_qty", 9),
        fin(F.sqrt(var_x), "std_qty", 9),
        fin(covar, "covar_qty_price", 9),
        fin(covar / (F.sqrt(var_x) * F.sqrt(var_y)), "corr_qty_price", 9),
    )


@register(
    "agg_percentiles",
    oracle="""
    SELECT o_orderpriority,
           round(quantile_cont(o_totalprice, 0.5), 6) AS p50_price,
           round(quantile_cont(o_totalprice, 0.9), 6) AS p90_price
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark `percentile` ≡ DuckDB
    `quantile_cont`, both linear interpolation); rounded because the
    interpolation arithmetic may differ in the last ulp. Scale note:
    exact percentile sorts per group — at 100 TB use approx_percentile
    (t-digest/KLL-style bounded state) unless exactness is contractual."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 6).alias("p50_price"),
        F.round(F.expr("percentile(o_totalprice, 0.9)"), 6).alias("p90_price"),
    )


@register(
    "agg_collect_sorted",
    oracle="""
    SELECT s_nationkey,
           string_agg(s_name, '|' ORDER BY s_name) AS supplier_names,
           COUNT(*) AS n_suppliers
    FROM supplier
    GROUP BY s_nationkey
    """,
)
def agg_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_list is unordered in Spark (partition arrival order) —
    always sort_array for deterministic output (SURVEY §7.4). The list is
    serialized to a '|'-joined scalar because the driver's canonicalizer
    hashes cells and cannot hash Python lists (round-1 CORRECTNESS
    failure); string output is hashable on both sides."""
    supplier = load_table(spark, sf_dir, "supplier")
    return supplier.groupBy("s_nationkey").agg(
        F.array_join(F.sort_array(F.collect_list("s_name")), "|").alias(
            "supplier_names"
        ),
        F.count(F.lit(1)).alias("n_suppliers"),
    )


_ROLLUP_ORACLE = f"""
    SELECT r_name, n_name, {sql_dsum('o_totalprice')} AS revenue
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
"""


@register("agg_rollup", oracle=_ROLLUP_ORACLE)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    customer = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    region = load_table(spark, sf_dir, "region")
    joined = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    # Exact sum (helpers module docstring, invariant 2): the grand-total
    # level sums o_totalprice over ALL orders, so the ROLLUP's
    # aggregate is the limb-split sum.  r_name/n_name are non-null, so
    # the rollup's NULL grouping markers stay unambiguous.
    return joined.rollup("r_name", "n_name").agg(
        *exact_aggs([("dsum", "o_totalprice", "revenue")])
    )


@register(
    "agg_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(F.count(F.lit(1)).alias("n_rows"))


@register(
    "agg_grouping_sets",
    oracle=f"""
    SELECT c_mktsegment, c_nationkey,
           CAST(GROUPING(c_mktsegment) AS INTEGER) AS g_seg,
           CAST(GROUPING(c_nationkey) AS INTEGER) AS g_nat,
           COUNT(*) AS n_custs,
           {sql_dsum('c_acctbal')} AS sum_bal
    FROM customer
    GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit grouping sets with per-column GROUPING flags (bit-order
    portable, unlike a packed grouping_id)."""
    customer = load_table(spark, sf_dir, "customer")
    view = "cps_customer_gs"
    customer.createOrReplaceTempView(view)
    # sql_dsum is valid Spark SQL too (the explicit BIGINT cast is a
    # no-op on Spark's floor) — round-13 review: the hand-inlined copy
    # here was the one fixed-point sum outside the shared helper, the
    # drift class helpers.py's SPLIT_SALT note records as a past
    # incident.
    return spark.sql(
        f"""
        SELECT c_mktsegment, c_nationkey,
               CAST(grouping(c_mktsegment) AS INT) AS g_seg,
               CAST(grouping(c_nationkey) AS INT) AS g_nat,
               COUNT(*) AS n_custs,
               {sql_dsum('c_acctbal')} AS sum_bal
        FROM {view}
        GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
        """
    )


@register(
    "agg_distinct_rows",
    oracle="SELECT DISTINCT c_mktsegment, c_nationkey FROM customer",
)
def agg_distinct_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    return customer.select("c_mktsegment", "c_nationkey").distinct()


@register(
    "agg_min_max_by",
    oracle="""
    WITH j AS (
      SELECT c_mktsegment, o_orderkey, o_totalprice
      FROM orders JOIN customer ON o_custkey = c_custkey
    ), w AS (
      SELECT *,
        row_number() OVER (PARTITION BY c_mktsegment
                           ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn_max,
        row_number() OVER (PARTITION BY c_mktsegment
                           ORDER BY o_totalprice ASC, o_orderkey ASC) AS rn_min
      FROM j
    )
    SELECT c_mktsegment,
           max(CASE WHEN rn_max = 1 THEN o_orderkey END) AS max_price_orderkey,
           max(CASE WHEN rn_min = 1 THEN o_orderkey END) AS min_price_orderkey,
           max(o_totalprice) AS max_price,
           min(o_totalprice) AS min_price
    FROM w GROUP BY c_mktsegment
    """,
)
def agg_min_max_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """argmax/argmin per group, made tie-proof with a struct ordering key
    (o_totalprice, o_orderkey): with equal prices both engines then agree
    on the larger/smaller orderkey instead of picking arbitrarily."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    customer = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    tie_key = F.struct("o_totalprice", "o_orderkey")
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.max_by("o_orderkey", tie_key).alias("max_price_orderkey"),
            F.min_by("o_orderkey", tie_key).alias("min_price_orderkey"),
            F.max("o_totalprice").alias("max_price"),
            F.min("o_totalprice").alias("min_price"),
        )
    )


@register(
    "agg_pivot",
    oracle="""
    SELECT user_id,
           COUNT(*) FILTER (WHERE event_type = 'click') AS click,
           COUNT(*) FILTER (WHERE event_type = 'view') AS view,
           COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
           COUNT(*) FILTER (WHERE event_type = 'error') AS error
    FROM events
    GROUP BY user_id
    """,
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long→wide): per-user event counts, one column per event
    type. The pivot VALUES are passed explicitly — with an explicit
    list Spark pivots in one pass; omitting it adds a whole extra
    collect-distinct job over the data, which is the difference between
    one scan and two at 100 TB. Count of an absent combination is
    null → coalesced to 0 to match the FILTER formulation."""
    events = load_table(spark, sf_dir, "events")
    types = ["click", "view", "purchase", "signup", "error"]
    pivoted = (
        events.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
    )
    return pivoted.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in types],
    )


@register(
    "agg_approx_percentile",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n_orders,
           TRUE AS p50_ok, TRUE AS p90_ok
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile per priority — the bounded-state quantile for
    100 TB (Greenwald-Khanna style summary vs the exact per-group sort
    of agg_percentiles). The sketch VALUE is engine-specific, so the
    SQL-checkable contract is the GK rank-error guarantee itself: the
    empirical rank band of each approximate quantile (#rows < v, #rows
    <= v) must contain the target quantile within eps = 1/accuracy plus
    one 1/n order-statistic step — computed exactly in-engine and
    emitted as booleans the oracle pins to TRUE. A drifted sketch or a
    broken accuracy knob flips the boolean and hash-mismatches.
    tests/test_sketches.py re-derives the same band against DuckDB's
    exact order statistics independently.

    Plan shape: one pass builds the 5-row per-priority sketch table,
    which broadcasts back onto the fact scan for the rank-band count —
    two scans of one column, no shuffle of fact rows beyond the
    5-group partial agg."""
    accuracy = 10_000
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_totalprice"
    )
    pctl = orders.groupBy("o_orderpriority").agg(
        F.expr(
            f"approx_percentile(o_totalprice, array(0.5, 0.9), {accuracy})"
        ).alias("ap"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    bands = pctl.select(
        F.col("o_orderpriority").alias("pri"),
        F.col("ap")[0].alias("p50"),
        F.col("ap")[1].alias("p90"),
        "n_orders",
    )
    j = orders.join(
        F.broadcast(bands), orders.o_orderpriority == bands.pri
    )
    ranked = j.groupBy("o_orderpriority").agg(
        F.first("n_orders").alias("n_orders"),
        F.count(F.when(F.col("o_totalprice") < F.col("p50"), 1)).alias("lo50"),
        F.count(F.when(F.col("o_totalprice") <= F.col("p50"), 1)).alias("hi50"),
        F.count(F.when(F.col("o_totalprice") < F.col("p90"), 1)).alias("lo90"),
        F.count(F.when(F.col("o_totalprice") <= F.col("p90"), 1)).alias("hi90"),
    )
    n = F.col("n_orders").cast("double")
    eps = F.lit(1.0 / accuracy) + F.lit(1.0) / n

    def ok(lo: str, hi: str, q: float):
        return (F.col(lo) / n - eps <= F.lit(q)) & (
            F.lit(q) <= F.col(hi) / n + eps
        )

    return ranked.select(
        "o_orderpriority",
        "n_orders",
        ok("lo50", "hi50", 0.5).alias("p50_ok"),
        ok("lo90", "hi90", 0.9).alias("p90_ok"),
    )


@register(
    "agg_hll_sketch_merge",
    oracle="""
    SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS exact_distinct,
           TRUE AS approx_within_5pct
    FROM orders GROUP BY o_orderpriority
    UNION ALL
    SELECT 'ALL', COUNT(DISTINCT o_custkey), TRUE FROM orders
    """,
)
def agg_hll_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE distinct-count sketches (Apache DataSketches HLL) — the
    100 TB count-distinct path: each partition/segment builds a small
    fixed-size sketch, sketches merge associatively (hll_union_agg), and
    the estimate reads off the merged state — no shuffle of raw keys,
    re-aggregatable across days/segments without rescanning.

    Sketch binaries/estimates are engine-specific (DuckDB's HLL is a
    different implementation), so the SQL-checkable contract is the
    accuracy band: each per-priority estimate, AND the ALL row's
    estimate read off the MERGED union of the per-priority sketches
    (never re-touching the rows), must sit within 5% of the exact
    distinct — emitted as booleans next to the exact counts. A broken
    union or estimate flips the boolean and hash-mismatches; the exact
    5%-band numbers are also pinned by tests/test_sketches.py."""
    orders = load_table(spark, sf_dir, "orders")
    per = orders.groupBy("o_orderpriority").agg(
        F.hll_sketch_agg("o_custkey").alias("sketch"),
        F.count_distinct("o_custkey").alias("exact_distinct"),
    )
    within = lambda est, exact: F.abs(est - exact) <= F.lit(0.05) * exact
    per_rows = per.select(
        "o_orderpriority",
        "exact_distinct",
        within(
            F.hll_sketch_estimate("sketch").cast("long"),
            F.col("exact_distinct"),
        ).alias("approx_within_5pct"),
    )
    exact_all = orders.agg(
        F.count_distinct("o_custkey").alias("exact_distinct")
    )
    merged = (
        per.agg(
            F.hll_sketch_estimate(F.hll_union_agg("sketch"))
            .cast("long")
            .alias("merged_est")
        )
        .crossJoin(F.broadcast(exact_all))
        .select(
            F.lit("ALL").alias("o_orderpriority"),
            "exact_distinct",
            within(F.col("merged_est"), F.col("exact_distinct")).alias(
                "approx_within_5pct"
            ),
        )
    )
    return per_rows.unionByName(merged)


@register(
    "agg_unpivot_melt",
    oracle=f"""
    WITH m AS (
      SELECT 'l_quantity' AS measure, l_quantity AS val
      FROM lineitem WHERE l_orderkey % 10 = 0
      UNION ALL SELECT 'l_extendedprice', l_extendedprice
      FROM lineitem WHERE l_orderkey % 10 = 0
      UNION ALL SELECT 'l_discount', l_discount
      FROM lineitem WHERE l_orderkey % 10 = 0
      UNION ALL SELECT 'l_tax', l_tax
      FROM lineitem WHERE l_orderkey % 10 = 0
    )
    SELECT measure, CAST(COUNT(*) AS BIGINT) AS n_rows,
           {sql_dsum('val')} AS sum_val
    FROM m GROUP BY measure
    """,
)
def agg_unpivot_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt): the wide→long reshape operator — four lineitem
    measures melted to (measure, val) rows, then re-aggregated per
    measure. Spark's native DataFrame.unpivot compiles to ONE Expand
    node over a single scan (each input row emits 4 output rows
    in-operator); the declarative UNION-ALL equivalent the oracle spells
    out would scan the fact table FOUR times — at 100 TB that is the
    difference between one pass and four. The melt feeds a partial
    aggregate immediately, so the 4x row expansion never hits a
    shuffle: combine happens map-side per measure; the 4 measure groups
    are table-sized, so the sum is limb-split (helpers module
    docstring, invariants 2 and 3) and only the partials shuffle."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") % 10 == 0
    )
    melted = li.unpivot(
        ids=[],
        values=["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        variableColumnName="measure",
        valueColumnName="val",
    )
    return exact_agg(
        melted,
        ["measure"],
        [("count", "n_rows"), ("dsum", "val", "sum_val")],
    )
