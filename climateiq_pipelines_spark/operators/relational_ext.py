"""Round-6 relational breadth extensions (third wave): gaps-and-islands
runs, Markov transition matrices, null-safe joins, bitwise scalar
functions, boolean aggregates, Z-order locality keys, exact-moment
linear fits, grid-bucketed interval-overlap joins, per-window top-k,
and running distinct counts. Registered after the driver's 50-entry
certification window (plans.load_all) so the round-6 rotation layout
is untouched; covered by tools/driver_sim.py and rotation-targeted
for round 7+.

Scale notes per key live in the docstrings; the common discipline: the
only data-sized shuffles are the grouping/window keys themselves, every
post-aggregate window runs over a bounded relation, and all arithmetic
that feeds the hash is integer-exact on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from climateiq_pipelines_spark.functions.helpers import exact_agg, micros
from climateiq_pipelines_spark.plans import register
from climateiq_pipelines_spark.registry import load_table

_ISLANDS_ORACLE = """
    WITH ordered AS (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS ra,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS rt
      FROM events
    ),
    isl AS (
      SELECT user_id, event_type, ra - rt AS grp, COUNT(*) AS island_len
      FROM ordered GROUP BY user_id, event_type, ra - rt
    )
    SELECT user_id, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_islands,
           CAST(MAX(island_len) AS BIGINT) AS longest_island,
           CAST(SUM(island_len) AS BIGINT) AS n_events
    FROM isl GROUP BY user_id, event_type
"""


@register("win_gap_islands", oracle=_ISLANDS_ORACLE)
def win_gap_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GAPS AND ISLANDS — the classic run-length shape SQL interviews
    are made of and real stream analytics actually needs (consecutive
    same-type event runs per user: retry bursts, streak detection,
    sessionized repetition). An island is a maximal run of one
    event_type in a user's time-ordered stream; the island id is the
    row_number difference trick: rn(user) - rn(user, type) is constant
    exactly within a run. Output: per (user, type) the island count,
    the longest run, and total events — run-length statistics with no
    timestamps in the hash (event ordering uses event_id as the
    deterministic tie-break).

    Plan: both row_numbers share ONE user_id shuffle (the second
    window's (user_id, event_type) partitioning is a prefix-compatible
    sort within it — Catalyst plans two Window nodes over one
    Exchange); the double aggregate collapses map-side. Per-user state
    is a counter pair — at 100 TB the only data-sized shuffle is the
    user_id partitioning, identical to every other events key."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    wa = W.partitionBy("user_id").orderBy("ts", "event_id")
    wt = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    runs = ev.select(
        "user_id",
        "event_type",
        (F.row_number().over(wa) - F.row_number().over(wt)).alias("grp"),
    )
    islands = runs.groupBy("user_id", "event_type", "grp").agg(
        F.count(F.lit(1)).alias("island_len")
    )
    return islands.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n_islands"),
        F.max("island_len").alias("longest_island"),
        F.sum("island_len").alias("n_events"),
    )


_MARKOV_ORACLE = """
    WITH steps AS (
      SELECT event_type AS from_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS to_type
      FROM events
    ),
    cnt AS (
      SELECT from_type, to_type, COUNT(*) AS n
      FROM steps WHERE to_type IS NOT NULL
      GROUP BY from_type, to_type
    )
    SELECT from_type, to_type,
           CAST(n AS BIGINT) AS n_transitions,
           CAST((n * 1000000) // SUM(n) OVER (PARTITION BY from_type)
                AS BIGINT) AS p_micro
    FROM cnt
"""


@register("events_markov_transitions", oracle=_MARKOV_ORACLE)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIRST-ORDER MARKOV TRANSITION MATRIX over user event streams —
    the "what happens after X" model behind next-event prediction,
    funnel drop-off analysis, and sessionized UX work. One lead() per
    user stream (event_id tie-break), transition counts, and each
    row's conditional probability P(to | from) in exact integer
    micro-units: (n * 1e6) DIV row-total — integer floor division on
    both engines, so the probabilities are bit-identical and no float
    ever enters the hash.

    Plan: the lead() shares the standard user_id shuffle; counting is
    a map-side-combined aggregate to at most |event_type|² rows; the
    normalizing window runs over THAT bounded relation only
    (partitioned by from_type — never the event stream). At 100 TB
    the transition matrix is still |event_type|² rows."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    uw = W.partitionBy("user_id").orderBy("ts", "event_id")
    steps = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(uw).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    cnt = steps.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    fw = W.partitionBy("from_type")
    return cnt.select(
        "from_type",
        "to_type",
        F.col("n").alias("n_transitions"),
        F.expr("n * 1000000").cast("long").alias("_num"),
        F.sum("n").over(fw).alias("_den"),
    ).select(
        "from_type",
        "to_type",
        "n_transitions",
        F.expr("_num div _den").cast("long").alias("p_micro"),
    )


_NULLSAFE_ORACLE = """
    WITH lhs AS (
      SELECT o_orderkey,
             CASE WHEN o_custkey % 7 = 0 THEN NULL
                  ELSE o_custkey % 100 END AS k
      FROM orders
    ),
    rhs AS (
      SELECT CASE WHEN c_custkey % 5 = 0 THEN NULL
                  ELSE c_custkey % 100 END AS ck,
             COUNT(*) AS n_cust
      FROM customer GROUP BY 1
    )
    SELECT lhs.k,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(MAX(rhs.n_cust) AS BIGINT) AS n_cust_matched
    FROM lhs LEFT JOIN rhs ON lhs.k IS NOT DISTINCT FROM rhs.ck
    GROUP BY lhs.k
"""


@register("join_null_safe", oracle=_NULLSAFE_ORACLE)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-SAFE EQUALITY JOIN (`<=>` / IS NOT DISTINCT FROM) — the
    join discipline for nullable business keys, where plain `=` would
    silently drop every NULL row instead of matching NULL groups
    together. Both sides derive a nullable bucket key (orders: NULL
    for every 7th customer; customer counts: NULL for every 5th), the
    left join uses eqNullSafe, and the NULL bucket must MATCH (one
    output row with k = NULL carrying the NULL-side customer count) —
    the semantics `=` cannot express.

    Plan: eqNullSafe is still an EQUI-join to Catalyst (keyed on
    coalesce-normalized values), so it hash-partitions both sides —
    never a nested loop; the right side pre-aggregates to ≤101 rows
    before the join, so AQE broadcasts it. At 100 TB: identical to
    any keyed join; NULL keys all land in one partition, which is why
    the right side must be pre-aggregated (it is)."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.when(F.col("o_custkey") % 7 == 0, F.lit(None))
        .otherwise(F.col("o_custkey") % 100)
        .alias("k"),
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .select(
            F.when(F.col("c_custkey") % 5 == 0, F.lit(None))
            .otherwise(F.col("c_custkey") % 100)
            .alias("ck")
        )
        .groupBy("ck")
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    joined = orders.join(cust, orders["k"].eqNullSafe(cust["ck"]), "left")
    return joined.groupBy("k").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.max("n_cust").alias("n_cust_matched"),
    )


_BITWISE_ORACLE = """
    SELECT p_partkey,
           CAST(p_partkey & 255 AS BIGINT)          AS band,
           CAST(p_partkey | 4096 AS BIGINT)         AS ored,
           CAST(xor(p_partkey, 1365) AS BIGINT)     AS xored,
           CAST(~p_partkey AS BIGINT)               AS inverted,
           CAST((p_partkey % 1024) << 3 AS BIGINT)  AS shifted_l,
           CAST(p_partkey >> 2 AS BIGINT)           AS shifted_r,
           CAST(bit_count(p_partkey) AS BIGINT)     AS n_bits,
           CAST((p_partkey >> 3) & 1 AS BIGINT)     AS bit3
    FROM part
"""


@register("fn_bitwise", oracle=_BITWISE_ORACLE)
def fn_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BITWISE FUNCTION SURFACE (§2.6 breadth): AND/OR/XOR masks,
    complement, shifts, popcount, and single-bit probes — the
    arithmetic behind bitmap flags, hash partitioning, bloom-filter
    math, and the simhash/z-order keys elsewhere in this repo, here
    demonstrated as first-class scalar functions over a keyed column.
    Two's-complement semantics on int64 agree between the JVM and
    DuckDB for every operation used (inputs are nonnegative keys; the
    complement row proves sign handling too).

    Plan: a zero-shuffle codegen map over the scan — bitwise ops are
    single JVM instructions inside whole-stage codegen; column pruning
    reads exactly one int column."""
    part = load_table(spark, sf_dir, "part").select("p_partkey")
    pk = F.col("p_partkey")
    return part.select(
        "p_partkey",
        pk.bitwiseAND(F.lit(255)).cast("long").alias("band"),
        pk.bitwiseOR(F.lit(4096)).cast("long").alias("ored"),
        pk.bitwiseXOR(F.lit(1365)).cast("long").alias("xored"),
        F.bitwise_not(pk).cast("long").alias("inverted"),
        F.shiftleft((pk % 1024).cast("int"), 3).cast("long").alias(
            "shifted_l"
        ),
        # ADVICE r6: shift the full BIGINT (the int cast truncated
        # p_partkey to 32 bits, silently diverging from the oracle's
        # 64-bit `p_partkey >> 2` once keys exceed 2^31 at larger SF).
        F.expr("shiftright(p_partkey, 2)").cast("long").alias("shifted_r"),
        F.bit_count(pk).cast("long").alias("n_bits"),
        F.expr("shiftright(p_partkey, 3)")
        .bitwiseAND(F.lit(1))
        .cast("long")
        .alias("bit3"),
    )


_BOOL_ORACLE = """
    SELECT o_orderpriority,
           bool_and(o_totalprice > 1000)   AS all_above_1k,
           bool_or(o_totalprice > 400000)  AS any_jumbo,
           CAST(COUNT(*) FILTER (WHERE o_totalprice > 400000) AS BIGINT)
             AS n_jumbo,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders GROUP BY o_orderpriority
"""


@register("agg_bool_logic", oracle=_BOOL_ORACLE)
def agg_bool_logic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOOLEAN AGGREGATES (§2.3 breadth): bool_and / bool_or /
    count_if — the data-quality assertion primitives ("does EVERY
    order clear the floor? does ANY exceed the ceiling? how many?")
    that validation suites aggregate over billions of rows. Predicates
    compare doubles to integer literals, so the booleans are exact on
    both engines and no float reaches the hash.

    Plan: all three fold into ONE map-side-combined hash aggregate
    (bool_and/bool_or combine as min/max of a bit — constant state per
    group); single shuffle on the 5-value priority key."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_totalprice"
    )
    price = F.col("o_totalprice")
    return orders.groupBy("o_orderpriority").agg(
        F.bool_and(price > 1000).alias("all_above_1k"),
        F.bool_or(price > 400000).alias("any_jumbo"),
        F.count_if(price > 400000).alias("n_jumbo"),
        F.count(F.lit(1)).alias("n_orders"),
    )


def _z_interleave_sql(x: str, y: str, div: str) -> str:
    """16-bit Morton/Z-order interleave of two 8-bit coordinates as
    pure integer arithmetic — bit i of x lands at position 2i+1, bit i
    of y at 2i. Emitted as a SQL string so BOTH engines evaluate the
    IDENTICAL expression tree; only the floor-division token differs
    (`div` on Spark, `//` on DuckDB), and all operands are nonnegative
    so the two floor semantics coincide."""
    terms = []
    for i in range(8):
        terms.append(f"((({x}) {div} {1 << i}) % 2) * {1 << (2 * i + 1)}")
        terms.append(f"((({y}) {div} {1 << i}) % 2) * {1 << (2 * i)}")
    return " + ".join(terms)


def _zorder_oracle() -> str:
    x = "o_custkey % 256"
    y = "datediff('day', DATE '1992-01-01', o_orderdate) % 256"
    z = _z_interleave_sql("xx", "yy", "//")
    return f"""
    WITH coords AS (
      SELECT {x} AS xx, {y} AS yy FROM orders
    ),
    keyed AS (
      SELECT xx, yy, {z} AS zkey FROM coords
    )
    SELECT CAST(zkey // 256 AS BIGINT) AS tile,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(xx) AS BIGINT) AS x_min,
           CAST(MAX(xx) AS BIGINT) AS x_max,
           CAST(MIN(yy) AS BIGINT) AS y_min,
           CAST(MAX(yy) AS BIGINT) AS y_max,
           MAX(xx) - MIN(xx) <= 15 AS x_bounded,
           MAX(yy) - MIN(yy) <= 15 AS y_bounded
    FROM keyed GROUP BY zkey // 256
    """


@register("sort_zorder_locality", oracle=_zorder_oracle())
def sort_zorder_locality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER (Morton) CLUSTERING KEY — the multi-dimensional layout
    trick behind Delta/Iceberg OPTIMIZE ZORDER: interleave the bits of
    two coordinates so that sorting by ONE scalar key co-locates rows
    that are close in BOTH dimensions, which turns per-file min/max
    stats into effective data-skipping indexes for predicates on
    either column. The key quantizes (customer, order-day) to 8 bits
    each, builds the 16-bit Morton code in pure integer arithmetic
    (identical expression text on both engines), and AUDITS the
    locality contract per 256-wide z-tile: every naturally-aligned
    block of 256 consecutive z values must span ≤ a 16×16 rectangle —
    the pinned booleans `x_bounded`/`y_bounded` are the data-skipping
    guarantee itself (a wrong interleave breaks them immediately).

    Plan: the Morton code is a zero-shuffle codegen map (16 unrolled
    div/mod/multiply terms — no UDF, no loop at runtime); the tile
    audit is one map-side-combined aggregate on the derived tile id.
    At 100 TB you'd `repartitionByRange(zkey).sortWithinPartitions`
    before writing (the sink_sorted_bucketed discipline); the audit
    here proves the KEY delivers locality, which is the part a wrong
    implementation silently loses."""
    orders = load_table(spark, sf_dir, "orders").select(
        (F.col("o_custkey") % 256).alias("xx"),
        (
            F.datediff(F.col("o_orderdate"), F.lit("1992-01-01")) % 256
        ).alias("yy"),
    )
    keyed = orders.withColumn(
        "zkey", F.expr(_z_interleave_sql("xx", "yy", "div"))
    )
    tiles = keyed.groupBy(
        F.expr("zkey div 256").cast("long").alias("tile")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("xx").cast("long").alias("x_min"),
        F.max("xx").cast("long").alias("x_max"),
        F.min("yy").cast("long").alias("y_min"),
        F.max("yy").cast("long").alias("y_max"),
    )
    return tiles.select(
        "tile",
        "n_rows",
        "x_min",
        "x_max",
        "y_min",
        "y_max",
        (F.col("x_max") - F.col("x_min") <= 15).alias("x_bounded"),
        (F.col("y_max") - F.col("y_min") <= 15).alias("y_bounded"),
    )


# DIALECT NOTE (ADVICE r9 #2): DuckDB-only text — SUM(xc * xc) relies
# on SUM(BIGINT)→HUGEINT widening; running it through spark.sql would
# silently overflow int64 around sf1 (see aggregates._MOM's twin note).
_FIT_ORACLE = """
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
             CAST(SUM(xc * yc) AS DOUBLE) / 10000.0 AS sxy
      FROM c GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           CAST(n AS BIGINT) AS n,
           round(b, 9) AS slope,
           round((sy - b * sx) / n, 9) AS intercept,
           round(sy / n + b * (50 - sx / n), 6) AS pred_at_50
    FROM (
      SELECT *,
             CASE WHEN n * sxx - sx * sx = 0 THEN NULL
                  ELSE (n * sxy - sx * sy) / (n * sxx - sx * sx) END AS b
      FROM s
    )
"""


@register("agg_linear_fit", oracle=_FIT_ORACLE)
def agg_linear_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINEAR REGRESSION FROM EXACT MOMENTS — per-group least-squares
    fit (price ~ quantity per return flag) computed the way a
    distributed engine must: accumulate the exact decimal moment sums
    (n, Σx, Σx², Σy, Σxy — associative, partition-order independent;
    the agg_stats_moments recipe), then derive slope/intercept from
    the closed form β = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²) in ONE fixed
    IEEE expression tree over those exact inputs, rounded at the
    boundary (the fin policy — derived ratios are where engines
    diverge, so only rounded values reach the hash). `pred_at_50` is
    the fitted line evaluated at x = 50 — the "use the model" step.

    This is what Spark's regr_slope/regr_intercept compute, but those
    built-ins accumulate raw doubles, so their last ulps depend on
    partition layout — exactly the nondeterminism the moment-sum
    policy exists to kill (pinned by test_determinism). Plan: one
    map-side-combined aggregate on the 3-value flag key; at 100 TB the
    moment state is 5 numbers per group.

    Per-row cost: the inputs are parquet doubles with <=2 true decimal
    places (quantity integral, price in cents), so each row converts
    ONCE to exact cent longs (round half-away is irrelevant — the
    doubles sit within 1e-9 of integers) and the moment products stay
    in long arithmetic; only the merged group sums are decimal(38,0)
    (cent^2 sums reach ~3e23 at 6e12 rows — outside long). Scale
    fix-up back to unit moments happens in double arithmetic
    post-aggregate on the 3-row result, the same
    expression tree as the oracle text — exact cents on BOTH sides,
    no quantize-of-double dependence anywhere (see the _MOM comment
    in aggregates.py for why that matters at price scale). Measured
    vs the per-row double->decimal(25,6) cast form it replaces:
    0.87 s vs 1.28 s min-of-3 warm at sf0.1 (BASELINE.md round-9)."""
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity")
    y = F.col("l_extendedprice")
    xc = F.round(x * 100).cast("long")
    yc = F.round(y * 100).cast("long")
    cents = li.select("l_returnflag", xc.alias("xc"), yc.alias("yc"))
    # Exact integer sums ("isum", helpers module docstring, invariants
    # 2 and 3): limb-split long cent-moment sums, recombined in
    # decimal(38,0).  Every per-row term is int64 (the largest, xc*yc,
    # is ≤ 5e3 * 5.5e6 = 2.75e10), so each flag's sums are exact below
    # 2^42 rows in that flag, whatever the partition layout (ANSI-loud
    # beyond).
    sc = exact_agg(
        cents,
        ["l_returnflag"],
        [
            ("count", "n"),
            ("isum", "xc", "sxc"),
            ("isum", "xc * xc", "sxxc"),
            ("isum", "yc", "syc"),
            ("isum", "xc * yc", "sxyc"),
        ],
    )
    # double(exact integer sum) / 100.0 — the identical expression tree
    # the oracle text runs, so the unit-scale doubles match bitwise.
    s = sc.select(
        "l_returnflag",
        "n",
        (F.col("sxc").cast("double") / F.lit(100.0)).alias("sx"),
        (F.col("sxxc").cast("double") / F.lit(10000.0)).alias("sxx"),
        (F.col("syc").cast("double") / F.lit(100.0)).alias("sy"),
        (F.col("sxyc").cast("double") / F.lit(10000.0)).alias("sxy"),
    )
    n, sx, sxx, sy, sxy = (
        F.col(c) for c in ["n", "sx", "sxx", "sy", "sxy"]
    )
    # Zero-variance groups (constant x, e.g. single-row edge groups)
    # have an exactly-zero denominator — NULL fit on both engines
    # instead of an ANSI divide-by-zero.
    denom = n * sxx - sx * sx
    slope = F.when(denom != 0, (n * sxy - sx * sy) / denom)
    return s.select(
        "l_returnflag",
        n.alias("n"),
        F.round(slope, 9).alias("slope"),
        F.round((sy - slope * sx) / n, 9).alias("intercept"),
        F.round(sy / n + slope * (F.lit(50) - sx / n), 6).alias(
            "pred_at_50"
        ),
    )


_IVL_A_MOD = 97  # sparse deterministic slices of orders -> interval sets
_IVL_B_MOD = 89


def _interval_overlap_oracle() -> str:
    return f"""
    WITH a AS (
      SELECT o_orderkey AS a_key, o_orderdate AS a_start,
             o_orderdate + INTERVAL ((o_orderkey % 30) + 1) DAY AS a_end
      FROM orders WHERE o_orderkey % {_IVL_A_MOD} = 0
    ),
    b AS (
      SELECT o_orderkey AS b_key, o_orderdate AS b_start,
             o_orderdate + INTERVAL ((o_orderkey % 45) + 1) DAY AS b_end
      FROM orders WHERE o_orderkey % {_IVL_B_MOD} = 1
    )
    SELECT a_key, b_key,
           CAST(datediff('day',
                greatest(a_start, b_start),
                least(a_end, b_end)) AS BIGINT) AS overlap_days
    FROM a JOIN b
      ON a_start <= b_end AND b_start <= a_end
    """


@register("join_interval_overlap", oracle=_interval_overlap_oracle())
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERVAL-OVERLAP JOIN via GRID BUCKETING — the scale pattern for
    joining two interval sets on "ranges intersect" (meeting-room
    conflicts, session overlap, genomic ranges): a naive theta-join is
    O(|A|·|B|); instead each interval EXPLODES onto the epoch-month
    grid cells it covers (bounded fan-out — spans here are ≤46 days,
    so ≤3 cells), candidates equi-join on the cell, duplicates from
    multi-cell pairs collapse with DISTINCT, and the exact overlap
    predicate verifies — the standard spatial-join discipline
    (sort_zorder_locality is its storage-side twin). Both interval
    sets derive deterministically from sparse orders slices; output
    is each overlapping pair with its integer overlap length.

    Plan-pinned: the join is an EQUI-join on the grid cell (hash
    partitionable, AQE-sizable) with the range predicate as a
    post-join filter, never a BroadcastNestedLoopJoin — at 100 TB
    the cell key is what keeps this shuffle-joinable, and cell
    granularity trades fan-out against candidate precision exactly
    like LSH banding trades bands against probes. DuckDB's oracle
    runs the direct theta form — same pairs, independently derived."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    a = orders.filter(F.col("o_orderkey") % _IVL_A_MOD == 0).select(
        F.col("o_orderkey").alias("a_key"),
        F.col("o_orderdate").alias("a_start"),
        F.expr(
            "o_orderdate + make_interval(0, 0, 0,"
            " cast(o_orderkey % 30 as int) + 1, 0, 0, 0)"
        ).alias("a_end"),
    )
    b = orders.filter(F.col("o_orderkey") % _IVL_B_MOD == 1).select(
        F.col("o_orderkey").alias("b_key"),
        F.col("o_orderdate").alias("b_start"),
        F.expr(
            "o_orderdate + make_interval(0, 0, 0,"
            " cast(o_orderkey % 45 as int) + 1, 0, 0, 0)"
        ).alias("b_end"),
    )

    def with_cells(df, start, end):
        # months-since-epoch grid; an interval covers every cell its
        # [start, end] span touches (bounded: <=3 for <=46-day spans).
        lo = F.expr(
            f"(year({start}) - 1970) * 12 + month({start}) - 1"
        )
        hi = F.expr(f"(year({end}) - 1970) * 12 + month({end}) - 1")
        return df.withColumn(
            "cell", F.explode(F.sequence(lo, hi))
        )
    ac = with_cells(a, "a_start", "a_end")
    bc = with_cells(b, "b_start", "b_end")
    pairs = (
        ac.join(bc, "cell")
        .filter(
            (F.col("a_start") <= F.col("b_end"))
            & (F.col("b_start") <= F.col("a_end"))
        )
        .select("a_key", "b_key", "a_start", "a_end", "b_start", "b_end")
        .distinct()
    )
    return pairs.select(
        "a_key",
        "b_key",
        F.datediff(
            F.least("a_end", "b_end"), F.greatest("a_start", "b_start")
        ).cast("long").alias("overlap_days"),
    )


_WTOPK_K = 3

_WTOPK_ORACLE = f"""
    WITH daily AS (
      SELECT strftime(CAST(date_trunc('day', ts) AS DATE), '%Y-%m-%d')
               AS day,
             event_type,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT day, event_type, CAST(n AS BIGINT) AS n_events,
           CAST(rk AS INTEGER) AS rank
    FROM (
      SELECT day, event_type, n,
             row_number() OVER (PARTITION BY day
                                ORDER BY n DESC, event_type) AS rk
      FROM daily
    ) WHERE rk <= {_WTOPK_K}
"""


@register("events_windowed_topk", oracle=_WTOPK_ORACLE)
def events_windowed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-WINDOW TOP-K — the trending-now dashboard shape: for every
    day, the top-3 event types by volume, under a total order (count
    desc, type asc) so ties at the cutoff resolve identically. Day
    boundaries come from truncating the tz-free event time, identical
    on both engines.

    Plan: one map-side-combined (day, type) count — the only
    data-sized shuffle — then the rank window runs over the
    aggregated relation, partitioned BY DAY (many small groups, fully
    parallel; WindowGroupLimit caps per-group state at k). The
    streaming twin is this exact aggregate under a tumbling window
    (stream_tumbling_window) with the rank applied per emitted
    window. At 100 TB: per-day state is |event_type| rows."""
    ev = load_table(spark, sf_dir, "events").select("ts", "event_type")
    daily = ev.select(
        F.date_format(
            F.to_date(F.date_trunc("day", F.col("ts"))), "yyyy-MM-dd"
        ).alias("day"),
        "event_type",
    ).groupBy("day", "event_type").agg(F.count(F.lit(1)).alias("n"))
    dw = W.partitionBy("day").orderBy(F.desc("n"), F.asc("event_type"))
    return (
        daily.withColumn("rank", F.row_number().over(dw))
        .filter(F.col("rank") <= _WTOPK_K)
        .select(
            "day",
            "event_type",
            F.col("n").alias("n_events"),
            F.col("rank").cast("int"),
        )
    )


_RUNNING_DISTINCT_ORACLE = """
    WITH f AS (
      SELECT user_id, ts, event_id,
             CASE WHEN row_number() OVER (
                    PARTITION BY user_id, event_type
                    ORDER BY ts, event_id) = 1
                  THEN 1 ELSE 0 END AS first_seen
      FROM events
    )
    SELECT user_id, event_id,
           CAST(SUM(first_seen) OVER (
                  PARTITION BY user_id ORDER BY ts, event_id
                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS n_distinct_so_far
    FROM f
"""


@register("win_running_distinct", oracle=_RUNNING_DISTINCT_ORACLE)
def win_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RUNNING DISTINCT COUNT per user stream — "how many distinct
    event types has this user touched so far?", the engagement-breadth
    signal feature stores compute. The naive formulation
    (size(collect_set(...)) over a running frame) carries a GROWING
    set per row — O(stream length) state and quadratic row widths;
    this key uses the first-occurrence decomposition instead:
    running_distinct = running SUM of an is-first-seen flag, where the
    flag is row_number() = 1 over (user, type). Same answer, O(1)
    per-row state, both windows plain integer arithmetic — the form
    that survives 100 TB streams (and the same trick the streaming
    stateful sessionizer's dedup uses).

    Plan: the (user, type) flag window and the user running sum share
    the user_id exchange (prefix-compatible sorts, the
    win_gap_islands discipline); nothing but int flags ride the
    shuffle. Both engines run the IDENTICAL decomposition, and the
    event_id tie-break makes same-timestamp ordering exact."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    ft = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    first_seen = F.when(F.row_number().over(ft) == 1, 1).otherwise(0)
    run = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return ev.select(
        "user_id",
        "ts",
        "event_id",
        first_seen.alias("first_seen"),
    ).select(
        "user_id",
        "event_id",
        F.sum("first_seen").over(run).alias("n_distinct_so_far"),
    )


_SCD2_ORACLE = """
    WITH ranked AS (
      SELECT o_custkey, o_orderkey, o_totalprice, o_orderdate,
             lead(o_orderdate) OVER (PARTITION BY o_custkey
                                     ORDER BY o_orderdate, o_orderkey)
               AS next_date
      FROM orders
    )
    SELECT o_custkey, o_orderkey,
           CAST(floor(o_totalprice * 1000000) AS BIGINT) AS price_micros,
           strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS valid_from,
           strftime(CAST(next_date AS DATE), '%Y-%m-%d') AS valid_to,
           next_date IS NULL AS is_current
    FROM ranked
"""


@register("scd2_build_intervals", oracle=_SCD2_ORACLE)
def scd2_build_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD TYPE-2 INTERVAL CONSTRUCTION — the dimension-history build
    every warehouse runs: a stream of per-key versioned records
    (here: each customer's orders standing in for attribute changes)
    becomes [valid_from, valid_to) validity intervals with an
    is_current flag — valid_to = the NEXT version's start (half-open,
    so intervals tile without overlap), NULL on the open current
    row. The consumer-side point-in-time lookup over such intervals
    is `join_range_interval` / `join_asof_last_event`; this key is
    the BUILD side that produces them. Ordering ties break on the
    version key (o_orderkey), dates emit as strings (tz-free — both
    engines format the same calendar date), and the tracked measure
    rides as exact integer micros.

    Plan: ONE lead() over the customer partitioning — the standard
    per-key window; zero joins, zero extra shuffles. At 100 TB the
    SCD2 MERGE into a stored dimension applies these intervals via
    sink_merge_upsert/sink_merge_on_read; the interval arithmetic
    pinned here is the part merge bugs corrupt."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_totalprice", "o_orderdate"
    )
    uw = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    ranked = orders.withColumn(
        "next_date", F.lead("o_orderdate").over(uw)
    )
    return ranked.select(
        "o_custkey",
        "o_orderkey",
        micros(F.col("o_totalprice")).alias("price_micros"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("valid_from"),
        F.date_format("next_date", "yyyy-MM-dd").alias("valid_to"),
        F.col("next_date").isNull().alias("is_current"),
    )
