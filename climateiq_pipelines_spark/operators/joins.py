"""Join operators (SURVEY.md §2.3) — 12 keys.

Physical strategy is Catalyst's to pick; we hint what a 100 TB plan
needs: dimensions (region/nation, 5/25 rows at every SF) are broadcast
explicitly, fact-fact joins shuffle on their equi keys (sort-merge or
shuffled-hash — AQE decides at runtime and splits skewed partitions).

Scale notes per shape:
- broadcast dim joins: no shuffle of the fact side at all.
- fact⋈fact: shuffle on the join key; at 100 TB pre-bucketing both sides
  on the key (``sink_sorted_bucketed`` shows the write side) removes the
  shuffle entirely.
- theta/inequality joins: Spark executes BroadcastNestedLoop — only safe
  when one side is small/pre-pruned. The LLM ops (§2.10) show the
  LSH-bucketed formulation that replaces O(n²) at scale.
- as-of: implemented as a per-key ordered window (last_value IGNORE
  NULLS), which scales linearly with one shuffle on the partition key —
  never as a point-in-time O(n²) join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from climateiq_pipelines_spark.functions.helpers import (
    REVENUE,
    exact_agg,
    exact_aggs,
    exact_sql,
    sql_dsum,
)
from climateiq_pipelines_spark.plans import register
from climateiq_pipelines_spark.registry import load_table, sql


@register(
    "join_broadcast_dim",
    oracle="""
    SELECT n_nationkey, n_name, r_name
    FROM nation JOIN region ON n_regionkey = r_regionkey
    """,
)
def join_broadcast_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("n_nationkey", "n_name", "r_name")
    )


@register(
    "join_shuffle_fact",
    oracle=f"""
    SELECT o_orderkey, o_orderstatus, {sql_dsum(REVENUE)} AS order_revenue
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY o_orderkey, o_orderstatus
    """,
)
def join_shuffle_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈fact equi-join; both sides shuffle on the order key. At
    100 TB: bucket both tables by orderkey at write time to co-locate."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    return (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .groupBy("o_orderkey", "o_orderstatus")
        .agg(*exact_aggs([("dsum1", REVENUE, "order_revenue")]))
    )


_Q5_ORACLE = f"""
    SELECT n_name, {sql_dsum(REVENUE)} AS revenue
    FROM region
    JOIN nation ON n_regionkey = r_regionkey
    JOIN customer ON c_nationkey = n_nationkey
    JOIN orders ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON s_suppkey = l_suppkey AND s_nationkey = c_nationkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n_name
"""


@register("join_multikey", oracle=_Q5_ORACLE)
def join_multikey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape (the flagship): 6-table join with a multi-key
    supplier⋈customer condition (s_suppkey = l_suppkey AND s_nationkey =
    c_nationkey), local-supplier revenue per nation.

    Plan shape at scale: region/nation/supplier broadcast (supplier is a
    dim here), customer⋈orders⋈lineitem shuffle on their FK chain; the
    date filter on orders is pushed into the parquet scan before the big
    join, so the shuffled volume is one year, not seven.
    """
    # supplier is SF-proportional (10k rows/SF): no broadcast hint, so
    # AQE broadcasts it while under the threshold and falls back to a
    # shuffle join at scale instead of OOMing the build side.  Per-nation
    # revenue groups are fact-table-sized: limb-split sums, exact below
    # 2^42 rows per group (helpers invariant 3).
    return sql(spark, sf_dir, f"""
        SELECT /*+ BROADCAST(asia_nations) */ n_name,
               {exact_sql([("dsum", REVENUE, "revenue")])}
        FROM {{customer}}
        JOIN (SELECT /*+ BROADCAST(r) */ n_nationkey, n_name
              FROM {{nation}} JOIN {{region}} r ON n_regionkey = r_regionkey
              WHERE r_name = 'ASIA') asia_nations
          ON c_nationkey = n_nationkey
        JOIN {{orders}} ON o_custkey = c_custkey
        JOIN {{lineitem}} ON l_orderkey = o_orderkey
        JOIN {{supplier}} ON s_suppkey = l_suppkey AND s_nationkey = c_nationkey
        WHERE o_orderdate >= TIMESTAMP_NTZ '1996-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP_NTZ '1997-01-01 00:00:00'
        GROUP BY n_name
    """)


@register(
    "join_left_outer",
    oracle="""
    SELECT c_custkey, c_mktsegment, COUNT(o_orderkey) AS n_orders
    FROM customer LEFT JOIN orders ON o_custkey = c_custkey
    GROUP BY c_custkey, c_mktsegment
    """,
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@register(
    "join_full_outer",
    oracle="""
    SELECT CASE WHEN user_id IS NULL THEN 'customer_only'
                WHEN c_custkey IS NULL THEN 'event_only'
                ELSE 'both' END AS side,
           COUNT(*) AS n_rows
    FROM (SELECT DISTINCT user_id FROM events) e
    FULL OUTER JOIN customer ON user_id = c_custkey
    GROUP BY 1
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.user_id covers only ~10% of the c_custkey range (FIXTURES),
    so the full outer join genuinely null-extends both sides."""
    users = load_table(spark, sf_dir, "events").select("user_id").distinct()
    customer = load_table(spark, sf_dir, "customer").select("c_custkey")
    joined = users.join(customer, users.user_id == customer.c_custkey, "full")
    return (
        joined.select(
            F.when(F.col("user_id").isNull(), "customer_only")
            .when(F.col("c_custkey").isNull(), "event_only")
            .otherwise("both")
            .alias("side")
        )
        .groupBy("side")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


@register(
    "join_left_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def join_left_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


@register(
    "join_left_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def join_left_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@register(
    "join_cross_small",
    oracle="SELECT r_name, n_name FROM region CROSS JOIN nation",
)
def join_cross_small(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian of two tiny dims (5×25). Scale note: cross joins are
    only ever emitted dim×dim (e.g. centroid assignment); a fact-side
    cross join is a bug, not a plan."""
    region = load_table(spark, sf_dir, "region").select("r_name")
    nation = load_table(spark, sf_dir, "nation").select("n_name")
    return region.crossJoin(nation)


@register(
    "join_theta_inequality",
    oracle="""
    SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.label AS a_label, b.label AS b_label
    FROM embeddings a JOIN embeddings b
      ON a.vec_id < b.vec_id AND b.vec_id - a.vec_id <= 3
    """,
)
def join_theta_inequality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded non-equi self-join, rewritten as an offset EQUI-join: the
    band predicate `0 < b.vec_id - a.vec_id <= 3` is exactly the union of
    the three offset equalities b.vec_id = a.vec_id + {1,2,3}, generated
    via explode(sequence(1,3)). Catalyst plans a plain shuffled equi-join
    on the computed key — linear in input at any scale — where the naive
    theta formulation executes BroadcastNestedLoopJoin and evaluates all
    n² pairs (a scale-killer at 100 TB; round-1 verdict item #3).
    Unbounded/non-arithmetic theta joins instead use bucket-prune plans
    (see llm_simhash_bucket / llm_minhash_neardup)."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    a = emb.select(
        F.col("vec_id").alias("a_id"),
        F.col("label").alias("a_label"),
        F.explode(F.sequence(F.lit(1), F.lit(3))).alias("offset"),
    ).withColumn("b_key", F.col("a_id") + F.col("offset"))
    b = emb.select(
        F.col("vec_id").alias("b_id"), F.col("label").alias("b_label")
    )
    return a.join(b, a.b_key == b.b_id).select("a_id", "b_id", "a_label", "b_label")


@register(
    "join_range_interval",
    oracle="""
    SELECT s.event_id AS signup_id,
           COUNT(e.event_id) AS n_follow
    FROM (SELECT * FROM events WHERE event_type = 'signup') s
    LEFT JOIN events e
      ON e.user_id = s.user_id
     AND e.ts > s.ts
     AND e.ts <= s.ts + INTERVAL 1 HOUR
    GROUP BY s.event_id
    """,
)
def join_range_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi key + time-range predicate: follow-up events within 1 hour of
    each signup. Spark executes as equi-join on user_id with the range as
    a post-join filter — the shuffle is on the equi key, so it scales;
    the range only prunes."""
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    signups = events.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_id"),
        F.col("ts").alias("signup_ts"),
        F.col("user_id").alias("signup_user"),
    )
    follow = events.select("event_id", "ts", "user_id")
    return (
        signups.join(
            follow,
            (F.col("user_id") == F.col("signup_user"))
            & (F.col("ts") > F.col("signup_ts"))
            & (F.col("ts") <= F.col("signup_ts") + F.expr("INTERVAL 1 HOUR")),
            "left",
        )
        .groupBy("signup_id")
        .agg(F.count("event_id").alias("n_follow"))
    )


@register(
    "join_asof_last_event",
    oracle="""
    SELECT event_id, user_id, ts, event_type,
           last_value(CASE WHEN event_type = 'purchase' THEN event_id END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS asof_purchase_id
    FROM events
    """,
)
def join_asof_last_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (backward): for every event, the most recent *strictly
    earlier* purchase event of the same user. Spark has no native as-of
    DataFrame join; the scalable formulation is a per-key ordered window
    with last_value(... IGNORE NULLS) — one shuffle on user_id, linear
    state, no O(n²) point-in-time join."""
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    purchase_id = F.when(F.col("event_type") == "purchase", F.col("event_id"))
    return events.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.last(purchase_id, ignorenulls=True).over(w).alias("asof_purchase_id"),
    )


@register(
    "join_asof_tolerance",
    oracle="""
    SELECT event_id, user_id, ts, event_type,
           CASE WHEN asof_ts IS NOT NULL
                 AND ts <= asof_ts + INTERVAL 1 HOUR THEN asof_id END
             AS asof_purchase_id,
           CASE WHEN asof_ts IS NOT NULL
                 AND ts <= asof_ts + INTERVAL 1 HOUR
                THEN date_diff('microsecond', asof_ts, ts) END
             AS asof_lag_us
    FROM (
      SELECT event_id, user_id, ts, event_type,
             last_value(CASE WHEN event_type = 'purchase' THEN event_id END
                        IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS asof_id,
             last_value(CASE WHEN event_type = 'purchase' THEN ts END
                        IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS asof_ts
      FROM events
    )
    """,
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with TOLERANCE (pandas merge_asof tolerance
    semantics): the most recent strictly-earlier purchase of the same
    user, but only if it happened within 1 hour — staler matches
    become NULL rather than joining arbitrarily far back (the variant
    every feature-store point-in-time join needs to avoid leaking
    ancient state). Also emits the match lag in integer MICROSECONDS
    (timestampdiff(MICROSECOND) ≡ DuckDB date_diff('microsecond') —
    exact on both engines, unlike second-granularity diffs whose
    boundary-counting conventions differ).

    Same scalable shape as join_asof_last_event: one user_id shuffle,
    two last_value(IGNORE NULLS) frames over the same window spec
    (Spark evaluates both in ONE Window node), linear state — the
    tolerance is a post-window projection, never a join predicate, so
    no O(n²) point-in-time join appears at any scale. Both the gate
    and the lag read the SAME computed _asof_ts column (ADVICE r5: the
    lag previously re-derived the window as an embedded SQL string,
    which could silently diverge from the DSL copy under edit)."""
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    asof_id = F.last(
        F.when(F.col("event_type") == "purchase", F.col("event_id")),
        ignorenulls=True,
    ).over(w)
    asof_ts = F.last(
        F.when(F.col("event_type") == "purchase", F.col("ts")),
        ignorenulls=True,
    ).over(w)
    enriched = events.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        asof_id.alias("_asof_id"),
        asof_ts.alias("_asof_ts"),
    )
    within = F.col("_asof_ts").isNotNull() & (
        F.col("ts") <= F.col("_asof_ts") + F.expr("INTERVAL 1 HOUR")
    )
    return enriched.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.when(within, F.col("_asof_id")).alias("asof_purchase_id"),
        F.when(
            within, F.expr("timestampdiff(MICROSECOND, _asof_ts, ts)")
        ).alias("asof_lag_us"),
    )


@register(
    "join_salted_skew",
    oracle=f"""
    SELECT c_mktsegment, COUNT(*) AS n_events, {sql_dsum('value')} AS sum_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY c_mktsegment
    """,
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SALTED join — the hand-rolled skew mitigation, oracle-checked
    against the plain join so the rewrite is proven semantics-preserving:
    the fact side's key is decorated with salt = pmod(xxhash64(row), 8),
    the dimension side is exploded 8× (one copy per salt value), and the
    join runs on (key, salt) — a skewed key's rows now spread across 8
    shuffle partitions instead of hot-spotting one.

    Scale: AQE's skew-join split handles MODERATE skew automatically
    with no code changes (plan-pinned by tests/test_plans.py::
    test_aqe_skew_join_splits_hot_partition — the first-line answer);
    explicit salting is for the pathological key (one user = 10% of a
    100 TB fact) where a single post-split partition still exceeds
    executor memory. Cost: dim side × n_salts (broadcast-sized here;
    for fact-fact joins salt only the skewed keys, not the whole dim)."""
    n_salts = 8
    events = load_table(spark, sf_dir, "events").select("user_id", "value", "event_id")
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    salted_fact = events.withColumn(
        "salt", F.pmod(F.xxhash64("event_id"), F.lit(n_salts))
    )
    salted_dim = customer.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    ).withColumn("salt", F.col("salt").cast("long"))
    joined = salted_fact.join(
        salted_dim,
        (salted_fact.user_id == salted_dim.c_custkey)
        & (salted_fact.salt == salted_dim.salt),
    )
    # 5 segment groups over the whole salted join output: limb-split
    # sums, exact below 2^42 rows per group (helpers invariant 3)
    return exact_agg(
        joined,
        ["c_mktsegment"],
        [("count", "n_events"), ("dsum", "value", "sum_value")],
    )


@register(
    "join_bucketed_colocated",
    oracle=f"""
    SELECT c_nationkey,
           COUNT(*) AS n_orders,
           {sql_dsum('o_totalprice')} AS sum_totalprice
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_nationkey
    """,
)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CO-LOCATED bucketed join — the shuffle-elimination pattern for
    repeatedly-joined 100 TB fact tables: both sides are written
    bucketBy(8, custkey) ONCE, and every subsequent join on that key
    reads bucket i against bucket i with NO Exchange — the plan shows
    `Bucketed: true, SelectedBucketsCount: 8 out of 8` and a
    SortMergeJoin whose only Exchange is the final small aggregate
    (pinned by tests/test_plans.py::test_bucketed_join_has_no_exchange).

    At 100 TB the bucket write is amortized over every downstream
    join/agg on the key: 1000 buckets × co-located scan replaces a
    full-corpus shuffle per query. merge hints keep the demo on the
    SMJ path (a size-based broadcast would also avoid the exchange,
    but only while one side stays small).

    Oracle: the same join/agg over the ORIGINAL parquet — proving the
    bucketed write+read round-trip loses nothing.

    Housekeeping: table/dir names carry a per-invocation token so
    concurrent sessions sharing a metastore never collide, and the temp
    dir is removed at interpreter exit (repeated bench runs don't
    accumulate disk)."""
    import os
    import uuid

    from climateiq_pipelines_spark.session import (
        new_temp_dir,
        register_temp_table,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    token = uuid.uuid4().hex[:12]
    # Registered for post-consumption reclaim like every other mkdtemp
    # site (round-12 registry; this was the one key left on the
    # process-exit-only atexit path, so a warm session accumulated full
    # bucketed copies of orders AND customer per evaluation).  The
    # per-invocation catalog tables ride the same lifecycle: dropped by
    # release_blocks after consumption, so a warm session's catalog
    # stays bounded instead of accumulating dead unique-named entries
    # (ADVICE r12).
    d = new_temp_dir("bucketed_join")
    t_orders = register_temp_table(f"cps_bkt_orders_{token}")
    t_cust = register_temp_table(f"cps_bkt_customer_{token}")
    (
        orders.write.bucketBy(8, "o_custkey")
        .sortBy("o_custkey")
        .option("path", os.path.join(d, "orders"))
        .mode("overwrite")
        .saveAsTable(t_orders)
    )
    (
        cust.write.bucketBy(8, "c_custkey")
        .sortBy("c_custkey")
        .option("path", os.path.join(d, "customer"))
        .mode("overwrite")
        .saveAsTable(t_cust)
    )
    joined = spark.table(t_orders).hint("merge").join(
        spark.table(t_cust).hint("merge"),
        F.col("o_custkey") == F.col("c_custkey"),
    )
    # 25 nation groups over ALL orders: limb-split sums, exact below
    # 2^42 rows per group (helpers invariant 3).  The partial aggregate
    # rides the bucket-co-located join output; only partials shuffle.
    return exact_agg(
        joined,
        ["c_nationkey"],
        [("count", "n_orders"), ("dsum", "o_totalprice", "sum_totalprice")],
    )


# Rotated BELOW the round-6 driver certification window (fresh r5 stamp;
# registration order is certification-priority order — see plans.load_all).
@register(
    "join_right_outer",
    oracle="""
    SELECT c_custkey, COUNT(o_orderkey) AS n_orders
    FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
    GROUP BY c_custkey
    """,
)
def join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey, "right")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
