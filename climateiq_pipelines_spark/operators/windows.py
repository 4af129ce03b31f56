"""Window-function operators (SURVEY.md §2.5) — 8 keys.

Determinism discipline (SURVEY §2.5 note): every window orderBy carries a
unique-key tail (o_orderkey / event_id / s_suppkey) so row_number, ntile
and frame contents are reproducible across engines and shuffle layouts.
Rank/dense_rank order by the value alone (they are tie-stable by
definition); position-sensitive functions get the tail.

Float policy: running/moving sums accumulate in fixed-point micro-units
(helpers policy) because window accumulation order is engine-internal —
Spark may use incremental add/remove over the sliding frame while DuckDB
recomputes, which diverges in ulps for doubles but is exact for ints.

Scale notes: a window is one shuffle on its partition key plus a
per-partition sort; state is bounded by the frame. Per-customer /
per-user partitions are small and uniform here; a skewed 100 TB key
(one user = 10% of events) would need the partition key salted with a
coarse time bucket and a second merge pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from climateiq_pipelines_spark.functions.helpers import davg_over, micros
from climateiq_pipelines_spark.plans import register
from climateiq_pipelines_spark.registry import load_table, sql


@register(
    "win_rank_topn_per_group",
    oracle="""
    SELECT c_custkey, o_orderkey, o_totalprice, rn
    FROM (
      SELECT o_custkey AS c_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
)
def win_rank_topn_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer. At scale this is the per-group top-k
    idiom: one shuffle on the group key, heap-bounded per partition —
    never a global sort."""
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey"), "o_orderkey", "o_totalprice"
    )
    w = W.partitionBy("c_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("c_custkey", "o_orderkey", "o_totalprice", "rn")
    )


@register(
    "win_rank_dense_ntile",
    oracle="""
    SELECT s_suppkey, s_nationkey, s_acctbal,
           rank()       OVER (PARTITION BY s_nationkey ORDER BY s_acctbal DESC) AS rnk,
           dense_rank() OVER (PARTITION BY s_nationkey ORDER BY s_acctbal DESC) AS drnk,
           ntile(4)     OVER (PARTITION BY s_nationkey
                              ORDER BY s_acctbal DESC, s_suppkey) AS tile
    FROM supplier
    """,
)
def win_rank_dense_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank/dense_rank are tie-stable on the bare value; ntile is
    position-sensitive so its orderBy carries the unique suppkey tail."""
    supplier = load_table(spark, sf_dir, "supplier")
    by_bal = W.partitionBy("s_nationkey").orderBy(F.desc("s_acctbal"))
    by_bal_key = W.partitionBy("s_nationkey").orderBy(
        F.desc("s_acctbal"), F.asc("s_suppkey")
    )
    return supplier.select(
        "s_suppkey",
        "s_nationkey",
        "s_acctbal",
        F.rank().over(by_bal).alias("rnk"),
        F.dense_rank().over(by_bal).alias("drnk"),
        F.ntile(4).over(by_bal_key).alias("tile"),
    )


@register(
    "win_lag_lead_delta",
    oracle="""
    SELECT event_id, user_id, ts, value,
           value - lag(value) OVER w AS value_delta,
           lead(event_type)   OVER w AS next_type
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def win_lag_lead_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row delta vs previous event + next event's type. The delta is
    a single IEEE subtraction of identical operands — deterministic
    without rounding."""
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value", "event_type"
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return events.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        (F.col("value") - F.lag("value").over(w)).alias("value_delta"),
        F.lead("event_type").over(w).alias("next_type"),
    )


@register(
    "win_running_sum",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           (CAST(SUM(CAST(floor(o_totalprice * 1000000) AS BIGINT))
                 OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS DOUBLE) / 1000000.0) AS running_spend
    FROM orders
    """,
)
def win_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative spend per customer. Micro-unit accumulation: window sum
    order is engine-internal, so only an exact integer sum is
    reproducible across engines."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate", "o_totalprice"
    )
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    spend = F.sum(micros(F.col("o_totalprice"))).over(w)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        (spend.cast("double") / F.lit(1e6)).alias("running_spend"),
    )


@register(
    "win_moving_avg_rows",
    oracle="""
    SELECT event_id, user_id, ts,
           (CAST(SUM(CAST(floor(value * 1000000) AS BIGINT)) OVER w AS DOUBLE)
              / 1000000.0 / COUNT(*) OVER w) AS moving_avg7
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
)
def win_moving_avg_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-row moving average per user: exact micro-unit frame sum divided
    by the frame row count — identical expression tree in the oracle."""
    return sql(spark, sf_dir, f"""
        SELECT event_id, user_id, ts, {davg_over("value", "w")} AS moving_avg7
        FROM {{events}}
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    """)


@register(
    "win_range_frame",
    oracle="""
    SELECT o_orderkey, o_orderpriority, o_totalprice,
           COUNT(*) OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice
                          RANGE BETWEEN 5000 PRECEDING AND 5000 FOLLOWING)
             AS n_similar_price
    FROM orders
    """,
)
def win_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame: peers are selected by value distance (±5000 on
    totalprice), not row position — frame contents depend only on the
    value column, so no unique tail is needed for determinism."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    w = (
        W.partitionBy("o_orderpriority")
        .orderBy("o_totalprice")
        .rangeBetween(-5000, 5000)
    )
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.count(F.lit(1)).over(w).alias("n_similar_price"),
    )


@register(
    "win_first_last",
    oracle="""
    SELECT event_id, user_id, ts,
           first_value(event_type) OVER w AS day_first_type,
           last_value(event_type)  OVER w AS day_last_type,
           COUNT(*) OVER w AS day_n_events
    FROM events
    WINDOW w AS (PARTITION BY user_id, CAST(ts AS DATE) ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def win_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First/last event type per user-day. The frame is pinned to the
    FULL partition (unbounded..unbounded): last_value under the default
    frame (..currentRow) is a classic correctness trap in both engines."""
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    day = F.col("ts").cast("date")
    w = (
        W.partitionBy("user_id", day)
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    return events.select(
        "event_id",
        "user_id",
        "ts",
        F.first("event_type").over(w).alias("day_first_type"),
        F.last("event_type").over(w).alias("day_last_type"),
        F.count(F.lit(1)).over(w).alias("day_n_events"),
    )


@register(
    "win_percent_cume",
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           round(percent_rank() OVER w, 9) AS pct_rank,
           round(cume_dist() OVER w, 9) AS cume,
           CAST(ntile(10) OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice, o_orderkey)
                AS INTEGER) AS decile
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice)
    """,
)
def win_percent_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative-position window functions: percent_rank and cume_dist
    are rank-based integer ratios ((rank-1)/(n-1), rank_high/n) — both
    engines compute the identical quotient, rounded for the final
    division only. ntile gets the unique-key tail (position-sensitive);
    the ratio functions are tie-stable on the bare value."""
    orders = load_table(spark, sf_dir, "orders")
    by_price = W.partitionBy("o_orderpriority").orderBy("o_totalprice")
    by_price_key = W.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.percent_rank().over(by_price), 9).alias("pct_rank"),
        F.round(F.cume_dist().over(by_price), 9).alias("cume"),
        F.ntile(10).over(by_price_key).alias("decile"),
    )
