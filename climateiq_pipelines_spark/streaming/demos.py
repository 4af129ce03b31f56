"""Streaming demo keys — genuine readStream/writeStream executions of
the §2.9 shapes, each SQL-CHECKABLE against a batch oracle (round-6
upgrade; they were rows-only through round 5).

What makes the oracles sound: ``registry.read_events_stream`` pins the
event-time TIMESTAMP's epoch to the NTZ wall-clock micros (no session-tz
cast), so window boundaries land on the same wall-clock grid as the
batch/NTZ formulations under ANY driver session timezone, and
``ntz_of_window_bound`` restores emitted bounds to TIMESTAMP_NTZ
exactly. The fixture is a single parquet file, so trigger(availableNow)
processes it as ONE micro-batch: the first batch's watermark is unset,
nothing is late-dropped, and each demo's emitted set equals its batch
twin's — which is precisely the documented contract of these operators
fed a finite prefix (equalities additionally pinned by
tests/test_streaming_demos.py). A future multi-batch replay would be a
DIFFERENT contract (watermarks advance between batches); these keys pin
the single-batch one.

- ``stream_sliding_demo``: sliding window through a real streaming
  query, twinned with the checked batch key ``stream_sliding_window``.
- ``stream_dedup_watermark_demo``: ``dropDuplicatesWithinWatermark``
  through a real streaming query; emitted key set = batch DISTINCT.
- ``stream_stream_join_demo``: watermarked stream-stream interval join;
  emitted pairs = the batch interval join.
- ``stream_foreachbatch_sink``: update-mode foreachBatch parquet sink
  with latest-batch-wins read-back = the batch tumbling aggregation.
- ``stream_watermark_spans`` (batch): the scale-safe PER-SPAN watermark
  — the batch replay of micro-batch watermark semantics with no
  single-partition window over the data.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from climateiq_pipelines_spark.plans import register
from climateiq_pipelines_spark.registry import (
    load_table,
    ntz_of_window_bound,
    read_events_stream,
)
from climateiq_pipelines_spark.streaming.await_util import await_or_raise


# (round-13 review batch C: the former _read_events_stream wrapper
# added no behavior over registry.read_events_stream — txn_sink.py
# already called the registry function directly — so the demos below
# do too; one call convention, one docstring to keep true.)
_read_events_stream = read_events_stream


def _run_to_memory(df: DataFrame, output_mode: str) -> DataFrame:
    """Run a streaming frame to completion (availableNow) into a
    uniquely-named memory sink and return the sink table — unique names
    so concurrent sessions/repeated bench runs never collide.  The view
    is registered so the next release drops it: each memory sink pins
    its full result rows in driver memory."""
    from climateiq_pipelines_spark.session import register_temp_view

    name = register_temp_view(f"cps_demo_{uuid.uuid4().hex[:12]}")
    query = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    try:
        await_or_raise(query, 120)
    finally:
        query.stop()
    return df.sparkSession.sql(f"SELECT * FROM {name}")


@register(
    "stream_sliding_demo",
    oracle="""
    SELECT make_timestamp((CAST(floor(epoch(ts) / 21600) AS BIGINT) - k) * 21600
                          * 1000000) AS win_start,
           COUNT(*) AS n_events
    FROM events CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k)
    GROUP BY 1
    """,
)
def stream_sliding_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLIDING window (1 day every 6 h) through a true streaming query
    with a 1-hour watermark — the streaming counterpart of the checked
    batch key stream_sliding_window, now value-checked against the SAME
    epoch-grid oracle (module docstring explains why the single-batch
    availableNow result equals the batch aggregation and why the
    epoch-pinned event time makes it session-tz independent). State:
    |open windows| × |keys| rows, bounded by the watermark — the same
    bounded-state argument as tumbling."""
    agg = (
        _read_events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day", "6 hours"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("window.start").alias("win_start"), "n_events")
    )
    sunk = _run_to_memory(agg, "complete")
    return sunk.select(
        ntz_of_window_bound("win_start").alias("win_start"), "n_events"
    )


@register(
    "stream_dedup_watermark_demo",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def stream_dedup_watermark_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark through a true streaming query:
    keep one event per (user_id, event_type), where the watermark bounds
    how long each key's dedup state is retained — the production answer
    to unbounded dropDuplicates state at 100 TB/day event volumes.

    Emits only the KEY columns: within one availableNow micro-batch the
    surviving representative row is arrival-order-dependent, but the
    surviving key SET equals batch DISTINCT's exactly — which is the
    oracle (plus the twin-equality pin in tests/test_streaming_demos)."""
    deduped = (
        _read_events_stream(spark, sf_dir)
        .select("user_id", "event_type", "ts")
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return _run_to_memory(deduped, "append")


@register(
    "stream_stream_join_demo",
    oracle="""
    SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON p.user_id = c.user_id
     AND p.ts >= c.ts
     AND p.ts <= c.ts + INTERVAL 1 HOUR
    """,
)
def stream_stream_join_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM JOIN — the last Structured Streaming capability
    class in the surface: clicks and purchases (two watermarked streams
    from the same source) inner-join on user_id with a time-bound
    predicate (purchase within 1 h after the click). Watermarks on BOTH
    sides plus the time bound are what make the join's state
    DROPPABLE — without them each side buffers forever; with them Spark
    evicts a buffered click once the purchase-side watermark passes
    click_ts + 1 h. That state contract is the whole point of this
    shape at 100 TB/day.

    Single-batch availableNow emits exactly the batch interval join's
    pairs (no state is evicted before the batch completes) — which is
    the oracle. Output: one row per (click, purchase-within-window)
    pair, keyed columns only, so the check is tz-free by construction."""
    ev = _read_events_stream(spark, sf_dir)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
    ).select(F.col("c_user").alias("user_id"), "click_id", "purchase_id")
    return _run_to_memory(joined, "append")


@register(
    "stream_foreachbatch_sink",
    oracle="""
    SELECT date_trunc('day', ts) AS win_start, event_type,
           COUNT(*) AS n_events
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_foreachbatch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch INCREMENTAL SINK — the production pattern for
    writing streaming aggregates to a plain-parquet lake: each
    micro-batch's updated groups land as files stamped with the
    batch_id, and the read-back keeps each group's LATEST batch row
    (max batch_id per key) — an idempotent merge that tolerates batch
    replays, which is exactly why foreachBatch + batch_id exists.

    Update-mode emission means a group appears once per batch that
    changed it; with availableNow over the finite fixture the final
    read-back equals the batch tumbling aggregation — which is the
    oracle (win_start restored to NTZ via the epoch pin). At 100 TB/day
    the same sink pattern targets a partitioned table and the merge is
    a partition overwrite keyed on (window day, batch watermark)."""
    from climateiq_pipelines_spark.session import new_temp_dir

    # Registered for post-consumption reclaim (release_blocks purges it
    # once the harness has consumed the read-back result; the session
    # atexit hook covers non-reclaiming processes).
    out = new_temp_dir("febatch_sink")
    agg = (
        _read_events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("window.start").alias("win_start"), "event_type", "n_events"
        )
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(out)
        )

    query = (
        agg.writeStream.foreachBatch(sink)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    try:
        await_or_raise(query, 120)
    finally:
        query.stop()

    sunk = spark.read.parquet(out)
    latest = W.partitionBy("win_start", "event_type").orderBy(
        F.desc("batch_id")
    )
    return (
        sunk.withColumn("rn", F.row_number().over(latest))
        .filter(F.col("rn") == 1)
        .select(
            ntz_of_window_bound("win_start").alias("win_start"),
            "event_type",
            "n_events",
        )
    )


@register(
    "stream_watermark_spans",
    oracle="""
    WITH spans AS (
      SELECT event_id // 1000 AS span, max(ts) AS span_max
      FROM events GROUP BY 1
    ),
    wm AS (
      SELECT span,
             max(span_max) OVER (ORDER BY span
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING) AS wm_ts
      FROM spans
    ),
    kept AS (
      SELECT e.ts, e.event_type
      FROM events e JOIN wm ON e.event_id // 1000 = wm.span
      WHERE wm.wm_ts IS NULL OR e.ts >= wm.wm_ts - INTERVAL 1 HOUR
    )
    SELECT date_trunc('day', ts) AS win_start, event_type,
           COUNT(*) AS n_on_time
    FROM kept
    GROUP BY 1, 2
    """,
)
def stream_watermark_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-SPAN watermark replay — the scale-safe sibling of
    stream_watermark_late (whose row-exact arrival-order running max
    funnels one partition by semantic necessity). This key computes the
    watermark the way Structured Streaming actually does: per
    micro-batch SPAN (here span = event_id div 1000 ≈ trigger batch),
    the watermark entering a span is max event-time over all PRIOR
    spans; rows older than watermark − 1 h are late-dropped before the
    tumbling aggregation.

    Scale shape: one map-side-combined agg to span maxima (n/1000
    rows), a running max over the SPAN table (data-sized/span_width —
    choose span width so span count ~ number of triggers, thousands
    not billions), a span-keyed join back, and the windowed agg. No
    single-partition window ever sees event rows (pinned by
    tests/test_plans.py::test_span_watermark_has_no_global_data_window).
    """
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type"
    )
    spans = events.groupBy(
        F.expr("event_id div 1000").alias("span")
    ).agg(F.max("ts").alias("span_max"))
    wo = W.orderBy("span").rowsBetween(W.unboundedPreceding, -1)
    wm = spans.withColumn("wm_ts", F.max("span_max").over(wo)).select(
        "span", "wm_ts"
    )
    kept = (
        events.withColumn("span", F.expr("event_id div 1000"))
        .join(wm, "span")
        .filter(
            F.col("wm_ts").isNull()
            | (F.col("ts") >= F.col("wm_ts") - F.expr("INTERVAL 1 HOUR"))
        )
    )
    win = F.window("ts", "1 day")
    return (
        kept.groupBy(win, "event_type")
        .agg(F.count(F.lit(1)).alias("n_on_time"))
        .select(
            F.col("window.start").alias("win_start"), "event_type", "n_on_time"
        )
    )


@register(
    "stream_windowed_topk_demo",
    oracle="""
    WITH daily AS (
      SELECT make_timestamp(CAST(floor(epoch(ts) / 86400) AS BIGINT)
                            * 86400 * 1000000) AS win_start,
             event_type, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT win_start, event_type, CAST(n AS BIGINT) AS n_events,
           CAST(rk AS INTEGER) AS rank
    FROM (
      SELECT win_start, event_type, n,
             row_number() OVER (PARTITION BY win_start
                                ORDER BY n DESC, event_type) AS rk
      FROM daily
    ) WHERE rk <= 3
    """,
)
def stream_windowed_topk_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING TRENDING TOP-K — the live-dashboard composition: a
    true streaming query maintains per-(1-day window, event_type)
    counts under a 1-hour watermark (complete-mode memory sink), and
    the rank-per-window cut runs as a BATCH query over the sink — the
    standard split for streaming top-k, because rank is not an
    incremental aggregate (global ordering per window can flip on any
    update, so streaming engines emit the counts and let the serving
    layer rank; Spark rejects windowed row_number in update/append
    streams for exactly this reason). Same single-batch availableNow
    equality argument as the sibling demos (module docstring); the
    batch twin of the whole composition is events_windowed_topk on
    the day grid.

    State: |open windows| × |event_type| count rows, watermark-
    bounded; the rank stage reads only the aggregated sink —
    per-window groups of |event_type| rows, fully parallel."""
    agg = (
        _read_events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("window.start").alias("win_start"),
            "event_type",
            "n_events",
        )
    )
    sunk = _run_to_memory(agg, "complete")
    dw = W.partitionBy("win_start").orderBy(
        F.desc("n_events"), F.asc("event_type")
    )
    return (
        sunk.withColumn("rank", F.row_number().over(dw))
        .filter(F.col("rank") <= 3)
        .select(
            ntz_of_window_bound("win_start").alias("win_start"),
            "event_type",
            "n_events",
            F.col("rank").cast("int"),
        )
    )
