"""Streaming-shaped operators (SURVEY.md §2.9) — 6 checked keys + a real
Structured Streaming demo key (rows-only).

The driver's oracle is batch SQL, so each streaming concept ships as its
batch formulation over the `events` table (arrival order = event_id,
FIXTURES.md) with an identical SQL twin; `stream_readstream_demo` then
proves the same logic runs through readStream/writeStream.

Window-origin note: Spark's F.window aligns buckets to the unix epoch of
the naive timestamp; oracles reproduce that with explicit epoch
arithmetic (floor(epoch/width)*width) instead of DuckDB's time_bucket,
whose default origin (2000-01-03) only coincides with epoch alignment
for widths that divide whole days — epoch arithmetic is alignment-exact
for every width.

Scale notes: tumbling/sliding aggs shuffle on (bucket, key) with
map-side partial aggregation — bounded state, the batch mirror of
Structured Streaming's watermarked state store. Sessionization and
watermark simulation are per-user ordered windows: one shuffle on
user_id, linear state. In true streaming these become
session_window / withWatermark / dropDuplicatesWithinWatermark, shown
in the demo.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from climateiq_pipelines_spark.functions.helpers import davg, sql_davg
from climateiq_pipelines_spark.plans import register
from climateiq_pipelines_spark.registry import (
    load_table,
    ntz_of_window_bound,
    read_events_stream,
    read_events_stream_micros,
)
from climateiq_pipelines_spark.streaming.await_util import run_to_memory


@register(
    "stream_tumbling_window",
    oracle=f"""
    SELECT date_trunc('day', ts) AS win_start,
           date_trunc('day', ts) + INTERVAL 1 DAY AS win_end,
           event_type,
           COUNT(*) AS n_events,
           {sql_davg('value')} AS avg_value
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-day tumbling window × event_type. The window struct is flattened
    to scalar start/end (driver hash takes no structs). Streaming twin:
    readStream.groupBy(window(ts,'1 day'), type) + watermark — see
    stream_readstream_demo."""
    events = load_table(spark, sf_dir, "events")
    win = F.window("ts", "1 day")
    return (
        events.groupBy(win, "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # helpers.davg — the designated engine twin of sql_davg this
            # key's oracle already uses (round-12 review: an inline copy
            # here could drift from the shared fixed-point contract).
            davg(F.col("value"), "avg_value"),
        )
        .select(
            F.col("window.start").alias("win_start"),
            F.col("window.end").alias("win_end"),
            "event_type",
            "n_events",
            "avg_value",
        )
    )


@register(
    "stream_sliding_window",
    oracle="""
    SELECT make_timestamp((CAST(floor(epoch(ts) / 21600) AS BIGINT) - k) * 21600
                          * 1000000) AS win_start,
           COUNT(*) AS n_events
    FROM events CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k)
    GROUP BY 1
    """,
)
def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-day window sliding every 6 h: each event lands in exactly 4
    overlapping windows. Oracle reproduces Spark's epoch-aligned window
    starts by exploding k∈{0..3} and shifting the event's 6 h grid cell
    back k slides (every such window [start, start+24h) contains the
    event by construction). SURVEY §7.4 flagged this oracle as the
    fiddly one — epoch arithmetic sidesteps time_bucket's 2000-01-03
    origin entirely."""
    events = load_table(spark, sf_dir, "events")
    win = F.window("ts", "1 day", "6 hours")
    return (
        events.groupBy(win)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("window.start").alias("win_start"), "n_events")
    )


_SESSION_ORACLE = """
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - lag(ts) OVER w <= INTERVAL 30 MINUTE THEN 0 ELSE 1 END
               AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
      SELECT user_id, ts, event_id,
             CAST(SUM(new_session) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id
                                         ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS session_seq
      FROM flagged
    )
    SELECT user_id, session_seq, min(ts) AS session_start,
           max(ts) AS session_end, COUNT(*) AS n_events
    FROM numbered
    GROUP BY user_id, session_seq
"""


@register("stream_session_window", oracle=_SESSION_ORACLE)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with a 30-min inactivity gap, batch form: lag →
    new-session flag → running sum = session id → groupBy. One shuffle
    on user_id, linear state — the exact computation
    F.session_window(ts, '30 minutes') performs incrementally in
    streaming mode. lag(ts) of the FIRST row is NULL → flagged as a new
    session (session_seq starts at 1)."""
    events = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    cum = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    gap_ok = F.col("ts") - F.lag("ts").over(w) <= F.expr("INTERVAL 30 MINUTE")
    flagged = events.withColumn(
        "new_session", F.when(gap_ok, F.lit(0)).otherwise(F.lit(1))
    )
    numbered = flagged.withColumn("session_seq", F.sum("new_session").over(cum))
    return numbered.groupBy("user_id", "session_seq").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
    )


_WATERMARK_ORACLE = """
    WITH arrival AS (
      SELECT event_id, ts, event_type,
             max(ts) OVER (ORDER BY event_id
                           ROWS UNBOUNDED PRECEDING) AS max_ts_seen
      FROM events
    ), kept AS (
      SELECT * FROM arrival WHERE ts >= max_ts_seen - INTERVAL 1 HOUR
    )
    SELECT date_trunc('day', ts) AS win_start, event_type,
           COUNT(*) AS n_on_time
    FROM kept
    GROUP BY 1, 2
"""


@register("stream_watermark_late", oracle=_WATERMARK_ORACLE)
def stream_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark semantics in batch: running max event-time over arrival
    order (event_id) is the watermark; rows older than watermark − 1 h
    are dropped before the tumbling agg — exactly what
    withWatermark('ts','1 hour') does to late data in streaming.

    Since round 7 the row-exact running max is computed DISTRIBUTED via
    a two-phase decomposition over DETERMINISTIC VALUE BUCKETS (the r6
    verdict's other perf_weak member was this key's old global window):

    1. bucket = event_id div 1000 — a pure value function of the unique
       arrival key, so bucket membership is identical on every
       evaluation of every plan branch. (NOT repartitionByRange +
       spark_partition_id: range boundaries are SAMPLED per exchange,
       and when column pruning makes the two consumer branches
       non-identical Catalyst cannot ReuseExchange them, so each
       branch sees different boundaries — measured as a
       nondeterministic answer, 8905–9915 of 10000 rows kept across
       three runs of the same query at sf0.01.)
    2. per-bucket running max — every event-row window is
       bucket-partitioned (one hash shuffle, no sampling);
    3. bucket maxima → exclusive prefix max over the n/1000-row bucket
       table (stream_watermark_spans' scale argument: pick the bucket
       width so bucket count ~ thousands, it is a tuning knob with no
       effect on the answer);
    4. broadcast back; watermark = greatest(prior-bucket prefix max,
       local running max) — exactly the prefix-max decomposition of
       the arrival-order running max, since bucket order extends
       event_id order.

    Identical answer and oracle as the historical single-partition form
    (kept as the unregistered demo twin
    :func:`_watermark_late_global_window`); no WindowExec with an empty
    partition spec ever sees event rows. stream_watermark_spans remains
    the per-micro-batch-span approximation Structured Streaming itself
    uses; this key is the row-exact replay."""
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type"
    )
    bucketed = events.withColumn("bucket", F.expr("event_id div 1000"))
    local_w = (
        W.partitionBy("bucket")
        .orderBy("event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    local = bucketed.withColumn("local_max", F.max("ts").over(local_w))
    bmax = bucketed.groupBy("bucket").agg(F.max("ts").alias("b_max"))
    prior_w = W.orderBy("bucket").rowsBetween(W.unboundedPreceding, -1)
    prior = bmax.withColumn(
        "prior_max", F.max("b_max").over(prior_w)
    ).select("bucket", "prior_max")
    kept = (
        local.join(F.broadcast(prior), "bucket")
        .withColumn(
            "max_ts_seen",
            F.greatest(
                F.col("local_max"),
                F.coalesce(F.col("prior_max"), F.col("local_max")),
            ),
        )
        .filter(F.col("ts") >= F.col("max_ts_seen") - F.expr("INTERVAL 1 HOUR"))
    )
    win = F.window("ts", "1 day")
    return (
        kept.groupBy(win, "event_type")
        .agg(F.count(F.lit(1)).alias("n_on_time"))
        .select(
            F.col("window.start").alias("win_start"), "event_type", "n_on_time"
        )
    )


def _watermark_late_global_window(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DEMO TWIN (unregistered): the naive global arrival-order running
    max that stream_watermark_late used before round 7 — correct, but
    the empty window partition spec funnels every event row through one
    task. Kept for the equivalence property test and as documentation
    of the anti-pattern the registered two-phase plan avoids."""
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type"
    )
    arrival = W.orderBy("event_id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    kept = events.withColumn("max_ts_seen", F.max("ts").over(arrival)).filter(
        F.col("ts") >= F.col("max_ts_seen") - F.expr("INTERVAL 1 HOUR")
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
    "stream_stateful_dedup",
    oracle="""
    SELECT user_id, event_type, event_id, ts
    FROM (
      SELECT user_id, event_type, event_id, ts,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY event_id) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def stream_stateful_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First event per (user_id, event_type) in ARRIVAL order — the
    batch mirror of streaming dropDuplicates state: keyed state keeps
    the first-seen row. row_number over event_id is deterministic
    (event_id unique); dropDuplicates would not be."""
    events = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", "ts"
    )
    # r16: first-row-per-key via min/min_by aggregates (was a
    # row_number window) — map-side partial merge means each partition
    # contributes one candidate per key instead of sorting every event
    # row under the key shuffle; min(event_id) IS the arrival-order
    # first (event_id unique), min_by carries its timestamp.
    return events.groupBy("user_id", "event_type").agg(
        F.min("event_id").alias("event_id"),
        F.min_by("ts", "event_id").alias("ts"),
    )


@register(
    "stream_running_counts",
    oracle="""
    SELECT event_id, event_type, ts,
           COUNT(*) OVER (PARTITION BY event_type ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS running_count
    FROM events
    """,
)
def stream_running_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative per-type event count over event time — the batch
    answer equal to streaming outputMode('update') emitting each row's
    current count. One shuffle on event_type; per-type ordered scan."""
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "ts"
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return events.select(
        "event_id", "event_type", "ts", F.count(F.lit(1)).over(w).alias("running_count")
    )


@register(
    "stream_readstream_demo",
    oracle="""
    SELECT date_trunc('day', ts) AS win_start, event_type,
           COUNT(*) AS n_events
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_readstream_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True Structured Streaming surface: readStream over the events
    parquet, 1-hour watermark, 1-day tumbling count per type, processed
    with trigger(availableNow) into a memory sink, returned as the sink
    table — value-checked against the batch tumbling SQL (round-6
    upgrade from rows-only; see streaming/demos.py module docstring for
    the single-batch + epoch-pin argument that makes the oracle sound
    under any session timezone).

    The ts column is footer-branched and converted by
    registry.read_events_stream exactly as load_table does for batch,
    with its TIMESTAMP epoch pinned to the NTZ wall-clock micros: Spark
    watermarks require TIMESTAMP, not TIMESTAMP_NTZ
    (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE), and the epoch pin lets
    ntz_of_window_bound restore exact NTZ window starts on the way
    out."""
    raw = read_events_stream(spark, sf_dir)
    agg = (
        raw.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("window.start").alias("win_start"), "event_type", "n_events"
        )
    )
    return run_to_memory(agg, "complete").select(
        ntz_of_window_bound("win_start").alias("win_start"),
        "event_type",
        "n_events",
    )


@register(
    "stream_stateful_sessions",
    oracle="""
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS ts_us FROM events
    ), flagged AS (
      SELECT user_id, ts_us,
             CASE WHEN ts_us - lag(ts_us) OVER (PARTITION BY user_id
                                                ORDER BY ts_us)
                       <= 1800000000
                  THEN 0 ELSE 1 END AS new_session
      FROM e
    ), numbered AS (
      SELECT user_id, ts_us,
             CAST(SUM(new_session) OVER (PARTITION BY user_id
                                         ORDER BY ts_us
                                         ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS session_seq
      FROM flagged
    ), sessions AS (
      SELECT user_id, session_seq,
             min(ts_us) AS session_start_us,
             max(ts_us) AS session_end_us,
             COUNT(*) AS n_events
      FROM numbered GROUP BY 1, 2
    )
    SELECT user_id, session_start_us, session_end_us, n_events
    FROM sessions s
    WHERE session_seq < (SELECT max(session_seq) FROM sessions m
                         WHERE m.user_id = s.user_id)
    """,
)
def stream_stateful_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM STATEFUL STREAMING OPERATOR — per-user sessionization via
    applyInPandasWithState: readStream over events, groupBy user_id,
    an Arrow-batched state function that splits each user's stream on
    >30-minute gaps, EMITS closed sessions and carries the open tail
    session in the state store across micro-batches.

    SQL-checkable (round-6 upgrade from rows-only): the emitted set
    equals the batch lag+cumsum sessionizer's output minus each user's
    FINAL session (which stays open in state when the availableNow
    stream ends — exactly the documented contract of a session operator
    fed a finite prefix of an infinite stream); the oracle is that SQL
    over epoch micros, tz-free on both engines. Ties on ts_us are
    harmless: a zero gap never opens a session, so session bounds and
    counts are order-independent. test_streaming_stateful pins the same
    equality against the in-engine batch sessionizer independently.

    Scale: this is the applyInPandasWithState pattern for operators
    Spark lacks natively — state is per-key and bounded (one open
    session: 3 longs), the shuffle is one hash partition on user_id,
    and Arrow batches amortize the Python crossing. At 100 TB of
    events/day the state store holds |active users| × 24 bytes, and a
    real deployment adds a watermark-driven timeout
    (GroupStateTimeout.EventTimeTimeout) to flush idle tails."""
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("session_start_us", T.LongType()),
            T.StructField("session_end_us", T.LongType()),
            T.StructField("n_events", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("start_us", T.LongType()),
            T.StructField("last_us", T.LongType()),
            T.StructField("n", T.LongType()),
        ]
    )
    gap_us = 30 * 60 * 1_000_000

    def sessionize(key, pdfs, state: GroupState):
        (user_id,) = key
        if state.exists:
            start_us, last_us, n = state.get
        else:
            start_us = last_us = n = None
        closed = []
        # Accumulate the group's FULL batch before sorting: a large
        # group can arrive as several Arrow batches, and a per-batch
        # sort would mis-order events across batch boundaries.
        all_ts: list[int] = []
        for pdf in pdfs:
            all_ts.extend(int(t) for t in pdf["ts_us"])
        for ts_us in sorted(all_ts):
                if start_us is None:
                    start_us, last_us, n = ts_us, ts_us, 1
                elif ts_us - last_us > gap_us:
                    closed.append((user_id, start_us, last_us, n))
                    start_us, last_us, n = ts_us, ts_us, 1
                else:
                    last_us, n = ts_us, n + 1
        state.update((start_us, last_us, n))
        if closed:
            yield pd.DataFrame(
                closed,
                columns=["user_id", "session_start_us", "session_end_us", "n_events"],
            )

    raw = read_events_stream_micros(spark, sf_dir).select("user_id", "ts_us")
    sessions = raw.groupBy("user_id").applyInPandasWithState(
        sessionize,
        out_schema,
        state_schema,
        "append",
        GroupStateTimeout.NoTimeout,
    )
    return run_to_memory(sessions, "append")
