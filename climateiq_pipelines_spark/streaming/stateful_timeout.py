"""Round-7 stateful-streaming extension: WATERMARK-DRIVEN STATE TIMEOUT
(GroupStateTimeout.EventTimeTimeout) actually firing — the flush-idle-
tails mechanism every earlier stateful key only documented. A two-
micro-batch availableNow run (maxFilesPerTrigger=1 over two mtime-
ordered files) advances the watermark between batches, so groups that
receive no second-batch data and whose timeout timestamp fell behind
the watermark are flushed by the engine with ``state.hasTimedOut`` —
observable, deterministic, and SQL-oracle-checked.

Registered after the driver's 50-entry certification window
(plans.load_all); covered by tools/driver_sim.py; rotation-targeted for
round 8+.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from climateiq_pipelines_spark.plans import register
from climateiq_pipelines_spark.session import memo, new_temp_dir
from climateiq_pipelines_spark.registry import read_events_micros
from climateiq_pipelines_spark.streaming.await_util import run_to_memory

_GAP_US = 30 * 60 * 1_000_000  # session gap (same as the sessionizers)
_GAP_MS = _GAP_US // 1000
_WM_DELAY_MS = 3_600_000  # withWatermark("ts", "1 hour")
_SPLIT_UID = 75  # users < 75 stream in batch 1; the rest in batch 2


def _two_batch_dir(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the events as TWO parquet files — users < _SPLIT_UID
    then the rest — with strictly increasing modification times, so the
    file stream source (default latestFirst=false processes oldest
    first) yields exactly two deterministic micro-batches.  Memoized
    per sf_dir; the release that deletes the temp dir also drops the
    memo entry, so a purged dir is never read."""
    return memo("state_timeout_split", sf_dir, lambda: _write_two_batches(spark, sf_dir))


def _write_two_batches(spark: SparkSession, sf_dir: str) -> str:
    base = new_temp_dir("state_timeout")
    ev = read_events_micros(spark, sf_dir).select("user_id", "ts_us")
    for i, pred in enumerate(
        (F.col("user_id") < _SPLIT_UID, F.col("user_id") >= _SPLIT_UID)
    ):
        stage = os.path.join(base, f"stage{i}")
        ev.filter(pred).coalesce(1).write.parquet(stage)
        (part,) = glob.glob(os.path.join(stage, "part-*.parquet"))
        dst = os.path.join(base, f"batch{i}.parquet")
        shutil.move(part, dst)
        shutil.rmtree(stage)
        os.utime(dst, (1_000_000_000 + i * 1000, 1_000_000_000 + i * 1000))
    return base


_TIMEOUT_ORACLE = f"""
    WITH e AS (
      SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us FROM events
    ),
    flagged AS (
      SELECT user_id, ts_us,
             CASE WHEN ts_us - lag(ts_us) OVER (PARTITION BY user_id
                                                ORDER BY ts_us)
                       <= {_GAP_US}
                  THEN 0 ELSE 1 END AS brk
      FROM e
    ),
    seq AS (
      SELECT user_id, ts_us,
             CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY ts_us
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS session_seq
      FROM flagged
    ),
    sessions AS (
      SELECT user_id, session_seq,
             CAST(MIN(ts_us) AS BIGINT) AS session_start_us,
             CAST(MAX(ts_us) AS BIGINT) AS session_end_us,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM seq GROUP BY user_id, session_seq
    ),
    marked AS (
      SELECT s.*,
             session_seq = (SELECT max(session_seq) FROM sessions m
                            WHERE m.user_id = s.user_id) AS is_tail
      FROM sessions s
    ),
    wm AS (
      SELECT (SELECT (MAX(ts_us) // 1000) - {_WM_DELAY_MS}
              FROM e WHERE user_id < {_SPLIT_UID}) AS w1_ms,
             (SELECT (MAX(ts_us) // 1000) - {_WM_DELAY_MS} FROM e) AS w2_ms
    )
    SELECT user_id, session_start_us, session_end_us, n_events,
           CASE WHEN is_tail THEN 'timeout' ELSE 'gap' END AS emitted_by
    FROM marked, wm
    WHERE (NOT is_tail)
       OR (user_id < {_SPLIT_UID}
           AND (session_end_us // 1000) + {_GAP_MS} < wm.w2_ms)
       OR (user_id >= {_SPLIT_UID}
           AND (session_end_us // 1000) + {_GAP_MS} < wm.w2_ms
           AND wm.w1_ms + 1 < wm.w2_ms)
"""


@register("stream_state_timeout_flush", oracle=_TIMEOUT_ORACLE)
def stream_state_timeout_flush(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EVENT-TIME STATE TIMEOUT, demonstrably firing: per-user
    sessionization via applyInPandasWithState where idle open tails are
    FLUSHED BY THE ENGINE's watermark-driven timeout instead of sitting
    in the state store forever — the mechanism that bounds state at
    100 TB/day (without it, |state| grows with every user ever seen).

    Harness: the events split into two files (users < {_SPLIT_UID},
    then the rest) streamed as availableNow micro-batches
    (maxFilesPerTrigger=1, mtime-ordered). Batch 1 sessionizes the
    first user group and arms a timeout at last_event + gap per user;
    the watermark W1 advances to batch 1's max - 1 h. In batch 2 those
    users receive no data, so every armed timeout behind W1 fires: the
    handler sees state.hasTimedOut, emits the tail marked 'timeout',
    and removes the state. Batch-2 users arm their own timeouts
    (clamped ahead of W1 when their whole stream trails it), and the
    engine's closing NO-DATA micro-batch — watermark W2 = global
    max - 1 h — flushes every remaining timeout behind W2. Tails at
    rest within gap+delay of the final watermark stay open.

    Oracle: the batch sessionizer in epoch micros with the full
    two-watermark rule mirrored: a first-group tail appears iff
    end_ms + gap < W2; a second-group tail iff end_ms + gap < W2 AND
    W1 + 1 < W2 (its registration was clamped to W1 + 1, which only
    fires if the final watermark moved past it). Same ms-truncated
    arithmetic as the engine's watermark tracker, tz-free throughout
    — the flushed SET matches exactly under any session timezone.

    Scale: state per key is 3 longs + one timeout registration; the
    timeout scan is the state store's own index, not a data pass. This
    key completes the stateful family: stream_stateful_sessions shows
    the operator, this shows its state-retention bound working."""
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    src_dir = _two_batch_dir(spark, sf_dir)
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("ts_us", T.LongType()),
        ]
    )
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
        .withColumn("ts", F.timestamp_micros(F.col("ts_us")))
        .withWatermark("ts", "1 hour")
        .select("user_id", "ts_us", "ts")
    )
    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("session_start_us", T.LongType()),
            T.StructField("session_end_us", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("emitted_by", T.StringType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("start_us", T.LongType()),
            T.StructField("last_us", T.LongType()),
            T.StructField("n", T.LongType()),
        ]
    )

    def sessionize(key, pdfs, state: GroupState):
        (user_id,) = key
        if state.hasTimedOut:
            start_us, last_us, n = state.get
            state.remove()
            yield pd.DataFrame(
                [(user_id, start_us, last_us, n, "timeout")],
                columns=[
                    "user_id",
                    "session_start_us",
                    "session_end_us",
                    "n_events",
                    "emitted_by",
                ],
            )
            return
        if state.exists:
            start_us, last_us, n = state.get
        else:
            start_us = last_us = n = None
        closed = []
        all_ts: list[int] = []
        for pdf in pdfs:
            all_ts.extend(int(t) for t in pdf["ts_us"])
        for ts_us in sorted(all_ts):
            if start_us is None:
                start_us, last_us, n = ts_us, ts_us, 1
            elif ts_us - last_us > _GAP_US:
                closed.append((user_id, start_us, last_us, n, "gap"))
                start_us, last_us, n = ts_us, ts_us, 1
            else:
                last_us, n = ts_us, n + 1
        state.update((start_us, last_us, n))
        # Arm the idle timeout at tail_end + gap, clamped ahead of the
        # CURRENT watermark: a batch-2 group whose tail already trails
        # the watermark (its events all predate batch 1's max) would
        # otherwise be an invalid registration (engine rejects timeouts
        # behind the watermark). The clamp parks such groups one ms
        # past the watermark — with no further batch they never fire,
        # which is exactly the open-tail contract.
        timeout_ms = last_us // 1000 + _GAP_MS
        wm_ms = state.getCurrentWatermarkMs()
        state.setTimeoutTimestamp(max(timeout_ms, wm_ms + 1))
        if closed:
            yield pd.DataFrame(
                closed,
                columns=[
                    "user_id",
                    "session_start_us",
                    "session_end_us",
                    "n_events",
                    "emitted_by",
                ],
            )

    sessions = raw.groupBy("user_id").applyInPandasWithState(
        sessionize,
        out_schema,
        state_schema,
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )
    return run_to_memory(sessions, "append", seconds=180)
