"""The round-3 streaming demo keys are rows-only for the driver
(incremental execution), so pin their semantics here against the
hash-checked batch twins — the same discipline test_streaming_stateful
applies to the sessionizer.
"""

from __future__ import annotations

import threading

import pytest
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from climateiq_pipelines_spark.plans import QUERIES
from climateiq_pipelines_spark.registry import load_table

from tests.conftest import SF_SMALL


def _fmt_ts(df, col):
    return df.withColumn(col, F.date_format(col, "yyyy-MM-dd HH:mm:ss"))


def test_sliding_demo_equals_batch_sliding(spark):
    """availableNow processes the finite fixture in one trigger, so the
    complete-mode sliding aggregation must equal the checked batch
    formulation exactly (watermarks only drop data arriving after the
    watermark advances BETWEEN triggers)."""
    demo = _fmt_ts(
        QUERIES["stream_sliding_demo"](spark, SF_SMALL), "win_start"
    ).toPandas()
    batch = _fmt_ts(
        QUERIES["stream_sliding_window"](spark, SF_SMALL), "win_start"
    ).toPandas()
    assert len(demo) > 0
    canon = lambda pdf: sorted(map(tuple, pdf.itertuples(index=False)))
    assert canon(demo) == canon(batch)


def test_dedup_demo_keeps_exactly_the_distinct_keys(spark):
    """dropDuplicatesWithinWatermark must keep exactly one row per
    (user_id, event_type) — the surviving key SET equals batch
    DISTINCT's even though the representative row is arrival-order
    dependent inside a micro-batch."""
    demo = QUERIES["stream_dedup_watermark_demo"](spark, SF_SMALL).toPandas()
    batch = (
        QUERIES["stream_stateful_dedup"](spark, SF_SMALL)
        .select("user_id", "event_type")
        .toPandas()
    )
    demo_keys = set(map(tuple, demo.itertuples(index=False)))
    batch_keys = set(map(tuple, batch.itertuples(index=False)))
    assert len(demo) == len(demo_keys)  # one row per key
    assert demo_keys == batch_keys


def test_foreachbatch_sink_equals_batch_tumbling(spark):
    """The idempotent read-back of the foreachBatch parquet sink must
    equal the checked batch tumbling aggregation — latest-batch-wins
    merge over update-mode emissions of a finite stream."""
    demo = _fmt_ts(
        QUERIES["stream_foreachbatch_sink"](spark, SF_SMALL), "win_start"
    ).toPandas()
    batch = _fmt_ts(
        QUERIES["stream_tumbling_window"](spark, SF_SMALL).select(
            "win_start", "event_type", "n_events"
        ),
        "win_start",
    ).toPandas()
    canon = lambda pdf: sorted(map(tuple, pdf.itertuples(index=False)))
    assert len(demo) > 0
    assert canon(demo) == canon(batch)


def test_stream_stream_join_equals_batch_interval_join(spark):
    """The watermarked stream-stream join over the finite fixture must
    emit exactly the batch interval join's pairs (availableNow processes
    everything before any state is evicted)."""
    from climateiq_pipelines_spark.registry import load_table

    demo = QUERIES["stream_stream_join_demo"](spark, SF_SMALL).toPandas()
    ev = load_table(spark, SF_SMALL, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    batch = (
        clicks.join(
            purchases,
            (F.col("c_user") == F.col("p_user"))
            & (F.col("purchase_ts") >= F.col("click_ts"))
            & (
                F.col("purchase_ts")
                <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")
            ),
        )
        .select(F.col("c_user").alias("user_id"), "click_id", "purchase_id")
        .toPandas()
    )
    canon = lambda pdf: sorted(map(tuple, pdf.itertuples(index=False)))
    assert len(demo) > 0
    assert canon(demo) == canon(batch)


def test_span_watermark_drops_subset_of_rowexact(spark):
    """The per-span watermark is LAZIER than the row-exact one (it only
    advances at span boundaries), so it can never drop a row the
    row-exact formulation kept — per-window counts must dominate."""
    spans = QUERIES["stream_watermark_spans"](spark, SF_SMALL).toPandas()
    exact = QUERIES["stream_watermark_late"](spark, SF_SMALL).toPandas()
    s = {(r.win_start, r.event_type): r.n_on_time for r in spans.itertuples()}
    e = {(r.win_start, r.event_type): r.n_on_time for r in exact.itertuples()}
    assert set(e) <= set(s)
    for k, n_exact in e.items():
        assert s[k] >= n_exact, k


def test_windowed_topk_demo_equals_batch_topk(spark):
    """The streaming trending-top-k (complete-mode counts + batch rank
    over the sink) must equal ranking the batch tumbling counts —
    per 1-day window, top-3 by (count desc, type asc)."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    demo = _fmt_ts(
        QUERIES["stream_windowed_topk_demo"](spark, SF_SMALL), "win_start"
    ).toPandas()
    # independent batch derivation straight off the events table
    from climateiq_pipelines_spark.registry import load_table

    ev = load_table(spark, SF_SMALL, "events")
    daily = (
        ev.select(
            F.date_trunc("day", "ts").alias("win_start"), "event_type"
        )
        .groupBy("win_start", "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    dw = W.partitionBy("win_start").orderBy(
        F.desc("n_events"), F.asc("event_type")
    )
    batch = _fmt_ts(
        daily.withColumn("rank", F.row_number().over(dw))
        .filter(F.col("rank") <= 3)
        .select("win_start", "event_type", "n_events", F.col("rank").cast("int")),
        "win_start",
    ).toPandas()
    assert len(demo) > 0
    canon = lambda pdf: sorted(map(tuple, pdf.itertuples(index=False)))
    assert canon(demo) == canon(batch)


# The two update-mode foreachBatch keys (both run through
# await_util.run_update_foreach_batch).
UPDATE_MODE_KEYS = ("stream_txn_exactly_once", "stream_foreachbatch_sink")
NO_DATA_BATCHES = "spark.sql.streaming.noDataMicroBatches.enabled"


class _ProgressLog(StreamingQueryListener):
    """Records each micro-batch's (batch id, input rows) as the stream
    reports its progress."""

    def __init__(self) -> None:
        self.batches: list[tuple[int, int]] = []
        self.terminated = threading.Event()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        self.batches.append(
            (event.progress.batchId, event.progress.numInputRows)
        )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        self.terminated.set()


@pytest.mark.parametrize("key", UPDATE_MODE_KEYS)
def test_update_mode_key_runs_exactly_one_micro_batch(spark, key):
    """One call, one micro-batch: the data batch, and no trailing
    watermark-only batch (it would emit nothing in update mode)."""
    log = _ProgressLog()
    spark.streams.addListener(log)
    try:
        QUERIES[key](spark, SF_SMALL)
        # the listener bus delivers progress before termination
        assert log.terminated.wait(60)
    finally:
        spark.streams.removeListener(log)
    n_events = load_table(spark, SF_SMALL, "events").count()
    assert log.batches == [(0, n_events)]


@pytest.mark.parametrize("caller_value", [None, "true"])
@pytest.mark.parametrize("key", UPDATE_MODE_KEYS)
def test_update_mode_key_restores_no_data_batch_conf(spark, key, caller_value):
    """The no-data-batch override is scoped to the key's own query: the
    caller's setting is as it left it afterwards, unset included."""
    if caller_value is None:
        spark.conf.unset(NO_DATA_BATCHES)
    else:
        spark.conf.set(NO_DATA_BATCHES, caller_value)
    try:
        QUERIES[key](spark, SF_SMALL)
        assert spark.conf.get(NO_DATA_BATCHES, None) == caller_value
    finally:
        spark.conf.unset(NO_DATA_BATCHES)


def test_await_timeout_names_status_and_last_progress():
    """A stalled wait says what the query was doing and how far it
    got, so a stuck batch can be told from a slow one; a query that
    keeps completing micro-batches is waited for, however long."""
    from climateiq_pipelines_spark.streaming.await_util import (
        STALL_WINDOW_S,
        await_or_raise,
    )

    class _StuckQuery:
        name, id = "slow", "q-1"
        status = {"message": "Processing new data", "isTriggerActive": True}
        lastProgress = {"batchId": 1, "numInputRows": 500,
                        "durationMs": {"triggerExecution": 179000}}

        def awaitTermination(self, seconds):
            assert seconds == STALL_WINDOW_S
            return False

    with pytest.raises(TimeoutError) as err:
        await_or_raise(_StuckQuery())
    msg = str(err.value)
    assert f"slow completed no micro-batch in {STALL_WINDOW_S}s" in msg
    assert "Processing new data" in msg
    assert "batch 1, 500 input rows" in msg and "179000" in msg

    class _NeverStartedQuery(_StuckQuery):
        lastProgress = None

    with pytest.raises(TimeoutError, match="no batch completed"):
        await_or_raise(_NeverStartedQuery())

    class _SlowButMovingQuery(_StuckQuery):
        """Each window ends with one more batch done; the fourth wait
        sees the query terminate."""

        lastProgress = None
        calls = 0

        def awaitTermination(self, seconds):
            self.calls += 1
            self.lastProgress = {"batchId": self.calls, "numInputRows": 1,
                                 "durationMs": {}}
            return self.calls == 4

    moving = _SlowButMovingQuery()
    await_or_raise(moving)
    assert moving.calls == 4


def test_foreachbatch_sink_reads_back_with_its_known_schema(spark):
    """The sink's read-back passes the schema it wrote, so a warm call
    launches one build job (the micro-batch's write), not a second
    schema-inference job over the sink files."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    QUERIES["stream_foreachbatch_sink"](spark, SF_SMALL)  # warm
    for _ in range(2):
        before = dag.numTotalJobs()
        QUERIES["stream_foreachbatch_sink"](spark, SF_SMALL)
        assert dag.numTotalJobs() - before == 1


def test_run_to_memory_names_each_sink_uniquely(spark):
    """Two runs of one stream land in two registered memory views with
    equal contents; the next release drops both."""
    from climateiq_pipelines_spark import session as S
    from climateiq_pipelines_spark.registry import read_events_stream
    from climateiq_pipelines_spark.streaming.await_util import run_to_memory

    S.release_blocks(spark)
    counts = (
        read_events_stream(spark, SF_SMALL).groupBy("event_type").count()
    )
    a = run_to_memory(counts, "complete")
    b = run_to_memory(counts, "complete")
    views = list(S._SCOPE.views)
    assert len(views) == 2 and views[0] != views[1], views
    assert sorted(a.collect()) == sorted(b.collect())
    S.release_blocks(spark)
    assert not any(spark.catalog.tableExists(v) for v in views)
