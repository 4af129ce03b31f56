"""Shared streaming-query runs: a wait with a LOUD timeout, the one
memory-sink run, and the one update-mode foreachBatch start.

Every streaming key waits through ``await_or_raise``.  On a slow host an
availableNow query can outlive its timeout; if the ``finally`` then
stopped it mid-batch and the key read its sink, an empty (complete-mode)
or partial (append-mode) sink would come back as the ANSWER, and a
host timeout would pass for a wrong-answer engine bug in the oracle
check.  A timeout must fail loudly and attributably, so the error
carries the query's status and last progress.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from climateiq_pipelines_spark.session import register_temp_view

_NO_DATA_BATCHES = "spark.sql.streaming.noDataMicroBatches.enabled"


def await_or_raise(query: StreamingQuery, seconds: int) -> None:
    """awaitTermination(seconds), raising TimeoutError on expiry instead
    of letting the caller read a partial sink.  The message names what
    the query was doing (its status) and how far it got (the last
    progress: batch id, input rows, per-phase ``durationMs``), so a
    host-load timeout reads differently from a stuck batch."""
    if not query.awaitTermination(seconds):
        last = query.lastProgress
        progress = (
            "no batch completed"
            if last is None
            else f"batch {last['batchId']}, {last['numInputRows']} input "
            f"rows, durationMs {last['durationMs']}"
        )
        raise TimeoutError(
            f"streaming query {query.name or query.id} did not terminate "
            f"within {seconds}s — refusing to read a partial sink; "
            f"status {query.status}; last progress: {progress}"
        )


def run_to_memory(
    df: DataFrame, output_mode: str, seconds: int = 120
) -> DataFrame:
    """Run the streaming frame ``df`` to completion (availableNow, output
    mode "append" or "complete") into a memory sink and return the sink
    table.  The view name is unique per call, so concurrent sessions and
    repeated runs never collide, and it is registered so the next
    release drops it: a memory sink pins its full result rows in driver
    memory.  The closing no-data batch stays on: in append mode it is
    the batch that emits the final windows and flushes timed-out state
    once the watermark passes them."""
    name = register_temp_view(f"cps_memory_{uuid.uuid4().hex[:12]}")
    query = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    try:
        await_or_raise(query, seconds)
    finally:
        query.stop()
    return df.sparkSession.table(name)


def run_update_foreach_batch(df: DataFrame, sink) -> None:
    """Run the streaming aggregate ``df`` to completion in UPDATE mode
    with an availableNow trigger, handing each micro-batch to the
    foreachBatch function ``sink``.

    Over a finite source the query runs exactly one micro-batch per
    batch of input and no trailing watermark-only batch.  That closing
    batch exists to advance the watermark and evict expired state; in
    update mode every changed group was already emitted by the batch
    that changed it, so the closing batch emits nothing and only costs
    a re-run of the stateful plan.  It is switched off with
    ``spark.sql.streaming.noDataMicroBatches.enabled=false`` for this
    query alone: ``start()`` clones the session into the stream, so the
    caller's value is restored as soon as it returns (unset again if it
    was unset).

    APPEND-mode queries must NOT come through here: there the closing
    batch is the one that emits the final windows, once the watermark
    passes them (the keys behind :func:`run_to_memory`)."""
    spark = df.sparkSession
    prior = spark.conf.get(_NO_DATA_BATCHES, None)
    spark.conf.set(_NO_DATA_BATCHES, "false")
    try:
        query = (
            df.writeStream.foreachBatch(sink)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
    finally:
        if prior is None:
            spark.conf.unset(_NO_DATA_BATCHES)
        else:
            spark.conf.set(_NO_DATA_BATCHES, prior)
    try:
        await_or_raise(query, 120)
    finally:
        query.stop()
