"""Shared streaming-query runs: a wait that fails LOUDLY on a stalled
query, the one memory-sink run, and the one update-mode foreachBatch
start.

Every streaming key waits through ``await_or_raise``.  If a wait gave
up on a query that was still working and the ``finally`` then stopped
it mid-batch, the key would read an empty (complete-mode) or partial
(append-mode) sink as the ANSWER, and a slow host would pass for a
wrong-answer engine bug in the oracle check.  So the wait gives up only
on lack of progress, never on a clock: a loaded host that still
completes micro-batches is waited for, and a stalled query fails
attributably, with its status and last progress in the error.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from climateiq_pipelines_spark.session import register_temp_view

_NO_DATA_BATCHES = "spark.sql.streaming.noDataMicroBatches.enabled"


# One stall window: a wait raises only after this long with the query
# still running and no micro-batch completed.  It is at least the
# longest single-batch wait any streaming key needed before.
STALL_WINDOW_S = 180


def await_or_raise(query: StreamingQuery) -> None:
    """Wait for ``query`` to terminate, in windows of STALL_WINDOW_S.
    Raise TimeoutError, instead of letting the caller read a partial
    sink, only when a whole window passes with the query still running
    and its last progress at the same batch id (or still none).  The
    message names what the query was doing (its status) and how far it
    got (the last progress: batch id, input rows, per-phase
    ``durationMs``), so a stuck batch reads differently from a slow
    one."""
    seen = None  # a just-started query has completed no batch
    while not query.awaitTermination(STALL_WINDOW_S):
        last = query.lastProgress
        now = None if last is None else last["batchId"]
        if now != seen:
            seen = now
            continue
        progress = (
            "no batch completed"
            if last is None
            else f"batch {last['batchId']}, {last['numInputRows']} input "
            f"rows, durationMs {last['durationMs']}"
        )
        raise TimeoutError(
            f"streaming query {query.name or query.id} completed no "
            f"micro-batch in {STALL_WINDOW_S}s and has not terminated — "
            f"refusing to read a partial sink; status {query.status}; "
            f"last progress: {progress}"
        )


def run_to_memory(df: DataFrame, output_mode: str) -> DataFrame:
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
        await_or_raise(query)
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
        await_or_raise(query)
    finally:
        query.stop()
