"""Shared streaming-query runs: the one query start (its state
partitions sized from its input), a wait that fails LOUDLY on a stalled
query, the one memory-sink run, and the one update-mode foreachBatch
run.

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

import fnmatch
import os
import uuid

from pyspark.sql import DataFrame
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from climateiq_pipelines_spark.session import register_temp_view

_NO_DATA_BATCHES = "spark.sql.streaming.noDataMicroBatches.enabled"
_SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"
_ADVISORY_BYTES = "spark.sql.adaptive.advisoryPartitionSizeInBytes"


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


def state_partition_count(
    input_bytes: int, caller_partitions: int, advisory_bytes: int
) -> int:
    """A stream's state-partition count: one per advisory partition of
    input (``spark.sql.adaptive.advisoryPartitionSizeInBytes``, the size
    AQE coalesces batch shuffles to), at least 1 and never above the
    caller's ``spark.sql.shuffle.partitions``.  So it is 1 below one
    advisory partition of input, and at 100 TB (about 1.5 million
    advisory partitions of 64 MB) it equals the caller's count."""
    per_advisory = (input_bytes + advisory_bytes - 1) // advisory_bytes
    return min(caller_partitions, max(1, per_advisory))


def _source_bytes(df: DataFrame) -> int | None:
    """Total size of the files ``df``'s streaming sources read, by
    ``os.stat`` (no Spark job): each file-source directory's top-level
    files, less hidden ones and filtered by its ``pathGlobFilter``,
    counted once per source that reads it.  None when a source is not a
    file directory (a size-less source keeps the caller's count)."""
    total = 0
    leaves = df._jdf.queryExecution().logical().collectLeaves()
    for i in range(leaves.length()):
        leaf = leaves.apply(i)
        if not leaf.isStreaming():
            continue
        if leaf.nodeName() != "StreamingRelation":
            return None
        options = leaf.dataSource().options()
        path = options.get("path")
        if path.isEmpty() or not os.path.isdir(path.get()):
            return None
        glob = options.get("pathGlobFilter")
        pattern = "*" if glob.isEmpty() else glob.get()
        with os.scandir(path.get()) as entries:
            total += sum(
                e.stat().st_size
                for e in entries
                if e.is_file()
                and not e.name.startswith(("_", "."))
                and fnmatch.fnmatchcase(e.name, pattern)
            )
    return total


def _run(
    df: DataFrame,
    writer: DataStreamWriter,
    conf: tuple[tuple[str, str], ...] = (),
) -> None:
    """Start ``writer`` (a ``df.writeStream`` chain), the one stream
    start in the package, and wait for it through
    :func:`await_or_raise`.  For ``start()`` alone the session carries
    ``conf`` and a ``spark.sql.shuffle.partitions`` sized from the
    input by :func:`state_partition_count`: the state store runs one
    task per partition on every micro-batch, and a stream's partition
    count is fixed at its first start (AQE cannot coalesce it after).
    ``start()`` clones the session into the stream, so every caller
    value is restored as soon as it returns, unset again if it was
    unset."""
    spark = df.sparkSession
    input_bytes = _source_bytes(df)
    if input_bytes is not None:
        java_utils = spark._jvm.org.apache.spark.network.util.JavaUtils
        count = state_partition_count(
            input_bytes,
            int(spark.conf.get(_SHUFFLE_PARTITIONS)),
            java_utils.byteStringAsBytes(spark.conf.get(_ADVISORY_BYTES)),
        )
        conf = ((_SHUFFLE_PARTITIONS, str(count)), *conf)
    prior = [(k, spark.conf.get(k, None)) for k, _ in conf]
    for k, v in conf:
        spark.conf.set(k, v)
    try:
        query = writer.start()
    finally:
        for k, v in prior:
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    try:
        await_or_raise(query)
    finally:
        query.stop()


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
    _run(
        df,
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True),
    )
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
    query alone (see :func:`_run`).

    APPEND-mode queries must NOT come through here: there the closing
    batch is the one that emits the final windows, once the watermark
    passes them (the keys behind :func:`run_to_memory`)."""
    _run(
        df,
        df.writeStream.foreachBatch(sink)
        .outputMode("update")
        .trigger(availableNow=True),
        ((_NO_DATA_BATCHES, "false"),),
    )
