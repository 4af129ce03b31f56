"""The events fixture stores ``ts`` as parquet TIMESTAMP(MICROS), which
Spark reads as timestamp_ntz.  A file in the older TIMESTAMP(NANOS)
layout is outside that domain: every events reader must raise on it
rather than reinterpret the column (a nanos value read as micros is
1000x off, and no row count notices).

Each test writes the same events in both layouts and pins one reader:
the micros file reads back exactly, the nanos file raises.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException, StreamingQueryException

from climateiq_pipelines_spark.registry import (
    SCHEMAS,
    load_table,
    read_events_micros,
    read_events_stream,
)

N = 20
TS_US = [1_700_000_000_000_000 + i * 60_000_000 for i in range(N)]


@pytest.fixture(scope="module")
def dual_layout_dirs(tmp_path_factory):
    """Two sf dirs holding the same events: ``ts`` as TIMESTAMP(MICROS)
    (the fixture layout) and as TIMESTAMP(NANOS) (the retired one)."""
    base = tmp_path_factory.mktemp("events_layouts")
    dirs = []
    for unit, scale in (("us", 1), ("ns", 1000)):
        d = base / f"{unit}_dir"
        d.mkdir()
        table = pa.table(
            {
                "event_id": pa.array(range(N), pa.int64()),
                "ts": pa.array([t * scale for t in TS_US], pa.timestamp(unit)),
                "user_id": pa.array([i % 3 for i in range(N)], pa.int64()),
                "event_type": pa.array(["view"] * N),
                "value": pa.array([1.0] * N),
                "props": pa.array(["{}"] * N),
            }
        )
        pq.write_table(table, str(d / "events.parquet"))
        dirs.append(str(d))
    return tuple(dirs)


def test_load_table_identical_across_layouts(spark, dual_layout_dirs):
    us_dir, ns_dir = dual_layout_dirs
    a = load_table(spark, us_dir, "events")
    assert [(f.name, f.dataType) for f in a.schema.fields] == [
        (f.name, f.dataType) for f in SCHEMAS["events"].fields
    ]
    assert a.count() == N
    with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
        load_table(spark, ns_dir, "events")


def test_read_events_micros_identical_across_layouts(spark, dual_layout_dirs):
    us_dir, ns_dir = dual_layout_dirs
    a = read_events_micros(spark, us_dir).toPandas()
    assert sorted(a["ts_us"]) == TS_US
    with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
        read_events_micros(spark, ns_dir)


def _drain_stream(spark, sf_dir, name):
    q = (
        read_events_stream(spark, sf_dir)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(60)
    finally:
        q.stop()
    return spark.sql(f"SELECT * FROM {name}")


def test_stream_read_identical_across_layouts(spark, dual_layout_dirs):
    us_dir, ns_dir = dual_layout_dirs
    out = _drain_stream(spark, us_dir, "events_micros_layout")
    us = out.selectExpr("unix_micros(ts) AS us").toPandas()["us"]
    assert sorted(us) == TS_US
    with pytest.raises(StreamingQueryException):
        _drain_stream(spark, ns_dir, "events_nanos_layout")
