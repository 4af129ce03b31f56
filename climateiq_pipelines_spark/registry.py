"""Table registry: explicit schemas per fixture table + loud-failing loader.

Schemas are pinned from FIXTURES.md (profiled from the driver-generated
parquet). We declare them explicitly instead of relying on inference so a
misread fails at load time, but the parquet footer remains authoritative:
``load_table`` asserts the footer schema equals the registry entry.

Scale note: each table is one parquet file per scale dir here; at 100 TB a
table is a directory of many files (ideally partitioned / bucketed), and
``spark.read.parquet(path)`` handles both identically — the loader takes
the path pattern, not a single-file assumption.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from climateiq_pipelines_spark.session import memo

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

_S = T.StructField


def _schema(*fields: T.StructField) -> T.StructType:
    return T.StructType(list(fields))


SCHEMAS: dict[str, T.StructType] = {
    "region": _schema(
        _S("r_regionkey", T.IntegerType()),
        _S("r_name", T.StringType()),
    ),
    "nation": _schema(
        _S("n_nationkey", T.IntegerType()),
        _S("n_name", T.StringType()),
        _S("n_regionkey", T.IntegerType()),
    ),
    "customer": _schema(
        _S("c_custkey", T.LongType()),
        _S("c_name", T.StringType()),
        _S("c_nationkey", T.IntegerType()),
        _S("c_acctbal", T.DoubleType()),
        _S("c_mktsegment", T.StringType()),
    ),
    "supplier": _schema(
        _S("s_suppkey", T.LongType()),
        _S("s_name", T.StringType()),
        _S("s_nationkey", T.IntegerType()),
        _S("s_acctbal", T.DoubleType()),
    ),
    "part": _schema(
        _S("p_partkey", T.LongType()),
        _S("p_name", T.StringType()),
        _S("p_brand", T.StringType()),
        _S("p_type", T.StringType()),
        _S("p_size", T.IntegerType()),
        _S("p_retailprice", T.DoubleType()),
    ),
    "orders": _schema(
        _S("o_orderkey", T.LongType()),
        _S("o_custkey", T.LongType()),
        _S("o_orderstatus", T.StringType()),
        _S("o_totalprice", T.DoubleType()),
        _S("o_orderdate", T.TimestampNTZType()),
        _S("o_orderpriority", T.StringType()),
    ),
    "lineitem": _schema(
        _S("l_orderkey", T.LongType()),
        _S("l_partkey", T.LongType()),
        _S("l_suppkey", T.LongType()),
        _S("l_linenumber", T.IntegerType()),
        _S("l_quantity", T.DoubleType()),
        _S("l_extendedprice", T.DoubleType()),
        _S("l_discount", T.DoubleType()),
        _S("l_tax", T.DoubleType()),
        _S("l_returnflag", T.StringType()),
        _S("l_linestatus", T.StringType()),
        _S("l_shipdate", T.TimestampNTZType()),
    ),
    "events": _schema(
        _S("event_id", T.LongType()),
        _S("ts", T.TimestampNTZType()),
        _S("user_id", T.LongType()),
        _S("event_type", T.StringType()),
        _S("value", T.DoubleType()),
        _S("props", T.StringType()),
    ),
    "documents": _schema(
        _S("doc_id", T.LongType()),
        _S("text", T.StringType()),
        _S("lang", T.StringType()),
        _S("source", T.StringType()),
        _S("n_chars", T.LongType()),
    ),
    "embeddings": _schema(
        _S("vec_id", T.LongType()),
        _S("embedding", T.ArrayType(T.FloatType())),
        _S("label", T.IntegerType()),
    ),
}


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir.rstrip('/')}/{name}.parquet"


# Legacy events fixture layout: ts stored as parquet TIMESTAMP(NANOS),
# read as physical INT64 under the nanosAsLong conf (the vectorized reader
# rejects nanos natively). Newer fixture generations store plain micros
# TIMESTAMP (footer reads TimestampNTZType) — load_table branches on the
# footer so both layouts load identically as timestamp_ntz.
RAW_EVENTS_SCHEMA = _schema(
    _S("event_id", T.LongType()),
    _S("ts", T.LongType()),
    _S("user_id", T.LongType()),
    _S("event_type", T.StringType()),
    _S("value", T.DoubleType()),
    _S("props", T.StringType()),
)

NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"


def _assert_schema(name: str, df: DataFrame, expected_schema: T.StructType) -> None:
    # ORDERED tuples, not sets (round-13 review): the module's contract
    # is "footer schema equals the registry entry", and a set compare
    # silently passed column-ORDER drift in a regenerated fixture —
    # all consumers select by name today, but the guard should detect
    # the drift class it documents.
    expected = [(f.name, f.dataType) for f in expected_schema.fields]
    actual = [(f.name, f.dataType) for f in df.schema.fields]
    if expected != actual:
        raise ValueError(
            f"schema mismatch for {name}: expected {list(map(str, expected))}, "
            f"got {list(map(str, actual))}"
        )


def load_table(
    spark: SparkSession, sf_dir: str, name: str, assert_schema: bool = True
) -> DataFrame:
    """Load one fixture table, asserting the parquet footer schema matches
    the pinned registry entry (loud failure on fixture drift). Filters and
    projections applied by callers are pushed into the parquet scan by
    Catalyst (predicate pushdown + column pruning) — callers should
    filter/select as early as possible.

    The resolved relation is a lazy plan (no data, no blocks: every
    action still scans the parquet), memoized per session, sf_dir and
    table — what a catalog-backed `spark.table(name)` gives for free,
    instead of ~0.1 s of file listing + footer read + schema assert on
    every call. Fixture dirs are immutable within a session, so the
    memo is lazy and survives the between-key release."""
    if name not in SCHEMAS:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    if name == "events" and spark.conf.get(NANOS_CONF, "false") != "true":
        # The nanos conf is also declared in session.get_spark; it must
        # additionally be ensured here, memo hit or not, because the
        # driver calls queries() with its OWN session, which may never
        # have gone through our factory or may reset the conf between
        # calls. The set is idempotent and harmless for layout (a) below.
        spark.conf.set(NANOS_CONF, "true")
    return memo(
        "table",
        (sf_dir, name),
        lambda: _resolve_table(spark, sf_dir, name, assert_schema),
        lazy=True,
    )


def _resolve_table(
    spark: SparkSession, sf_dir: str, name: str, assert_schema: bool
) -> DataFrame:
    df = spark.read.parquet(table_path(sf_dir, name))
    if name != "events" or isinstance(df.schema["ts"].dataType, T.TimestampNTZType):
        if assert_schema:
            _assert_schema(name, df, SCHEMAS[name])
        return df
    # The events fixture has shipped in two layouts across driver
    # generations; the parquet footer is authoritative and we branch on
    # it:
    #   (a) micros TIMESTAMP — footer reads ts: TimestampNTZType;
    #       already the registry type, returned above as-is.
    #   (b) TIMESTAMP(NANOS) — Spark's vectorized reader rejects it
    #       natively; read the physical INT64 (nanosAsLong is a runtime
    #       SQL conf) and truncate to microseconds exactly as the DuckDB
    #       oracle does (ns div 1000), yielding timestamp_ntz.
    #       timestampadd on an NTZ literal stays NTZ and never consults
    #       the session timezone, so this is correct under any caller
    #       session.
    if assert_schema:
        _assert_schema(name, df, RAW_EVENTS_SCHEMA)
    return df.withColumn(
        "ts",
        F.expr(
            "timestampadd(MICROSECOND, ts div 1000, "
            "TIMESTAMP_NTZ '1970-01-01 00:00:00')"
        ),
    )


def widen_if_narrow(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Round-robin repartition a NARROW scan to session parallelism —
    and a 100 TB no-op. Every sf0.1 fixture table is ONE parquet row
    group, so a scan is one task and the first stage of every
    compute-heavy plan (shingling, tokenizing, vector math) runs on a
    single core; round 9 measured llm_bloom_decontam's probe scan at
    2.22 s single-core vs 0.53 s widened. At production scale the scan
    has thousands of row-group splits, the condition is false, and no
    shuffle is added. Call it on the RAW loaded table (one row per
    doc/vector — a narrow shuffle) BEFORE the explode/flatten that
    fans rows out, and only in plans whose map stage is the dominant
    cost; trivially-cheap relational keys should not pay the
    repartition. The getNumPartitions probe compiles the physical scan
    plan only (~25 ms, no job)."""
    par = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df


def _events_footer_is_ntz(spark: SparkSession, sf_dir: str) -> bool:
    """Probe the events parquet footer (metadata-only batch read) and
    report which fixture layout is on disk: True for micros TIMESTAMP
    (TimestampNTZType footer), False for legacy TIMESTAMP(NANOS)
    (physical INT64 under nanosAsLong). Streaming reads require a
    user-declared schema, so every streaming caller MUST branch on this
    — a nanos fixture silently read under the ntz schema (or vice versa)
    yields 1000x-collapsed timestamps, which no row-count check catches.
    The layout is immutable within a session, so the probe is a lazy
    memo per sf_dir; the NANOS conf re-set stays unconditional because
    the driver may hand us a session whose conf was never set.
    """
    if spark.conf.get(NANOS_CONF, "false") != "true":
        spark.conf.set(NANOS_CONF, "true")
    return memo(
        "events_footer_ntz",
        sf_dir,
        lambda: isinstance(
            spark.read.parquet(table_path(sf_dir, "events")).schema["ts"].dataType,
            T.TimestampNTZType,
        ),
        lazy=True,
    )


def parquet_first_array_len(
    sf_dir: str, name: str, column: str
) -> int | None:
    """Driver-side peek at the length of ``column``'s first non-null
    array value: a parquet read of that one column, scanning forward
    from the first row, with NO Spark job (fixture metadata is read
    driver-side where a Spark action would cost a whole job). Used by
    the block-NL preludes to learn the embedding dim without a
    ``take(1)`` probe job; the dim is a fixture-wide constant, so any
    non-null value is representative. Returns None when the file is
    missing/unreadable or the column holds no non-null value, so
    callers can fall back to the probe job."""
    import os as _os

    path = table_path(sf_dir, name)
    if not _os.path.exists(path):
        return None
    try:
        import pyarrow.dataset as _ds

        for batch in _ds.dataset(path, format="parquet").to_batches(
            columns=[column], batch_size=1024
        ):
            values = batch.column(0).drop_null()
            if len(values):
                return len(values[0].as_py())
        return None
    except Exception:  # noqa: BLE001 — fall back to the Spark probe
        return None


def _events_stream_raw(spark: SparkSession, sf_dir: str, is_ntz: bool) -> DataFrame:
    # The file-stream source wants a directory; the fixture table is a
    # single file, so stream the sf dir with a glob pinned to it.
    return (
        spark.readStream.schema(SCHEMAS["events"] if is_ntz else RAW_EVENTS_SCHEMA)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )


# Micros-since-epoch from an NTZ ts — tz-free by construction.
_NTZ_TS_US = "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
# Integer ns→µs division on the nanos layout: float '/ 1000' loses ±1 µs
# (nanos epochs ~1.7e18 exceed double's 53-bit mantissa).
_NANOS_TS_US = "ts div 1000"


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events fixture, normalized to the registry
    layout but with ``ts`` as TIMESTAMP (Spark watermarks reject
    TIMESTAMP_NTZ: EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE) whose EPOCH
    MICROS equal the NTZ wall-clock micros (``timestamp_micros`` over
    the footer-branched micros expression, NOT a session-tz cast).
    Pinning the epoch this way makes every downstream window boundary,
    watermark cutoff, and ``ntz_of_window_bound`` restore tz-independent
    — the streaming demo keys hash-match their batch/NTZ SQL oracles
    under ANY driver session timezone. Applies the same footer-branched
    conversion chain as ``load_table``."""
    is_ntz = _events_footer_is_ntz(spark, sf_dir)
    raw = _events_stream_raw(spark, sf_dir, is_ntz)
    expr = _NTZ_TS_US if is_ntz else _NANOS_TS_US
    return raw.withColumn("ts", F.timestamp_micros(F.expr(expr)))


def ntz_of_window_bound(col: str):
    """Restore an epoch-pinned TIMESTAMP (from ``read_events_stream``,
    or a window bound derived from one) to TIMESTAMP_NTZ wall-clock —
    ``unix_micros`` reads the epoch directly, so the round-trip is exact
    and never consults the session timezone."""
    return F.expr(
        f"timestampadd(MICROSECOND, unix_micros({col}), "
        "TIMESTAMP_NTZ '1970-01-01 00:00:00')"
    )


def _with_ts_us(df: DataFrame, is_ntz: bool) -> DataFrame:
    expr = _NTZ_TS_US if is_ntz else _NANOS_TS_US
    return df.select(
        "event_id",
        F.expr(expr).alias("ts_us"),
        "user_id",
        "event_type",
        "value",
        "props",
    )


def read_events_micros(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch events frame with ``ts`` replaced by ``ts_us`` — micros
    since epoch as a long, tz-free under both fixture layouts. The batch
    twin of ``read_events_stream_micros`` for pinning stateful-operator
    semantics."""
    is_ntz = _events_footer_is_ntz(spark, sf_dir)
    df = spark.read.parquet(table_path(sf_dir, "events"))
    return _with_ts_us(df, is_ntz)


def read_events_stream_micros(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming events frame with ``ts`` replaced by ``ts_us`` (micros
    since epoch, long) — for stateful operators keyed on gaps/absolute
    micros where a tz cast would shift values."""
    is_ntz = _events_footer_is_ntz(spark, sf_dir)
    return _with_ts_us(_events_stream_raw(spark, sf_dir, is_ntz), is_ntz)
