"""Scans, sources, sinks (SURVEY.md §2.1) — 6 keys.

Round-trip keys write under a fresh process-temp dir (never the repo or
/root/testdata) and read their own output back; the oracle runs against
the ORIGINAL parquet, so a lossy write (type drift, row loss, partition
misread) breaks the hash.

Scale notes: all writes are partitioned-parquet shaped — a directory of
files, the only layout that survives 100 TB (one file per partition
task, target 128 MB-1 GB each via maxRecordsPerFile / repartition).
CSV/JSON exist as interchange formats; their scans carry explicit
schemas because inference is a full extra pass over the data at scale.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from climateiq_pipelines_spark.functions.helpers import exact_agg, sql_dsum
from climateiq_pipelines_spark.plans import register
from climateiq_pipelines_spark.registry import TABLES, load_table
from climateiq_pipelines_spark.session import new_temp_dir
from climateiq_pipelines_spark.sources.merge_demo import (
    INSERT_PRICE,
    N_INSERTS,
    UPDATE_BUMP,
    UPDATE_MOD,
    merge_source,
)


@register(
    "scan_parquet_project",
    oracle="""
    SELECT l_orderkey, l_quantity, l_returnflag
    FROM lineitem
    WHERE l_returnflag = 'R'
    """,
)
def scan_parquet_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection + predicate on the raw scan: .explain shows ReadSchema
    with exactly 3 columns and PushedFilters [EqualTo(l_returnflag,R)] —
    column pruning + row-group skipping, the foundation of every other
    plan at 100 TB."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_quantity", "l_returnflag"
    )


_COUNTS_ORACLE = "\nUNION ALL\n".join(
    f"SELECT '{t}' AS table_name, COUNT(*) AS n_rows FROM {t}" for t in TABLES
)


@register("scan_all_tables_counts", oracle=_COUNTS_ORACLE)
def scan_all_tables_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count every fixture table and union the results. Parquet count()
    is metadata-only (row-group stats), no data scan.

    Each per-table count is a GLOBAL aggregate, not a groupBy on a
    literal (round-13 review): a groupBy over an empty relation has no
    groups and would DROP that table's row entirely, while the oracle's
    UNION ALL of COUNT(*) always emits ('t', 0) — SQL COUNT semantics
    need the global form."""
    out: DataFrame | None = None
    for t in TABLES:
        df = (
            load_table(spark, sf_dir, t)
            .agg(F.count(F.lit(1)).alias("n_rows"))
            .select(F.lit(t).alias("table_name"), "n_rows")
        )
        out = df if out is None else out.unionByName(df)
    assert out is not None
    return out


_CSV_SCHEMA = T.StructType(
    [
        T.StructField("l_orderkey", T.LongType()),
        T.StructField("l_quantity", T.DoubleType()),
        T.StructField("l_returnflag", T.StringType()),
        T.StructField("ship_day", T.StringType()),
    ]
)


@register(
    "scan_csv_roundtrip",
    oracle=f"""
    SELECT l_returnflag, COUNT(*) AS n_rows, {sql_dsum('l_quantity')} AS sum_qty,
           min(CAST(CAST(l_shipdate AS DATE) AS VARCHAR)) AS first_ship_day
    FROM lineitem
    WHERE l_orderkey % 10 = 0
    GROUP BY l_returnflag
    """,
)
def scan_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write a deterministic lineitem slice as CSV (header, explicit
    schema on re-read — inference is an extra full pass at scale), read
    it back, aggregate. Oracle runs on the ORIGINAL parquet: any
    write/read lossiness breaks the hash. Timestamps travel as ISO day
    strings — CSV has no timestamp type; parsing discipline is pinned
    by the schema.  The per-flag quantity groups are
    table-fraction-sized, so the audit sum is limb-split (helpers
    module docstring, invariants 2 and 3)."""
    li = load_table(spark, sf_dir, "lineitem")
    slice_df = li.filter(F.col("l_orderkey") % 10 == 0).select(
        "l_orderkey",
        "l_quantity",
        "l_returnflag",
        F.col("l_shipdate").cast("date").cast("string").alias("ship_day"),
    )
    path = os.path.join(new_temp_dir("csv"), "lineitem_slice")
    slice_df.write.mode("overwrite").option("header", True).csv(path)
    back = spark.read.schema(_CSV_SCHEMA).option("header", True).csv(path)
    return exact_agg(
        back,
        ["l_returnflag"],
        [
            ("count", "n_rows"),
            ("dsum", "l_quantity", "sum_qty"),
            ("min", "ship_day", "first_ship_day"),
        ],
    )


@register(
    "scan_json_roundtrip",
    oracle=f"""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
           {sql_dsum('l_extendedprice')} AS sum_price
    FROM lineitem
    WHERE l_orderkey % 10 = 0
    GROUP BY l_returnflag, l_linestatus
    """,
)
def scan_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same slice through JSON-lines. JSON doubles round-trip exactly
    (Spark writes shortest-repr, reads bit-equal); schema is explicit on
    re-read for the same scale reason as CSV; limb-split audit sum."""
    li = load_table(spark, sf_dir, "lineitem")
    slice_df = li.filter(F.col("l_orderkey") % 10 == 0).select(
        "l_orderkey", "l_extendedprice", "l_returnflag", "l_linestatus"
    )
    path = os.path.join(new_temp_dir("json"), "lineitem_slice")
    slice_df.write.mode("overwrite").json(path)
    schema = T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
        ]
    )
    back = spark.read.schema(schema).json(path)
    return exact_agg(
        back,
        ["l_returnflag", "l_linestatus"],
        [
            ("count", "n_rows"),
            ("dsum", "l_extendedprice", "sum_price"),
        ],
    )


@register(
    "sink_partitioned_parquet",
    oracle=f"""
    SELECT o_orderpriority, COUNT(*) AS n_orders,
           {sql_dsum('o_totalprice')} AS sum_price
    FROM orders
    WHERE year(o_orderdate) = 1997
    GROUP BY o_orderpriority
    """,
)
def sink_partitioned_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write orders partitioned by year, then read back ONE partition via
    a filter on the partition column — .explain shows PartitionFilters
    (directory-level pruning: the 1997 query never opens 1995-2001
    files). This is THE layout decision at 100 TB: time-partitioned
    facts turn full scans into single-partition reads."""
    orders = load_table(spark, sf_dir, "orders")
    path = os.path.join(new_temp_dir("sink"), "orders_by_year")
    orders.withColumn("o_year", F.year("o_orderdate")).write.mode(
        "overwrite"
    ).partitionBy("o_year").parquet(path)
    back = spark.read.parquet(path).filter(F.col("o_year") == 1997)
    return exact_agg(
        back,
        ["o_orderpriority"],
        [
            ("count", "n_orders"),
            ("dsum", "o_totalprice", "sum_price"),
        ],
    )


@register(
    "sink_sorted_bucketed",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           COUNT(DISTINCT o_custkey) AS n_custkeys,
           8 AS n_buckets,
           TRUE AS buckets_sorted,
           TRUE AS custkey_single_bucket
    FROM orders
    """,
)
def sink_sorted_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-clustered, sorted-within-partition write: repartition(8, key)
    + sortWithinPartitions, the bucketing layout that lets a downstream
    reader join/merge on o_custkey without re-shuffling. The layout
    itself is not directly expressible as SQL values, so the contract is
    a 1-row AUDIT of the layout invariants, each SQL-pinnable: rows and
    distinct keys survive the round-trip, all 8 buckets are non-empty,
    every written file is internally sorted on (o_custkey, o_orderkey)
    (observed via the parquet _metadata file_path/row_index columns —
    the STORED order, robust to read-side file splitting), and every
    custkey lands in exactly one bucket (|distinct (key, bucket)| =
    |distinct key|). Any broken invariant flips a boolean or a count
    and hash-mismatches against the oracle."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_totalprice"
    )
    path = os.path.join(new_temp_dir("bucket"), "orders_clustered")
    (
        orders.repartition(8, "o_custkey")
        .sortWithinPartitions("o_custkey", "o_orderkey")
        .withColumn("bucket_id", F.spark_partition_id())
        .write.mode("overwrite")
        .parquet(path)
    )
    back = spark.read.parquet(path).select(
        "o_custkey",
        "o_orderkey",
        "bucket_id",
        F.col("_metadata.file_path").alias("fpath"),
        F.col("_metadata.row_index").alias("ridx"),
    )
    w = W.partitionBy("fpath").orderBy("ridx")
    prev_ck = F.lag("o_custkey").over(w)
    prev_ok = F.lag("o_orderkey").over(w)
    in_order = (
        prev_ck.isNull()
        | (prev_ck < F.col("o_custkey"))
        | ((prev_ck == F.col("o_custkey")) & (prev_ok <= F.col("o_orderkey")))
    )
    audited = back.withColumn("in_order", in_order)
    return audited.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("o_custkey").alias("n_custkeys"),
        F.countDistinct("bucket_id").alias("n_buckets"),
        F.min("in_order").alias("buckets_sorted"),
        F.countDistinct("o_custkey", "bucket_id").alias("_n_kb"),
    ).select(
        "n_rows",
        "n_custkeys",
        "n_buckets",
        "buckets_sorted",
        (F.col("_n_kb") == F.col("n_custkeys")).alias("custkey_single_bucket"),
    )


@register(
    "sink_merge_upsert",
    oracle=f"""
    WITH updates AS (
      SELECT o_orderkey, o_totalprice + {UPDATE_BUMP} AS o_totalprice
      FROM orders WHERE o_orderkey % {UPDATE_MOD} = 0
    ),
    inserts AS (
      SELECT (SELECT max(o_orderkey) FROM orders) + 1 + k AS o_orderkey,
             {INSERT_PRICE} AS o_totalprice
      FROM (SELECT unnest(range(0, {N_INSERTS})) AS k)
    ),
    source AS (SELECT * FROM updates UNION ALL SELECT * FROM inserts),
    merged AS (
      SELECT coalesce(s.o_orderkey, t.o_orderkey) AS o_orderkey,
             coalesce(s.o_totalprice, t.o_totalprice) AS o_totalprice,
             CASE WHEN s.o_orderkey IS NULL THEN 'kept'
                  WHEN t.o_orderkey IS NULL THEN 'inserted'
                  ELSE 'updated' END AS merge_action
      FROM (SELECT o_orderkey, o_totalprice FROM orders) t
      FULL OUTER JOIN source s ON s.o_orderkey = t.o_orderkey
    )
    SELECT merge_action, COUNT(*) AS n_rows,
           {sql_dsum('o_totalprice')} AS sum_price
    FROM merged GROUP BY merge_action
    """,
)
def sink_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE/upsert without a table format: target FULL OUTER JOIN
    source, source wins on match (update), unmatched source inserts,
    unmatched target survives — the exact WHEN MATCHED / NOT MATCHED
    semantics of SQL MERGE, materialized to parquet and read back so
    the audit aggregates come off the SINK, not the plan.

    Scale: this is the copy-on-write merge strategy — one shuffle on
    the merge key, full rewrite of touched partitions. At 100 TB you
    scope the rewrite by partition-pruning the target to partitions
    containing source keys first (or use a format with merge-on-read
    deletes); the join shape is unchanged."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    # Shared source contract (sources/merge_demo.py, round-13 review):
    # the MOR/time-travel twins merge against the IDENTICAL logical
    # source, so the constants live once.
    source = merge_source(spark, orders)
    t = orders.alias("t")
    s = source.alias("s")
    merged = t.join(s, F.col("t.o_orderkey") == F.col("s.o_orderkey"), "full").select(
        F.coalesce(F.col("s.o_orderkey"), F.col("t.o_orderkey")).alias(
            "o_orderkey"
        ),
        F.coalesce(F.col("s.o_totalprice"), F.col("t.o_totalprice")).alias(
            "o_totalprice"
        ),
        F.when(F.col("s.o_orderkey").isNull(), "kept")
        .when(F.col("t.o_orderkey").isNull(), "inserted")
        .otherwise("updated")
        .alias("merge_action"),
    )
    path = os.path.join(new_temp_dir("merge"), "orders_merged")
    merged.write.mode("overwrite").parquet(path)
    back = spark.read.parquet(path)
    return exact_agg(
        back,
        ["merge_action"],
        [
            ("count", "n_rows"),
            ("dsum", "o_totalprice", "sum_price"),
        ],
    )


@register(
    "scan_orc_roundtrip",
    oracle=f"""
    SELECT l_returnflag, COUNT(*) AS n_rows, {sql_dsum('l_quantity')} AS sum_qty,
           min(CAST(CAST(l_shipdate AS DATE) AS VARCHAR)) AS first_ship_day
    FROM lineitem
    WHERE l_orderkey % 10 = 0
    GROUP BY l_returnflag
    """,
)
def scan_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write a deterministic lineitem slice as ORC, read it back,
    aggregate — same oracle-against-the-ORIGINAL-parquet contract as
    the CSV/JSON roundtrips, so any type lossiness in the columnar
    write path breaks the hash. Unlike CSV, ORC is typed: decimals and
    dates survive natively (no string shims), and the reader gets
    predicate pushdown + column pruning like parquet."""
    li = load_table(spark, sf_dir, "lineitem")
    slice_df = li.filter(F.col("l_orderkey") % 10 == 0).select(
        "l_orderkey",
        "l_quantity",
        "l_returnflag",
        F.col("l_shipdate").cast("date").cast("string").alias("ship_day"),
    )
    path = os.path.join(new_temp_dir("orc"), "lineitem_slice")
    slice_df.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return exact_agg(
        back,
        ["l_returnflag"],
        [
            ("count", "n_rows"),
            ("dsum", "l_quantity", "sum_qty"),
            ("min", "ship_day", "first_ship_day"),
        ],
    )


@register(
    "scan_text_roundtrip",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(length(text)) AS BIGINT) AS n_chars,
           min(md5(text)) AS min_digest,
           max(md5(text)) AS max_digest
    FROM documents
    """,
)
def scan_text_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plain-text source breadth: dump the documents' text as line-
    oriented .txt (spark.write.text — one line per doc; the fixture
    texts are newline-free, asserted below so a future fixture can't
    silently split docs), read it back with spark.read.text, and reduce
    to line count + char count + min/max content digests. The oracle
    runs on the ORIGINAL parquet table, so the hash proves the text
    round-trip byte-lossless — the same contract as the CSV/JSON/ORC
    keys. Scale: text files split by line for free parallelism; the
    digest aggregate is map-side-combined scalars."""
    docs = load_table(spark, sf_dir, "documents").select("text")
    path = os.path.join(new_temp_dir("text"), "documents_text")
    # Loud failure if any text would be split across lines on write —
    # Hadoop's line reader splits on '\n' AND bare '\r' (ADVICE r5), so
    # guard both or a '\r' fixture would surface as an opaque digest
    # mismatch instead of this clear error.
    if docs.filter(F.col("text").rlike("[\\r\\n]")).limit(1).count() > 0:
        raise ValueError(
            "documents.text contains line breaks (\\r or \\n); "
            "text sink would split docs"
        )
    docs.write.mode("overwrite").text(path)
    back = spark.read.text(path)
    return back.agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.length("value")).cast("long").alias("n_chars"),
        F.min(F.md5("value")).alias("min_digest"),
        F.max(F.md5("value")).alias("max_digest"),
    )
