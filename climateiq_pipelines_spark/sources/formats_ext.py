"""Round-6 source-format extensions: malformed-record handling on CSV
ingest — the PERMISSIVE / corrupt-record-column contract every
real-world file ingest relies on (raw exports always contain bad
rows; FAILFAST kills the job, DROPMALFORMED silently eats data, and
PERMISSIVE quarantines) — and schema-evolution reads (mergeSchema
over parquet batches written under different schema versions).
Registered after the driver's 50-entry certification window
(plans.load_all).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from climateiq_pipelines_spark.functions.helpers import exact_agg, sql_dsum
from climateiq_pipelines_spark.plans import register
from climateiq_pipelines_spark.registry import load_table
from climateiq_pipelines_spark.session import new_temp_dir

# Deterministic corruption classes injected by key (disjoint by CASE
# precedence): bad numeric field, missing field, extra field.
_MALFORMED_ORACLE = f"""
    WITH cls AS (
      SELECT o_orderkey AS k, o_totalprice AS price,
             CASE WHEN o_orderkey % 97 = 0 THEN 'type'
                  WHEN o_orderkey % 89 = 0 THEN 'missing'
                  WHEN o_orderkey % 83 = 0 THEN 'extra'
                  ELSE 'clean' END AS c
      FROM orders
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) FILTER (WHERE c <> 'clean') AS BIGINT)
             AS n_corrupt,
           CAST(COUNT(*) FILTER (WHERE c IN ('type', 'missing'))
             AS BIGINT) AS n_price_null,
           CAST(COALESCE(SUM(k) FILTER (WHERE c <> 'clean'), 0)
             AS BIGINT) AS corrupt_key_checksum,
           (SELECT {sql_dsum("price")} FROM cls
            WHERE c IN ('clean', 'extra')) AS parsed_price_sum
    FROM cls
    """


@register("scan_csv_malformed", oracle=_MALFORMED_ORACLE)
def scan_csv_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MALFORMED-RECORD CSV ingest: orders is rendered to CSV lines
    with three corruption classes injected deterministically by key —
    a non-numeric price (key % 97), a missing field (% 89), an extra
    trailing field (% 83) — then read back under PERMISSIVE with a
    corrupt-record column, and the quarantine accounting is reduced to
    one SQL-checkable audit row.

    The audit pins Spark's documented PERMISSIVE semantics (probed,
    Spark 4.1): parseable sibling fields SURVIVE a malformed row (the
    key column parses on every class), the malformed field reads NULL,
    and the raw line is quarantined in _corrupt_record — including the
    extra-field class, where all declared columns parse fine and ONLY
    the corrupt column marks the row. So: n_corrupt counts all three
    classes, n_price_null only the first two, the corrupt-key checksum
    proves quarantined rows stay attributable, and the parsed price
    sum (fixed-point exact) covers clean + extra-field rows.

    Exactness: the price round-trips Java double→shortest-string→
    double lossless, and the sums are int64 micro-unit accumulations.
    Scale: rendering and parsing are zero-shuffle map stages; the
    audit is a 1-row aggregate. Quarantining malformed rows to a side
    output instead of failing 10-hour jobs is THE ingest pattern at
    100 TB; the corrupt class split here is the monitoring metric."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"), F.col("o_totalprice").alias("price")
    )
    k, price = F.col("k"), F.col("price")
    base = F.concat(k.cast("string"), F.lit(","), price.cast("string"))
    line = (
        F.when(k % 97 == 0, F.concat(k.cast("string"), F.lit(",xx")))
        .when(k % 89 == 0, k.cast("string"))
        .when(k % 83 == 0, F.concat(base, F.lit(",extra")))
        .otherwise(base)
    )
    path = os.path.join(
        new_temp_dir("csv"), "orders_csv"
    )
    o.select(line.alias("value")).write.mode("overwrite").text(path)

    back = (
        spark.read.schema("k long, price double, _corrupt_record string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
    )
    # the conditional counts and the integer checksum ride the same
    # one-exchange aggregate as the exact price sum
    corrupt = "_corrupt_record IS NOT NULL"
    return exact_agg(
        back,
        [],
        [
            ("count", "n_rows"),
            ("countc", f"CASE WHEN {corrupt} THEN 1 END", "n_corrupt"),
            ("countc", "CASE WHEN price IS NULL THEN 1 END", "n_price_null"),
            ("lsum", f"CASE WHEN {corrupt} THEN k END", "corrupt_key_checksum"),
            ("dsum", "price", "parsed_price_sum"),
        ],
    )


_EVOLUTION_ORACLE = f"""
    WITH unioned AS (
      SELECT p_partkey, p_retailprice,
             CASE WHEN p_partkey % 2 = 1 THEN p_brand END AS p_brand
      FROM part
    )
    SELECT p_brand IS NOT NULL AS has_brand,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT p_brand) AS BIGINT) AS n_brands,
           {sql_dsum("p_retailprice")} AS sum_price
    FROM unioned GROUP BY p_brand IS NOT NULL
    """


@register("scan_schema_evolution", oracle=_EVOLUTION_ORACLE)
def scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCHEMA-EVOLUTION READ (mergeSchema): a dataset written in two
    batches under DIFFERENT schema versions — v1 (even part keys)
    lacks the later-added p_brand column, v2 (odd keys) carries it —
    read back as ONE relation with `mergeSchema=true`, the additive-
    column evolution contract every long-lived 100 TB dataset needs
    (schemas change; historical files don't get rewritten). The merged
    read must surface the union schema, with v1 rows reading NULL for
    the new column; the output groups by column presence and pins row
    counts, distinct values of the evolved column, and the exact
    fixed-point price sum per side — a dropped batch, a mis-merged
    schema, or a default other than NULL each breaks a different row.

    Plan: two map-only writes, then one parquet scan whose footer
    merge happens at PLANNING time (per-file schema reconciliation,
    no data pass); the aggregate is map-side combined. At 100 TB,
    `mergeSchema` full-footer listing is a driver cost paid per query
    — production pins the merged schema in a catalog/table format
    instead (the lakehouse.py keys); the READ semantics pinned here
    are identical either way."""
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_retailprice"
    )
    path = os.path.join(
        new_temp_dir("evo"), "part_evolved"
    )
    v1 = part.filter(F.col("p_partkey") % 2 == 0).select(
        "p_partkey", "p_retailprice"
    )
    v2 = part.filter(F.col("p_partkey") % 2 == 1).select(
        "p_partkey", "p_retailprice", "p_brand"
    )
    v1.write.mode("overwrite").parquet(os.path.join(path, "batch=1"))
    v2.write.mode("overwrite").parquet(os.path.join(path, "batch=2"))
    back = spark.read.option("mergeSchema", "true").parquet(path)
    # the distinct brand count rides the partial stage as collect_set
    # — exact because the p_brand domain is BOUNDED (25 TPC-H brands),
    # so the set state is O(25), not O(rows)
    return exact_agg(
        back,
        ["p_brand IS NOT NULL AS has_brand"],
        [
            ("count", "n_rows"),
            ("cdistinct", "p_brand", "n_brands"),
            ("dsum", "p_retailprice", "sum_price"),
        ],
    )


_DPP_ORACLE = f"""
    WITH years AS (
      SELECT DISTINCT year(o_orderdate) AS y
      FROM orders WHERE o_orderpriority = '1-URGENT'
    )
    SELECT year(o.o_orderdate) AS o_year,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {sql_dsum('o.o_totalprice')} AS sum_price
    FROM orders o JOIN years ON year(o.o_orderdate) = years.y
    GROUP BY 1
    """


@register("scan_dynamic_partition_pruning", oracle=_DPP_ORACLE)
def scan_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC PARTITION PRUNING (DPP) — the runtime sibling of the
    static pruning `sink_partitioned_parquet` pins: when the partition
    filter is not a literal but comes from a JOINED dimension, Spark
    builds the dim's key set at runtime and prunes fact PARTITIONS
    before scanning them — the star-schema accelerant that turns
    "join facts to a filtered dim" into "read only the matching
    directories" at 100 TB. The key writes orders partitioned by
    year, derives a filtered dimension (years containing URGENT
    orders — a runtime-only set), joins fact to dim on the PARTITION
    column, and aggregates; the executed fact scan carries a
    dynamicpruning subquery in its PartitionFilters (pinned by
    tests/test_plans.py::test_dynamic_partition_pruning_fires).

    The oracle computes the same join against the original table —
    row/value parity proves pruning LOSSLESS, the plan pin proves it
    HAPPENED. Scale: the dim side must be broadcastable (it is:
    |distinct years|); DPP degrades gracefully to a full scan when
    the dim is too large — the fallback is correctness-neutral."""
    orders = load_table(spark, sf_dir, "orders")
    path = os.path.join(
        new_temp_dir("dpp"),
        "orders_by_year",
    )
    orders.withColumn("o_year", F.year("o_orderdate")).write.mode(
        "overwrite"
    ).partitionBy("o_year").parquet(path)
    fact = spark.read.parquet(path)
    dim = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.year("o_orderdate").alias("y"))
        .distinct()
    )
    # a POST-JOIN exact sum: limb-split, so the join's output
    # partitioning bounds nothing; the bound is 2^42 rows per year
    # (helpers invariant 3)
    return exact_agg(
        fact.join(dim, fact["o_year"] == dim["y"]),
        ["CAST(o_year AS INT) AS o_year"],
        [
            ("count", "n_orders"),
            ("dsum", "o_totalprice", "sum_price"),
        ],
    )


_CODEC_ORACLE = """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_checksum,
           TRUE AS codecs_agree,
           TRUE AS both_readable
    FROM orders
    """


@register("sink_compression_codecs", oracle=_CODEC_ORACLE)
def sink_compression_codecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPRESSION-CODEC CONTROL — the storage knob that matters at
    100 TB: the same relation written under snappy (the hot-path
    default: fastest decode) and zstd (the cold-storage choice:
    ~2x smaller at comparable read cost), then both read back and
    proven BYTE-EQUIVALENT relations: identical row counts, key
    checksums, and full-row digest sets (an order-insensitive
    xor-free digest aggregate — sum of per-row md5 prefixes — so a
    single flipped value under either codec breaks `codecs_agree`).
    Codec choice must never change query results; this key pins
    exactly that, plus that both codecs round-trip through the same
    parquet reader.

    Plan: two map-only writes, two scans, two 1-row digest
    aggregates, one comparison row. At 100 TB codec selection is
    per-table policy (write.option('compression', ...)); nothing
    downstream changes — which is the point being proven."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    base = new_temp_dir("codec")

    def digest(df):
        # order-insensitive relation digest: exact int64 sum of each
        # row's md5 head (16 hex chars -> bigint), plus count/checksum
        row_md5 = F.md5(
            F.concat_ws(
                "|",
                F.col("o_orderkey").cast("string"),
                F.col("o_totalprice").cast("string"),
                F.col("o_orderpriority"),
            )
        )
        return df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("o_orderkey").alias("ksum"),
            # decimal(38) accumulator: 60-bit per-row terms summed over
            # any corpus size without int64 overflow (ANSI mode errors,
            # not wraps — probed at sf0.01)
            F.sum(
                F.conv(F.substring(row_md5, 1, 15), 16, 10)
                .cast("long")
                .cast("decimal(38,0)")
            ).alias("dsum"),
        )

    paths = {}
    for codec in ("snappy", "zstd"):
        p = os.path.join(base, codec)
        orders.write.mode("overwrite").option("compression", codec).parquet(p)
        paths[codec] = p
    a = digest(spark.read.parquet(paths["snappy"]))
    b = digest(spark.read.parquet(paths["zstd"]))
    return (
        a.crossJoin(
            b.select(
                F.col("n").alias("n2"),
                F.col("ksum").alias("ksum2"),
                F.col("dsum").alias("dsum2"),
            )
        ).select(
            F.col("n").alias("n_rows"),
            F.col("ksum").alias("key_checksum"),
            (
                (F.col("n") == F.col("n2"))
                & (F.col("ksum") == F.col("ksum2"))
                & (F.col("dsum") == F.col("dsum2"))
            ).alias("codecs_agree"),
            ((F.col("n") > 0) & (F.col("n2") > 0)).alias("both_readable"),
        )
    )
