"""Set operations (SURVEY.md §2.7) — 8 keys.

union/intersect/except map 1:1 onto Spark DataFrame ops; the
deduplication key deliberately avoids dropDuplicates, whose keep-choice
is partition-arrival nondeterministic — the checked formulation is
groupBy+min, which is deterministic on any engine and any layout.

Scale notes: UNION ALL is a zero-shuffle concatenation of inputs;
distinct/intersect/except shuffle on the full row (hash-partition +
per-partition dedup) — at 100 TB always project to the minimal column
set FIRST so the shuffle carries keys, not payloads.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from climateiq_pipelines_spark.functions.helpers import micros
from climateiq_pipelines_spark.plans import register
from climateiq_pipelines_spark.registry import load_table


_UNION_ALL_ORACLE = """
    SELECT c_custkey AS entity_key, c_name AS entity_name,
           c_acctbal AS acctbal, 'customer' AS kind
    FROM customer WHERE c_acctbal > 5000
    UNION ALL
    SELECT s_suppkey, s_name, s_acctbal, 'supplier'
    FROM supplier WHERE s_acctbal > 5000
"""


@register("set_union_all", oracle=_UNION_ALL_ORACLE)
def set_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """High-balance customers ∪all high-balance suppliers under an
    aligned schema (unionByName: position bugs become name errors)."""
    customer = load_table(spark, sf_dir, "customer").filter(
        F.col("c_acctbal") > 5000
    )
    supplier = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") > 5000
    )
    c = customer.select(
        F.col("c_custkey").alias("entity_key"),
        F.col("c_name").alias("entity_name"),
        F.col("c_acctbal").alias("acctbal"),
        F.lit("customer").alias("kind"),
    )
    s = supplier.select(
        F.col("s_suppkey").alias("entity_key"),
        F.col("s_name").alias("entity_name"),
        F.col("s_acctbal").alias("acctbal"),
        F.lit("supplier").alias("kind"),
    )
    return c.unionByName(s)


@register(
    "set_union_distinct",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    UNION
    SELECT s_nationkey FROM supplier
    """,
)
def set_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    supplier = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return customer.union(supplier).distinct()


@register(
    "set_intersect",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey FROM supplier
    """,
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nation keys present on both sides. Catalyst rewrites INTERSECT to
    a left-semi join over distinct inputs — key-only shuffle."""
    customer = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    supplier = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return customer.intersect(supplier)


@register(
    "set_except",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT
    SELECT s_nationkey FROM supplier
    """,
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nations with customers but no suppliers. subtract == SQL EXCEPT
    (set semantics: any match on the right removes the key entirely —
    exceptAll would only cancel per-occurrence). Catalyst plans it as
    distinct + left-anti join."""
    customer = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    supplier = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return customer.subtract(supplier)


@register(
    "set_dropdup_subset",
    oracle="""
    SELECT user_id, event_type, min(event_id) AS first_event_id,
           COUNT(*) AS n_dups
    FROM events
    GROUP BY user_id, event_type
    """,
)
def set_dropdup_subset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup on a column subset keeping the MIN event_id — NOT
    dropDuplicates, whose survivor depends on partition arrival order
    and is unreproducible across runs/engines. groupBy+min is one
    deterministic shuffle and partial-aggregates map-side at 100 TB."""
    events = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id"
    )
    return events.groupBy("user_id", "event_type").agg(
        F.min("event_id").alias("first_event_id"),
        F.count(F.lit(1)).alias("n_dups"),
    )


@register(
    "set_intersect_all",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT ALL
    SELECT s_nationkey FROM supplier
    """,
)
def set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics intersect: each nationkey survives min(count_left,
    count_right) times. Catalyst plans intersectAll as a join on
    (value, replicated row-number) — one shuffle, no O(n·m) blowup."""
    customer = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    supplier = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return customer.intersectAll(supplier)


@register(
    "set_except_all",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT ALL
    SELECT s_nationkey FROM supplier
    """,
)
def set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics except: each right occurrence cancels ONE left
    occurrence (count_left - count_right survivors), vs set-EXCEPT's
    any-match-removes-all. Same count-cancelling single-shuffle plan."""
    customer = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    supplier = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return customer.exceptAll(supplier)


@register(
    "set_union_by_name",
    oracle="""
    WITH a AS (
      SELECT o_orderkey AS k, o_totalprice AS price, NULL AS priority
      FROM orders WHERE o_orderkey % 2 = 0
    ),
    b AS (
      SELECT o_orderkey AS k, NULL AS price, o_orderpriority AS priority
      FROM orders WHERE o_orderkey % 2 = 1
    ),
    u AS (
      SELECT k, CAST(price AS DOUBLE) AS price, CAST(priority AS VARCHAR) AS priority FROM a
      UNION ALL
      SELECT k, CAST(price AS DOUBLE), CAST(priority AS VARCHAR) FROM b
    )
    SELECT priority IS NOT NULL AS has_priority,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(k) AS BIGINT) AS key_checksum,
           CAST(COALESCE(SUM(CAST(floor(price * 1000000) AS BIGINT)), 0)
                AS BIGINT) AS price_micros
    FROM u GROUP BY 1
    """,
)
def set_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION BY NAME with missing-column fill — the schema-evolution
    union (`unionByName(allowMissingColumns=True)`): two relations
    whose column sets differ (one carries price, the other priority)
    combine by COLUMN NAME, absent columns reading NULL — the
    positional `UNION ALL` would silently misalign or reject. The
    audit groups by column presence and pins counts, a key checksum,
    and the exact fixed-point price sum, so a misaligned or dropped
    column breaks a different row. Complements
    `scan_schema_evolution` (the same contract at the FILE level via
    mergeSchema).

    Plan: two map-side projections and one union — no shuffle until
    the audit aggregate; at 100 TB this is how heterogeneous batch
    generations concatenate before a backfill."""
    orders = load_table(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("price"),
    )
    b = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("priority"),
    )
    u = a.unionByName(b, allowMissingColumns=True)
    return u.groupBy(
        F.col("priority").isNotNull().alias("has_priority")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("k").alias("key_checksum"),
        F.coalesce(F.sum(micros(F.col("price"))), F.lit(0)).alias(
            "price_micros"
        ),
    )
