"""Round-7 feature-store extension: the POINT-IN-TIME (PIT) JOIN —
training-data generation's correctness linchpin. A feature store must
join each observation to the dimension/feature version that was valid
AT the observation's timestamp; joining to the latest version instead
leaks the future into training features (the classic label-leakage
bug). This key composes the repo's SCD2 build (scd2_build_intervals'
interval semantics) with the scalable as-of consumer
(join_asof_last_event's union+window formulation) into the one shape
feature platforms (Feast, Tecton, Databricks FS) call
`get_historical_features`.

Registered after the driver's 50-entry certification window
(plans.load_all); rotation-targeted for round 8+.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from climateiq_pipelines_spark.functions.helpers import micros
from climateiq_pipelines_spark.plans import register
from climateiq_pipelines_spark.registry import load_table

_PROBE_MOD = 53  # deterministic lineitem probe slice


@register(
    "join_pit_scd2",
    oracle=f"""
    WITH dim AS (
      SELECT o_custkey, o_orderkey AS ver,
             CAST(floor(o_totalprice * 1000000) AS BIGINT) AS price_micros,
             o_orderdate AS vf,
             lead(o_orderdate) OVER (PARTITION BY o_custkey
                                     ORDER BY o_orderdate, o_orderkey) AS vt
      FROM orders
    ),
    probes AS (
      SELECT l_orderkey, l_linenumber, o_custkey, l_shipdate
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE l_orderkey % {_PROBE_MOD} = 0
    )
    SELECT p.l_orderkey, p.l_linenumber,
           CAST(p.o_custkey AS BIGINT) AS custkey,
           strftime(p.l_shipdate, '%Y-%m-%d') AS ship_date,
           d.ver AS pit_version,
           d.price_micros AS pit_price_micros,
           d.ver IS NOT NULL AS had_profile
    FROM probes p
    LEFT JOIN dim d
      ON d.o_custkey = p.o_custkey
     AND d.vf <= p.l_shipdate
     AND (d.vt IS NULL OR p.l_shipdate < d.vt)
    """,
)
def join_pit_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-IN-TIME FEATURE LOOKUP over an SCD2 dimension: each probe
    (a lineitem shipment, standing in for a training observation) is
    joined to the customer-profile VERSION (an order, standing in for
    an attribute change) that was valid at ship time — the version
    with the greatest (valid_from, version_key) ≤ the probe timestamp,
    equivalently the SCD2 half-open interval containing it (the
    tie-break makes empty same-day intervals unmatchable on both
    formulations, which is why the two definitions agree exactly).

    The ORACLE uses the interval form (build intervals with lead(),
    range-join the probe into them — scd2_build_intervals' semantics
    verbatim); the ENGINE uses the scalable AS-OF form: union dim and
    probe rows, ONE per-customer ordered window carrying
    last_value(version IGNORE NULLS), keep probe rows. Hash-matching
    the two proves interval-lookup ≡ as-of-carry — the equivalence a
    feature store's correctness rests on.

    The lookup is LEFT: a probe earlier than the entity's first
    version carries NULL features + had_profile=false (the fixture
    genuinely contains these — 93 of 1179 probes ship before their
    customer's first profile version — and a feature store must emit
    the no-profile-yet row rather than silently dropping the
    observation or, worse, leaking a later version backward).

    Scale: one shuffle on the entity key, linear per-key state — never
    the naive probe×versions range join (quadratic per hot customer at
    100 TB). Probes are mod-sliced only to keep the checked output
    proportionate; the plan is identical unsliced."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_shipdate"
    )
    dim = orders.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderdate").alias("ts"),
        F.lit(0).alias("tag"),  # dims sort before same-date probes
        F.col("o_orderkey").alias("ver"),
        micros(F.col("o_totalprice")).alias("price_micros"),
        F.lit(None).cast("long").alias("l_orderkey"),
        F.lit(None).cast("int").alias("l_linenumber"),
    )
    probes = (
        li.filter(F.col("l_orderkey") % _PROBE_MOD == 0)
        .join(orders.select("o_orderkey", "o_custkey"),
              li["l_orderkey"] == F.col("o_orderkey"))
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("l_shipdate").alias("ts"),
            F.lit(1).alias("tag"),
            F.lit(None).cast("long").alias("ver"),
            F.lit(None).cast("long").alias("price_micros"),
            "l_orderkey",
            F.col("l_linenumber").cast("int").alias("l_linenumber"),
        )
    )
    # One entity-keyed ordered stream: at each probe, the running last
    # non-null version is exactly the SCD2 interval owner (dims with
    # the same date sort before probes via tag, later versions later
    # via ver — so the carry is max (valid_from, ver) <= probe ts).
    merged = dim.unionByName(probes)
    w = (
        W.partitionBy("custkey")
        .orderBy("ts", "tag", "ver")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    carried = merged.select(
        "*",
        F.last("ver", ignorenulls=True).over(w).alias("pit_version"),
        F.last("price_micros", ignorenulls=True)
        .over(w)
        .alias("pit_price_micros"),
    )
    return carried.filter(F.col("tag") == 1).select(
        "l_orderkey",
        "l_linenumber",
        F.col("custkey").cast("long").alias("custkey"),
        F.date_format("ts", "yyyy-MM-dd").alias("ship_date"),
        "pit_version",
        "pit_price_micros",
        F.col("pit_version").isNotNull().alias("had_profile"),
    )
