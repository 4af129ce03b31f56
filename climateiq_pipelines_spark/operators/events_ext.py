"""Round-6 event-analytics extensions (second wave): top event PATHS,
z-score ANOMALY summaries, RFM customer segmentation, and
inter-arrival gap statistics over the events/orders tables.
Registered after the driver's 50-entry certification window
(plans.load_all) so the round-6 rotation layout is untouched; covered
by tools/driver_sim.py and rotation-targeted for round 7+.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from climateiq_pipelines_spark.functions.helpers import micros
from climateiq_pipelines_spark.plans import register
from climateiq_pipelines_spark.registry import load_table

_TOP_PATHS_K = 10

_TOP_PATHS_ORACLE = f"""
    WITH ordered AS (
      SELECT user_id, event_type,
             lead(event_type, 1) OVER w AS e2,
             lead(event_type, 2) OVER w AS e3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    paths AS (
      SELECT event_type || '>' || e2 || '>' || e3 AS path,
             COUNT(*) AS n_occurrences
      FROM ordered
      WHERE e3 IS NOT NULL AND e2 IS NOT NULL AND event_type IS NOT NULL
      GROUP BY 1
    )
    SELECT path, n_occurrences, CAST(rk AS INTEGER) AS rank
    FROM (
      SELECT path, n_occurrences,
             row_number() OVER (ORDER BY n_occurrences DESC, path) AS rk
      FROM paths
    ) WHERE rk <= {_TOP_PATHS_K}
"""


@register("events_top_paths", oracle=_TOP_PATHS_ORACLE)
def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOP EVENT PATHS — the sequence-mining staple of product
    analytics: every consecutive 3-step path a user walks (ordered by
    event time with event_id as the deterministic tie-break), counted
    corpus-wide, top-10 (_TOP_PATHS_K) reported with a total order (count desc, path
    asc — a row_number, not rank, so the result set is identical even
    when counts tie at the cutoff).

    Plan: ONE user-partitioned window produces both lookaheads (the
    two lead()s share a single sort of each user's events — the
    posexplode+lead shingle discipline applied to event streams);
    path counting is a map-side-combined aggregate on the path string;
    the final top-{K} is a TakeOrderedAndProject-sized problem (at
    most |distinct paths| rows reach the rank stage, and the rank
    window is a single partition over the AGGREGATED relation only —
    |event_type|^3 is bounded, never the event stream itself).

    At 100 TB: per-user state is the 3-event lookahead buffer; the
    only data-sized shuffle is the user_id partitioning.

    (Round-12 review: this docstring previously ended in a
    ``.replace("{K}", ...)`` call — a bare string EXPRESSION is only a
    docstring without trailing operations, so __doc__ was None.)"""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    uw = W.partitionBy("user_id").orderBy("ts", "event_id")
    stepped = ev.select(
        "event_type",
        F.lead("event_type", 1).over(uw).alias("e2"),
        F.lead("event_type", 2).over(uw).alias("e3"),
    ).filter(
        F.col("e3").isNotNull()
        & F.col("e2").isNotNull()
        & F.col("event_type").isNotNull()
    )
    # F.concat, NOT concat_ws (round-13 review batch C): concat_ws
    # silently SKIPS null components while the oracle's || propagates
    # NULL — a row with a NULL event_type would emit a 2-part path on
    # the engine side and a NULL path on the oracle side.  concat
    # null-propagates exactly like ||, so the two sides agree on any
    # fixture, not just the current no-NULLs one.  All three
    # components are additionally filtered NON-NULL pre-aggregation on
    # BOTH sides (round-13 ADVICE): a NULL path row would otherwise
    # reach the rank window, where Spark sorts NULLs FIRST on the
    # ascending path key and DuckDB sorts them LAST — divergent ranks
    # the moment a NULL path lands near the top-10 boundary.
    paths = (
        stepped.select(
            F.concat(
                F.col("event_type"), F.lit(">"), F.col("e2"),
                F.lit(">"), F.col("e3"),
            ).alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )
    rw = W.orderBy(F.desc("n_occurrences"), F.asc("path"))
    return (
        paths.withColumn("rank", F.row_number().over(rw))
        .filter(F.col("rank") <= _TOP_PATHS_K)
        .select("path", "n_occurrences", F.col("rank").cast("int"))
    )


_ANOMALY_ORACLE = """
    WITH s AS (
      SELECT event_type,
             COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(value * value AS DECIMAL(25,6))) AS DOUBLE)
               AS sxx
      FROM events GROUP BY event_type
    ),
    st AS (
      SELECT event_type, n, sx, sxx,
             sx / n AS mean,
             CASE WHEN n >= 2 AND (sxx - sx * sx / n) / (n - 1) > 0
                  THEN sqrt((sxx - sx * sx / n) / (n - 1))
                  ELSE 0 END AS std
      FROM s
    )
    SELECT e.event_type,
           CAST(max(st.n) AS BIGINT) AS n,
           round(max(st.mean), 6) AS mean_value,
           round(max(st.std), 6) AS std_value,
           CAST(COUNT(*) FILTER (WHERE st.std > 0
                 AND abs(e.value - st.mean) > 3 * st.std) AS BIGINT)
             AS n_anomalies,
           round(max(CASE WHEN st.std > 0
                 THEN abs(e.value - st.mean) / st.std END), 6)
             AS max_abs_z
    FROM events e JOIN st ON e.event_type = st.event_type
    GROUP BY e.event_type
"""


@register("events_anomaly_zscore", oracle=_ANOMALY_ORACLE)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-SCORE ANOMALY SUMMARY per event type: mean/std of `value`
    from EXACT decimal moment sums (the agg_stats_moments recipe), a
    per-event 3-sigma outlier test, and the per-type anomaly count and
    max |z|. Monitoring pipelines run exactly this to flag metric
    drift per event stream.

    Determinism chain: per-row value*value is one IEEE multiply;
    decimal(25,6) sums are exact (partition-order independent); the
    mean/std expression trees are fixed (and IEEE sqrt is correctly
    rounded, so std is bit-identical cross-engine); therefore every
    per-event |value - mean| > 3*std comparison decides identically
    on both engines, and the counts/maxima hash-match with only the
    final round(…, 6) guarding the reported floats. Single-event
    groups (n=1) and zero-variance groups take the std=0 branch: no
    anomalies, NULL max_abs_z — both engines agree by the same CASE.

    Plan: a |event_type|-row stats aggregate (map-side combined)
    broadcasts back into the event scan; the flag evaluation is a
    zero-shuffle codegen map; the final rollup groups on event_type
    again. Two scans of events, one bounded broadcast, no window over
    the raw stream."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    dec = "decimal(25,6)"
    s = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast(dec)).cast("double").alias("sx"),
        F.sum((F.col("value") * F.col("value")).cast(dec))
        .cast("double")
        .alias("sxx"),
    )
    var = (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")) / (
        F.col("n") - 1
    )
    st = s.select(
        "event_type",
        "n",
        (F.col("sx") / F.col("n")).alias("mean"),
        F.when((F.col("n") >= 2) & (var > 0), F.sqrt(var))
        .otherwise(F.lit(0.0))
        .alias("std"),
    )
    flagged = ev.join(F.broadcast(st), "event_type").select(
        "event_type",
        "n",
        "mean",
        "std",
        (
            (F.col("std") > 0)
            & (F.abs(F.col("value") - F.col("mean")) > 3 * F.col("std"))
        ).alias("is_anomaly"),
        F.when(
            F.col("std") > 0,
            F.abs(F.col("value") - F.col("mean")) / F.col("std"),
        ).alias("abs_z"),
    )
    return flagged.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.round(F.max("mean"), 6).alias("mean_value"),
        F.round(F.max("std"), 6).alias("std_value"),
        F.count(F.when(F.col("is_anomaly"), 1)).alias("n_anomalies"),
        F.round(F.max("abs_z"), 6).alias("max_abs_z"),
    )


_RFM_ORACLE = """
    WITH cust AS (
      SELECT o_custkey,
             MAX(o_orderdate) AS last_order,
             COUNT(*) AS n_orders,
             SUM(CAST(floor(o_totalprice * 1000000) AS BIGINT))
               AS spend_micros
      FROM orders GROUP BY o_custkey
    )
    SELECT o_custkey,
           CAST(ntile(4) OVER (ORDER BY last_order DESC, o_custkey)
                AS INTEGER) AS r_score,
           CAST(ntile(4) OVER (ORDER BY n_orders DESC, o_custkey)
                AS INTEGER) AS f_score,
           CAST(ntile(4) OVER (ORDER BY spend_micros DESC, o_custkey)
                AS INTEGER) AS m_score,
           CAST(n_orders AS BIGINT) AS n_orders,
           CAST(spend_micros AS BIGINT) AS spend_micros
    FROM cust
"""


@register("events_rfm_segmentation", oracle=_RFM_ORACLE)
def events_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM SEGMENTATION — the marketing-analytics staple: every
    customer scored into quartiles on Recency (latest order date),
    Frequency (order count), and Monetary value (exact fixed-point
    spend), the (r, f, m) triple being the segment key campaigns
    target. Every ntile runs over a TOTAL order (metric desc, custkey
    asc), so quartile boundaries under tied metrics are deterministic
    on both engines — the classic RFM pitfall (ties at a quartile
    edge) resolved by construction; spend is summed in int64 micros
    so the monetary ordering is exact.

    Plan: one map-side-combined per-customer aggregate (the only
    data-sized shuffle), then three ntile windows over the CUSTOMER
    relation. The windows are unpartitioned by the semantics (global
    quartiles) — at 100 TB with 10^9 customers, production swaps
    exact ntile for approx_percentile quartile BOUNDARIES broadcast
    back (the agg_percentiles recipe), trading exact edge placement
    for a partitioned map; the exact form here IS the contract the
    approximation is judged against."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = orders.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(micros(F.col("o_totalprice"))).alias("spend_micros"),
    )
    rw = W.orderBy(F.desc("last_order"), F.asc("o_custkey"))
    fw = W.orderBy(F.desc("n_orders"), F.asc("o_custkey"))
    mw = W.orderBy(F.desc("spend_micros"), F.asc("o_custkey"))
    return cust.select(
        "o_custkey",
        F.ntile(4).over(rw).cast("int").alias("r_score"),
        F.ntile(4).over(fw).cast("int").alias("f_score"),
        F.ntile(4).over(mw).cast("int").alias("m_score"),
        F.col("n_orders").alias("n_orders"),
        "spend_micros",
    )


_INTERARRIVAL_ORACLE = """
    WITH gaps AS (
      SELECT event_type,
             CAST(epoch_us(ts) - epoch_us(lag(ts) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id))
                  AS BIGINT) AS gap_us
      FROM events
    )
    SELECT event_type,
           CAST(COUNT(gap_us) AS BIGINT) AS n_gaps,
           CAST(SUM(gap_us) AS BIGINT) AS total_gap_us,
           CAST(MIN(gap_us) AS BIGINT) AS min_gap_us,
           CAST(MAX(gap_us) AS BIGINT) AS max_gap_us,
           CAST(SUM(gap_us) // COUNT(gap_us) AS BIGINT) AS mean_gap_us
    FROM gaps WHERE gap_us IS NOT NULL
    GROUP BY event_type
"""


@register("events_inter_arrival_stats", oracle=_INTERARRIVAL_ORACLE)
def events_inter_arrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTER-ARRIVAL GAP STATISTICS — the operational-health signal
    behind rate monitoring and anomaly baselines: for every event, the
    microsecond gap since the SAME USER's previous event (any type —
    the user's activity rhythm), aggregated per arriving event type:
    gap count, exact total, min/max, and integer-mean. Gaps are pure
    int64 microsecond differences (epoch micros on both engines, the
    join_asof_tolerance discipline), the mean is integer floor
    division, and each user's first event contributes no gap — so
    every output value is exact and engine-identical.

    Plan: one lag() over the standard user_id exchange, then a
    map-side-combined aggregate onto the |event_type|-row result. At
    100 TB: identical shape to every other events key; the per-user
    sort is the only data-sized work."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    uw = W.partitionBy("user_id").orderBy("ts", "event_id")
    # ts is TIMESTAMP_NTZ: timestampdiff works on ntz directly (the
    # join_asof_tolerance discipline); unix_micros would demand a tz
    # cast and reintroduce session-tz sensitivity.
    gaps = (
        ev.select(
            "event_type", "ts", F.lag("ts").over(uw).alias("prev_ts")
        )
        .select(
            "event_type",
            F.expr("timestampdiff(MICROSECOND, prev_ts, ts)").alias(
                "gap_us"
            ),
        )
        .filter(F.col("gap_us").isNotNull())
    )
    return gaps.groupBy("event_type").agg(
        F.count("gap_us").alias("n_gaps"),
        F.sum("gap_us").alias("total_gap_us"),
        F.min("gap_us").alias("min_gap_us"),
        F.max("gap_us").alias("max_gap_us"),
        F.expr("sum(gap_us) div count(gap_us)").alias("mean_gap_us"),
    )


_ENTROPY_ORACLE = """
    WITH c AS (
      SELECT user_id, event_type, COUNT(*) AS n
      FROM events GROUP BY user_id, event_type
    ),
    t AS (
      SELECT user_id, event_type, n,
             SUM(n) OVER (PARTITION BY user_id) AS total,
             COUNT(*) OVER (PARTITION BY user_id) AS n_types
      FROM c
    )
    SELECT user_id,
           CAST(MAX(total) AS BIGINT) AS n_events,
           CAST(MAX(n_types) AS BIGINT) AS n_types,
           round(-SUM((CAST(n AS DOUBLE) / total)
                 * log2(CAST(n AS DOUBLE) / total)), 6) AS entropy_bits
    FROM t GROUP BY user_id
"""


@register("events_type_entropy", oracle=_ENTROPY_ORACLE)
def events_type_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BEHAVIORAL ENTROPY per user — the information-theoretic
    diversity of each user's event-type distribution (0 bits = does
    one thing; log2(5) ≈ 2.32 bits = uniform over all five types),
    the engagement-diversity feature beside win_running_distinct's
    breadth count. Probabilities are exact integer ratios cast
    through ONE fixed IEEE expression tree; log2, the only libm
    call, feeds a 6-dp-rounded output (the fin policy — same
    discipline as fn_math's transcendentals), and the per-user sum
    is over ≤|event_type| terms in deterministic group order on an
    aggregated relation.

    Plan: one (user, type) map-side-combined count — the only
    data-sized shuffle — then windows and the final aggregate over
    the per-user type rows (≤5 per user). At 100 TB: per-user state
    is |event_type| counters."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type")
    c = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    uw = W.partitionBy("user_id")
    t = c.select(
        "user_id",
        "n",
        F.sum("n").over(uw).alias("total"),
        F.count(F.lit(1)).over(uw).alias("n_types"),
    )
    p = F.col("n").cast("double") / F.col("total")
    return t.groupBy("user_id").agg(
        F.max("total").alias("n_events"),
        F.max("n_types").alias("n_types"),
        F.round(-F.sum(p * F.log2(p)), 6).alias("entropy_bits"),
    )
