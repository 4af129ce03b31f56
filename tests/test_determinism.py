"""Shuffle-layout determinism probe (verify-skill recipe; SURVEY §7.4).

The engine's float policy claims partition-order independence: the same
query must produce BIT-IDENTICAL values under any shuffle partitioning.
Run representative float-bearing keys under shuffle.partitions ∈
{2, 32, 200} (runtime conf, AQE picks it up at plan time) and compare
canonical rows. A plain double SUM would fail this test; the
fixed-point accumulators must not.
"""

from __future__ import annotations

import pytest

from climateiq_pipelines_spark.parity import canon_frame
from climateiq_pipelines_spark.plans import QUERIES

from tests.conftest import SF_MED

PROBE_KEYS = [
    "agg_pricing_summary",   # grouped fixed-point sums/avgs
    "agg_stats_moments",     # decimal power sums + rounded ratios
    "win_running_sum",       # windowed fixed-point accumulation
    "llm_centroid_assign",   # fixed-point means + distance argmin
    "llm_tfidf_topterms",    # rounded-before-rank float ordering
    # round 3: layout-sensitive-by-construction keys — the range
    # partitioner's sampled boundaries and the iterative join schedule
    # MUST NOT leak into values
    "sort_multikey_scalable",  # two-phase rank == single-window rank
    "llm_dedup_clusters",      # component labels under any layout
    "stream_watermark_spans",  # span watermark from a groupBy, not order
    "llm_kmeans_iterate",      # fixed-point Lloyd loop, any layout
    # round 6b: new iterative / fixed-point / layout-adjacent keys
    "graph_pagerank",          # 3 power iterations, integer fixed point
    "llm_bm25_score",          # ln floored to micros + integer sums
    "llm_dsir_weights",        # hashed-gram ratios, checkpointed pass
    "sink_range_partitioned_stats",  # audit invariant to sampled bounds
    "events_markov_transitions",     # integer probabilities, any layout
    "agg_linear_fit",                # decimal moments -> rounded fit
    # round 15: exact-sum conversions, now limb-split (helpers
    # invariants 2 and 3) — the limb partials are summed per partition,
    # which CHANGES with the layout; the recombined integer sum must
    # not (integer addition associativity).
    "agg_rollup",        # ROLLUP over limb-split decimal sums
    "q8_market_share",   # two-accumulator merged ratio per year
    # round 16: sources-wave exact_agg() conversions — representatives
    # of each shape: a roundtrip audit (file-layout + shuffle layout
    # both vary), the countDistinct carry (collect_set partials merge
    # order-free), and a post-broadcast-join partial (DPP key).
    "scan_csv_roundtrip",          # exact_agg over a re-read CSV scan
    "scan_schema_evolution",       # cdistinct collect_set merge
    "scan_dynamic_partition_pruning",  # post-join partial stage
]


@pytest.mark.parametrize("key", PROBE_KEYS)
def test_partition_count_invariance(key, spark):
    baseline = None
    original = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for n in (2, 32, 200):
            spark.conf.set("spark.sql.shuffle.partitions", str(n))
            pdf = QUERIES[key](spark, SF_MED).toPandas()
            canon = canon_frame(pdf)
            if baseline is None:
                baseline = (n, canon)
            else:
                assert canon == baseline[1], (
                    f"{key}: result under shuffle.partitions={n} differs "
                    f"from n={baseline[0]} — float policy violated"
                )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", original)


# The cent-long moment path (agg_linear_fit, agg_stats_moments) is
# exact ONLY IF the double measures represent exact 2-decimal values:
# round(x*100) must recover the true cent integer. Pin that data
# contract on the fixtures so a regenerated table with >2-decimal
# values fails HERE (named precondition) rather than as an opaque
# oracle hash mismatch.
@pytest.mark.parametrize(
    "col", ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
)
def test_lineitem_measures_are_exact_cents(col, spark):
    from pyspark.sql import functions as F

    from climateiq_pipelines_spark.registry import load_table

    c = F.col(col) * 100
    dev = F.max(F.abs(c - F.round(c)))
    worst = load_table(spark, SF_MED, "lineitem").agg(dev).first()[0]
    # Doubles storing exact cent values sit within float error of the
    # integer grid; anything above 1e-4 means a third decimal digit.
    assert worst is not None and worst < 1e-4, (
        f"{col}: max deviation from the cent grid is {worst} — the "
        "cent-long moment accumulators' exactness precondition fails"
    )


# agg_count_distinct's cross-engine parity has a NULL data contract
# (round-13 review): Spark countDistinct(a, b) DROPS rows with any NULL
# argument while DuckDB COUNT(DISTINCT (a, b)) counts (x, NULL) as a
# distinct tuple — empirically verified on both engines.  The key is
# hash-exact ONLY while the counted columns are non-null, which every
# TPC-H-shaped fixture satisfies; pin that as a named precondition so a
# regenerated fixture with NULLs fails HERE attributably instead of as
# an off-by-N oracle hash mismatch.
@pytest.mark.parametrize("col", ["o_custkey", "o_orderstatus"])
def test_count_distinct_columns_are_non_null(col, spark):
    from pyspark.sql import functions as F

    from climateiq_pipelines_spark.registry import load_table

    n_null = (
        load_table(spark, SF_MED, "orders")
        .filter(F.col(col).isNull())
        .count()
    )
    assert n_null == 0, (
        f"orders.{col} has {n_null} NULLs — agg_count_distinct's "
        "engine/oracle NULL-tuple semantics diverge on such rows"
    )
