"""Round-7: MANIFEST-DRIVEN FILE SKIPPING — the READ side of the
data-skipping story. ``sink_range_partitioned_stats`` audits that a
range-clustered write produces pairwise-disjoint per-file key ranges
(the manifest a table format would persist); this module USES such a
manifest to prune files before the scan ever plans — the Iceberg/Delta
read path, demonstrated from first principles over plain parquet.

Spark natively skips ROW GROUPS via parquet footer stats once a file is
opened; FILE-level pruning from a manifest is the table format's job
and saves the open/footer round-trip entirely — the difference between
"touch every file of a 100 TB table to reject it" and "plan the scan
over 2 of 8000 files from metadata alone".

Registered after the driver's 50-entry certification window
(plans.load_all); rotation-targeted for round 8+.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from climateiq_pipelines_spark.functions.helpers import exact_agg, sql_dsum
from climateiq_pipelines_spark.plans import register
from climateiq_pipelines_spark.registry import load_table
from climateiq_pipelines_spark.session import new_temp_dir

_PARTS = 8
_LO, _HI = 100_000.0, 150_000.0  # the scan predicate (≈10% of rows)


@register(
    "scan_manifest_skipping",
    oracle=f"""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           {sql_dsum('o_totalprice')} AS total_price,
           TRUE AS files_pruned,
           TRUE AS scan_bounded
    FROM orders
    WHERE o_totalprice BETWEEN {_LO} AND {_HI}
    GROUP BY o_orderpriority
    """,
)
def scan_manifest_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILE SKIPPING VIA A MIN/MAX MANIFEST: write orders range-
    clustered on o_totalprice (8 files with pairwise-disjoint price
    ranges — the sink_range_partitioned_stats layout), derive the
    manifest (per-file min/max via one `_metadata.file_path` pass),
    then answer a band predicate by scanning ONLY the files whose
    [min, max] intersects the band — the predicate evaluates against
    metadata first, data second.

    The result must equal the plain filtered scan (the oracle runs the
    band over the raw table — pruning is proven LOSSLESS, not just
    fast), and two audited booleans pin that skipping actually
    happened: files_pruned (scanned < total — holds for ANY sampled
    boundary choice because a ≈10%-of-rows band cannot intersect all 8
    range-disjoint files) and scan_bounded (the manifest's file list
    is within the requested partition bound, so the driver-side file
    list is topology-sized, never data-sized; it is fetched with a
    bounded take(), the blocknl-probe discipline).

    At 100 TB: the manifest is the table format's metadata tree
    (Iceberg manifests/Delta checkpoint stats); this key is the
    engine-side proof that the layout + pruning arithmetic compose —
    write clustered, keep stats, plan scans from stats."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    path = os.path.join(
        new_temp_dir("manifest"),
        "orders_by_price",
    )
    (
        orders.repartitionByRange(_PARTS, "o_totalprice")
        .sortWithinPartitions("o_totalprice")
        .write.mode("overwrite")
        .parquet(path)
    )
    manifest = (
        spark.read.parquet(path)
        .select(
            F.col("_metadata.file_path").alias("fpath"), "o_totalprice"
        )
        .groupBy("fpath")
        .agg(
            F.min("o_totalprice").alias("pmin"),
            F.max("o_totalprice").alias("pmax"),
        )
    )
    # Metadata-plane pruning: ONE bounded take of the whole manifest
    # (≤ _PARTS + 1 rows by construction; the +1 would only trip if the
    # layout contract broke), band intersection derived in Python —
    # round-13 review: the old form ran two separate take() jobs over
    # the same manifest aggregate, recomputing the groupBy-over-files
    # scan twice for the identical ≤8-row relation.
    all_files = manifest.take(_PARTS + 1)
    hit_files = [
        r for r in all_files if r["pmax"] >= _LO and r["pmin"] <= _HI
    ]
    # Plain raise, not assert (round-13 review batch B's deferral; the
    # r12 txn precedent): python -O strips asserts, and a broken layout
    # contract on the READ path must fail loudly, not scan a manifest
    # it believes is bounded.
    if len(all_files) > _PARTS:
        raise RuntimeError(
            f"layout contract broken: {len(all_files)} files in the "
            f"manifest, expected <= {_PARTS} — the bounded take() no "
            "longer covers the whole manifest"
        )
    files_pruned = len(hit_files) < len(all_files)
    scan_bounded = len(all_files) <= _PARTS

    # ADVICE r7: an empty band would make spark.read.parquet(*[]) throw
    # an opaque no-paths error at other data distributions; surface the
    # actual condition instead (the [100k,150k] band is fixture-backed
    # non-empty today, so this is a guard, not a live path).
    if not hit_files:
        raise ValueError(
            f"manifest band [{_LO}, {_HI}] matched zero files — "
            "empty-band scans have no rows to aggregate"
        )
    pruned_scan = spark.read.parquet(*[r["fpath"] for r in hit_files])
    band = pruned_scan.filter(
        F.col("o_totalprice").between(_LO, _HI)
    )
    # the pruning literals attach at the merge stage
    return exact_agg(
        band,
        ["o_orderpriority"],
        [
            ("count", "n_rows"),
            ("dsum", "o_totalprice", "total_price"),
            ("lit", str(files_pruned), "files_pruned"),
            ("lit", str(scan_bounded), "scan_bounded"),
        ],
    )
