"""Generate PLANS.md — the physical plans of the headline queries with
the scale-relevant nodes called out, as a reviewable artifact of "the
plan you'd want at 100×" (tests/test_plans.py pins these shapes in CI;
this file makes them human-readable).

Usage: python tools/gen_plans.py [KEY ...]
With no KEY it writes PLANS.md at the repo root; with keys it prints
only their sections, as they would appear in PLANS.md.
"""

from __future__ import annotations

import os
import re
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.01"

# (key, what to look for in the plan at 100 TB)
SHOWCASE = [
    ("join_multikey", "3+ BroadcastHashJoin (dims), fact shuffle on FK keys, partial+final agg"),
    ("q3_shipping_priority", "pushed date/segment filters, broadcast filtered dim, TakeOrderedAndProject"),
    ("q18_large_orders", "aggregate-then-join: HAVING shrinks lineitem before orders/customer"),
    ("topk_global", "TakeOrderedAndProject — per-partition heaps, no global sort"),
    ("win_rank_topn_per_group", "WindowGroupLimit — bounded per-group heap before the filter"),
    ("scan_parquet_project", "ReadSchema pruned to 3 columns, PushedFilters on l_returnflag"),
    ("join_bucketed_colocated", "Bucketed: true scans, SortMergeJoin, single Exchange (final agg only)"),
    ("sort_multikey_scalable", "rank Window partitioned by range-partition id — no global-window funnel; pid pinned by one localCheckpoint evaluation (r7)"),
    ("sort_multikey_nulls", "r7 promotion: the registered base key now RUNS the two-phase rank (same plan as the _scalable sibling)"),
    ("stream_watermark_late", "r7 promotion: bucket-partitioned running max + broadcast bucket prefix-max — no sampled range exchange, no global data window"),
    ("llm_minhash_neardup", "one-token PPJoin prefix self-join on the rarest token (df, token) with the length filter, distinct candidates, array_intersect verify — no probe job, no size dispatch"),
    ("llm_minhash_lsh", "one-pass 16-min signature aggregate, band-key self-join, no cartesian"),
    ("llm_simhash_neardup", "band equi-join candidates — the all-pairs oracle twin never executes"),
    ("llm_ivf_topk", "cogrouped Arrow re-rank (FlatMapCoGroupsInArrow, fixedpoint.np_topk) after cell-key joins"),
    ("llm_ivf_pq_topk", "ADC joins carry scalar longs only; exact re-rank limited to the shortlist"),
    ("llm_corpus_pipeline", "three digest-keyed shuffles, map-side partial aggregation throughout"),
    ("llm_winnow_neardup", "partitioned winnow window, digest posting-list self-join, sizes ride rows"),
    ("llm_kmeans_iterate", "3 unrolled Lloyd rounds: k x 64 centroid broadcast + linear distance agg each"),
    ("q4_order_priority", "LeftSemi join (EXISTS decorrelated) with non-equi >90-day residual"),
    ("q19_discounted_revenue", "OR-of-conjunctions split and pushed into BOTH parquet scans"),
    ("llm_ngram_contamination", "lead()-window shingles, eval-side distinct join, count per doc"),
    ("llm_cosine_topk", "Arrow block-NL (MapInArrow, fixedpoint.np_topk) over a sparkContext-broadcast corpus; raises above the byte-derived bound"),
    ("q8_market_share", "pushed date/type filters, bounded-dim broadcasts, 2-accumulator share agg"),
    ("q17_small_qty_revenue", "brand-pruned join before the partkey window, 1-row final aggregate"),
    ("q20_potential_promotion", "prefix-LIKE range pushdown, aggregated dominance window, LeftSemi tail"),
    ("q11_important_stock", "semi-filtered fact, one partkey shuffle, 1-row total broadcast-cross (scalar subquery)"),
    ("llm_semdedup", "one label shuffle into per-cluster Arrow pair groups (FlatMapGroupsInArrow, fixedpoint.np_int_dots)"),
    ("llm_dsir_weights", "windowless array-index grams, single checkpointed (doc,bucket,side) pass, broadcast ratio table"),
    ("graph_pagerank", "3 unrolled power-iteration rounds; AQE stage reuse dedupes the repeated (edge, deg) subtree — 2 shuffles/round"),
    ("llm_inverted_index", "one (token, doc) shuffle; WindowGroupLimit prunes posting lists at the top-5 cutoff"),
    ("llm_bm25_score", "single word-stream pass with pivoted conditional tf counts, 1-row stats broadcast, TakeOrderedAndProject top-10"),
    ("llm_sliding_chunks", "zero-shuffle codegen chunker — sequence + slice + digest over the scan"),
    ("sort_zorder_locality", "16-term unrolled Morton map inside codegen, one map-side-combined tile aggregate"),
    ("win_gap_islands", "both row_number windows share ONE user_id Exchange (prefix-compatible sort)"),
    ("join_interval_overlap", "bounded grid-cell explode, cell EQUI-join + exact-range residual — no nested loop"),
    ("scan_dynamic_partition_pruning", "fact scan carries dynamicpruning#N subquery in PartitionFilters"),
    ("llm_bpe_apply_merge", "vocabulary-sized fold (aggregate HOF) after one corpus collapse; 1-row argmax broadcast"),
    ("graph_triangle_count", "degree-oriented adjacency INTERSECTION (r7b) — checkpointed edge list, broadcast degree + size-guarded broadcast adjacency, array_intersect per edge; no Σ outdeg² wedge materialization (measured 24 s → 6.6 s at sf0.1)"),
    ("llm_substring_span_dedup", "shared-shingle equi-join only (no cartesian), per-(pair,diagonal) islands window — partitions bounded by match runs"),
    ("llm_bloom_decontam", "r9 packed-long bitset: k element_at+bitmask probes per shingle against a 1024-long array literal — zero pre-filter shuffles; exact verify join on candidates only"),
    ("agg_linear_fit", "r9 cent-long moments: one round-to-cents conversion per row, long products, decimal accumulator only in the group state — pruned 3-column scan, map-side partial agg, one 3-row exchange"),
    ("llm_mrl_truncated_rerank", "Arrow block-NL over broadcast corpus, prefix-width stage-1 scoring, shortlist-only full-dim rerank in the same MapInArrow body as llm_cosine_topk; raises above the bound"),
    ("graph_label_propagation", "per-round broadcast label join + (node,label) partial agg + node-partitioned argmax window; checkpointed frontier truncates lineage"),
    ("llm_perceptron_quality", "per-round ONE map-side partial aggregate to a 9-long gradient collected as model-sized driver state (all-reduce); weights re-enter as literals"),
    ("events_attribution_touch", "both ignore-nulls carries share ONE user exchange + sort; 10-row final aggregate"),
]


def normalize(plan: str) -> str:
    """Strip what changes from one generation to the next but says
    nothing about the plan: expression ids (``#N``), exchange plan ids
    (``[plan_id=N]``), the per-call token of temp catalog tables
    (``cps_bkt_orders_<hex12>``) and the random suffix and root of
    session temp dirs (``/tmp/cps_bucketed_join_<rand8>``)."""
    plan = re.sub(r"#\d+L?", "", plan)
    plan = re.sub(r", \[plan_id=\d+\]", "", plan)
    plan = re.sub(r"\b(cps_\w+?)_[0-9a-f]{12}\b", r"\1_<token>", plan)
    return re.sub(
        re.escape(tempfile.gettempdir()) + r"/(cps_\w+?)_\w{8}(?!\w)",
        r"<tmp>/\1_<rand>",
        plan,
    )


def section(spark, key: str, note: str) -> str:
    """One key's PLANS.md section: its normalized initial physical plan
    at SF_DIR under the note saying what to look for."""
    from climateiq_pipelines_spark.plans import QUERIES

    df = QUERIES[key](spark, SF_DIR)
    plan = spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )
    return "\n".join(
        [
            f"## `{key}`",
            "",
            f"**Scale shape:** {note}",
            "",
            "```",
            normalize(plan).strip(),
            "```",
            "",
        ]
    )


def main(keys: list[str]) -> None:
    from climateiq_pipelines_spark.plans import QUERIES, load_all

    notes = dict(SHOWCASE)
    unknown = [k for k in keys if k not in notes]
    if unknown:
        sys.exit(f"not in SHOWCASE: {unknown}")
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    load_all()
    if keys:
        print("\n".join(section(spark, key, notes[key]) for key in keys))
        return
    lines = [
        "# PLANS — physical plans of the headline queries (generated)",
        "",
        "Generated by `tools/gen_plans.py` at sf0.01 (AQE initial plans —",
        "node CHOICE is what matters; AQE re-plans sizes at runtime).",
        "`tests/test_plans.py` pins these shapes in CI; this file is the",
        "human-readable evidence that each plan is the one we would want",
        "at 100× the data.",
        "",
    ]
    lines += [
        section(spark, key, note) for key, note in SHOWCASE if key in QUERIES
    ]
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(out, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print(f"wrote {out} ({len(SHOWCASE)} plans)")


if __name__ == "__main__":
    main(sys.argv[1:])
