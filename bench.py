"""Benchmark runner — the driver's per-round perf gate.

Usage: python bench.py [KEY ...]

Runs the HEADLINE queries (or the registered KEYs given, in that order;
an unregistered KEY exits non-zero before Spark starts) at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on one shared
local[$SPARK_GRAFT_CPUS] session and prints EXACTLY ONE SHORT JSON line
on stdout:

    {"metric": "suite_wall_sec", "value": N, "unit": "sec",
     "n_queries": N, "sf": 0.1}

The driver captures only a ~2000-char tail of stdout (BENCH_r06.json
came back `parsed: null` when the per-query dict grew past that), so the
suite line stays SHORT, fixed-size, and the ONLY stdout line; per-query
detail goes to stderr (one `# key: secs` line each) and to
BENCH_QUERIES.json next to this script.  Each key's time is the minimum
of two `toPandas` runs, so `python bench.py KEY` gives the per-key
number comparable to bench records.  BENCH_QUERIES.json also records
`compiles: {key: [first_run, second_run]}`, the classes whole-stage
codegen compiled during each run (Spark's CodegenMetrics compilation
count): a second run that compiles again shows codegen-cache
evictions; and `build: {key: [build_s, py4j_commands]}`, the second
run's plan-build seconds and the py4j commands the build sent from the
main thread, memory commands left out (session.py4j_commands).

HEADLINE policy: the suite is the BASELINE.md-comparable set plus every
operator family's most expensive representative — NOT all 200 keys.
Adding a key to HEADLINE is a deliberate act (it costs suite wall
against the driver's 2x budget); trivially-cheap siblings of an
already-benched shape stay out so the suite measures plans, not session
startup arithmetic.

Protocol notes (BASELINE.md): session startup (~4 s) dominates per-query
time at this scale, so the suite reuses one SparkSession; each query is
timed over its full action (toPandas), giving end-to-end wall time
comparable to the DuckDB fetchall baseline.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time


# Headline shapes mirror BASELINE.md's measured DuckDB rows. Keys not yet
# registered are skipped (bench stays runnable mid-build).
HEADLINE = [
    "agg_pricing_summary",     # TPC-H Q1 shape
    "topk_global",             # Q3 shape tail
    "join_multikey",           # Q5 flagship
    "join_shuffle_fact",       # fact⋈fact shuffle join
    "win_rank_topn_per_group", # window top-3 per customer
    "fn_string",               # scalar-function breadth (12 fns, 20k rows)
    "stream_tumbling_window",  # 1-day tumbling agg
    "stream_sliding_window",   # 4x overlapping windows
    "stream_session_window",   # sessionization (lag+cumsum)
    "llm_token_counts",        # split+explode+group
    "llm_exact_dedup",         # hash-group dedup
    "mm_decode_features",      # Arrow binary batches through Python
    "llm_minhash_lsh",         # minhash+LSH near-dup (banded; the exact
                               # prefix-join key shares its oracle)
    "llm_cosine_topk",         # brute-force kNN (DuckDB: 15.7 s)
    "llm_simhash_bucket",      # LSH bucket primitive
    "llm_corpus_pipeline",     # end-to-end dedup+quality funnel
    "q3_shipping_priority",    # TPC-H Q3 full composite (DuckDB: 0.064 s)
    "q18_large_orders",        # TPC-H Q18 aggregate-then-join
    # round 3: the near-dup family the suite previously omitted
    "llm_simhash_neardup",     # 60-bit simhash + pigeonhole banding
    "llm_ngram_jaccard",       # order-sensitive shingle Jaccard
    "llm_ivf_topk",            # IVF ANN with nprobe=3 + exact re-rank
    "q7_volume_shipping",      # TPC-H Q7 nation-pair flow
    "q10_returned_items",      # TPC-H Q10 returned-revenue top-20
    "q12_priority_by_flag",    # TPC-H Q12 conditional-count shape
    "llm_dedup_clusters",      # iterative connected-components dedup
    "llm_kmeans_iterate",      # 3 unrolled Lloyd iterations
    "llm_pq_encode",           # product-quantization vector codes
    "llm_text_normalize",      # zero-shuffle C4-style cleaning
    # round 5: TPC-H widening + training-pipeline ops
    "q4_order_priority",       # EXISTS → left-semi with non-equi residual
    "q13_customer_distribution",  # outer-join count histogram
    "q14_promo_revenue",       # conditional revenue share
    "q19_discounted_revenue",  # OR-of-conjunctions pushdown
    "llm_ngram_contamination", # eval-slice 5-gram decontamination
    "llm_mixture_weights",     # language-mixture reweighting
    "llm_seqlen_histogram",    # power-of-two length histogram
    "llm_repetition_filter",   # intra-doc repetition quality gate
    "events_funnel_steps",     # ordered conversion funnel
    "events_cohort_retention", # cohort retention triangle
    "q21_suppliers_kept_waiting",  # semi+anti join composition
    "q2_min_cost_supplier",    # correlated min-aggregate equality
    # round 6: real-codec multimodal decode + TPC-H third wave
    "mm_ppm_decode",           # native P6 decode through Arrow batches
    "q8_market_share",         # two-level national market share
    "q9_product_profit",       # widest star join, LIKE part filter
    "q15_top_supplier",        # view + scalar-max equality
    "q16_parts_supplier_relation",  # NOT IN anti + count-distinct grouping
    "q17_small_qty_revenue",   # correlated per-part avg threshold
    "q20_potential_promotion", # nested semi-join chain
    "llm_pii_redact",          # zero-shuffle regex redaction map
    "llm_shuffle_shard",       # seeded shuffle + shard assignment
    "q11_important_stock",     # scalar-subquery HAVING threshold
    "llm_semdedup",            # cluster-scoped semantic dedup (SemDeDup)
    "llm_dsir_weights",        # hashed-n-gram importance weighting (DSIR)
    "events_top_paths",        # 3-step path mining over user streams
    "events_anomaly_zscore",   # exact-moment 3-sigma outlier summary
    "llm_semdedup_pipeline",   # k-means assign + cluster-scoped dedup
    # round 6b: relational breadth + corpus-pipeline third wave
    "win_gap_islands",         # run-length islands per user stream
    "events_markov_transitions",  # transition matrix + integer probs
    "sort_zorder_locality",    # Morton key + per-tile locality audit
    "llm_chunk_dedup",         # paragraph/chunk boilerplate dedup
    "llm_unigram_logprob",     # unigram-LM millibit quality score
    "graph_pagerank",          # 3-iteration fixed-point power iteration
    "llm_inverted_index",      # token -> top-5 posting lists + df
    "llm_sliding_chunks",      # overlapping RAG chunker (zero-shuffle)
    "llm_bm25_score",          # lexical top-10 BM25 ranking
    "mm_wav_decode",           # native RIFF/PCM16 decode through Arrow
    "llm_rrf_fusion",          # hybrid lexical+dense rank fusion
    "agg_linear_fit",          # least-squares fit from exact moments
    "llm_bpe_pair_stats",      # BPE merge-candidate discovery pass
    "llm_bpe_apply_merge",     # full BPE iteration: argmax + re-segment
    "join_interval_overlap",   # grid-bucketed interval-overlap join
    "events_windowed_topk",    # per-day trending top-3
    "scan_dynamic_partition_pruning",  # runtime dim-driven pruning
    "events_rfm_segmentation", # quartile RFM customer scoring
    "win_running_distinct",    # first-seen-flag running distinct
    "events_inter_arrival_stats",  # integer-exact gap statistics
    "llm_heaps_vocab_growth",  # bigram vocabulary growth curve
    "events_type_entropy",     # per-user behavioral entropy
    "llm_dataset_manifest",    # per-stratum dataset-card statistics
    "scd2_build_intervals",    # SCD Type-2 validity-interval build
    "llm_zipf_fit",            # rank-frequency slope diagnostic
    "llm_incremental_dedup",   # batch-vs-corpus CDC-shaped dedup
    # round 7: new families' representatives. The converged iterative
    # twins (graph_pagerank_converged / llm_kmeans_converged) stay OUT:
    # their cost is round-count x the per-round plan already timed via
    # graph_pagerank / llm_kmeans_iterate, and their 15-30 s walls
    # would blow the suite budget without measuring a new plan shape.
    "sink_txn_commit_protocol",  # txn-log serial history + time travel
    "stream_txn_exactly_once",   # idempotent foreachBatch txn sink
    "llm_minhash_jaccard_estimate",  # estimator-vs-exact accuracy
    # round 7b: corpus-quality + graph/ANN wave representatives.
    # llm_gopher_quality / llm_temperature_mixture stay OUT: map-only /
    # 5-row-aggregate shapes already timed via llm_text_normalize and
    # llm_mixture_weights.
    "llm_substring_span_dedup",  # shingle self-join + diagonal islands
    "graph_triangle_count",      # degree-oriented adjacency intersection
    "llm_mrl_truncated_rerank",  # prefix block-NL + full-dim rerank
    "llm_bloom_decontam",        # bloom bit-probe join + exact verify
    # round 7b wave 3. The histogram / vocab-coverage shapes stay OUT
    # (map-side aggregate twins of already-benched keys).
    "graph_label_propagation",   # 3 LPA rounds, broadcast label joins
    "events_attribution_touch",  # shared-frame ignore-nulls carries
    "llm_perceptron_quality",    # 5 damped batch-gradient rounds
    # round 7b wave 4: all OUT by policy — events_ewma_smoothing and
    # llm_dataset_split are bounded-aggregate twins of benched shapes
    # (bpe_apply_merge's fold, shuffle_shard's hash assign),
    # llm_classifier_eval / llm_ann_recall_eval re-run their component
    # keys' already-benched plans, and stream_state_timeout_flush's
    # wall is dominated by its two-file staging harness, not a plan —
    # the ACCEPTED declination recorded in SURVEY §11.2 (a
    # harness-excluded timing would measure micro-batch scheduling
    # latency, comparable to nothing else in the suite).
]


def reclaim_enabled() -> bool:
    """SPARK_BENCH_RECLAIM: "1" (the default) releases blocks and frame
    memos between HEADLINE keys, "0" keeps the warm-session mode.  Any
    other value would silently pick one of the two, so it exits."""
    value = os.environ.get("SPARK_BENCH_RECLAIM", "1")
    if value not in ("0", "1"):
        raise SystemExit(f"SPARK_BENCH_RECLAIM must be '0' or '1', got {value!r}")
    return value == "1"


def main(keys: list[str] | None = None) -> None:
    reclaim = reclaim_enabled()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)/?$", sf_dir)
    sf = float(m.group(1)) if m else None

    # Self-describing artifact: this container shares a host, and
    # host-level CPU steal shows up as load-average with NO local
    # process to blame (ps shows idle; suite wall inflates 70 → 90+ s
    # — see BASELINE.md round-9 load-storm notes). Recording the 1-min
    # load before and after lets a reader tell a contended run from a
    # code regression without re-running anything.
    load_before = round(os.getloadavg()[0], 2)

    from climateiq_pipelines_spark import get_spark
    from climateiq_pipelines_spark.plans import QUERIES, load_all

    load_all()
    unknown = [k for k in keys or () if k not in QUERIES]
    if unknown:
        raise SystemExit(f"unregistered key(s): {unknown}")
    # shuffle=8 at bench scale (matches BASELINE.md's calibration rows):
    # sf0.1 partitions are KB-sized, so 32 partitions is pure scheduling
    # overhead (~25% of suite wall, measured). Purely a local-SF knob —
    # on a cluster the session default (cores-proportional + AQE
    # coalescing) governs, and no query here assumes a partition count.
    shuffle = int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", "8"))
    spark = get_spark(app_name="climateiq-bench", shuffle_partitions=shuffle)
    # The between-key release unpersists locally checkpointed RDDs, and
    # Spark WARNs once per RDD; those lines would crowd the suite line
    # out of the driver's output tail.
    spark.sparkContext.setLogLevel("ERROR")

    # Warm the JVM paths (parquet reader, codegen, shuffle, Arrow collect)
    # so per-query times measure the query, not session bring-up — the
    # BASELINE.md calibration rows are warm-session numbers.
    from climateiq_pipelines_spark.registry import load_table

    load_table(spark, sf_dir, "nation").groupBy("n_regionkey").count().toPandas()

    # min-of-2 per query: run 1 includes per-plan codegen compilation;
    # run 2 is the steady-state time a resident engine would show.
    from climateiq_pipelines_spark.session import py4j_commands

    timings: dict[str, float] = {}
    compiles: dict[str, list[int]] = {}
    builds: dict[str, list[float | int]] = {}
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiled = codegen.METRIC_COMPILATION_TIME()
    total = 0.0
    for key in keys or HEADLINE:
        fn = QUERIES.get(key)
        if fn is None:
            continue
        best, n = None, 0
        compiles[key] = []
        for run in range(2):
            c0 = compiled.getCount()
            t0 = time.perf_counter()
            if run:
                with py4j_commands() as sent:
                    df = fn(spark, sf_dir)
                builds[key] = [round(time.perf_counter() - t0, 4), len(sent)]
            else:
                df = fn(spark, sf_dir)
            n = len(df.toPandas())
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
            compiles[key].append(compiled.getCount() - c0)
        timings[key] = round(best, 4)
        total += best
        print(f"# {key}: {best:.3f}s ({n} rows)", file=sys.stderr)
        if reclaim:
            # Between-key release: each key pays its own checkpointed
            # frame builds (edge lists, signatures) instead of reusing a
            # previous key's, so per-key times attribute cleanly; the
            # lazy table-relation memos (catalog metadata, no blocks)
            # are kept.
            from climateiq_pipelines_spark.session import release_blocks

            release_blocks(spark, keep_lazy_metadata=True)

    # Full per-query detail: stderr + sibling file (NOT the stdout line —
    # the driver's tail capture is ~2000 chars and r6's 81-query dict
    # overflowed it, leaving BENCH_r06.json unparseable).
    detail = {
        "metric": "suite_wall_sec",
        "value": round(total, 4),
        "unit": "sec",
        "n_queries": len(timings),
        "queries": timings,
        "compiles": compiles,
        "build": builds,
        "sf": sf,
        "load_1m_before": load_before,
        "load_1m_after": round(os.getloadavg()[0], 2),
    }
    # BENCH_DETAIL_PATH: a caller-supplied private rendezvous path
    # (bench_gated uses one per run — round-13 review: two concurrent
    # bench invocations otherwise race on the shared BENCH_QUERIES.json
    # and the gate could package the OTHER run's timings).
    detail_path = os.environ.get("BENCH_DETAIL_PATH") or os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_QUERIES.json"
    )
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)
    print(
        json.dumps(
            {
                "metric": "suite_wall_sec",
                "value": round(total, 4),
                "unit": "sec",
                "n_queries": len(timings),
                "sf": sf,
                "load_1m_before": load_before,
                "load_1m_after": detail["load_1m_after"],
            }
        )
    )


if __name__ == "__main__":
    main(sys.argv[1:])
