"""Physical-plan regression tests — pin the 100 TB plan shapes, not just
the sf0.001 answers.

Correctness tests prove WHAT each operator computes; these prove HOW
Catalyst executes it stays the shape we designed for scale: filters
reach the parquet scan, small dims broadcast, top-k never globally
sorts, rank-filters push into WindowGroupLimit, aggregates combine
map-side, and nothing silently degrades to a nested-loop join or a
row-at-a-time Python eval. A future refactor that keeps answers right
but regresses the plan (the classic silent scale-killer) fails here.

Assertions read the pre-execution physical plan (AQE's initial plan —
node CHOICE is what we pin; AQE only re-plans sizes/local shuffles).
"""

from __future__ import annotations

import re
from pathlib import Path

import pytest

from climateiq_pipelines_spark.plans import QUERIES

from tests.conftest import SF_SMALL

REPO_ROOT = str(Path(__file__).resolve().parents[1])

# Keys whose plan legitimately contains a nested-loop join: every one
# broadcasts a tiny literal-bounded side (5-row region cross, 16-row
# seed table, 1-row corpus count / query vector), where nested-loop IS
# the right plan — the loop runs |small| times per row, constant in
# corpus size.
NESTED_LOOP_OK = {
    "join_cross_small",  # 5x25 cross join is the declared semantics
    "llm_knn_query",  # 1-row query vector broadcast
    "llm_minhash_lsh",  # 16-row literal seed table broadcast
    "llm_tfidf_topterms",  # 1-row corpus doc-count broadcast
    "q22_global_sales_opportunity",  # 1-row scalar-subquery threshold cross
    "agg_hll_sketch_merge",  # 1-row merged-sketch x 1-row exact-count cross
    "q11_important_stock",  # 1-row grand-total scalar-subquery cross
    "llm_dsir_weights",  # 1-row gram-total cross into the 64-row ratio table
    "sink_compact_small_files",  # 1-row x 1-row audit cross
    "llm_bm25_score",  # 1-row corpus-stats broadcast cross (N, avgdl)
    "llm_bpe_apply_merge",  # 1-row argmax-merge broadcast cross
    "sink_compression_codecs",  # 1-row x 1-row digest-comparison cross
    "llm_heaps_vocab_growth",  # 1-row doc-id span broadcast cross
    "llm_rrf_fusion",  # same 1-row crosses via its two retriever subplans
    "llm_minhash_jaccard_estimate",  # 8x8 cross of two LIMIT-8 samples (constant at any SF)
    "agg_theta_set_algebra",  # 1-row sketch-estimate x 1-row exact-count crosses
    "llm_kmeans_iterate",  # r17 in-array Lloyd: 1-row centroid-array broadcast per round
    "llm_kmeans_converged",  # same in-array round, per-round 1-row broadcast
    "llm_perceptron_quality",  # r17 fold: 1-row weight-state broadcast per round
    "llm_classifier_eval",  # composes llm_perceptron_quality's folded rounds
}

# Keys that run Python by design; everything else must stay JVM-side.
PYTHON_EVAL_OK = {
    "udf_scalar_py",  # the row-UDF demo key (BatchEvalPython)
    "udf_pandas_vectorized",  # ArrowEvalPython
    "udaf_grouped_pandas",  # FlatMapGroupsInPandas
    "udtf_explode_sessions",  # MapInPandas
    "udtf_native_chunker",  # BatchEvalPythonUDTF (native @udtf API)
    "llm_cosine_topk",  # Arrow block-NL (MapInArrow), measured 24x DuckDB
    "llm_mrl_truncated_rerank",  # same Arrow block-NL, prefix-dim stage 1
    "llm_ann_recall_eval",  # composes llm_cosine_topk (MapInArrow ground truth)
    "mm_decode_features",  # binary decode is Python by necessity
    "mm_ppm_decode",  # native P6 codec runs in Python (MapInPandas)
    # compute-bound exact integer-dot re-rank (FlatMapCoGroupsInArrow):
    # Spark evaluates zip_with/aggregate HOFs interpreted (not codegen),
    # measured 5x slower than the Arrow+numpy twin on the
    # million-candidate pair relation
    "llm_ivf_topk",
    # same lesson: per-cluster pair dots as one Arrow group
    # (FlatMapGroupsInArrow; each vector ships once per cluster) instead
    # of a self-join materializing both 64-float arrays per pair
    # through interpreted HOFs
    "llm_semdedup",
    "llm_semdedup_pipeline",  # stage 2 is the same Arrow pair scorer
    "mm_wav_decode",  # native RIFF/PCM codec runs in Python (MapInPandas)
}

PY_EVAL_NODES = (
    "BatchEvalPython",
    "ArrowEvalPython",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "MapInArrow",
    "FlatMapGroupsInArrow",
    "FlatMapCoGroupsInArrow",
)

# The vector family runs fixedpoint's numpy kernel over Arrow batches:
# none of these keys may plan a pandas conversion node.
ARROW_VECTOR_KEYS = (
    "llm_cosine_topk",
    "llm_mrl_truncated_rerank",
    "llm_ann_recall_eval",
    "llm_ivf_topk",
    "llm_semdedup",
    "llm_semdedup_pipeline",
)


def plan_of_df(spark, df) -> str:
    return spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )


def plan_of(spark, key: str) -> str:
    return plan_of_df(spark, QUERIES[key](spark, SF_SMALL))


# --------------------------------------------------- whole-registry sweeps


@pytest.mark.parametrize("key", sorted(QUERIES))
def test_no_accidental_nested_loop(key, spark):
    """No BroadcastNestedLoopJoin/CartesianProduct outside the audited
    small-literal-side allowlist — the n² plans that kill 100 TB runs."""
    plan = plan_of(spark, key)
    has_nl = "BroadcastNestedLoopJoin" in plan or "CartesianProduct" in plan
    if key in NESTED_LOOP_OK:
        return  # audited: tiny broadcast side, loop count constant in n
    assert not has_nl, f"{key} degraded to a nested-loop join:\n{plan}"


@pytest.mark.parametrize("key", sorted(QUERIES))
def test_no_accidental_python_eval(key, spark):
    """Relational keys stay inside JVM codegen — Python eval nodes only
    where the key's declared semantics require Python."""
    plan = plan_of(spark, key)
    hit = [n for n in PY_EVAL_NODES if n in plan]
    if key in PYTHON_EVAL_OK:
        assert hit, f"{key} is declared a Python-eval key but plan has none"
    else:
        assert not hit, f"{key} unexpectedly runs Python {hit}:\n{plan}"


@pytest.mark.parametrize("key", ARROW_VECTOR_KEYS)
def test_vector_keys_plan_no_pandas_node(key, spark):
    plan = plan_of(spark, key)
    assert not re.search(r"\w+InPandas", plan), plan
    assert "InArrow" in plan, plan


# ------------------------------------------------------- per-key pinnings


def test_q5_dimensions_broadcast(spark):
    """join_multikey (Q5): the bounded dims (region, asia_nations) must
    broadcast via their hints.  supplier is SF-proportional so it
    carries NO hint (r4 verdict: forced broadcast OOMs at 100x) — at
    test scale Catalyst's size threshold still auto-broadcasts it, so
    >=3 here, but the plan degrades gracefully to shuffle at scale."""
    plan = plan_of(spark, "join_multikey")
    assert len(re.findall("BroadcastHashJoin", plan)) >= 3, plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_theta_band_join_is_equi(spark):
    """join_theta_inequality: the band predicate is rewritten to an
    offset equi-join; BNLJ here would evaluate all n² pairs."""
    plan = plan_of(spark, "join_theta_inequality")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Join" in plan  # still an actual join, not a filter trick


def test_topk_avoids_global_sort(spark):
    """topk_global: TakeOrderedAndProject (per-partition heap + merge),
    never a full Sort of the fact table."""
    plan = plan_of(spark, "topk_global")
    assert "TakeOrderedAndProject" in plan, plan


def test_rank_filter_pushes_into_window(spark):
    """win_rank_topn_per_group: rnk<=3 must become WindowGroupLimit
    (bounded per-group heap) instead of rank-everything-then-filter."""
    plan = plan_of(spark, "win_rank_topn_per_group")
    assert "WindowGroupLimit" in plan, plan


def test_agg_combines_map_side(spark):
    """agg_pricing_summary: partial+final HashAggregate pair — the
    shuffle carries |groups| rows, not |input| rows."""
    plan = plan_of(spark, "agg_pricing_summary")
    assert len(re.findall("HashAggregate", plan)) >= 2, plan


def test_scan_prunes_columns_and_pushes_filter(spark):
    """scan_parquet_project: ReadSchema carries exactly the 3 projected
    columns and the l_returnflag predicate reaches PushedFilters —
    row-group skipping + column pruning at the source."""
    plan = plan_of(spark, "scan_parquet_project")
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = sorted(c.split(":")[0] for c in m.group(1).split(",") if c)
    assert cols == ["l_orderkey", "l_quantity", "l_returnflag"], plan
    assert re.search(r"PushedFilters: \[[^\]]*l_returnflag[^\]]*\]", plan), plan


def test_simhash_neardup_avoids_all_pairs(spark):
    """llm_simhash_neardup: candidates come from the band equi-join —
    no nested-loop, no cartesian (the oracle is the n² twin; the engine
    must not be)."""
    plan = plan_of(spark, "llm_simhash_neardup")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


# ADVICE r9 #5: the collect-sweep now also matches .take( — every
# driver-side materialization, bounded or not, must be EXPLICITLY
# sanctioned here by (file, line-regex), with the bound stated.  A new
# .take(N) in engine sources fails the sweep until audited.
TAKE_OK = [
    # fixedpoint._blocknl_broadcast (llm_cosine_topk,
    # llm_mrl_truncated_rerank): .take(max_vectors+1) probe — the
    # broadcast dimension of the Arrow block-NL, capped by the
    # byte-budget constant; above it both keys raise.  emb.take(1)
    # reads one row for dim sniffing when no parquet dim hint exists.
    ("llm.py", r"\.take\(max\+1\)"),  # docstring reference to the probe
    ("fixedpoint.py", r"emb\.take\(1\)"),
    ("fixedpoint.py", r"emb\.take\(max_vectors \+ 1\)"),
    # llm_bloom_decontam: .take(1) of a collect_set aggregate bounded
    # by FILTER GEOMETRY (≤ m = 65,536 bit positions regardless of
    # corpus size — the r8 verdict's audited exemption).  Anchored to
    # the aggregate expression itself (ADVICE r10 #3): a bare
    # \.take\(1\) pattern sanctioned ANY future .take(1) in the file.
    ("ann_ext2.py", r"collect_set\(\"pos\"\)\.alias\(\"ps\"\)\)\.take\(1\)"),
    # agg_cms_heavy_hitters: .take(_CMS_TOPK) — constant top-k of an
    # already-aggregated sketch-sized relation.
    ("sketch_ext.py", r"\.take\(_CMS_TOPK\)"),
    # scan_manifest_skipping: .take(_PARTS + 1) over the manifest —
    # bounded by the fixture topology constant, not corpus rows.
    ("manifest_read.py", r"\.take\(_PARTS \+ 1\)"),
]


def test_no_driver_collect_in_engine_sources():
    """Static sweep: no .collect()/.toPandas() in engine query paths —
    driver-side loops don't distribute — and (ADVICE r9 #5) no .take(
    outside the TAKE_OK audit list above, so every bounded driver-side
    materialization is explicitly sanctioned with its bound, and a new
    unbounded-in-practice .take(N) cannot pass silently."""
    root = Path(__file__).resolve().parent.parent / "climateiq_pipelines_spark"
    offenders = []
    for p in root.rglob("*.py"):
        if p.name in ("parity.py", "parity_digest.py"):
            continue  # comparator harnesses, not query paths
        for i, line in enumerate(p.read_text().splitlines(), 1):
            if ".collect()" in line or ".toPandas()" in line:
                offenders.append(f"{p.name}:{i}")
            elif ".take(" in line and not any(
                p.name == f and re.search(pat, line) for f, pat in TAKE_OK
            ):
                offenders.append(f"{p.name}:{i} (unaudited .take)")
    assert not offenders, offenders


# Every F.broadcast() in the engine must name a frame whose cardinality
# is BOUNDED — constant-in-corpus (literals, 1-row aggregates, centroid/
# label tables), vocabulary-sized, or an aggregated/filtered dimension —
# never a per-document/per-row relation that grows with the corpus
# (those OOM the broadcast build side at 100 TB; round-2 verdict flagged
# three such hints, since removed). (file, argument) -> why bounded.
BROADCAST_OK = {
    ("merge_demo.py", "max_key"): "1-row max aggregate (shared merge-source builder)",
    ("joins.py", "region"): "5-row literal dim",
    ("joins.py", "asia_nations"): "<=25-row filtered nation dim",
    ("text_analysis.py", "profiles"): "30-row literal profile table",
    ("text_analysis.py", "centroids"): "n_labels x 64 rows",
    ("llm.py", "dfreq"): "vocabulary-sized doc-frequency table",
    ("llm.py", "n_docs"): "1-row count aggregate",
    ("llm.py", "q"): "1-row query vector",
    ("llm.py", "centroids"): "n_labels x 64 rows",
    ("aggregates.py", "nation"): "25-row literal dim",
    ("aggregates.py", "region"): "5-row literal dim",
    ("aggregates.py", "bands"): "|priorities|-row (5) quantile-sketch aggregate",
    ("aggregates.py", "exact_all"): "1-row exact-distinct aggregate",
    ("sorts.py", "off"): "N_PARTITIONS-row offset table (topology-bounded)",
    ("batch_shapes.py", "prior"): "n/1000-row bucket prefix-max table (span-bounded)",
    ("iterative_ext.py", "centroids"): "k x 64 centroid table (Lloyd round)",
    ("iterative_ext.py", "cents_row"): "1-row k x 64 centroid-array struct (r17 in-array Lloyd)",
    ("ml_iter.py", "cents_row"): "1-row k x 64 centroid-array struct (r17 in-array Lloyd)",
    ("ml_train_ext.py", "state"): "1-row weight/trajectory state (r17 perceptron fold)",
    ("queries_tpch_ext.py", "sn"): "<=2-row filtered nation alias (Q7)",
    ("queries_tpch_ext.py", "cn"): "<=2-row filtered nation alias (Q7)",
    ("queries_tpch_ext.py", "nation"): "25-row literal dim (Q10)",
    ("ml_iter.py", "centroids"): "k x 64 rows per Lloyd iteration",
    ("ml_iter.py", "codebook"): "k x 64 rows (8 subspaces x 8 dims x k)",
    ("queries_tpch_wave3.py", "region"): "1-row filtered region dim (Q8)",
    ("queries_tpch_wave3.py", "asia_nations"): "<=25-row filtered nation dim (Q8)",
    ("queries_tpch_wave3.py", "asia_cn"): "<=25-row filtered nation dim (Q8)",
    ("queries_tpch_wave3.py", "sn"): "25-row literal nation dim (Q8/Q9)",
    ("queries_tpch_wave3.py", "nation"): "1-row nation filter (Q11)",
    ("queries_tpch_wave3.py", "tot"): "1-row grand-total aggregate (Q11)",
    ("llm_data_ext.py", "tot"): "1-row gram-total aggregate (DSIR)",
    ("llm_data_ext.py", "ratio"): "<=64-row hashed-bucket ratio table (DSIR)",
    ("llm_data_ext.py", "centroids"): "k x 64 centroid table (semdedup pipeline)",
    ("llm_data_ext.py", "vocab"): "unigram vocab table, size-GUARDED (vocab.count() <= 2M; shuffle join beyond — Heaps growth outpaces any fixed bound)",
    ("llm_data_ext.py", "top1"): "1-row argmax merge pair (BPE iteration)",
    ("llm_data_ext.py", "span"): "1-row doc-id span aggregate (Heaps buckets)",
    ("retrieval_ext.py", "dfq"): "<=|query|-row (3) document-frequency table (BM25)",
    ("retrieval_ext.py", "tot"): "1-row corpus-stats aggregate (BM25)",
    ("retrieval_ext.py", "q"): "1-row query vector (RRF dense side)",
    ("events_ext.py", "st"): "|event_type|-row moment-stats table (zscore)",
    ("lakehouse.py", "b"): "1-row compaction audit aggregate",
    ("graph_ext2.py", "adj"): "sum-of-degrees adjacency, size-GUARDED on the MEASURED oriented-edge count (<=4M; plain shuffle join beyond — round-12 fix: the old |V| gate admitted |E|-sized payloads)",
    ("graph_ext2.py", "du"): "|V| x 16B degree relation, size-GUARDED (deg.count() <= 4M; shuffle beyond)",
    ("graph_ext2.py", "dv"): "|V| x 16B degree relation, size-GUARDED (deg.count() <= 4M; shuffle beyond)",
    ("graph_ext2.py", "lab_u"): "|V| x 16B per-round LPA label relation, size-GUARDED (labels.count() <= 4M; shuffle beyond)",
    ("fixedpoint.py", "centroids"): "k x 64 centroid table (shared E-step helper)",
    ("ml_train_ext.py", "w_prev"): "1-row weight vector (perceptron round)",
    ("ml_train_ext.py", "grad"): "1-row gradient aggregate (perceptron round)",
    ("corpus_quality_ext.py", "vocab"): "top-K (16) vocabulary table; real vocabs 32-256K rows, still broadcast-sized",
    ("sketch_ext.py", "xdf"): "1-row exact-distinct aggregate (theta set algebra)",
}


def test_no_corpus_sized_broadcast_hints():
    """Static sweep: every F.broadcast(<name>) argument appears in the
    audited BROADCAST_OK allowlist with a stated boundedness reason.
    A new hint on an unbounded (corpus-growing) frame fails here until
    someone consciously audits and allowlists it."""
    root = Path(__file__).resolve().parent.parent / "climateiq_pipelines_spark"
    unaudited = []
    for p in root.rglob("*.py"):
        for i, line in enumerate(p.read_text().splitlines(), 1):
            for m in re.finditer(r"F\.broadcast\((\w+)[),]", line):
                if (p.name, m.group(1)) not in BROADCAST_OK:
                    unaudited.append(f"{p.name}:{i} F.broadcast({m.group(1)})")
    assert not unaudited, f"unaudited broadcast hints: {unaudited}"


# Round-16 rotation targets (plans.ROTATION_WINDOW, VERDICT r15 tasks
# #1-#3): 14 changed-after-stamp priority keys — the round-16
# SOURCES-WAVE two-level exact-sum conversions (the last single-level
# dsum audit tails over table-fraction groups, all in the
# format/lakehouse demo files; helpers module docstring /
# helpers.two_level) — then the 13 r10 stamps (including the 8 keys
# the r15 priority block displaced) and the 23 registration-oldest
# r11 stamps.  After r16 certifies, the oldest stamp on the surface
# becomes r11.  The window is the EXPLICIT plans.ROTATION_WINDOW list
# (load_all reorders QUERIES); this set pins the intended membership
# independently so an accidental edit to either side fails here.
# tools/driver_sim.py covers the full surface meanwhile.
ROTATION_R16 = {
    # 14 priority keys — the r16 sources-wave two-level conversions
    "scan_csv_roundtrip", "scan_json_roundtrip", "sink_partitioned_parquet",
    "sink_merge_upsert", "scan_orc_roundtrip", "sink_merge_on_read",
    "sink_time_travel", "scan_csv_malformed", "scan_schema_evolution",
    "scan_dynamic_partition_pruning", "scan_manifest_skipping",
    "sink_txn_commit_protocol", "sink_txn_conflict_retry",
    "sink_txn_checkpoint",
    # 13 r10 stamps (registration order)
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
}



def test_rotation_targets_fill_driver_window():
    """Registration order IS certification-priority order: the driver's
    per-round artifact records only the first 50 registration-order keys
    (CORRECTNESS_r02.json truncated there).  Since round 8 the window is
    the explicit plans.ROTATION_WINDOW list; this pin checks BOTH that
    the intended round-16 membership (ROTATION_R16 above) fills the first
    50 slots and that ROTATION_WINDOW matches it exactly, so editing one
    side without the other fails here.  Update ROTATION_R16 together with
    plans.ROTATION_WINDOW each round — that is the policy, not a
    historical layout."""
    from climateiq_pipelines_spark.plans import ROTATION_WINDOW

    keys = list(QUERIES)
    first50 = set(keys[:50])
    missing = sorted(ROTATION_R16 - first50)
    assert not missing, f"rotation targets outside the driver window: {missing}"
    assert set(ROTATION_WINDOW) == ROTATION_R16
    assert len(ROTATION_WINDOW) == 50


def test_rotation_window_matches_artifact_derivation():
    """VERDICT r11 task #6: the committed ROTATION_WINDOW must equal
    tools/gen_rotation.py's mechanical derivation from the merged
    CORRECTNESS artifacts — (stamp round ASC, pristine registration
    index ASC), led by the round's 14 changed-after-stamp --priority
    keys in window order (the r16 sources-wave two-level exact-sum
    conversions — the last single-level dsum audit tails over
    table-fraction groups; helpers module docstring).  The r6/r7
    rotations hit ordering hazards and r8's was hand arithmetic; this
    pin makes the pre-sequencing checkable every CI run."""
    import tools.gen_rotation as gr
    from climateiq_pipelines_spark.plans import (
        REGISTRATION_ORDER,
        ROTATION_WINDOW,
    )

    # The priority list is stated EXPLICITLY here, not sliced from the
    # committed window (round-13 self-review: a slice makes the pin
    # circular — any wrong key inside the prefix would echo straight
    # back).  It must match the SURVEY 11.9 changed-after-stamp record.
    priority = [
        "scan_csv_roundtrip", "scan_json_roundtrip",
        "sink_partitioned_parquet", "sink_merge_upsert",
        "scan_orc_roundtrip", "sink_merge_on_read", "sink_time_travel",
        "scan_csv_malformed", "scan_schema_evolution",
        "scan_dynamic_partition_pruning", "scan_manifest_skipping",
        "sink_txn_commit_protocol", "sink_txn_conflict_retry",
        "sink_txn_checkpoint",
    ]
    derived = gr.derive_window(
        REGISTRATION_ORDER,
        gr.merged_stamps(max_round=15),  # r16 window <- artifacts r1..r15
        priority=priority,
        n=50,
        # Recorded judgments (r12 task #7): no exemptions this round —
        # round 16's only non-priority edits are the ADDITIVE
        # helpers.two_level function (dsum/davg and every other
        # existing helper untouched) and test-layer changes (the three
        # r15 ADVICE fixes and three PROBE_KEYS additions), which
        # change no previously-registered body or oracle text.
        exempt=[],
    )
    assert derived == list(ROTATION_WINDOW)


def test_driver_window_layout_matches_load_all_comment():
    """ADVICE r4: the 50-key window layout was implicit in import order
    and verified only by a comment.  Since r8 load_all applies the
    explicit ROTATION_WINDOW reorder; pin its observable effect: the
    round-16 window opens with the 14-key priority block (led by
    scan_csv_roundtrip and closed by sink_txn_checkpoint — the r16
    sources-wave two-level conversions), ends with
    q21_suppliers_kept_waiting at slot 49, and the total key count must
    equal the full surface so a module gaining/losing a @register call
    surfaces here."""
    keys = list(QUERIES)
    assert len(keys) == 232, len(keys)
    assert keys[0] == "scan_csv_roundtrip", keys[:3]
    assert keys[13] == "sink_txn_checkpoint", keys[12:15]
    assert keys[49] == "q21_suppliers_kept_waiting", keys[48:51]


def test_driver_sim_evidence_header_is_parseable_and_first():
    """VERDICT r11 task #2: every archived driver_sim .out must be
    self-describing — round 11 committed two robustness logs whose
    content was the identical string 'ALL 232 KEYS OK' and git recorded
    them as renames of r8/r9 logs.  Pin (a) the header is one line of
    parseable JSON carrying tz/extra_conf/sf_dir/n_keys/wall_sec/date,
    and (b) main() prints it BEFORE the OK/FAILURES line, so the header
    is the first stdout line of every sweep."""
    import inspect
    import json as _json

    import tools.driver_sim as ds

    line = ds.evidence_header("Pacific/Chatham", "/root/testdata/sf0.01",
                              False, 232, 1234.56)
    assert "\n" not in line
    hdr = _json.loads(line)
    for field in ("tool", "tz", "extra_conf", "sf_dir", "window_only",
                  "n_keys", "wall_sec", "date_utc", "master"):
        assert field in hdr, field
    assert hdr["tz"] == "Pacific/Chatham"
    # Round-12 cluster-size-independence axis: the parallelism level the
    # run actually used must be on the artifact's face too.
    assert hdr["master"] == "local[8]"
    assert hdr["n_keys"] == 232
    assert hdr["wall_sec"] == 1234.6
    src = inspect.getsource(ds.main)
    assert src.index("evidence_header(") < src.index("KEYS OK"), (
        "header must print before the final OK line")
    # Both tools must share ONE line shape (tools/evidence.py) — the
    # round-12 self-review found a sweep tool with a hand-rolled twin
    # that no test pinned, free to drift from the contract.
    import tools.determinism_probe as dp

    assert "evidence_line(" in inspect.getsource(dp.main)
    from tools.evidence import evidence_line

    hdr2 = _json.loads(evidence_line("x", a=1))
    assert hdr2["tool"] == "x" and hdr2["a"] == 1 and "date_utc" in hdr2


def test_driver_sim_stops_when_the_jvm_dies(monkeypatch, capsys):
    """A key that kills the driver JVM is named once; the keys after it
    are listed as not run (instead of each failing on a refused
    connection) and the sweep exits 1."""
    from types import SimpleNamespace

    import __spark_entry__ as E
    import tools.driver_sim as ds
    from climateiq_pipelines_spark import parity

    class _Jsc:  # the gateway as the liveness probe sees it
        dead = False

        def sc(self):
            if self.dead:
                raise ConnectionRefusedError(111, "Connection refused")
            return self

        def isStopped(self):
            return False

    jsc = _Jsc()
    spark = SimpleNamespace(sparkContext=SimpleNamespace(_jsc=jsc))
    checked = []

    def check_key(key, spark, sf_dir, con):
        checked.append(key)
        if key == "k2":
            jsc.dead = True  # the JVM dies inside this key
            raise ConnectionError("Answer from Java side is empty")
        return parity.ParityResult(key=key, ok=True, spark_rows=1, oracle_rows=1)

    monkeypatch.setattr(ds, "driver_session", lambda: (
        spark, {"tz": "UTC", "master": "local[1]", "extra_conf": ""}))
    monkeypatch.setattr(ds, "release", lambda spark, after: None)
    monkeypatch.setattr(E, "entry", lambda spark: SimpleNamespace(collect=lambda: [1]))
    monkeypatch.setattr(E, "queries", lambda: dict.fromkeys(["k1", "k2", "k3", "k4"]))
    monkeypatch.setattr(parity, "duck_connect", lambda sf_dir: None)
    monkeypatch.setattr(parity, "check_key", check_key)
    monkeypatch.setattr("sys.argv", ["driver_sim.py"])
    assert ds.main() == 1
    assert checked == ["k1", "k2"]
    out, err = capsys.readouterr()
    assert "[2/4] k2: EXC ConnectionError; the driver JVM is gone, 2 keys not run" in err
    assert "k3" not in err and "k4" not in err
    lines = out.splitlines()
    assert lines[1] == "FAILURES:" and "k2" in lines[2]
    assert lines[3].endswith("the driver JVM died): k3 k4"), lines


def test_release_blocks_reclaims_checkpoints(spark):
    """Round-12 harness hygiene: operators localCheckpoint relations
    they return and cannot unpersist them before the caller consumes
    the result, so a many-key session accumulates blocks and per-key
    timing becomes order-dependent (measured: llm_ann_recall_eval
    13.4 s vs 40.5 s purely from key order).  release_blocks must
    reclaim every persistent RDD once the result is consumed."""
    from climateiq_pipelines_spark.session import release_blocks

    release_blocks(spark)  # start clean — other tests may have leaked
    df = spark.range(1000).localCheckpoint(eager=True)
    assert df.count() == 1000
    n_before = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert n_before >= 1
    released = release_blocks(spark)
    assert released >= 1
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == 0
    # releasing an already-clean session is a no-op, not an error
    assert release_blocks(spark) == 0


def test_release_blocks_clears_registered_frame_caches(spark):
    """A memoized checkpointed DataFrame is POISON after its blocks are
    unpersisted (lineage is truncated — reuse dies with
    CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND).  Every release, full or
    keep-metadata, must drop the eager memos so consumers rebuild
    instead of reusing a dead handle — and the engine's checkpointed
    frames must actually be memoized in the scope."""
    from climateiq_pipelines_spark import session as S
    from climateiq_pipelines_spark.operators import graph_ext2, llm
    from climateiq_pipelines_spark.registry import load_table

    S.release_blocks(spark)
    ed = graph_ext2._copurchase_edges(spark, SF_SMALL)
    oriented = graph_ext2._oriented_edges(spark, SF_SMALL)
    sigs = llm._simhash60_sigs(load_table(spark, SF_SMALL, "documents"))
    assert S._SCOPE.memos["copurchase_edges"] == {SF_SMALL: ed}
    assert S._SCOPE.memos["oriented_edges"] == {SF_SMALL: oriented}
    assert list(S._SCOPE.memos["simhash60_sigs"].values()) == [sigs]
    for keep in (True, False):
        built = []

        def build():
            built.append(1)
            return S.checkpoint(spark.range(100))

        S.memo("probe", "k", build)
        assert S.memo("probe", "k", build).count() == 100 and built == [1]
        S.release_blocks(spark, keep_lazy_metadata=keep)
        assert S._SCOPE.memos == {}, "eager memos must be cleared"
        # the checkpointed frame is dead by design; the memo rebuilds
        assert S.memo("probe", "k", build).count() == 100 and built == [1, 1]
        S.release_blocks(spark)


def test_lazy_memo_survives_only_a_keep_metadata_release(spark):
    """Lazy memos (resolved table relations, footer probes) pin no
    blocks: the between-key release keeps them, a full release clears
    them, and a lazy memo whose build checkpoints is refused, so no
    surviving memo can hold a frame whose blocks a release unpersisted."""
    from climateiq_pipelines_spark import session as S
    from climateiq_pipelines_spark.registry import load_table

    S.release_blocks(spark)
    rel = load_table(spark, SF_SMALL, "nation")
    S.release_blocks(spark, keep_lazy_metadata=True)
    assert load_table(spark, SF_SMALL, "nation") is rel
    S.release_blocks(spark)
    assert load_table(spark, SF_SMALL, "nation") is not rel
    with pytest.raises(RuntimeError, match="built a checkpoint"):
        S.memo("probe", "k", lambda: S.checkpoint(spark.range(3)), lazy=True)
    assert "k" not in S._SCOPE.lazy_memos["probe"]
    S.release_blocks(spark)


def test_empty_between_key_release_sends_no_py4j_command(spark, monkeypatch):
    """A key that checkpointed nothing and registered no table or view
    leaves the scope empty; the between-key release then returns 0
    without a JVM round trip (it cost 80 py4j calls, 22-36 ms)."""
    from py4j.clientserver import ClientServerConnection
    from py4j.java_gateway import GatewayConnection

    from climateiq_pipelines_spark import session as S
    from climateiq_pipelines_spark.registry import load_table

    S.release_blocks(spark)
    load_table(spark, SF_SMALL, "nation").toPandas()  # a lazy memo only
    sent = []
    for cls in (ClientServerConnection, GatewayConnection):
        def counting(self, command, *args, _send=cls.send_command, **kwargs):
            sent.append(command)
            return _send(self, command, *args, **kwargs)

        monkeypatch.setattr(cls, "send_command", counting)
    assert S.release_blocks(spark, keep_lazy_metadata=True) == 0
    assert sent == []
    # the full release keeps its unconditional sweep
    assert S.release_blocks(spark) == 0 and sent


def test_triangle_count_is_stable_across_between_key_release(spark):
    """graph_triangle_count memoizes checkpointed edge lists; a
    between-key release must unpersist their blocks AND drop the memo,
    so the next run rebuilds instead of reading a dead checkpoint."""
    from climateiq_pipelines_spark.parity import canon_frame
    from climateiq_pipelines_spark.session import release_blocks

    runs = []
    for _ in range(2):
        runs.append(canon_frame(QUERIES["graph_triangle_count"](spark, SF_SMALL).toPandas()))
        assert release_blocks(spark, keep_lazy_metadata=True) >= 1
        assert spark.sparkContext._jsc.getPersistentRDDs().size() == 0
    assert runs[0] == runs[1]


def test_release_blocks_purges_registered_temp_dirs(spark):
    """Round-12 code review: scan/sink/txn operators mkdtemp fixture
    slices their returned frame reads lazily, so the operator can never
    delete its own directory — without reclaim every sweep leaks full
    parquet copies into /tmp for the life of the host.  Registered
    roots must be purged by release_blocks (post-consumption, same
    lifecycle as checkpoint blocks) and the registry must drain."""
    import os

    from climateiq_pipelines_spark import session as S

    d = S.new_temp_dir("purge_probe")
    open(os.path.join(d, "f.bin"), "wb").write(b"x")
    assert d in S.SESSION_TEMP_DIRS
    S.release_blocks(spark)
    assert not os.path.exists(d)
    assert d not in S.SESSION_TEMP_DIRS
    # idempotent on an empty registry
    assert S.purge_temp_dirs() == 0


def test_every_module_level_cache_is_reclaim_safe():
    """Static sweep of the WHOLE package: session.py is the only owner
    of per-session state, so outside it

    - no ``applicationId`` (hand-built per-session keys; the scope
      resets on a new SparkContext instead);
    - no ``.localCheckpoint(`` / ``.cache(`` / ``.persist(`` call — blocks
      go through session.checkpoint, or the keep-metadata release would
      not know to sweep them.  parity_digest.spark_digest is the one
      exception: it unpersists its own RDD ids before it returns;
    - no raw ``mkdtemp`` call — session.new_temp_dir is the only way to
      make scratch files, or a release could not delete them;
    - no module-level DataFrame-valued store (the poison-handle class:
      CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND after a release) and no
      module-level path-valued store (a purged temp dir read after a
      release), whatever its initializer;
    - every module-level EMPTY dict/list/set (the store pattern;
      non-empty literals are constant tables) is annotated with a
      parameterized value type, so this guard can classify it;
      int/bool/other value memos are fine (no filesystem/block state).
    """
    import ast
    import pathlib
    import re

    pkg = pathlib.Path(__file__).resolve().parents[1] / "climateiq_pipelines_spark"
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        if path.name == "session.py":
            continue
        src = path.read_text()
        tree = ast.parse(src, filename=str(path))
        if "applicationId" in src:
            offenders.append(f"{path.name}: applicationId")
        exempt = set()
        if path.name == "parity_digest.py":
            (fn,) = [n for n in tree.body if getattr(n, "name", "") == "spark_digest"]
            exempt = {id(n) for n in ast.walk(fn)}
        for node in ast.walk(tree):
            attr = getattr(getattr(node, "func", None), "attr", None)
            if attr in ("localCheckpoint", "cache", "persist", "mkdtemp") and not (
                attr == "localCheckpoint" and id(node) in exempt
            ):
                offenders.append(f"{path.name}:{node.lineno}: .{attr}(")
        for node in tree.body:  # module level only
            if not isinstance(node, (ast.Assign, ast.AnnAssign)) or node.value is None:
                continue
            name = ast.unparse(getattr(node, "target", None) or node.targets[0])
            ann = ast.unparse(node.annotation) if isinstance(node, ast.AnnAssign) else ""
            if "DataFrame" in ann:
                offenders.append(f"{path.name}: {name} — DataFrame-typed module store")
            elif ast.unparse(node.value) in ("{}", "[]", "dict()", "defaultdict()",
                                             "list()", "set()"):
                # value type = the last element of dict[K, V] / list[V]
                value_t = ann.rsplit(",", 1)[-1].split("[")[-1].rstrip("]").strip()
                if value_t in ("", "dict", "Dict", "list", "List", "set", "Set"):
                    offenders.append(f"{path.name}: {name} — annotate the value "
                                     "type so this guard can classify it")
                elif value_t == "str" and re.search("CACHE|MEMO|DIR|PATH", name.upper()):
                    offenders.append(f"{path.name}: {name} — module-level path store")
    assert not offenders, "reclaim-unsafe module state: " + "; ".join(offenders)


def test_release_blocks_drops_registered_temp_views(spark):
    """Round-13 review batch C: the streaming demo keys' memory sinks
    live behind temp views holding their full result rows in driver
    memory — a warm many-key session accumulated 4 undropped views per
    sweep.  register_temp_view entries must be dropped by
    release_blocks and the registry must drain."""
    from climateiq_pipelines_spark import session as S

    name = S.register_temp_view("cps_viewdrop_probe")
    spark.range(3).createOrReplaceTempView(name)
    assert spark.catalog.tableExists(name)
    S.release_blocks(spark)
    assert not spark.catalog.tableExists(name)
    assert name not in S._SCOPE.views


def test_gate_count_memoizes_per_session_and_sfdir(spark):
    """The measured-payload broadcast gates cost one count() action per
    evaluation; the scalar is deterministic per (session, sf_dir), so
    repeated evaluations must skip the probe — the memo must tell
    sf_dirs and sites apart, and forget everything when the
    SparkContext changes."""
    from climateiq_pipelines_spark import session as S

    class _Boom:
        def count(self):
            raise AssertionError("gate probe re-ran on a memoized key")

    S.release_blocks(spark)
    assert S.memo("gate:probe_site", "/x", spark.range(7).count) == 7
    assert S.memo("gate:probe_site", "/x", _Boom().count) == 7
    assert S.memo("gate:probe_site", "/y", spark.range(3).count) == 3
    assert S.memo("gate:other_site", "/x", spark.range(2).count) == 2
    S._SCOPE.sc = object()  # as if filled under another context
    assert S.memo("gate:other_site", "/x", spark.range(5).count) == 5
    assert S._SCOPE.sc is spark.sparkContext
    assert S._SCOPE.memos == {"gate:other_site": {"/x": 5}}
    S.release_blocks(spark)


def test_release_blocks_drops_registered_catalog_tables(spark):
    """ADVICE r12: join_bucketed_colocated's per-invocation saveAsTable
    entries outlived their (purged) backing files, so warm sessions
    accumulated unbounded metastore rows.  register_temp_table entries
    must be DROPPED by release_blocks and the registry must drain."""
    from climateiq_pipelines_spark import session as S

    name = "cps_droptest_probe"
    spark.range(3).write.mode("overwrite").saveAsTable(
        S.register_temp_table(name))
    assert spark.catalog.tableExists(name)
    assert name in S._SCOPE.tables
    S.release_blocks(spark)
    assert not spark.catalog.tableExists(name)
    assert name not in S._SCOPE.tables


def test_registered_builders_carry_docstrings():
    """Round-12 review: two builders (llm_dsir_weights,
    events_top_paths) ended their docstring with ``.replace(...)`` — a
    bare string EXPRESSION is only a docstring without trailing
    operations, so __doc__ was None and the register() contract (the
    docstring carries the key's rationale/citations) silently broke.
    Pin: only the known simple early-§2 keys may lack a docstring; a
    new docstring-less builder (e.g. a recurrence of the .replace
    pattern) fails here."""
    from climateiq_pipelines_spark.plans import QUERIES

    allowed_bare = {
        "agg_count_distinct", "agg_conditional_filter",
        "agg_stats_moments", "agg_rollup", "agg_cube",
        "agg_distinct_rows", "join_broadcast_dim", "join_left_outer",
        "join_left_semi", "join_left_anti", "join_right_outer",
        "set_union_distinct", "fn_conditional",
        "filter_comparison_chain", "filter_in_like_null",
    }
    missing = {k for k, fn in QUERIES.items()
               if not (fn.__doc__ or "").strip()}
    assert missing <= allowed_bare, sorted(missing - allowed_bare)


def test_gen_rotation_derive_window_rules():
    """Unit pins for the rotation derivation: priority keys lead in
    the given order; never-certified (no stamp) sorts before every
    stamped key; ties break by registration index; unknown/duplicate
    priority keys fail loudly (a typo'd rotation must not silently
    derive a wrong window)."""
    import pytest as _pytest

    from tools.gen_rotation import derive_window

    reg = ["a", "b", "c", "d", "e"]
    stamps = {"a": 3, "b": 1, "c": 2, "e": 1}  # d never certified
    assert derive_window(reg, stamps, [], 3) == ["d", "b", "e"]
    assert derive_window(reg, stamps, ["c"], 3) == ["c", "d", "b"]
    with _pytest.raises(KeyError):
        derive_window(reg, stamps, ["zzz"], 3)
    with _pytest.raises(KeyError):
        derive_window(reg, stamps, ["a", "a"], 3)
    # VERDICT r12 #7 — exemptions are recorded judgments, never
    # reordering inputs: the window is unchanged by them, but an
    # unregistered or priority-overlapping exempt key fails loudly.
    assert derive_window(reg, stamps, ["c"], 3, exempt=["a"]) == (
        derive_window(reg, stamps, ["c"], 3))
    with _pytest.raises(KeyError):
        derive_window(reg, stamps, [], 3, exempt=["zzz"])
    with _pytest.raises(KeyError):
        derive_window(reg, stamps, ["c"], 3, exempt=["c"])


def test_gen_rotation_exempt_output_format():
    """The recorded-exemption line format is part of the artifact
    contract (VERDICT r12 #7: the judgment must be visible in the
    tool's output, not a commit message) — pin it so a reword doesn't
    silently drop the record."""
    import subprocess
    import sys

    out = subprocess.run(
        [sys.executable, "tools/gen_rotation.py",
         "--exempt", "scan_parquet_project", "--n", "3"],
        capture_output=True, text=True, timeout=600, cwd=REPO_ROOT,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    lines = out.stdout.strip().splitlines()
    ex = [ln for ln in lines if ln.startswith("# exempt: ")]
    assert ex == [
        "# exempt: scan_parquet_project — changed after stamp, judged "
        "mechanical (rides normal stamp order)"
    ]
    assert len([ln for ln in lines if not ln.startswith("#")]) == 3


def test_bench_gated_summary_scan_skips_non_dict_json():
    """ADVICE r11: the gated bench's backward stdout scan must not
    discard a completed run because a trailing line parses as a bare
    JSON number/null — only a dict carrying "value" is the summary."""
    import tools.bench_gated as bg

    real = '{"metric": "bench", "value": 60.9, "sf": 0.1}'
    assert bg.extract_summary(real + "\n42\nnull\n# done")["value"] == 60.9
    assert bg.extract_summary("no json here\n[1, 2]\n17") is None
    # newest summary wins when two exist (a rerun appends)
    newer = '{"value": 59.0}'
    assert bg.extract_summary(real + "\n" + newer)["value"] == 59.0


@pytest.mark.parametrize("value", ["", "yes", "true", "2", " 1", "off"])
def test_bench_reclaim_env_rejects_anything_but_0_or_1(monkeypatch, value):
    """SPARK_BENCH_RECLAIM picks the bench's between-key mode; a typo
    must stop the run instead of silently picking a mode."""
    import bench

    monkeypatch.setenv("SPARK_BENCH_RECLAIM", value)
    with pytest.raises(SystemExit, match="SPARK_BENCH_RECLAIM"):
        bench.reclaim_enabled()
    for env, enabled in (("0", False), ("1", True), (None, True)):
        monkeypatch.setenv("SPARK_BENCH_RECLAIM", env or "")
        if env is None:
            monkeypatch.delenv("SPARK_BENCH_RECLAIM")
        assert bench.reclaim_enabled() is enabled


def test_bench_prints_one_stdout_line_and_rejects_unknown_keys(
    spark, capsys, monkeypatch, tmp_path
):
    """bench.py's stdout is exactly one JSON line carrying "value"
    (per-key detail goes to stderr and the detail file), and a key
    list naming an unregistered key exits non-zero."""
    import json

    import bench

    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", SF_SMALL)
    monkeypatch.setenv("BENCH_DETAIL_PATH", str(tmp_path / "detail.json"))
    bench.main(["agg_pricing_summary"])
    lines = capsys.readouterr().out.splitlines()
    assert len(lines) == 1, lines
    summary = json.loads(lines[0])
    assert "value" in summary and summary["n_queries"] == 1
    detail = json.loads((tmp_path / "detail.json").read_text())
    assert list(detail["queries"]) == ["agg_pricing_summary"]
    with pytest.raises(SystemExit, match="no_such_key"):
        bench.main(["agg_pricing_summary", "no_such_key"])


def test_parquet_first_array_len_skips_null_leading_rows(tmp_path):
    """The dim peek reads the first NON-NULL array value, as its
    docstring says, not whatever row 0 holds."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from climateiq_pipelines_spark.registry import parquet_first_array_len

    for rows, dim in (([None, [1.0, 2.0, 3.0], [4.0]], 3), ([None], None)):
        emb = pa.array(rows, type=pa.list_(pa.float32()))
        pq.write_table(pa.table({"embedding": emb}), tmp_path / "embeddings.parquet")
        assert parquet_first_array_len(str(tmp_path), "embeddings", "embedding") == dim


def test_driver_window_is_fully_oracle_checkable():
    """Standing policy since round 6 (VERDICT r5 #5): no slot in the
    50-key driver window is wasted on a rows-only key — every key in the
    window has a SQL oracle, so the driver artifact can report 50/50.
    Round 7's window includes the six streaming demos, which carry full
    oracles since the epoch-pinned event-time rewrite."""
    from climateiq_pipelines_spark.plans import ORACLES

    keys = list(QUERIES)[:50]
    missing = [k for k in keys if k not in ORACLES]
    assert not missing, f"rows-only keys inside the driver window: {missing}"


def test_bloom_probe_is_packed_long_bitmask(spark):
    """Regression pin for the round-8 bloom incident: the train-side
    probe must be the O(1) element_at-into-array<long> bitmask, never
    the O(position) substring-into-an-m-char-string-literal form
    (UTF8String.substring walks bytes; 54.41 s vs 1.24 s at sf0.1 —
    BASELINE.md round-9). The plan must carry element_at + shiftleft
    probes and no 65,536-char string literal."""
    plan = plan_of(spark, "llm_bloom_decontam")
    assert "element_at" in plan, plan
    assert "shiftleft" in plan, plan
    # The r8 form's fingerprint: the m-char '0'/'1' bit STRING printed
    # inline (the packed array<long> literal also prints inline, but
    # as comma-separated decimals — no kilochar 0/1 run).
    assert not re.search(r"[01]{1000,}", plan)


def test_dynamic_partition_pruning_fires(spark):
    """scan_dynamic_partition_pruning's fact scan must carry a
    dynamicpruning subquery in its partition filters — the runtime
    dim-driven pruning that makes star joins read only matching
    partitions at 100 TB. Row parity (parity tests) proves pruning is
    lossless; this pin proves it actually HAPPENS."""
    df = QUERIES["scan_dynamic_partition_pruning"](spark, SF_SMALL)
    plan = spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "dynamicpruning" in plan.lower(), plan


def test_aqe_skew_join_splits_hot_partition(spark):
    """AQE skew-join is the FIRST-LINE skew answer at scale (VERDICT r5
    #7): the same hot-key shape join_salted_skew handles by hand must
    be split by spark.sql.adaptive.skewJoin with NO code changes — the
    executed adaptive plan carries the `skew=true` marker on the
    sort-merge join. Manual salting remains the documented fallback for
    the pathological key a single post-split partition still can't
    hold. Thresholds are lowered to make test-scale partitions (a ~50k-
    row hot key vs ~1.5k-row median partitions) register as skewed;
    broadcast is disabled so the join actually shuffles, as it would at
    fact×fact scale."""
    import pyspark.sql.functions as F

    confs = {
        # 32 shuffle partitions so the non-hot tail spreads thin enough
        # for the hot partition to clear the skew factor vs the median
        # (the 8-partition test default makes the median too fat).
        "spark.sql.shuffle.partitions": "32",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8k",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8k",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        n = 100_000
        fact = spark.range(n).select(
            F.when(F.col("id") % 2 == 0, 0)
            .otherwise(F.col("id"))
            .alias("k"),
            F.concat(F.lit("x" * 64), F.col("id").cast("string")).alias(
                "payload"
            ),
        )
        dim = spark.range(0, n).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("attr")
        )
        joined = fact.join(dim, "k").select("k")
        rows = joined.collect()  # execute so AQE finalizes the plan
        assert len(rows) == n
        plan = spark._jvm.PythonSQLUtils.explainString(
            joined._jdf.queryExecution(), "simple"
        )
        assert "isFinalPlan=true" in plan, plan
        assert "skew=true" in plan, plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_wave3_string_filters_reach_scans(spark):
    """Q20's prefix LIKE must push as StringStartsWith (range-
    convertible — row-group skipping applies) and Q9's non-prefix LIKE
    as StringContains into their part scans — the wave-3 docstring
    claims, pinned."""
    assert "StringStartsWith(p_name,small)" in plan_of(
        spark, "q20_potential_promotion"
    )
    assert "StringContains(p_name,red)" in plan_of(
        spark, "q9_product_profit"
    )


def test_runtime_bloom_filter_prunes_fact_side(spark):
    """Runtime bloom-filter join pruning — the OTHER no-code-change
    scale lever next to AQE skew-split: when a selective filter sits on
    the dim side of a shuffle join, Catalyst builds a bloom filter from
    the filtered keys and injects might_contain() into the FACT scan,
    dropping non-joining rows before the shuffle. At 100 TB this is the
    difference between shuffling the full fact table and shuffling the
    ~1/25 that can match. Thresholds are lowered so test-scale inputs
    qualify; broadcast is disabled so the join actually shuffles (a
    broadcast join gets DPP/filter pushdown through other means)."""
    import pyspark.sql.functions as F

    from climateiq_pipelines_spark.registry import load_table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": (
            "100MB"
        ),
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        li = load_table(spark, SF_SMALL, "lineitem").select(
            "l_partkey", "l_quantity"
        )
        part = (
            load_table(spark, SF_SMALL, "part")
            .filter(F.col("p_brand") == "Brand#1")
            .select("p_partkey")
        )
        j = li.join(part, li.l_partkey == part.p_partkey).agg(
            F.count(F.lit(1)).alias("n")
        )
        plan = plan_of_df(spark, j)
        assert "might_contain" in plan, plan
        assert "bloom_filter_agg" in plan, plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_bucketed_join_has_no_exchange(spark):
    """join_bucketed_colocated: both scans read Bucketed, the join is
    SortMergeJoin, and NO Exchange sits below the join — bucket
    co-location eliminated the join shuffle entirely.  The only
    exchange is the exact aggregate's ONE partial→final shuffle on
    c_nationkey, over the |groups|x|partitions| partials, never over
    fact rows."""
    plan = plan_of(spark, "join_bucketed_colocated")
    assert "Bucketed: true" in plan, plan
    assert "SortMergeJoin" in plan, plan
    # anchored to shuffle exchanges specifically — a bare "Exchange"
    # count would also match BroadcastExchange/ReusedExchange nodes if
    # the planner ever introduced one, silently shifting what the pin
    # means (ADVICE r15)
    shuffles = list(re.finditer(r"\bExchange hashpartitioning", plan))
    assert len(shuffles) == 1, plan
    # the join subtree itself is exchange-free: the one shuffle hashes
    # the partials on the grouping key alone, never a bucket/join key
    # over fact rows (checked on the hash expressions, not on where
    # the node prints)
    clause = plan[shuffles[0].start() : plan.index(")", shuffles[0].start()) + 1]
    assert re.fullmatch(r"Exchange hashpartitioning\(c_nationkey#\d+, \d+\)", clause), clause


def test_scalable_rank_windows_are_partitioned(spark):
    """sort_multikey_scalable: the rank window over the fact rows must
    be partitioned by the range-partition id (no single-partition Window
    ever sees data rows); the only unpartitioned window runs over the
    N_PARTITIONS-row offset table."""
    plan = plan_of(spark, "sort_multikey_scalable")
    assert re.search(r"row_number\(\) windowspecdefinition\(pid#", plan), plan
    # the offset window's spec starts with its ORDER column (pid ASC),
    # i.e. no partition column — and it must be the only such window
    unpartitioned = [
        m for m in re.finditer(r"windowspecdefinition\((\w+#\d+L?) ASC", plan)
    ]
    assert len(unpartitioned) == 1 and unpartitioned[0].group(1).startswith(
        "pid"
    ), plan


def test_span_watermark_has_no_global_data_window(spark):
    """stream_watermark_spans: every Window in the plan runs over the
    span table (data-size/1000), never over raw event rows — the
    scale-safe replay of micro-batch watermark semantics."""
    plan = plan_of(spark, "stream_watermark_spans")
    for line in plan.splitlines():
        if "windowspecdefinition" in line:
            assert "span" in line, line


def test_sort_multikey_nulls_is_two_phase(spark):
    """Round-7 promotion (VERDICT r6 #3): the registered
    sort_multikey_nulls now RUNS the two-phase range-partitioned rank —
    its fact-row window is pid-partitioned and the only unpartitioned
    window runs over the N_PARTITIONS-row offset table. The old global
    window survives only as the unregistered demo twin."""
    plan = plan_of(spark, "sort_multikey_nulls")
    assert re.search(r"row_number\(\) windowspecdefinition\(pid#", plan), plan
    unpartitioned = [
        m for m in re.finditer(r"windowspecdefinition\((\w+#\d+L?) ASC", plan)
    ]
    assert len(unpartitioned) == 1 and unpartitioned[0].group(1).startswith(
        "pid"
    ), plan


def test_watermark_late_has_no_global_data_window(spark):
    """Round-7 promotion (VERDICT r6 #3): stream_watermark_late's
    row-exact running max is now the two-phase decomposition over
    deterministic value buckets — every window over event rows is
    bucket-partitioned; the only unpartitioned window runs over the
    n/1000-row bucket table (its spec starts with the bucket ORDER
    column)."""
    plan = plan_of(spark, "stream_watermark_late")
    specs = re.findall(r"windowspecdefinition\(([^,]*),", plan)
    assert specs, plan
    # Both the data-row window (partitioned: `bucket#N, event_id#M
    # ASC...`) and the bucket-table window (unpartitioned: `bucket#N
    # ASC...`) lead with bucket — no window spec leads with a raw data
    # column.
    for first in specs:
        assert first.strip().startswith("bucket#"), plan
    # and no sampled range exchange anywhere (the nondeterminism the
    # bucket form exists to avoid)
    assert "rangepartitioning" not in plan, plan


def test_promoted_keys_match_their_demo_twins(spark):
    """The round-7 promotions are pure plan swaps: the registered
    two-phase forms must return row-identical answers to the historical
    single-partition demo twins they replaced."""
    from climateiq_pipelines_spark.operators.sorts import (
        _sort_multikey_global_window,
    )
    from climateiq_pipelines_spark.streaming.batch_shapes import (
        _watermark_late_global_window,
    )

    for key, twin in [
        ("sort_multikey_nulls", _sort_multikey_global_window),
        ("stream_watermark_late", _watermark_late_global_window),
    ]:
        got = (
            QUERIES[key](spark, SF_SMALL)
            .toPandas()
            .sort_values(list(QUERIES[key](spark, SF_SMALL).columns))
            .reset_index(drop=True)
        )
        want = (
            twin(spark, SF_SMALL)
            .toPandas()
            .sort_values(list(got.columns))
            .reset_index(drop=True)
        )
        # VALUE equivalence, width-insensitive (round-13: the registered
        # rank widened to LONG to survive past 2^31 rows; the demo twin
        # keeps row_number's INT — the driver's canonicalizer unifies
        # integer widths the same way).
        for c in got.columns:
            if str(got[c].dtype).startswith("int"):
                got[c] = got[c].astype("int64")
                want[c] = want[c].astype("int64")
        assert got.equals(want), f"{key}: two-phase != demo twin"


def test_partitioned_sink_readback_prunes_partitions(spark):
    """sink_partitioned_parquet: the year filter must land in
    PartitionFilters (directory-level pruning) — the read never opens
    the other years' files."""
    plan = plan_of(spark, "sink_partitioned_parquet")
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "o_year" in m.group(1) and "1997" in m.group(1), plan


def test_widen_if_narrow_semantics(spark):
    """registry.widen_if_narrow is the shared local-SF remedy for the
    fixture's single-row-group parquet files: a narrow scan gains
    session parallelism, an already-wide frame passes through
    UNCHANGED (the 100 TB no-op — no shuffle added to a wide scan),
    and row content is preserved either way."""
    from climateiq_pipelines_spark.registry import load_table, widen_if_narrow

    par = spark.sparkContext.defaultParallelism
    docs = load_table(spark, SF_SMALL, "documents")
    if docs.rdd.getNumPartitions() >= par:
        # ADVICE r9 #3: on a 1-core runner (defaultParallelism == 1)
        # the scan is never narrower than the session — the premise,
        # not the behavior, is absent; skip instead of failing.
        pytest.skip("fixture scan not narrower than defaultParallelism")
    widened = widen_if_narrow(spark, docs)
    assert widened.rdd.getNumPartitions() == par
    assert widened.count() == docs.count()
    # Already-wide input: identical object back, no repartition node.
    wide = docs.repartition(par + 1)
    assert widen_if_narrow(spark, wide) is wide


def test_graph_cache_evicts_to_latest_entry(spark):
    """The graph edge/orientation memos must not pin checkpointed
    frames for every sf_dir ever swept — an eager memo keeps only its
    latest key per name; a lazy memo (no blocks) keeps every key."""
    from climateiq_pipelines_spark import session as S

    S.release_blocks(spark)
    assert S.memo("probe", "sf_a", lambda: "frame_a") == "frame_a"
    assert S.memo("probe", "sf_a", lambda: "frame_a2") == "frame_a"  # hit
    assert S._SCOPE.memos["probe"] == {"sf_a": "frame_a"}
    S.memo("probe", "sf_b", lambda: "frame_b")  # new key: evict old
    assert S._SCOPE.memos["probe"] == {"sf_b": "frame_b"}
    S.memo("probe", "sf_a", lambda: "frame_a", lazy=True)
    S.memo("probe", "sf_b", lambda: "frame_b", lazy=True)
    assert S._SCOPE.lazy_memos["probe"] == {"sf_a": "frame_a", "sf_b": "frame_b"}
    S.release_blocks(spark)


def test_gen_plans_normalizes_run_specific_names():
    """Ids and temp names that differ between two generations of one
    plan normalize to the same text."""
    import tempfile

    from tools.gen_plans import normalize

    tmp = tempfile.gettempdir()
    one = (
        "Exchange hashpartitioning(c_nationkey#12, 8), ENSURE_REQUIREMENTS, "
        "[plan_id=441]\nFileScan parquet spark_catalog.default."
        f"cps_bkt_orders_39222fdab958[o_custkey#3L] Location: "
        f"InMemoryFileIndex(1 paths)[file:{tmp}/cps_bucketed_join_yljaiqsv/orders]"
    )
    two = (
        "Exchange hashpartitioning(c_nationkey#98, 8), ENSURE_REQUIREMENTS, "
        "[plan_id=17]\nFileScan parquet spark_catalog.default."
        f"cps_bkt_orders_0a1b2c3d4e5f[o_custkey#40L] Location: "
        f"InMemoryFileIndex(1 paths)[file:{tmp}/cps_bucketed_join_ab_cd_9z/orders]"
    )
    assert normalize(one) == normalize(two)
    assert normalize(one) == (
        "Exchange hashpartitioning(c_nationkey, 8), ENSURE_REQUIREMENTS\n"
        "FileScan parquet spark_catalog.default.cps_bkt_orders_<token>"
        "[o_custkey] Location: InMemoryFileIndex(1 paths)"
        "[file:<tmp>/cps_bucketed_join_<rand>/orders]"
    )


# A fixed PLANS.md subset: a plain relational key, the bucketed join
# (temp catalog tables and dirs) and an Arrow key.
PLANS_SUBSET = ("topk_global", "join_bucketed_colocated", "llm_semdedup")


def test_plans_md_subset_regenerates_byte_for_byte():
    """tools/gen_plans.py, run in its own session, prints each subset
    key's section exactly as the committed PLANS.md holds it: a
    regeneration diff shows plan changes only."""
    import subprocess
    import sys

    out = subprocess.run(
        [sys.executable, "tools/gen_plans.py", *PLANS_SUBSET],
        cwd=REPO_ROOT,
        capture_output=True,
        text=True,
        check=True,
        timeout=600,
    ).stdout
    committed = Path(REPO_ROOT, "PLANS.md").read_text()
    for key in PLANS_SUBSET:
        m = re.search(rf"^## `{key}`\n.*?\n```\n\n", committed, re.M | re.S)
        assert m, key
        assert m.group(0) in out, key
