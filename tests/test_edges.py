"""Edge-case oracle parity + explicit semantic pins (SURVEY §5.2 #2).

Runs the SAME comparator as the driver over the adversarial fixture
(tests/edge_fixture.py): boundary gaps, ties, duplicates, out-of-order
arrivals. Every oracle-bearing key must still hash-match — this is
where tie-break and boundary discipline actually gets exercised, since
the driver fixtures are collision-free by construction.

A handful of keys also get explicit value assertions pinning INTENDED
semantics (what the right answer IS, not just that engines agree).
"""

from __future__ import annotations

import pytest

from climateiq_pipelines_spark.parity import check_key, duck_connect
from climateiq_pipelines_spark.plans import QUERIES

# Keys whose edge semantics the adversarial fixture targets. (Running
# all 84 would add minutes for little marginal signal; these are the
# boundary-sensitive ones.)
EDGE_KEYS = [
    "filter_comparison_chain",   # BETWEEN bounds, strict > at 0.05
    "agg_min_max_by",            # argmax under an exact price tie
    "agg_conditional_filter",    # value > 10 with value == 10 present
    "agg_collect_sorted",
    "win_rank_topn_per_group",   # tie-break under equal prices
    "win_rank_dense_ntile",      # rank/dense_rank under acctbal tie
    "win_running_sum",           # same-date ordering tie
    "win_first_last",
    "topk_global",               # equal revenue rows
    "sort_multikey_nulls",       # real NULLs in the derived column
    "set_union_all",             # filter edge at 5000
    "set_dropdup_subset",
    "join_left_anti",            # customer with no orders
    "join_asof_last_event",      # purchase-free prefix → NULL
    "stream_session_window",     # gap == 30:00 vs 30:00.000001
    "stream_watermark_late",     # late arrival beyond 1h
    "stream_stateful_dedup",     # first ARRIVAL has later ts
    "llm_exact_dedup",           # true exact duplicates
    "llm_minhash_neardup",       # permutation pair
    "llm_minhash_lsh",           # LSH must find the same pairs
    "llm_token_counts",
    "llm_tfidf_topterms",        # repeated-token tf edge
    "llm_cosine_topk",           # bit-identical vectors → dot ties
    "llm_embed_normalize",
    "llm_simhash_bucket",
    "llm_ngram_jaccard",         # single-token doc (< 3-gram guard),
                                 # exact dup vs permutation separation
    "llm_simhash_neardup",       # identical-token-set pair at Hamming 0
    "llm_corpus_pipeline",       # funnel over exact dup + permutation
    "llm_stratified_sample",     # 1-doc stratum → ceil picks exactly 1
    "llm_pack_sequences",        # doc longer than half the budget
    "mm_frame_sample",           # doc shorter than frame width
    "fn_string",
    "fn_conditional",            # price exactly on a CASE edge
    # round 3 keys over the same adversarial corpus
    "sort_multikey_scalable",    # NULLs + ties through the 2-phase rank
    "stream_watermark_spans",    # late arrival vs span-boundary watermark
    "llm_dedup_clusters",        # dup pair + permutation → one component
    "graph_pagerank_converged",  # stopping round off the sf0.01 depth
    "llm_kmeans_converged",      # stopping round off the sf0.01 depth
    "llm_text_normalize",        # punctuation/case collapse edges
    "llm_simhash_multiprobe",    # identical vectors at Hamming 0
    "q12_priority_by_flag",      # priority class split on edge orders
    "llm_cosine_topk_lsh",       # bit-identical vectors → dot ties in-bucket
    "q22_global_sales_opportunity",  # SQL surface over the edge tables
    "llm_kmeans_iterate",        # Lloyd loop over duplicate vectors
    "llm_pq_encode",             # PQ codes under exact sub-distance ties
    "llm_ivf_pq_topk",           # ADC shortlist ties on identical vectors
    "mm_binary_file_scan",       # binaryFile round-trip on edge payloads
    "llm_winnow_fingerprint",    # winnow windows over dup + short docs
    "llm_winnow_neardup",        # containment on exact dup + permutation
    # round 5 keys over the same adversarial corpus
    "q4_order_priority",         # empty-quarter semi join (both engines empty)
    "q13_customer_distribution", # custkey 3 with no orders → zero bucket
    "q14_promo_revenue",         # no exact-'PROMO' part → NULL/zero share
    "q19_discounted_revenue",    # l_quantity exactly on the BETWEEN bounds
    "llm_ngram_contamination",   # docs shorter than the 5-gram window
    "llm_mixture_weights",       # 3-lang corpus, single-doc strata
    "llm_seqlen_histogram",      # 1-token doc → bucket 0 boundary
    "llm_repetition_filter",     # 'scan scan scan scan scan' doc + 1-token doc
    "scan_text_roundtrip",       # digest round-trip over adversarial texts
    "events_funnel_steps",       # purchase-free user must not convert
    "events_cohort_retention",   # single-day cohorts, week-0 boundary
    "agg_unpivot_melt",          # melt over boundary-valued measures
    "q21_suppliers_kept_waiting",  # semi+anti with single-supplier orders
    "q2_min_cost_supplier",      # min-avg tie → both suppliers surface
    "join_asof_tolerance",       # purchase-free prefix + stale match → NULL
    # round 6 keys over the same adversarial corpus
    "q8_market_share",           # no exact-'PROMO' part → empty share table
    "q9_product_profit",         # no 'red' part → empty, engines must agree
    "q15_top_supplier",          # max-equality over the tiny quarter slice
    "q16_parts_supplier_relation",  # boundary sizes 1/50, no complaints set
    "q17_small_qty_revenue",     # Brand#1 exists; threshold over 2-row parts
    "q20_potential_promotion",   # no 'small%' part → empty dominant set
    "mm_ppm_decode",             # P6 codec over adversarial texts (pad path)
    "agg_approx_count_distinct", # exact-range HLL on tiny cardinalities
    "agg_approx_percentile",     # GK band on tiny groups (1/n dominates)
    "agg_hll_sketch_merge",      # merge of tiny sketches = exact counts
    "sink_merge_on_read",        # delete/upsert deltas over a 5-row base
    "sink_time_travel",          # v0 must not see the deltas on disk
    "udtf_native_chunker",       # split semantics on adversarial texts
    "llm_pii_redact",            # regex agreement on adversarial texts
    "llm_shuffle_shard",         # seeded order over duplicate/short docs
    "q11_important_stock",       # int-micros threshold over tiny nation slice
    "llm_semdedup",              # bit-identical in-cluster vectors → dup ties
    "fn_struct",                 # struct compare ties falling to field 2
    "llm_dsir_weights",          # dup/short docs through hashed-gram buckets
    "events_top_paths",          # count ties at the top-k cutoff
    "events_anomaly_zscore",     # single-event / zero-variance groups
    "sink_compact_small_files",  # rows < partition count → partial layout
    "scan_csv_malformed",        # corrupt classes over tiny key ranges
    "llm_semdedup_pipeline",     # assignment ties + dup ties end to end
    # round 6b keys over the same adversarial corpus
    "win_gap_islands",           # duplicate-ts runs, single-event islands
    "events_markov_transitions", # self-loop transitions on dup-ts streams
    "join_null_safe",            # NULL bucket must match NULL bucket
    "fn_bitwise",                # bitwise ops over edge key ranges
    "agg_bool_logic",            # all-true / all-false boundary groups
    "sort_zorder_locality",      # tile audit over sparse edge keys
    "scan_schema_evolution",     # one-sided batches on tiny key ranges
    "llm_chunk_dedup",           # exact-dup docs → 100% boilerplate
    "llm_unigram_logprob",       # dup/short docs through integer log2
    "graph_pagerank",            # star-shaped purchase graph, dup edges
    "llm_inverted_index",        # tf ties at the posting cutoff
    "llm_sliding_chunks",        # docs shorter than one stride
    "fn_url",                    # parse_url vs regex on edge doc ids
    "llm_bm25_score",            # dup docs -> identical scores, id tiebreak
    "mm_wav_decode",             # short texts fully 'x'-padded rasters
    "sink_range_partitioned_stats",  # tiny table -> fewer files than parts
    "llm_rrf_fusion",            # identical vectors -> dense rank ties
    "agg_linear_fit",            # tiny groups through the moment closed form
    "llm_bpe_pair_stats",        # 1-char words form no pairs; count ties
    "llm_bpe_apply_merge",       # greedy non-overlap on repeated chars
    "join_interval_overlap",     # touching endpoints count as overlap
    "events_windowed_topk",      # count ties at the per-day cutoff
    "scan_dynamic_partition_pruning",  # single-year edge slice
    "set_union_by_name",         # one-sided splits on tiny key ranges
    "sink_compression_codecs",   # codec parity on adversarial rows
    "stream_windowed_topk_demo", # streaming counts + rank on edge stream
    "events_rfm_segmentation",   # quartile edges under tied metrics
    "win_running_distinct",      # duplicate-ts first-seen ordering
    "events_inter_arrival_stats",  # zero gaps on duplicate timestamps
    "llm_heaps_vocab_growth",    # dup/short docs through first-occurrence
    "events_type_entropy",       # single-type users -> exactly 0 bits
    "llm_dataset_manifest",      # dup strata + single-doc strata
    "scd2_build_intervals",      # same-date versions tie on order key
    "llm_zipf_fit",              # rank ties under equal frequencies
    "llm_incremental_dedup",     # corpus dups + in-batch dups exercised
]


@pytest.fixture(scope="module")
def edge_dir(tmp_path_factory):
    from tests.edge_fixture import build_edge_fixture

    return build_edge_fixture(str(tmp_path_factory.mktemp("edge")))


@pytest.fixture(scope="module")
def edge_duck(edge_dir):
    con = duck_connect(edge_dir)
    yield con
    con.close()


@pytest.mark.parametrize("key", EDGE_KEYS)
def test_edge_parity(key, spark, edge_dir, edge_duck):
    assert key in QUERIES, f"{key} not registered"
    res = check_key(key, spark, edge_dir, edge_duck)
    assert res.ok, str(res)


def test_session_gap_boundary_semantics(spark, edge_dir):
    """gap == 30:00 continues the session; 30:00.000001 starts a new
    one (the <= in the gap rule is the contract, both engines)."""
    pdf = (
        QUERIES["stream_session_window"](spark, edge_dir)
        .toPandas()
        .sort_values(["user_id", "session_seq"])
    )
    u0 = pdf[pdf.user_id == 0]
    # events 0,1 (gap exactly 30min) together; event 2 new; event 7 joins
    # session of 2 (gap 39:59.999999 > 30min? 100-60:00.000001 = 39:59…
    # → new session).
    assert list(u0.n_events) == [2, 1, 1]


def test_watermark_drops_only_late_row(spark, edge_dir):
    """Only event 4 (75 min older than the watermark anchor) is
    dropped; on-time rows all survive."""
    pdf = QUERIES["stream_watermark_late"](spark, edge_dir).toPandas()
    assert int(pdf.n_on_time.sum()) == 7


def test_dedup_keeps_first_arrival_not_earliest_ts(spark, edge_dir):
    """(user 1, view): arrival order is id 3 (ts 90min) before id 4
    (ts 25min) — the keeper is id 3 even though id 4 is EARLIER in
    event time. Streaming dedup state is arrival-ordered."""
    pdf = QUERIES["stream_stateful_dedup"](spark, edge_dir).toPandas()
    keeper = pdf[(pdf.user_id == 1) & (pdf.event_type == "view")]
    assert list(keeper.event_id) == [3]


def test_exact_dedup_finds_duplicate_pair(spark, edge_dir):
    pdf = QUERIES["llm_exact_dedup"](spark, edge_dir).toPandas()
    dup = pdf[pdf.n_copies == 2]
    assert len(dup) == 1 and int(dup.keeper_doc_id.iloc[0]) == 0


def test_neardup_finds_permutation_and_lsh_agrees(spark, edge_dir):
    exact = QUERIES["llm_minhash_neardup"](spark, edge_dir).toPandas()
    lsh = QUERIES["llm_minhash_lsh"](spark, edge_dir).toPandas()
    pairs = {
        (int(r.a_id), int(r.b_id)) for r in exact.itertuples()
    }
    # docs 0,1 (identical) and their permutation 2: all three pairwise
    assert pairs == {(0, 1), (0, 2), (1, 2)}
    assert pairs == {(int(r.a_id), int(r.b_id)) for r in lsh.itertuples()}


def test_cosine_ties_break_on_neighbor_id(spark, edge_dir):
    """vec 0 and 1 are bit-identical: for any query, dots to 0 and 1
    are equal integers, so the lower vec_id must rank first."""
    pdf = QUERIES["llm_cosine_topk"](spark, edge_dir).toPandas()
    q2 = pdf[pdf.vec_id == 2].sort_values("rnk")
    n = list(q2.neighbor_id)
    assert n.index(0) < n.index(1)


def test_argmax_tie_breaks_on_orderkey(spark, edge_dir):
    """Orders 0, 1 (cust 0) and 4 (cust 2) ALL tie at 150000.0 in
    MACHINERY — max_by must pick the highest orderkey (struct
    tie-break), min_by the lowest."""
    pdf = QUERIES["agg_min_max_by"](spark, edge_dir).toPandas()
    row = pdf[pdf.c_mktsegment == "MACHINERY"].iloc[0]
    assert int(row.max_price_orderkey) == 4
    assert int(row.min_price_orderkey) == 0


def test_ivf_recall_vs_brute_force(spark):
    """IVF with nprobe=3 over 10 label cells must recover a large share
    of the true top-5 lists at sf0.01 (measured 0.52; recall is the IVF
    quality dial — the floor pinned here is the regression tripwire,
    not a target)."""
    sf = "/root/testdata/sf0.01"
    brute = QUERIES["llm_cosine_topk"](spark, sf).toPandas()
    ivf = QUERIES["llm_ivf_topk"](spark, sf).toPandas()
    truth = {(int(r.vec_id), int(r.neighbor_id)) for r in brute.itertuples()}
    found = {(int(r.vec_id), int(r.neighbor_id)) for r in ivf.itertuples()}
    recall = len(truth & found) / len(truth)
    assert recall >= 0.5, f"IVF recall collapsed: {recall:.3f}"


def test_ivf_pq_recall_vs_exact_ivf(spark):
    """The ADC-shortlisted IVF-PQ path must recover most of what the
    exact-rerank IVF path finds from the SAME probed cells — the gap is
    purely PQ quantization error at the shortlist boundary. Floor is a
    regression tripwire, not a target."""
    sf = "/root/testdata/sf0.01"
    exact = QUERIES["llm_ivf_topk"](spark, sf).toPandas()
    pq = QUERIES["llm_ivf_pq_topk"](spark, sf).toPandas()
    truth = {(int(r.vec_id), int(r.neighbor_id)) for r in exact.itertuples()}
    found = {(int(r.vec_id), int(r.neighbor_id)) for r in pq.itertuples()}
    recall = len(truth & found) / len(truth)
    assert recall >= 0.6, f"IVF-PQ recall vs exact IVF collapsed: {recall:.3f}"
