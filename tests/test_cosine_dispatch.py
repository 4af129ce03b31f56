"""llm_cosine_topk's size dispatch: exact block-NL under
BLOCKNL_MAX_VECTORS, bucketed pure-DataFrame ANN above — the round-2
verdict's weak-lite item (the key used to raise above the guard and
collected the corpus unbounded). llm_minhash_neardup has no such
dispatch: its one plan is the exact prefix join at every size.
"""

from __future__ import annotations

import re

import pytest

from climateiq_pipelines_spark.operators import llm
from climateiq_pipelines_spark.plans import QUERIES

from tests.conftest import SF_SMALL


def _plan(df) -> str:
    spark = df.sparkSession
    return spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )


def test_small_corpus_uses_block_nl(spark):
    """Under the bound the registered key keeps the measured-24x-faster
    Arrow block-NL (MapInPandas in the plan)."""
    df = QUERIES["llm_cosine_topk"](spark, SF_SMALL)
    assert "MapInPandas" in _plan(df)


def test_large_corpus_dispatches_to_bucketed(spark, monkeypatch):
    """Above the bound the key must return the bucketed DataFrame plan:
    no Python eval node, no cartesian/nested-loop, same schema — and it
    must actually run without any driver-side corpus materialization."""
    monkeypatch.setattr(llm, "BLOCKNL_MAX_VECTORS", 10)
    df = QUERIES["llm_cosine_topk"](spark, SF_SMALL)
    plan = _plan(df)
    assert "MapInPandas" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert [f.name for f in df.schema.fields] == [
        "vec_id", "neighbor_id", "cos_micros", "rnk", "method",
    ]
    pdf = df.toPandas()
    assert len(pdf) > 0
    # the r4 ADVICE marker: a dispatched result must self-identify so it
    # can never silently pass for the exact block-NL contract
    assert (pdf["method"] == "simhash_bucketed").all()
    # per-query contract: at most k=5 neighbors, rnk dense from 1,
    # cos_micros non-increasing in rnk
    for _, g in pdf.groupby("vec_id"):
        g = g.sort_values("rnk")
        assert list(g["rnk"]) == list(range(1, len(g) + 1))
        assert (g["cos_micros"].diff().dropna() <= 0).all()
        assert len(g) <= 5


def test_minhash_neardup_is_exact_prefix_join(spark):
    """The registered key is the exact prefix join at every corpus
    size: no MinHash machinery (xxhash64) in the plan, and every
    candidate verified by array_intersect."""
    plan = _plan(QUERIES["llm_minhash_neardup"](spark, SF_SMALL))
    assert "xxhash64" not in plan
    assert "array_intersect" in plan


def test_bucketed_neighbors_share_bucket_semantics(spark, monkeypatch):
    """Every bucketed pair must be a same-signature pair — i.e. the
    dispatch target implements bucket-local top-k, not a silent
    all-pairs fallback (which would be the 100 TB-fatal plan)."""
    monkeypatch.setattr(llm, "BLOCKNL_MAX_VECTORS", 10)
    approx = QUERIES["llm_cosine_topk"](spark, SF_SMALL).toPandas()
    sig_df = QUERIES["llm_simhash_bucket"](spark, SF_SMALL)
    # signature histogram: bucket sizes bound the per-query neighbor count
    sizes = {
        int(r["signature"]): int(r["n_vecs"]) for r in sig_df.collect()
    }
    counts = approx.groupby("vec_id").size()
    assert (counts <= max(sizes.values()) - 1).all()


def test_mrl_large_corpus_dispatches_to_bucketed(spark, monkeypatch):
    """llm_mrl_truncated_rerank shares the byte-derived corpus bound:
    above it the key must return the simhash-bucketed DataFrame plan
    (no Python eval, no nested loop) with the distinct method marker,
    and the per-query rerank contract must hold."""
    monkeypatch.setattr(llm, "BLOCKNL_MAX_VECTORS", 10)
    df = QUERIES["llm_mrl_truncated_rerank"](spark, SF_SMALL)
    plan = _plan(df)
    assert "MapInPandas" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert [f.name for f in df.schema.fields] == [
        "vec_id", "neighbor_id", "cos_micros", "rnk", "method",
    ]
    pdf = df.toPandas()
    assert len(pdf) > 0
    assert (pdf["method"] == "mrl_prefix16_rerank_bucketed").all()
    for _, g in pdf.groupby("vec_id"):
        g = g.sort_values("rnk")
        assert list(g["rnk"]) == list(range(1, len(g) + 1))
        assert (g["cos_micros"].diff().dropna() <= 0).all()
        assert len(g) <= 5


def test_recall_eval_refuses_approximate_ground_truth(spark, monkeypatch):
    """Round-12 review: above the block-NL bound llm_ann_recall_eval's
    'exact ground truth' side would silently dispatch to the bucketed
    ANN plan and report LSH-vs-bucketed overlap as recall@5 against
    exact truth.  The key must refuse loudly instead."""
    monkeypatch.setattr(llm, "BLOCKNL_MAX_VECTORS", 10)
    with pytest.raises(ValueError, match="exceeds the block-NL bound"):
        QUERIES["llm_ann_recall_eval"](spark, SF_SMALL)


def test_blocknl_broadcast_empty_corpus_is_2d(spark):
    """Round-12 review: ann_ext2's copy of the prelude crashed on an
    empty corpus (prefix slice on a 1-D np.array([])).  The shared
    helper must return a 2-D matrix even for zero rows."""
    from climateiq_pipelines_spark.registry import load_table

    empty = (
        load_table(spark, SF_SMALL, "embeddings")
        .select("vec_id", "embedding")
        .filter("vec_id < 0")
    )
    bc, dim = llm._blocknl_broadcast(spark, empty)
    ids, corpus = bc.value
    assert len(ids) == 0
    assert corpus.ndim == 2 and corpus.shape == (0, dim)
    assert corpus[:, :16].shape == (0, min(16, dim))
