"""The exact vector keys' block-NL bound: llm_cosine_topk and
llm_mrl_truncated_rerank run the Arrow block-NL under
BLOCKNL_MAX_VECTORS and raise ValueError above it, naming
llm_cosine_topk_lsh, the bucketed scale path with its own oracle.
llm_minhash_neardup has no size dispatch either: its one plan is the
exact prefix join at every size.
"""

from __future__ import annotations

import pytest

# The block-NL bound and prelude live in fixedpoint; the refusal tests
# patch the bound there, where both exact keys read it.
from climateiq_pipelines_spark.functions import fixedpoint as llm
from climateiq_pipelines_spark.plans import QUERIES

from tests.conftest import SF_SMALL


def _plan(df) -> str:
    spark = df.sparkSession
    return spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )


def test_small_corpus_uses_block_nl(spark):
    """Under the bound the registered key keeps the measured-24x-faster
    Arrow block-NL (MapInArrow in the plan)."""
    df = QUERIES["llm_cosine_topk"](spark, SF_SMALL)
    assert "MapInArrow" in _plan(df)


def test_large_corpus_refuses(spark, monkeypatch):
    """Above the bound the exact key raises instead of answering with an
    approximate plan, and the message names the scale path."""
    monkeypatch.setattr(llm, "BLOCKNL_MAX_VECTORS", 10)
    with pytest.raises(ValueError, match="exceeds the block-NL bound") as e:
        QUERIES["llm_cosine_topk"](spark, SF_SMALL)
    assert "llm_cosine_topk_lsh" in str(e.value)


def test_minhash_neardup_is_exact_prefix_join(spark):
    """The registered key is the exact prefix join at every corpus
    size: no MinHash machinery (xxhash64) in the plan, and every
    candidate verified by array_intersect."""
    plan = _plan(QUERIES["llm_minhash_neardup"](spark, SF_SMALL))
    assert "xxhash64" not in plan
    assert "array_intersect" in plan


def test_bucketed_neighbors_share_bucket_semantics(spark):
    """Every llm_cosine_topk_lsh pair must be a same-signature pair —
    i.e. the scale path implements bucket-local top-k, not a silent
    all-pairs fallback (which would be the 100 TB-fatal plan) — and
    the per-query contract holds: at most k=5 neighbors, rnk dense
    from 1, cos_micros non-increasing in rnk, the bucketed marker."""
    df = QUERIES["llm_cosine_topk_lsh"](spark, SF_SMALL)
    plan = _plan(df)
    assert "MapInArrow" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    approx = df.toPandas()
    assert len(approx) > 0
    assert (approx["method"] == "simhash_bucketed").all()
    for _, g in approx.groupby("vec_id"):
        g = g.sort_values("rnk")
        assert list(g["rnk"]) == list(range(1, len(g) + 1))
        assert (g["cos_micros"].diff().dropna() <= 0).all()
        assert len(g) <= 5
    sig_df = QUERIES["llm_simhash_bucket"](spark, SF_SMALL)
    # signature histogram: bucket sizes bound the per-query neighbor count
    sizes = {
        int(r["signature"]): int(r["n_vecs"]) for r in sig_df.collect()
    }
    counts = approx.groupby("vec_id").size()
    assert (counts <= max(sizes.values()) - 1).all()


def test_mrl_large_corpus_refuses(spark, monkeypatch):
    """llm_mrl_truncated_rerank shares the byte-derived corpus bound and
    raises above it like llm_cosine_topk."""
    monkeypatch.setattr(llm, "BLOCKNL_MAX_VECTORS", 10)
    with pytest.raises(ValueError, match="exceeds the block-NL bound") as e:
        QUERIES["llm_mrl_truncated_rerank"](spark, SF_SMALL)
    assert "llm_cosine_topk_lsh" in str(e.value)


def test_recall_eval_refuses_approximate_ground_truth(spark, monkeypatch):
    """Round-12 review: above the block-NL bound llm_ann_recall_eval's
    'exact ground truth' side would silently dispatch to the bucketed
    ANN plan and report LSH-vs-bucketed overlap as recall@5 against
    exact truth.  The key must refuse loudly instead."""
    monkeypatch.setattr(llm, "BLOCKNL_MAX_VECTORS", 10)
    with pytest.raises(ValueError, match="exceeds the block-NL bound"):
        QUERIES["llm_ann_recall_eval"](spark, SF_SMALL)


def test_blocknl_broadcast_empty_corpus_is_2d(spark):
    """An empty corpus must stay a 2-D (0, dim) matrix: MRL's prefix
    slice needs the second axis (a 1-D np.array([]) once crashed it)."""
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
