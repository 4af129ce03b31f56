"""Round-7 convergence-driven iteration (VERDICT r6 #7): the
data-driven-round-count variants of the two iterative keys whose
registered forms fix their round count for hash-checkability
(`graph_pagerank`, `llm_kmeans_iterate`). Production iterative jobs
never run "exactly 3 rounds" — they iterate the SAME per-round plan to
a residual threshold; these keys register that production story as
first-class checked surface.

Oracle: a stopping rule over integer-exact per-round state is itself
engine-exact — both engines compute bit-identical rounds, therefore
bit-identical residuals, therefore the SAME stopping round, at every
scale. So each key's DuckDB oracle runs the engine's own stopping rule
(same constants) inside one recursive CTE (fixedpoint.pagerank_oracle_sql
/ lloyd_oracle_sql — the fixed-round twins' texts with the rule in
place of the fixed count) and reports the round it stopped at as an
`n_rounds` output column, so a Spark loop that stopped at a different
round hash-mismatches attributably (wrong n_rounds AND wrong state).

Registered last in plans.load_all — after the round-7 driver window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from climateiq_pipelines_spark.functions.fixedpoint import (
    PR_BASE,
    PR_R0,
    bipartite_purchase_edges,
    fixed_mean_1e9,
    lloyd_assign_cols,
    lloyd_centroid_row,
    lloyd_oracle_sql,
    pagerank_oracle_sql,
)
from climateiq_pipelines_spark.plans import register
from climateiq_pipelines_spark.registry import load_table, widen_if_narrow
from climateiq_pipelines_spark.session import checkpoint

# ---------------------------------------------------------------- pagerank

_PR_R0 = PR_R0  # initial rank, micro-units (fixedpoint canonical home)
_PR_BASE = PR_BASE  # (1 - d) in micros, d = 0.85

# Stop when the L1 rank drift of a round is ≤ _PR_TOL_MICRO per node on
# average (0.1 rank-units). The drift contracts at the damping rate
# (measured ≈0.85×/round on the fixture: 1.49e6 → 2.5e5 micros/node
# over rounds 1→12 at sf0.01), so the rule stops at round 18 at
# sf0.001, sf0.01 and sf0.1 (pinned by tests/test_iterative_oracles.py).
_PR_TOL_MICRO = 100_000
_PR_MAX_ROUNDS = 40  # safety cap; the tolerance binds long before it


@register(
    "graph_pagerank_converged",
    oracle=pagerank_oracle_sql(
        f"SUM(ABS(r - prev_r)) OVER () <= COUNT(*) OVER () * {_PR_TOL_MICRO}",
        _PR_MAX_ROUNDS,
        with_rounds_col=True,
    ),
)
def graph_pagerank_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PAGERANK TO CONVERGENCE — graph_pagerank's per-round plan (same
    integer fixpoint arithmetic, same purchase graph) driven by a
    RESIDUAL STOPPING RULE instead of a fixed unroll: after each round,
    residual = Σ_nodes |Δrank_micro| (one 1-row aggregate action, the
    dedup_graph convergence-triple discipline); stop when it falls to
    ≤ 0.1 rank-units per node (residual ≤ n·100000), cap 40.

    This is the production story graph_pagerank's docstring promises:
    round count is DATA-DRIVEN (18 on the fixtures, emitted as
    n_rounds so the oracle checks it), every round's state is
    localCheckpoint-ed (lineage truncation — each round's action must
    not re-execute the whole history; the fixed-3 sibling instead
    relies on AQE stage reuse within its ONE action), and the static
    (edge, degree) subtree is checkpointed once up front because 2·N
    actions would otherwise re-run the edge build 2·N times.

    Scale: per round identical to graph_pagerank (2 shuffles, node-
    sized state); the additions are the per-round 1-row residual
    aggregate and the checkpoint IO — the price of a data-driven stop,
    linear in rounds, independent of graph size beyond the state
    itself. Cross-engine equivalence of the STOP ROUND follows from
    integer-exactness: both engines produce bit-identical ranks each
    round, hence identical residuals, hence the same stopping round —
    the round the oracle's recursive CTE stops at under the same rule."""
    # Shared lazy edge build (fixedpoint.bipartite_purchase_edges, one
    # home with graph_pagerank — round-13 review batch D); the
    # CHECKPOINT strategy stays here, where the per-round residual
    # actions make it necessary.
    _edges, sym, deg = bipartite_purchase_edges(spark, sf_dir)
    # Static per-round inputs, materialized ONCE: every round issues its
    # own residual action, so without the checkpoint the edge build
    # would re-execute once per action.
    # Checkpoints are LAZY (eager=False): each is materialized by the
    # next driver action that reads it (deg by the count below,
    # edge_deg by round 0's residual job, each round's ranks by its
    # residual .first()), so no separate blocking materialization job
    # runs per round (two jobs/round -> one, as in dedup_graph).
    edge_deg = checkpoint(
        sym.join(deg, sym["u"] == deg["node"])
        .select("u", "v", "deg"),
        eager=False,
    )
    deg = checkpoint(deg, eager=False)
    n_nodes = deg.count()

    ranks = deg.select("node", F.lit(_PR_R0).cast("long").alias("r"))
    n_rounds = 0
    for _ in range(_PR_MAX_ROUNDS):
        contribs = edge_deg.join(
            ranks, edge_deg["u"] == ranks["node"]
        ).select("v", F.expr("r div deg").alias("c"))
        new_ranks = checkpoint(
            contribs.groupBy(F.col("v").alias("node"))
            .agg(
                (F.lit(_PR_BASE) + F.expr("(sum(c) * 85) div 100")).alias(
                    "r"
                )
            ),
            eager=False,  # materialized by the residual job
        )
        # bounded driver action: ONE scalar row off the checkpointed
        # frames (the dedup_graph convergence-probe class).
        residual = (
            new_ranks.alias("a")
            .join(ranks.alias("b"), "node")
            .agg(F.sum(F.abs(F.col("a.r") - F.col("b.r"))).alias("l1"))
            .first()["l1"]
        )
        ranks = new_ranks
        n_rounds += 1
        if residual <= n_nodes * _PR_TOL_MICRO:
            break

    return ranks.join(deg.select("node", "deg"), "node").select(
        F.col("node").alias("node_id"),
        (F.col("node") % 2 == 1).alias("is_supplier"),
        F.col("deg").cast("long").alias("degree"),
        F.col("r").cast("long").alias("rank_micro"),
        F.lit(n_rounds).cast("int").alias("n_rounds"),
    )


# ----------------------------------------------------------------- k-means

# Stop when a round moves ≤ n/10 vectors (10%). Measured movement at
# sf0.01 from the label init (n=500): 294 → 78 → 35 → 18 → 18, i.e.
# 58.8% → 15.6% → 7.0% → 3.6% → 3.6% — a small stable core keeps
# oscillating between equidistant-ish centroids (movement never reaches
# 0, exactly why production k-means stops on a movement THRESHOLD, not
# movement zero), so the 10% rule stops after round 3 there with clear
# integer margin on both sides (350 ≤ 500 vs 780 > 500); it stops
# after round 3 at sf0.001 and round 4 at sf0.1 (pinned by
# tests/test_iterative_oracles.py).
# The 10% demo threshold is calibrated to stop mid-curve on the small
# fixture; production corpora use 0.1–1% with the identical loop.
_KM_TOL_DIV = 10
_KM_MAX_ROUNDS = 10


@register(
    "llm_kmeans_converged",
    oracle=lloyd_oracle_sql(
        "SUM(CASE WHEN cluster <> prev_cluster THEN 1 ELSE 0 END) OVER ()"
        f" * {_KM_TOL_DIV} <= COUNT(*) OVER ()",
        _KM_MAX_ROUNDS,
        with_rounds_col=True,
    ),
)
def llm_kmeans_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-MEANS TO CONVERGENCE — llm_kmeans_iterate's per-round Lloyd
    plan (exact 1e9 fixed-point means, 1e12 integer distances,
    deterministic argmin) driven by a MOVEMENT STOPPING RULE: after
    each re-assignment, moved = #vectors whose cluster changed (one
    1-row aggregate action); stop when moved ≤ n/10 (10% — the demo
    calibration, see _KM_TOL_DIV), cap 10. Movement-threshold (not
    movement-zero) is the production rule: exact-arithmetic Lloyd can
    2-cycle a small equidistant core forever (measured
    294 → 78 → 35 → 18 → 18 moves of n=500 at sf0.01 — the tail never
    reaches 0), so the rule stops at round 3 there, reported in the
    n_rounds column.

    Per-round state is localCheckpoint-ed (each round's movement action
    must not re-execute the full history — the fixed-3 sibling's
    single-action AQE-reuse trick does not apply once the loop reads a
    scalar per round), and cross-engine stop-round equivalence follows
    from the integer-exact state: identical assignments each round ⇒
    identical movement counts ⇒ identical stopping round.

    Oracle scope: the movement rule is n-PROPORTIONAL (moved ≤ n/10),
    so different scales stop at different rounds (3 at sf0.01, 4 at
    sf0.1). The oracle runs the same rule inside its recursive CTE, so
    its one text stops where the engine does at every scale and checks
    the full answer there.

    Scale per round: unchanged from llm_kmeans_iterate (k×64 broadcast
    centroids, one linear distance aggregate) + the 1-row movement
    aggregate and checkpoint IO. At billions of vectors this loop — not
    an unrolled plan — is the form that survives, which is exactly why
    it is registered surface and not just a docstring promise."""
    # r17: the same IN-ARRAY Lloyd round as llm_kmeans_iterate
    # (fixedpoint.lloyd_assign_cols — identical integers and
    # tie-break, zero data-sized shuffles per round; the only
    # per-round exchanges are the k×64-partial centroid aggregate and
    # the 1-row centroid collect). The per-round lazy checkpoint now
    # carries (vec_id, embedding, cluster, dist_fp) — the embedding
    # array rides the frame so no round re-reads the scan or joins
    # assignments back — and is materialized by the moved-count job,
    # exactly the old discipline. widen_if_narrow: the rounds are map
    # stages; the single-split fixture scan would otherwise run them
    # on one core (100 TB no-op).
    emb = widen_if_narrow(spark, load_table(spark, sf_dir, "embeddings"))
    n_vecs = emb.count()
    frame = checkpoint(emb.select(
        "vec_id",
        "embedding",
        F.col("label").alias("cluster"),
        F.lit(0).cast("long").alias("dist_fp"),
    ), eager=False)

    n_rounds = 0
    for _ in range(_KM_MAX_ROUNDS):
        centroids = (
            frame.select("cluster", F.posexplode("embedding").alias("pos", "x"))
            .groupBy(F.col("cluster").alias("c_id"), "pos")
            .agg(fixed_mean_1e9(F.col("x")).alias("c"))
        )
        cluster_col, dist_col = lloyd_assign_cols()
        cents_row = lloyd_centroid_row(centroids)
        new_frame = checkpoint(
            frame.crossJoin(F.broadcast(cents_row))
            .select("vec_id", "embedding", cluster_col, dist_col),
            eager=False,  # materialized by the moved count
        )
        moved = (
            new_frame.alias("a")
            .join(frame.alias("b"), "vec_id")
            .filter(F.col("a.cluster") != F.col("b.cluster"))
            .count()
        )
        frame = new_frame
        n_rounds += 1
        if moved * _KM_TOL_DIV <= n_vecs:
            break
    assign = frame

    return assign.groupBy(F.col("cluster").alias("cluster_id")).agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(F.sum("dist_fp").cast("double") / F.lit(1e12), 6).alias(
            "inertia"
        ),
        F.first(F.lit(n_rounds).cast("int")).alias("n_rounds"),
    )
