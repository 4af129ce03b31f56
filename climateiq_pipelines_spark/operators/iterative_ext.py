"""Round-7 convergence-driven iteration (VERDICT r6 #7): the
data-driven-round-count variants of the two iterative keys whose
registered forms fix their round count for hash-checkability
(`graph_pagerank`, `llm_kmeans_iterate`). Production iterative jobs
never run "exactly 3 rounds" — they iterate the SAME per-round plan to
a residual threshold; these keys register that production story as
first-class checked surface.

Oracle strategy (documented equivalence): a stopping rule over
integer-exact per-round state is itself engine-exact — both engines
compute bit-identical rounds, therefore bit-identical residuals,
therefore the SAME stopping round. The DuckDB oracle unrolls the
fixpoint to the stopping round the rule reaches on the sf0.01 fixture
(measured, constants below) and pins that count in an `n_rounds`
output column — so if the Spark loop ever stopped at a different round
the artifact hash-mismatches attributably (wrong n_rounds AND wrong
state), rather than silently passing.

Registered last in plans.load_all — after the round-7 driver window.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from climateiq_pipelines_spark.functions.fixedpoint import (
    PR_BASE,
    PR_R0,
    bipartite_purchase_edges,
    lloyd_assign_cols,
    lloyd_centroid_row,
    lloyd_iter_sql,
    pagerank_oracle_sql,
)
from climateiq_pipelines_spark.plans import register
from climateiq_pipelines_spark.registry import load_table, widen_if_narrow
from climateiq_pipelines_spark.session import checkpoint

# VERDICT r9 task #2: memoized stop-round solutions per (key, sf_dir)
# so sweep tooling + tests can call the oracle builders repeatedly
# without re-running the DuckDB fixpoint loop each time.
_STOP_ROUND_CACHE: dict[tuple[str, str], int] = {}

# VERDICT r10 task #4: COMMITTED memo of solved stopping rounds per
# fixture-dir BASENAME, consulted before the in-process cache and the
# DuckDB solve — repeat sweeps (fresh processes) skip the fixpoint
# loop entirely.  Staleness protection: the solvers stay the source of
# truth, and tests/test_oracle_builders.py re-derives one SF of every
# solver each run (via the _solve_* functions, which never consult
# this map) and fails loudly if a fixture change moves a stopping
# round.  An sf_dir whose basename is absent here still solves live.
SOLVED_STOP_ROUNDS: dict[tuple[str, str], int] = {
    ("pagerank", "sf0.001"): 18,
    ("pagerank", "sf0.01"): 18,
    ("pagerank", "sf0.1"): 18,
    ("kmeans", "sf0.001"): 3,
    ("kmeans", "sf0.01"): 3,
    ("kmeans", "sf0.1"): 4,
}


# The memos describe the driver-generated fixtures under THIS root
# only (TESTDATA.md); a user pointing sweep tooling at their own
# differently-generated /tmp/.../sf0.1 must get a live solve, not the
# canonical fixture's depth (a wrong memoized depth would surface as
# an unattributable engine MISMATCH).  ADVICE r11: the memo applies
# only to DIRECT children of the root — a regenerated
# /root/testdata/experiments/sf0.1 shares a basename with the canonical
# fixture but not its data, so a subtree match would hand it the wrong
# depth.
FIXTURE_ROOT = "/root/testdata"


def _memo_rounds(kind: str, sf_dir: str) -> int | None:
    real = os.path.realpath(sf_dir)
    if os.path.dirname(real) != FIXTURE_ROOT:
        return None
    return SOLVED_STOP_ROUNDS.get((kind, os.path.basename(real)))

# ---------------------------------------------------------------- pagerank

_PR_R0 = PR_R0  # initial rank, micro-units (fixedpoint canonical home)
_PR_BASE = PR_BASE  # (1 - d) in micros, d = 0.85

# Stop when the L1 rank drift of a round is ≤ _PR_TOL_MICRO per node on
# average (0.1 rank-units). The drift contracts at the damping rate
# (measured ≈0.85×/round on the fixture: 1.49e6 → 2.5e5 micros/node
# over rounds 1→12 at sf0.01), so the rule stops at round
# _PR_ROUNDS_SF001 there — the count the oracle unrolls to.
_PR_TOL_MICRO = 100_000
_PR_MAX_ROUNDS = 40  # safety cap; the tolerance binds long before it
_PR_ROUNDS_SF001 = 18  # measured stopping round at sf0.01


def _pagerank_converged_oracle(n_rounds: int) -> str:
    """fixedpoint.pagerank_oracle_sql with the pinned n_rounds column
    (ONE home shared with graph_ext — round-13 review batch D; see the
    module docstring for why a fixed unroll is a faithful oracle for a
    converging loop)."""
    return pagerank_oracle_sql(n_rounds, with_rounds_col=True)


def _pagerank_stop_round(sf_dir: str) -> int:
    """Stopping round for this sf_dir: committed memo (by fixture
    basename) -> in-process cache -> live DuckDB solve."""
    memo = _memo_rounds("pagerank", sf_dir)
    if memo is not None:
        return memo
    got = _STOP_ROUND_CACHE.get(("pagerank", sf_dir))
    if got is not None:
        return got
    n_rounds = _solve_pagerank_rounds(sf_dir)
    _STOP_ROUND_CACHE[("pagerank", sf_dir)] = n_rounds
    return n_rounds


def _solve_pagerank_rounds(sf_dir: str) -> int:
    """Run the engine's residual stopping rule to fixpoint in DuckDB
    (integer-exact state ⇒ identical residuals ⇒ identical stopping
    round — module docstring) so the oracle builder can unroll to the
    right depth for ANY sf_dir.  Incremental temp tables, not prefix
    re-execution: linear in rounds.  Never consults the memo — this is
    the re-derivation path the staleness test drives."""
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"""
        CREATE TEMP TABLE sym AS
        WITH edges AS (
          SELECT DISTINCT o_custkey * 2 AS u, l_suppkey * 2 + 1 AS v
          FROM read_parquet('{sf_dir}/lineitem.parquet') li
          JOIN read_parquet('{sf_dir}/orders.parquet') o
            ON li.l_orderkey = o.o_orderkey
        )
        SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges
        """
    )
    con.execute(
        "CREATE TEMP TABLE deg AS"
        " SELECT u AS node, COUNT(*) AS deg FROM sym GROUP BY u"
    )
    n_nodes = con.execute("SELECT COUNT(*) FROM deg").fetchone()[0]
    con.execute(
        f"CREATE TEMP TABLE r_prev AS"
        f" SELECT node, CAST({_PR_R0} AS BIGINT) AS r FROM deg"
    )
    n_rounds = _PR_MAX_ROUNDS
    for rnd in range(1, _PR_MAX_ROUNDS + 1):
        con.execute(
            f"""
            CREATE OR REPLACE TEMP TABLE r_next AS
            SELECT s.v AS node,
                   {_PR_BASE} + (SUM(p.r // d.deg) * 85) // 100 AS r
            FROM sym s
            JOIN r_prev p ON p.node = s.u
            JOIN deg d ON d.node = s.u
            GROUP BY s.v
            """
        )
        residual = con.execute(
            "SELECT SUM(ABS(a.r - b.r))"
            " FROM r_next a JOIN r_prev b USING (node)"
        ).fetchone()[0]
        con.execute(
            "CREATE OR REPLACE TEMP TABLE r_prev AS SELECT * FROM r_next"
        )
        if residual <= n_nodes * _PR_TOL_MICRO:
            n_rounds = rnd
            break
    con.close()
    return n_rounds


def _pagerank_oracle_for(sf_dir: str) -> str:
    """SF-parameterized oracle (plans.ORACLE_BUILDERS): solve the
    stopping round for this sf_dir, then emit the ordinary unrolled
    text.  At sf0.01 this reproduces the static ORACLES entry exactly
    (pinned by tests/test_oracle_builders.py)."""
    return _pagerank_converged_oracle(_pagerank_stop_round(sf_dir))


@register(
    "graph_pagerank_converged",
    oracle=_pagerank_converged_oracle(_PR_ROUNDS_SF001),
    oracle_sf="sf0.01",  # ADVICE r7: unroll count measured on sf0.01
    oracle_builder=_pagerank_oracle_for,  # any-SF sweep path (r9 task #2)
)
def graph_pagerank_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PAGERANK TO CONVERGENCE — graph_pagerank's per-round plan (same
    integer fixpoint arithmetic, same purchase graph) driven by a
    RESIDUAL STOPPING RULE instead of a fixed unroll: after each round,
    residual = Σ_nodes |Δrank_micro| (one 1-row aggregate action, the
    dedup_graph convergence-triple discipline); stop when it falls to
    ≤ 0.1 rank-units per node (residual ≤ n·100000), cap 40.

    This is the production story graph_pagerank's docstring promises:
    round count is DATA-DRIVEN (18 on the sf0.01 fixture, emitted as
    n_rounds so the oracle pins it), every round's state is
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
    round, hence identical residuals, hence the same stopping round
    (measured 18 at sf0.01; the oracle unrolls exactly 18)."""
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
# movement zero), so the 10% rule stops after round _KM_ROUNDS_SF001
# with clear integer margin on both sides (350 ≤ 500 vs 780 > 500).
# The 10% demo threshold is calibrated to stop mid-curve on the small
# fixture; production corpora use 0.1–1% with the identical loop.
_KM_TOL_DIV = 10
_KM_MAX_ROUNDS = 10
_KM_ROUNDS_SF001 = 3  # measured stopping round at sf0.01


# One unrolled Lloyd iteration — ONE home (fixedpoint.lloyd_iter_sql),
# shared with ml_iter (round-13 review batch D).
_kmeans_iter_sql = lloyd_iter_sql


def _kmeans_converged_oracle(n_rounds: int) -> str:
    """The unrolled k-means oracle generalized to ``n_rounds`` rounds
    (the pagerank twin's _pagerank_converged_oracle shape)."""
    return f"""
    WITH exploded AS (
      SELECT vec_id, label,
             generate_subscripts(embedding, 1) AS pos,
             unnest(embedding) AS x
      FROM embeddings
    ),
    assign0 AS (
      SELECT vec_id, label AS cluster, CAST(0 AS BIGINT) AS dist_fp
      FROM embeddings
    ),
    {", ".join(_kmeans_iter_sql(i) for i in range(1, n_rounds + 1))}
    SELECT cluster AS cluster_id,
           COUNT(*) AS n_vecs,
           round(CAST(SUM(dist_fp) AS DOUBLE) / 1000000000000.0, 6)
             AS inertia,
           CAST({n_rounds} AS INTEGER) AS n_rounds
    FROM assign{n_rounds}
    GROUP BY cluster
"""


def _kmeans_stop_round(sf_dir: str) -> int:
    """Stopping round for this sf_dir: committed memo (by fixture
    basename) -> in-process cache -> live DuckDB solve."""
    memo = _memo_rounds("kmeans", sf_dir)
    if memo is not None:
        return memo
    got = _STOP_ROUND_CACHE.get(("kmeans", sf_dir))
    if got is not None:
        return got
    n_rounds = _solve_kmeans_rounds(sf_dir)
    _STOP_ROUND_CACHE[("kmeans", sf_dir)] = n_rounds
    return n_rounds


def _solve_kmeans_rounds(sf_dir: str) -> int:
    """Run the engine's movement stopping rule (moved ≤ n/_KM_TOL_DIV,
    cap _KM_MAX_ROUNDS) to fixpoint in DuckDB — same arithmetic as the
    unrolled oracle CTEs, incremental temp tables instead of prefix
    re-execution.  Integer-exact per-round state ⇒ identical movement
    counts ⇒ identical stopping round (module docstring).  Never
    consults the memo — the staleness test's re-derivation path."""
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"""
        CREATE TEMP TABLE exploded AS
        SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
               unnest(embedding) AS x
        FROM read_parquet('{sf_dir}/embeddings.parquet')
        """
    )
    con.execute(
        f"CREATE TEMP TABLE assign_prev AS SELECT vec_id, label AS cluster"
        f" FROM read_parquet('{sf_dir}/embeddings.parquet')"
    )
    n_vecs = con.execute("SELECT COUNT(*) FROM assign_prev").fetchone()[0]
    n_rounds = _KM_MAX_ROUNDS
    for rnd in range(1, _KM_MAX_ROUNDS + 1):
        con.execute(
            """
            CREATE OR REPLACE TEMP TABLE centroids AS
            SELECT a.cluster AS c_id, e.pos,
                   CAST(SUM(CAST(floor(CAST(e.x AS DOUBLE) * 1000000000)
                                 AS BIGINT)) AS DOUBLE)
                     / 1000000000.0 / COUNT(*) AS c
            FROM exploded e JOIN assign_prev a USING (vec_id)
            GROUP BY a.cluster, e.pos
            """
        )
        con.execute(
            """
            CREATE OR REPLACE TEMP TABLE assign_next AS
            SELECT vec_id, c_id AS cluster FROM (
              SELECT vec_id, c_id,
                     row_number() OVER (PARTITION BY vec_id
                                        ORDER BY dist_fp ASC, c_id) AS rn
              FROM (
                SELECT e.vec_id, c.c_id,
                       SUM(CAST(floor((CAST(e.x AS DOUBLE) - c.c)
                                      * (CAST(e.x AS DOUBLE) - c.c)
                                      * 1000000000000) AS BIGINT)) AS dist_fp
                FROM exploded e JOIN centroids c ON e.pos = c.pos
                GROUP BY e.vec_id, c.c_id
              )
            ) WHERE rn = 1
            """
        )
        moved = con.execute(
            "SELECT COUNT(*) FROM assign_next a JOIN assign_prev b"
            " USING (vec_id) WHERE a.cluster <> b.cluster"
        ).fetchone()[0]
        con.execute(
            "CREATE OR REPLACE TEMP TABLE assign_prev AS"
            " SELECT * FROM assign_next"
        )
        if moved * _KM_TOL_DIV <= n_vecs:
            n_rounds = rnd
            break
    con.close()
    return n_rounds


def _kmeans_oracle_for(sf_dir: str) -> str:
    """SF-parameterized oracle (plans.ORACLE_BUILDERS): solve the
    stopping round for this sf_dir, then emit the ordinary unrolled
    text.  At sf0.01 this reproduces the static ORACLES entry exactly
    (pinned by tests/test_oracle_builders.py)."""
    return _kmeans_converged_oracle(_kmeans_stop_round(sf_dir))


@register(
    "llm_kmeans_converged",
    oracle=_kmeans_converged_oracle(_KM_ROUNDS_SF001),
    oracle_sf="sf0.01",  # ADVICE r7: unroll count measured on sf0.01
    oracle_builder=_kmeans_oracle_for,  # any-SF sweep path (r9 task #2)
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
    reaches 0), so the rule stops at round 3 there, pinned by the
    n_rounds column the oracle hardcodes.

    Per-round state is localCheckpoint-ed (each round's movement action
    must not re-execute the full history — the fixed-3 sibling's
    single-action AQE-reuse trick does not apply once the loop reads a
    scalar per round), and cross-engine stop-round equivalence follows
    from the integer-exact state: identical assignments each round ⇒
    identical movement counts ⇒ identical stopping round.

    Oracle scope: the STATIC ORACLES text pins the SF0.01 stopping
    round (3) for the driver contract; the movement rule is
    n-PROPORTIONAL (moved ≤ n/10) so other scales stop at other rounds
    (measured: 4 at sf0.1). Since round 10 the registered
    oracle_builder (_kmeans_oracle_for) closes that gap: it solves the
    stopping rule to fixpoint in DuckDB for the TARGET sf_dir and
    unrolls the oracle to that depth, so sweeps at any SF get a full
    value check (VERDICT r9 task #2) — the former EXPECTED_SCOPE_LIMITED
    waiver in tools/parity_sweep.py is deleted.

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
            .agg(
                (
                    F.sum(F.floor(F.col("x").cast("double") * 1_000_000_000))
                    .cast("double")
                    / F.lit(1e9)
                    / F.count(F.lit(1))
                ).alias("c")
            )
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
