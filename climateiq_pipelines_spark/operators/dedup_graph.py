"""Near-duplicate CLUSTERING — the production step after pair
generation: near-dup pairs are edges, duplicates form connected
components, and each component keeps one canonical document. Added in
round 3; loaded after the driver's 50-entry correctness window
(plans.load_all) and covered by tools/driver_sim.py.

This is the repo's genuinely ITERATIVE operator (a driver loop of
DataFrame joins, converging on graph diameter), yet still fully
hash-checked: the DuckDB oracle computes the same components with a
recursive CTE, so the iterative Spark formulation is proven equivalent
to the declarative fixpoint on every fixture.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from climateiq_pipelines_spark.operators.llm import (
    _simhash60_pairs,
    _simhash60_sigs,
    _simhash60_sql_sig,
)
from climateiq_pipelines_spark.plans import register
from climateiq_pipelines_spark.registry import load_table
from climateiq_pipelines_spark.session import checkpoint

def connected_components_propagation(
    nodes: DataFrame, edges: DataFrame, node_col: str = "doc_id"
) -> DataFrame:
    """Min-label propagation to a fixpoint: returns (node_col, label)
    where label = min node id reachable from each node over the
    undirected edge set (a_id, b_id). Totality: every node appears,
    singletons label themselves. Lineage is truncated per round with
    localCheckpoint (cluster deployments: durable checkpoint).

    Each round is propagate ∪ keep → min per node: TWO shuffles (the
    edge join and the min aggregate) — the cheapest possible round,
    but the ROUND COUNT is the component diameter, which is
    data-shaped: a chain-shaped dup component at 100 TB needs O(n)
    rounds. ``connected_components`` (alternating star contraction,
    O(log n) rounds) is the registered production path; this form is
    kept as the independently-simple reference both are property-tested
    against (tests/test_properties.py) and as the better plan for
    graphs KNOWN to be clique-shaped (1-2 rounds, fewer shuffles per
    round). Convergence check: labels only ever DECREASE under
    min-propagation, so Σlabel is a strict potential function — the
    round sum (a one-row aggregate off the checkpointed frame, summed
    as decimal(38) so 10^9 nodes with 10^18 ids cannot overflow) is
    unchanged iff no label moved."""
    bi = edges.select(
        F.col("a_id").alias("src"), F.col("b_id").alias("dst")
    ).union(edges.select(F.col("b_id").alias("src"), F.col("a_id").alias("dst")))
    bi = checkpoint(bi, eager=True)

    labels = nodes.select(node_col, F.col(node_col).alias("label"))
    labels = checkpoint(labels, eager=True)
    prev_sum = None
    for _ in range(32):
        prop = bi.join(labels, bi.dst == F.col(node_col)).select(
            F.col("src").alias(node_col), F.col("label")
        )
        labels = checkpoint(
            prop.union(labels)
            .groupBy(node_col)
            .agg(F.min("label").alias("label")),
            eager=True,
        )
        # bounded driver action: ONE scalar row off the materialized
        # checkpoint (same class as the .count() convergence probes).
        round_sum = labels.agg(
            F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
        ).first()["s"]
        if round_sum == prev_sum:
            break
        prev_sum = round_sum
    else:
        raise RuntimeError("label propagation did not converge in 32 rounds")
    return labels


def connected_components(
    nodes: DataFrame, edges: DataFrame, node_col: str = "doc_id"
) -> DataFrame:
    """Connected components by ALTERNATING LARGE-STAR / SMALL-STAR
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond"): returns (node_col, label) where label = min node id
    reachable over the undirected edge set (a_id, b_id). Same contract
    as ``connected_components_propagation`` (totality: every node
    appears; singletons label themselves) and property-tested equal to
    it and to a union-find reference (tests/test_properties.py); the
    registered key llm_dedup_clusters hash-checks it against a
    recursive-CTE oracle.

    Why this is the registered 100 TB path (VERDICT r5 #3): each round
    CONTRACTS the graph toward component-minimum stars, converging in
    O(log n) rounds REGARDLESS of component shape, where propagation
    needs diameter rounds — a chain component makes diameter O(n). The
    per-round cost is higher (two groupBy+join+distinct passes vs one
    join+agg) but bounded by the shrinking edge set, and the round
    count is what kills wall-clock at scale.

    Round structure (edges kept oriented big→small, deduped):
    - large-star: every node links its strictly-LARGER neighbors to the
      min of its closed neighborhood — long tails hook onto small ids.
    - small-star: every node links its smaller neighbors (and itself)
      to the min of its closed neighborhood — stars flatten.
    Fixpoint = the edge set is exactly the set of (node, component-min)
    stars. Convergence detection: a cheap (count, Σu, Σv) triple per
    round (one bounded driver row, decimal(38) sums so 10^9 nodes
    cannot overflow), CONFIRMED by an exact set-difference check before
    breaking (the triple alone is necessary, not sufficient); lineage
    is truncated per round with localCheckpoint (cluster deployments:
    durable checkpoint)."""
    # Orient big→small, dedup, drop self-loops.  Checkpoints here and
    # per round are LAZY: each round's convergence-stat .first() is the
    # action that materializes the round's edge set, so one job per
    # round does both, where eager=True paid a separate blocking
    # materialization job before every stats read (measured at
    # sf0.1: 4.04 s → 3.55 s warm, 7.31 s → 4.49 s cold for the full
    # loop; answers identical).
    raw = edges.select(F.col("a_id").alias("u"), F.col("b_id").alias("v"))
    e = checkpoint(
        raw.where(F.col("u") != F.col("v"))
        .select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .distinct(),
        eager=False,
    )
    prev_stat = None
    prev_e = None
    for _ in range(32):
        # LARGE-STAR: for each node x, link every strictly-larger
        # neighbor to min(Γ(x) ∪ {x}).  Emitted edges (v, m) satisfy
        # v > x ≥ m, so the big→small orientation is preserved.
        nbrs = e.select("u", "v").union(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = (
            nbrs.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("mn", F.col("u")).alias("m"))
        )
        # No .distinct() between the stars (round-10 A/B): the
        # downstream min-aggregate is duplicate-insensitive and its
        # partial (map-side) aggregation collapses duplicates without
        # a dedicated shuffle, while the round's FINAL distinct still
        # canonicalizes the state — measured 4.18-4.34 s -> 4.04 s
        # warm at sf0.1 (BASELINE.md round-10), answers identical.
        e = (
            nbrs.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        # SMALL-STAR: edges are oriented u > v, so Γ⁻(u) is u's full
        # smaller neighborhood; link each of them AND u itself to
        # m = min(Γ⁻(u)).  (x, m) has x ≥ m with x = m only for the
        # min itself — dropped as a self-loop.
        mins2 = e.groupBy("u").agg(F.min("v").alias("m"))
        e = checkpoint(
            e.join(mins2, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(mins2.select(F.col("u"), F.col("m").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct(),
            eager=False,  # materialized by the stats job
        )
        # Bounded driver action: one scalar row — this job ALSO
        # materializes the round's lazy checkpoint (see loop header).
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("u").cast("decimal(38,0)")).alias("su"),
            F.sum(F.col("v").cast("decimal(38,0)")).alias("sv"),
        ).first()
        stat = (row["n"], row["su"], row["sv"])
        if stat == prev_stat and prev_e is not None:
            # Exact confirmation: equal counts + empty difference ⇒
            # identical edge sets (both sides are distinct sets).
            if prev_e.exceptAll(e).limit(1).count() == 0:
                break
        prev_stat, prev_e = stat, e
    else:
        raise RuntimeError("star contraction did not converge in 32 rounds")
    # At the fixpoint e is a disjoint star set (u → component min);
    # component minima and isolated nodes label themselves.
    heads = e.groupBy("u").agg(F.min("v").alias("label")).select(
        F.col("u").alias(node_col), "label"
    )
    return nodes.select(node_col).join(heads, node_col, "left").select(
        node_col,
        F.coalesce("label", F.col(node_col)).alias("label"),
    )


# Min-label propagation as one recursive CTE: round 0 labels every doc
# with itself; each round takes the least label over a node and its
# neighbours, and ``done`` flags the round in which no label changed.
# Labels only decrease, so the recursion ends by construction (within
# the graph diameter) and needs no cap; the answer is the done round.
# Each round is one label per node (linear, unlike the O(Σ size²)
# pairs of a reachability closure).  ``bi`` is MATERIALIZED, or DuckDB
# re-evaluates the simhash edge build every round.
_CLUSTER_ORACLE = f"""
    WITH RECURSIVE
    {_simhash60_sql_sig()},
    edges AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id
      FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.sig, b.sig)) <= 3
    ),
    bi AS MATERIALIZED (
      SELECT a_id AS src, b_id AS dst FROM edges
      UNION ALL
      SELECT b_id, a_id FROM edges
    ),
    lbl(node, label, done) AS (
      SELECT doc_id, doc_id, false FROM documents
      UNION ALL
      SELECT node, label, bool_and(label = prev_label) OVER () FROM (
        SELECT l.node,
               LEAST(l.label, COALESCE(MIN(nl.label), l.label)) AS label,
               l.label AS prev_label
        FROM lbl l
        LEFT JOIN bi ON bi.src = l.node
        LEFT JOIN lbl nl ON nl.node = bi.dst
        WHERE NOT l.done
        GROUP BY l.node, l.label
      )
    )
    SELECT node AS doc_id, label AS cluster_id,
           CAST(COUNT(*) OVER (PARTITION BY label) AS BIGINT)
             AS cluster_size,
           node = label AS is_canonical
    FROM lbl WHERE done
"""


@register("llm_dedup_clusters", oracle=_CLUSTER_ORACLE)
def llm_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over simhash near-dup edges (Hamming ≤ 3 on
    the 60-bit token simhash), by ALTERNATING STAR CONTRACTION (r6;
    was min-label propagation — VERDICT r5 #3):

    1. Edges from the banded candidate generator (_simhash60_pairs —
       recall exactly 1.0 for the ≤3 threshold, never all-pairs).
    2. connected_components contracts the edge set toward
       component-minimum stars in O(log n) rounds regardless of
       component shape (see its docstring); every doc appears in the
       output — singletons label themselves (totality matters: an
       un-clustered doc must not vanish).
    3. Output one row per DOCUMENT: (doc_id, cluster_id = component min
       id, cluster_size, is_canonical = keeps-the-cluster).

    The 32-round cap is a safety net that raises rather than emitting a
    half-converged clustering; the propagation form survives as
    connected_components_propagation (the property-test reference, and
    the cheaper plan when components are known clique-shaped).

    The oracle is a DuckDB RECURSIVE CTE computing the identical
    fixpoint, so the iterative engine path is value-hash-proven — the
    repo's demonstration that 'iterative algorithm' need not mean
    'rows-only'."""
    docs = load_table(spark, sf_dir, "documents")
    # dedup=False (r16): connected_components' first step is its own
    # orient+distinct, so the pairs-level distinct was a second full
    # shuffle of the key's largest relation — let the banded multiset
    # flow straight into that single canonicalizing distinct.
    edges = _simhash60_pairs(_simhash60_sigs(docs), dedup=False).select(
        "a_id", "b_id"
    )
    labels = connected_components(
        docs.select("doc_id"), edges, node_col="doc_id"
    )

    wc = W.partitionBy("cluster_id")
    return labels.select(
        "doc_id", F.col("label").alias("cluster_id")
    ).select(
        "doc_id",
        "cluster_id",
        F.count(F.lit(1)).over(wc).alias("cluster_size"),
        (F.col("doc_id") == F.col("cluster_id")).alias("is_canonical"),
    )
