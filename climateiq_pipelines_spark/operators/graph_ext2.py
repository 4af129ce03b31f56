"""Round-7 graph-analytics extension #2: TRIANGLE COUNTING over the
part co-purchase graph — the third canonical distributed-graph shape
beside component labelling (`llm_dedup_clusters`) and centrality
(`graph_pagerank`). Triangle counts drive clustering-coefficient /
community-density features and are the textbook case for the
degree-orientation trick (Suri & Vassilvitskii 2011, "Counting
Triangles and the Curse of the Last Reducer").

Registered after the driver's 50-entry certification window
(plans.load_all); covered by tools/driver_sim.py; rotation-targeted for
round 8+.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from climateiq_pipelines_spark.plans import register
from climateiq_pipelines_spark.registry import load_table
from climateiq_pipelines_spark.session import checkpoint, memo

# Per-node triangle participation is orientation-invariant, so the
# oracle uses the SIMPLEST correct formulation (id-ordered u<v<w edge
# closure); the engine runs the degree-oriented plan — hash-matching
# proves the optimization changes nothing.
_TRIANGLE_ORACLE = """
    WITH e0 AS (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ),
    ed AS (
      SELECT DISTINCT a.p AS u, b.p AS v
      FROM e0 a JOIN e0 b ON a.o = b.o AND a.p < b.p
    ),
    tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM ed e1
      JOIN ed e2 ON e2.u = e1.v
      JOIN ed e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    pernode AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
      FROM (
        SELECT a AS node FROM tri
        UNION ALL SELECT b AS node FROM tri
        UNION ALL SELECT c AS node FROM tri
      ) GROUP BY node
    ),
    deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS degree
      FROM (SELECT u AS node FROM ed UNION ALL SELECT v AS node FROM ed)
      GROUP BY node
    )
    SELECT d.node AS part_id, d.degree,
           COALESCE(p.n_triangles, 0) AS n_triangles,
           CASE WHEN d.degree >= 2
                THEN (2000000 * COALESCE(p.n_triangles, 0))
                     // (d.degree * (d.degree - 1))
                ELSE 0 END AS clustering_micros
    FROM deg d LEFT JOIN pernode p ON p.node = d.node
"""


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The part co-purchase edge list (u < v, distinct), shared by the
    triangle and label-propagation keys — checkpointed because every
    consumer reads it several times; memoized because both keys (and
    both their rounds) want the same frame until the next release
    (rebuilding the pair relation costs ~2.5 s per key at sf0.1).

    Pairs are generated IN-ARRAY per order —
    groupBy(order) collects the sorted distinct part set and a nested
    transform emits its u < v combinations — replacing the
    (o, p)-distinct + self-join-on-o form: one order-keyed exchange
    instead of a pair-distinct exchange PLUS a self-join, with the
    final (u, v) distinct unchanged (identical multiset going into it
    — the combinations of an order's distinct part set ARE its
    distinct p < p2 pairs; A/B at sf0.1: 1.51 s → 1.26 s min-of-4,
    diff = 0 rows both directions). Soundness bound: the per-order
    pair array is quadratic in the order's distinct-part count, which
    this schema bounds at 7 lineitems/order at every SF (TPC-H
    construction) — ≤ 21 structs per row; for an unbounded group key
    the self-join form distributes the same quadratic and is the
    right fallback (recorded trade, not a silent cap)."""
    return memo("copurchase_edges", sf_dir, lambda: _build_copurchase_edges(spark, sf_dir))


def _build_copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    parts = (
        li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .groupBy("o")
        .agg(F.sort_array(F.collect_set("p")).alias("ps"))
    )
    return checkpoint(
        parts.select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, (x, i) ->"
                    " transform(slice(ps, i + 2, size(ps)),"
                    " y -> struct(x as u, y as v))))"
                )
            ).alias("e")
        )
        .select("e.u", "e.v")
        .distinct()
    )


def _oriented_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-oriented co-purchase edges (s, t): each undirected edge
    oriented from its lower-(degree, id) endpoint to the higher (Suri &
    Vassilvitskii 2011), bounding every out-neighborhood at O(sqrt m).
    Checkpointed because the triangle key reads it three times
    (adjacency build + both endpoint joins); memoized so the checkpoint
    write is paid once per release, not on every call."""
    return memo("oriented_edges", sf_dir, lambda: _build_oriented_edges(spark, sf_dir))


def _build_oriented_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    ed = _copurchase_edges(spark, sf_dir)
    deg = (
        ed.select(F.col("u").alias("node"))
        .unionAll(ed.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    # The degree relation is |V| x 16B — broadcast both joins only while
    # that fits (the hint bypasses
    # autoBroadcastJoinThreshold, so an ungated broadcast pins the
    # relation on every executor at ANY |V|); beyond the bound the
    # joins fall back to shuffles, the correct 10^9-node answer.
    du = deg.select(F.col("node").alias("u"), F.col("degree").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("degree").alias("dv"))
    # The gate's count is memoized with the frame; the gate itself stays.
    if memo("gate:oriented_deg", sf_dir, deg.count) <= 4_000_000:
        du, dv = F.broadcast(du), F.broadcast(dv)
    return checkpoint(
        ed.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.struct(F.col("u").alias("s"), F.col("v").alias("t")),
            )
            .otherwise(F.struct(F.col("v").alias("s"), F.col("u").alias("t")))
            .alias("e")
        )
        .select(F.col("e.s").alias("s"), F.col("e.t").alias("t"))
    )


@register("graph_triangle_count", oracle=_TRIANGLE_ORACLE)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRIANGLE COUNT + local clustering coefficient per node of the
    part co-purchase graph (parts are adjacent when some order contains
    both): for each part, its degree, the number of triangles through
    it, and the local clustering coefficient 2T/(d(d-1)) in integer
    micros — the density features behind community detection and
    recommendation neighborhoods.

    Plan (engine side): DEGREE ORIENTATION (Suri & Vassilvitskii 2011)
    — each undirected edge is oriented from its lower-(degree, id)
    endpoint to the higher, so every out-neighborhood has size
    O(sqrt(m)) on any graph (arboricity bound). Triangles are then
    found by ADJACENCY INTERSECTION, not wedge listing: collect each
    node's sorted out-neighbor array (bounded by the orientation),
    join it onto both endpoints of every oriented edge (s, t), and
    intersect — the common out-neighbors w close triangles (s, t, w),
    each found exactly once at its orientation-minimal edge. The
    wedge-join formulation materializes Σ outdeg² rows (41M at sf0.1
    on this dense co-purchase graph — measured 24 s); the intersection
    plan's biggest relation is the EDGE list plus one row per actual
    triangle (1.9M), and the intersection itself is a codegen'd
    array_intersect over ≤O(sqrt m) arrays. The edge list is
    localCheckpoint'd once: five downstream consumers (degree, both
    orientation joins, adjacency, scoring) must not each re-run the
    order-pair self-join.

    Per-node credit without exploding s/t: an edge (s, t) with k
    common out-neighbors contributes k triangles to BOTH s and t and
    1 to each common neighbor w — two aggregate streams of |E| rows
    plus one explode of exactly the triangle count.

    Exactness: counts are integers; the coefficient is integer DIV in
    micros — bit-identical cross-engine. The oracle deliberately runs
    the naive id-ordered closure: hash-equality proves the oriented
    intersection plan loses/duplicates nothing.
    """
    # Orientation + checkpoint live in _oriented_edges (session-
    # memoized; ADVICE r8 flagged the previous inline duplicate of
    # that block as drift-prone dead-code bait).  The degree relation
    # is recomputed here from the memoized checkpointed edge list —
    # one cheap |E|→|V| aggregation, no second checkpoint.
    ed = _copurchase_edges(spark, sf_dir)
    deg = (
        ed.select(F.col("u").alias("node"))
        .unionAll(ed.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    oriented = _oriented_edges(spark, sf_dir)
    # Sorted out-adjacency per node (array length <= O(sqrt m) by the
    # orientation bound), joined onto both edge endpoints; the sorted
    # collect is deterministic, and array_intersect over the two
    # distinct-element arrays lists exactly the closing vertices.
    adj = oriented.groupBy(F.col("s").alias("node")).agg(
        F.sort_array(F.collect_list("t")).alias("nbrs")
    )
    # The adjacency broadcast's TRUE payload is sum-of-out-degrees
    # longs = |oriented edges| x 8B, NOT |V| (round-12 review: the old
    # part-count gate admitted multi-hundred-MB broadcasts — at sf1,
    # |V|=200k passes while the co-purchase graph holds millions of
    # edges, and the F.broadcast hint BYPASSES
    # autoBroadcastJoinThreshold, so both endpoint joins would pin the
    # oversized relation on every executor). Gate on the oriented edge
    # count itself — `oriented` is checkpointed, so the count is a
    # cheap aggregate over materialized blocks. Broadcasting removes
    # the only two edge-list shuffles in the scoring stage (measured
    # 11.3 s -> see bench); beyond the bound the plan falls back to
    # plain shuffle joins, which is the correct 10^9-edge answer.
    # Memoized until the next release: the scalar is deterministic for a
    # fixture, so repeated calls pay the probe once.
    n_directed = memo("gate:triangle_oriented", sf_dir, oriented.count)
    if n_directed <= 4_000_000:  # ~32 MB of longs before hash overhead
        adj = F.broadcast(adj)
    scored = (
        oriented.join(
            adj.select(F.col("node").alias("s"), F.col("nbrs").alias("sn")),
            "s",
        )
        .join(
            adj.select(F.col("node").alias("t"), F.col("nbrs").alias("tn")),
            "t",
        )
        .select(
            "s",
            "t",
            F.array_intersect(F.col("sn"), F.col("tn")).alias("common"),
        )
        .select("s", "t", "common", F.size("common").cast("long").alias("k"))
        .filter(F.col("k") > 0)
    )
    pernode = (
        scored.select(F.col("s").alias("node"), F.col("k").alias("n"))
        .unionAll(scored.select(F.col("t").alias("node"), F.col("k").alias("n")))
        .unionAll(
            scored.select(
                F.explode("common").alias("node"), F.lit(1).cast("long").alias("n")
            )
        )
        .groupBy("node")
        .agg(F.sum("n").cast("long").alias("n_triangles"))
    )
    return (
        deg.join(pernode, "node", "left")
        .withColumn(
            "n_triangles",
            F.coalesce(F.col("n_triangles"), F.lit(0).cast("long")),
        )
        .select(
            F.col("node").alias("part_id"),
            "degree",
            "n_triangles",
            # exact int64 division (div, not /): bit-identical to the
            # oracle's // at any magnitude, no double rounding anywhere
            F.when(
                F.col("degree") >= 2,
                F.expr(
                    "(2000000 * n_triangles) div (degree * (degree - 1))"
                ),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("clustering_micros"),
        )
    )


# --- graph_label_propagation -------------------------------------------
_LPA_ROUNDS = 3


def _lpa_oracle() -> str:
    stages = []
    prev = "l0"
    for r in range(1, _LPA_ROUNDS + 1):
        stages.append(
            f"""c{r} AS (
      SELECT s.v AS node, p.label, COUNT(*) AS n
      FROM sym s JOIN {prev} p ON p.node = s.u
      GROUP BY s.v, p.label
    ),
    l{r} AS (
      SELECT node, label FROM (
        SELECT node, label,
               row_number() OVER (PARTITION BY node
                                  ORDER BY n DESC, label) AS rk
        FROM c{r}
      ) WHERE rk = 1
    )"""
        )
        prev = f"l{r}"
    joined = ",\n    ".join(stages)
    return f"""
    WITH e0 AS (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ),
    ed AS (
      SELECT DISTINCT a.p AS u, b.p AS v
      FROM e0 a JOIN e0 b ON a.o = b.o AND a.p < b.p
    ),
    sym AS (SELECT u, v FROM ed UNION ALL SELECT v AS u, u AS v FROM ed),
    l0 AS (SELECT DISTINCT u AS node, u AS label FROM sym),
    {joined},
    comm AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS community_size
             FROM {prev} GROUP BY label)
    SELECT f.node AS part_id, CAST(f.label AS BIGINT) AS label,
           c.community_size
    FROM {prev} f JOIN comm c ON c.label = f.label
    """


@register("graph_label_propagation", oracle=_lpa_oracle())
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LABEL PROPAGATION community detection (Raghavan et al. 2007)
    over the part co-purchase graph — the fourth canonical iterative
    graph shape beside components, centrality, and triangles: 3
    synchronous rounds where every node adopts its neighborhood's
    majority label (ties broken toward the smaller label — the
    deterministic variant; the paper's random tie-break is what makes
    vanilla LPA unreproducible, so production pipelines pin exactly
    this ordering). Labels start as node ids. Output: each part's
    community label after round {_LPA_ROUNDS} and that community's
    size.

    Exactness: labels and counts are integers; the per-node argmax is
    a (count DESC, label ASC) row_number — a total order, identical
    cross-engine; 3 rounds compose bit-identically (the
    graph_pagerank unrolled-fixpoint contract).

    Plan: per round ONE join (symmetric edges x labels — the label
    relation is |V| rows, broadcast-able at any realistic scale) + one
    (node, label) hash aggregate + one max_by argmax aggregate on node
    (r16 optimization: was a row_number window — max_by over
    struct(n, -label) is the identical (count DESC, label ASC) total
    order, runs as ObjectHashAggregate WITH map-side partial merge, so
    the node shuffle carries one candidate per (partition, node)
    instead of every (node, label) count row, and drops the window's
    per-partition sort; measured 2.2-2.4 s → 1.8-2.1 s at sf0.1,
    results bit-identical). The 3 rounds stay one lazy unrolled plan
    (the graph_pagerank AQE-stage-reuse discipline — per-round eager
    localCheckpoints measured no faster here and cost a driver barrier
    each); the final frontier is NOT checkpointed (r16 A/B): the
    community-size diamond's two consumers share the final max_by
    aggregate's exchange via AQE stage reuse, so only the tiny |V|-row
    final merge runs twice. At hundreds of rounds (not 3) re-introduce
    per-round checkpoints — the llm_dedup_clusters lineage discipline.
    Synchronous LPA at 100 TB: label storage is |V|-bound, edges
    stream once per round — the same two-shuffle round shape as
    PageRank; production iterates to label-change convergence (usually
    < 10 rounds) with the pagerank_converged stopping discipline."""
    ed = _copurchase_edges(spark, sf_dir)
    # NOT checkpointed: sym is a map-only union over the already-
    # checkpointed edge cache, so each round re-derives it for free,
    # while materializing 2|E| rows cost a blocking write per call
    # (measured r9: 4.30 s → 3.51 s warm at sf0.1 without it, and the
    # write was the query's exposure to slow-disk spikes).
    sym = ed.unionAll(
        ed.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    labels = sym.select(F.col("u").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    # Per-round label relation is |V| x 16B — broadcast only while that
    # fits (the hint bypasses
    # autoBroadcastJoinThreshold); at larger |V| each round shuffles on
    # node, the standard distributed-LPA plan.
    # The gate count is memoized until the next release.
    bcast_labels = memo("gate:lpa_labels", sf_dir, labels.count) <= 4_000_000
    for _ in range(_LPA_ROUNDS):
        lab_u = labels.select(F.col("node").alias("u"), "label")
        if bcast_labels:
            lab_u = F.broadcast(lab_u)
        counts = (
            sym.join(lab_u, "u")
            .groupBy(F.col("v").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        # argmax via max_by over struct(n, -label): lexicographic max
        # == (count DESC, label ASC), a total order ((node, label) is
        # unique so -label breaks every tie deterministically). Unlike
        # the earlier row_number window this is an ObjectHashAggregate
        # with map-side partial merge — no per-partition sort, and the
        # node shuffle carries one candidate per (partition, node)
        # rather than every count row. (An even earlier max(struct())
        # formulation fell back to SortAggregate and measured slower;
        # max_by does not.)
        labels = counts.groupBy("node").agg(
            F.max_by(
                "label", F.struct(F.col("n"), (-F.col("label")).alias("nl"))
            ).alias("label")
        )
    # No checkpoint on the final frontier (r16 A/B): the community-size
    # diamond's two consumers share the final max_by aggregate's
    # EXCHANGE (identical canonical subtree — AQE stage reuse), so only
    # the tiny |V|-row final merge runs twice, while the lazy
    # localCheckpoint paid the full plan's toRdd (planning + codegen,
    # ~2.3 s at sf0.1) at build time PLUS a materialization barrier.
    # Interleaved A/B (noop, min-of-3 ×2): ckpt 2.87/2.50 s vs plain
    # diamond 2.51/2.33 s, results identical. At hundreds of rounds the
    # lineage-depth checkpoint discipline (llm_dedup_clusters) returns.
    comm = labels.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("community_size")
    )
    return labels.join(comm, "label").select(
        F.col("node").alias("part_id"),
        F.col("label").cast("long").alias("label"),
        "community_size",
    )
