"""Shared fixed-point vector arithmetic — Spark + DuckDB twins.

Exact int64 embedding math used across the ANN / dedup / retrieval
families: both engines accumulate Σ floor(x·y·1e12) in int64, making
dot products (and everything ranked by them) bit-identical cross-engine
regardless of float summation order.

Lives OUTSIDE operators/llm.py on purpose: oracle builders run at
@register decoration time (module import), and importing operators.llm
for a two-line helper would register llm's 19 keys as an import
side-effect — silently consuming driver-certification window slots
(observed in the round-7 rotation: retrieval_ext's RRF oracle pulled
llm's whole family into the first 50). Helpers that oracle builders
need must come from a module that registers nothing.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from climateiq_pipelines_spark.session import checkpoint

_S12 = 1_000_000_000_000  # 1e12 fixed-point scale for products
_S9 = 1_000_000_000  # 1e9 scale for centroid component means


def _int_dot(a: Column, b: Column) -> Column:
    """Exact int64 dot of two float arrays: Σ floor(x·y·1e12)."""
    prods = F.zip_with(
        a,
        b,
        lambda x, y: F.floor(
            x.cast("double") * y.cast("double") * F.lit(float(_S12))
        ),
    )
    return F.aggregate(prods, F.lit(0).cast("long"), lambda acc, v: acc + v)


def _sql_int_dot(a: str, b: str) -> str:
    """DuckDB twin of :func:`_int_dot` (p[1]/p[2]: list_zip makes an
    unnamed struct, numeric extraction only)."""
    return (
        f"list_aggregate(list_transform(list_zip({a}, {b}), "
        f"p -> CAST(floor(CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE) "
        f"* 1000000000000) AS BIGINT)), 'sum')"
    )


def cos_micros(dot_fp: Column) -> Column:
    """Reported cosine similarity as FLOORED INTEGER MICROS:
    floor(dot_fp / 1e6) with dot_fp the exact 1e12 fixed-point dot.

    Replaces the family's former round(dot_fp/1e12, 6) DOUBLE column
    (round-12 self-review): three rounding implementations (np.round
    half-even, Spark F.round HALF_UP, DuckDB std::round) pinned parity
    on agreeing at half-way ulps.  floor is exact on every path:
    dot_fp is integral with |dot_fp| ≤ 64·2.5e11 < 2^53 (exact as
    double), 1e6 is exact, and a nearest-double quotient cannot cross
    an integer boundary — the gap from any non-multiple quotient to
    the nearest integer is ≥ 1e-6, while the half-ulp at the maximal
    |quotient| ≈ 1.6e7 < 2^24 is ≈ 1.9e-9.  Negative dots floor toward
    -inf on all three paths (np.floor / F.floor / DuckDB floor), so
    the integer column is bit-identical cross-engine with no rounding
    seam.  SQL twin: :func:`sql_cos_micros`; numpy twin:
    np.floor(d / 1e6).astype(np.int64)."""
    return F.floor(dot_fp.cast("double") / F.lit(1_000_000.0)).cast("long")


def sql_cos_micros(dot: str) -> str:
    """DuckDB twin of :func:`cos_micros`."""
    return f"CAST(floor(({dot}) / 1000000.0) AS BIGINT)"


def fixed_mean_1e9(x: Column) -> Column:
    """Exact 1e9 fixed-point component mean (an AGGREGATE expression):
    floor each value to 1e-9 resolution, integer-sum (exact below 2^53),
    divide the scale back out, divide by count.  The centroid-mean
    contract every k-means/PQ key's cross-engine hash depends on —
    round-12 review found the expression copy-pasted four times in
    ml_iter.py alone."""
    return (
        F.sum(F.floor(x.cast("double") * F.lit(float(_S9)))).cast("double")
        / F.lit(float(_S9))
        / F.count(F.lit(1))
    )


def lloyd_centroid_row(centroids: DataFrame) -> DataFrame:
    """Collapse a (c_id, pos, c) centroid relation to ONE row holding
    array<struct<c_id, carr: array<double>>> — the broadcast payload of
    the r17 in-array Lloyd round (k×64 doubles, constant in corpus
    size). ONE global collect_list aggregate (partial-merged, single
    exchange) and the nested per-cluster arrays are built in the 1-row
    projection — a per-cluster pre-aggregate would add an exchange and
    an AQE stage per round for k×64 rows of work. Sorts are for
    deterministic layout only; the consumer's array_min is
    order-independent."""
    return (
        centroids.groupBy()
        .agg(F.collect_list(F.struct("c_id", "pos", "c")).alias("flat"))
        .select(
            F.expr(
                "transform(array_sort(array_distinct("
                "transform(flat, q -> q.c_id))), cid -> struct("
                "cid as c_id,"
                " transform(array_sort(filter(flat, q -> q.c_id = cid)),"
                " q -> q.c) as carr))"
            ).alias("cents")
        )
    )


# In-array Lloyd assignment (r17, guide §2.4): score every centroid
# against the vector's OWN array row and take the struct-min — the
# same exact integers the exploded join + (vec, c) sum + min_by argmin
# computed (per-term floor((x−c)²·1e12) is one IEEE multiply chain;
# long addition is associative; struct(dist, c) min IS the
# (dist ASC, c_id ASC) tie-break), with ZERO data-sized shuffles: the
# old round shuffled the exploded (vec, pos) relation into the
# centroid join, the (vec, c) distance aggregate, and the argmin
# aggregate.  1e12 is exactly representable in double, so the SQL text
# round-trips exactly (the r16 float-literal caveat does not bite).
# Domain: every centroid has the vector's dimension.  A ragged pair
# would read element_at past the shorter array as NULL and turn that
# centroid's distance into NULL, which array_min then silently ranks
# first; the in-plan raise_error fails the query instead.
_LLOYD_BEST = (
    "array_min(transform(cents, ct -> struct("
    "if(size(ct.carr) != size(embedding),"
    " raise_error(format_string('lloyd: centroid %s has %s dims,"
    " vector has %s', ct.c_id, size(ct.carr), size(embedding))),"
    " aggregate(sequence(1, size(embedding)), cast(0 as bigint),"
    " (acc, i) -> acc + floor("
    "(cast(element_at(embedding, i) as double) - element_at(ct.carr, i))"
    " * (cast(element_at(embedding, i) as double) - element_at(ct.carr, i))"
    " * 1e12))) as dist,"
    " ct.c_id as c)))"
)


def lloyd_assign_cols() -> tuple[Column, Column]:
    """(cluster, dist_fp) columns for a frame carrying ``embedding``
    and the crossJoined 1-row ``cents`` array — see _LLOYD_BEST."""
    best = F.expr(_LLOYD_BEST)
    return best["c"].alias("cluster"), best["dist"].alias("dist_fp")


def hyperplane_sig(vec: Column, planes: list[list[float]], dim: int | None = None) -> Column:
    """len(planes)-bit hyperplane simhash signature: bit j = sign of
    the exact fixed-point dot against plane j (``dim`` truncates each
    plane for prefix/MRL consumers).  ONE home for the loop five
    operators previously inlined (llm_simhash_bucket,
    _cosine_topk_bucketed, llm_cosine_neardup, llm_simhash_multiprobe,
    _mrl_rerank_bucketed).

    r16 optimization (guide §1.2, driver-side build cost): each plane
    ships as ONE ``F.lit(np.ndarray)`` array<double> literal instead of
    64 element-wise ``F.lit`` calls — element-wise literal construction
    is ~1 ms of py4j round-trip per element (the llm_bloom_decontam r9
    measurement), so the 8×64 inline form cost ~0.3-0.5 s of pure plan
    construction on EVERY call of every consumer.  The literal value,
    and therefore every signature and oracle hash, is unchanged."""
    import numpy as np

    sig: Column = F.lit(0)
    for j, row in enumerate(planes):
        r = row if dim is None else row[:dim]
        plane = F.lit(np.asarray(r, dtype=np.float64))
        sig = sig + F.when(_int_dot(vec, plane) >= 0, F.lit(1 << j)).otherwise(
            F.lit(0)
        )
    return sig


def assign_nearest_centroid(emb, keep_label: bool = False):
    """One k-means E-step as a DataFrame plan — per-label centroids
    (exact 1e9 fixed-point component means), every vector re-assigned
    to its nearest centroid by exact 1e12 fixed-point squared L2,
    argmin by integer with c_label tie-break.  Returns
    (vec_id[, label], c_label).  The engine twin of _CENTROID_SQL,
    shared by llm_centroid_assign and llm_semdedup_pipeline — round-12
    review found the ~25-line plan copy-pasted in both, so a fix to
    the exactness contract their hashes depend on would not have
    propagated.

    ``exploded`` is localCheckpointed: it feeds BOTH the centroid
    aggregate (behind a broadcast boundary AQE will not reuse a
    shuffle across) and the distance join — without the barrier the
    64x posexplode scan executes twice per consumer.  Trade-off:
    localCheckpoint truncates lineage to
    executor-local blocks, so on a real cluster an executor loss after
    materialization fails the job instead of recomputing — the
    engine-wide policy for these barrier sites (same as
    llm_dsir_weights / llm_winnow_neardup); a deployment that needs
    fault tolerance through the barrier swaps in reliable
    ``checkpoint()`` against a checkpoint dir, same plan shape."""
    from pyspark.sql import Window as W

    exploded = checkpoint(emb.select(
        "label", "vec_id", F.posexplode("embedding").alias("pos", "x")
    ), eager=False)
    centroids = exploded.groupBy(F.col("label").alias("c_label"), "pos").agg(
        fixed_mean_1e9(F.col("x")).alias("c")
    )
    diff = F.col("x").cast("double") - F.col("c")
    keys = ["vec_id", "label", "c_label"] if keep_label else ["vec_id", "c_label"]
    dists = (
        exploded.join(F.broadcast(centroids), "pos")
        .groupBy(*keys)
        .agg(
            F.sum(F.floor(diff * diff * F.lit(float(_S12)))).alias("dist_fp")
        )
    )
    w = W.partitionBy("vec_id").orderBy(F.asc("dist_fp"), F.asc("c_label"))
    return (
        dists.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(*keys)
    )


# DuckDB CTE block computing per-label centroids (1e9-scaled component
# means) and nearest-centroid assignment by 1e12-scaled L2 — the oracle
# twin of the k-means E-step shared by llm_centroid_assign and the
# SemDeDup pipeline.
_CENTROID_SQL = """
    exploded AS (
      SELECT label, vec_id,
             generate_subscripts(embedding, 1) AS pos,
             unnest(embedding) AS x
      FROM embeddings
    ),
    centroids AS (
      SELECT label AS c_label, pos,
             CAST(SUM(CAST(floor(CAST(x AS DOUBLE) * 1000000000) AS BIGINT))
                  AS DOUBLE) / 1000000000.0 / COUNT(*) AS c
      FROM exploded GROUP BY label, pos
    ),
    dists AS (
      SELECT e.vec_id, e.label, c.c_label,
             SUM(CAST(floor((CAST(e.x AS DOUBLE) - c.c)
                            * (CAST(e.x AS DOUBLE) - c.c)
                            * 1000000000000) AS BIGINT)) AS dist_fp
      FROM exploded e JOIN centroids c ON e.pos = c.pos
      GROUP BY e.vec_id, e.label, c.c_label
    ),
    assigned AS (
      SELECT vec_id, label, c_label AS assigned_label
      FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY dist_fp ASC, c_label) AS rn
        FROM dists
      ) WHERE rn = 1
    )
"""


# ---------------------------------------------------------------- shared
# iterative-oracle builders (round-13 review batch D): the unrolled
# Lloyd-iteration CTE lived byte-for-byte in ml_iter._iter_sql AND
# iterative_ext._kmeans_iter_sql, and the pagerank oracle builder was
# duplicated between graph_ext and iterative_ext — the hand-inlined-
# copy drift class this module exists to prevent, applied to the two
# iterative fixpoint contracts.  They live HERE (registers nothing)
# for the same decoration-time-import reason as the dot helpers.

PR_R0 = 1_000_000  # pagerank initial rank, micro-units
PR_BASE = 150_000  # (1 - d) in micros, d = 0.85


def lloyd_iter_sql(i: int) -> str:
    """One unrolled Lloyd iteration: exact-fixed-point centroids from
    assign{i-1}, integer distances, deterministic argmin -> assign{i}."""
    return f"""
    centroids{i} AS (
      SELECT a.cluster AS c_id, e.pos,
             CAST(SUM(CAST(floor(CAST(e.x AS DOUBLE) * 1000000000) AS BIGINT))
                  AS DOUBLE) / 1000000000.0 / COUNT(*) AS c
      FROM exploded e JOIN assign{i - 1} a ON a.vec_id = e.vec_id
      GROUP BY a.cluster, e.pos
    ),
    dists{i} AS (
      SELECT e.vec_id, c.c_id,
             SUM(CAST(floor((CAST(e.x AS DOUBLE) - c.c)
                            * (CAST(e.x AS DOUBLE) - c.c)
                            * 1000000000000) AS BIGINT)) AS dist_fp
      FROM exploded e JOIN centroids{i} c ON e.pos = c.pos
      GROUP BY e.vec_id, c.c_id
    ),
    assign{i} AS (
      SELECT vec_id, c_id AS cluster, dist_fp
      FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY dist_fp ASC, c_id) AS rn
        FROM dists{i}
      ) WHERE rn = 1
    )
    """


def pagerank_oracle_sql(n_rounds: int, with_rounds_col: bool = False) -> str:
    """The bipartite-purchase-graph pagerank oracle, ``n_rounds``
    unrolled integer power iterations; ``with_rounds_col`` appends the
    pinned n_rounds column the converged key checks."""
    stages = []
    prev = "r0"
    for i in range(1, n_rounds + 1):
        stages.append(
            f"""r{i} AS (
      SELECT s.v AS node, {PR_BASE} + (SUM(p.r // d.deg) * 85) // 100 AS r
      FROM sym s
      JOIN {prev} p ON p.node = s.u
      JOIN deg d ON d.node = s.u
      GROUP BY s.v
    )"""
        )
        prev = f"r{i}"
    joined_stages = ",\n    ".join(stages)
    rounds_col = (
        f",\n           CAST({n_rounds} AS INTEGER) AS n_rounds"
        if with_rounds_col
        else ""
    )
    return f"""
    WITH edges AS (
      SELECT DISTINCT o_custkey * 2 AS u, l_suppkey * 2 + 1 AS v
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    sym AS (
      SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges
    ),
    deg AS (SELECT u AS node, COUNT(*) AS deg FROM sym GROUP BY u),
    r0 AS (SELECT node, CAST({PR_R0} AS BIGINT) AS r FROM deg),
    {joined_stages}
    SELECT f.node AS node_id,
           f.node % 2 = 1 AS is_supplier,
           CAST(d.deg AS BIGINT) AS degree,
           CAST(f.r AS BIGINT) AS rank_micro{rounds_col}
    FROM {prev} f JOIN deg d ON d.node = f.node
    """


def bipartite_purchase_edges(spark, sf_dir: str):
    """The customer-supplier purchase graph both pagerank keys walk:
    (edges, sym, deg) as LAZY frames — materialization strategy stays
    with the caller (graph_pagerank relies on AQE stage reuse across
    its unrolled rounds; the converged key localCheckpoints because
    every round issues its own residual action)."""
    from pyspark.sql import functions as F

    from climateiq_pipelines_spark.registry import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    edges = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select(
            (F.col("o_custkey") * 2).alias("u"),
            (F.col("l_suppkey") * 2 + 1).alias("v"),
        )
        .distinct()
    )
    sym = edges.union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = sym.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    return edges, sym, deg
