"""Round-3 iterative-ML extension — a full k-means (Lloyd) loop over
the embeddings table, hash-checked. Loaded after the driver's 50-entry
correctness window (plans.load_all); covered by tools/driver_sim.py.

llm_centroid_assign is ONE E-step; this module runs the whole
assign→re-center loop for a fixed 3 iterations, with the same exact
fixed-point spine (1e9 centroid means, 1e12 integer distances,
deterministic argmin tie-break), so the DuckDB oracle — the same
rounds as one recursive CTE — hash-matches bit for bit. The
convergence-tested variant (iterative_ext.llm_kmeans_converged) runs
the same round under a movement stopping rule, checked by the same
oracle text with that rule in place of the fixed count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from climateiq_pipelines_spark.functions.fixedpoint import (
    cos_micros,
    fixed_mean_1e9,
    lloyd_assign_cols,
    lloyd_centroid_row,
    lloyd_oracle_sql,
    sql_cos_micros,
)
from climateiq_pipelines_spark.plans import register
from climateiq_pipelines_spark.registry import load_table, widen_if_narrow
from climateiq_pipelines_spark.session import checkpoint

_N_ITER = 3


# The same recursive Lloyd text as the converged twin
# (fixedpoint.lloyd_oracle_sql) with no stopping rule: it runs _N_ITER
# rounds.
_KMEANS_ORACLE = lloyd_oracle_sql("FALSE", _N_ITER)


# The exploded -> sub -> codebook chain and the per-(vec, subspace,
# code) distance body — ONE source for _PQ_ORACLE and _IVFPQ_ORACLE
# (round-12 review: the blocks were duplicated verbatim, so a fix to
# the 1e9 floor-mean or 1e12 distance contract had to land twice or
# the two keys silently diverge).
_PQ_CODEBOOK_SQL = """exploded AS (
      SELECT vec_id, label,
             generate_subscripts(embedding, 1) AS pos,
             unnest(embedding) AS x
      FROM embeddings
    ),
    sub AS (
      SELECT vec_id, label, pos, x,
             CAST((pos - 1) // 8 AS INTEGER) AS subspace
      FROM exploded
    ),
    codebook AS (
      SELECT label AS code, subspace, pos,
             CAST(SUM(CAST(floor(CAST(x AS DOUBLE) * 1000000000) AS BIGINT))
                  AS DOUBLE) / 1000000000.0 / COUNT(*) AS c
      FROM sub GROUP BY label, subspace, pos
    )"""


def _pq_subdists_sql(name: str) -> str:
    return f"""{name} AS (
      SELECT s.vec_id, s.subspace, cb.code,
             SUM(CAST(floor((CAST(s.x AS DOUBLE) - cb.c)
                            * (CAST(s.x AS DOUBLE) - cb.c)
                            * 1000000000000) AS BIGINT)) AS dist_fp
      FROM sub s JOIN codebook cb
        ON cb.pos = s.pos AND cb.subspace = s.subspace
      GROUP BY s.vec_id, s.subspace, cb.code
    )"""


_PQ_ORACLE = f"""
    WITH {_PQ_CODEBOOK_SQL},
    {_pq_subdists_sql("sub_dists")},
    best AS (
      SELECT vec_id, subspace, code, dist_fp
      FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, subspace
                                     ORDER BY dist_fp ASC, code) AS rn
        FROM sub_dists
      ) WHERE rn = 1
    )
    SELECT vec_id,
           CAST(SUM(code * power(10, subspace)) AS BIGINT) AS pq_code,
           round(CAST(SUM(dist_fp) AS DOUBLE) / 1000000000000.0, 6)
             AS recon_err
    FROM best
    GROUP BY vec_id
"""


@register("llm_pq_encode", oracle=_PQ_ORACLE)
def llm_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCT QUANTIZATION encode — the vector-compression building
    block of IVF-PQ ANN indexes: the 64-d space splits into 8 subspaces
    of 8 dims, each subspace gets a 10-entry codebook (label-seeded
    sub-centroids, exact fixed-point means), and every vector is
    encoded as its per-subspace nearest-codebook-entry ids — packed
    into one BIGINT (digit j = subspace j's code) — plus the exact
    integer reconstruction error. A 256-byte float vector becomes an
    8-digit code; at 10^9 vectors that is the difference between an
    in-memory index and not.

    Same exactness spine as the rest of the vector family (1e9 means,
    1e12 integer distances, argmin tie-break on code id), so the oracle
    hash-matches bit for bit. Scale: the codebook is k × 64 rows
    (BROADCAST); encoding is one linear distance aggregate per vector ×
    subspace × code, shuffled on (vec_id, subspace) — never all-pairs.
    Index-position note: Spark posexplode is 0-based, DuckDB
    generate_subscripts 1-based — the subspace derivation accounts for
    both."""
    emb = load_table(spark, sf_dir, "embeddings")
    sub = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("pos", "x")
    ).withColumn("subspace", (F.col("pos") / 8).cast("int"))
    codebook = sub.groupBy(
        F.col("label").alias("code"), "subspace", "pos"
    ).agg(
        fixed_mean_1e9(F.col("x")).alias("c")
    )
    diff = F.col("x").cast("double") - F.col("c")
    sub_dists = (
        sub.join(F.broadcast(codebook), ["subspace", "pos"])
        .groupBy("vec_id", "subspace", "code")
        .agg(F.sum(F.floor(diff * diff * F.lit(1e12))).alias("dist_fp"))
    )
    # argmin (dist_fp ASC, code ASC) via min_by/min (r16; see the
    # llm_kmeans_iterate note) — partial-merging aggregate instead of a
    # row_number window sort over every (vec, subspace, code) row.
    best = sub_dists.groupBy("vec_id", "subspace").agg(
        F.min_by("code", F.struct(F.col("dist_fp"), F.col("code"))).alias(
            "code"
        ),
        F.min("dist_fp").alias("dist_fp"),
    )
    return best.groupBy("vec_id").agg(
        F.sum(F.col("code") * F.pow(F.lit(10.0), F.col("subspace")))
        .cast("long")
        .alias("pq_code"),
        F.round(F.sum("dist_fp").cast("double") / F.lit(1e12), 6).alias(
            "recon_err"
        ),
    )


# IVF-PQ shortlist width: a RECALL target, not a topology constant — 50
# ADC candidates per query recover ~0.8 of the exact-IVF top-5 on the
# fixture's 10-entry codebooks (tripwire-pinned in tests); widen to buy
# recall, independent of cluster size. Shared by the engine plan and
# the SQL oracle so the contract can never fork.
PQ_SHORTLIST = 50

_IVFPQ_ORACLE = f"""
    WITH {_PQ_CODEBOOK_SQL},
    {_pq_subdists_sql("lut")},
    db_codes AS (
      SELECT vec_id, subspace, code
      FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, subspace
                                     ORDER BY dist_fp ASC, code) AS rn
        FROM lut
      ) WHERE rn = 1
    ),
    centroids AS (
      SELECT label AS c_label, pos,
             CAST(SUM(CAST(floor(CAST(x AS DOUBLE) * 1000000000) AS BIGINT))
                  AS DOUBLE) / 1000000000.0 / COUNT(*) AS c
      FROM exploded GROUP BY label, pos
    ),
    cell_dists AS (
      SELECT e.vec_id, c.c_label,
             SUM(CAST(floor((CAST(e.x AS DOUBLE) - c.c)
                            * (CAST(e.x AS DOUBLE) - c.c)
                            * 1000000000000) AS BIGINT)) AS dist_fp
      FROM exploded e JOIN centroids c ON e.pos = c.pos
      GROUP BY e.vec_id, c.c_label
    ),
    ranked_cells AS (
      SELECT vec_id, c_label,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY dist_fp ASC, c_label) AS cell_rank
      FROM cell_dists
    ),
    candidates AS (
      SELECT p.vec_id AS q_id, a.vec_id AS cand_id
      FROM (SELECT vec_id, c_label FROM ranked_cells WHERE cell_rank <= 3) p
      JOIN (SELECT vec_id, c_label FROM ranked_cells WHERE cell_rank = 1) a
        ON a.c_label = p.c_label
      WHERE p.vec_id <> a.vec_id
    ),
    adc AS (
      SELECT c.q_id, c.cand_id, SUM(l.dist_fp) AS adc_fp
      FROM candidates c
      JOIN db_codes dc ON dc.vec_id = c.cand_id
      JOIN lut l ON l.vec_id = c.q_id
                AND l.subspace = dc.subspace AND l.code = dc.code
      GROUP BY c.q_id, c.cand_id
    ),
    shortlist AS (
      SELECT q_id, cand_id
      FROM (
        SELECT *, row_number() OVER (PARTITION BY q_id
                                     ORDER BY adc_fp ASC, cand_id) AS rn
        FROM adc
      ) WHERE rn <= {PQ_SHORTLIST}
    ),
    scored AS (
      SELECT s.q_id, s.cand_id,
             list_aggregate(list_transform(list_zip(qa.embedding, ca.embedding),
               p -> CAST(floor(CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)
                               * 1000000000000) AS BIGINT)), 'sum') AS dot_fp
      FROM shortlist s
      JOIN embeddings qa ON qa.vec_id = s.q_id
      JOIN embeddings ca ON ca.vec_id = s.cand_id
    )
    SELECT q_id AS vec_id, cand_id AS neighbor_id,
           {sql_cos_micros('dot_fp')} AS cos_micros, rnk
    FROM (
      SELECT *, row_number() OVER (PARTITION BY q_id
                                   ORDER BY dot_fp DESC, cand_id) AS rnk
      FROM scored
    ) WHERE rnk <= 5
"""


@register("llm_ivf_pq_topk", oracle=_IVFPQ_ORACLE)
def llm_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL IVF-PQ query path — the way billion-scale ANN indexes
    actually answer queries, assembled from this repo's own blocks:

    1. COARSE: each query probes its nprobe=3 nearest cells
       (label centroids, as llm_ivf_topk).
    2. ADC: candidates are scored against their PQ codes via the
       query's lookup table — dist ≈ Σ_subspace LUT[q, s, code(cand,s)]
       — never touching candidate floats. The LUT is the (vec, subspace,
       code)→distance relation; the SAME relation argmin'd per
       (vec, subspace) yields the database codes (llm_pq_encode), a
       reuse the oracle states explicitly.
    3. SHORTLIST: ADC top-50 per query (integer asc, cand tie-break).
    4. EXACT RE-RANK: integer dots on the shortlist only → top-5.

    Everything is exact fixed-point integers, so ADC ranking, shortlist
    membership, and the final top-5 all hash-match the SQL twin —
    approximate ANN with a deterministic, checkable definition.

    Scale: the ADC join expands candidates ×8 subspace rows of scalar
    longs (no vectors move); at production scale the per-query LUT
    (8×k ints) is broadcast with its query batch and ADC is a map-side
    array lookup — the relational form here states the semantics the
    batched kernel must preserve. The exact re-rank touches only
    PQ_SHORTLIST candidates/query — the whole point of PQ. The
    shortlist width is the RECALL dial (see the constant's comment),
    deliberately independent of cluster topology."""
    emb = load_table(spark, sf_dir, "embeddings")
    # Four aggregate consumers (codebook, lut, centroids, cell_dists)
    # read this 64x explode, each behind a broadcast boundary AQE will
    # not reuse a shuffle across — without the barrier the scan ran ~4
    # times (the assign_nearest_centroid rule).
    exploded = checkpoint(emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("pos", "x")
    ), eager=False)
    sub = exploded.withColumn("subspace", (F.col("pos") / 8).cast("int"))
    codebook = sub.groupBy(
        F.col("label").alias("code"), "subspace", "pos"
    ).agg(
        fixed_mean_1e9(F.col("x")).alias("c")
    )
    diff = F.col("x").cast("double") - F.col("c")
    lut = (
        sub.join(F.broadcast(codebook), ["subspace", "pos"])
        .groupBy("vec_id", "subspace", "code")
        .agg(F.sum(F.floor(diff * diff * F.lit(1e12))).alias("dist_fp"))
    )
    # argmin (dist_fp ASC, code ASC) via min_by (r16; see the
    # llm_kmeans_iterate note) — partial-merging aggregate, no window
    # sort. (The cell_rank window below stays: it serves both the <=3
    # probe slice and the ==1 assignment from one ranking.)
    db_codes = lut.groupBy("vec_id", "subspace").agg(
        F.min_by("code", F.struct(F.col("dist_fp"), F.col("code"))).alias(
            "code"
        )
    ).select(F.col("vec_id").alias("cand_id"), "subspace", "code")

    centroids = exploded.groupBy(F.col("label").alias("c_label"), "pos").agg(
        fixed_mean_1e9(F.col("x")).alias("c")
    )
    cdiff = F.col("x").cast("double") - F.col("c")
    cell_dists = (
        exploded.join(F.broadcast(centroids), "pos")
        .groupBy("vec_id", "c_label")
        .agg(F.sum(F.floor(cdiff * cdiff * F.lit(1e12))).alias("dist_fp"))
    )
    wcell = W.partitionBy("vec_id").orderBy(F.asc("dist_fp"), F.asc("c_label"))
    ranked = cell_dists.withColumn("cell_rank", F.row_number().over(wcell))
    probes = ranked.filter(F.col("cell_rank") <= 3).select(
        F.col("vec_id").alias("q_id"), "c_label"
    )
    assigns = ranked.filter(F.col("cell_rank") == 1).select(
        F.col("vec_id").alias("cand_id"), F.col("c_label").alias("cell")
    )
    candidates = (
        probes.join(assigns, probes.c_label == assigns.cell)
        .filter(F.col("q_id") != F.col("cand_id"))
        .select("q_id", "cand_id")
    )
    q_lut = lut.select(
        F.col("vec_id").alias("q_id"), "subspace", "code", "dist_fp"
    )
    adc = (
        candidates.join(db_codes, "cand_id")
        .join(q_lut, ["q_id", "subspace", "code"])
        .groupBy("q_id", "cand_id")
        .agg(F.sum("dist_fp").alias("adc_fp"))
    )
    wadc = W.partitionBy("q_id").orderBy(F.asc("adc_fp"), F.asc("cand_id"))
    shortlist = (
        adc.withColumn("rn", F.row_number().over(wadc))
        .filter(F.col("rn") <= PQ_SHORTLIST)
        .select("q_id", "cand_id")
    )
    qv = emb.select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb"))
    cv = emb.select(
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("c_emb")
    )
    # Canonical home, NOT operators.llm: importing llm for these
    # helpers registers its 19 keys as an import side effect — the
    # round-7 registration-order incident fixedpoint.py exists to
    # prevent (round-12 review).
    from climateiq_pipelines_spark.functions.fixedpoint import (
        _int_dot,
    )

    scored = (
        shortlist.join(qv, "q_id")
        .join(cv, "cand_id")
        .select(
            "q_id", "cand_id", _int_dot(F.col("q_emb"), F.col("c_emb")).alias("dot_fp")
        )
    )
    wr = W.partitionBy("q_id").orderBy(F.desc("dot_fp"), F.asc("cand_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= 5)
        .select(
            F.col("q_id").alias("vec_id"),
            F.col("cand_id").alias("neighbor_id"),
            cos_micros(F.col("dot_fp")).alias("cos_micros"),
            "rnk",
        )
    )


@register("llm_kmeans_iterate", oracle=_KMEANS_ORACLE)
def llm_kmeans_iterate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full k-means: initialize clusters from the ground-truth label
    (k=10 deterministic seeds — no RNG), then {_N_ITER} Lloyd
    iterations of re-center (exact 1e9 fixed-point means) → re-assign
    (exact 1e12 integer squared distances, argmin tie-broken on
    cluster id). Output: per-cluster cardinality + inertia (sum of
    final assignment distances) — the quantities a training loop
    monitors for convergence.

    The whole loop is ONE declarative plan (3 unrolled rounds — no
    actions, no checkpoints needed at this depth). r17 (guide §2.4):
    the E-step is IN-ARRAY — the k×64 centroid relation collapses to
    ONE broadcast row of array<struct<c_id, carr>> and every vector
    scores all k centroids against its OWN embedding array
    (fixedpoint._LLOYD_BEST; identical integers and tie-break, see the
    helper's proof note), so the per-round data-sized shuffles — the
    exploded×assign join, the (vec, cluster) distance aggregate, and
    the min_by argmin exchange — are ALL gone. The only per-round
    exchange left is the (cluster, pos) centroid aggregate, whose
    map-side-combined partials are k×64 per partition; re-deriving the
    previous rounds' map-only assignment under each round's centroid
    aggregate replaces exchange reuse with recompute, bounded by the
    3 unrolled rounds (two interleaved noop A/Bs at sf0.1, min-of-5
    each: min_by form 2.16/2.25 s → in-array 1.80/2.10 s; the job
    count RISES 16 → 18 — the per-round centroid collect adds tiny
    AQE stages — while every data-sized exchange disappears, which is
    the trade that matters at width). Scale per iteration: one
    k×64-partial aggregate + one constant-size broadcast — linear in
    corpus, constant in k. At billions of vectors the unrolled plan
    becomes the dedup_graph-style driver loop with per-round
    checkpoints and a movement-count stop (llm_kmeans_converged, same
    in-array round)."""
    # widen_if_narrow: the in-array rounds are pure map stages over the
    # frame, and the sf fixture's embeddings table is ONE parquet split
    # — without the (100 TB no-op) widen all k×64-flop scoring runs on
    # a single core (measured 3.1 s vs 0.64 s at sf0.1).
    emb = widen_if_narrow(spark, load_table(spark, sf_dir, "embeddings"))
    frame = emb.select(
        "vec_id", "embedding", F.col("label").alias("cluster")
    )

    for _ in range(_N_ITER):
        centroids = (
            frame.select("cluster", F.posexplode("embedding").alias("pos", "x"))
            .groupBy(F.col("cluster").alias("c_id"), "pos")
            .agg(fixed_mean_1e9(F.col("x")).alias("c"))
        )
        cluster_col, dist_col = lloyd_assign_cols()
        cents_row = lloyd_centroid_row(centroids)
        frame = frame.crossJoin(F.broadcast(cents_row)).select(
            "vec_id", "embedding", cluster_col, dist_col
        )

    return frame.groupBy(F.col("cluster").alias("cluster_id")).agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(F.sum("dist_fp").cast("double") / F.lit(1e12), 6).alias(
            "inertia"
        ),
    )
