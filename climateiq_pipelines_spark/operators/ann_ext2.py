"""Round-7 retrieval/decontamination extensions #2: MATRYOSHKA
truncated-dimension retrieval with full-dimension rerank (Kusupati et
al. 2022, "Matryoshka Representation Learning" — the adaptive-retrieval
recipe of §4.3) and BLOOM-FILTER-prefiltered benchmark decontamination
(Bloom 1970; the probabilistic-membership prefilter production
decontamination passes run before the exact verify).

Registered after the driver's 50-entry certification window
(plans.load_all); covered by tools/driver_sim.py; rotation-targeted for
round 8+.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from climateiq_pipelines_spark.functions.fixedpoint import (
    _sql_int_dot,
    blocknl_topk,
    sql_cos_micros,
)
from climateiq_pipelines_spark.plans import register
from climateiq_pipelines_spark.registry import load_table, widen_if_narrow

# --- llm_mrl_truncated_rerank ------------------------------------------
_MRL_PREFIX_DIM = 16  # truncated prefix dims (full fixture dim: 64)
_MRL_SHORTLIST = 24  # stage-1 candidates per query
_MRL_K = 5  # final neighbors per query

_MRL_ORACLE = f"""
    WITH pairs AS (
      SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
             {_sql_int_dot(f'a.embedding[1:{_MRL_PREFIX_DIM}]',
                           f'b.embedding[1:{_MRL_PREFIX_DIM}]')}
               AS trunc_fp,
             {_sql_int_dot('a.embedding', 'b.embedding')} AS full_fp
      FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
    ),
    shortlist AS (
      SELECT *, row_number() OVER (PARTITION BY vec_id
                                   ORDER BY trunc_fp DESC, neighbor_id)
               AS trunc_rnk
      FROM pairs
    )
    SELECT vec_id, neighbor_id,
           {sql_cos_micros('full_fp')} AS cos_micros,
           CAST(rnk AS INTEGER) AS rnk,
           'mrl_prefix{_MRL_PREFIX_DIM}_rerank' AS method
    FROM (
      SELECT vec_id, neighbor_id, full_fp,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY full_fp DESC, neighbor_id) AS rnk
      FROM shortlist WHERE trunc_rnk <= {_MRL_SHORTLIST}
    ) WHERE rnk <= {_MRL_K}
"""


@register("llm_mrl_truncated_rerank", oracle=_MRL_ORACLE)
def llm_mrl_truncated_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATRYOSHKA adaptive retrieval (Kusupati et al. 2022 §4.3):
    stage 1 shortlists {_MRL_SHORTLIST} candidates per query by the
    dot over only the FIRST {_MRL_PREFIX_DIM} embedding dimensions
    (MRL trains prefixes to be usable embeddings; for non-MRL vectors
    this is plain dimension truncation), stage 2 reranks the shortlist
    with the exact full-dimension dot and keeps top {_MRL_K}. The
    method column marks the contract: results are shortlist-local, not
    globally exact — recall follows the prefix's fidelity.

    Execution is llm_cosine_topk's Arrow block-NL
    (fixedpoint.blocknl_topk): the corpus ships once as a
    sparkContext.broadcast, each query batch scores the PREFIX dots
    against the prefix matrix vectorized, takes its
    top-{_MRL_SHORTLIST}, and reranks only those {_MRL_SHORTLIST}
    full-width rows — both stages inside one mapInArrow, no shuffle
    at all. Above the byte-derived corpus bound the key raises
    ValueError (llm_cosine_topk_lsh is the family's scale path).

    Exactness: fixedpoint's numpy kernel contract (exact integer dots
    at both widths); both stages rank (-dot, neighbor_id) — a total
    order.

    Scale: stage 1 is where the 100 TB win lives — the score payload
    per vector is {_MRL_PREFIX_DIM}/64 of the full width (MRL papers
    run 1/12 and below), and the full vectors are touched for only
    |queries| x {_MRL_SHORTLIST} rows."""
    return blocknl_topk(
        spark,
        sf_dir,
        f"mrl_prefix{_MRL_PREFIX_DIM}_rerank",
        k=_MRL_K,
        prefix=_MRL_PREFIX_DIM,
        shortlist=_MRL_SHORTLIST,
    )


# --- llm_bloom_decontam ------------------------------------------------
_BLOOM_BITS = 65536  # m = 2^16 bit positions
_BLOOM_K = 3  # hash functions (three disjoint 16-bit md5 nibbles)
_BLOOM_N = 5  # word n-gram order, matching llm_ngram_contamination
_EVAL_SOURCE = "src0"

# Hash_j(s): hex nibble groups j*4+1..j*4+4 of md5(s) as a 16-bit int —
# identical lowercase-hex md5 on both engines, no modulo needed because
# 4 hex chars ARE the [0, 65535] range.
_SQL_BLOOM_POS = [
    f"CAST(('0x' || substr(md5(s), {j * 4 + 1}, 4)) AS BIGINT)"
    for j in range(_BLOOM_K)
]

_BLOOM_ORACLE = f"""
    WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS w
               FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, source,
             unnest(list_transform(generate_series(1, len(w) - {_BLOOM_N - 1}),
                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' '
                     || w[i+3] || ' ' || w[i+4])) AS s
      FROM t
    ),
    bits AS (
      SELECT DISTINCT pos FROM (
        SELECT unnest([{', '.join(_SQL_BLOOM_POS)}]) AS pos
        FROM sh WHERE source = '{_EVAL_SOURCE}'
      )
    ),
    train AS (SELECT doc_id, s FROM sh WHERE source <> '{_EVAL_SOURCE}'),
    probe AS (
      SELECT doc_id, s, unnest([{', '.join(_SQL_BLOOM_POS)}]) AS pos
      FROM train
    ),
    cand AS (
      SELECT doc_id, s
      FROM probe JOIN bits USING (pos)
      GROUP BY doc_id, s
      HAVING COUNT(*) = {_BLOOM_K}
    ),
    ev AS (SELECT DISTINCT s FROM sh WHERE source = '{_EVAL_SOURCE}')
    SELECT c.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_candidates,
           CAST(COUNT(e.s) AS BIGINT) AS n_verified
    FROM cand c LEFT JOIN ev e ON e.s = c.s
    GROUP BY c.doc_id
"""


@register("llm_bloom_decontam", oracle=_BLOOM_ORACLE)
def llm_bloom_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLOOM-PREFILTERED decontamination: build an m={_BLOOM_BITS},
    k={_BLOOM_K} Bloom filter over the eval slice's word {_BLOOM_N}-
    grams, flag each training shingle whose k bit positions are ALL
    set as a candidate, then exact-verify candidates against the eval
    shingle set. Output per contaminated-candidate doc: candidate and
    verified counts — n_candidates > n_verified IS the Bloom false-
    positive rate made visible (no false negatives by construction,
    which the exact llm_ngram_contamination twin proves).

    Portability: the k hash functions are disjoint 4-hex-digit fields
    of md5(shingle) — md5 is byte-identical cross-engine and 4 hex
    digits are exactly the [0, m) range, so both engines compute the
    identical filter with no modulo or sign pitfalls.

    Scale: THE reason this shape exists — the bit set is m bits
    (8 KiB here; a few GiB for 10^10-ngram eval suites at proper m/n),
    a broadcast-able CONSTANT regardless of training-corpus size, and
    the plan ships it as exactly that: the eval slice's positions
    collapse to ≤ m driver-side scalars (bounded by the FILTER
    GEOMETRY, not the corpus — fetched with a bounded
    take(m+1), the sweep-sanctioned pattern) packed into an
    m/64-element array<long> plan literal, so the 100 TB train side
    is filtered map-side by k codegen'd element_at + bitmask probes —
    O(1) per probe — with ZERO pre-filter shuffles.  Only candidates
    (true hits + the tuned FP fraction) reach the dedup shuffle and
    the exact-verify join (eval side small → AQE broadcasts it, no
    hint needed).  History, measured (BASELINE.md round-9): the r7
    relational form (bitset as a DISTINCT relation, semi-join +
    count-k) ran 1.56 s at sf0.1 but pays 5 corpus-sized shuffles;
    the r8 substring-into-64KB-string-literal probe was O(m) PER
    PROBE (UTF8String.substring walks bytes) and ran 54.41 s — the
    round-8 incident.  This packed-long form keeps r8's zero-shuffle
    map-side dispatch with an O(1) probe; see BASELINE.md round-9 for
    the recorded before/after.  Note the builder materializes the
    bit positions eagerly (one bounded job at plan-construction
    time) — plan-only inspection of this key runs that job."""
    # Shingles are built MAP-SIDE from the word array (explode over a
    # transform of slices) — the r7 posexplode + lead-window form paid
    # a per-doc sort shuffle for a purely local computation.
    words = F.split(F.col("text"), " ")
    grams = F.when(
        F.size(words) >= _BLOOM_N,
        F.transform(
            F.sequence(F.lit(1), F.size(words) - (_BLOOM_N - 1)),
            lambda i: F.concat_ws(" ", F.slice(words, i, _BLOOM_N)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    docs = load_table(spark, sf_dir, "documents")
    # Side split FIRST (both filters reach the parquet scan), then a
    # local-SF remedy with a 100 TB no-op: the sf0.1 documents table is
    # ONE parquet split, so the TRAIN-side shingle explode — the
    # query's dominant cost (measured 1.56 s of the r7 form's 1.56 s
    # total) — ran on one core. Widen the PRE-explode train doc rows
    # (one text row per doc; a narrow shuffle) to session parallelism
    # only when the scan is narrower; at 100 TB the scan already has
    # thousands of splits and this branch never fires. The eval slice
    # (constant-sized at real scale) is NOT repartitioned — its two
    # small jobs (position fetch, verify set) stay shuffle-free. The
    # explode OUTPUT is still never shuffled until the Bloom filter
    # has discarded ~all of it.
    train_docs = widen_if_narrow(
        spark, docs.filter(F.col("source") != _EVAL_SOURCE)
    )
    eval_docs = docs.filter(F.col("source") == _EVAL_SOURCE)
    md5s = F.md5(F.col("s"))
    positions = [
        F.conv(F.substring(md5s, j * 4 + 1, 4), 16, 10).cast("long")
        for j in range(_BLOOM_K)
    ]
    # Build the filter: ≤ m distinct positions fetched once with a
    # BOUNDED take(1) of a collect_set aggregate (≤ m longs = 512 KiB
    # of state; bounded by _BLOOM_BITS by construction — 4 hex md5
    # chars ARE [0, m)), packed into an m/64-word array<long> literal.
    # collect_set-then-take(1) is ONE job — take(m+1) on a distinct
    # relation runs limit-scale-up retries (2-3 jobs, measured +0.3 s).
    # The executors receive the literal with the plan; each probe is
    # codegen'd element_at + bitwise AND — O(1), unlike the r8
    # substring-into-64KB-string probe whose UTF8String.substring
    # walked O(position) bytes PER ROW (the 35× regression VERDICT r8
    # traced; BASELINE.md round-9 records the fix measurement).  No
    # join, no shuffle.
    eval_pos = (
        eval_docs.select(F.explode(grams).alias("s"))
        .select(F.explode(F.array(*positions)).alias("pos"))
        .agg(F.collect_set("pos").alias("ps")).take(1)
    )
    set_pos = set(eval_pos[0]["ps"]) if eval_pos else set()
    assert len(set_pos) <= _BLOOM_BITS
    packed = [0] * (_BLOOM_BITS // 64)
    for p in set_pos:
        packed[p >> 6] |= 1 << (p & 63)
    # Two's-complement into Spark's signed long range; ship as an int64
    # numpy array — F.lit(list) pays ~1.2 s of element-wise py4j calls
    # for 1,024 elements, F.lit(np.int64 array) ~0.1 s (measured r9)
    # and types directly as array<bigint>.
    import numpy as np

    packed = [w - (1 << 64) if w >= (1 << 63) else w for w in packed]
    bits_lit = F.lit(np.array(packed, dtype=np.int64))
    # Name the k position columns so the probe expressions (shiftright
    # word index, shiftleft bit mask) stay plain SQL over them.
    train = train_docs.select(
        "doc_id", F.explode(grams).alias("s")
    ).select(
        "doc_id",
        "s",
        *[p.alias(f"p{j}") for j, p in enumerate(positions)],
    )
    is_hit = F.lit(True)
    for j in range(_BLOOM_K):
        word = F.element_at(
            bits_lit, F.expr(f"cast(shiftright(p{j}, 6) as int) + 1")
        )
        mask = F.expr(f"shiftleft(1L, cast(p{j} & 63 as int))")
        is_hit = is_hit & (word.bitwiseAND(mask) != F.lit(0))
    # Filter FIRST, dedup the surviving candidates (tiny: true hits +
    # FP fraction), then exact-verify against the eval set (small side;
    # AQE broadcasts it without a hint).
    cand = train.filter(is_hit).select("doc_id", "s").distinct()
    ev = (
        eval_docs.select(F.explode(grams).alias("s"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    return (
        cand.join(ev, "s", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_candidates"),
            F.count("hit").cast("long").alias("n_verified"),
        )
    )


# --- llm_ann_recall_eval -----------------------------------------------
def _recall_oracle() -> str:
    from climateiq_pipelines_spark.operators.llm import _TOPK_ORACLE
    from climateiq_pipelines_spark.operators.vector_ext import (
        _cosine_topk_lsh_oracle,
    )

    return f"""
    WITH exact AS (SELECT * FROM ({_TOPK_ORACLE})),
    approx AS (SELECT * FROM ({_cosine_topk_lsh_oracle()})),
    m AS (
      SELECT e.vec_id, COUNT(*) AS hits
      FROM exact e JOIN approx a
        ON a.vec_id = e.vec_id AND a.neighbor_id = e.neighbor_id
      GROUP BY e.vec_id
    ),
    perq AS (
      SELECT q.vec_id, COALESCE(m.hits, 0) AS hits
      FROM (SELECT DISTINCT vec_id FROM exact) q
      LEFT JOIN m ON m.vec_id = q.vec_id
    )
    SELECT CAST(hits AS BIGINT) AS hits,
           CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST(floor(COUNT(*) * 1000000.0
                      / SUM(COUNT(*)) OVER ()) AS BIGINT) AS share_micros,
           CAST(floor(SUM(hits * COUNT(*) * 200000.0) OVER ()
                      / SUM(COUNT(*)) OVER ()) AS BIGINT)
             AS mean_recall_micros
    FROM perq GROUP BY hits
    """


@register("llm_ann_recall_eval", oracle=_recall_oracle())
def llm_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN INDEX-QUALITY EVALUATION in-engine: recall@5 of the
    simhash-bucketed LSH path (`llm_cosine_topk_lsh` — the scale
    path the exact key names when it refuses) against the exact
    block-NL ground truth (`llm_cosine_topk`), as the per-query hit
    distribution (hits 0..5 -> query counts and shares) plus the mean
    recall in micros repeated per row — the measurement every
    production ANN deployment runs before trusting an index, here as a
    first-class operator so the recall/thoroughness trade is a number,
    not a hope. Both sides rank by the shared exact int64 dot with
    neighbor-id tiebreaks, so the comparison itself is bit-exact.

    Plan: composes the two registered plans (Arrow block-NL broadcast
    corpus; bucketed DataFrame self-join) and adds one (vec_id,
    neighbor_id) equi-join + two bounded aggregates — the final
    relation is <= 6 rows, and the share/mean windows run over THAT
    bounded frame (SURVEY §9.4). At 100 TB the ground-truth side is
    the expensive half; production samples the query set (a LIMIT on
    the probe side — the same harness shape as
    llm_minhash_jaccard_estimate's 8x8 sample) while this fixture
    evaluates every query exactly.

    DECLARED BOUND: above the block-NL bound (min(BLOCKNL_MAX_VECTORS,
    128 MiB / dim / 8 rows; 200,000 rows at the fixture's 64 dims — so
    every driver-generated SF is far inside it) the exact side,
    llm_cosine_topk, raises ValueError, and so does this key.  That
    refusal is metric integrity: exact ground truth cannot exist above
    the bound.  Harnesses that schedule this key at larger scales
    should sample the query set or evaluate a corpus slice instead."""
    from climateiq_pipelines_spark.operators.llm import llm_cosine_topk
    from climateiq_pipelines_spark.operators.vector_ext import (
        llm_cosine_topk_lsh,
    )

    exact = llm_cosine_topk(spark, sf_dir).select("vec_id", "neighbor_id")
    approx = llm_cosine_topk_lsh(spark, sf_dir).select(
        "vec_id", "neighbor_id"
    )
    m = (
        exact.join(approx, ["vec_id", "neighbor_id"])
        .groupBy("vec_id")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    perq = (
        exact.select("vec_id")
        .distinct()
        .join(m, "vec_id", "left")
        .select(F.coalesce(F.col("hits"), F.lit(0)).alias("hits"))
    )
    over_all = W.partitionBy()  # <= 6 distinct hit values — bounded
    dist = perq.groupBy("hits").agg(F.count(F.lit(1)).alias("n_queries"))
    return dist.select(
        F.col("hits").cast("long").alias("hits"),
        F.col("n_queries").cast("long").alias("n_queries"),
        F.floor(
            F.col("n_queries") * F.lit(1000000.0)
            / F.sum("n_queries").over(over_all)
        )
        .cast("long")
        .alias("share_micros"),
        F.floor(
            F.sum(F.col("hits") * F.col("n_queries") * F.lit(200000.0)).over(
                over_all
            )
            / F.sum("n_queries").over(over_all)
        )
        .cast("long")
        .alias("mean_recall_micros"),
    )
