"""Round-6 training-data pipeline extensions — the corpus-production
ops between cleaning and tokenization: PII redaction, deterministic
shuffle-sharding, SemDeDup semantic dedup (standalone + the full
k-means-composed pipeline), DSIR importance weighting, chunk-level
boilerplate dedup, unigram-LM quality scoring, and the BPE
tokenizer-training passes (pair statistics + a full apply-merge
iteration). Registered after the driver's 50-entry certification
window (plans.load_all); rotation-targeted for round 7+.

Scale notes live per key; the common discipline: corpus text is
scanned once and collapsed early (vocab/ratio tables are the only
broadcasts), similarity work is cluster- or bucket-scoped (never
all-pairs), and every hash-checked number is integer-exact or a
single fixed IEEE expression tree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from climateiq_pipelines_spark.functions.fixedpoint import sql_cos_micros
from climateiq_pipelines_spark.plans import register
from climateiq_pipelines_spark.registry import load_table
from climateiq_pipelines_spark.session import checkpoint, memo

# Shared by the engine and both oracles: RE2-compatible patterns (the
# lowest-common-denominator regex dialect — DuckDB is RE2; these avoid
# every Java-regex-only construct).
_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PHONE_RE = "\\d{3}-\\d{3}-\\d{4}"

# The fixture corpus is PII-free word soup, so both sides INJECT
# deterministic PII first (same expression): every 5th doc gains an
# email, every 7th a phone number. The injection is part of the key's
# definition — what is tested is the REDACTION arithmetic.
_INJECT_SQL = """
    SELECT doc_id,
           text
           || CASE WHEN doc_id % 5 = 0
                   THEN ' contact user' || doc_id || '@example.com now'
                   ELSE '' END
           || CASE WHEN doc_id % 7 = 0
                   THEN ' call 555-123-4567 today' ELSE '' END
           AS text
    FROM documents
"""


@register(
    "llm_pii_redact",
    oracle=f"""
    WITH injected AS ({_INJECT_SQL}),
    red AS (
      SELECT doc_id,
             regexp_replace(
               regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
               '{_PHONE_RE}', '<PHONE>', 'g') AS clean,
             len(regexp_extract_all(text, '{_EMAIL_RE}')) AS n_emails,
             len(regexp_extract_all(text, '{_PHONE_RE}')) AS n_phones
      FROM injected
    )
    SELECT doc_id, md5(clean) AS clean_digest,
           CAST(n_emails AS BIGINT) AS n_emails,
           CAST(n_phones AS BIGINT) AS n_phones,
           (n_emails = 0 AND n_phones = 0) AS was_clean
    FROM red
    """,
)
def llm_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII REDACTION — the compliance pass of a corpus pipeline:
    replace email addresses and phone numbers with typed placeholder
    tokens and count what was removed, per document. The fixture
    corpus is PII-free, so the key deterministically injects PII into
    a subset of docs first (same expression on both engines — the
    redaction arithmetic is what's under test): every 5th doc an
    email, every 7th a phone number (35th: both).

    Patterns are written in the RE2-compatible subset so Spark's Java
    regex and DuckDB's RE2 agree character-for-character; the digest
    of the redacted text pins the FULL output string, not just counts.
    Plan: a zero-shuffle map stage — regexp_replace/regexp_count run
    inside whole-stage codegen over the scan; nothing crosses to
    Python and nothing reshuffles."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    injected = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com now"),
                ),
            ).otherwise(""),
            F.when(
                F.col("doc_id") % 7 == 0, F.lit(" call 555-123-4567 today")
            ).otherwise(""),
        ).alias("text"),
    )
    clean = F.regexp_replace(
        F.regexp_replace(F.col("text"), _EMAIL_RE, "<EMAIL>"),
        _PHONE_RE,
        "<PHONE>",
    )
    n_emails = F.regexp_count(F.col("text"), F.lit(_EMAIL_RE))
    n_phones = F.regexp_count(F.col("text"), F.lit(_PHONE_RE))
    return injected.select(
        "doc_id",
        F.md5(clean).alias("clean_digest"),
        n_emails.cast("long").alias("n_emails"),
        n_phones.cast("long").alias("n_phones"),
        ((n_emails == 0) & (n_phones == 0)).alias("was_clean"),
    )


_N_SHARDS = 8

# Portable hex digit -> 0..15 arithmetic (ascii + CASE only, identical
# on Java and DuckDB sides; no conv()/unhex() needed).  Defined before
# its first oracle use (llm_shuffle_shard).


def _sql_hexval(c: str) -> str:
    return f"(ascii({c}) - CASE WHEN ascii({c}) >= 97 THEN 87 ELSE 48 END)"


@register(
    "llm_shuffle_shard",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, n_chars,
             md5(CAST(doc_id AS VARCHAR) || ':42') AS k
      FROM documents
    ),
    sharded AS (
      SELECT doc_id, n_chars, k,
             {_sql_hexval("substr(k, 32, 1)")} % {_N_SHARDS} AS shard_id
      FROM keyed
    )
    SELECT doc_id, CAST(shard_id AS INTEGER) AS shard_id,
           CAST(row_number() OVER (PARTITION BY shard_id ORDER BY k)
                AS BIGINT) AS pos_in_shard,
           n_chars
    FROM sharded
    """,
)
def llm_shuffle_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC SHUFFLE + SHARDING — the step that turns a cleaned
    corpus into loader-ready shards: every doc gets a pseudo-random but
    SEEDED order key (md5 of doc_id:seed — reproducible across runs and
    engines, no RNG), a shard assignment derived from the key, and its
    position within the shard. Re-running with the same seed yields the
    identical byte order — the reproducibility property training infra
    actually needs from "shuffle the data".

    The shard hash (last hex nibble's VALUE mod 8) is the
    cross-engine-portable DEMO spread — 16 hex values fold uniformly
    onto 8 shards, 2 apiece.  (Round-12 review: the original
    ascii(nibble) % 8 folded the ASCII CODES 48-57/97-102, giving
    shard 1 three source values and shard 7 one — a 3x loader-shard
    skew that contradicted this very sentence; hexval() % 8 is exactly
    uniform.)  A production run would widen to 1024+ shards with any
    keyed hash.
    Plan: one md5 projection, one shuffle on shard_id, and a
    shard-PARTITIONED row_number — per-shard linear state, parallel
    across shards, never a global single-partition sort (the same
    discipline as sort_multikey_scalable)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    keyed = docs.select(
        "doc_id",
        "n_chars",
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":42"))).alias(
            "k"
        ),
    )
    nib = F.ascii(F.substring("k", 32, 1))
    hexval = nib - F.when(nib >= 97, F.lit(87)).otherwise(F.lit(48))
    sharded = keyed.withColumn("shard_id", hexval % _N_SHARDS)
    w = W.partitionBy("shard_id").orderBy("k")
    return sharded.select(
        "doc_id",
        F.col("shard_id").cast("int").alias("shard_id"),
        F.row_number().over(w).cast("long").alias("pos_in_shard"),
        "n_chars",
    )


_SEMDEDUP_TAU_FP = 3 * 10**11  # cos >= 0.30 in the 1e12 fixed-point dot


def _score_cluster(pdf):
    """Per-cluster Arrow batch: exact fixed-point pair dots vs every
    EARLIER (lower-vec_id) vector in the cluster; emits one row per
    vector that has at least one near-dup predecessor. Reproduces
    llm._int_dot bit-for-bit: per-component float64 products floored
    individually, then summed (int-valued float64s below 2^53 sum
    exactly in any order). Shared by llm_semdedup (fixture-label
    clusters) and llm_semdedup_pipeline (k-means-assigned clusters)."""
    import numpy as np
    import pandas as pd

    pdf = pdf.sort_values("vec_id")
    ids = pdf["vec_id"].to_numpy(dtype=np.int64)
    a = np.array([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
    out_id, out_n, out_max = [], [], []
    # row-blocked j-loop: block b vs all earlier rows at once
    blk = 128
    for s in range(1, len(ids), blk):
        e = min(s + blk, len(ids))
        # prods[j - s, i] = intdot(a[i], a[j]) for i < j
        prods = np.floor(a[s:e, None, :] * a[None, :e, :] * 1e12).sum(
            axis=2
        ).astype(np.int64)
        for j in range(s, e):
            row = prods[j - s, :j]
            hits = row[row >= _SEMDEDUP_TAU_FP]
            if hits.size:
                out_id.append(ids[j])
                out_n.append(hits.size)
                out_max.append(hits.max())
    return pd.DataFrame(
        {
            "vec_id": np.array(out_id, dtype=np.int64),
            "n_earlier_dups": np.array(out_n, dtype=np.int64),
            "max_dot": np.array(out_max, dtype=np.int64),
        }
    )


def _semdedup_oracle() -> str:
    from climateiq_pipelines_spark.functions.fixedpoint import _sql_int_dot

    dot = _sql_int_dot("a.embedding", "b.embedding")
    return f"""
    WITH dup_counts AS (
      SELECT b.vec_id,
             COUNT(*) AS n_earlier_dups,
             MAX({dot}) AS max_dot
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE {dot} >= {_SEMDEDUP_TAU_FP}
      GROUP BY b.vec_id
    )
    SELECT e.vec_id,
           e.label AS cluster_id,
           coalesce(d.n_earlier_dups, 0) AS n_earlier_dups,
           {sql_cos_micros('coalesce(d.max_dot, 0)')}
             AS max_sim_micros,
           d.vec_id IS NULL AS kept
    FROM embeddings e LEFT JOIN dup_counts d ON e.vec_id = d.vec_id
    """


@register("llm_semdedup", oracle=_semdedup_oracle())
def llm_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC DEDUPLICATION (SemDeDup, Abbas et al. 2023): prune
    documents that are semantically redundant — near-identical in
    embedding space — KEEPING one representative per near-dup set. The
    paper's two-stage shape: (1) cluster the corpus so similarity is
    only ever computed WITHIN a cluster, (2) inside each cluster drop
    every point whose cosine to an already-kept (here: lower-vec_id)
    point exceeds tau. The fixture's `label` column is the stage-1
    cluster assignment (a production run materializes it with
    `llm_kmeans_iterate` / `llm_centroid_assign` first — composing the
    two registered keys IS the full paper pipeline).

    Per vector the key emits its cluster, how many earlier in-cluster
    near-dups it has, the strongest such similarity, and the `kept`
    survivor verdict (kept := no earlier in-cluster neighbor at
    cos >= 0.30). Keep-lowest-id is the deterministic stand-in for the
    paper's keep-one policy — engine-orderable, unlike "keep random".

    Exactness: similarities are exact int64 fixed-point dots
    (Σ floor(x·y·1e12), llm._int_dot's contract — unit-norm fixture
    vectors make dot == cosine), so the tau cut and both aggregates
    are bit-stable cross-engine; max_sim_micros is floored integer
    micros (fixedpoint.cos_micros — the r13 family-wide migration off
    the round(double, 6) seam). The numpy path reproduces the contract:
    per-component float64 products floored individually, then summed
    — each floored term is an int-valued float64 and the 64-term sum
    stays below 2^53, so the sum is exact in any association order.

    Scale: ONE shuffle groups each cluster into a task; the pair
    products run as an Arrow batch in numpy (each vector ships once
    per cluster — the interpreted zip_with HOF twin materializes both
    64-float arrays PER PAIR, the llm_ivf_topk lesson), quadratic in
    CLUSTER size only — the paper's point: k grows with n (k ∝ n
    keeps expected cluster size constant, so a cluster always fits a
    task and |pairs| ≈ n·c/2), and 100 TB never sees an all-pairs
    product. The left join back is on vec_id, and the dup-count side
    is at most one row per vector."""
    from climateiq_pipelines_spark.functions.fixedpoint import cos_micros

    emb = load_table(spark, sf_dir, "embeddings")
    dup_counts = emb.groupBy("label").applyInPandas(
        _score_cluster, "vec_id long, n_earlier_dups long, max_dot long"
    )
    return (
        emb.select("vec_id", F.col("label").alias("cluster_id"))
        .join(dup_counts, "vec_id", "left")
        .select(
            "vec_id",
            "cluster_id",
            F.coalesce(F.col("n_earlier_dups"), F.lit(0)).alias(
                "n_earlier_dups"
            ),
            cos_micros(F.coalesce(F.col("max_dot"), F.lit(0))).alias(
                "max_sim_micros"
            ),
            F.col("n_earlier_dups").isNull().alias("kept"),
        )
    )


# DSIR (Data Selection with Importance Resampling, Xie et al. 2023):
# target = a small curated slice (two fixture sources stand in for the
# high-quality corpus), raw = everything else; features are hashed word
# n-grams (n<=2) in _DSIR_B buckets.
_DSIR_TARGET = ("src0", "src1")
_DSIR_B = 64

_HEXDIGITS = "0123456789abcdef"


def _dsir_oracle() -> str:
    h1 = _sql_hexval("substr(md5(g), 31, 1)")
    h2 = _sql_hexval("substr(md5(g), 32, 1)")
    targets = ", ".join(f"'{s}'" for s in _DSIR_TARGET)
    return f"""
    WITH words AS (
      SELECT doc_id, source, w, pos FROM (
        SELECT doc_id, source,
               unnest(string_split(text, ' ')) AS w,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents)
      WHERE w <> ''
    ),
    big AS (
      SELECT doc_id, source,
             w || '_' || lead(w) OVER (PARTITION BY doc_id ORDER BY pos)
               AS g
      FROM words
    ),
    grams AS (
      SELECT doc_id, source, w AS g FROM words
      UNION ALL
      SELECT doc_id, source, g FROM big WHERE g IS NOT NULL
    ),
    bucketed AS (
      SELECT doc_id, source, (16 * {h1} + {h2}) % {_DSIR_B} AS bucket
      FROM grams
    ),
    stats AS (
      SELECT bucket,
             COUNT(*) FILTER (WHERE source IN ({targets})) AS t_b,
             COUNT(*) FILTER (WHERE source NOT IN ({targets})) AS r_b
      FROM bucketed GROUP BY bucket
    ),
    tot AS (SELECT SUM(t_b) AS t_tot, SUM(r_b) AS r_tot FROM stats),
    ratio AS (
      SELECT bucket,
             CAST(floor(
               (CAST(t_b + 1 AS DOUBLE) * CAST(r_tot + {_DSIR_B} AS DOUBLE))
               / (CAST(r_b + 1 AS DOUBLE) * CAST(t_tot + {_DSIR_B} AS DOUBLE))
               * 1000000) AS BIGINT) AS micro
      FROM stats, tot
    ),
    docb AS (
      SELECT doc_id, bucket, COUNT(*) AS n
      FROM bucketed WHERE source NOT IN ({targets})
      GROUP BY doc_id, bucket
    )
    SELECT doc_id,
           CAST(SUM(n) AS BIGINT) AS n_grams,
           CAST(SUM(n * micro) AS DOUBLE) / 1000000.0 AS dsir_score,
           SUM(n * micro) > SUM(n) * 1000000 AS selected
    FROM docb JOIN ratio USING (bucket)
    GROUP BY doc_id
    """


@register("llm_dsir_weights", oracle=_dsir_oracle())
def llm_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR — Data Selection with Importance Resampling (Xie et al.
    2023): score every RAW document by how target-like its hashed
    n-gram feature distribution is, the step that picks pretraining
    data matching a small curated corpus. Features are word unigrams +
    bigrams hashed into B=64 (_DSIR_B) buckets; per-bucket importance is the
    add-one-smoothed probability ratio p_target(b)/p_raw(b); a doc's
    score is the mean bucket-ratio over its grams, and `selected` is
    the score > 1 cut (doc looks more target- than raw-like). The
    paper's final Gumbel-noise resampling draw is RNG and stays out of
    the hash-checked contract; `llm_stratified_sample`'s seeded-hash
    ordering is the deterministic way to take the actual sample.

    Determinism chain: the bucket hash is md5's last hex pair via
    ascii arithmetic (identical on both engines); bucket ratios are
    ONE fixed IEEE expression tree over exact int->double casts
    ((t+1)*(R+B)) / ((r+1)*(T+B)) — two products, one division, one
    floor-to-micros — so every per-bucket int64 `micro` matches
    bit-for-bit; per-doc sums are pure int64 arithmetic. Cast budget:
    counts stay below 2^53 through ~10^15 grams, far past this
    fixture (the helpers.py widening note applies beyond).

    Scale: gram generation is a ZERO-SHUFFLE map stage (bigrams by
    index over the filtered word array — no lead() window sort), and
    the multi-million-row gram stream is scanned ONCE: it collapses
    map-side into (doc, bucket, side) counts (<= |docs| x 64 x 2
    rows, materialized via localCheckpoint because the bucket-stats
    consumer sits behind a broadcast boundary AQE will not reuse a
    shuffle across); bucket stats and per-doc counts both derive from
    that small relation; the ratio table (<= 64 rows, bounded by
    construction) broadcasts back; the final per-doc sum shuffles on
    doc_id once. No all-pairs, no Python, no driver collect.

    (Round-12 review: this docstring previously ended in a
    ``.replace("{B}", ...)`` call — a bare string EXPRESSION is only a
    docstring without trailing operations, so __doc__ was None and the
    formatted text was computed and discarded at import.)"""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    # Gram generation is a PURE MAP stage: bigrams come from the
    # filtered word array by index (transform over sequence), not a
    # lead() window — the window form needs a doc_id shuffle+sort per
    # consuming branch; this form needs none (adjacency in the
    # filtered array is identical to filtered posexplode + lead).
    ws = F.filter(F.split(F.col("text"), " "), lambda w: w != "")
    docs_arr = docs.select("doc_id", "source", ws.alias("ws"))
    bigrams = F.when(
        F.size("ws") >= 2,
        F.expr(
            "transform(sequence(0, size(ws) - 2),"
            " i -> concat(ws[i], '_', ws[i + 1]))"
        ),
    ).otherwise(F.expr("array()"))
    grams = docs_arr.select(
        "doc_id",
        "source",
        F.explode(F.concat(F.col("ws"), bigrams)).alias("g"),
    )

    def hexval(c):
        a = F.ascii(c)
        return a - F.when(a >= 97, F.lit(87)).otherwise(F.lit(48))

    h = F.md5(F.col("g"))
    bucket = (
        16 * hexval(F.substring(h, 31, 1)) + hexval(F.substring(h, 32, 1))
    ) % _DSIR_B
    is_target = F.col("source").isin(*_DSIR_TARGET)
    # ONE pass over the gram stream: aggregate to (doc, bucket, side)
    # counts — map-side combine collapses the multi-million gram rows
    # to at most |docs| x B before the only data-sized shuffle. Both
    # the bucket stats and the per-doc counts derive from this small
    # relation, so grams (and their md5s) are computed exactly once.
    # Materialized once: the stats side feeds a BROADCAST subtree,
    # and AQE does not reuse a shuffle exchange across that
    # boundary (verified in the executed plan) — without this the
    # gram scan + md5 run twice. The checkpointed relation is at
    # most |docs| x B x 2 counted rows (dedup_graph precedent).
    db = checkpoint(
        grams.select("doc_id", bucket.alias("bucket"), is_target.alias("t"))
        .groupBy("doc_id", "bucket", "t")
        .agg(F.count(F.lit(1)).alias("n")),
        eager=False,
    )
    stats = db.groupBy("bucket").agg(
        F.sum(F.when(F.col("t"), F.col("n")).otherwise(0)).alias("t_b"),
        F.sum(F.when(~F.col("t"), F.col("n")).otherwise(0)).alias("r_b"),
    )
    tot = stats.agg(
        F.sum("t_b").alias("t_tot"), F.sum("r_b").alias("r_tot")
    )
    ratio = stats.crossJoin(F.broadcast(tot)).select(
        "bucket",
        F.floor(
            (
                (F.col("t_b") + 1).cast("double")
                * (F.col("r_tot") + _DSIR_B).cast("double")
            )
            / (
                (F.col("r_b") + 1).cast("double")
                * (F.col("t_tot") + _DSIR_B).cast("double")
            )
            * F.lit(1e6)
        ).alias("micro"),
    )
    docb = db.filter(~F.col("t")).select("doc_id", "bucket", "n")
    return (
        docb.join(F.broadcast(ratio), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("n").alias("n_grams"),
            (
                F.sum(F.col("n") * F.col("micro")).cast("double")
                / F.lit(1e6)
            ).alias("dsir_score"),
            (
                F.sum(F.col("n") * F.col("micro"))
                > F.sum("n") * F.lit(1_000_000)
            ).alias("selected"),
        )
    )


def _semdedup_pipeline_oracle() -> str:
    from climateiq_pipelines_spark.functions.fixedpoint import (
        _CENTROID_SQL,
        _sql_int_dot,
    )

    dot = _sql_int_dot("a.embedding", "b.embedding")
    return f"""
    WITH {_CENTROID_SQL},
    emb2 AS (
      SELECT e.vec_id, e.embedding, asg.assigned_label AS cluster
      FROM embeddings e JOIN assigned asg ON e.vec_id = asg.vec_id
    ),
    dup_counts AS (
      SELECT b.vec_id,
             COUNT(*) AS n_earlier_dups,
             MAX({dot}) AS max_dot
      FROM emb2 a JOIN emb2 b
        ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      WHERE {dot} >= {_SEMDEDUP_TAU_FP}
      GROUP BY b.vec_id
    )
    SELECT e.vec_id,
           e.cluster AS cluster_id,
           coalesce(d.n_earlier_dups, 0) AS n_earlier_dups,
           {sql_cos_micros('coalesce(d.max_dot, 0)')}
             AS max_sim_micros,
           d.vec_id IS NULL AS kept
    FROM emb2 e LEFT JOIN dup_counts d ON e.vec_id = d.vec_id
    """


@register("llm_semdedup_pipeline", oracle=_semdedup_pipeline_oracle())
def llm_semdedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL SemDeDup pipeline, end to end in one registered key:
    stage 1 clusters the corpus with a k-means E-step (exact
    fixed-point centroids per ground-truth label, then every vector
    re-ASSIGNED to its nearest centroid — exactly llm_centroid_assign's
    assignment, so some vectors land in a different cluster than their
    label), stage 2 runs the per-cluster Arrow near-dup scorer over
    the ASSIGNED clusters. llm_semdedup demonstrates stage 2 against
    the fixture's given clusters; this key proves the composition —
    what a production corpus run executes when no clustering exists
    up front.

    Exactness chain is the union of its parts: 1e9 fixed-point
    centroid means, 1e12 fixed-point squared distances, argmin by
    integer with c_label tie-break (llm_centroid_assign's contract),
    then the _score_cluster fixed-point pair dots — every stage
    bit-stable cross-engine, so cluster membership and dup verdicts
    hash-match end to end.

    Scale: centroids are a k x dim aggregate BROADCAST back (constant
    size); assignment is one linear pass; the pair stage shuffles once
    on the assigned cluster and is quadratic in cluster size only —
    at 100 TB, k grows with n so clusters stay task-sized (the paper's
    own scaling argument)."""
    from climateiq_pipelines_spark.functions.fixedpoint import (
        assign_nearest_centroid,
        cos_micros,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    # E-step shared with llm_centroid_assign (round-12 review: was a
    # ~25-line copy of its plan; the exactness contract both keys'
    # hashes depend on now lives once, next to its _CENTROID_SQL twin).
    # Second diamond: emb2 feeds the Arrow scorer AND the final join —
    # checkpoint the small per-vector assignment so the whole distance/
    # argmin subtree runs once, not once per consumer.
    assigned = checkpoint(
        assign_nearest_centroid(emb)
        .select("vec_id", F.col("c_label").alias("cluster")),
        eager=False,
    )
    emb2 = emb.select("vec_id", "embedding").join(assigned, "vec_id")
    dup_counts = emb2.groupBy("cluster").applyInPandas(
        _score_cluster, "vec_id long, n_earlier_dups long, max_dot long"
    )
    return (
        emb2.select("vec_id", F.col("cluster").alias("cluster_id"))
        .join(dup_counts, "vec_id", "left")
        .select(
            "vec_id",
            "cluster_id",
            F.coalesce(F.col("n_earlier_dups"), F.lit(0)).alias(
                "n_earlier_dups"
            ),
            cos_micros(F.coalesce(F.col("max_dot"), F.lit(0))).alias(
                "max_sim_micros"
            ),
            F.col("n_earlier_dups").isNull().alias("kept"),
        )
    )


_CHUNK_W = 10  # words per chunk
_CHUNK_MIN_DOCS = 2  # chunk seen in >= this many distinct docs => boilerplate


def _chunk_dedup_oracle() -> str:
    return f"""
    WITH ws AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), w -> w <> '') AS ws
      FROM documents
    ),
    chunks AS (
      SELECT doc_id,
             array_to_string(
               ws[({_CHUNK_W} * i + 1):({_CHUNK_W} * i + {_CHUNK_W})], ' ')
               AS chunk
      FROM ws, UNNEST(range(CAST(ceil(len(ws) / {_CHUNK_W}.0) AS BIGINT)))
             AS t(i)
    ),
    boiler AS (
      SELECT chunk FROM chunks
      GROUP BY chunk HAVING COUNT(DISTINCT doc_id) >= {_CHUNK_MIN_DOCS}
    ),
    perdoc AS (
      SELECT c.doc_id,
             COUNT(*) AS n_chunks,
             COUNT(*) FILTER (WHERE b.chunk IS NOT NULL) AS n_boiler
      FROM chunks c LEFT JOIN boiler b ON c.chunk = b.chunk
      GROUP BY c.doc_id
    )
    SELECT doc_id,
           CAST(n_chunks AS BIGINT) AS n_chunks,
           CAST(n_boiler AS BIGINT) AS n_boilerplate,
           CAST(((n_chunks - n_boiler) * 1000000) // n_chunks AS BIGINT)
             AS kept_micro
    FROM perdoc
    """


@register("llm_chunk_dedup", oracle=_chunk_dedup_oracle())
def llm_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHUNK-LEVEL BOILERPLATE DEDUP — the paragraph/line-dedup stage
    of web-corpus pipelines (CCNet's per-paragraph hash dedup,
    RefinedWeb's line-level removal): split every document into
    consecutive 10-word chunks (the fixture corpus has no newlines,
    so fixed-width word windows stand in for paragraphs), mark any
    chunk that occurs in >= 2 DISTINCT documents as boilerplate,
    and emit per-doc chunk counts plus the kept fraction in exact
    integer micro-units ((kept * 1e6) DIV total — floor division on
    both engines, no float in the hash). Exact-duplicate documents
    make every one of their chunks boilerplate, so the key subsumes
    doc-level exact dedup while additionally catching shared
    headers/footers pasted into otherwise-unique docs.

    Plan: chunking is a ZERO-SHUFFLE map (slice over the filtered
    word array by index — the llm_dsir_weights gram discipline); the
    exploded chunk stream collapses map-side into per-(doc, chunk)
    rows; the boilerplate set is a chunk-keyed aggregate whose
    distinct-doc count piggybacks on the same shuffle; the verdict
    join is chunk-keyed and AQE-sized. At 100 TB chunks hash to
    8-byte keys before the shuffle (xxhash64 here keeps the text
    out of the exchange on the JOIN side too — both engines compare
    equality on the raw chunk, so the key uses the raw string; a
    production run would pre-hash)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ws = F.filter(F.split(F.col("text"), " "), lambda w: w != "")
    arr = docs.select("doc_id", ws.alias("ws"))
    # sequence(0, n-1) DESCENDS when n = 0 (empty doc) — guard to an
    # empty chunk list, mirroring DuckDB's range(0) = [].
    chunks_expr = F.when(
        F.size("ws") > 0,
        F.expr(
            f"transform(sequence(0, cast(ceil(size(ws) / {_CHUNK_W}.0)"
            f" as int) - 1), i -> array_join(slice(ws, {_CHUNK_W} * i + 1,"
            f" {_CHUNK_W}), ' '))"
        ),
    ).otherwise(F.expr("array()"))
    chunks = arr.select(
        "doc_id", F.explode(chunks_expr).alias("chunk")
    )
    per_doc_chunk = chunks.groupBy("doc_id", "chunk").agg(
        F.count(F.lit(1)).alias("n")
    )
    boiler = (
        per_doc_chunk.groupBy("chunk")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= _CHUNK_MIN_DOCS)
        .select("chunk", F.lit(True).alias("is_boiler"))
    )
    verdicts = per_doc_chunk.join(boiler, "chunk", "left")
    per_doc = verdicts.groupBy("doc_id").agg(
        F.sum("n").alias("n_chunks"),
        F.coalesce(
            F.sum(F.when(F.col("is_boiler"), F.col("n"))), F.lit(0)
        ).alias("n_boilerplate"),
    )
    return per_doc.select(
        "doc_id",
        "n_chunks",
        "n_boilerplate",
        F.expr(
            "((n_chunks - n_boilerplate) * 1000000) div n_chunks"
        ).cast("long").alias("kept_micro"),
    )


_LM_SELECT_MILLIBITS = 9500  # mean token log2-count cut, in millibits


def _unigram_logprob_oracle() -> str:
    return f"""
    WITH words AS (
      SELECT doc_id, w FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w
        FROM documents)
      WHERE w <> ''
    ),
    dw AS (
      SELECT doc_id, w, COUNT(*) AS n FROM words GROUP BY doc_id, w
    ),
    vocab AS (
      SELECT w, SUM(n) AS cnt FROM dw GROUP BY w
    )
    SELECT doc_id,
           CAST(SUM(n) AS BIGINT) AS n_tokens,
           CAST(SUM(n * length(bin(cnt))) AS BIGINT) AS sum_bits,
           CAST((SUM(n * length(bin(cnt))) * 1000) // SUM(n) AS BIGINT)
             AS mean_millibits,
           (SUM(n * length(bin(cnt))) * 1000) // SUM(n)
             >= {_LM_SELECT_MILLIBITS} AS selected
    FROM dw JOIN vocab USING (w)
    GROUP BY doc_id
    """


@register("llm_unigram_logprob", oracle=_unigram_logprob_oracle())
def llm_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNIGRAM LM QUALITY SCORE — the perplexity-lite corpus filter
    (CCNet ranks documents by language-model score; the cheap seed
    version is a corpus-trained unigram model): train token counts on
    the corpus itself, score each document by its mean per-token
    log2(count), and cut on a fixed threshold — documents of common,
    well-distributed tokens score high; rare-token/noise documents
    score low. The log2 is INTEGER log2: length(bin(cnt)) =
    floor(log2(cnt)) + 1 on both engines (string length of the binary
    rendering — no libm, no ulp risk), the per-doc mean is integer
    millibits via floor division, and the selection boolean compares
    integers, so every output is bit-stable cross-engine.

    Plan: the word stream is scanned ONCE and collapsed map-side into
    (doc, word, n) counts (the llm_dsir_weights single-pass
    discipline, localCheckpoint for the same AQE-broadcast-boundary
    reason); the vocabulary derives from that small relation; the
    score join broadcasts the vocabulary-sized count table; the final
    per-doc aggregate shuffles on doc_id once. At 100 TB the vocab
    table is Zipf-bounded (vocabulary grows ~n^0.5), and the count
    magnitudes stay within the int64 bit-budget forever (sum_bits <=
    64 * n_tokens)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ws = F.filter(F.split(F.col("text"), " "), lambda w: w != "")
    words = docs.select("doc_id", F.explode(ws).alias("w"))
    # Materialized once: the vocab side feeds a broadcast subtree
    # and AQE will not reuse a shuffle exchange across that
    # boundary (the llm_dsir_weights precedent) — without this the
    # word explode runs twice.
    dw = checkpoint(
        words.groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("n")),
        eager=False,
    )
    vocab = dw.groupBy("w").agg(F.sum("n").alias("cnt"))
    # Vocabulary grows with the corpus (Heaps ~n^0.5), so the broadcast
    # is gated on the measured vocab size (the hint
    # bypasses autoBroadcastJoinThreshold, and an ungated broadcast of
    # a 100 TB corpus's vocab pins hundreds of MB per executor); above
    # the bound the join shuffles on w — the standard plan.  The count
    # is memoized until the next release, so repeated calls skip the
    # probe action.
    if memo("gate:unigram_vocab", sf_dir, vocab.count) <= 2_000_000:
        vocab = F.broadcast(vocab)
    bits = F.length(F.bin(F.col("cnt")))
    return (
        dw.join(vocab, "w")
        .groupBy("doc_id")
        .agg(
            F.sum("n").alias("n_tokens"),
            F.sum(F.col("n") * bits).alias("sum_bits"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "sum_bits",
            F.expr("(sum_bits * 1000) div n_tokens").cast("long").alias(
                "mean_millibits"
            ),
            (
                F.expr("(sum_bits * 1000) div n_tokens")
                >= _LM_SELECT_MILLIBITS
            ).alias("selected"),
        )
    )


_BPE_TOPK = 10

_BPE_ORACLE = f"""
    WITH words AS (
      SELECT w, COUNT(*) AS wc FROM (
        SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE w <> '' GROUP BY w
    ),
    chars AS (
      SELECT w, wc, regexp_extract_all(w, '.') AS cs FROM words
    ),
    pairs AS (
      SELECT cs[i + 1] || '_' || cs[i + 2] AS pair, wc
      FROM chars,
           UNNEST(range(greatest(len(cs) - 1, 0))) AS t(i)
    ),
    pc AS (SELECT pair, SUM(wc) AS n FROM pairs GROUP BY pair)
    SELECT pair, CAST(n AS BIGINT) AS n_occurrences,
           CAST(rk AS INTEGER) AS rank
    FROM (
      SELECT pair, n, row_number() OVER (ORDER BY n DESC, pair) AS rk
      FROM pc
    ) WHERE rk <= {_BPE_TOPK}
"""


@register("llm_bpe_pair_stats", oracle=_BPE_ORACLE)
def llm_bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE MERGE-CANDIDATE DISCOVERY — the statistics pass of a BPE
    tokenizer-training iteration (Sennrich et al. 2016): count every
    adjacent symbol pair across the corpus, weighted by word
    frequency, and rank the top merge candidates; the argmax pair IS
    the merge a BPE step would learn. Overlapping adjacency is the
    paper's own counting ('aaa' contributes (a,a) twice), reproduced
    exactly by indexing the char array. The top-10 carries a total
    order (count desc, pair asc) so frequency ties can never flip
    the result set between engines.

    Plan: the corpus collapses FIRST to (word, count) — the symbol
    work then runs once per distinct word, not once per token (the
    standard BPE-training trick; vocabulary is Zipf-bounded, so this
    is the big win at 100 TB); char splitting and pair formation are
    zero-shuffle array ops inside codegen; pair counts combine
    map-side to |distinct pairs| ≤ |alphabet|² rows; the rank window
    runs over that bounded relation. Iterating the full merge loop
    re-segments with the learned merge and repeats — each iteration
    is this exact plan over a rewritten symbol column."""
    docs = load_table(spark, sf_dir, "documents").select("text")
    ws = F.filter(F.split(F.col("text"), " "), lambda w: w != "")
    words = (
        docs.select(F.explode(ws).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    chars = words.select(
        "wc", F.expr("regexp_extract_all(w, '.', 0)").alias("cs")
    )
    pair_arr = F.when(
        F.size("cs") >= 2,
        F.expr(
            "transform(sequence(0, size(cs) - 2),"
            " i -> concat(cs[i], '_', cs[i + 1]))"
        ),
    ).otherwise(F.expr("array()"))
    pairs = chars.select("wc", F.explode(pair_arr).alias("pair"))
    pc = pairs.groupBy("pair").agg(F.sum("wc").alias("n"))
    rw = W.orderBy(F.desc("n"), F.asc("pair"))
    return (
        pc.withColumn("rank", F.row_number().over(rw))
        .filter(F.col("rank") <= _BPE_TOPK)
        .select(
            "pair",
            F.col("n").alias("n_occurrences"),
            F.col("rank").cast("int"),
        )
    )


def _bpe_fold_case(endswith_fn: str) -> str:
    """The merge-application fold body, shared semantics on both
    engines (only the endswith function NAME differs): walking the
    char list left to right, if the accumulated token string ends
    with the merge's first symbol and the next char is its second,
    fuse them — the paper's greedy non-overlapping application
    ('aaa' under (a,a) -> [aa, a], never [a, aa] or [aa, aa]).
    Tokens are chr(31)-separated in the accumulator (a byte no
    fixture text contains), so the exact-token suffix test can never
    false-positive on a token that merely ENDS with symbol a."""
    return (
        f"CASE WHEN {endswith_fn}(acc, chr(31) || a) AND c = b "
        "THEN substr(acc, 1, length(acc) - length(a) - 1)"
        " || chr(31) || a || b "
        "ELSE acc || chr(31) || c END"
    )


_BPE2_ORACLE = f"""
    WITH words AS (
      SELECT w, COUNT(*) AS wc FROM (
        SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE w <> '' GROUP BY w
    ),
    chars AS (
      SELECT w, wc, regexp_extract_all(w, '.') AS cs FROM words
    ),
    p1 AS (
      SELECT cs[i + 1] AS a, cs[i + 2] AS b, SUM(wc) AS n
      FROM chars, UNNEST(range(greatest(len(cs) - 1, 0))) AS t(i)
      GROUP BY a, b
    ),
    top1 AS (
      SELECT a, b FROM p1 ORDER BY n DESC, a, b LIMIT 1
    ),
    applied AS (
      SELECT wc,
             string_split(substr(
               list_reduce(list_prepend('', cs),
                 (acc, c) -> {_bpe_fold_case("ends_with")}), 2),
               chr(31)) AS cs2
      FROM chars, top1
    ),
    p2 AS (
      SELECT cs2[i + 1] || '_' || cs2[i + 2] AS pair, SUM(wc) AS n
      FROM applied, UNNEST(range(greatest(len(cs2) - 1, 0))) AS t(i)
      GROUP BY pair
    )
    SELECT (SELECT a || '_' || b FROM top1) AS applied_merge,
           pair, CAST(n AS BIGINT) AS n_occurrences,
           CAST(rk AS INTEGER) AS rank
    FROM (
      SELECT pair, n, row_number() OVER (ORDER BY n DESC, pair) AS rk
      FROM p2
    ) WHERE rk <= {_BPE_TOPK}
"""


@register("llm_bpe_apply_merge", oracle=_BPE2_ORACLE)
def llm_bpe_apply_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A FULL BPE TRAINING ITERATION, composed end to end: discover
    the argmax merge pair (llm_bpe_pair_stats' statistics), APPLY it
    to the vocabulary with the paper's greedy left-to-right
    non-overlapping rule, and re-count pair statistics over the new
    symbol sequences — the top-10 of iteration 2, with the applied
    merge pinned in every row. Application is a string FOLD over each
    word's char list (aggregate() on Spark, list_reduce() on DuckDB —
    same lambda body modulo the endswith spelling, chr(31) token
    separator so suffix tests are exact-token), run once per DISTINCT
    word; 'aaa' under merge (a,a) correctly yields [aa, a].

    Proves the training loop composes: iterating this plan k times
    (re-segment with each learned merge) IS BPE training; each
    iteration stays vocabulary-sized after the initial corpus
    collapse, which is what makes tokenizer training tractable at
    100 TB (the corpus is touched once; every iteration after that
    touches only (word, count) pairs). The fold is a JVM-interpreted
    higher-order function over ≤word-length lists — no Python, no
    shuffle; the 1-row argmax broadcast-crosses into the map stage
    (allowlisted, constant size)."""
    docs = load_table(spark, sf_dir, "documents").select("text")
    ws = F.filter(F.split(F.col("text"), " "), lambda w: w != "")
    words = (
        docs.select(F.explode(ws).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    chars = words.select(
        "wc", F.expr("regexp_extract_all(w, '.', 0)").alias("cs")
    )
    idx = F.when(
        F.size("cs") >= 2,
        F.expr("sequence(0, size(cs) - 2)"),
    ).otherwise(F.expr("array()"))
    p1 = (
        chars.select("wc", "cs", F.explode(idx).alias("i"))
        .select(
            F.expr("cs[i]").alias("a"),
            F.expr("cs[i + 1]").alias("b"),
            "wc",
        )
        .groupBy("a", "b")
        .agg(F.sum("wc").alias("n"))
    )
    top1 = p1.orderBy(F.desc("n"), F.asc("a"), F.asc("b")).limit(1).select(
        "a", "b"
    )
    applied = chars.crossJoin(F.broadcast(top1)).select(
        "wc",
        F.split(
            F.expr(
                "substr(aggregate(cs, '',"
                f" (acc, c) -> {_bpe_fold_case('endswith')}), 2)"
            ),
            chr(31),
        ).alias("cs2"),
        F.concat_ws("_", "a", "b").alias("applied_merge"),
    )
    idx2 = F.when(
        F.size("cs2") >= 2,
        F.expr("sequence(0, size(cs2) - 2)"),
    ).otherwise(F.expr("array()"))
    p2 = (
        applied.select(
            "wc", "cs2", "applied_merge", F.explode(idx2).alias("i")
        )
        .select(
            "applied_merge",
            F.expr("concat(cs2[i], '_', cs2[i + 1])").alias("pair"),
            "wc",
        )
        .groupBy("applied_merge", "pair")
        .agg(F.sum("wc").alias("n"))
    )
    rw = W.orderBy(F.desc("n"), F.asc("pair"))
    return (
        p2.withColumn("rank", F.row_number().over(rw))
        .filter(F.col("rank") <= _BPE_TOPK)
        .select(
            "applied_merge",
            "pair",
            F.col("n").alias("n_occurrences"),
            F.col("rank").cast("int"),
        )
    )


_HEAPS_BUCKETS = 10

_HEAPS_ORACLE = f"""
    WITH ws AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), w -> w <> '') AS ws
      FROM documents
    ),
    grams AS (
      SELECT doc_id, ws[i + 1] || '_' || ws[i + 2] AS w
      FROM ws, UNNEST(range(greatest(len(ws) - 1, 0))) AS t(i)
    ),
    firsts AS (
      SELECT w, MIN(doc_id) AS first_doc FROM grams GROUP BY w
    ),
    span AS (SELECT MAX(doc_id) + 1 AS n_docs FROM grams),
    bucketed AS (
      SELECT CAST((first_doc * {_HEAPS_BUCKETS}) // n_docs AS INTEGER)
               AS bucket
      FROM firsts, span
    ),
    per AS (
      SELECT bucket, COUNT(*) AS n_new_types
      FROM bucketed GROUP BY bucket
    )
    SELECT bucket,
           CAST(n_new_types AS BIGINT) AS n_new_types,
           CAST(SUM(n_new_types) OVER (ORDER BY bucket
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_types
    FROM per
"""


@register("llm_heaps_vocab_growth", oracle=_HEAPS_ORACLE)
def llm_heaps_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VOCABULARY GROWTH CURVE (Heaps' law) — how many NEW types each
    slice of the corpus contributes, the statistic that sizes
    tokenizer vocabularies and detects corpus drift (a slice adding
    anomalously many new types is a domain shift or an encoding bug).
    Types are word BIGRAMS (the fixture's unigram vocabulary is ~31
    words and saturates in the first document; bigrams give a real
    growth curve while exercising the same first-occurrence shape).
    Each type attributes to the bucket of its FIRST-occurrence doc
    (min doc_id over the corpus — deterministic, order-free), buckets
    are integer doc-id deciles, and the cumulative curve is a running
    sum over the 10-row bucket relation.

    Plan: one (type → min doc) aggregate — vocabulary-sized after the
    map-side combine — then a 10-row bucket aggregate and a window
    over THAT; the only data-sized shuffle is the type grouping. At
    100 TB the first-occurrence aggregate is exactly the exact-dedup
    shape; nothing here grows beyond the vocabulary."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ws = F.filter(F.split(F.col("text"), " "), lambda w: w != "")
    arr = docs.select("doc_id", ws.alias("ws"))
    bigrams = F.when(
        F.size("ws") >= 2,
        F.expr(
            "transform(sequence(0, size(ws) - 2),"
            " i -> concat(ws[i], '_', ws[i + 1]))"
        ),
    ).otherwise(F.expr("array()"))
    grams = arr.select("doc_id", F.explode(bigrams).alias("w"))
    firsts = grams.groupBy("w").agg(F.min("doc_id").alias("first_doc"))
    span = grams.agg((F.max("doc_id") + 1).alias("n_docs"))
    per = (
        firsts.crossJoin(F.broadcast(span))
        .select(
            F.expr(
                f"cast((first_doc * {_HEAPS_BUCKETS}) div n_docs as int)"
            ).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_new_types"))
    )
    cw = (
        W.orderBy("bucket").rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return per.select(
        "bucket",
        "n_new_types",
        F.sum("n_new_types").over(cw).alias("cum_types"),
    )


_MANIFEST_ORACLE = """
    WITH sig AS (
      SELECT doc_id, lang, source, text,
             len(list_filter(string_split(text, ' '), w -> w <> ''))
               AS n_tokens,
             MIN(doc_id) OVER (PARTITION BY md5(text)) AS canon_id
      FROM documents
    )
    SELECT lang, source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           CAST(MIN(n_tokens) AS BIGINT) AS min_tokens,
           CAST(MAX(n_tokens) AS BIGINT) AS max_tokens,
           CAST(COUNT(*) FILTER (WHERE doc_id <> canon_id) AS BIGINT)
             AS n_exact_dups,
           CAST((COUNT(*) FILTER (WHERE doc_id = canon_id)) * 1000000
                // COUNT(*) AS BIGINT) AS unique_micro
    FROM sig GROUP BY lang, source
"""


@register("llm_dataset_manifest", oracle=_MANIFEST_ORACLE)
def llm_dataset_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATASET MANIFEST ("dataset card" statistics) — the release
    artifact every corpus ships with: per (lang, source) stratum, the
    document and exact-token counts, token-length extrema, how many
    documents are exact duplicates of an earlier one (md5-digest
    canonical-min attribution, llm_exact_dedup's contract), and the
    unique fraction in integer micro-units. This is the table a data
    consumer reads before training, and the drift monitor diffs
    between corpus versions.

    Plan: one scan computes tokens and the digest; the canonical-id
    window partitions by digest (the dedup shuffle); the stratum
    aggregate collapses map-side onto |lang|×|source| rows. All
    counts and the floor-division fraction are pure integers — no
    float anywhere. At 100 TB this is exactly the exact-dedup pass
    with a manifest aggregation bolted on; production runs emit it
    as a side output of the dedup job instead of a second scan."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "text"
    )
    ws = F.filter(F.split(F.col("text"), " "), lambda w: w != "")
    dw = W.partitionBy(F.md5("text"))
    sig = docs.select(
        "doc_id",
        "lang",
        "source",
        F.size(ws).alias("n_tokens"),
        F.min("doc_id").over(dw).alias("canon_id"),
    )
    is_canon = F.col("doc_id") == F.col("canon_id")
    return sig.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.min("n_tokens").alias("min_tokens"),
        F.max("n_tokens").alias("max_tokens"),
        F.count(F.when(~is_canon, 1)).alias("n_exact_dups"),
        F.expr(
            "(count(case when doc_id = canon_id then 1 end) * 1000000)"
            " div count(*)"
        ).alias("unique_micro"),
    )


_ZIPF_ORACLE = """
    WITH vocab AS (
      SELECT w, COUNT(*) AS cnt FROM (
        SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE w <> '' GROUP BY w
    ),
    ranked AS (
      SELECT CAST(floor(log2(CAST(row_number() OVER (
                    ORDER BY cnt DESC, w) AS DOUBLE)) * 1000000)
                  AS BIGINT) AS x,
             CAST(floor(log2(CAST(cnt AS DOUBLE)) * 1000000)
                  AS BIGINT) AS y
      FROM vocab
    ),
    s AS (
      SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * x) AS sxx, SUM(x * y) AS sxy
      FROM ranked
    )
    SELECT CAST(n AS BIGINT) AS n_types,
           CASE WHEN n * sxx - sx * sx <> 0 THEN
             round(CAST(n * sxy - sx * sy AS DOUBLE)
                   / CAST(n * sxx - sx * sx AS DOUBLE), 6) END AS zipf_slope,
           CASE WHEN n * sxx - sx * sx <> 0 THEN
             round((CAST(sy AS DOUBLE)
                    - CAST(n * sxy - sx * sy AS DOUBLE)
                      / CAST(n * sxx - sx * sx AS DOUBLE)
                      * CAST(sx AS DOUBLE)) / n / 1000000.0, 6)
           END AS log2_intercept
    FROM s
"""


@register("llm_zipf_fit", oracle=_ZIPF_ORACLE)
def llm_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZIPF RANK-FREQUENCY FIT — the corpus-health diagnostic: regress
    log2(frequency) on log2(rank) over the vocabulary; natural text
    sits near slope −1, and a corpus whose slope drifts (template
    spam flattens it, aggressive dedup steepens it) fails its intake
    gate. Each log2 is floored to int64 micros PER ROW (the BM25 ln
    discipline — the libm value enters all downstream arithmetic as
    an integer), the moment sums are exact int64 (|x| ≤ 25·10⁶ and
    the vocabulary is Zipf-bounded, so Σx² stays far under 2⁶³), and
    the closed-form slope/intercept divide exact integers through one
    IEEE tree, rounded at the boundary (agg_linear_fit's recipe over
    log-space).

    Plan: vocabulary aggregate (the one data-sized shuffle), a rank
    window over the vocabulary-sized relation, and a 1-row moment
    aggregate. The rank window is unpartitioned but runs over the
    VOCABULARY, not the corpus — Zipf-bounded by the very law being
    fitted."""
    docs = load_table(spark, sf_dir, "documents").select("text")
    ws = F.filter(F.split(F.col("text"), " "), lambda w: w != "")
    vocab = (
        docs.select(F.explode(ws).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    rw = W.orderBy(F.desc("cnt"), F.asc("w"))
    ranked = vocab.select(
        F.floor(
            F.log2(F.row_number().over(rw).cast("double")) * 1_000_000
        ).alias("x"),
        F.floor(F.log2(F.col("cnt").cast("double")) * 1_000_000).alias(
            "y"
        ),
    )
    s = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n, sx, sy, sxx, sxy = (
        F.col(c) for c in ["n", "sx", "sy", "sxx", "sxy"]
    )
    num = (n * sxy - sx * sy).cast("double")
    den_i = n * sxx - sx * sx
    # ADVICE r6: a single-type vocabulary makes the denominator 0 —
    # guard like agg_linear_fit so degenerate corpora yield NULL on
    # both engines instead of engine-divergent 0/0 NaN.
    slope = F.when(den_i != 0, num / den_i.cast("double"))
    return s.select(
        n.alias("n_types"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round(
            (sy.cast("double") - slope * sx.cast("double"))
            / n
            / F.lit(1e6),
            6,
        ).alias("log2_intercept"),
    )


_INCR_MOD = 5  # doc_id % 5 == 0 -> new batch; else existing corpus

_INCR_ORACLE = f"""
    WITH sig AS (
      SELECT doc_id, md5(text) AS dg,
             doc_id % {_INCR_MOD} = 0 AS in_batch
      FROM documents
    ),
    corpus AS (SELECT DISTINCT dg FROM sig WHERE NOT in_batch),
    batch AS (
      SELECT doc_id, dg,
             MIN(doc_id) OVER (PARTITION BY dg) AS first_in_batch
      FROM sig WHERE in_batch
    )
    SELECT b.doc_id,
           CASE WHEN c.dg IS NOT NULL THEN 'dup_of_corpus'
                WHEN b.doc_id <> b.first_in_batch THEN 'dup_in_batch'
                ELSE 'new' END AS verdict
    FROM batch b LEFT JOIN corpus c ON b.dg = c.dg
"""


@register("llm_incremental_dedup", oracle=_INCR_ORACLE)
def llm_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL (batch-vs-corpus) DEDUP — the shape every
    PRODUCTION ingest actually runs: a new crawl batch is deduped
    against the already-accepted corpus AND within itself, never by
    re-deduping the whole corpus. Per new document the verdict is
    `dup_of_corpus` (digest already accepted — corpus match wins even
    if the batch also repeats it), `dup_in_batch` (an earlier batch
    doc has the same digest — keep-first within the batch), or `new`.
    The doc_id split stands in for the time axis; the digest is the
    llm_exact_dedup contract.

    Plan: ONE scan splits both sides; the corpus side reduces to its
    DISTINCT digest set before the join (the membership structure —
    at 100 TB this is the persisted digest index, a bloom-filter
    front absorbs the 99% misses, and the batch never touches corpus
    text); the within-batch check is a digest-partitioned min window
    over the BATCH only. Batch work scales with |batch|, corpus work
    with |distinct digests| — never |corpus| text."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sig = docs.select(
        "doc_id",
        F.md5("text").alias("dg"),
        (F.col("doc_id") % _INCR_MOD == 0).alias("in_batch"),
    )
    corpus = (
        sig.filter(~F.col("in_batch"))
        .select("dg")
        .distinct()
        .withColumn("in_corpus", F.lit(True))
    )
    bw = W.partitionBy("dg")
    batch = sig.filter(F.col("in_batch")).select(
        "doc_id", "dg", F.min("doc_id").over(bw).alias("first_in_batch")
    )
    return batch.join(corpus, "dg", "left").select(
        "doc_id",
        F.when(F.col("in_corpus"), F.lit("dup_of_corpus"))
        .when(F.col("doc_id") != F.col("first_in_batch"), "dup_in_batch")
        .otherwise("new")
        .alias("verdict"),
    )
