"""Round-3 vector/text extensions — loaded after the driver's 50-entry
correctness window (plans.load_all); covered by tools/driver_sim.py.

- ``llm_simhash_multiprobe``: multi-probe LSH — the standard recall
  dial for bucketed ANN, here with an EXACT oracle (probing Hamming-1
  buckets is provably equivalent to pairing signatures with
  Hamming(sig) ≤ 1, which the all-pairs SQL twin states directly).
- ``llm_text_normalize``: C4-style text normalization + before/after
  audit — the map-side cleaning stage that precedes every dedup/
  tokenize pass in a training-data pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from climateiq_pipelines_spark.functions.fixedpoint import (
    cos_micros,
    hyperplane_sig,
    sql_cos_micros,
)
from climateiq_pipelines_spark.operators.llm import (
    _cosine_topk_bucketed,
    _hyperplanes,
    _int_dot,
    _simhash_sig_sql,
    _sql_int_dot,
)
from climateiq_pipelines_spark.plans import register
from climateiq_pipelines_spark.registry import load_table
from climateiq_pipelines_spark.session import checkpoint


def _multiprobe_oracle() -> str:
    sig_expr = _simhash_sig_sql()
    dot = _sql_int_dot("a.embedding", "b.embedding")
    return f"""
    WITH sigs AS (
      SELECT vec_id, embedding, {sig_expr} AS signature FROM embeddings
    )
    SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           CAST(bit_count(xor(a.signature, b.signature)) AS BIGINT)
             AS sig_hamming,
           {sql_cos_micros(dot)} AS cos_micros
    FROM sigs a JOIN sigs b
      ON a.vec_id < b.vec_id
     AND bit_count(xor(a.signature, b.signature)) <= 1
    WHERE {dot} >= 200000000000
    """


@register("llm_simhash_multiprobe", oracle=_multiprobe_oracle())
def llm_simhash_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-PROBE simhash near-dup: llm_cosine_neardup restricted
    candidates to same-bucket pairs; this key also probes every
    Hamming-1 neighbor bucket (each vector emits its signature plus the
    8 one-bit flips as probe keys), then verifies with the exact
    integer dot at cos ≥ 0.2. Probing H-1 buckets ⇔ pairing signatures
    with Hamming distance ≤ 1 — an equivalence the oracle states
    directly, so the multiprobe plumbing is value-hash-proven, not
    heuristically sampled.

    Recall/cost: candidates grow ~(1+bits)× per vector vs single-bucket
    (9 probe rows here) while catching near-neighbors that a single
    hyperplane flip separated — the classic multi-probe trade
    (probe more, hash less). On the fixture the H-1 frontier adds pairs
    down to cos ≈ 0.2, hence the lower threshold than the same-bucket
    key's 0.3.

    Scale: the shuffle carries (probe_key, vec_id) — 9 rows of ~16
    bytes per vector; per-bucket joins stay quadratic in bucket size
    only. De-dup of pairs found via multiple shared probes happens on
    the (a_id, b_id) pair key BEFORE the expensive exact verify."""
    emb = load_table(spark, sf_dir, "embeddings")
    sig = hyperplane_sig(F.col("embedding"), _hyperplanes())
    sigs = emb.select("vec_id", "embedding", sig.alias("signature"))
    # query side probes its own bucket + the 8 Hamming-1 buckets
    probes = sigs.select(
        F.col("vec_id").alias("a_id"),
        F.col("signature").alias("a_sig"),
        F.explode(
            F.array(
                F.col("signature"),
                *[
                    F.col("signature").bitwiseXOR(F.lit(1 << j))
                    for j in range(8)
                ],
            )
        ).alias("probe_key"),
    )
    base = sigs.select(
        F.col("vec_id").alias("b_id"),
        F.col("signature").alias("b_sig"),
        F.col("signature").alias("probe_key"),
    )
    candidates = (
        probes.join(base, "probe_key")
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", "a_sig", "b_sig")
        .distinct()  # a H-0 pair is found by both sides' self-probes
    )
    av = emb.select(F.col("vec_id").alias("a_id"), F.col("embedding").alias("a_emb"))
    bv = emb.select(F.col("vec_id").alias("b_id"), F.col("embedding").alias("b_emb"))
    dot = _int_dot(F.col("a_emb"), F.col("b_emb"))
    return (
        candidates.join(av, "a_id")
        .join(bv, "b_id")
        .withColumn("dot_fp", dot)
        .filter(F.col("dot_fp") >= 2 * 10**11)
        .select(
            "a_id",
            "b_id",
            F.bit_count(F.col("a_sig").bitwiseXOR(F.col("b_sig")))
            .cast("long")
            .alias("sig_hamming"),
            cos_micros(F.col("dot_fp")).alias("cos_micros"),
        )
    )


def _cosine_topk_lsh_oracle() -> str:
    sig_expr = _simhash_sig_sql()
    dot = _sql_int_dot("a.embedding", "b.embedding")
    return f"""
    WITH sigs AS (
      SELECT vec_id, embedding, {sig_expr} AS signature FROM embeddings
    ),
    pairs AS (
      SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id, {dot} AS dot_fp
      FROM sigs a JOIN sigs b
        ON a.signature = b.signature AND a.vec_id <> b.vec_id
    )
    SELECT vec_id, neighbor_id,
           {sql_cos_micros('dot_fp')} AS cos_micros, rnk,
           'simhash_bucketed' AS method
    FROM (
      SELECT *, row_number() OVER (PARTITION BY vec_id
                                   ORDER BY dot_fp DESC, neighbor_id) AS rnk
      FROM pairs
    ) WHERE rnk <= 5
    """


@register("llm_cosine_topk_lsh", oracle=_cosine_topk_lsh_oracle())
def llm_cosine_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bucketed ANN plan that llm_cosine_topk auto-dispatches to
    above BLOCKNL_MAX_VECTORS, registered as its OWN hash-checked key:
    the oracle states the bucket-local semantics directly (per-query
    top-5 among same-signature vectors, exact integer-dot ranking), so
    the >10^5-vector path is value-verified at fixture scale rather
    than only contract-tested. Pure DataFrame plan — no driver
    materialization, no Python eval; shuffles carry (signature) then
    per-query scalar rows."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return _cosine_topk_bucketed(emb, k=5)


# The winnow SELECTION (k=8 char grams, w=4 windows, value-min, per-doc
# distinct) — ONE source for both winnow oracles (round-12 review: the
# fingerprint oracle carried a character-identical inline copy, so a
# parameter change had to land in two SQL texts and two DataFrame plans
# or the keys silently diverged).
_WINNOW_SEL_SQL = """
    positions AS (
      SELECT unnest(range(1, (SELECT max(length(text)) FROM documents) + 1))
        AS i
    ),
    wins AS (
      SELECT doc_id, CAST(i AS BIGINT) AS i,
             md5(substr(text, CAST(i AS INTEGER), 8)) AS win_hash,
             length(text) AS n
      FROM documents CROSS JOIN positions
      WHERE i <= greatest(1, length(text) - 7)
    ),
    windowed AS (
      SELECT doc_id, i, n,
             min(win_hash) OVER (PARTITION BY doc_id ORDER BY i
                                 ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)
               AS sel
      FROM wins
    ),
    selected AS (
      SELECT DISTINCT doc_id, sel
      FROM windowed
      WHERE i <= greatest(1, n - 7 - 3)
    )
"""


def _winnow_selected(docs: DataFrame) -> DataFrame:
    """Selected winnow fingerprints (doc_id, sel) — the DataFrame twin
    of _WINNOW_SEL_SQL, shared by llm_winnow_fingerprint and
    llm_winnow_neardup (round-12 review: this 20-line plan was
    copy-pasted in both builders)."""
    from pyspark.sql import Window as W

    wins = docs.select(
        "doc_id",
        F.length("text").alias("n"),
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.lit(1), F.length("text") - 7))
        ).alias("i"),
        "text",
    ).select(
        "doc_id",
        "n",
        F.col("i").cast("long").alias("i"),
        F.md5(F.expr("substr(text, i, 8)")).alias("win_hash"),
    )
    ww = W.partitionBy("doc_id").orderBy("i").rowsBetween(W.currentRow, 3)
    return (
        wins.withColumn("sel", F.min("win_hash").over(ww))
        .filter(F.col("i") <= F.greatest(F.lit(1), F.col("n") - 7 - 3))
        .select("doc_id", "sel")
        .distinct()
    )


@register(
    "llm_winnow_fingerprint",
    oracle=f"""
    WITH {_WINNOW_SEL_SQL.lstrip()}    SELECT doc_id,
           COUNT(*) AS n_fingerprints,
           min(sel) AS min_fingerprint,
           max(sel) AS max_fingerprint
    FROM selected
    GROUP BY doc_id
    """,
)
def llm_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE WINNOWING (the MOSS algorithm) — llm_fingerprint keeps two
    global extremes; this key keeps the MINIMUM k-gram hash of every
    sliding window of w=4 consecutive hashes (k=8 chars), deduplicated
    per document. The guarantee that makes winnowing the standard
    near-copy sketch: any shared substring of length ≥ w+k−1 = 11
    forces a shared selected fingerprint, while the sketch size drops
    to ~2/(w+1) of the k-gram count.

    Plan: position explode → md5 per window (all codegen) → one
    per-doc ordered window (rows between current and w−1 following,
    min) → distinct → per-doc stats. One shuffle on doc_id; the window
    is partitioned (never global). Ties on equal hashes resolve to the
    VALUE min, so selection is engine-exact. At corpus scale the
    selected (doc_id, fingerprint) relation feeds the same
    posting-list self-join as llm_ngram_jaccard to produce copy
    candidates."""
    docs = load_table(spark, sf_dir, "documents")
    selected = _winnow_selected(docs)
    return selected.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_fingerprints"),
        F.min("sel").alias("min_fingerprint"),
        F.max("sel").alias("max_fingerprint"),
    )


@register(
    "llm_winnow_neardup",
    oracle=f"""
    WITH {_WINNOW_SEL_SQL},
    sizes AS (SELECT doc_id, COUNT(*) AS n_sel FROM selected GROUP BY 1),
    sized AS (
      SELECT s.doc_id, s.sel, z.n_sel
      FROM selected s JOIN sizes z ON z.doc_id = s.doc_id
    )
    SELECT a_id, b_id, n_shared,
           round(n_shared * 1.0 / least(a_sel, b_sel), 6) AS containment
    FROM (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_shared,
             a.n_sel AS a_sel, b.n_sel AS b_sel
      FROM sized a JOIN sized b
        ON a.sel = b.sel AND a.doc_id < b.doc_id
      GROUP BY 1, 2, a.n_sel, b.n_sel
    )
    WHERE 2 * n_shared >= least(a_sel, b_sel)
    """,
)
def llm_winnow_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-candidate pairs by WINNOW-SKETCH CONTAINMENT — the second
    half of the MOSS pipeline: score = |shared fingerprints| / min
    sketch size, threshold 1/2 expressed as the integer comparison
    2·|∩| ≥ min (no float boundary ambiguity). The fixture's
    distribution is strongly bimodal (probed at sf0.01: 25 pairs at
    containment ≥ 0.8 — the planted copies — one at 0.56, the next
    mass under 0.5), so 0.5 sits in the gap; raw shared-count
    thresholds drown in the dense-vocabulary fixture's incidental
    8-char collisions (117k pairs share ≥1 fingerprint).

    Detects near-copies at SUBSTRING granularity: exact duplicates
    share their whole sketch; permutations share only fingerprints of
    preserved ≥ 11-char runs — ranking between exact dedup and
    token-set near-dup in strictness, the gap winnowing exists to fill.

    Plan: sketch sizes ride the fingerprint rows into the self-join
    (the llm_minhash_lsh pattern, no corpus-sized broadcast); the
    posting-list join runs over the already-2/(w+1)-compressed sketch.
    At 100 TB: hash the digest to 8 bytes pre-shuffle and stoplist
    fingerprints shared by >10^4 docs (boilerplate runs)."""
    docs = load_table(spark, sf_dir, "documents")
    selected = _winnow_selected(docs)
    sizes = selected.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sel"))
    # Same diamond as llm_ngram_jaccard (llm.py round-9 fix): the pair
    # self-join consumes `sized` on BOTH differently-aliased sides and
    # Catalyst does not reuse the exchange across them, so without
    # materialization the per-position md5 explode + window + distinct
    # lineage runs several times. One localCheckpoint of the compressed
    # sketch relation (~2/(w+1) of the k-gram rows) removes the
    # re-execution: measured 6.2-6.5 s -> 5.8 s warm at sf0.1 — modest
    # here because the wall is the posting-list join itself (11.7M
    # candidate groups from 8-char collisions; stage profile in
    # BASELINE.md round-10), which is exactly the cost the docstring's
    # 100 TB stoplist note is about. The checkpoint still removes 2-3
    # executions of the fingerprint lineage at any scale.
    sized = checkpoint(selected.join(sizes, "doc_id"))
    a = sized.select(
        F.col("doc_id").alias("a_id"), "sel", F.col("n_sel").alias("a_sel")
    )
    b = sized.select(
        F.col("doc_id").alias("b_id"), "sel", F.col("n_sel").alias("b_sel")
    )
    min_size = F.least("a_sel", "b_sel")
    return (
        a.join(b, "sel")
        .filter(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id", "a_sel", "b_sel")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(2 * F.col("n_shared") >= min_size)
        .select(
            "a_id",
            "b_id",
            "n_shared",
            F.round(F.col("n_shared") / min_size, 6).alias("containment"),
        )
    )


@register(
    "llm_text_normalize",
    oracle="""
    WITH norm AS (
      SELECT doc_id, lang,
             trim(regexp_replace(
               regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
               ' +', ' ', 'g')) AS norm_text,
             text
      FROM documents
    )
    SELECT doc_id, lang,
           length(text) AS n_chars_raw,
           length(norm_text) AS n_chars_norm,
           len(string_split(norm_text, ' ')) AS n_tokens_norm,
           md5(norm_text) AS norm_digest
    FROM norm
    """,
)
def llm_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style text normalization, fully map-side: lowercase →
    non-alphanumerics to spaces → whitespace collapse → trim, emitting
    per-doc before/after lengths, the normalized token count, and the
    md5 of the normalized text (the digest the exact-dedup stage keys
    on AFTER normalization — normalize-then-dedup catches
    case/punctuation variants that raw-text digests miss).

    Zero shuffles: this is the canonical first map stage of a 100 TB
    curation pipeline; every expression is codegen'd
    (lower/regexp_replace/length/md5)."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", " "),
            " +",
            " ",
        )
    )
    return docs.select(
        "doc_id",
        "lang",
        F.length("text").alias("n_chars_raw"),
        F.length(norm).alias("n_chars_norm"),
        F.size(F.split(norm, " ")).alias("n_tokens_norm"),
        F.md5(norm).alias("norm_digest"),
    )
