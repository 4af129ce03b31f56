"""LLM-data-pipeline operators (SURVEY.md §2.10) — 12 mandated keys + 1
bonus (llm_minhash_lsh, the banded plan, hash-checked against the same
oracle as the exact key).

Determinism spine: every similarity/distance number is computed as an
EXACT INTEGER — per-term floor(x·y·1e12) summed as int64 (float→double
conversion is exact, the double product is IEEE-identical cross-engine,
integer addition is associative) — then converted to double once at the
end. Rankings order by the integer, so top-k membership can never flip
on a last-ulp float disagreement between engines. |x·y|·1e12 ≤ 2.5e11
per term, ≤ 1.6e13 per 64-term vector — far inside int64.

Scale design (100 TB lens, per key in docstrings):
- dedup shuffles digests (md5), never full documents;
- the exact set-similarity keys (llm_minhash_neardup,
  llm_ngram_jaccard) join only PPJoin prefixes (_prefix_join:
  candidates ≤ Σ over elements of (docs whose prefix holds it)², each
  verified per pair in linear time); the bucketed keys — minhash+LSH banding (llm_minhash_lsh), hyperplane
  signatures (llm_simhash_bucket) — prune candidates before exact
  verify;
- centroid/assignment work broadcasts the small side (10×64 centroids)
  and never shuffles the vectors twice.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from climateiq_pipelines_spark.functions.textgrams import word_shingle_sets
from climateiq_pipelines_spark.plans import register
from climateiq_pipelines_spark.registry import (
    load_table,
    widen_if_narrow,
)
from climateiq_pipelines_spark.session import checkpoint, memo

# ---------------------------------------------------------------- helpers

# Fixed-point vector math lives in functions/fixedpoint.py (a module
# that registers nothing) so oracle builders elsewhere can import it at
# decoration time without side-effect-registering llm's 19 keys; the
# names are re-exported here for this module and its historical
# importers (vector_ext).
from climateiq_pipelines_spark.functions.fixedpoint import (  # noqa: E402
    _S12,
    _int_dot,
    _sql_int_dot,
    assign_nearest_centroid,
    blocknl_topk,
    cos_micros,
    fixed_mean_1e9,
    hyperplane_sig,
    sql_cos_micros,
)


_TOKS_SQL = """
    toks AS (
      SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
      FROM documents
    )
"""


def _tokens(docs: DataFrame) -> DataFrame:
    """Distinct (doc_id, token) pairs — the token-set view of the corpus."""
    return docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    ).distinct()


def _prefix_join(sets: DataFrame, prefix_len: str, pair_filter: str) -> DataFrame:
    """Exact set-overlap pairs by a prefix-filtered self-join (PPJoin).

    ``sets`` holds (doc_id, arr), arr a doc's DISTINCT elements; docs
    with an empty set drop out. Elements are ordered globally by
    (document frequency, element); each doc keeps the prefix of its
    first ``prefix_len`` elements (SQL text over its set size ``n``),
    with 0-based positions. Prefixes self-join on the element, keep
    a_id < b_id and ``pair_filter`` (SQL text over a_n, b_n, pa, pb),
    drop duplicate pairs, and every surviving pair is verified exactly:
    n_common = size(array_intersect(arr_a, arr_b)). Returns (a_id, b_id,
    a_n, b_n, n_common).

    Invariant: the caller's threshold must force every qualifying pair
    to share an element inside BOTH prefixes, and ``pair_filter`` must
    pass the pair's earliest such collision — then no qualifying pair
    is lost. Scale bound: candidates ≤ Σ over elements of (docs whose
    prefix holds it)²; frequent elements sort to the set tails and
    never enter a prefix, and each candidate is verified in time linear
    in its two sets. The sets are checkpointed because three branches
    read them (element explode and both verify sides)."""
    sized = checkpoint(
        sets.selectExpr("doc_id", "arr", "size(arr) AS n").where("n > 0")
    )
    el = sized.selectExpr("doc_id", "n", "explode(arr) AS el")
    # The df aggregate and the df join share one element-keyed exchange;
    # the prefix is a slice of the per-doc sorted (df, el) array — an
    # aggregate, not a window.
    df_rel = el.groupBy("el").agg(F.count(F.lit(1)).alias("df"))
    pref = (
        el.join(df_rel, "el")
        .groupBy("doc_id", "n")
        .agg(
            F.expr(
                "slice(sort_array(collect_list(struct(df, el))), 1,"
                f" {prefix_len})"
            ).alias("pref")
        )
        .selectExpr(
            "doc_id", "n", "posexplode(transform(pref, p -> p.el)) AS (pos, el)"
        )
    )
    a = pref.selectExpr("doc_id AS a_id", "el", "n AS a_n", "pos AS pa")
    b = pref.selectExpr("doc_id AS b_id", "el", "n AS b_n", "pos AS pb")
    cand = (
        a.join(b, "el")
        .where(f"a_id < b_id AND ({pair_filter})")
        .select("a_id", "b_id", "a_n", "b_n")
        .distinct()
    )
    return (
        cand.join(sized.selectExpr("doc_id AS a_id", "arr AS arr_a"), "a_id")
        .join(sized.selectExpr("doc_id AS b_id", "arr AS arr_b"), "b_id")
        .selectExpr(
            "a_id", "b_id", "a_n", "b_n",
            "size(array_intersect(arr_a, arr_b)) AS n_common",
        )
    )


# ------------------------------------------------------------ dedup family


@register(
    "llm_exact_dedup",
    oracle="""
    SELECT md5(text) AS text_digest,
           min(doc_id) AS keeper_doc_id,
           COUNT(*) AS n_copies,
           min(n_chars) AS n_chars
    FROM documents
    GROUP BY md5(text)
    """,
)
def llm_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup keyed on the md5 digest, keeping the min doc_id.
    Scale: the shuffle carries a 32-char digest per row instead of the
    document body — at 100 TB that is the difference between shuffling
    32 bytes and shuffling the corpus. Fixture ground truth: sf0.1 has
    5000 rows / 4992 distinct texts (FIXTURES.md)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy(F.md5("text").alias("text_digest")).agg(
        F.min("doc_id").alias("keeper_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
        F.min("n_chars").alias("n_chars"),
    )


_NEARDUP_ORACLE = f"""
    WITH {_TOKS_SQL},
    sizes AS (
      SELECT doc_id, COUNT(*) AS n_toks FROM toks GROUP BY doc_id
    ),
    overlap AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_common
      FROM toks a JOIN toks b ON a.token = b.token AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT a_id, b_id,
           round(n_common * 1.0 / (sa.n_toks + sb.n_toks - n_common), 6)
             AS jaccard
    FROM overlap
    JOIN sizes sa ON sa.doc_id = a_id
    JOIN sizes sb ON sb.doc_id = b_id
    WHERE n_common * 1.0 / (sa.n_toks + sb.n_toks - n_common) >= 0.999
"""


@register("llm_minhash_neardup", oracle=_NEARDUP_ORACLE)
def llm_minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs by exact token-set Jaccard (Jaccard is a
    ratio of integers, so the rounded value is engine-exact).

    Threshold 0.999 ≡ identical token sets: the fixture's planted
    near-dups are word-set-identical permutations (444 pairs at
    sf0.01); a 0.8 threshold on this 31-word vocabulary would match 30k
    semantically-unrelated pairs (probed), i.e. the vocabulary is too
    dense for loose set-Jaccard to mean 'near-duplicate'.

    Candidates come from :func:`_prefix_join` over each doc's distinct
    token array. Prefix length n − ⌈0.999·n⌉ + 1: J ≥ 0.999 gives
    |∩| ≥ 0.999·|∪| ≥ 0.999·n for both sides, so a pair whose first p
    tokens of A miss B would have |∩| ≤ n − p < ⌈0.999·n⌉ — every
    qualifying pair collides inside both prefixes. That prefix is ONE
    token, the doc's rarest, for any set under 1,000 tokens. The pair
    filter is the length bound min(a, b) ≥ 0.999·max(a, b) (|∩| ≤ min,
    |∪| ≥ max), in exact decimal arithmetic. Scale bound: candidates ≤
    Σ over tokens of (docs whose prefix holds it)², each verified in
    time linear in its two sets. At sf0.1 that is 582,972 candidates
    for 35,606 pairs, against 224M posting pairs for the unpruned
    self-join; llm_minhash_lsh is the banded plan over the same
    oracle."""
    docs = widen_if_narrow(
        spark, load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    ver = _prefix_join(
        docs.selectExpr("doc_id", "array_distinct(split(text, ' ')) AS arr"),
        "n - cast(ceil(0.999 * n) as int) + 1",
        "least(a_n, b_n) >= greatest(a_n, b_n) * 0.999",
    )
    jac = F.col("n_common") / (F.col("a_n") + F.col("b_n") - F.col("n_common"))
    return (
        ver.filter(jac >= 0.999)
        .select("a_id", "b_id", F.round(jac, 6).alias("jaccard"))
    )


@register("llm_minhash_lsh", oracle=_NEARDUP_ORACLE)
def llm_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH banding — the 100 TB near-dup plan, hash-checked
    against the SAME oracle as llm_minhash_neardup (so the pruning is
    proven lossless on the fixture, not just asserted):

    1. 16 MinHash signatures per doc, computed in ONE hash aggregate
       over the token relation (16 min(xxhash64(token, seed)) columns,
       seeds 0..15 as fixed literals, no runtime RNG) — one pass, one
       shuffle on doc_id; the earlier seeds-crossJoin formulation
       shuffled a 16×-exploded token relation (measured 2.2× slower at
       sf0.1, and 16× the shuffle bytes at any scale).
    2. Banding with b=1 band × r=16 rows: band key = XOR of
       xxhash64(seed, minhash) over all 16 rows (order-independent,
       overflow-free combine; an XOR collision only adds a false
       candidate, which step 4 removes).
    3. Candidate pairs = docs sharing the band key (self-join on the
       band table — shuffle is on band keys, one row per doc), then the
       LENGTH PREFILTER: J = |∩|/|∪| ≤ min(n_a,n_b)/max(n_a,n_b)
       (since |∩| ≤ min and |∪| ≥ max), so any pair with size ratio
       < 0.999 provably cannot reach the threshold — dropped before
       the expensive verify, losslessly, for ANY corpus.
    4. Exact token-set Jaccard verify on the surviving candidates.

    Why b=1, r=16: banding parameters must match the threshold
    (collision probability J^r per band). This key targets
    J ≥ 0.999 — on a ≤31-token vocabulary a non-identical set pair has
    J ≤ 30/31 ≈ 0.968, so only identical sets qualify, and identical
    sets collide with certainty ⇒ recall is exactly 1.0. The classic
    4×4 layout (targets J≈0.8) was MEASURED to collapse on this
    fixture: with 31 possible tokens most docs contain the token
    holding each seed's global-min hash, so 4-row bands collide almost
    everywhere — 6.2M candidates at sf0.1 vs ~36k true pairs. Dense
    tiny-vocab corpora need high-r bands (or stop-token removal);
    realistic shingled corpora (vocab 10^6+) are where low-r banding
    earns its keep."""
    docs = load_table(spark, sf_dir, "documents")
    # The token-set relation feeds three plan branches (signatures+sizes,
    # both verify sides). Recomputing the explode+distinct per branch is
    # measurably cheaper here than .cache() (whose per-call materialize +
    # store round-trip costs more than the explode, and whose entries
    # leak across calls); at 100 TB the branch reuse decision flips —
    # checkpoint/cache the token relation once per pipeline run.
    toks = _tokens(docs)
    sigs = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_toks"),
        *[F.min(F.xxhash64("token", F.lit(s))).alias(f"mh{s}") for s in range(16)],
    )
    band_key: Column = F.xxhash64(F.lit(0), F.col("mh0"))
    for s in range(1, 16):
        band_key = band_key.bitwiseXOR(F.xxhash64(F.lit(s), F.col(f"mh{s}")))
    bands = sigs.select("doc_id", "n_toks", band_key.alias("band_key"))
    left = bands.select(
        F.col("doc_id").alias("a_id"), F.col("n_toks").alias("a_toks"), "band_key"
    )
    right = bands.select(
        F.col("doc_id").alias("b_id"), F.col("n_toks").alias("b_toks"), "band_key"
    )
    candidates = (
        left.join(right, ["band_key"])
        .filter(F.col("a_id") < F.col("b_id"))
        .filter(
            F.least("a_toks", "b_toks") >= F.greatest("a_toks", "b_toks") * 0.999
        )
        .select("a_id", "b_id", "a_toks", "b_toks")
    )
    # Exact verify restricted to the length-compatible candidates; sizes
    # ride along on the candidate rows, so no post-verify dim joins.
    ta = toks.select(F.col("doc_id").alias("a_id"), "token")
    tb = toks.select(F.col("doc_id").alias("b_id"), "token")
    overlap = (
        candidates.join(ta, "a_id")
        .join(tb, ["b_id", "token"])
        .groupBy("a_id", "b_id", "a_toks", "b_toks")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    jac = F.col("n_common") / (F.col("a_toks") + F.col("b_toks") - F.col("n_common"))
    return (
        overlap.filter(jac >= 0.999)
        .select("a_id", "b_id", F.round(jac, 6).alias("jaccard"))
    )


# ------------------------------------------------------------- text family


@register(
    "llm_token_counts",
    oracle="""
    SELECT token, COUNT(*) AS n_occurrences,
           COUNT(DISTINCT doc_id) AS n_docs
    FROM (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    )
    GROUP BY token
    """,
)
def llm_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus term frequencies (explode → count). Map-side partial agg
    collapses the shuffle to |vocab|×partitions rows — the vocabulary
    (31 here, ~10^6 realistically) is the state bound, not the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    tokens = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    )
    return tokens.groupBy("token").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.countDistinct("doc_id").alias("n_docs"),
    )


_TFIDF_ORACLE = """
    WITH tf AS (
      SELECT doc_id, token, COUNT(*) AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
            FROM documents)
      GROUP BY doc_id, token
    ),
    dfreq AS (
      SELECT token, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, token FROM tf)
      GROUP BY token
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.token,
             round(tf.tf * (ln((n.n_docs + 1.0) / (dfreq.df + 1.0)) + 1.0), 9)
               AS tfidf
      FROM tf, dfreq, n
      WHERE tf.token = dfreq.token
    )
    SELECT doc_id, token, tfidf
    FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, token) AS rn
      FROM scored
    ) WHERE rn <= 5
"""


@register("llm_tfidf_topterms", oracle=_TFIDF_ORACLE)
def llm_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF with smoothed idf = ln((N+1)/(df+1)) + 1 (formula pinned
    identically in the oracle), top-5 terms per doc. The score is
    rounded to 9 dp BEFORE ranking so a last-ulp ln() divergence can
    never flip top-k membership; ties break on the token. Scale: df and
    N are broadcast (vocabulary-sized); the only corpus-sized shuffle
    is the (doc, token) tf aggregation."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(dfreq), "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "token",
            F.round(
                F.col("tf")
                * (
                    F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0))
                    + 1.0
                ),
                9,
            ).alias("tfidf"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("token"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("doc_id", "token", "tfidf")
    )


@register(
    "llm_text_stats",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_docs,
           (CAST(SUM(n_chars) AS DOUBLE) / COUNT(*)) AS avg_chars,
           round(quantile_cont(n_chars, 0.5), 6) AS p50_chars,
           COUNT(*) FILTER (WHERE length(text) = n_chars) AS n_len_ok
    FROM documents
    GROUP BY lang
    """,
)
def llm_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus stats + the length(text)=n_chars validation
    (a data-quality assertion: FIXTURES pins it to hold for every row,
    so n_len_ok must equal n_docs). avg over int64 is an exact integer
    sum — no float policy needed."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
        F.round(F.expr("percentile(n_chars, 0.5)"), 6).alias("p50_chars"),
        F.count(F.when(F.length("text") == F.col("n_chars"), 1)).alias(
            "n_len_ok"
        ),
    )


@register(
    "llm_lang_filter_sample",
    oracle="""
    SELECT doc_id, lang, source, n_chars
    FROM documents
    WHERE lang = 'en' AND n_chars > 300
    ORDER BY n_chars DESC, doc_id
    LIMIT 100
    """,
)
def llm_lang_filter_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus sampling: filter + total order + limit (a
    TakeOrderedAndProject — per-partition heaps, no global sort). Never
    .sample(): training-data subsets must be reproducible."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.filter((F.col("lang") == "en") & (F.col("n_chars") > 300))
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy(F.desc("n_chars"), F.asc("doc_id"))
        .limit(100)
    )


# ----------------------------------------------------------- vector family


@register(
    "llm_embed_normalize",
    oracle=f"""
    WITH norms AS (
      SELECT vec_id, embedding,
             sqrt({_sql_int_dot('embedding', 'embedding')} / 1000000000000.0)
               AS l2_norm
      FROM embeddings
    )
    SELECT vec_id,
           round(l2_norm, 9) AS l2_norm,
           round(CAST(embedding[1] AS DOUBLE) / l2_norm, 9) AS first_component_unit,
           round(list_aggregate(list_transform(embedding,
                 x -> CAST(floor((CAST(x AS DOUBLE)/l2_norm)
                                 * (CAST(x AS DOUBLE)/l2_norm)
                                 * 1000000000000) AS BIGINT)), 'sum')
                 / 1000000000000.0, 6) AS renorm_sq
    FROM norms
    """,
)
def llm_embed_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 re-normalization with an idempotency audit: the fixture's
    vectors are already unit (FIXTURES), so l2_norm ≈ 1 and the
    re-normalized self-dot (renorm_sq) must round to 1.0 at 6 dp.
    Norm derives from the exact integer self-dot (sqrt is correctly
    rounded IEEE — engine-identical on identical input); the normalized
    components are double ops on identical operands."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = F.col("embedding")
    norm = F.sqrt(_int_dot(e, e) / F.lit(float(_S12)))
    unit = F.transform(e, lambda x: x.cast("double") / F.col("l2_norm_raw"))
    renorm = F.aggregate(
        F.transform(
            F.col("unit_vec"),
            lambda x: F.floor(x * x * F.lit(float(_S12))),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return (
        emb.withColumn("l2_norm_raw", norm)
        .withColumn("unit_vec", unit)
        .select(
            "vec_id",
            F.round("l2_norm_raw", 9).alias("l2_norm"),
            F.round(
                F.element_at(e, 1).cast("double") / F.col("l2_norm_raw"), 9
            ).alias("first_component_unit"),
            F.round(renorm / F.lit(float(_S12)), 6).alias("renorm_sq"),
        )
    )


_TOPK_ORACLE = f"""
    WITH pairs AS (
      SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
             {_sql_int_dot('a.embedding', 'b.embedding')} AS dot_fp
      FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
    )
    SELECT vec_id, neighbor_id,
           {sql_cos_micros('dot_fp')} AS cos_micros, rnk,
           'exact_blocknl' AS method
    FROM (
      SELECT *, row_number() OVER (PARTITION BY vec_id
                                   ORDER BY dot_fp DESC, neighbor_id) AS rnk
      FROM pairs
    ) WHERE rnk <= 5
"""


@register("llm_cosine_topk", oracle=_TOPK_ORACLE)
def llm_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 per vector (vectors are unit-norm, so
    cosine ≡ dot), executed as an Arrow-batched BLOCK NESTED LOOP
    (fixedpoint.blocknl_topk): the corpus matrix (n×64 float64 — 1 MB
    at sf0.1) is broadcast once; each query batch computes the exact
    integer dots against the whole corpus in numpy and emits its
    top-5. This is the one genuinely compute-bound operator in the
    suite, which is exactly where an Arrow UDF beats codegen'd
    higher-order array functions — measured 6.3 s → ~1 s at sf0.1 vs
    the zip_with/aggregate + window formulation (and 15.7 s for the
    DuckDB baseline).

    It is llm_mrl_truncated_rerank's scorer at full width: with no
    prefix stage the shortlist IS the top-5, so the re-rank would
    re-order the same 5 rows by the same key.  Exactness is
    fixedpoint's numpy kernel contract; ranking compares the exact
    integers (lexsort on (-dot, neighbor_id)), so top-k membership
    cannot flip on float ulps.

    Scale: the corpus is bounded by a .take(max+1) probe — never an
    unbounded collect — with max BYTE-derived from the embedding dim
    (fixedpoint._blocknl_max_vectors).  Above the bound the key raises
    ValueError: exact all-pairs ground truth does not scale, and
    llm_cosine_topk_lsh (bucket-local top-k, its own oracle) is the
    scale path."""
    return blocknl_topk(spark, sf_dir, "exact_blocknl", k=5)


_KNN_ORACLE = f"""
    WITH q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
    scored AS (
      SELECT e.vec_id, e.label,
             {_sql_int_dot('e.embedding', 'q.q_emb')} AS dot_fp
      FROM embeddings e, q
      WHERE e.vec_id <> 0
    )
    SELECT vec_id, label,
           {sql_cos_micros('dot_fp')} AS cos_micros
    FROM scored
    ORDER BY dot_fp DESC, vec_id
    LIMIT 10
"""


@register("llm_knn_query", oracle=_KNN_ORACLE)
def llm_knn_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-query k-NN: broadcast the 1-row query vector, score every
    corpus vector with the exact integer dot, global top-10 via
    TakeOrderedAndProject. This is the serving-path shape: one corpus
    scan, no shuffle except the k-row merge."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_emb")
    )
    scored = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            _int_dot(F.col("embedding"), F.col("q_emb")).alias("dot_fp"),
        )
    )
    return (
        scored.orderBy(F.desc("dot_fp"), F.asc("vec_id"))
        .limit(10)
        .select(
            "vec_id",
            "label",
            cos_micros(F.col("dot_fp")).alias("cos_micros"),
        )
    )


# Centroid/E-step oracle CTE shared with the SemDeDup pipeline — now in
# functions/fixedpoint.py for the same decoration-time-import reason as
# the dot helpers above.
from climateiq_pipelines_spark.functions.fixedpoint import (  # noqa: E402
    _CENTROID_SQL,
)

_CENTROID_ORACLE = f"""
    WITH {_CENTROID_SQL}
    SELECT label, COUNT(*) AS n_vecs,
           COUNT(*) FILTER (WHERE assigned_label = label) AS n_correct,
           round(COUNT(*) FILTER (WHERE assigned_label = label) * 1.0
                 / COUNT(*), 6) AS agreement
    FROM assigned
    GROUP BY label
"""


@register("llm_centroid_assign", oracle=_CENTROID_ORACLE)
def llm_centroid_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroids → nearest-centroid assignment → agreement
    with the ground-truth label (one k-means E-step, quality-scored).

    Exactness chain: centroid components are exact 1e9 fixed-point
    means; squared distances are exact 1e12 fixed-point integer sums;
    argmin orders by the integer with a label tie-break — every stage
    reproducible cross-engine.

    Scale: vectors posexplode once (64 rows each); centroids (10×64
    doubles) BROADCAST back; distance agg shuffles on (vec_id, label) —
    linear in corpus, constant in centroids. The k-means loop at 100 TB
    is this plan iterated."""
    emb = load_table(spark, sf_dir, "embeddings")
    assigned = assign_nearest_centroid(emb, keep_label=True).select(
        "vec_id", "label", F.col("c_label").alias("assigned_label")
    )
    correct = F.when(F.col("assigned_label") == F.col("label"), 1)
    return assigned.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.count(correct).alias("n_correct"),
        F.round(F.count(correct) / F.count(F.lit(1)), 6).alias("agreement"),
    )


_MULTIMODAL_ORACLE = """
    WITH joined AS (
      SELECT d.lang, d.doc_id, e.embedding
      FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    ),
    exploded AS (
      SELECT lang, doc_id,
             generate_subscripts(embedding, 1) AS pos,
             unnest(embedding) AS x
      FROM joined
    ),
    centroids AS (
      SELECT lang, pos,
             CAST(SUM(CAST(floor(CAST(x AS DOUBLE) * 1000000000) AS BIGINT))
                  AS DOUBLE) / 1000000000.0 / COUNT(*) AS c
      FROM exploded GROUP BY lang, pos
    ),
    dists AS (
      SELECT e.lang, e.doc_id,
             SUM(CAST(floor((CAST(e.x AS DOUBLE) - c.c)
                            * (CAST(e.x AS DOUBLE) - c.c)
                            * 1000000000000) AS BIGINT)) AS dist_fp
      FROM exploded e JOIN centroids c ON e.pos = c.pos AND e.lang = c.lang
      GROUP BY e.lang, e.doc_id
    )
    SELECT lang, COUNT(*) AS n_docs_with_vec,
           round(CAST(SUM(dist_fp) AS DOUBLE) / 1000000000000.0
                 / COUNT(*), 9) AS avg_sq_dist_to_lang_centroid
    FROM dists
    GROUP BY lang
"""


@register("llm_multimodal_join", oracle=_MULTIMODAL_ORACLE)
def llm_multimodal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text↔vector modality join (doc_id = vec_id) + per-language
    embedding dispersion (mean squared distance to the language
    centroid). INNER join by design: cardinalities diverge at sf0.1
    (5000 docs vs 2000 vecs, FIXTURES) — assuming totality is the bug
    this key guards against. Same exact fixed-point chain as
    llm_centroid_assign."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    joined = docs.join(emb, docs.doc_id == emb.vec_id).select(
        "lang", "doc_id", "embedding"
    )
    exploded = joined.select(
        "lang", "doc_id", F.posexplode("embedding").alias("pos", "x")
    )
    centroids = exploded.groupBy(F.col("lang").alias("c_lang"), "pos").agg(
        fixed_mean_1e9(F.col("x")).alias("c")
    )
    diff = F.col("x").cast("double") - F.col("c")
    dists = (
        exploded.join(
            F.broadcast(centroids),
            (exploded.lang == centroids.c_lang) & (exploded.pos == centroids.pos),
        )
        .groupBy("lang", "doc_id")
        .agg(F.sum(F.floor(diff * diff * F.lit(float(_S12)))).alias("dist_fp"))
    )
    return dists.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs_with_vec"),
        F.round(
            F.sum("dist_fp").cast("double") / F.lit(float(_S12)) / F.count(F.lit(1)),
            9,
        ).alias("avg_sq_dist_to_lang_centroid"),
    )


def _hyperplanes() -> list[list[float]]:
    """8 fixed 64-d hyperplanes from a pure-integer LCG — every value is
    (31-bit int)/2^31 - 0.5, all exactly representable, so the literals
    embedded in the Spark plan and the oracle SQL are bit-identical. No
    runtime RNG (SURVEY §7.4 LSH determinism)."""
    planes: list[list[float]] = []
    state = 20260813
    for _ in range(8):
        row: list[float] = []
        for _ in range(64):
            state = (1103515245 * state + 12345) % (1 << 31)
            row.append(state / float(1 << 31) - 0.5)
        planes.append(row)
    return planes


def _simhash_sig_sql() -> str:
    """Bare SQL expression for the 8-bit hyperplane signature — the
    single source every simhash oracle builds from.  Round-12 review:
    vector_ext's multiprobe/topk-LSH oracles (and llm_cosine_neardup
    below) previously extracted this by string-splitting
    _simhash_oracle()'s rendered text on 'FROM (SELECT ' — any harmless
    reformatting of that oracle would have broken two keys that never
    touched the edited code."""
    bits = []
    for j, row in enumerate(_hyperplanes()):
        arr = "[" + ", ".join(repr(v) for v in row) + "]::DOUBLE[]"
        dot = (
            f"list_aggregate(list_transform(list_zip(embedding, {arr}), "
            f"p -> CAST(floor(CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE) "
            f"* 1000000000000) AS BIGINT)), 'sum')"
        )
        bits.append(f"(CASE WHEN {dot} >= 0 THEN {1 << j} ELSE 0 END)")
    return " + ".join(bits)


def _simhash_oracle() -> str:
    return f"""
    SELECT signature, COUNT(*) AS n_vecs,
           COUNT(DISTINCT label) AS n_labels
    FROM (SELECT {_simhash_sig_sql()} AS signature, label FROM embeddings)
    GROUP BY signature
    """


@register("llm_simhash_bucket", oracle=_simhash_oracle())
def llm_simhash_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8-bit hyperplane SimHash signature per vector + bucket histogram
    — the LSH primitive that replaces O(n²) similarity at 100 TB: ANN
    queries probe one bucket (plus neighbors by Hamming distance)
    instead of the corpus. Sign bits come from exact integer dots
    against fixed literal hyperplanes, so bucket assignment is
    engine-exact even for near-zero dots. 8 bits/256 buckets suits the
    2000-vector fixture; at 10^9+ vectors widen to 16-24 bits and keep
    per-bucket cardinality ~10^3-10^4 for the re-rank stage."""
    emb = load_table(spark, sf_dir, "embeddings")
    sig = hyperplane_sig(F.col("embedding"), _hyperplanes())
    return (
        emb.select(sig.alias("signature"), "label")
        .groupBy("signature")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.countDistinct("label").alias("n_labels"),
        )
    )


def _cosine_neardup_oracle() -> str:
    sig_expr = _simhash_sig_sql()
    dot = _sql_int_dot("a.embedding", "b.embedding")
    return f"""
    WITH sigs AS (
      SELECT vec_id, embedding, {sig_expr} AS signature FROM embeddings
    )
    SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           {sql_cos_micros(dot)} AS cos_micros
    FROM sigs a JOIN sigs b
      ON a.signature = b.signature AND a.vec_id < b.vec_id
    WHERE {dot} >= 300000000000
    """


@register("llm_cosine_neardup", oracle=_cosine_neardup_oracle())
def llm_cosine_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, BUCKET-PRUNED: candidates
    are pairs sharing the 8-bit simhash signature, verified with the
    exact integer dot at cos ≥ 0.3. The prune is part of the declared
    semantics (bucket-local near-dup — the production shape at 100 TB,
    where all-pairs is impossible): signatures are engine-exact
    integers, so the oracle applies the identical prune and the key is
    fully hash-checked. Recall vs all-pairs is the standard
    LSH trade — raise it by multi-probing Hamming-adjacent buckets or
    adding signature bits; on this fixture same-bucket pairs top out at
    cos 0.41 (probed), so 0.3 yields a meaningful, non-empty pair set.

    Scale: one shuffle on the signature; per-bucket self-joins are
    quadratic in BUCKET size only — the whole point of the signature."""
    emb = load_table(spark, sf_dir, "embeddings")
    sig = hyperplane_sig(F.col("embedding"), _hyperplanes())
    sigs = emb.select("vec_id", "embedding", sig.alias("signature"))
    a = sigs.select(
        F.col("vec_id").alias("a_id"),
        F.col("embedding").alias("a_emb"),
        "signature",
    )
    b = sigs.select(
        F.col("vec_id").alias("b_id"),
        F.col("embedding").alias("b_emb"),
        "signature",
    )
    dot = _int_dot(F.col("a_emb"), F.col("b_emb"))
    return (
        a.join(b, "signature")
        .filter(F.col("a_id") < F.col("b_id"))
        .withColumn("dot_fp", dot)
        .filter(F.col("dot_fp") >= 3 * 10**11)
        .select(
            "a_id",
            "b_id",
            cos_micros(F.col("dot_fp")).alias("cos_micros"),
        )
    )


# ------------------------------------------- order-sensitive dedup family

_NGRAM_ORACLE = """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    sh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(generate_series(1, len(w) - 2),
                i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) AS shingle
      FROM t
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    ov AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT a_id, b_id,
           round(n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common), 6)
             AS jaccard
    FROM ov
    JOIN sizes sa ON sa.doc_id = a_id
    JOIN sizes sb ON sb.doc_id = b_id
    WHERE n_common * 2.0 > sa.n_sh + sb.n_sh - n_common
"""


@register("llm_ngram_jaccard", oracle=_NGRAM_ORACLE)
def llm_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER-SENSITIVE near-dup pairs: Jaccard over word 3-gram shingle
    sets, threshold 0.5 (expressed as 2·|∩| > |∪|, a pure integer
    comparison — no float threshold ambiguity at exactly 0.5).

    Complements the token-SET keys: a word-level permutation of a doc
    keeps its token set (llm_minhash_neardup finds it) but destroys its
    shingle set — so this key separates true copies from shuffles. On
    the fixture the signal is bimodal (probed at sf0.01: 25 pairs at
    J ≥ 0.9, next mass at J ≤ 0.1), so 0.5 sits in an empty margin.

    Candidates come from :func:`_prefix_join` (PPJoin, Xiao et al.
    2008) over each doc's shingle set, with prefix ⌈n/2⌉. Lossless for
    the declared threshold: J > 1/2 ⟹ 3·|∩| > a+b and |∩| ≤ min(a,b)
    ⟹ |∩| ≥ ⌊a/2⌋+1 AND ⌊b/2⌋+1, and if the first ⌈a/2⌉ elements of A
    shared nothing with B then |∩| ≤ a − ⌈a/2⌉ = ⌊a/2⌋ — contradiction
    (symmetrically for B). Hot boilerplate shingles have maximal df,
    sort to the list tails, and never enter a prefix. The pair filter
    is the length bound (max < 2·min, same derivation) plus PPJoin's
    POSITIONAL bound: every common element follows the earliest one in
    both lists, so |∩| ≤ min(a − pa, b − pb) for its 0-based positions
    pa, pb, and J > 1/2 needs |∩| ≥ ⌊(a+b)/3⌋ + 1 — a qualifying pair's
    earliest collision always passes. Measured 300,277 → 120,930
    candidate pairs at sf0.1 for the positional filter.

    Shingles are xxhash64'd longs, not trigram text (8-byte shuffle
    keys; a 2^-64 collision could at worst inflate one pair's overlap
    by 1 — the standard hashed-shingle trade, same as MinHash).
    Property-tested multiset-equal to the unpruned form
    (tests/test_r7_keys.py) and oracle-checked at all three SFs.
    Shingle generation is a zero-shuffle map stage
    (functions.textgrams.word_shingle_sets)."""
    docs = widen_if_narrow(
        spark, load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    ver = _prefix_join(
        word_shingle_sets(docs, 3),
        "cast(ceil(n / 2) as int)",
        "a_n < 2 * b_n AND b_n < 2 * a_n"
        " AND least(a_n - pa, b_n - pb) >= (a_n + b_n) div 3 + 1",
    )
    union = F.col("a_n") + F.col("b_n") - F.col("n_common")
    return (
        ver.filter(F.col("n_common") * 2 > union)
        .select(
            "a_id", "b_id", F.round(F.col("n_common") / union, 6).alias("jaccard")
        )
    )


def _simhash60_sql_sig() -> str:
    """DuckDB 60-bit token simhash: per-token h = first 15 md5 hex chars
    as a BIGINT (md5 is identical cross-engine, unlike xxhash64/hash),
    bit j votes ±1, signature bit j = sign of the vote sum."""
    bits = " + ".join(
        f"(CASE WHEN sum(CASE WHEN (h // {1 << j}) % 2 = 1 THEN 1 ELSE -1 END)"
        f" >= 0 THEN {1 << j} ELSE 0 END)"
        for j in range(60)
    )
    return f"""
    toks AS (
      SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
      FROM documents
    ),
    hs AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(token), 1, 15)) AS BIGINT) AS h
      FROM toks
    ),
    sigs AS (SELECT doc_id, {bits} AS sig FROM hs GROUP BY doc_id)
    """


_SIMHASH_NEARDUP_ORACLE = f"""
    WITH {_simhash60_sql_sig()}
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
    FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sig, b.sig)) <= 3
"""


def _simhash60_sigs(docs: DataFrame) -> DataFrame:
    """(doc_id, sig): 60-bit md5-token simhash — 60 codegen'd
    conditional vote sums in ONE hash aggregate, sign → bit. Shared by
    llm_simhash_neardup and the dedup-cluster operator; the
    checkpointed result is memoized until the next release, keyed on
    the input plan's semanticHash so a different corpus/projection can
    never alias it."""
    return memo("simhash60_sigs", docs.semanticHash(), lambda: _build_simhash60_sigs(docs))


def _build_simhash60_sigs(docs: DataFrame) -> DataFrame:
    # NOT widened (registry.widen_if_narrow measured 0.39 s → 0.48 s
    # here): _tokens' distinct already shuffles before the 60-way vote
    # aggregate, so the heavy stage is parallel and a pre-explode
    # repartition only adds a shuffle.
    #
    # The 60 vote sums and the 60-term sign fold are built as SQL
    # expr strings (integer-only text — no float literal round-trip),
    # not Column chains: the chained form cost 2.12 s of py4j
    # round-trips per construction vs 0.46 s for the parsed strings
    # (measured, outputs bit-identical) — the hyperplane_sig lesson
    # applied to the 60-bit builder. Paid once per memo entry.
    toks = _tokens(docs)
    h = F.conv(F.substring(F.md5("token"), 1, 15), 16, 10).cast("long")
    votes = toks.select("doc_id", h.alias("h")).groupBy("doc_id").agg(
        *[
            F.expr(
                f"sum(CASE WHEN (shiftright(h, {j}) & 1) = 1"
                " THEN 1 ELSE -1 END)"
            ).alias(f"v{j}")
            for j in range(60)
        ]
    )
    sig_expr = "CAST(0 AS BIGINT) " + " ".join(
        f"+ (CASE WHEN v{j} >= 0 THEN CAST({1 << j} AS BIGINT)"
        " ELSE CAST(0 AS BIGINT) END)"
        for j in range(60)
    )
    return checkpoint(votes.select("doc_id", F.expr(sig_expr).alias("sig")))


def _simhash60_pairs(sigs: DataFrame, dedup: bool = True) -> DataFrame:
    """(a_id, b_id, hamming ≤ 3) pairs from 4×15-bit pigeonhole banding
    over the 60-bit signatures — recall exactly 1.0 for Hamming ≤ 3
    (a pair within distance 3 must agree on ≥1 whole band). The shuffle
    carries (band_val, doc_id): ~64 bytes/doc at any corpus size.

    r16 optimization (guide §2.3, shuffle fewer bytes): the hamming ≤ 3
    filter runs BEFORE the cross-band distinct — hamming is a function
    of the pair, so filter-then-distinct ≡ distinct-then-filter, and the
    distinct's exchange now carries only true near-dup candidates
    instead of every band collision (at scale the false-candidate mass
    is the dominant term; at sf0.1 measured neutral-to-positive).
    ``dedup=False`` additionally skips the distinct for consumers that
    canonicalize the pair set themselves (llm_dedup_clusters feeds
    connected_components, whose first step is its own orient+distinct —
    the double distinct was one full extra shuffle of the largest
    relation in that key; full-key A/B 3.52–3.85 s → 3.26–3.49 s,
    results identical). Rows may then repeat per shared band."""
    band = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(k).alias("band_id"),
                    F.shiftright("sig", 15 * k)
                    .bitwiseAND(F.lit(0x7FFF))
                    .alias("band_val"),
                )
                for k in range(4)
            ]
        )
    )
    bands = sigs.select("doc_id", "sig", band.alias("b")).select(
        "doc_id", "sig", "b.band_id", "b.band_val"
    )
    a = bands.select(
        F.col("doc_id").alias("a_id"), F.col("sig").alias("a_sig"),
        "band_id", "band_val",
    )
    b = bands.select(
        F.col("doc_id").alias("b_id"), F.col("sig").alias("b_sig"),
        "band_id", "band_val",
    )
    hamming = F.bit_count(F.col("a_sig").bitwiseXOR(F.col("b_sig")))
    out = (
        a.join(b, ["band_id", "band_val"])
        .filter(F.col("a_id") < F.col("b_id"))
        .filter(hamming <= 3)
        .select("a_id", "b_id", hamming.cast("long").alias("hamming"))
    )
    return out.distinct() if dedup else out


@register("llm_simhash_neardup", oracle=_SIMHASH_NEARDUP_ORACLE)
def llm_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (Hamming distance ≤ 3 on a 60-bit token
    simhash) via 4-band pigeonhole pruning — the classic web-dedup
    design, Spark-first:

    1. Per token, h = first 15 md5 hex chars → BIGINT (60 exact bits;
       md5 is the one hash both engines compute identically — xxhash64
       and DuckDB hash() are different algorithms).
    2. Signature: bit j votes +1/−1 per distinct token; 60 codegen'd
       conditional sums in ONE hash aggregate, sign → bit. No UDF.
    3. Candidates: split the 60 bits into 4 bands of 15; a pair within
       Hamming ≤ 3 must agree on ≥1 whole band (pigeonhole), so the
       band-key equi-self-join has recall exactly 1.0 — proven, not
       sampled, because the all-pairs oracle below checks the output.
    4. Exact verify: bit_count(sig_a XOR sig_b) ≤ 3 on candidates.

    The oracle is the O(n²) all-pairs twin, so the hash match proves
    the banding lossless on the fixture. Fixture note (probed sf0.01):
    the 31-word vocabulary makes token-set simhash land 452 pairs at
    distance 0 — dense-vocab compression, same effect documented on
    llm_minhash_lsh; on a real shingled corpus distances spread and
    the ≤3 margin means edit-level similarity.

    Scale: signatures are 8 bytes/doc; the shuffle carries (band_val,
    doc_id) — 4 rows of 16 bytes per doc, ~64 bytes/doc total at any
    corpus size. Per-band-bucket self-joins are quadratic in bucket
    size only; at 10^9+ docs widen to 96/128-bit signatures and 6-8
    bands to keep buckets small. All-pairs never runs."""
    docs = load_table(spark, sf_dir, "documents")
    return _simhash60_pairs(_simhash60_sigs(docs))


# --------------------------------------------- end-to-end corpus pipeline

_PIPELINE_ORACLE = """
    WITH keep1 AS (
      SELECT min(doc_id) AS doc_id
      FROM documents GROUP BY md5(text)
    ),
    d1 AS (
      SELECT d.* FROM documents d JOIN keep1 USING (doc_id)
    ),
    enriched AS (
      SELECT doc_id, lang, source, n_chars,
             len(string_split(text, ' ')) AS n_tokens,
             md5(array_to_string(
               list_sort(list_distinct(string_split(text, ' '))), ' '))
               AS set_digest
      FROM d1
    ),
    keep2 AS (
      SELECT min(doc_id) AS doc_id FROM enriched GROUP BY set_digest
    ),
    cleaned AS (
      SELECT e.* FROM enriched e JOIN keep2 USING (doc_id)
      WHERE e.n_tokens >= 20 AND e.n_chars >= 100
    )
    SELECT lang, source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM cleaned
    GROUP BY lang, source
"""


@register("llm_corpus_pipeline", oracle=_PIPELINE_ORACLE)
def llm_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END training-corpus cleaning funnel — the composite the
    individual §2.10 keys exist to serve, as ONE declarative plan:

    1. Exact dedup: keep min doc_id per md5(text) digest (the shuffle
       carries 32-byte digests, never bodies).
    2. Content dedup: keep min doc_id per SORTED-DISTINCT-TOKEN-SET
       digest — catches permutation duplicates (the fixture's planted
       structure) without any pair join: array_distinct + array_sort +
       md5 are all per-row map-side, so stage cost is one groupBy on an
       8+32-byte key. This is the degenerate (J=1.0) case of near-dup
       removal; for fuzzy thresholds the LSH pair keys
       (llm_minhash_lsh / llm_simhash_neardup) feed the same anti-join.
    3. Quality gate: n_tokens ≥ 20 and n_chars ≥ 100 (Gopher-style
       bounds; the per-signal version is llm_quality_score).
    4. Manifest: per (lang, source) surviving doc count + exact integer
       token/char totals — the partition-level bookkeeping a 100 TB
       curation run reports.

    Scale: three shuffles total (two digest groupBys + the final
    manifest agg), each carrying one row per doc or less; semi-joins
    broadcast the keeper-id sets when small and shuffle-join cleanly
    when not. No stage holds more than (digest, doc_id) per row."""
    docs = load_table(spark, sf_dir, "documents")
    keep1 = docs.groupBy(F.md5("text").alias("digest")).agg(
        F.min("doc_id").alias("doc_id")
    )
    d1 = docs.join(keep1.select("doc_id"), "doc_id", "left_semi")
    words = F.split("text", " ")
    enriched = d1.select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        F.size(words).alias("n_tokens"),
        F.md5(
            F.concat_ws(" ", F.array_sort(F.array_distinct(words)))
        ).alias("set_digest"),
    )
    keep2 = enriched.groupBy("set_digest").agg(F.min("doc_id").alias("doc_id"))
    cleaned = (
        enriched.join(keep2.select("doc_id"), "doc_id", "left_semi")
        .filter((F.col("n_tokens") >= 20) & (F.col("n_chars") >= 100))
    )
    return cleaned.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("sum_tokens"),
        F.sum("n_chars").alias("sum_chars"),
    )


# ---------------------------------------------- corpus mixing / batching

_STRAT_ORACLE = """
    SELECT lang, doc_id, pick
    FROM (
      SELECT lang, doc_id,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS pick,
             COUNT(*) OVER (PARTITION BY lang) AS n_lang
      FROM documents
    )
    WHERE pick <= CAST(ceil(0.1 * n_lang) AS BIGINT)
"""


@register("llm_stratified_sample", oracle=_STRAT_ORACLE)
def llm_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% stratified sample per language — the data-mixing
    primitive: every stratum contributes exactly ceil(0.1·n) docs, and
    the 'random' order is md5(doc_id) (identical cross-engine, stable
    across runs/partitionings — no RNG, no seed drift, so the sample is
    reproducible forever, which training-data lineage requires).

    Scale: one shuffle on lang; the md5 sort is per-stratum. For heavily
    skewed strata (one lang = 90% of 100 TB) switch the inner sort to a
    bucketed top-k: assign md5-bucket, per-bucket row_number, take whole
    buckets + a row_number'd remainder — same deterministic set, no
    single-reducer sort."""
    docs = load_table(spark, sf_dir, "documents")
    w = W.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.select(
            "lang",
            "doc_id",
            F.row_number().over(w).alias("pick"),
            F.count(F.lit(1)).over(W.partitionBy("lang")).alias("n_lang"),
        )
        .filter(F.col("pick") <= F.ceil(0.1 * F.col("n_lang")).cast("long"))
        .select("lang", "doc_id", "pick")
    )


_PACK_ORACLE = """
    WITH toks AS (
      SELECT lang, doc_id, len(string_split(text, ' ')) AS n_tokens
      FROM documents
    ),
    placed AS (
      SELECT lang, doc_id, n_tokens,
             CAST(floor(
               (SUM(n_tokens) OVER (
                  PARTITION BY lang ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                ) - n_tokens) / 512.0
             ) AS BIGINT) AS seq_id
      FROM toks
    )
    SELECT lang, seq_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
    FROM placed
    GROUP BY lang, seq_id
"""


@register("llm_pack_sequences", oracle=_PACK_ORACLE)
def llm_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence packing: stream each language's docs in
    deterministic doc_id order and cut a new 512-token sequence
    whenever the running token total crosses the budget (seq_id =
    floor(preceding-cumsum / 512) — contiguous fill, the standard
    concat-then-chunk pre-training layout, NOT bin-packing: order is
    preserved so document boundaries stay reproducible). Emits the
    per-sequence manifest (doc count, token total).

    Scale: one shuffle on lang + a per-stratum ordered window (linear
    state). At 100 TB, sub-partition the cumsum: per (lang, shard)
    local cumsums + a tiny broadcast of per-shard offsets — same
    arithmetic, no single-reducer window."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "lang", "doc_id", F.size(F.split("text", " ")).alias("n_tokens")
    )
    w = W.partitionBy("lang").orderBy("doc_id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    placed = toks.select(
        "lang",
        "doc_id",
        "n_tokens",
        F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / 512.0)
        .cast("long")
        .alias("seq_id"),
    )
    return placed.groupBy("lang", "seq_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("sum_tokens"),
    )
