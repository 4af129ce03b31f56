"""Text-analysis + IVF operators — the training-data-pipeline surface
beyond SURVEY §2.10's original list: language-ID, quality scoring,
BPE-ish tokenization, rolling-window fingerprinting, and an IVF-style
ANN variant. All oracle-checked.

Everything stays JVM-side (regexp/explode/group — whole-stage codegen);
the only floats are ratios of integers (engine-exact) and the shared
fixed-point distance spine from operators/llm.py.

Scale notes: these are the per-document map-side stages of a corpus
pipeline — no shuffles except the final aggregations; profiles and
centroids broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from climateiq_pipelines_spark.functions.fixedpoint import (
    _S12,
    cos_micros,
    fixed_mean_1e9,
    np_topk,
    np_vectors,
    sql_cos_micros,
)
from climateiq_pipelines_spark.plans import register
from climateiq_pipelines_spark.registry import load_table

# Fixed language profiles for the n-gram/stopword-ratio heuristic.
# Real profiles are learned per language; these are literals pinned in
# both engines (the MECHANISM — profile join → score → argmax — is the
# operator; the fixture's synthetic vocabulary carries no real language
# signal, so profiles are chosen to partition it deterministically).
_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "fast", "small", "big", "slow"),
    "de": ("der", "die", "und", "table", "window", "group"),
    "es": ("el", "la", "que", "query", "row", "column"),
    "fr": ("le", "la", "et", "join", "merge", "sort"),
    "zh": ("spark", "stream", "batch", "vector", "hash", "key"),
}

_PROFILE_SQL_ROWS = ", ".join(
    f"('{lang}', '{tok}')"
    for lang, toks in sorted(_PROFILES.items())
    for tok in toks
)

_LANG_ORACLE = f"""
    WITH profiles(p_lang, token) AS (VALUES {_PROFILE_SQL_ROWS}),
    toks AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token
      FROM documents
    ),
    counts AS (
      SELECT doc_id, COUNT(*) AS n_toks FROM toks GROUP BY doc_id
    ),
    scores AS (
      SELECT t.doc_id, p.p_lang, COUNT(*) AS n_hits
      FROM toks t JOIN profiles p ON t.token = p.token
      GROUP BY t.doc_id, p.p_lang
    ),
    best AS (
      SELECT doc_id, p_lang, n_hits,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY n_hits DESC, p_lang) AS rn
      FROM scores
    )
    SELECT d.doc_id, d.lang AS labeled_lang,
           coalesce(b.p_lang, 'und') AS detected_lang,
           coalesce(b.n_hits, 0) AS n_profile_hits,
           round(coalesce(b.n_hits, 0) * 1.0 / c.n_toks, 6) AS profile_ratio
    FROM documents d
    JOIN counts c ON c.doc_id = d.doc_id
    LEFT JOIN best b ON b.doc_id = d.doc_id AND b.rn = 1
"""


@register("llm_lang_detect", oracle=_LANG_ORACLE)
def llm_lang_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: token-profile hit counting → argmax with a
    deterministic (count DESC, lang ASC) tie-break; docs hitting no
    profile detect as 'und'. The profile relation is broadcast (it is
    vocabulary-sized); one corpus-shuffle on doc_id for the score agg —
    the standard shape for fastText-style lang-ID at 100 TB, with the
    model lookup swapped in for the profile join."""
    docs = load_table(spark, sf_dir, "documents")
    profiles = spark.createDataFrame(
        [(lang, tok) for lang, toks in sorted(_PROFILES.items()) for tok in toks],
        "p_lang string, token string",
    )
    toks = docs.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("token")
    )
    counts = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_toks"))
    scores = (
        toks.join(F.broadcast(profiles), "token")
        .groupBy("doc_id", "p_lang")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    # r16: argmax (n_hits DESC, p_lang ASC) via min_by over
    # struct(-n_hits, p_lang) — lexicographic min maximizes the count
    # and breaks ties toward the smaller language code, the identical
    # total order the row_number window computed, but as a
    # partial-merging aggregate (one candidate per partition per doc
    # crosses the shuffle, no window sort).
    best = scores.groupBy("doc_id").agg(
        F.min_by(
            "p_lang", F.struct((-F.col("n_hits")).alias("neg"), "p_lang")
        ).alias("p_lang"),
        F.max("n_hits").alias("n_hits"),
    )
    # counts/best are per-document (corpus-sized) relations: plain
    # doc_id-keyed shuffle joins, NEVER broadcast — only the
    # vocabulary-sized profile table above gets the hint.
    return (
        docs.select("doc_id", F.col("lang").alias("labeled_lang"))
        .join(counts, "doc_id")
        .join(best.select("doc_id", "p_lang", "n_hits"), "doc_id", "left")
        .select(
            "doc_id",
            "labeled_lang",
            F.coalesce("p_lang", F.lit("und")).alias("detected_lang"),
            F.coalesce("n_hits", F.lit(0)).alias("n_profile_hits"),
            F.round(
                F.coalesce("n_hits", F.lit(0)) / F.col("n_toks"), 6
            ).alias("profile_ratio"),
        )
    )


_STOPWORDS = ("the", "a", "value", "key", "row")
_STOP_IN = ", ".join(f"'{t}'" for t in _STOPWORDS)

_QUALITY_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    stats AS (
      SELECT doc_id, COUNT(*) AS n_tokens,
             COUNT(*) FILTER (WHERE token IN ({_STOP_IN})) AS n_stop,
             COUNT(DISTINCT token) AS n_unique
      FROM toks GROUP BY doc_id
    )
    SELECT d.doc_id, d.n_chars, s.n_tokens,
           round(s.n_stop * 1.0 / s.n_tokens, 6) AS stopword_ratio,
           round(s.n_unique * 1.0 / s.n_tokens, 6) AS unique_ratio,
           round(length(regexp_replace(d.text, '[a-z ]', '', 'g')) * 1.0
                 / d.n_chars, 6) AS punct_ratio,
           round((d.n_chars - s.n_tokens + 1) * 1.0 / s.n_tokens, 6)
             AS mean_word_len,
           (s.n_tokens BETWEEN 5 AND 1000
            AND s.n_unique * 1.0 / s.n_tokens >= 0.2) AS passes_filter
    FROM documents d JOIN stats s ON s.doc_id = d.doc_id
"""


@register("llm_quality_score", oracle=_QUALITY_ORACLE)
def llm_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality signals — the Gopher/C4-style pre-training
    filter stage: token count bounds, stopword ratio, lexical diversity
    (unique/total), punctuation density, mean word length, and the
    resulting keep/drop flag. Ratios are integer quotients (exact);
    thresholds are the operator's parameters. Pure map-side + one
    per-doc aggregation."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    )
    stats = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.count(F.when(F.col("token").isin(*_STOPWORDS), 1)).alias("n_stop"),
        F.countDistinct("token").alias("n_unique"),
    )
    unique_ratio = F.col("n_unique") / F.col("n_tokens")
    return docs.join(stats, "doc_id").select(
        "doc_id",
        "n_chars",
        "n_tokens",
        F.round(F.col("n_stop") / F.col("n_tokens"), 6).alias("stopword_ratio"),
        F.round(unique_ratio, 6).alias("unique_ratio"),
        F.round(
            F.length(F.regexp_replace("text", "[a-z ]", ""))
            / F.col("n_chars"),
            6,
        ).alias("punct_ratio"),
        F.round(
            (F.col("n_chars") - F.col("n_tokens") + 1) / F.col("n_tokens"), 6
        ).alias("mean_word_len"),
        (
            F.col("n_tokens").between(5, 1000) & (unique_ratio >= 0.2)
        ).alias("passes_filter"),
    )


@register(
    "llm_bpe_tokens",
    oracle="""
    WITH words AS (
      SELECT doc_id, unnest(regexp_extract_all(text, '[a-z]+')) AS word
      FROM documents
    ),
    sub AS (
      SELECT doc_id, word,
             unnest(regexp_extract_all(word, '.{1,4}')) AS subtoken
      FROM words
    )
    SELECT doc_id,
           COUNT(*) AS n_subtokens,
           COUNT(DISTINCT subtoken) AS n_unique_subtokens,
           min(subtoken) AS first_subtoken_alpha
    FROM sub
    GROUP BY doc_id
    """,
)
def llm_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish subword tokenization without a learned vocab: words split
    into greedy ≤4-char chunks via regexp_extract_all — the fixed-width
    stand-in for a merge-table tokenizer (same plan shape: per-row
    regex → explode → count; a real BPE swaps the regex for a lookup
    UDF). Token-count estimation for context budgeting is THE
    first-line statistic of an LLM data pipeline."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id",
        F.explode(F.expr("regexp_extract_all(text, '[a-z]+', 0)")).alias("word"),
    )
    sub = words.select(
        "doc_id",
        F.explode(F.expr("regexp_extract_all(word, '.{1,4}', 0)")).alias(
            "subtoken"
        ),
    )
    return sub.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_subtokens"),
        F.countDistinct("subtoken").alias("n_unique_subtokens"),
        F.min("subtoken").alias("first_subtoken_alpha"),
    )


@register(
    "llm_fingerprint",
    oracle="""
    WITH positions AS (
      -- bound derived from the data, not hardcoded: a longer future
      -- fixture document widens the position range automatically
      SELECT unnest(range(1, (SELECT max(length(text)) FROM documents) + 1))
        AS i
    ),
    windows AS (
      SELECT doc_id,
             md5(substr(text, CAST(i AS INTEGER), 8)) AS win_hash
      FROM documents
      CROSS JOIN positions
      WHERE i <= greatest(1, length(text) - 7)
    )
    SELECT doc_id,
           min(win_hash) AS min_fingerprint,
           max(win_hash) AS max_fingerprint,
           COUNT(DISTINCT win_hash) AS n_distinct_windows
    FROM windows
    GROUP BY doc_id
    """,
)
def llm_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-window document fingerprint (winnowing-lite): hash every
    8-char window, keep the min/max digest as the document's
    fingerprints — near-identical texts share their min fingerprint
    with high probability even across small edits, which is what makes
    this the cheap pre-filter before MinHash. Window generation is an
    explode over positions (bounded by the fixture's 600-char max;
    parameterize per corpus); at 100 TB winnowing keeps every w-th
    window min instead of two global extremes."""
    docs = load_table(spark, sf_dir, "documents")
    wins = docs.select(
        "doc_id",
        F.explode(
            F.sequence(
                F.lit(1), F.greatest(F.lit(1), F.length("text") - 7)
            )
        ).alias("i"),
        "text",
    ).select("doc_id", F.md5(F.expr("substr(text, i, 8)")).alias("win_hash"))
    return wins.groupBy("doc_id").agg(
        F.min("win_hash").alias("min_fingerprint"),
        F.max("win_hash").alias("max_fingerprint"),
        F.countDistinct("win_hash").alias("n_distinct_windows"),
    )


_IVF_SQL_CENTROIDS = """
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
    )
"""

_IVF_ORACLE = f"""
    WITH {_IVF_SQL_CENTROIDS},
    assignments AS (
      SELECT vec_id, c_label FROM ranked_cells WHERE cell_rank = 1
    ),
    probes AS (
      SELECT vec_id, c_label FROM ranked_cells WHERE cell_rank <= 3
    ),
    candidates AS (
      SELECT p.vec_id AS q_id, a.vec_id AS cand_id
      FROM probes p JOIN assignments a ON a.c_label = p.c_label
      WHERE p.vec_id <> a.vec_id
    ),
    scored AS (
      SELECT c.q_id, c.cand_id,
             list_aggregate(list_transform(list_zip(qa.embedding, ca.embedding),
               p -> CAST(floor(CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)
                               * 1000000000000) AS BIGINT)), 'sum') AS dot_fp
      FROM candidates c
      JOIN embeddings qa ON qa.vec_id = c.q_id
      JOIN embeddings ca ON ca.vec_id = c.cand_id
    )
    SELECT q_id AS vec_id, cand_id AS neighbor_id,
           {sql_cos_micros('dot_fp')} AS cos_micros, rnk
    FROM (
      SELECT *, row_number() OVER (PARTITION BY q_id
                                   ORDER BY dot_fp DESC, cand_id) AS rnk
      FROM scored
    ) WHERE rnk <= 5
"""


@register("llm_ivf_topk", oracle=_IVF_ORACLE)
def llm_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style approximate top-k: label centroids act as the coarse
    quantizer (one cell per vector = its nearest centroid), each query
    probes its nprobe=3 nearest cells and re-ranks EXACTLY (integer
    dots) within the probed inverted lists. Candidate count drops from
    n² to n·(nprobe/n_cells)·n — the classic recall/cost dial (nprobe, cell
    count). tests/test_edges-adjacent recall is pinned against the
    brute-force key in tests.

    Scale: cells partition the corpus; each query touches nprobe
    partitions — the shuffle is (query → probed cell), never all-pairs.
    Same exact fixed-point spine as the rest of the vector family."""
    emb = load_table(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "label", "vec_id", F.posexplode("embedding").alias("pos", "x")
    )
    centroids = exploded.groupBy(F.col("label").alias("c_label"), "pos").agg(
        fixed_mean_1e9(F.col("x")).alias("c")
    )
    diff = F.col("x").cast("double") - F.col("c")
    cell_dists = (
        exploded.join(F.broadcast(centroids), "pos")
        .groupBy("vec_id", "c_label")
        .agg(F.sum(F.floor(diff * diff * F.lit(float(_S12)))).alias("dist_fp"))
    )
    w = W.partitionBy("vec_id").orderBy(F.asc("dist_fp"), F.asc("c_label"))
    ranked = cell_dists.withColumn("cell_rank", F.row_number().over(w))
    # Embeddings attach to probes/assignments BEFORE the cell join, so
    # the shuffle carries n·(nprobe+1) array rows — forming the pair
    # relation first and joining arrays onto n·nprobe·|cell| pair rows
    # afterwards shuffles ~300× more bytes (measured 10.2 s → 1.8 s at
    # sf0.1). Pair rows exist only inside the cell join's output and
    # are reduced to scalar dots before the next exchange. Cell-key
    # skew: the fixture has 10 cells; real IVF uses 10^3-10^4 cells so
    # per-cell pair formation stays bounded — the dial is cell count.
    vecs = emb.select("vec_id", "embedding")
    qv = vecs.select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb"))
    cv = vecs.select(
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("c_emb")
    )
    # 'cell' alias on the inverted-list side: both sides descend from
    # `ranked`, and cogrouping two same-lineage frames on the same
    # attribute trips the ambiguous-self-join check.
    assign_emb = ranked.filter(F.col("cell_rank") == 1).select(
        F.col("vec_id").alias("cand_id"), F.col("c_label").alias("cell")
    ).join(cv, "cand_id")
    probes_emb = ranked.filter(F.col("cell_rank") <= 3).select(
        F.col("vec_id").alias("q_id"), "c_label"
    ).join(qv, "q_id")
    # Per-cell Arrow block re-rank: cogroup (probes, inverted list) by
    # cell and score the exact integer dots with fixedpoint's numpy
    # kernel inside the cell.  Why not JVM zip_with/aggregate: Spark
    # interprets higher-order functions row-at-a-time (measured 10 s
    # for the 1.2M-pair re-rank at sf0.1); why not a scalar pair UDF:
    # Arrow would ship both 64-float arrays PER PAIR (~1 GB at sf0.1) —
    # cogrouping ships each array once per probed cell (n·(nprobe+1)
    # rows) and expands pairs only inside numpy. Each cell emits just
    # its per-query top-5 (a superset filter for the global top-5), so
    # the final window ranks n·nprobe·5 scalar rows, not
    # n·nprobe·|cell| pairs.
    def score_cell(probes, cands):
        import pyarrow as pa

        q_id, cand_id, dot, _rnk = np_topk(
            probes.column("q_id").to_numpy(), np_vectors(probes.column("q_emb")),
            cands.column("cand_id").to_numpy(), np_vectors(cands.column("c_emb")),
            k=5,
        )
        return pa.table({"q_id": q_id, "cand_id": cand_id, "dot_fp": dot})

    scored = (
        probes_emb.groupBy("c_label")
        .cogroup(assign_emb.groupBy("cell"))
        .applyInArrow(score_cell, "q_id long, cand_id long, dot_fp long")
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
