"""UDF / UDAF / UDTF surface (SURVEY.md §2.11) — 4 keys.

Python is the slow path (SURVEY §3.2): plain UDFs ship pickled rows to
forked workers; pandas/Arrow UDFs move columnar batches and are the only
acceptable Python hot path. Each key here exists to prove the boundary
works and is oracle-checked by mirroring the EXACT arithmetic in SQL —
including the fixed-point integer policy inside numpy (floor products to
int-valued float64s below 2^53, so numpy sums are exact and
engine-identical).

Scale notes: worker fan-out is per-core; Arrow batch size
(spark.sql.execution.arrow.maxRecordsPerBatch) bounds memory; a grouped
map (applyInPandas) shuffles once on the group key and must fit each
GROUP in one worker's memory — fine for per-user groups, wrong for
whale keys without salting.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from climateiq_pipelines_spark.plans import register
from climateiq_pipelines_spark.registry import load_table, sql


@register(
    "udf_scalar_py",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_totalprice >= 300000 THEN 'platinum'
                WHEN o_totalprice >= 150000 THEN 'gold'
                WHEN o_totalprice >= 50000  THEN 'silver'
                ELSE 'bronze' END AS tier
    FROM orders
    """,
)
def udf_scalar_py(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plain row-at-a-time Python UDF (pickled rows, one Python call per
    row) bucketing price into tiers; the oracle mirrors the logic as a
    CASE chain. Exists to prove the boundary — the CASE expression
    (fn_conditional) is the production form; never put a row-UDF on a
    100 TB hot path."""

    def tier(price: float) -> str:
        if price >= 300000:
            return "platinum"
        if price >= 150000:
            return "gold"
        if price >= 50000:
            return "silver"
        return "bronze"

    tier_udf = F.udf(tier, T.StringType())
    orders = load_table(spark, sf_dir, "orders")
    return orders.select("o_orderkey", tier_udf("o_totalprice").alias("tier"))


@register(
    "udf_pandas_vectorized",
    oracle="""
    WITH q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
           round(list_aggregate(list_transform(list_zip(e.embedding, q.q_emb),
                 p -> CAST(floor(CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)
                                 * 1000000000000) AS BIGINT)), 'sum')
                 / 1000000000000.0, 6) AS cos_to_query
    FROM embeddings e, q
    """,
)
def udf_pandas_vectorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-vectorized pandas UDF: cosine of every vector against the
    fixed query vector (vec_id 0), one numpy matmul-free batch op per
    Arrow batch instead of a Python call per row (~10-100× over a plain
    UDF). Inside the batch the math is the engine-wide fixed-point
    policy: floor(x·q·1e12) summed — the floored products are
    int-valued float64s (≤2.5e11 ≪ 2^53), so the numpy sum is exact and
    equals the oracle's int64 fold bit-for-bit."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    emb = load_table(spark, sf_dir, "embeddings")
    q_vec = [
        float(v)
        for v in emb.filter(F.col("vec_id") == 0).head()["embedding"]
    ]
    q = np.array(q_vec, dtype=np.float64)

    @pandas_udf(T.DoubleType())
    def cos_to_query(vectors: pd.Series) -> pd.Series:
        out = []
        for vec in vectors:
            x = np.asarray(vec, dtype=np.float64)
            out.append(np.floor(x * q * 1e12).sum() / 1e12)
        return pd.Series(out)

    return emb.select(
        "vec_id", F.round(cos_to_query("embedding"), 6).alias("cos_to_query")
    )


_ZSCORE_ORACLE = """
    WITH stats AS (
      SELECT user_id, event_id, value,
             CAST(SUM(CAST(floor(value * 1000000) AS BIGINT)) OVER w AS DOUBLE)
               / 1000000.0 AS sx,
             CAST(SUM(CAST(floor(value * value * 1000000) AS BIGINT)) OVER w
                  AS DOUBLE) / 1000000.0 AS sxx,
             COUNT(*) OVER w AS n
      FROM events
      WINDOW w AS (PARTITION BY user_id)
    )
    SELECT user_id, event_id,
           CASE WHEN n < 2 OR (sxx - sx * sx / n) <= 0 THEN NULL
                ELSE CAST(floor((value - sx / n)
                     / sqrt((sxx - sx * sx / n) / (n - 1))
                     * 1000000000) AS BIGINT) END AS z_nanos
    FROM stats
"""


@register("udaf_grouped_pandas", oracle=_ZSCORE_ORACLE)
def udaf_grouped_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map UDAF (applyInPandas): per-user z-score normalization
    of event values — each user's events arrive as one pandas frame
    after a single shuffle on user_id. Mean/var come from exact
    fixed-point power sums (floor(v·1e6), floor(v²·1e6) — int-valued
    float64 sums, exact below 2^53) with the identical expression tree
    in the oracle's window formulation; the z-score is reported as
    FLOORED INTEGER NANOS (round-13 review batch D: the old
    round(·, 9) paired np.round half-even against DuckDB half-away —
    the exact seam the cosine family migrated off; floor of identical
    IEEE doubles has no tie to break).  DEGENERATE GROUPS are NULL on
    BOTH sides by the same predicate (n < 2 or non-positive fixed-point
    variance numerator): the old contract made a single-event group NaN
    in the engine vs NULL in the oracle, and a zero-variance group of
    identical fractionals could drive the oracle's sqrt NEGATIVE
    (floor(v²·1e6) sums can undershoot (floor-sum)²/n) — a hard DuckDB
    OutOfRangeException while the engine silently emitted NaN."""
    import numpy as np

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("z_nanos", T.LongType()),
        ]
    )

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        v = pdf["value"].to_numpy(dtype=np.float64)
        n = len(v)
        sx = np.floor(v * 1e6).sum() / 1e6
        sxx = np.floor(v * v * 1e6).sum() / 1e6
        num = sxx - sx * sx / n  # the oracle's CASE predicate operand
        if n < 2 or num <= 0:
            z_nanos = pd.array([None] * n, dtype="Int64")
        else:
            z = (v - sx / n) / np.sqrt(num / (n - 1))
            z_nanos = np.floor(z * 1e9).astype(np.int64)
        return pd.DataFrame(
            {
                "user_id": pdf["user_id"],
                "event_id": pdf["event_id"],
                "z_nanos": z_nanos,
            }
        )

    events = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "value"
    )
    return events.groupBy("user_id").applyInPandas(zscore, schema)


_SESSIONS_ORACLE = """
    WITH flagged AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN ts - lag(ts) OVER w <= INTERVAL 30 MINUTE THEN 0 ELSE 1 END
               AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
      SELECT user_id, ts, event_id, value,
             CAST(SUM(new_session) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id
                                         ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS session_seq
      FROM flagged
    )
    SELECT user_id, session_seq,
           COUNT(*) AS n_events,
           CAST((epoch_us(max(ts)) - epoch_us(min(ts))) // 1000000 AS BIGINT)
             AS duration_sec,
           (CAST(SUM(CAST(floor(value * 1000000) AS BIGINT)) AS DOUBLE)
              / 1000000.0 / COUNT(*)) AS avg_value
    FROM numbered
    GROUP BY user_id, session_seq
"""


@register("udtf_explode_sessions", oracle=_SESSIONS_ORACLE)
def udtf_explode_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-function surface: each user's ordered events EXPLODE into
    N session rows (30-min inactivity gap) — one input group, many
    output rows, the UDTF contract — implemented as a grouped
    applyInPandas whose imperative gap-scan is the state machine
    session_window runs incrementally. Oracle is the relational
    lag+cumsum twin (stream_session_window's formulation), so the
    imperative and declarative session definitions are pinned equal.
    The session average goes through the exact micro-unit sum."""
    import numpy as np

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("session_seq", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("duration_sec", T.LongType()),
            T.StructField("avg_value", T.DoubleType()),
        ]
    )

    def sessions(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"]).reset_index(drop=True)
        ts = pdf["ts"]
        # NaT comparisons are False (not NA), so the first row must be
        # flagged explicitly or every session_seq comes out one low.
        # A NULL ts row starts a NEW session on both sides (round-13
        # review batch D): the oracle's `ts - lag(ts) <= 30min` is
        # not-true when EITHER operand is NULL, so the engine must flag
        # the current row's NaT too, not just the previous row's.
        gap_new = (
            ((ts - ts.shift(1)) > pd.Timedelta(minutes=30))
            | ts.shift(1).isna()
            | ts.isna()
        )
        seq = gap_new.astype("int64").cumsum()
        out = []
        for s, grp in pdf.groupby(seq):
            v = grp["value"].to_numpy(dtype=np.float64)
            start, end = grp["ts"].iloc[0], grp["ts"].iloc[-1]
            # A NaT session (always a singleton — a NULL ts starts a
            # new session AND forces the next row to start another) has
            # NULL duration on the oracle side (epoch_us(NULL) -
            # epoch_us(NULL) is NULL); int(NaT - NaT) would raise here
            # (round-13 ADVICE): propagate None instead.
            duration = (
                None
                if (pd.isna(start) or pd.isna(end))
                else int((end - start) // pd.Timedelta(seconds=1))
            )
            out.append(
                {
                    "user_id": grp["user_id"].iloc[0],
                    "session_seq": int(s),
                    "n_events": len(grp),
                    "duration_sec": duration,
                    "avg_value": np.floor(v * 1e6).sum() / 1e6 / len(v),
                }
            )
        res = pd.DataFrame(out, columns=list(schema.fieldNames()))
        # Pandas widens a None-bearing int column to float64; Int64
        # (nullable) keeps the Arrow type a NULL-able long.
        res["duration_sec"] = res["duration_sec"].astype("Int64")
        return res

    events = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    return events.groupBy("user_id").applyInPandas(sessions, schema)


_CHUNK = 10  # tokens per training chunk — the packing width of the demo


@register(
    "udtf_native_chunker",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    )
    SELECT doc_id, CAST(k AS INTEGER) AS chunk_idx,
           CAST(len(t[k*{_CHUNK}+1 : k*{_CHUNK}+{_CHUNK}]) AS BIGINT) AS n_tokens,
           array_to_string(t[k*{_CHUNK}+1 : k*{_CHUNK}+{_CHUNK}], ' ') AS chunk
    FROM toks CROSS JOIN (SELECT unnest(range(0, 2000)) AS k)
    WHERE k * {_CHUNK} < len(t)
    """,
)
def udtf_native_chunker(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NATIVE Python UDTF (Spark 3.5+/4 `@udtf` class API — r6,
    completing the §2.11 UDF surface next to the mapInPandas-based
    udtf_explode_sessions): a document CHUNKER that splits each doc's
    token stream into fixed 10-token training chunks, one output row
    per chunk, invoked through SQL as a LATERAL table function. This is
    the registration path a SQL-first user extends the engine through
    (`spark.udtf.register` + `LATERAL chunk(text)`), and the chunking
    op itself is the context-window packing primitive every training
    pipeline runs.

    Split semantics are the NON-regex single-space split on both
    engines (Python str.split(' ') keeps empty tokens exactly like
    DuckDB string_split), so the chunk strings hash-match. The plan
    runs one BatchEvalPythonUDTF over the pruned (doc_id, text)
    projection — per-row Python is the declared cost of the UDTF
    surface; the engine's own chunking ops (llm_pack_sequences) stay
    JVM-side. The oracle's k-range (2000) bounds docs to 20k tokens —
    asserted so growth fails loudly instead of silently truncating."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="chunk_idx int, n_tokens bigint, chunk string")
    class ChunkDoc:
        def eval(self, text: str):
            toks = (text or "").split(" ")
            for i in range(0, len(toks), _CHUNK):
                c = toks[i : i + _CHUNK]
                yield (i // _CHUNK, len(c), " ".join(c))

    spark.udtf.register("cps_chunk_doc", ChunkDoc)
    # NULL-text docs emit ZERO rows on both sides (round-13 review
    # batch D): the oracle's WHERE k*10 < len(string_split(NULL)) is
    # not-true, while the UDTF's (text or '') fabricated one
    # empty-chunk row — filter to the oracle's semantics.
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    # Strict > : a doc of EXACTLY 2000 chunks is still inside the
    # oracle's k-range (k <= 1999 covers token 19990+), so >= raised
    # spuriously on a still-correct input.
    if docs.filter(F.size(F.split("text", " ", -1)) > 2000 * _CHUNK).limit(
        1
    ).count():
        raise ValueError("doc exceeds the oracle's 2000-chunk bound")
    return sql(
        spark, sf_dir,
        "SELECT doc_id, c.chunk_idx, c.n_tokens, c.chunk "
        "FROM {docs}, LATERAL cps_chunk_doc(text) c",
        docs=docs.select("doc_id", "text"),
    )
