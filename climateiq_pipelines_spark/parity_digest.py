"""Order-insensitive relation digest computed INSIDE each engine.

VERDICT r10 task #3: the strict per-cell Python comparator makes the
three full-projection keys dominate sweep wall (fn_math 16.3 s for
600k x 13 cells at sf0.1, vs a sub-second engine plan).  The fix is
not to vectorize the comparator (declined r10: the comparator must
stay simpler than what it checks) but to shrink what REACHES it: in
``tools/driver_sim.py --fast`` those keys compare a 2-value digest
aggregate (row count + sum of per-row md5 prefixes, the sink_compression_codecs
pattern) computed by Spark over the key's own DataFrame and by DuckDB
over the oracle text.  Full per-cell canonicalization still runs at
the sf0.01 certification scale and in non-fast sweeps.

The hard part is hashing DOUBLE columns identically in two engines:
float-to-string rendering is engine-specific (Java vs fmt), so the
canonical form is the exact IEEE-754 decomposition instead —
``sign:exponent:mantissa`` where ``mantissa = abs(x) * 2^(52-e)`` as
a BIGINT.  Multiplying a double by a power of two is EXACT in IEEE
arithmetic (pure exponent shift, no rounding) unless the result
over/underflows, so both engines produce the same integer pair
bit-for-bit; adjacent-ulp doubles get distinct strings (injective —
pinned by tests/test_parity_digest.py's ulp probe).  Values below
1e-292 (where the 2^(52-e) scale factor would itself overflow)
collapse to a SIGNED ``0:0`` / ``-0:0`` token (the stage-F canon
keeps the sign) — non-injective within each sign by choice:
one pow() per cell instead of the denormal-safe split pair (a modest
measured win, ~9.9 -> 9.2 s warm on the fn_math digest, and half the
transcendental calls), and no fixture column is within 250 orders of
magnitude of a denormal.  ``floor(log2(ax))`` may be off by one near power-of-two
boundaries (libm log2 is not correctly rounded); the one-step
halve/double adjustment on the scaled value repairs it before the
final cast.

The decomposition is emitted as a PIPELINE of nested subqueries (one
stage per intermediate: e0 -> m0 -> e -> m -> canon) rather than one
inlined expression tree: naive inlining repeats abs(x) ~30x per
column and blew Spark's whole-stage-codegen 64 KB method limit on the
first 13-column attempt; staged columns keep generated code linear in
column count, and Catalyst collapses the projections into one stage
anyway.

Timestamps format through an explicit microsecond pattern (engine
default renderings differ in fraction trimming); ints/dates/booleans
cast identically by construction.  NULL gets a sentinel, fields join
on the 0x1f unit separator (absent from every fixture column these
digests cover).

What the digest does NOT check vs the strict comparator: column
dtypes (schema parity is certified per-round at sf0.01) and WHICH
rows differ on mismatch — a digest failure says re-run the key under
the strict path, it does not localize.  One place it is STRICTER: a
float-column NULL and NaN both arrive as NaN through the strict
path's pandas transfer (float64 has no separate null), while the
in-engine digest distinguishes them — a genuine NULL-vs-NaN engine
divergence fails fast sweeps (conservative false alarm relative to
strict, never a miss).
"""

from __future__ import annotations

import pandas as pd

SEP = "\x1f"
NULLTOK = "\x1eN"

# 2^52 and 2^53 as exact double literals for the mantissa-range check.
_P52 = "4503599627370496"
_P53 = "9007199254740992"
_INF = "CAST('Infinity' AS DOUBLE)"


def _scaled(ax: str, e: str) -> str:
    """``ax * 2^(52-e)`` — exact: a power-of-two multiply is a pure
    exponent shift, no rounding.  One pow() per cell, not a split pair:
    the split was only needed to keep 2^(52-e) representable for
    DENORMAL inputs (e < -971), which instead take a fallback token in
    the canon CASE — halves the pow() count per cell (modest measured
    win on the 4.2M-cell fn_math digest), and the fixture float domain
    has no denormals (the token keeps the digest well-defined, merely
    non-injective below 1e-292)."""
    return f"({ax} * pow(2, 52 - {e}))"


def _finite_pos(ax: str) -> str:
    """Guard: ax is a positive finite NON-TINY double (the only case
    the exponent/mantissa path runs; 0/NULL/NaN/Inf/denormal-range
    values take CASE literals).  NaN orders above 0 in DuckDB, so
    isnan() is checked explicitly.  The 1e-292 floor (2^-970) keeps
    the single-pow scale factor 2^(52-e) finite."""
    return f"({ax} > 1e-292 AND NOT isnan({ax}) AND {ax} < {_INF})"


_KIND = {
    "double": "float", "float": "float",
    "timestamp_ntz": "ts", "timestamp": "ts",
}


def kinds_from_spark(df) -> list[tuple[str, str]]:
    """(name, kind) per column from a Spark DataFrame's dtypes."""
    return [(n, _KIND.get(t, "other")) for n, t in df.dtypes]


def digest_sql(cols: list[tuple[str, str]], inner: str, dialect: str) -> str:
    """The 1-row digest query over ``inner`` (a view name or subquery).

    n      -- row count
    dsum   -- sum of each row's md5 head (first 15 hex chars -> 60-bit
              int) in a decimal(38,0) accumulator: order-insensitive,
              overflow-free at any corpus size, and a single flipped
              cell anywhere moves it (the codecs-key construction).
    """
    s = "STRING" if dialect == "spark" else "VARCHAR"
    q = (lambda n: f"`{n}`") if dialect == "spark" else (lambda n: f'"{n}"')
    floats = [i for i, (_, k) in enumerate(cols) if k == "float"]

    # stage A: canonical strings for every non-float column; raw value
    # + abs for floats (everything downstream references stage columns,
    # never the original expression — keeps generated code linear).
    parts_a = []
    for i, (name, kind) in enumerate(cols):
        c = q(name)
        if kind == "float":
            parts_a.append(f"{c} AS raw{i}")
            parts_a.append(f"abs({c}) AS ax{i}")
            continue
        if kind == "ts":
            if dialect == "spark":
                expr = f"date_format({c}, 'yyyy-MM-dd HH:mm:ss.SSSSSS')"
            else:
                expr = f"strftime({c}, '%Y-%m-%d %H:%M:%S.%f')"
        else:  # int / str / date / bool / decimal — identical casts
            expr = f"CAST({c} AS {s})"
        parts_a.append(f"coalesce({expr}, '{NULLTOK}') AS c{i}")
    src = inner if inner.strip().isidentifier() else f"({inner})"
    sql = f"SELECT {', '.join(parts_a)} FROM {src} AS _dg0"

    if floats:
        # stage B: first exponent guess from log2 (guarded: log2 of
        # 0/NaN/Inf would cast-error or NULL out downstream).
        parts = ["*"] + [
            f"CASE WHEN {_finite_pos(f'ax{i}')} "
            f"THEN CAST(floor(log2(ax{i})) AS INT) ELSE 0 END AS e0{i}"
            for i in floats
        ]
        sql = f"SELECT {', '.join(parts)} FROM ({sql}) AS _dgB"
        # stage C: scaled mantissa under the first guess.
        parts = ["*"] + [
            f"{_scaled(f'ax{i}', f'e0{i}')} AS m0{i}" for i in floats
        ]
        sql = f"SELECT {', '.join(parts)} FROM ({sql}) AS _dgC"
        # stage D: one-step correction (m0 in [2^52, 2^53) iff e0 was
        # exact; off-by-one lands exactly one octave out).  The
        # corrected mantissa derives from m0 by halving/doubling —
        # exact IEEE ops (m0 = 2*true_m or true_m/2, both of which
        # recover true_m losslessly) — rather than rescaling ax at the
        # corrected exponent: Catalyst's projection collapse re-inlines
        # alias definitions at every reference, so the shallower
        # m0-based graph keeps the final fused expression small.
        parts = ["*"] + [
            f"CASE WHEN {_finite_pos(f'ax{i}')} THEN e0{i} + "
            f"(CASE WHEN m0{i} >= {_P53} THEN 1 "
            f"WHEN m0{i} < {_P52} THEN -1 ELSE 0 END) "
            f"ELSE 0 END AS e{i}"
            for i in floats
        ]
        parts += [
            f"CASE WHEN NOT {_finite_pos(f'ax{i}')} THEN 0 "
            f"WHEN m0{i} >= {_P53} THEN CAST(m0{i} / 2 AS BIGINT) "
            f"WHEN m0{i} < {_P52} THEN CAST(m0{i} * 2 AS BIGINT) "
            f"ELSE CAST(m0{i} AS BIGINT) END AS m{i}"
            for i in floats
        ]
        sql = f"SELECT {', '.join(parts)} FROM ({sql}) AS _dgD"
        # stage F: canonical strings for the float columns.  Signed
        # zero: the strict comparator distinguishes -0.0 from 0.0
        # (repr equality), so the digest must too or a sign flip would
        # pass fast sweeps.  `raw < 0` is false for -0.0 and no single
        # probe works in both engines — Spark's atan2 deliberately
        # normalizes -0.0 to +0.0 (probed: atan2(-0.0,-1) = +pi) while
        # its string cast keeps the sign (Java Double.toString), and
        # DuckDB is exactly opposite (atan2(-0.0,-1) = -pi, VARCHAR
        # cast renders '0.0') — so each dialect uses ITS sign-faithful
        # primitive to reach the same '-0'/'0' token.
        def _negzero(i: int) -> str:
            if dialect == "spark":
                return f"CAST(raw{i} AS STRING) LIKE '-%'"
            return f"atan2(raw{i}, -1.0) < 0"

        parts = [f"c{i}" for i, (_, k) in enumerate(cols) if k != "float"]
        parts += [
            f"CASE WHEN raw{i} IS NULL THEN '{NULLTOK}' "
            f"WHEN isnan(raw{i}) THEN 'nan' "
            f"WHEN raw{i} = 0 THEN "
            f"(CASE WHEN {_negzero(i)} THEN '-0' ELSE '0' END) "
            f"WHEN raw{i} = {_INF} THEN 'inf' "
            f"WHEN raw{i} = -{_INF} THEN '-inf' "
            f"ELSE concat(CASE WHEN raw{i} < 0 THEN '-' ELSE '' END, "
            f"CAST(e{i} AS {s}), ':', CAST(m{i} AS {s})) END AS c{i}"
            for i in floats
        ]
        sql = f"SELECT {', '.join(parts)} FROM ({sql}) AS _dgF"

    row = f"concat_ws('{SEP}', {', '.join(f'c{i}' for i in range(len(cols)))})"
    if dialect == "spark":
        h = f"CAST(conv(substr(md5(CAST({row} AS BINARY)), 2, 15), 16, 10) AS BIGINT)"
    else:
        h = f"CAST(concat('0x', substr(md5({row}), 2, 15)) AS BIGINT)"
    # dsum leaves the engine as a STRING: DuckDB's .df() narrows a
    # 22-digit DECIMAL(38,0) to float64 (observed: trailing-zero
    # corruption), so both engines render the exact integer to text
    # and Python re-parses it.
    return (
        f"SELECT COUNT(*) AS n, "
        f"CAST(coalesce(SUM(CAST({h} AS DECIMAL(38,0))), "
        f"CAST(0 AS DECIMAL(38,0))) AS {s}) AS dsum FROM ({sql}) AS _dgG"
    )


def _as_ints(out: pd.DataFrame) -> pd.DataFrame:
    out["dsum"] = out["dsum"].map(int)  # exact: engine rendered a string
    out["n"] = out["n"].map(int)
    return out


def spark_digest(spark, df) -> pd.DataFrame:
    """Digest of a Spark DataFrame — same plan depth as the key itself
    plus one (Catalyst-collapsed) projection chain and a 1-row
    aggregate; the toPandas shrinks from |rows| x |cols| cells to two."""
    cols = kinds_from_spark(df)
    # Optimization barrier: without it Catalyst collapses the digest
    # projections INTO the key's own projection, re-inlining the key's
    # expressions (round(pow(...)) etc.) at every ax/m0 reference —
    # measured 13.7 s vs 3.4 s on fn_math at sf0.1.  localCheckpoint
    # computes the key's relation exactly once (the repo's standard
    # diamond-reuse pattern), then the digest runs over stored rows.
    # ADVICE r11 + round-12 self-review: Dataset.unpersist() is a NO-OP
    # for localCheckpoint storage (it only consults the CacheManager;
    # the checkpointed INTERNAL RDD stays in getPersistentRDDs —
    # verified empirically on Spark 4.1.2).  Release the blocks at the
    # RDD level instead: snapshot the persistent-RDD ids before the
    # checkpoint and unpersist exactly the ids this call added, so a
    # caller WITHOUT harness-level release_blocks (tests, ad-hoc use)
    # doesn't leak the full materialized relation (600k x 13 at sf0.1)
    # per digest key for the session lifetime.
    def _persistent_jrdds() -> dict:
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        return {jr.id(): jr for jr in list(jmap.values())}

    before = set(_persistent_jrdds())
    ckpt = df.localCheckpoint(eager=False)
    # Per-call UNIQUE view name (round-13 review): a fixed "_digest_in"
    # meant two in-flight digests on one session (a threaded sweep,
    # pytest-xdist sharing the session fixture) could clobber each
    # other between registration and the spark.sql action — digest A
    # computed over key B's rows reads as a false MISMATCH.
    import uuid as _uuid

    view = f"_digest_in_{_uuid.uuid4().hex[:12]}"
    try:
        ckpt.createOrReplaceTempView(view)
        return _as_ints(
            spark.sql(digest_sql(cols, view, "spark")).toPandas()
        )
    finally:
        spark.catalog.dropTempView(view)
        for rid, jr in _persistent_jrdds().items():
            if rid not in before:
                jr.unpersist(False)


def duck_digest(con, cols: list[tuple[str, str]], oracle: str) -> pd.DataFrame:
    return _as_ints(con.execute(digest_sql(cols, oracle, "duckdb")).df())


def check_key_digest(key: str, spark, sf_dir: str, con):
    """Digest twin of parity.check_key: the key's relation and its
    oracle (plans.ORACLES) each reduced in-engine to
    (n, dsum) and compared.  A mismatch does not localize — re-run the
    key through check_key for the differing rows."""
    from climateiq_pipelines_spark.parity import ParityResult
    from climateiq_pipelines_spark.plans import ORACLES, QUERIES

    df = QUERIES[key](spark, sf_dir)
    cols = kinds_from_spark(df)
    sd = spark_digest(spark, df).iloc[0]
    dd = duck_digest(con, cols, ORACLES[key]).iloc[0]
    res = ParityResult(key=key, ok=tuple(sd) == tuple(dd),
                       spark_rows=int(sd["n"]), oracle_rows=int(dd["n"]))
    if not res.ok:
        res.reasons.append(f"digest spark={tuple(sd)} oracle={tuple(dd)}"
                           " — re-run without --fast to localize")
    return res
