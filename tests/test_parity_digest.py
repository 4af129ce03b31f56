"""Pins for the fast-sweep digest twins (parity_digest.py).

VERDICT r10 task #3's Done-criterion: the digest comparison must agree
with the strict per-cell comparator on mutations — flip one cell and
BOTH must fail — plus the digest's own correctness claims: the IEEE
float decomposition is exact, identical across engines, and injective
down to adjacent ulps (outside the documented sub-1e-292 token range).
"""

from __future__ import annotations

import math

import pandas as pd
import pytest

from climateiq_pipelines_spark.parity import compare_frames
from climateiq_pipelines_spark.plans import ORACLES, QUERIES
from climateiq_pipelines_spark import parity_digest as PD

from tests.conftest import SF_SMALL

DIGEST_KEYS = ["fn_math", "proj_computed_columns", "fn_date"]


def test_fast_keys_registered_and_static_oracled():
    """The digest set must stay inside the registered surface and off
    the builder keys (digest mode uses the static oracle text)."""
    from tools.driver_sim import DIGEST_FAST_KEYS
    from climateiq_pipelines_spark.plans import ORACLE_BUILDERS

    assert DIGEST_FAST_KEYS == set(DIGEST_KEYS)
    for k in DIGEST_KEYS:
        assert k in QUERIES and k in ORACLES
        assert k not in ORACLE_BUILDERS


@pytest.mark.parametrize("key", DIGEST_KEYS)
def test_digest_twins_match(key, spark, duck_small):
    """Cross-engine digest equality on the unmutated relation — the
    fast-sweep pass condition, at the same SF the strict comparator
    certifies these keys every round."""
    df = QUERIES[key](spark, SF_SMALL)
    cols = PD.kinds_from_spark(df)
    sd = PD.spark_digest(spark, df)
    dd = PD.duck_digest(duck_small, cols, ORACLES[key])
    assert tuple(sd.iloc[0]) == tuple(dd.iloc[0])


def test_spark_digest_releases_its_checkpoint_blocks(spark):
    """Round-12 self-review: Dataset.unpersist() is a NO-OP for
    localCheckpoint storage (CacheManager-only), so the ADVICE r11 fix
    must release at the RDD level.  Pin that spark_digest leaves the
    session's persistent-RDD count exactly where it found it — without
    relying on harness-level release_blocks."""
    df = QUERIES["fn_date"](spark, SF_SMALL)
    n_before = spark.sparkContext._jsc.getPersistentRDDs().size()
    PD.spark_digest(spark, df)
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == n_before


# One float-column and one int-column mutation per digest key: the
# oracle side is wrapped in SELECT * REPLACE so exactly one cell of one
# row changes, then BOTH comparators must reject.
MUTATIONS = {
    "fn_math": [
        ("price_r1", "price_r1 + CASE WHEN l_orderkey = (SELECT min(l_orderkey)"
                     " FROM lineitem) THEN 0.1 ELSE 0 END"),
        ("qty_pmod", "qty_pmod + CASE WHEN l_orderkey = (SELECT min(l_orderkey)"
                     " FROM lineitem) THEN 1 ELSE 0 END"),
    ],
    "proj_computed_columns": [
        ("revenue", "revenue * CASE WHEN l_orderkey = (SELECT min(l_orderkey)"
                    " FROM lineitem) THEN 1.0000001 ELSE 1 END"),
    ],
    "fn_date": [
        ("order_year", "order_year + CASE WHEN o_orderkey = (SELECT"
                       " min(o_orderkey) FROM orders) THEN 1 ELSE 0 END"),
    ],
}


@pytest.mark.parametrize(
    "key,mutation",
    [(k, m) for k, ms in MUTATIONS.items() for m in ms],
    ids=[f"{k}:{m[0]}" for k, ms in MUTATIONS.items() for m in ms],
)
def test_digest_fails_with_strict_comparator_on_mutation(
    key, mutation, spark, duck_small
):
    """Flip one cell in the oracle relation: the strict comparator and
    the digest twin must BOTH reject — the digest never passes a result
    the certification path would fail."""
    col, repl = mutation
    mutated = f"SELECT * REPLACE ({repl} AS {col}) FROM ({ORACLES[key]}) _m"
    df = QUERIES[key](spark, SF_SMALL)
    cols = PD.kinds_from_spark(df)

    strict = compare_frames(
        key, df.toPandas(), duck_small.execute(mutated).df()
    )
    assert not strict.ok, f"strict comparator missed the {col} mutation"

    sd = PD.spark_digest(spark, df)
    dd = PD.duck_digest(duck_small, cols, mutated)
    assert tuple(sd.iloc[0]) != tuple(dd.iloc[0]), (
        f"digest missed the {col} mutation the strict comparator caught"
    )


# ------------------------------------------------ float canon exactness

# Adversarial doubles: ulp neighbours around 1.0 and around a
# round(x, 2)-style value, transcendental outputs, huge/tiny normals,
# negatives, specials.  2.3e-308 sits in the documented sub-1e-292
# token range and must collapse to '0:0' in BOTH engines.
TRICKY = [
    0.1, 1 / 3, math.pi, 2.0**52 + 1, 1e15 + 0.5,
    0.019999999999999997, 0.02,
    1.0, math.nextafter(1.0, 0.0), math.nextafter(1.0, 2.0),
    1024.0, math.nextafter(1024.0, 0.0),
    1.79e308, 1e-290,
    -math.pi, -0.1,
    0.0, -0.0, 2.3e-308,
    # NaN/None both land as NULL through the pandas transfer used to
    # inject this list (pandas' float64 null marker IS NaN); the real
    # isnan/isinf branches are pinned separately via SQL literals in
    # test_f64_canon_specials_via_sql_literals.
    float("nan"), None,
]


def _py_canon(v):
    """Reference decomposition via math.frexp — exact by construction."""
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return PD.NULLTOK  # pandas-transfer path conflates NaN/NULL
    if v == 0:
        # signed zero: the strict comparator's repr distinguishes
        # -0.0, so the canon does too (atan2 sign probe in-engine)
        return "-0" if math.copysign(1.0, v) < 0 else "0"
    if math.isinf(v):
        return "inf" if v > 0 else "-inf"
    sign = "-" if v < 0 else ""
    ax = abs(v)
    if ax <= 1e-292:
        return f"{sign}0:0"  # documented token range
    f, ee = math.frexp(ax)  # ax = f * 2^ee, f in [0.5, 1)
    return f"{sign}{ee - 1}:{int(f * 2**53)}"


def _duck_canons(con, values):
    con.register("_tricky", pd.DataFrame({"x": pd.Series(values, dtype="float64")}))
    full = PD.digest_sql([("x", "float")], "SELECT x FROM _tricky", "duckdb")
    inner = full[full.index("FROM (") + 6 : full.rindex(") AS _dgG")]
    out = list(con.execute(f"SELECT c0 FROM ({inner}) t").df()["c0"])
    con.unregister("_tricky")
    return out


def _spark_canons(spark, values):
    sdf = spark.createDataFrame(
        pd.DataFrame({"x": pd.Series(values, dtype="float64")})
    )
    sdf.createOrReplaceTempView("_tricky_s")
    full = PD.digest_sql([("x", "float")], "_tricky_s", "spark")
    inner = full[full.index("FROM (") + 6 : full.rindex(") AS _dgG")]
    out = list(spark.sql(f"SELECT c0 FROM ({inner}) t").toPandas()["c0"])
    spark.catalog.dropTempView("_tricky_s")
    return out


def test_f64_canon_exact_injective_cross_engine(spark, duck_small):
    """Three-way agreement on adversarial doubles: DuckDB SQL, Spark
    SQL, and an independent math.frexp reference all produce the same
    canonical string per value — and distinct finite values (above the
    token floor) get distinct strings, adjacent ulps included."""
    expect = [_py_canon(v) for v in TRICKY]
    duck = _duck_canons(duck_small, TRICKY)
    assert duck == expect, list(zip(TRICKY, duck, expect))
    sp = _spark_canons(spark, TRICKY)
    assert sp == expect, list(zip(TRICKY, sp, expect))
    # injectivity over the distinct finite non-token values: every
    # distinct double gets a distinct canon (ulp neighbours differ)
    finite = [
        v for v in TRICKY
        if v is not None and math.isfinite(v) and abs(v) > 1e-292
    ]
    canons = [_py_canon(v) for v in finite]
    assert len(set(canons)) == len(set(finite))


def test_f64_canon_specials_via_sql_literals(spark, duck_small):
    """NaN/±Inf branches of the canon CASE, injected as engine-side
    literals (the pandas transfer above cannot carry a true NaN)."""
    lits = "SELECT CAST('NaN' AS DOUBLE) AS x UNION ALL " \
           "SELECT CAST('Infinity' AS DOUBLE) UNION ALL " \
           "SELECT CAST('-Infinity' AS DOUBLE)"
    for dialect, run in (
        ("duckdb", lambda q: list(duck_small.execute(q).df()["c0"])),
        ("spark", lambda q: list(spark.sql(q).toPandas()["c0"])),
    ):
        full = PD.digest_sql([("x", "float")], lits, dialect)
        inner = full[full.index("FROM (") + 6 : full.rindex(") AS _dgG")]
        got = sorted(run(f"SELECT c0 FROM ({inner}) t"))
        assert got == ["-inf", "inf", "nan"], (dialect, got)


# Property test: the SQL decomposition agrees with math.frexp on
# arbitrary finite doubles (DuckDB evaluates per example — ~1 ms each;
# the Spark dialect shares the generated SQL text modulo cast names and
# is pinned on the fixed adversarial list above plus the relation
# digests, so the cheap engine carries the random load).
try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @given(
        st.floats(
            allow_nan=False, allow_infinity=False, width=64,
            min_value=-1.7e308, max_value=1.7e308,
        )
    )
    @settings(max_examples=300, deadline=None)
    def test_f64_canon_matches_frexp_on_random_doubles(duck_small, x):
        full = PD.digest_sql([("x", "float")], "SELECT $x::DOUBLE AS x", "duckdb")
        inner = full[full.index("FROM (") + 6 : full.rindex(") AS _dgG")]
        got = duck_small.execute(
            f"SELECT c0 FROM ({inner}) t", {"x": x}
        ).fetchone()[0]
        want = _py_canon(x)
        # the pandas-path helper maps NaN to NULLTOK; SQL literals keep
        # real NaN out of this strategy, so only the finite arm is hit
        assert got == want, (x, x.hex(), got, want)
except ImportError:  # pragma: no cover - hypothesis is baked in here
    pass
