"""Exact-sum pins (helpers module docstring, invariants 2 and 3: each
int64 term summed as three 21-bit long limbs in one partial/final
aggregate, recombined once per group as decimal(38,0), built by
helpers.exact_agg from SQL text).  These tests pin the REASON and the
FIX directly, at the magnitude where they diverge:

1. The ceiling is REAL: on a fixture whose per-group micro mass
   exceeds 2^63, the single-level accumulator raises Spark's ANSI
   ARITHMETIC_OVERFLOW (loud, never a silent wrap — the documented
   failure mode), while the limb-split form over the same data returns
   the exact sum in any partition layout, one partition included.
2. The two forms are BIT-IDENTICAL where both are defined: on
   money-scale data the limb-split double equals the single-level
   double exactly (same integer total, same final conversion tree) —
   the property that lets every exact-sum key keep its single-level
   oracle.
3. The sum is layout-independent: integer limb partials grouped under
   different partitionings sum to the same decimal (the probe keys in
   test_determinism cover the registered queries; this covers the
   primitive).
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from climateiq_pipelines_spark.functions.helpers import dsum, exact_agg, micros
from tests.conftest import SF_SMALL

# Each row carries 2.5e12 units → floor(x*1e6) = 2.5e18 micros.  Four
# rows in ONE group total 1e19 micros > 2^63 ≈ 9.22e18: the
# single-level long accumulator MUST overflow; the limb sums of four
# rows are far inside int64 and recombine exactly as decimal.
_BIG = 2.5e12
_N = 4


def _big_frame(spark):
    # one row per partition: range(0, N, 1, numPartitions=N)
    # GUARANTEES that layout (range splits its interval across exactly
    # N partitions), so the single-level overflow happens in the final
    # merge, not in one partition's partial.
    return spark.range(0, _N, 1, _N).select(
        F.lit("g").alias("k"), F.lit(_BIG).alias("v")
    )


def test_single_level_overflows_loudly_past_2e63(spark):
    df = _big_frame(spark).groupBy("k").agg(dsum(F.col("v"), "s"))
    with pytest.raises(Exception) as exc:
        df.collect()
    msg = str(exc.value)
    assert "ARITHMETIC_OVERFLOW" in msg or "overflow" in msg.lower(), msg


def test_two_level_returns_exact_sum_past_2e63(spark):
    [row] = exact_agg(_big_frame(spark), ["k"], [("dsum", "v", "s")]).collect()
    # 4 × 2.5e18 micros = 1e19 micros = 1e13 units, integer-exact as a
    # double (1e13 < 2^53)
    assert row["s"] == 1.0e13, row


def test_exact_sum_past_2e63_in_one_partition(spark):
    """The partition layout bounds nothing: all four 2.5e18-micro rows
    in ONE partition still sum to exactly 1e13 (a per-partition long
    partial of their micros would overflow)."""
    one = _big_frame(spark).coalesce(1)
    [row] = exact_agg(one, ["k"], [("dsum", "v", "s")]).collect()
    assert row["s"] == 1.0e13, row


# int64 terms at every limb edge and both int64 extremes: the limb
# identity v = hi·2^42 + mid·2^21 + lo must hold for each sign.
_EDGE_TERMS = [
    -1, 2**62 + 1, -(2**62 + 1), 2**21 - 1, 2**21, 2**42 - 1, 2**42,
    -(2**21), -(2**42), 2**63 - 1, -(2**63),
]


def test_limb_identity_matches_python_integer_sums(spark):
    """isum of five copies of each edge term (past int64 for the large
    ones), and of all of them together, equals Python's integer sum."""
    rows = [(i, v) for i, v in enumerate(_EDGE_TERMS) for _ in range(5)]
    df = spark.createDataFrame(rows, "k int, v bigint").repartition(3)
    got = {r["k"]: r["s"] for r in exact_agg(df, ["k"], [("isum", "v", "s")]).collect()}
    assert got == {i: 5 * v for i, v in enumerate(_EDGE_TERMS)}
    [one] = exact_agg(df, [], [("isum", "v", "s")]).collect()
    assert one["s"] == 5 * sum(_EDGE_TERMS)


def test_isum_of_an_int_column_is_exact(spark):
    """An INT-typed term is widened before the shifts: shiftright on an
    int masks its distance to 5 bits, so a 42-bit shift would shift by
    10 and corrupt the hi limb."""
    vals = [2**31 - 1, -(2**31), 123_456_789, 2**30 + 5, -7]
    df = spark.createDataFrame([(v,) for v in vals * 3], "v int")
    [row] = exact_agg(df, [], [("isum", "v", "s")]).collect()
    assert row["s"] == 3 * sum(vals)


def test_two_forms_bit_identical_at_money_scale(spark):
    # 10k pseudo-random money-scale rows across 7 partitions: the two
    # forms must produce the SAME double, bit for bit.
    base = (
        spark.range(10_000)
        .repartition(7)
        .select(
            (F.pmod(F.col("id"), F.lit(5))).alias("k"),
            (
                (F.pmod(F.xxhash64("id"), F.lit(10_000_000)))
                / F.lit(100.0)
            ).alias("v"),
        )
    )
    single = {
        r["k"]: r["s"]
        for r in base.groupBy("k").agg(dsum(F.col("v"), "s")).collect()
    }
    two = {
        r["k"]: r["s"]
        for r in exact_agg(base, ["k"], [("dsum", "v", "s")]).collect()
    }
    assert single == two  # exact float equality — same integer, same tree


def test_merge_is_layout_independent(spark):
    vals = [(i % 3, (i * 7919) % 1000 / 4.0) for i in range(2_000)]
    results = []
    for n_parts in (1, 5, 32):
        df = spark.createDataFrame(vals, ["k", "v"]).repartition(n_parts)
        results.append(
            sorted(
                (r["k"], r["s"])
                for r in exact_agg(df, ["k"], [("dsum", "v", "s")]).collect()
            )
        )
    assert results[0] == results[1] == results[2]


# --------------------------------------------------- exact_agg() helper
# These pin the builder itself against the single-level forms, spec
# kind by spec kind.


def _audit_frame(spark, n_parts=7):
    return (
        spark.range(5_000)
        .repartition(n_parts)
        .select(
            F.pmod(F.col("id"), F.lit(4)).alias("k"),
            (F.pmod(F.xxhash64("id"), F.lit(900_000)) / F.lit(100.0)).alias(
                "v"
            ),
            F.when(F.col("id") % 13 == 0, F.col("id")).alias("maybe"),
            F.concat(F.lit("b"), F.pmod(F.col("id"), F.lit(9))).alias(
                "brand"
            ),
        )
    )


def test_two_level_helper_matches_single_level(spark):
    df = _audit_frame(spark)
    got = {
        r["k"]: r.asDict()
        for r in exact_agg(
            df,
            ["k"],
            [
                ("count", "n_rows"),
                ("countc", "maybe", "n_maybe"),
                ("lsum", "maybe", "checksum"),
                ("dsum", "v", "sum_v"),
                ("davg", "v", "avg_v"),
                ("min", "v", "min_v"),
                ("max", "v", "max_v"),
                ("cdistinct", "brand", "n_brands"),
                ("lit", "CAST(42 AS INT)", "answer"),
            ],
        ).collect()
    }
    want = {
        r["k"]: r.asDict()
        for r in df.groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("maybe").alias("n_maybe"),
            F.coalesce(F.sum("maybe"), F.lit(0)).cast("long").alias(
                "checksum"
            ),
            dsum(F.col("v"), "sum_v"),
            (
                F.sum(micros(F.col("v"))).cast("double")
                / F.lit(1e6)
                / F.count("v")
            ).alias("avg_v"),
            F.min("v").alias("min_v"),
            F.max("v").alias("max_v"),
            F.countDistinct("brand").alias("n_brands"),
            F.lit(42).cast("int").alias("answer"),
        )
        .collect()
    }
    assert got == want  # exact equality, floats bit-for-bit included


def test_two_level_helper_layout_independent(spark):
    frames = [
        sorted(
            (r["k"], r["s"], r["a"], r["n"])
            for r in exact_agg(
                _audit_frame(spark, n_parts),
                ["k"],
                [
                    ("dsum", "v", "s"),
                    ("davg", "v", "a"),
                    ("count", "n"),
                ],
            ).collect()
        )
        for n_parts in (1, 6, 32)
    ]
    assert frames[0] == frames[1] == frames[2]


def test_two_level_helper_global_and_empty(spark):
    aggs = [("count", "n"), ("dsum", "v", "s")]
    df = _audit_frame(spark)
    [row] = exact_agg(df, [], aggs).collect()
    [want] = df.agg(
        F.count(F.lit(1)).alias("n"), dsum(F.col("v"), "s")
    ).collect()
    assert (row["n"], row["s"]) == (want["n"], want["s"])
    # empty input: the global form must still return ONE row with
    # n=0 (the coalesce in the count merge) — matching the
    # single-level global aggregate's empty-relation contract
    [empty] = exact_agg(df.filter(F.lit(False)), [], aggs).collect()
    assert empty["n"] == 0 and empty["s"] is None


def test_two_level_helper_aliased_key_and_bad_kind(spark):
    df = _audit_frame(spark)
    out = exact_agg(df, ["k % 2 = 0 AS k_even"], [("count", "n")])
    assert out.columns == ["k_even", "n"]
    assert {r["k_even"] for r in out.collect()} == {True, False}
    with pytest.raises(ValueError, match="unknown exact_agg kind"):
        exact_agg(df, ["k"], [("median", "v", "m")])


def _partial_functions(spark, df) -> str:
    """The plan line of ``df``'s one partial HashAggregate."""
    plan = spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )
    [line] = [ln for ln in plan.splitlines()
              if "HashAggregate" in ln and "partial_" in ln]
    return line


def test_dsum_and_davg_of_one_text_share_one_partial(spark):
    """A sum and a mean of one expression sum its limbs once: the
    physical partial aggregate holds the three limb sums and the mean's
    count, no more (Catalyst dedups the identical aggregate texts), and
    both results still equal their single-level forms."""
    aggs = [("dsum", "v * 2", "s"), ("davg", "v * 2", "a")]
    df = _audit_frame(spark)
    out = exact_agg(df, ["k"], aggs)
    partial = _partial_functions(spark, out)
    assert partial.count("partial_sum(") == 3, partial
    assert partial.count("partial_count(") == 1, partial
    assert partial.count("partial_") == 4, partial
    got = {r["k"]: (r["s"], r["a"]) for r in out.collect()}
    v2 = F.col("v") * 2
    want = {
        r["k"]: (r["s"], r["a"])
        for r in df.groupBy("k")
        .agg(
            dsum(v2, "s"),
            (
                F.sum(micros(v2)).cast("double") / F.lit(1e6) / F.count(v2)
            ).alias("a"),
        )
        .collect()
    }
    assert got == want


@pytest.mark.parametrize("key", ["agg_pricing_summary", "q6_revenue_forecast"])
def test_exact_agg_key_plans_one_shuffle(spark, key):
    """An exact aggregate is one partial/final pair: the key's plan has
    exactly one shuffle Exchange and never groups by the partition id."""
    from climateiq_pipelines_spark.plans import QUERIES

    plan = spark._jvm.PythonSQLUtils.explainString(
        QUERIES[key](spark, SF_SMALL)._jdf.queryExecution(), "simple"
    )
    # \bExchange skips BroadcastExchange / ReusedExchange
    assert len(re.findall(r"\bExchange\b", plan)) == 1, plan
    assert "spark_partition_id" not in plan, plan


# ------------------------------------------------- one builder, no copies
_PKG = Path(__file__).resolve().parent.parent / "climateiq_pipelines_spark"


def _partition_id_groupings(tree: ast.AST) -> list[int]:
    """Line of every groupBy/rollup/cube call whose keys mention
    spark_partition_id -- a per-partition partial."""

    def mentions_pid(node) -> bool:
        return any(
            (isinstance(n, ast.Attribute) and n.attr == "spark_partition_id")
            or (isinstance(n, ast.Constant) and isinstance(n.value, str)
                and "spark_partition_id" in n.value)
            for n in ast.walk(node)
        )

    return [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
        and node.func.attr in ("groupBy", "groupby", "rollup", "cube")
        and any(mentions_pid(a) for a in node.args)
    ]


def test_no_partition_id_partial_outside_the_builder():
    """No per-partition partial anywhere in the package: no module
    groups by spark_partition_id() or names a `_pid` column (every
    exact aggregate is helpers.exact_agg's one partial/final pair)."""
    stray = []
    for path in sorted(_PKG.rglob("*.py")):
        rel = path.relative_to(_PKG).as_posix()
        src = path.read_text()
        pid_lines = [i for i, line in enumerate(src.splitlines(), 1)
                     if re.search(r"\b_pid\b", line)]
        stray += [(rel, ln) for ln in _partition_id_groupings(ast.parse(src)) + pid_lines]
    assert stray == [], stray


def test_pricing_summary_build_sends_few_py4j_commands(spark, monkeypatch):
    """The text builder renders each partial and merge as one F.expr:
    building agg_pricing_summary's plan takes at most 200 py4j commands
    (it took 947 with the hand-built Column pair).

    Only the building thread's commands count: py4j's finalizer thread
    sends one delete per JavaObject freed earlier, whenever it wakes,
    and those deletes are no cost of this build."""
    import threading

    from py4j.clientserver import ClientServerConnection
    from py4j.java_gateway import GatewayConnection

    from climateiq_pipelines_spark.plans import QUERIES

    QUERIES["agg_pricing_summary"](spark, SF_SMALL)  # warm the table memo
    builder = threading.get_ident()
    sent = []
    for cls in (ClientServerConnection, GatewayConnection):
        def counting(self, command, *args, _send=cls.send_command, **kwargs):
            if threading.get_ident() == builder:
                sent.append(command)
            return _send(self, command, *args, **kwargs)

        monkeypatch.setattr(cls, "send_command", counting)
    QUERIES["agg_pricing_summary"](spark, SF_SMALL)
    assert 0 < len(sent) <= 200, len(sent)
