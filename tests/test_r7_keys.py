"""Behavior/property pins for the round-7 surface additions beyond
their oracle parity: structural invariants that would catch a
wrong-but-self-consistent implementation on both engines (the failure
mode twin-SQL oracles cannot see).
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from climateiq_pipelines_spark.functions.textgrams import word_shingles
from climateiq_pipelines_spark.plans import QUERIES
from climateiq_pipelines_spark.registry import load_table, widen_if_narrow

from tests.conftest import SF_SMALL


def test_recursive_closure_is_binary_heap(spark):
    """Independent re-derivation: in the implicit binary heap,
    depth(rank) = floor(log2(rank)) and every node's root is rank 1's
    key — checked in plain Python, not SQL, so an error shared by both
    engines' CTE text would still surface."""
    pdf = QUERIES["sql_recursive_closure"](spark, SF_SMALL).toPandas()
    assert len(pdf) > 0
    root_key = int(pdf.loc[pdf["rnk"] == 1, "o_orderkey"].iloc[0])
    for _, r in pdf.iterrows():
        assert int(r["depth"]) == int(math.log2(int(r["rnk"])))
        assert int(r["root_key"]) == root_key
    # completeness: ranks are exactly 1..n
    assert sorted(pdf["rnk"]) == list(range(1, len(pdf) + 1))


def test_pit_join_never_leaks_the_future(spark):
    """THE feature-store invariant: the matched version's valid_from
    must be <= the observation time (no future leakage), and
    had_profile=false exactly when the observation precedes the
    entity's first version — re-derived from the raw tables in
    pandas."""
    pdf = QUERIES["join_pit_scd2"](spark, SF_SMALL).toPandas()
    orders = (
        load_table(spark, SF_SMALL, "orders")
        .select("o_orderkey", "o_custkey", "o_orderdate")
        .toPandas()
    )
    odate = dict(zip(orders["o_orderkey"], orders["o_orderdate"].astype(str)))
    first_by_cust = (
        orders.assign(d=orders["o_orderdate"].astype(str))
        .groupby("o_custkey")["d"]
        .min()
        .to_dict()
    )
    for _, r in pdf.iterrows():
        if r["had_profile"]:
            assert odate[int(r["pit_version"])] <= r["ship_date"], r
        expect_profile = first_by_cust[int(r["custkey"])] <= r["ship_date"]
        assert bool(r["had_profile"]) == expect_profile, r


def test_manifest_skipping_audits_hold(spark):
    pdf = QUERIES["scan_manifest_skipping"](spark, SF_SMALL).toPandas()
    assert pdf["files_pruned"].all()
    assert pdf["scan_bounded"].all()
    assert (pdf["n_rows"] > 0).all()


def test_variant_paths_rederive(spark):
    """variant_get results re-derived from the source columns in
    pandas (nested path, array index, missing-path NULL)."""
    pdf = QUERIES["fn_variant_json"](spark, SF_SMALL).toPandas()
    docs = load_table(spark, SF_SMALL, "documents").toPandas()
    src = docs.set_index("doc_id")
    for _, r in pdf.head(50).iterrows():
        d = src.loc[int(r["doc_id"])]
        assert r["lang"] == d["lang"] and r["source"] == d["source"]
        assert int(r["n_chars"]) == int(d["n_chars"])
        assert int(r["b0"]) == int(r["doc_id"]) % 7
        assert int(r["b1"]) == int(r["doc_id"]) % 11
    assert pdf["missing_is_null"].all()


def test_python_datasource_relation_is_exact(spark):
    """The custom source's aggregate re-derived in plain Python."""
    from climateiq_pipelines_spark.operators.spark4_surface import (
        _PYDS_PARTS,
        _PYDS_ROWS_PER_PART,
    )

    pdf = (
        QUERIES["scan_python_datasource"](spark, SF_SMALL)
        .toPandas()
        .set_index("station")
    )
    n = _PYDS_PARTS * _PYDS_ROWS_PER_PART
    expect: dict[int, list[int]] = {}
    for s in range(n):
        expect.setdefault(s % 17, []).append((s * s) % 1000)
    assert len(pdf) == len(expect)
    for st, readings in expect.items():
        row = pdf.loc[st]
        assert int(row["n"]) == len(readings)
        assert int(row["reading_sum"]) == sum(readings)
        assert int(row["reading_max"]) == max(readings)


def test_minhash_estimator_bounds_and_identity(spark):
    """Estimator sanity: estimates live on the 16-seed grid, and any
    pair of IDENTICAL token sets must estimate exactly 1 (all minima
    agree) — the zero-variance point of the MinHash family."""
    pdf = QUERIES["llm_minhash_jaccard_estimate"](spark, SF_SMALL).toPandas()
    assert len(pdf) > 0
    assert ((pdf["n_agree"] >= 0) & (pdf["n_agree"] <= 16)).all()
    assert (pdf["estimate_micro"] == (pdf["n_agree"] * 1_000_000) // 16).all()
    exact_dups = pdf[pdf["jaccard_micro"] == 1_000_000]
    assert (exact_dups["n_agree"] == 16).all()


def test_collation_lcase_rederive(spark):
    """Re-derive both distinct counts in Python; the lcase count must
    be strictly smaller overall (case variants collide) and never
    exceed the binary count per group."""
    rows = load_table(spark, SF_SMALL, "part").select(
        "p_partkey", "p_name", "p_type"
    ).collect()
    from collections import defaultdict

    binary, lcase = defaultdict(set), defaultdict(set)
    for r in rows:
        s = r["p_name"].upper() if int(r["p_partkey"]) % 2 == 0 else r["p_name"]
        binary[r["p_type"]].add(s)
        lcase[r["p_type"]].add(s.lower())
    pdf = QUERIES["fn_collation_lcase"](spark, SF_SMALL).toPandas()
    got = {
        r["p_type"]: (int(r["n_distinct_binary"]), int(r["n_distinct_lcase"]))
        for _, r in pdf.iterrows()
    }
    assert got == {t: (len(binary[t]), len(lcase[t])) for t in binary}
    assert all(b >= l for b, l in got.values())
    assert sum(b for b, _ in got.values()) > sum(l for _, l in got.values())


def test_try_arithmetic_rederive(spark):
    """NULL counts recomputed from the raw rows via the ANSI overflow
    conditions in plain Python."""
    rows = load_table(spark, SF_SMALL, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity"
    ).collect()
    MAXL = 9223372036854775807
    mul_k = 1 << 53
    div = sum(1 for r in rows if r["l_quantity"] == 25)
    # r10 rebalance: poison is the qty=50 slice (see the builder's cost
    # note — majority-overflow legs pay a JVM exception per row).
    mul = sum(
        1
        for r in rows
        if r["l_quantity"] == 50 and int(r["l_orderkey"]) > MAXL // mul_k
    )
    add = sum(1 for r in rows if int(r["l_suppkey"]) > int(r["l_partkey"]))
    sub = sum(1 for r in rows if int(r["l_quantity"]) > int(r["l_suppkey"]))
    pdf = QUERIES["fn_try_arithmetic"](spark, SF_SMALL).toPandas()
    r = pdf.iloc[0]
    assert int(r["n_rows"]) == len(rows)
    assert (
        int(r["div_nulls"]),
        int(r["mul_nulls"]),
        int(r["add_nulls"]),
        int(r["sub_nulls"]),
    ) == (div, mul, add, sub)
    # every failure mode must actually occur on the fixture
    assert min(div, mul, add, sub) > 0


def _ngram_elements(docs):
    return word_shingles(docs, 3).select(
        "doc_id", F.xxhash64("s").alias("el")
    )


def _token_elements(docs):
    return docs.select("doc_id", F.explode(F.split("text", " ")).alias("el"))


# key -> (its element relation, its threshold over the exact counts)
_UNPRUNED = {
    "llm_ngram_jaccard": (_ngram_elements, "n_common * 2 > a_n + b_n - n_common"),
    "llm_minhash_neardup": (
        _token_elements,
        "n_common / (a_n + b_n - n_common) >= 0.999",
    ),
}


@pytest.mark.parametrize("key", sorted(_UNPRUNED))
def test_ppjoin_prefix_equivalence(spark, key):
    """Both set-similarity keys join only PPJoin prefixes and verify
    candidates with array_intersect; this re-derives each key's
    UNPRUNED form (full posting-list self-join on the element plus a
    co-occurrence count) and requires exact multiset equality — the
    losslessness proofs (every qualifying pair collides inside both
    (df, element)-order prefixes) made executable."""
    docs = widen_if_narrow(
        spark,
        load_table(spark, SF_SMALL, "documents").select("doc_id", "text"),
    )
    elements, keep = _UNPRUNED[key]
    el = elements(docs).distinct()
    sizes = el.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    sized = el.join(sizes, "doc_id")
    a = sized.selectExpr("doc_id AS a_id", "el", "n AS a_n")
    b = sized.selectExpr("doc_id AS b_id", "el", "n AS b_n")
    ov = (
        a.join(b, "el")
        .filter(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id", "a_n", "b_n")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    old = ov.where(keep).selectExpr(
        "a_id", "b_id", "round(n_common / (a_n + b_n - n_common), 6) AS jaccard"
    )
    new = QUERIES[key](spark, SF_SMALL)
    assert new.exceptAll(old).count() == 0
    assert old.exceptAll(new).count() == 0
    assert new.count() > 0
