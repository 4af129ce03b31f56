"""Float-determinism and oracle-parity helpers (SURVEY §7.4 policy).

Double summation is association-order dependent: Spark's partial/final
aggregation over shuffled partitions and DuckDB's single-node sum
disagree in final ulps, which breaks the driver's value-hash.  The
invariants below make every sum exact and engine-independent.

1. FIXED-POINT LONG SUMS.  Every SUM/AVG over a double measure sums the
   per-row micro-unit term ``floor((x) * 1000000)`` (one IEEE multiply
   and floor, identical on both engines) in int64, converts the exact
   integer to double once and divides by 1e6; AVG then divides by the
   non-null COUNT.  Integer addition is associative, so the result is
   partition-layout independent, and both engines round the same
   integer to the same double.  The term is written once
   (:func:`sql_micros`) and shared by the oracle text (:func:`sql_dsum`,
   :func:`sql_davg`) and the engine's two-level builder
   (:func:`two_level`); :func:`micros` is its Column form for window
   and projection sites.  A decimal accumulator would be exact too, but
   decimal(25,6) exceeds 64-bit unscaled range and runs on Spark's
   BigDecimal slow path (3x slower on the Q1 shape at sf0.1,
   BASELINE.md); the long path stays in whole-stage codegen.

2. WHICH GROUPS GO TWO-LEVEL.  A long accumulator holds Σ|x|·1e6 per
   group: at money scale (~1e5 units) it overflows 2^63 near 9·10^7
   rows.  Any sum whose group grows with the table -- a global
   aggregate, or groups keyed by a low-cardinality dimension (flags,
   segments, nations, years, measures, audit groups) -- therefore runs
   through :func:`two_level`: long partials per (keys,
   spark_partition_id()), merged as decimal(38,0) over the tiny
   |groups| x |partitions| relation.  The merged doubles are the same
   expression tree as the single-level form, so the oracles stay
   single-level (DuckDB sums BIGINT into HUGEINT and has no ceiling).
   Integer moment sums (``isum``) take the same route without the
   scale; agg_stats_moments splits its two product terms (yc², xc·yc)
   hi/lo at 2^32 so each long partial stays inside int64.
   ``agg_rollup`` is the one site that hand-builds its partial,
   because its merge is a ROLLUP; it renders both levels with
   :func:`two_level_aggs`.

3. WHAT BOUNDS A LEVEL-1 PARTIAL.  Partition mass.  Scan-side sites
   are bounded by spark.sql.files.maxPartitionBytes.  Post-join sites
   (join_multikey, join_salted_skew, join_bucketed_colocated, the
   multi-join TPC-H queries, scan_dynamic_partition_pruning) inherit
   their partition size from shuffle/AQE output sizing instead, so an
   upstream coalesce(1), a disabled skew split or one pathological key
   re-introduces a per-partition ceiling there.  Past any bound the
   failure is Spark's ANSI ARITHMETIC_OVERFLOW, never a silent wrap
   (with ANSI on, the engine default).

4. WHICH SINGLE-LEVEL SITES ARE EXEMPT.  Groups whose size is a TPC-H
   constant independent of SF: per order (join_shuffle_fact, q3), per
   (part, supplier) (q2, q20), per customer (q10), per supplier (q15),
   and window frames (:func:`davg_window`, per-key running sums).
   stream_tumbling_window's davg is bounded by event rate x window
   length in a real stream.  q11 sums decimal(38,0) directly over a
   small relation.

Library transcendentals (exp/ln/pow/...) may differ between the JVM
and DuckDB's libm in the last ulp, so those outputs are rounded
(:func:`fin`).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Merge type of the two-level sum: Σ over per-partition long partials
# cannot overflow it at any SF (the q11 precedent type).
DEC38 = "decimal(38,0)"

_SCALE = 1_000_000


def sql_micros(x: str) -> str:
    """The micro-unit term of SQL text ``x`` -- one spelling of the
    scale for the oracle and the engine alike."""
    return f"floor(({x}) * {_SCALE})"


def dsum(col: Column, alias: str) -> Column:
    """Exact, engine-independent SUM of a double expression
    (fixed-point micro-units; single-level, for bounded groups only).
    """
    return (F.sum(F.floor(col * _SCALE)).cast("double") / F.lit(float(_SCALE))).alias(
        alias
    )


def davg(col: Column, alias: str) -> Column:
    """Exact-sum mean: micro-unit sum / 1e6 / count, bit-stable across
    engines and partition layouts."""
    return (
        F.sum(F.floor(col * _SCALE)).cast("double") / F.lit(float(_SCALE)) / F.count(col)
    ).alias(alias)


# One template per two_level kind: the level-1 partial(s) over the SQL
# text ``{x}`` and the level-2 merge over the partial columns ``{0}``,
# ``{1}``.  Counts merge to BIGINT with COALESCE(…, 0) (a global COUNT
# over zero rows is 0, where a SUM of no partials is NULL).
_COUNT_MERGE = "CAST(coalesce(sum({0}), 0) AS BIGINT)"
_DEC_MERGE = f"sum(CAST({{0}} AS {DEC38}))"
_MICRO_SUM = f"sum({sql_micros('{x}')})"
_MICRO_MERGE = f"CAST({_DEC_MERGE} AS DOUBLE) / {float(_SCALE)}"
_KINDS = {
    "count": (("count(1)",), _COUNT_MERGE),
    "countc": (("count({x})",), _COUNT_MERGE),
    "lsum": (("sum({x})",), _COUNT_MERGE),
    "isum": (("sum({x})",), _DEC_MERGE),
    "dsum": ((_MICRO_SUM,), _MICRO_MERGE),
    "davg": ((_MICRO_SUM, "count({x})"), _MICRO_MERGE + " / sum({1})"),
    "min": (("min({x})",), "min({0})"),
    "max": (("max({x})",), "max({0})"),
    "cdistinct": (
        ("collect_set({x})",),
        "CAST(size(array_distinct(flatten(collect_set({0})))) AS BIGINT)",
    ),
    "lit": ((), "{x}"),
}


def two_level_aggs(aggs) -> tuple[list[Column], list[Column]]:
    """(level-1 partial columns, level-2 merge columns) for ``aggs``,
    rendered as ``F.expr`` text from the kind templates above.  Specs
    whose partials render to the same text share one partial column
    (a ``dsum`` and a ``davg`` of one expression sum its micros once)."""
    partials: dict[str, str] = {}  # partial text -> its column name
    merges = []
    for kind, *x, alias in aggs:
        if kind not in _KINDS:
            raise ValueError(f"unknown two_level agg kind: {kind!r}")
        level1, merge = _KINDS[kind]
        x = x[0] if x else None
        names = [
            partials.setdefault(t.format(x=x), f"_p{len(partials)}")
            for t in level1
        ]
        merges.append(F.expr(f"{merge.format(*names, x=x)} AS `{alias}`"))
    return [F.expr(f"{t} AS {n}") for t, n in partials.items()], merges


def _key_name(key: str) -> str:
    m = re.search(r"\s+AS\s+`?(\w+)`?\s*$", key, re.IGNORECASE)
    return m.group(1) if m else key


def two_level(df: DataFrame, keys, aggs) -> DataFrame:
    """TWO-LEVEL exact aggregation (module docstring, invariant 2):
    ``df`` grouped by ``keys``, one output column per spec in ``aggs``.

    ``keys``: SQL text, each a column name or ``"expr AS name"``
    (``[]`` for a global aggregate).  ``aggs``: ordered specs whose
    ``x`` is SQL text over ``df``'s columns --

    - ``("count", alias)`` -- exact COUNT(*)
    - ``("countc", x, alias)`` -- COUNT(x) (non-null / conditional)
    - ``("lsum", x, alias)`` -- integer SUM with COALESCE(…, 0), the
      key-checksum shape (same 2^63 merge bound as the BIGINT oracle)
    - ``("isum", x, alias)`` -- exact integer SUM as decimal(38,0), for
      integer moment sums whose total outgrows int64
    - ``("dsum", x, alias)`` / ``("davg", x, alias)`` -- exact micro-sum
      / exact-sum mean (double)
    - ``("min", x, alias)`` / ``("max", x, alias)`` -- order statistics
    - ``("cdistinct", x, alias)`` -- COUNT(DISTINCT x) for BOUNDED
      domains only: partials carry collect_set(x), so per-partition
      state is O(|domain|)
    - ``("lit", x, alias)`` -- a constant attached at the merge stage

    Level 1 groups by (keys, spark_partition_id()) and computes only
    codegen-primitive partials bounded by partition mass; level 2
    merges them.  The partition id decides only which exact integers
    get pre-summed, so results are layout-independent (pinned by
    tests/test_two_level_sum.py and tests/test_determinism.py)."""
    level1, level2 = two_level_aggs(aggs)
    partials = df.groupBy(
        *map(F.expr, keys), F.expr("spark_partition_id() AS _pid")
    ).agg(*level1)
    return partials.groupBy(*map(_key_name, keys)).agg(*level2)


def micros(col: Column) -> Column:
    """Column form of :func:`sql_micros`, for window and projection
    sites: no hand-inlined 1_000_000 can drift from the oracle's
    scale."""
    return F.floor(col * _SCALE)


def davg_window(col: Column, w) -> Column:
    """Window twin of :func:`davg`: exact micro-sum mean over a window
    frame (q17's per-part average threshold shape)."""
    return (
        F.sum(micros(col)).over(w).cast("double")
        / F.lit(float(_SCALE))
        / F.count(F.lit(1)).over(w)
    )


def fin(col: Column, alias: str, places: int = 6) -> Column:
    """Round a float output whose producer is library-dependent."""
    return F.round(col, places).alias(alias)


def sql_dsum(expr: str) -> str:
    """DuckDB twin of :func:`dsum` (without alias)."""
    return (
        f"(CAST(SUM(CAST({sql_micros(expr)} AS BIGINT)) AS DOUBLE)"
        f" / {float(_SCALE)})"
    )


def sql_davg(expr: str) -> str:
    """DuckDB twin of :func:`davg` (without alias)."""
    return (
        f"(CAST(SUM(CAST({sql_micros(expr)} AS BIGINT)) AS DOUBLE)"
        f" / {float(_SCALE)} / COUNT({expr}))"
    )


REVENUE = "l_extendedprice * (1 - l_discount)"


def revenue_col() -> Column:
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


# Deterministic 3-way dataset-split contract, keyed on
# md5(doc_id:SPLIT_SALT): first hex nibble < 13 -> train (~81%),
# = 13 -> val (~6%), > 13 -> test (~13%).  Lives HERE — a module that
# registers nothing — because llm_dataset_split (corpus_quality_ext)
# AND the train/eval keys (ml_train_ext) share it, and an oracle
# builder importing another OPERATOR module registers that module's
# keys as an import side effect (the round-7 certification-window
# incident; round-12 review found the contract parked in
# corpus_quality_ext with the salt BAKED into the SQL literal, so
# changing SPLIT_SALT would silently desync engine from oracle).
SPLIT_SALT = "split"
SQL_SPLIT_NIBBLE = (
    f"(ascii(substr(md5(CAST(doc_id AS VARCHAR) || ':{SPLIT_SALT}'), 1, 1)) - "
    f"CASE WHEN ascii(substr(md5(CAST(doc_id AS VARCHAR) || ':{SPLIT_SALT}'), 1, 1))"
    " >= 97 THEN 87 ELSE 48 END)"
)
