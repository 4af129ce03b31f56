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
   :func:`sql_davg`) and the engine's aggregate templates
   (:func:`exact_sql`, :func:`exact_agg`); :func:`micros` is its Column
   form for window and projection sites.  A decimal accumulator would
   be exact too, but decimal(25,6) exceeds 64-bit unscaled range and
   runs on Spark's BigDecimal slow path (3x slower on the Q1 shape at
   sf0.1, BASELINE.md); the long path stays in whole-stage codegen.

2. LIMB-SPLIT SUMS.  A long accumulator holds Σ|x|·1e6 per group: at
   money scale (~1e5 units) it overflows 2^63 near 9·10^7 rows.  Any
   sum whose group grows with the table -- a global aggregate, or
   groups keyed by a low-cardinality dimension (flags, segments,
   nations, years, measures, audit groups) -- therefore runs through
   :func:`exact_agg`, one ordinary partial/final aggregate over the
   keys.  It casts each int64 term v to BIGINT and sums its three
   21-bit limbs as longs: hi = shiftright(v, 42) (arithmetic, so
   -2^21 <= hi < 2^21), mid = shiftright(v, 21) & (2^21 - 1) and
   lo = v & (2^21 - 1).  Two's complement makes v = hi·2^42 + mid·2^21
   + lo exact for any sign, and the three sums are recombined once per
   group in decimal(38,0).  The merged integer is Σv itself, so the
   doubles are the same expression tree as the single-level form and
   the oracles stay single-level (DuckDB sums BIGINT into HUGEINT and
   has no ceiling).  Integer moment sums (``isum``) take the same route
   without the scale, exact for any per-row int64 term (agg_stats_moments'
   yc² and xc·yc included).

3. WHAT BOUNDS A LIMB SUM.  Rows per group, nothing else.  Every limb
   is below 2^21 in magnitude, so each long partial and each long
   merge of a group stays inside int64 up to 2^42 (~4.4e12) rows in
   that group, whatever the partition layout: an upstream coalesce(1),
   a disabled skew split or one pathological key adds no ceiling.  Past
   the bound the failure is Spark's ANSI ARITHMETIC_OVERFLOW, never a
   silent wrap (with ANSI on, the engine default).

4. WHICH SINGLE-LEVEL SITES ARE EXEMPT.  Groups whose size is a TPC-H
   constant independent of SF: per order (join_shuffle_fact, q3), per
   (part, supplier) (q2, q20), per customer (q10), per supplier (q15),
   and window frames (:func:`davg_over`, per-key running sums).
   stream_tumbling_window's davg is bounded by event rate x window
   length in a real stream.  q11 sums decimal(38,0) directly over a
   small relation.  These sites use the single-level ``dsum1`` /
   ``davg1`` kinds.

Library transcendentals (exp/ln/pow/...) may differ between the JVM
and DuckDB's libm in the last ulp, so those outputs are rounded
(:func:`fin`).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Recombination type of the limb sums: Σ of any int64 term over fewer
# than 2^42 rows fits it (the q11 precedent type).
DEC38 = "decimal(38,0)"

_SCALE = 1_000_000


def sql_micros(x: str) -> str:
    """The micro-unit term of SQL text ``x`` -- one spelling of the
    scale for the oracle and the engine alike."""
    return f"floor(({x}) * {_SCALE})"


def _limb_sum(v: str) -> str:
    """Exact Σv of the int64 SQL term ``v`` (module docstring,
    invariant 2): three long limb sums recombined in decimal(38,0)."""
    v = f"CAST({v} AS BIGINT)"
    hi, mid, lo = (
        f"CAST(sum({limb}) AS {DEC38})"
        for limb in (f"shiftright({v}, 42)", f"shiftright({v}, 21) & 2097151",
                     f"{v} & 2097151")
    )
    return f"CAST({hi} * {2**42} + {mid} * {2**21} + {lo} AS {DEC38})"


# One aggregate template per exact_agg kind over the SQL text ``{x}``.
_MICRO_SUM = f"CAST({_limb_sum(sql_micros('{x}'))} AS DOUBLE) / {float(_SCALE)}"
_MICRO_SUM1 = f"CAST(sum({sql_micros('{x}')}) AS DOUBLE) / {float(_SCALE)}"
_KINDS = {
    "count": "count(1)",
    "countc": "count({x})",
    "lsum": "CAST(coalesce(sum({x}), 0) AS BIGINT)",
    "isum": _limb_sum("{x}"),
    "dsum": _MICRO_SUM,
    "davg": _MICRO_SUM + " / count({x})",
    "dsum1": _MICRO_SUM1,
    "davg1": _MICRO_SUM1 + " / count({x})",
    "min": "min({x})",
    "max": "max({x})",
    "cdistinct": "CAST(size(collect_set({x})) AS BIGINT)",
    "lit": "{x}",
}


def _agg_texts(aggs) -> list[str]:
    out = []
    for kind, *x, alias in aggs:
        if kind not in _KINDS:
            raise ValueError(f"unknown exact_agg kind: {kind!r}")
        out.append(f"{_KINDS[kind].format(x=x[0] if x else None)} AS `{alias}`")
    return out


def exact_sql(aggs) -> str:
    """The select list of ``aggs`` (specs as in :func:`exact_agg`) as
    one Spark SQL text, rendered from the kind templates above, for a
    builder's ``GROUP BY`` text.  A ``dsum`` and a ``davg`` of one
    expression render the same limb sums, which Catalyst computes
    once."""
    return ", ".join(_agg_texts(aggs))


def exact_aggs(aggs) -> list[Column]:
    """:func:`exact_sql`'s aggregates as ``F.expr`` columns, for
    DataFrame ``agg`` sites."""
    return [F.expr(text) for text in _agg_texts(aggs)]


def exact_agg(df: DataFrame, keys, aggs) -> DataFrame:
    """Exact aggregation (module docstring, invariants 2 and 3): ``df``
    grouped by ``keys``, one output column per spec in ``aggs``, as one
    partial/final aggregate with one exchange.

    ``keys``: SQL text, each a column name or ``"expr AS name"``
    (``[]`` for a global aggregate).  ``aggs``: ordered specs whose
    ``x`` is SQL text over ``df``'s columns --

    - ``("count", alias)`` -- exact COUNT(*)
    - ``("countc", x, alias)`` -- COUNT(x) (non-null / conditional)
    - ``("lsum", x, alias)`` -- integer SUM with COALESCE(…, 0), the
      key-checksum shape (same 2^63 bound as the BIGINT oracle)
    - ``("isum", x, alias)`` -- exact integer SUM as decimal(38,0) of
      an int64 term, for integer moment sums whose total outgrows int64
    - ``("dsum", x, alias)`` / ``("davg", x, alias)`` -- exact micro-sum
      / exact-sum mean (double)
    - ``("dsum1", x, alias)`` / ``("davg1", x, alias)`` -- the same as
      one long sum, only for groups bounded by invariant 4
    - ``("min", x, alias)`` / ``("max", x, alias)`` -- order statistics
    - ``("cdistinct", x, alias)`` -- COUNT(DISTINCT x) for BOUNDED
      domains only: the partial carries collect_set(x), so its state
      is O(|domain|)
    - ``("lit", x, alias)`` -- a constant attached to every group

    Every sum is of exact integers, so results are layout-independent
    (pinned by tests/test_two_level_sum.py and
    tests/test_determinism.py)."""
    return df.groupBy(*map(F.expr, keys)).agg(*exact_aggs(aggs))


def micros(col: Column) -> Column:
    """Column form of :func:`sql_micros`, for window and projection
    sites: no hand-inlined 1_000_000 can drift from the oracle's
    scale."""
    return F.floor(col * _SCALE)


def davg_over(x: str, window: str) -> str:
    """SQL text of the exact micro-sum mean of ``x`` over the window
    ``window`` (a ``WINDOW`` clause name): the frame's micro-unit sum
    / 1e6 / the frame's row count."""
    return (
        f"CAST(sum({sql_micros(x)}) OVER {window} AS DOUBLE)"
        f" / {float(_SCALE)} / count(1) OVER {window}"
    )


def fin(col: Column, alias: str, places: int = 6) -> Column:
    """Round a float output whose producer is library-dependent."""
    return F.round(col, places).alias(alias)


def sql_dsum(expr: str) -> str:
    """The oracle's exact micro-sum of ``expr`` (without alias)."""
    return (
        f"(CAST(SUM(CAST({sql_micros(expr)} AS BIGINT)) AS DOUBLE)"
        f" / {float(_SCALE)})"
    )


def sql_davg(expr: str) -> str:
    """The oracle's exact-sum mean of ``expr`` (without alias)."""
    return (
        f"(CAST(SUM(CAST({sql_micros(expr)} AS BIGINT)) AS DOUBLE)"
        f" / {float(_SCALE)} / COUNT({expr}))"
    )


REVENUE = "l_extendedprice * (1 - l_discount)"


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
