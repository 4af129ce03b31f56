"""Local oracle-parity harness mirroring the driver's t2 check.

The driver runs each ``queries()[key]`` via Spark and ``oracle_sql()[key]``
via DuckDB (views registered per table) and compares row-count + schema +
order-insensitive value-hash. This module reimplements that comparison so
every key is verified locally before it is ever declared.

Canonicalization is strict: floats must match exactly (repr equality)
— the engine's determinism policy (functions/helpers.py) is what makes
that achievable, and testing at the strictest bar means any weaker driver
hash also passes.
"""

from __future__ import annotations

import datetime as _dt
import math
from dataclasses import dataclass, field

import duckdb
import pandas as pd

from climateiq_pipelines_spark.registry import TABLES, table_path

NULL = "␀NULL"


def duck_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """One in-memory DuckDB with the ten fixture views, exactly as the
    driver registers them (__spark_entry__.py docstring)."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{table_path(sf_dir, t)}')"
        )
    return con


def canon_value(v: object) -> object:
    """Engine-independent canonical form of one result cell."""
    if v is None:
        return NULL
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, int):
        return repr(v)
    if isinstance(v, str):
        return v
    if isinstance(v, _dt.datetime):
        return v.isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    # numpy scalars
    if hasattr(v, "item") and not hasattr(v, "__len__"):
        return canon_value(v.item())
    # (no pd.Timestamp branch: it subclasses datetime.datetime, so the
    # datetime isoformat() branch above already handles it — a separate
    # branch here was dead code; round-13 review.)
    # Arrays/lists are REJECTED: the driver's canonicalizer hashes cells
    # via pandas factorize, which crashes on unhashable lists (round-1
    # agg_collect_sorted failure). Queries must serialize collections to
    # scalars (array_join / to_json) before returning.
    if hasattr(v, "__iter__"):
        raise TypeError(
            f"unhashable collection in result cell ({type(v).__name__}); "
            "serialize arrays with array_join/to_json — the driver's hash "
            "cannot handle lists"
        )
    return repr(v)


def canon_frame(pdf: pd.DataFrame) -> tuple[list[str], dict[str, str], list[tuple]]:
    """(sorted column names, column kind per name, sorted canonical rows)."""
    cols = sorted(pdf.columns)
    kinds = {}
    for c in cols:
        k = pdf[c].dtype.kind
        # Unify datetime64 resolutions; treat all ints alike (the driver
        # compares Spark vs DuckDB logical types, both map int32/int64).
        kinds[c] = {"i": "int", "u": "int", "f": "float", "M": "ts", "b": "bool"}.get(
            k, "obj"
        )
    body = pdf[cols]
    rows = [
        tuple(canon_value(v) for v in row)
        for row in body.itertuples(index=False, name=None)
    ]
    # NaN canonicalizes before sort; tuples are all-str/tuple so sortable
    rows.sort()
    return cols, kinds, rows


@dataclass
class ParityResult:
    key: str
    ok: bool
    reasons: list[str] = field(default_factory=list)
    spark_rows: int = 0
    oracle_rows: int = 0

    def __str__(self) -> str:
        status = "OK" if self.ok else "FAIL"
        msg = f"[{status}] {self.key}: spark={self.spark_rows} oracle={self.oracle_rows}"
        for r in self.reasons:
            msg += f"\n    - {r}"
        return msg


def compare_frames(key: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> ParityResult:
    res = ParityResult(key=key, ok=True, spark_rows=len(spark_pdf), oracle_rows=len(duck_pdf))
    s_cols, s_kinds, s_rows = canon_frame(spark_pdf)
    d_cols, d_kinds, d_rows = canon_frame(duck_pdf)
    if s_cols != d_cols:
        res.ok = False
        res.reasons.append(f"columns differ: spark={s_cols} oracle={d_cols}")
        return res
    if s_kinds != d_kinds:
        res.ok = False
        res.reasons.append(f"dtype kinds differ: spark={s_kinds} oracle={d_kinds}")
    if len(s_rows) != len(d_rows):
        res.ok = False
        res.reasons.append(f"row counts differ: {len(s_rows)} vs {len(d_rows)}")
        return res
    if s_rows != d_rows:
        res.ok = False
        n_bad = 0
        for i, (a, b) in enumerate(zip(s_rows, d_rows)):
            if a != b:
                n_bad += 1
                if n_bad <= 3:
                    res.reasons.append(f"row[{i}] spark={a!r} oracle={b!r}")
        res.reasons.append(f"{n_bad} mismatched rows of {len(s_rows)}")
    return res


def oracle_text(key: str, sf_dir: str) -> str | None:
    """The DuckDB text ``key`` is checked against at ``sf_dir``: its
    SF-parameterized builder (plans.ORACLE_BUILDERS) when it registers
    one, the static ORACLES text otherwise, None for a rows-only key.
    At sf0.01 every builder reproduces the static text or its answer
    (tests/test_oracle_builders.py), so one rule serves every scale."""
    from climateiq_pipelines_spark.plans import ORACLE_BUILDERS, ORACLES

    build = ORACLE_BUILDERS.get(key)
    return build(sf_dir) if build else ORACLES.get(key)


def check_key(
    key: str,
    spark,
    sf_dir: str,
    con: duckdb.DuckDBPyConnection | None = None,
) -> ParityResult:
    from climateiq_pipelines_spark.plans import QUERIES

    spark_pdf = QUERIES[key](spark, sf_dir).toPandas()
    text = oracle_text(key, sf_dir)
    if text is None:
        # rows-only key: the driver only checks the query runs and row count.
        return ParityResult(key=key, ok=True, spark_rows=len(spark_pdf),
                            oracle_rows=-1, reasons=["rows-only (no oracle)"])
    own_con = con is None
    if own_con:
        con = duck_connect(sf_dir)
    try:
        duck_pdf = con.execute(text).fetchdf()
    finally:
        if own_con:
            con.close()
    return compare_frames(key, spark_pdf, duck_pdf)
