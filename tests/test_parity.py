"""Oracle-parity tests — the in-repo mirror of the driver's t2 gate.

Every registered key runs at sf0.001 (fast inner loop) and sf0.01 (the
driver's actual correctness SF) against its DuckDB oracle with strict
canonical comparison (exact float repr match).
"""

from __future__ import annotations

import pytest

from climateiq_pipelines_spark.parity import check_key
from climateiq_pipelines_spark.plans import QUERIES

from tests.conftest import SF_MED, SF_SMALL

ALL_KEYS = sorted(QUERIES)


@pytest.mark.parametrize("key", ALL_KEYS)
def test_parity_sf0001(key, spark, duck_small):
    res = check_key(key, spark, SF_SMALL, duck_small)
    assert res.ok, str(res)


@pytest.mark.sf001
@pytest.mark.parametrize("key", ALL_KEYS)
def test_parity_sf001(key, spark, duck_med):
    res = check_key(key, spark, SF_MED, duck_med)
    assert res.ok, str(res)


def test_key_without_oracle_is_checked_rows_only(monkeypatch):
    """A key registered without an oracle gets the driver's weaker
    check: it must run, and only its row count is reported."""
    from types import SimpleNamespace

    import pandas as pd

    frame = SimpleNamespace(toPandas=lambda: pd.DataFrame({"a": [1, 2]}))
    monkeypatch.setitem(QUERIES, "rows_only_probe", lambda s, d: frame)
    res = check_key("rows_only_probe", None, SF_SMALL)
    assert res.ok and res.spark_rows == 2 and res.oracle_rows == -1
