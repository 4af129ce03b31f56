"""SF-parameterized oracle builders (plans.ORACLE_BUILDERS, VERDICT r9
task #2): keys whose static oracle text unrolls a fixture-measured
constant register a builder that solves the published stopping rule to
fixpoint in DuckDB for the TARGET sf_dir and emits the ordinary
unrolled text, so sweeps at any scale get a full value check.

These tests pin the contract cheaply at sf0.001/sf0.01 (the sf0.1
behavior is exercised by ``tools/driver_sim.py --fast`` sweeps):
- builder(sf0.01) must REPRODUCE the registered static text for the
  two converged-iteration keys (same solved depth, same string), so the
  driver contract and the sweep path can never drift apart silently;
- the cluster key's unrolled label-propagation builder must produce
  the SAME answer as its registered recursive-CTE text (DuckDB vs
  DuckDB — pure oracle-equivalence, no Spark involved) on every
  fixture parity.check_key sees, the adversarial edge fixture included;
- parity.oracle_text is the one oracle rule: builder text for builder
  keys, static text for the other oracle keys, None for rows-only keys;
- ADVICE r9 #1 regression: there is no EXPECTED_SCOPE_LIMITED waiver
  left in tools/driver_sim.py — a kmeans mismatch at ANY scale is a
  failure again, because the builder closes the legitimate gap.
"""

from __future__ import annotations

from pathlib import Path

import duckdb
import pytest

from climateiq_pipelines_spark import plans
from climateiq_pipelines_spark.parity import oracle_text
from climateiq_pipelines_spark.plans import ORACLE_BUILDERS, ORACLES, QUERIES

plans.load_all()

SF001 = "/root/testdata/sf0.001"
SF01 = "/root/testdata/sf0.01"


def test_builder_registry_membership():
    """Exactly the three declared keys carry builders — a key joining
    the fixture-pinned club must register one (and update this pin)."""
    assert sorted(ORACLE_BUILDERS) == [
        "graph_pagerank_converged",
        "llm_dedup_clusters",
        "llm_kmeans_converged",
    ]


@pytest.mark.parametrize(
    "key", ["graph_pagerank_converged", "llm_kmeans_converged"]
)
def test_builder_reproduces_static_text_at_certification_sf(key):
    """builder(sf0.01) == the registered static ORACLES text: the
    solver must land on the same stopping round the static text unrolls
    (18 for pagerank, 3 for kmeans — measured constants in
    iterative_ext), byte-for-byte."""
    assert ORACLE_BUILDERS[key](SF01) == ORACLES[key]




def _duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in ["documents"]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM"
            f" read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


@pytest.fixture(scope="module")
def edge_dir(tmp_path_factory):
    from tests.edge_fixture import build_edge_fixture

    return build_edge_fixture(str(tmp_path_factory.mktemp("edge")))


@pytest.mark.parametrize("sf_dir", [SF001, SF01, "edge"])
def test_cluster_unrolled_oracle_equals_recursive_oracle(sf_dir, request):
    """The cluster builder's fixpoint-depth label unroll and the
    registered recursive reach-CTE compute identical clusterings —
    oracle-equivalence proven inside DuckDB, so checking the key
    against the linear form (parity.oracle_text) loses nothing."""
    if sf_dir == "edge":
        sf_dir = request.getfixturevalue("edge_dir")
    con = _duck(sf_dir)
    recursive = (
        con.execute(ORACLES["llm_dedup_clusters"])
        .df()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    unrolled = (
        con.execute(ORACLE_BUILDERS["llm_dedup_clusters"](sf_dir))
        .df()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert recursive.equals(unrolled)


@pytest.mark.parametrize("kind", ["builder", "static", "rows-only"])
def test_oracle_text_is_the_one_oracle_rule(kind, monkeypatch):
    """parity.oracle_text: builder text for the builder keys, static
    text for the other oracle keys, None for rows-only keys.  Checked
    at sf0.1, where the k-means builder's stopping round (4) differs
    from the static text's (3); every builder reads a committed
    stop-round memo there, so no DuckDB solve runs."""
    sf_dir = "/root/testdata/sf0.1"
    if kind == "builder":
        keys = set(ORACLE_BUILDERS)
        expected = {k: ORACLE_BUILDERS[k](sf_dir) for k in keys}
        assert expected["llm_kmeans_converged"] != ORACLES["llm_kmeans_converged"]
    elif kind == "static":
        keys = set(ORACLES) - set(ORACLE_BUILDERS)
        expected = {k: ORACLES[k] for k in keys}
    else:
        # Every registered key carries an oracle today; register a
        # rows-only one (oracle=None leaves ORACLES untouched).
        monkeypatch.setitem(QUERIES, "rows_only_probe", lambda s, d: None)
        keys = set(QUERIES) - set(ORACLES)
        expected = dict.fromkeys(keys)
    assert keys
    assert {k: oracle_text(k, sf_dir) for k in keys} == expected


def test_no_scope_limited_waiver_remains():
    """ADVICE r9 #1: the blanket EXPECTED_SCOPE_LIMITED waiver could
    hide a REAL llm_kmeans_converged regression.  The builder makes the
    waiver unnecessary; pin its absence so it cannot quietly return."""
    text = (
        Path(__file__).resolve().parent.parent / "tools" / "driver_sim.py"
    ).read_text()
    assert "EXPECTED_SCOPE_LIMITED" not in text
    assert "oracle_text" in text


def test_committed_stop_round_memos_match_live_solve():
    """VERDICT r10 task #4: the committed SOLVED_* memo maps let repeat
    sweeps skip the DuckDB fixpoint solve, so a fixture change must be
    caught HERE — re-derive one SF per solver each run through the
    _solve_* paths (which never consult the memos) and assert the memo
    rows agree — ALL committed rows, so a regenerated sf0.01/sf0.1
    fixture that moves a stopping round fails HERE by name instead of
    as an unattributable sweep MISMATCH (~5 s total)."""
    from climateiq_pipelines_spark.operators.dedup_graph import (
        SOLVED_LABEL_ROUNDS,
        _solve_cluster_label_rounds,
    )
    from climateiq_pipelines_spark.operators.iterative_ext import (
        SOLVED_STOP_ROUNDS,
        _solve_kmeans_rounds,
        _solve_pagerank_rounds,
    )

    for sf_dir in (SF001, SF01, "/root/testdata/sf0.1"):
        base = sf_dir.rstrip("/").rsplit("/", 1)[-1]
        assert _solve_pagerank_rounds(sf_dir) == SOLVED_STOP_ROUNDS[
            ("pagerank", base)
        ], base
        assert _solve_kmeans_rounds(sf_dir) == SOLVED_STOP_ROUNDS[
            ("kmeans", base)
        ], base
        assert (
            _solve_cluster_label_rounds(sf_dir) == SOLVED_LABEL_ROUNDS[base]
        ), base


def test_memo_consulted_before_solving(monkeypatch):
    """The memo must short-circuit BEFORE any DuckDB work: with the
    duckdb module poisoned, a memoized sf_dir still answers (and an
    unknown basename raises through the poisoned import) — pinning the
    lookup order the sweep-wall saving depends on."""
    import builtins

    from climateiq_pipelines_spark.operators import iterative_ext as ie

    real_import = builtins.__import__

    def poisoned(name, *a, **k):
        if name == "duckdb":
            raise AssertionError("solver ran despite committed memo")
        return real_import(name, *a, **k)

    monkeypatch.setattr(builtins, "__import__", poisoned)
    assert ie._pagerank_stop_round("/root/testdata/sf0.1") == 18
    assert ie._kmeans_stop_round("/root/testdata/sf0.1") == 4
    with pytest.raises(AssertionError, match="despite committed memo"):
        ie._solve_pagerank_rounds("/root/testdata/sf0.001")
    # a directory merely NAMED like a fixture but outside the canonical
    # root must NOT hit the memo (it may hold different data): the
    # lookup falls through to the solver, which the poison catches
    with pytest.raises(AssertionError, match="despite committed memo"):
        ie._pagerank_stop_round("/tmp/not-the-fixtures/sf0.1")
    # ADVICE r11: NESTED under the root is not enough either — a
    # regenerated /root/testdata/experiments/sf0.1 shares the canonical
    # basename but not its data; only DIRECT children of FIXTURE_ROOT
    # may inherit a memoized depth (same rule in both memo maps).
    with pytest.raises(AssertionError, match="despite committed memo"):
        ie._pagerank_stop_round("/root/testdata/experiments/sf0.1")
    from climateiq_pipelines_spark.operators import dedup_graph as dg

    monkeypatch.setattr(dg, "_CLUSTER_LABEL_ROUNDS_CACHE", {})
    assert dg._cluster_label_rounds("/root/testdata/sf0.1") == 12
    with pytest.raises(AssertionError, match="despite committed memo"):
        dg._cluster_label_rounds("/root/testdata/experiments/sf0.1")
