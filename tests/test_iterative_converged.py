"""Behavior pins for the round-7 convergence-driven iterative keys
(operators/iterative_ext.py): data-driven round counts, rule caps,
state-shape invariants, and run-to-run determinism (the loop reads
per-round scalars, so nondeterminism anywhere would change n_rounds).
Oracle parity at sf0.01 is covered by driver_sim / the driver itself.
"""

from __future__ import annotations

from climateiq_pipelines_spark.operators import iterative_ext as IE
from climateiq_pipelines_spark.plans import QUERIES
from climateiq_pipelines_spark.registry import load_table

from tests.conftest import SF_SMALL


def test_pagerank_converged_rounds_and_state(spark):
    pdf = QUERIES["graph_pagerank_converged"](spark, SF_SMALL).toPandas()
    n_rounds = pdf["n_rounds"].iloc[0]
    assert (pdf["n_rounds"] == n_rounds).all()
    assert 1 <= n_rounds <= IE._PR_MAX_ROUNDS
    # the tolerance binds before the cap on any fixture-sized graph
    assert n_rounds < IE._PR_MAX_ROUNDS
    # every node keeps the damping floor; degrees positive
    assert (pdf["rank_micro"] >= IE._PR_BASE).all()
    assert (pdf["degree"] > 0).all()
    # node set = both sides of the bipartite purchase graph
    assert pdf["is_supplier"].any() and (~pdf["is_supplier"]).any()


def test_pagerank_converged_is_deterministic(spark):
    a = (
        QUERIES["graph_pagerank_converged"](spark, SF_SMALL)
        .toPandas()
        .sort_values("node_id")
        .reset_index(drop=True)
    )
    b = (
        QUERIES["graph_pagerank_converged"](spark, SF_SMALL)
        .toPandas()
        .sort_values("node_id")
        .reset_index(drop=True)
    )
    assert a.equals(b)


def test_kmeans_converged_rounds_and_state(spark):
    pdf = QUERIES["llm_kmeans_converged"](spark, SF_SMALL).toPandas()
    n_rounds = pdf["n_rounds"].iloc[0]
    assert (pdf["n_rounds"] == n_rounds).all()
    assert 1 <= n_rounds <= IE._KM_MAX_ROUNDS
    n_vecs = load_table(spark, SF_SMALL, "embeddings").count()
    assert pdf["n_vecs"].sum() == n_vecs
    assert (pdf["inertia"] >= 0).all()


def test_kmeans_converged_is_deterministic(spark):
    a = (
        QUERIES["llm_kmeans_converged"](spark, SF_SMALL)
        .toPandas()
        .sort_values("cluster_id")
        .reset_index(drop=True)
    )
    b = (
        QUERIES["llm_kmeans_converged"](spark, SF_SMALL)
        .toPandas()
        .sort_values("cluster_id")
        .reset_index(drop=True)
    )
    assert a.equals(b)


def test_lloyd_assignment_raises_on_ragged_centroids(spark):
    """A centroid whose dimension differs from the vector's must fail
    the query; before the in-plan guard its distance was NULL, and that
    NULL struct won the argmin silently."""
    import pytest
    from pyspark.errors import SparkRuntimeException

    from climateiq_pipelines_spark.functions.fixedpoint import (
        lloyd_assign_cols,
    )

    vecs = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0]), (2, [0.0, 0.0, 0.0])],
        "vec_id int, embedding array<double>",
    )
    schema = "cents array<struct<c_id: int, carr: array<double>>>"
    square = spark.createDataFrame(
        [([(0, [1.0, 2.0, 3.0]), (1, [0.0, 0.0, 0.0])],)], schema
    )
    ragged = spark.createDataFrame(
        [([(0, [1.0, 2.0]), (1, [0.0, 0.0, 0.0])],)], schema
    )
    cluster, dist = lloyd_assign_cols()
    rows = vecs.crossJoin(square).select("vec_id", cluster, dist).collect()
    assert sorted(tuple(r) for r in rows) == [(1, 0, 0), (2, 1, 0)]
    with pytest.raises(SparkRuntimeException, match="centroid 0 has 2 dims"):
        vecs.crossJoin(ragged).select("vec_id", cluster, dist).collect()
