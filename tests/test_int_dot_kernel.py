"""fixedpoint's numpy int-dot kernel against its twins.

np_int_dots must equal the Python-integer Σ floor(x·y·1e12) and the
Spark Column twin (_int_dot) bit for bit; np_vectors must read an
Arrow list<float> column as its own rows or raise ValueError; np_topk
must rank like the oracles' ORDER BY dot DESC, neighbor_id with self
excluded.
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
import pytest

from climateiq_pipelines_spark.functions.fixedpoint import (
    _int_dot,
    np_int_dots,
    np_topk,
    np_vectors,
)


def _vectors(rng, n: int, dim: int) -> np.ndarray:
    """float32 vectors in [-1, 1] with zeros, ±1.0 and a repeated row
    mixed in, widened to float64 (exact) as the kernel sees them."""
    v = rng.uniform(-1.0, 1.0, size=(n, dim)).astype(np.float32)
    v[0] = 0.0
    v[1] = 1.0
    v[2] = -1.0
    v[3, ::2] = 1.0
    v[4] = v[5]
    return v.astype(np.float64)


def _py_dot(x, y) -> int:
    return sum(math.floor(float(a) * float(b) * 1e12) for a, b in zip(x, y))


@pytest.mark.parametrize("dim", [1, 16, 64])
def test_np_int_dots_matches_python_integers_and_spark(spark, dim):
    rng = np.random.default_rng(dim)
    q, c = _vectors(rng, 70, dim), _vectors(rng, 9, dim)
    got = np_int_dots(q, c)
    assert got.dtype == np.int64 and got.shape == (70, 9)
    want = [[_py_dot(x, y) for y in c] for x in q]
    assert got.tolist() == want

    from pyspark.sql import functions as F

    rows = [(i, j, q[i].tolist(), c[j].tolist())
            for i in range(len(q)) for j in range(len(c))]
    df = spark.createDataFrame(
        rows, "i int, j int, x array<float>, y array<float>"
    )
    spark_dots = {
        (r["i"], r["j"]): r["d"]
        for r in df.select("i", "j", _int_dot(F.col("x"), F.col("y")).alias("d"))
        .toLocalIterator()
    }
    assert [[spark_dots[(i, j)] for j in range(len(c))]
            for i in range(len(q))] == want


def test_np_int_dots_refuses_outside_exact_domain():
    big = np.full((1, 64), 20.0)  # norm 160: product 25,600 > bound
    with pytest.raises(ValueError, match="exact domain"):
        np_int_dots(big, big)
    with pytest.raises(ValueError, match="dims differ"):
        np_int_dots(np.zeros((1, 4)), np.zeros((1, 3)))


def test_np_vectors_reads_rows_and_refuses_bad_batches():
    arr = pa.array(
        [[0.5, -1.0], [1.0, 0.0], [0.25, 0.125], [-0.5, 2.0]],
        pa.list_(pa.float32()),
    )
    m = np_vectors(arr)
    assert m.dtype == np.float64 and m.tolist() == arr.to_pylist()
    sliced = arr.slice(1, 2)  # nonzero offset: .values would misread it
    assert np_vectors(sliced).tolist() == [[1.0, 0.0], [0.25, 0.125]]
    chunked = pa.chunked_array([arr.slice(0, 1), arr.slice(1, 3)])
    assert np_vectors(chunked).tolist() == arr.to_pylist()
    assert np_vectors(pa.array([], pa.list_(pa.float32()))).shape == (0, 0)
    with pytest.raises(ValueError, match="ragged"):
        np_vectors(pa.array([[1.0, 2.0], [1.0]], pa.list_(pa.float32())))
    with pytest.raises(ValueError, match="null embedding"):
        np_vectors(pa.array([[1.0, 2.0], None], pa.list_(pa.float32())))
    with pytest.raises(ValueError, match="null embedding component"):
        np_vectors(pa.array([[1.0, None]], pa.list_(pa.float32())))


def _brute_topk(q_ids, q, c_ids, c, k, prefix=None, shortlist=None):
    out = []
    for qi, x in zip(q_ids, q):
        width = prefix or len(x)
        cand = sorted(
            (-_py_dot(x[:width], y[:width]), int(i), y)
            for i, y in zip(c_ids, c) if i != qi
        )[: shortlist if prefix else k]
        if prefix:
            cand = sorted((-_py_dot(x, y), i, y) for _, i, y in cand)[:k]
        out += [(int(qi), i, -d, r) for r, (d, i, _) in enumerate(cand, 1)]
    return out


@pytest.mark.parametrize("stages", [{}, {"prefix": 4, "shortlist": 7}])
def test_np_topk_matches_oracle_order(stages):
    rng = np.random.default_rng(7)
    c = _vectors(rng, 90, 16)
    c_ids = np.arange(90, dtype=np.int64)[::-1] * 3  # unsorted ids
    q_ids = np.concatenate([c_ids[:70], [10**9]])  # last is not a corpus id
    q = np.concatenate([c[:70], c[:1]])
    got = list(zip(*(a.tolist() for a in np_topk(q_ids, q, c_ids, c, 5, **stages))))
    assert got == _brute_topk(q_ids, q, c_ids, c, 5, **stages)
    # fewer other rows than k: every other row, self never
    few = np_topk(c_ids[:3], c[:3], c_ids[:3], c[:3], 5, **stages)
    assert few[3].tolist() == [1, 2] * 3
    assert all(a != b for a, b in zip(few[0], few[1]))
