"""Fold-order vector kernels (functions/vec.py) against a plain
Python-float left fold — ``acc = 0.0; acc += x * y`` per dimension, the
order of ``F.aggregate(..., F.lit(0.0), ...)`` — compared with exact
``==``. Pure numpy: no Spark session."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from sdg_big_data_spark.functions import vec


def _fold_dot(a, b) -> float:
    acc = 0.0
    for x, y in zip(a, b):
        acc += float(x) * float(y)
    return acc


def _fold_sq_dist(a, c) -> float:
    acc = 0.0
    for x, y in zip(a, c):
        t = float(x) - float(y)
        acc += t * t
    return acc


def _mat(rng, n, dim):
    # float32 inputs widened to float64, as array<float> columns arrive
    return rng.normal(0, 1, (n, dim)).astype(np.float32).astype(np.float64)


@pytest.mark.parametrize("n,dim", [(0, 8), (5, 1), (37, 64)])
def test_dots_match_python_fold(n, dim):
    rng = np.random.default_rng(n * 100 + dim)
    A, B = _mat(rng, n, dim), _mat(rng, n, dim)
    got = vec.dots(A, B)
    assert got.shape == (n,)
    assert got.tolist() == [_fold_dot(a, b) for a, b in zip(A, B)]


@pytest.mark.parametrize("n,k,dim", [(0, 3, 8), (4, 2, 1), (29, 6, 64)])
def test_cross_kernels_match_python_fold(n, k, dim):
    rng = np.random.default_rng(n * 1000 + k * 10 + dim)
    V, P = _mat(rng, n, dim), _mat(rng, k, dim)
    dots = vec.cross_dots(V, P)
    dists = vec.cross_sq_dists(V, P)
    assert dots.shape == dists.shape == (n, k)
    assert dots.tolist() == [[_fold_dot(v, p) for p in P] for v in V]
    assert dists.tolist() == [[_fold_sq_dist(v, p) for p in P] for v in V]


def test_pair_dots_cross_the_chunk_boundary():
    n = 363  # C(363, 2) = 65 703 pairs: past one 65 536-pair chunk
    rng = np.random.default_rng(7)
    V = _mat(rng, n, 8)
    ia, ib = np.triu_indices(n, k=1)
    assert len(ia) > vec._PAIR_CHUNK
    got = vec.pair_dots(V, V, ia, ib)
    want = [_fold_dot(V[i], V[j]) for i, j in zip(ia.tolist(), ib.tolist())]
    assert got.tolist() == want


def test_pair_dots_two_matrices_dim_one_and_no_pairs():
    rng = np.random.default_rng(3)
    A, B = _mat(rng, 4, 1), _mat(rng, 3, 1)
    ia, ib = np.meshgrid(np.arange(4), np.arange(3), indexing="ij")
    ia, ib = ia.ravel(), ib.ravel()
    got = vec.pair_dots(A, B, ia, ib)
    assert got.tolist() == [_fold_dot(A[i], B[j]) for i, j in zip(ia, ib)]
    none = np.array([], dtype=np.int64)
    assert vec.pair_dots(A, B, none, none).shape == (0,)


def test_stack_skips_null_rows():
    rows = [
        np.array([1.5, -2.0], dtype=np.float32),
        None,
        np.array([0.25, 4.0], dtype=np.float32),
        None,
    ]
    V, pos = vec.stack(pd.Series(rows, dtype=object))
    assert pos.tolist() == [0, 2]
    assert V.dtype == np.float64
    assert V.tolist() == [[1.5, -2.0], [0.25, 4.0]]


def test_stack_of_all_null_or_empty_series_feeds_empty_kernels():
    C = np.ones((3, 4))
    for s in (pd.Series([None, None], dtype=object), pd.Series([], dtype=object)):
        V, pos = vec.stack(s)
        assert len(pos) == 0 and V.shape[0] == 0
        assert vec.cross_sq_dists(V, C).shape == (0, 3)
        assert vec.cross_dots(V, C).shape == (0, 3)
        assert vec.dots(V, V).shape == (0,)
