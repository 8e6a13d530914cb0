"""Fold-order vector kernels — the numpy side of every Arrow vector UDF.

Each kernel reproduces the interpreted left fold
``F.aggregate(F.zip_with(a, b, f), F.lit(0.0), lambda acc, x: acc + x)``
bit for bit: the accumulator starts at 0.0 and adds one term per
dimension IN INDEX ORDER, vectorized only across rows (or pairs). The
DuckDB oracle's ``list_sum(list_transform(...))`` folds the same way, so
Arrow results replay exactly against both. BLAS ``@``, ``einsum``,
``np.sum`` and ``cumsum`` are disqualified here: their SIMD / pairwise
partial sums reorder the float accumulation.

This is the only place the package writes such a loop; operators call
these kernels and keep only their own null handling.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

# Pairs per chunk in :func:`pair_dots`: keeps the accumulator and the
# per-dimension gather outputs cache-resident. Chunking only splits the
# independent pair axis, so every pair's sum is unchanged.
_PAIR_CHUNK = 65536


def stack(s: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """(V, pos): the float64 (rows, dim) matrix of the non-null vectors in
    ``s`` and their positions in ``s``. No non-null rows → a (0, 0)
    matrix, which every kernel maps to an empty result."""
    pos = np.flatnonzero(s.notna().to_numpy())
    if not len(pos):
        return np.empty((0, 0)), pos
    return np.vstack(s.to_numpy()[pos]).astype(np.float64), pos


def dots(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Row-wise dot: ``out[r] = fold(A[r] * B[r])``."""
    acc = np.zeros(A.shape[0])
    for i in range(A.shape[1]):
        acc += A[:, i] * B[:, i]
    return acc


def pair_dots(
    A: np.ndarray, B: np.ndarray, ia: np.ndarray, ib: np.ndarray
) -> np.ndarray:
    """Dot over index pairs: ``out[p] = fold(A[ia[p]] * B[ib[p]])``.

    The pairs × dim gathers are never materialized (a 4096-row salted
    bucket is 8.4M pairs — two 4.3 GB matrices per task): per dimension
    one pairs-long column is gathered from the column-major vector
    matrices and accumulated, in chunks of ``_PAIR_CHUNK`` pairs."""
    A_f = np.asfortranarray(A)
    B_f = A_f if B is A else np.asfortranarray(B)
    out = np.empty(len(ia))
    for s in range(0, len(ia), _PAIR_CHUNK):
        ja, jb = ia[s : s + _PAIR_CHUNK], ib[s : s + _PAIR_CHUNK]
        acc = np.zeros(len(ja))
        for i in range(A_f.shape[1]):
            acc += A_f[ja, i] * B_f[jb, i]
        out[s : s + _PAIR_CHUNK] = acc
    return out


def cross_dots(V: np.ndarray, P: np.ndarray) -> np.ndarray:
    """(n, k) dots of every row of V with every row of P."""
    acc = np.zeros((V.shape[0], P.shape[0]))
    for i in range(V.shape[1]):
        acc += V[:, i, None] * P[None, :, i]
    return acc


def cross_sq_dists(V: np.ndarray, C: np.ndarray) -> np.ndarray:
    """(n, k) squared L2 distances of every row of V to every row of C:
    ``fold((v - c) * (v - c))``."""
    acc = np.zeros((V.shape[0], C.shape[0]))
    for i in range(V.shape[1]):
        t = V[:, i, None] - C[None, :, i]
        acc += t * t
    return acc
