"""The PQ squared-L2 kernel (`_pq_sq_table`) against a scalar reference.

Every PQ path (encoder argmin, raw and residual ADC lookup tables) reads its
distances from this one numpy kernel, and the DuckDB oracles spell the same
arithmetic out in SQL (`_pq_sq_terms`): a strict left fold of (x-c)^2 terms
over the subspace's dimensions, then HALF-UP quantization onto the 1e-9
integer grid.  The reference below is that contract in plain Python floats.
No Spark.
"""

from __future__ import annotations

import math

import numpy as np

from data_ingestion_ex8_producer_spark.operators.similarity import (
    _DIM,
    _PQ_M,
    _PQ_Q9,
    _pq_sq_table,
)

_SUB = _DIM // _PQ_M


def _reference(X: np.ndarray, C: np.ndarray, m: int) -> np.ndarray:
    out = np.zeros((len(X), len(C)), dtype=np.int64)
    for r, x in enumerate(X.tolist()):
        for k, c in enumerate(C.tolist()):
            acc = 0.0
            for i in range(m * _SUB, (m + 1) * _SUB):
                d = x[i] - c[i]
                acc += d * d
            out[r, k] = math.floor(acc * _PQ_Q9 + 0.5)
    return out


def _diffs(X: np.ndarray, C: np.ndarray, m: int) -> np.ndarray:
    lo, hi = m * _SUB, (m + 1) * _SUB
    return X[:, None, lo:hi] - C[None, :, lo:hi]


def _grid(acc: np.ndarray) -> np.ndarray:
    return np.floor(acc * _PQ_Q9 + 0.5).astype(np.int64)


def test_kernel_matches_left_fold_reference():
    rng = np.random.default_rng(11)
    # The embeddings contract's range (|x| <= 0.53) ...
    X = rng.uniform(-0.53, 0.53, (12, _DIM))
    C = rng.uniform(-0.53, 0.53, (9, _DIM))
    for m in range(_PQ_M):
        assert np.array_equal(_pq_sq_table(X, C, m), _reference(X, C, m))
    # ... and magnitudes where one ulp of the sum is wider than the grid,
    # so a different reduction order lands on a different integer.
    X = rng.uniform(-1e4, 1e4, (12, _DIM))
    C = rng.uniform(-1e4, 1e4, (9, _DIM))
    for m in range(_PQ_M):
        want = _reference(X, C, m)
        assert np.array_equal(_pq_sq_table(X, C, m), want)
        d = _diffs(X, C, m)
        pairwise = (d * d).sum(axis=2)
        einsum = np.einsum("nkd,nkd->nk", d, d)
        # The inputs discriminate: both other orders give other doubles,
        # and other grid points, than the left fold.
        assert not np.array_equal(_grid(pairwise), want)
        assert not np.array_equal(_grid(einsum), want)


def test_kernel_rounds_half_up_on_the_grid():
    # One dimension differs by 2^-5 per subspace: the squared distance is
    # 2^-10 exactly, and 2^-10 * 1e9 = 976562.5 exactly.  HALF-UP takes it
    # to 976563, where round-half-even (np.round) would give 976562.
    X = np.zeros((1, _DIM))
    C = np.zeros((2, _DIM))
    C[1, :: _SUB] = 2.0**-5
    assert (2.0**-10) * _PQ_Q9 == 976562.5
    assert np.round(976562.5) == 976562
    for m in range(_PQ_M):
        table = _pq_sq_table(X, C, m)
        assert table.tolist() == [[0, 976563]]
        assert np.array_equal(table, _reference(X, C, m))
