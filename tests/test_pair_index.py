"""Pair-index kernels of the candidate-pair generator, without Spark."""
from itertools import combinations, product

import numpy as np
from hypothesis import example, given, settings
from hypothesis import strategies as st

from who_owns_mass_processing_spark.operators.blocking import (
    _cross_pairs_np,
    _triu_pairs_np,
    popcount64_np,
)


def _triples(cell, i, j):
    return list(zip(cell.tolist(), i.tolist(), j.tolist()))


@settings(max_examples=300, deadline=None)
@given(sizes=st.lists(st.integers(0, 40), max_size=8))
@example(sizes=[])
@example(sizes=[0, 1, 2])
def test_triu_pairs_match_combinations(sizes):
    got = _triu_pairs_np(np.array(sizes, dtype=np.int64))
    want = [(c, i, j) for c, n in enumerate(sizes) for i, j in combinations(range(n), 2)]
    assert _triples(*got) == want


def test_triu_pairs_large_cell():
    """One cell of a few thousand rows between two tiny ones: pair ranks
    in the millions, where the float sqrt inverts large triangular
    numbers."""
    n = 3000
    cell, i, j = _triu_pairs_np(np.array([1, n, 2], dtype=np.int64))
    big = cell == 1
    P = n * (n - 1) // 2
    want = np.fromiter(
        (x for pair in combinations(range(n), 2) for x in pair), dtype=np.int64, count=2 * P
    ).reshape(-1, 2)
    assert int(big.sum()) == P
    np.testing.assert_array_equal(i[big], want[:, 0])
    np.testing.assert_array_equal(j[big], want[:, 1])
    assert _triples(cell[~big], i[~big], j[~big]) == [(2, 0, 1)]


@settings(max_examples=300, deadline=None)
@given(shapes=st.lists(st.tuples(st.integers(0, 12), st.integers(0, 12)), max_size=8))
@example(shapes=[])
@example(shapes=[(0, 3), (3, 0), (1, 1)])
def test_cross_pairs_match_product(shapes):
    nl = np.array([a for a, _ in shapes], dtype=np.int64)
    nr = np.array([b for _, b in shapes], dtype=np.int64)
    want = [
        (c, i, j) for c, (a, b) in enumerate(shapes) for i, j in product(range(a), range(b))
    ]
    assert _triples(*_cross_pairs_np(nl, nr)) == want


@settings(max_examples=300, deadline=None)
@given(xs=st.lists(st.integers(-(2**63), 2**63 - 1), max_size=20))
@example(xs=[0, -1, -(2**63), 2**63 - 1])
def test_popcount64_matches_bin(xs):
    got = popcount64_np(np.array(xs, dtype=np.int64))
    assert got.tolist() == [bin(x & (2**64 - 1)).count("1") for x in xs]
