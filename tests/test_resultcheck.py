"""The shared result hash equals the benchmark's frozen copy
(perfbench/oracle.py), so Tier-1 and the benchmark check the same
thing. No Spark."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st

from dle import resultcheck
from perfbench import oracle as frozen

CELLS = st.one_of(
    st.none(),
    st.just(float("nan")),
    st.sampled_from([0.0, -0.0, float("inf"), float("-inf")]),
    st.integers(-10**3, 10**3).map(lambda d: float(10**15 + d)),
    st.integers(-10**3, 10**3).map(lambda d: -float(10**15 + d)),
    st.floats(allow_nan=False, allow_infinity=False),
    st.binary(max_size=8),
    st.text(max_size=8),
    st.integers(),
)


def _hash(fn, cols, rows):
    try:
        return fn(cols, rows)
    except OverflowError:  # int(inf) inside norm_cell, in both copies
        return OverflowError


@st.composite
def tables(draw):
    cols = draw(st.lists(st.text(min_size=1, max_size=4), min_size=1,
                         max_size=5, unique=True))
    rows = draw(st.lists(st.tuples(*[CELLS] * len(cols)), max_size=8))
    perm = draw(st.permutations(range(len(cols))))
    return cols, rows, perm


@settings(max_examples=300, deadline=None)
@given(tables())
def test_table_hash_equals_frozen_copy(table):
    cols, rows, perm = table
    want = _hash(frozen.table_hash, cols, rows)
    assert _hash(resultcheck.table_hash, cols, rows) == want
    shuffled = ([cols[i] for i in perm],
                [tuple(r[i] for i in perm) for r in rows])
    assert _hash(resultcheck.table_hash, *shuffled) == want
