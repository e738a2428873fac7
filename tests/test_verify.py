"""Map-side verify kernel and broadcast lifecycle, without Spark."""
import threading

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from who_owns_mass_processing_spark.operators.verify import (
    _intersect_counts,
    prefetch_broadcast,
)

# small pools around 0, 2**63 and 2**64 so rows overlap often and codes
# >= 2**63 (negative as int64) sort after the small ones, as uint64 does
_CODES = st.one_of(
    st.integers(0, 20), st.integers(2**63 - 5, 2**63 + 5), st.integers(2**64 - 6, 2**64 - 1)
)


@settings(max_examples=300, deadline=None)
@given(rows=st.lists(st.sets(_CODES, max_size=12), min_size=1, max_size=6), data=st.data())
def test_intersect_counts_matches_set_intersection(rows, data):
    offs = np.zeros(len(rows) + 1, dtype=np.int64)
    np.cumsum([len(r) for r in rows], out=offs[1:])
    flat = np.array([c for r in rows for c in sorted(r)], dtype=np.uint64)
    row_ix = st.integers(0, len(rows) - 1)
    pairs = data.draw(st.lists(st.tuples(row_ix, row_ix), max_size=10))
    ia = np.array([x for x, _ in pairs], dtype=np.int64)
    ib = np.array([y for _, y in pairs], dtype=np.int64)
    got = _intersect_counts(offs, flat, ia, ib)
    assert got.tolist() == [len(rows[x] & rows[y]) for x, y in pairs]


class _FakeBroadcast:
    def __init__(self):
        self.destroyed = 0

    def destroy(self):
        self.destroyed += 1


class _Builder:
    """Fake broadcast builder that records the thread it ran on; with
    `release` it blocks until the event is set."""

    def __init__(self, release=None, error=None):
        self.bvar = _FakeBroadcast()
        self.release = release
        self.error = error
        self.thread = None

    def __call__(self, tag):
        assert tag == "features"
        self.thread = threading.current_thread()
        if self.release is not None:
            assert self.release.wait(timeout=10)
        if self.error is not None:
            raise self.error
        return self.bvar


def test_prefetch_broadcast_destroys_on_raising_block():
    release = threading.Event()
    build = _Builder(release)
    with pytest.raises(KeyError, match="block"):
        with prefetch_broadcast(build, "features"):
            # the build is still running when the block raises
            threading.Timer(0.2, release.set).start()
            raise KeyError("block")
    assert build.bvar.destroyed == 1
    assert not build.thread.is_alive()


def test_prefetch_broadcast_destroys_consumed_broadcast_on_raising_block():
    build = _Builder()
    with pytest.raises(KeyError):
        with prefetch_broadcast(build, "features") as mapside:
            assert mapside() is build.bvar
            raise KeyError("block")
    assert build.bvar.destroyed == 1
    assert not build.thread.is_alive()


def test_prefetch_broadcast_keeps_broadcast_on_clean_block():
    build = _Builder()
    with prefetch_broadcast(build, "features") as mapside:
        assert mapside() is build.bvar
    assert build.bvar.destroyed == 0
    assert build.thread is not threading.current_thread()
    assert not build.thread.is_alive()


def test_prefetch_broadcast_raises_builder_error_from_mapside():
    build = _Builder(error=ValueError("collect failed"))
    with pytest.raises(ValueError, match="collect failed"):
        with prefetch_broadcast(build, "features") as mapside:
            mapside()
    assert build.bvar.destroyed == 0
    assert not build.thread.is_alive()


def test_prefetch_broadcast_none_build_on_raising_block():
    with pytest.raises(KeyError):
        with prefetch_broadcast(lambda: None):
            raise KeyError("block")
