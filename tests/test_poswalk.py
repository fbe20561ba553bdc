"""Equivalence: the numpy wavefront walks (engine/poswalk.py) must be
bit-identical to the reference scalar walks below (``_near_walk`` /
``_window_walk``, the cursor machines of QryopIlNear/QryopIlWindow) on
arbitrary batches of sorted position lists."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from search_engine_spark.engine.poswalk import near_batch, window_batch


def _near_walk(pos_lists: list, distance: int) -> list:
    """The reference's NEAR position walk (QryopIlNear.java:99-135), exactly:
    per-arg cursors persist across arg0 positions; a match consumes one
    position from every arg; an exhausted arg aborts the doc."""
    k = len(pos_lists)
    ptr = [0] * (k - 1)
    out = []
    for p0 in pos_lists[0]:
        prev = p0
        matched = True
        for i in range(1, k):
            lst = pos_lists[i]
            j = ptr[i - 1]
            advanced = False
            while j < len(lst):
                ptr[i - 1] = j
                if lst[j] <= prev:
                    j += 1
                elif lst[j] - prev <= distance:
                    prev = lst[j]
                    advanced = True
                    break
                else:
                    matched = False  # try next p0; cursors keep state
                    advanced = True
                    break
            if not advanced:  # arg i exhausted -> abort doc entirely
                return out
            if not matched:
                break
        if matched:
            out.append(p0)
            for i in range(k - 1):
                ptr[i] += 1
    return out


def _window_walk(pos_lists: list, distance: int) -> list:
    """The reference's WINDOW walk (QryopIlWindow.java:107-149): advance the
    min-position cursor until max-min+1 <= distance; on match emit arg0's
    current position and advance all cursors."""
    k = len(pos_lists)
    ptr = [0] * k
    out = []
    while True:
        min_pos = None
        max_pos = None
        min_arg = -1
        for i in range(k):
            if ptr[i] >= len(pos_lists[i]):
                return out
            p = pos_lists[i][ptr[i]]
            if min_pos is None or p < min_pos:
                min_pos, min_arg = p, i
            if max_pos is None or p > max_pos:
                max_pos = p
        if max_pos - min_pos + 1 > distance:
            ptr[min_arg] += 1
        else:
            out.append(pos_lists[0][ptr[0]])
            for i in range(k):
                ptr[i] += 1

pos_list = st.lists(st.integers(0, 60), min_size=1, max_size=25).map(
    lambda xs: sorted(set(xs))
)


def doc_strategy(k: int):
    return st.lists(pos_list, min_size=k, max_size=k)


def batch_strategy():
    return st.integers(2, 4).flatmap(
        lambda k: st.tuples(
            st.just(k),
            st.lists(doc_strategy(k), min_size=0, max_size=12),
            st.integers(1, 12),
        )
    )


def _scalar_batch(walk, docs: list, k: int, distance: int):
    out = {}
    for rank, plists in enumerate(docs):
        res = walk([list(p) for p in plists], distance)
        if res:
            out[rank] = res
    return out


def _vector_batch(batch_fn, docs: list, k: int, distance: int):
    cols = [
        np.array([np.asarray(d[i], dtype=np.int32) for d in docs], dtype=object)
        for i in range(k)
    ]
    ranks, pos_arrays = batch_fn(cols, distance)
    return {int(r): list(map(int, p)) for r, p in zip(ranks, pos_arrays)}


@settings(max_examples=300, deadline=None)
@given(batch_strategy())
def test_near_batch_equivalence(case):
    k, docs, distance = case
    assert _vector_batch(near_batch, docs, k, distance) == _scalar_batch(
        _near_walk, docs, k, distance
    )


@settings(max_examples=300, deadline=None)
@given(batch_strategy())
def test_window_batch_equivalence(case):
    k, docs, distance = case
    assert _vector_batch(window_batch, docs, k, distance) == _scalar_batch(
        _window_walk, docs, k, distance
    )


def test_near_batch_hot_pair_scale():
    """The 100TB hot shape: many docs, two dense stopword-ish terms."""
    rng = np.random.default_rng(7)
    docs = []
    for _ in range(500):
        a = np.unique(rng.integers(0, 4000, size=300)).astype(np.int32)
        b = np.unique(rng.integers(0, 4000, size=300)).astype(np.int32)
        docs.append([a, b])
    assert _vector_batch(near_batch, docs, 2, 3) == _scalar_batch(
        _near_walk, docs, 2, 3
    )
    assert _vector_batch(window_batch, docs, 2, 5) == _scalar_batch(
        _window_walk, docs, 2, 5
    )
