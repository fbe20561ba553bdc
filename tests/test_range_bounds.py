"""Planner-only checks of the block-max range upper bounds
(engine/pruning.py ``range_bounds``): the sweep must equal the direct
per-(range, term, block) loop, and stay usable at 10^5 blocks."""

from __future__ import annotations

import math

import numpy as np
import pytest

from search_engine_spark.config import IndriParams
from search_engine_spark.engine.pruning import (
    _F32_GUARD,
    _indri_default_ub,
    bm25_range_ub,
    indri_range_ub,
    range_bounds,
)


def _synthetic_blocks(rng: np.random.Generator, n_blocks: int, n_terms: int):
    """Docid-contiguous posting lists: each term a chain of disjoint blocks
    with gaps; the last term is salted into two chains over the same docid
    span, so its blocks overlap each other."""
    lo, hi, term = [], [], []
    per = n_blocks // (n_terms + 1)
    chains = [(t, per) for t in range(n_terms - 1)] + [(n_terms - 1, per)] * 2
    for t, n in chains:
        widths = rng.integers(1, 40, n)
        gaps = rng.integers(0, 30, n)
        starts = np.cumsum(gaps + np.concatenate([[0], widths[:-1] + 1]))
        lo.append(starts)
        hi.append(starts + widths)
        term.append(np.full(n, t))
    lo, hi, term = (np.concatenate(a).astype(np.int64) for a in (lo, hi, term))
    ub = rng.random(len(lo)) * 10.0 ** rng.integers(-6, 2, len(lo))
    min_dl = rng.integers(1, 500, len(lo)).astype(np.int64)
    return lo, hi, term, ub, min_dl


def _loop_reference(lo, hi, term, ub, min_dl, n_terms):
    """The direct O(ranges x blocks) loop the planners used to run."""
    cuts = sorted(set(lo.tolist()) | set((hi + 1).tolist()))
    ranges = list(zip(cuts[:-1], [c - 1 for c in cuts[1:]]))
    best, mdl, blocks = [], [], []
    for r_lo, r_hi in ranges:
        row = [0.0] * n_terms
        m = None
        rb = set()
        for b in range(len(lo)):
            if lo[b] <= r_hi and hi[b] >= r_lo:
                row[term[b]] = max(row[term[b]], ub[b])
                m = min_dl[b] if m is None else min(m, min_dl[b])
                rb.add(b)
        best.append(row)
        mdl.append(m)
        blocks.append(rb)
    return ranges, best, mdl, blocks


def test_sweep_equals_loop():
    rng = np.random.default_rng(7)
    n_terms = 4
    lo, hi, term, ub, min_dl = _synthetic_blocks(rng, 1000, n_terms)
    rb = range_bounds(lo, hi, term, ub, n_terms, min_dl)
    ranges, best, mdl, blocks = _loop_reference(lo, hi, term, ub, min_dl, n_terms)

    assert list(zip(rb.starts.tolist(), rb.ends.tolist())) == ranges
    assert rb.best.tolist() == best
    assert rb.covered.tolist() == [m is not None for m in mdl]
    assert [int(m) for m, c in zip(rb.min_doclen, rb.covered) if c] == [
        m for m in mdl if m is not None
    ]
    for r, want in enumerate(blocks):
        got = rb.range_blocks[rb.range_ptr[r]:rb.range_ptr[r + 1]]
        assert set(got.tolist()) == want
        assert len(got) == len(want)

    # BM25: Σ_t best_t in term order — bitwise the loop's running sum
    bm25 = bm25_range_ub(rb)
    for r, row in enumerate(best):
        tot = 0.0
        for b in row:
            tot += b
        assert bm25[r] == tot

    # Indri: combine of max(best, default) per term; numpy vs libm pow may
    # differ in the last ulp, which the (1 + 2^-20) guard absorbs
    p = IndriParams()
    mle = np.array([1e-4, 3e-3, 2e-5, 7e-4])
    weights = [0.001, 0.2, 1.0, 0.05]
    W = sum(weights)
    got = indri_range_ub(rb, "wand", weights, mle, p)
    for r, row in enumerate(best):
        if mdl[r] is None:
            assert got[r] == -math.inf
            continue
        want = 1.0
        for j, w in enumerate(weights):
            want *= max(row[j], _indri_default_ub(mdl[r], mle[j], p)) ** (w / W)
        assert got[r] == pytest.approx(want * _F32_GUARD, rel=1e-12)


def test_sweep_scales_to_1e5_blocks():
    rng = np.random.default_rng(11)
    n_terms = 5
    lo, hi, term, ub, min_dl = _synthetic_blocks(rng, 100_000, n_terms)
    rb = range_bounds(lo, hi, term, ub, n_terms, min_dl)
    n_ranges = len(rb.starts)
    assert n_ranges > len(lo)
    # every block covers exactly the ranges inside its docid span
    assert (rb.starts[rb.first] == lo).all()
    assert (rb.ends[rb.last - 1] == hi).all()
    # spot-check ranges against a vectorized brute force over all blocks
    for r in rng.integers(0, n_ranges, 50):
        over = (lo <= rb.ends[r]) & (hi >= rb.starts[r])
        for t in range(n_terms):
            m = over & (term == t)
            assert rb.best[r, t] == (ub[m].max() if m.any() else 0.0)
        assert rb.covered[r] == over.any()
    assert np.isfinite(bm25_range_ub(rb)).all()
