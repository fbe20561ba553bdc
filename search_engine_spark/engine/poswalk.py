"""Vectorized positional walks for #NEAR/n and #WINDOW/n.

The reference walks (QryopIlNear.java:99-135, QryopIlWindow.java:107-149)
are sequential cursor machines PER DOC, but a mapInPandas batch holds many
docs — so we vectorize ACROSS docs with a numpy "wavefront": every iteration
advances one step of the walk for every still-active doc at once. Per-doc
semantics (cursor state across arg0 positions, consume-on-match, abort on
arg exhaustion, first-min advancement) are bit-identical to the reference's
scalar cursor walks — asserted by a hypothesis equivalence test against
scalar twins (tests/test_poswalk.py) and by the driver gate's
recursive-CTE DuckDB twins (`near2_postings`, `window8_postings`).

``near_flat``/``window_flat`` take each arg as flat positions plus per-doc
lengths (the driver evaluator decodes blocks straight into that form);
``near_batch``/``window_batch`` wrap them for per-doc array columns.

Key trick: each arg's per-doc position arrays are flattened into ONE sorted
int64 array keyed as ``(doc_rank << 32) | position`` — globally sorted, so a
single np.searchsorted serves every doc's cursor jump simultaneously, and
key differences within a doc equal position differences.

Cost model: scalar walk = O(total positions) *Python interpreter* steps; the
wavefront = O(max steps over docs) numpy iterations, each O(active docs) in
C. For the 100TB hot case — millions of docs containing a stopword-grade
term pair — the interpreter-step count drops by the batch width (~10^4x).
For a batch that is one giant doc the wavefront degenerates to the scalar
walk's step count with numpy overhead, which is why the positional join
already restricts input to docs containing ALL k terms.
"""

from __future__ import annotations

import numpy as np

_SHIFT = np.int64(32)  # positions are int32 -> key = rank << 32 | pos


def _flatten(col) -> tuple[np.ndarray, np.ndarray]:
    """col: sequence of per-doc sorted position arrays -> (flat positions,
    per-doc lengths)."""
    lens = np.fromiter((len(x) for x in col), dtype=np.int64, count=len(col))
    if int(lens.sum()):
        flat = np.concatenate([np.asarray(x, dtype=np.int64) for x in col])
    else:
        flat = np.zeros(0, dtype=np.int64)
    return flat, lens


def _keys(pos: np.ndarray, lens: np.ndarray):
    """Flat per-doc positions (docs in rank order) -> (keys, offsets, lens)
    with keys globally sorted by (rank, pos)."""
    lens = np.asarray(lens, dtype=np.int64)
    n = len(lens)
    offs = np.zeros(n, dtype=np.int64)
    if n > 1:
        np.cumsum(lens[:-1], out=offs[1:])
    ranks = np.arange(n, dtype=np.int64)
    flat = np.asarray(pos, dtype=np.int64) + (np.repeat(ranks, lens) << _SHIFT)
    return flat, offs, lens


def _assemble(out_rank: list, out_pos: list):
    """Chronologically-emitted (rank, pos) arrays -> (doc ranks with >=1
    match, matches per such doc, their int32 positions grouped by doc in
    walk order)."""
    if not out_rank:
        z = np.zeros(0, dtype=np.int64)
        return z, z, np.zeros(0, dtype=np.int32)
    rk = np.concatenate(out_rank)
    ps = np.concatenate(out_pos)
    order = np.argsort(rk, kind="stable")  # stable keeps walk order per doc
    rk, ps = rk[order], ps[order].astype(np.int32)  # positions are int32
    uniq, counts = np.unique(rk, return_counts=True)
    return uniq, counts, ps


def _split(ranks, counts, pos):
    """Flat walk output -> (ranks, list of per-doc position arrays)."""
    return ranks, np.split(pos, np.cumsum(counts)[:-1]) if len(ranks) else []


def near_batch(cols: list, distance: int):
    """The #NEAR walk over a batch. ``cols``: k sequences (one per arg) of
    per-doc sorted position arrays, all length B. Returns (match_ranks,
    per-doc position arrays)."""
    return _split(*near_flat([_flatten(c) for c in cols], distance))


def near_flat(args: list, distance: int):
    """The #NEAR walk over B docs given in flat form: ``args`` holds per arg
    (flat positions, per-doc lengths), docs in the same rank order for every
    arg. Returns (match ranks, matches per such doc, flat positions)."""
    k = len(args)
    B = len(args[0][1])
    flats, offs, lens = zip(*(_keys(p, n) for p, n in args))

    step = np.zeros(B, dtype=np.int64)  # arg0 cursor (relative)
    curs = [offs[i].copy() for i in range(1, k)]  # absolute cursors
    done = np.zeros(B, dtype=bool)
    for i in range(k):
        done |= lens[i] == 0
    out_rank: list = []
    out_pos: list = []

    active = np.nonzero(~done & (step < lens[0]))[0]
    while len(active):
        ar = active
        aval = flats[0][offs[0][ar] + step[ar]]
        prev = aval.copy()
        alive = np.ones(len(ar), dtype=bool)
        for i in range(1, k):
            fi = flats[i]
            reached = alive  # docs whose walk got to arg i this step
            sb = np.searchsorted(fi, prev, side="right")
            j = np.maximum(curs[i - 1][ar], sb)
            seg_end = offs[i][ar] + lens[i][ar]
            in_seg = j < seg_end
            if len(fi):
                bval = fi[np.minimum(j, len(fi) - 1)]
            else:
                bval = np.zeros(len(ar), dtype=np.int64)
            # cursors persist exactly where the scalar scan stopped
            curs[i - 1][ar[reached]] = j[reached]
            # arg exhausted -> the whole doc aborts (QryopIlNear.java:128)
            done[ar[reached & ~in_seg]] = True
            alive = reached & in_seg & (bval - prev <= distance)
            prev = np.where(alive, bval, prev)
        m = ar[alive]
        if len(m):
            out_rank.append(m)
            out_pos.append(aval[alive] - (m << _SHIFT))
            for i in range(1, k):  # a match consumes one position per arg
                curs[i - 1][m] += 1
        step[ar] += 1
        active = ar[~done[ar] & (step[ar] < lens[0][ar])]
    return _assemble(out_rank, out_pos)


def window_batch(cols: list, distance: int):
    """The #WINDOW walk over a batch (same contract as near_batch)."""
    return _split(*window_flat([_flatten(c) for c in cols], distance))


def window_flat(args: list, distance: int):
    """The #WINDOW walk in flat form (same contract as near_flat)."""
    k = len(args)
    B = len(args[0][1])
    flats, offs, lens = zip(*(_keys(p, n) for p, n in args))
    curs = [offs[i].copy() for i in range(k)]
    ends = [offs[i] + lens[i] for i in range(k)]
    done = np.zeros(B, dtype=bool)
    for i in range(k):
        done |= lens[i] == 0
    out_rank: list = []
    out_pos: list = []

    active = np.nonzero(~done)[0]
    while len(active):
        ar = active
        vals = np.stack([flats[i][curs[i][ar]] for i in range(k)])
        mx = vals.max(axis=0)
        mn = vals.min(axis=0)
        fit = (mx - mn + 1) <= distance
        m = ar[fit]
        if len(m):
            out_rank.append(m)
            out_pos.append(flats[0][curs[0][m]] - (m << _SHIFT))
        # match -> every cursor advances; else only the FIRST min-position
        # cursor (strict < in the scalar walk == argmin's first-occurrence)
        argmn = vals.argmin(axis=0)
        for i in range(k):
            adv = fit | (argmn == i)
            curs[i][ar[adv]] += 1
        exhausted = np.zeros(len(ar), dtype=bool)
        for i in range(k):
            exhausted |= curs[i][ar] >= ends[i][ar]
        done[ar[exhausted]] = True
        active = ar[~exhausted]
    return _assemble(out_rank, out_pos)
