"""Bit-identity of the vectorized whole-partition merge kernel
(`make_merge_partition_vec`) against the per-group reference kernel
(`make_merge_partition`).

Spark-free: both kernels are plain Arrow-batches -> Arrow-batches functions,
so the fixtures feed record batches directly. Covers the edge cases the
vectorized path has to get right: salted groups spanning several salt
ranges, groups emptied by the salt filter, interleaved (unsorted) docid
ranges across segment rows, multi-field groups, block-boundary crossings,
multi-byte varints, and an empty partition.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from search_engine_spark.index.codec import (
    positions_pack_flat,
    varint_encode,
)
from search_engine_spark.index.persist import (
    make_merge_partition,
    make_merge_partition_vec,
)


def seg_row(term, field, docids, tfs, doclens, positions, salt=0, salted=False):
    """One segment row in the v3 format: all doc streams varint-packed
    (docid gaps restart absolute at the row), positions per-posting
    delta-varint."""
    docids = np.asarray(docids, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    doclens = np.asarray(doclens, dtype=np.int64)
    gaps = np.empty_like(docids)
    gaps[0] = docids[0]
    gaps[1:] = np.diff(docids)
    flat = np.concatenate([np.asarray(p, dtype=np.int64) for p in positions])
    lens = tfs
    pb, _ = positions_pack_flat(flat, lens)
    return {
        "term": term,
        "field": field,
        "n": int(docids.size),
        "min_docid": int(docids.min()),
        "max_docid": int(docids.max()),
        "max_tf": int(tfs.max()),
        "min_doclen": int(doclens.min()),
        "ctf_part": int(tfs.sum()),
        "docids": varint_encode(gaps.astype(np.uint64)),
        "tfs": varint_encode(tfs.astype(np.uint64)),
        "doclens": varint_encode(doclens.astype(np.uint64)),
        "positions": pb,
        "salted": salted,
        "salt": salt,
    }


SCHEMA = pa.schema(
    [
        ("term", pa.string()),
        ("field", pa.string()),
        ("n", pa.int32()),
        ("min_docid", pa.int64()),
        ("max_docid", pa.int64()),
        ("max_tf", pa.int32()),
        ("min_doclen", pa.int64()),
        ("ctf_part", pa.int64()),
        ("docids", pa.binary()),
        ("tfs", pa.binary()),
        ("doclens", pa.binary()),
        ("positions", pa.binary()),
        ("salted", pa.bool_()),
        ("salt", pa.int32()),
    ]
)


def as_table(rows):
    return pa.Table.from_pylist(rows, schema=SCHEMA)


def run_both(rows, n_salts=4, max_docid=1000, block_size=8):
    """Reference kernel, whole-partition vec kernel, and the chunked vec
    kernel with a tiny chunk_postings (7 — forces a cut at nearly every
    group boundary) must all emit identical rows."""
    tbl = as_table(rows)
    kernels = [
        make_merge_partition(n_salts, max_docid, block_size),
        make_merge_partition_vec(n_salts, max_docid, block_size),
        make_merge_partition_vec(n_salts, max_docid, block_size, 7),
    ]
    outs = []
    for k in kernels:
        bs = list(k(tbl.to_batches(max_chunksize=3)))
        outs.append(
            pa.Table.from_batches(bs) if bs else None
        )
    return outs


def rand_group(rng, term, field, lo, hi, n_rows, salt=0, salted=False):
    """Segment rows with disjoint ascending docid ranges."""
    all_ids = np.sort(rng.choice(np.arange(lo, hi), size=n_rows * 5, replace=False))
    rows = []
    for i in range(n_rows):
        ids = all_ids[i * 5 : (i + 1) * 5]
        tfs = rng.integers(1, 4, size=ids.size)
        dls = rng.integers(5, 200, size=ids.size)
        pos = [np.sort(rng.choice(1000, size=t, replace=False)) for t in tfs]
        rows.append(seg_row(term, field, ids, tfs, dls, pos, salt, salted))
    return rows


def assert_identical(rows, **kw):
    old, *news = run_both(rows, **kw)
    for new in news:
        if old is None or old.num_rows == 0:
            assert new is None or new.num_rows == 0
            continue
        assert new is not None
        assert old.num_rows == new.num_rows
        for c in old.column_names:
            assert old.column(c).equals(new.column(c)), f"column {c} differs"


def test_empty_partition():
    outs = run_both([])
    assert all(o is None for o in outs)


def test_single_group_multi_row():
    rng = np.random.default_rng(1)
    assert_identical(rand_group(rng, "alpha", "body", 1, 500, 4))


def test_multi_group_multi_field_ordering():
    rng = np.random.default_rng(2)
    rows = (
        rand_group(rng, "zeta", "body", 1, 400, 2)
        + rand_group(rng, "alpha", "title", 1, 400, 2)
        + rand_group(rng, "alpha", "body", 1, 400, 3)
        + rand_group(rng, "beta", "body", 400, 900, 2)
    )
    rng.shuffle(rows)
    assert_identical(rows)


def test_salted_group_spanning_salts():
    """A heavy term exploded to every overlapping salt: each copy keeps only
    its salt's docid slice; block metadata and gaps must match per salt."""
    rng = np.random.default_rng(3)
    base = rand_group(rng, "heavy", "body", 1, 1000, 6)
    rows = []
    for s in range(4):
        for r in base:
            lo = (r["min_docid"] * 4) // 1001
            hi = (r["max_docid"] * 4) // 1001
            if lo <= s <= hi:
                rows.append({**r, "salt": s, "salted": True})
    rows += rand_group(rng, "light", "body", 1, 1000, 2)
    assert_identical(rows)


def test_group_emptied_by_salt_filter():
    """A salted copy whose row overlaps the salt range but contains no
    docid inside it must produce zero blocks in both kernels."""
    r = seg_row(
        "edge", "body", [100, 900], [1, 1], [10, 10],
        [[5], [7]], salt=1, salted=True,
    )
    # salt 1 of 4 over max_docid=1000 covers docids ~251..500 — neither 100
    # nor 900 lands there, yet min/max straddle it
    other = seg_row("keep", "body", [300], [2], [40], [[1, 9]])
    assert_identical([r, other])


def test_interleaved_docid_ranges():
    """Rows whose docid ranges interleave (pid-hash segment assignment):
    the kernel must re-sort postings inside the group."""
    r1 = seg_row("x", "body", [10, 50, 90], [1, 1, 1], [5, 5, 5],
                 [[1], [2], [3]])
    r2 = seg_row("x", "body", [20, 60, 95], [2, 1, 1], [6, 6, 6],
                 [[1, 4], [2], [3]])
    assert_identical([r1, r2])


def test_block_boundary_crossing():
    rng = np.random.default_rng(5)
    ids = np.sort(rng.choice(np.arange(1, 800), size=50, replace=False))
    tfs = rng.integers(1, 3, size=50)
    dls = rng.integers(5, 300, size=50)
    pos = [np.sort(rng.choice(500, size=t, replace=False)) for t in tfs]
    rows = [seg_row("big", "body", ids, tfs, dls, pos)]
    assert_identical(rows, block_size=8)  # 50 postings -> 7 blocks


def test_multibyte_varints():
    """docids/doclens past 2^14 force 2-3 byte LEB128 values."""
    ids = [5, 20000, 300000, 900000]
    tfs = [1, 3, 1, 2]
    dls = [100000, 50, 20000, 7]
    pos = [[40000], [1, 20000, 65000], [9], [300, 90000]]
    assert_identical(
        [seg_row("wide", "body", ids, tfs, dls, pos)], max_docid=1_000_000
    )


def test_fuzz_many_groups():
    rng = np.random.default_rng(7)
    rows = []
    for i in range(20):
        # unique (term, field) per iteration so docids never collide within
        # a group (both kernels would raise on a non-ascending delta)
        term = f"t{i}"
        field = "body" if i % 3 else "title"
        lo = int(rng.integers(1, 400))
        rows += rand_group(rng, term, field, lo, lo + 500, int(rng.integers(1, 3)))
    for r in rows[:4]:
        r["salted"] = True
        r["salt"] = int((r["min_docid"] * 4) // 1001)
    rng.shuffle(rows)
    assert_identical(rows)


@pytest.mark.parametrize("kernel", ["vec", "pandas"])
def test_block_id_base_offsets_only_block_ids(kernel):
    """An append's delta merge writes block ids above the base's high-water
    mark: the offset kernel's output equals the plain kernel's with every
    block_id shifted, all other columns untouched."""
    from search_engine_spark.index.persist import _merge_kernel, _offset_block_ids

    rng = np.random.default_rng(5)
    rows = rand_group(rng, "alpha", "body", 1, 900, 6) + rand_group(
        rng, "beta", "body", 1, 900, 3
    )
    tbl = as_table(rows)
    # "vec" is the build's kernel; "pandas" the reference under the same
    # offset wrapper
    make = {
        "vec": lambda base: _merge_kernel(4, 1000, 8, None, base),
        "pandas": lambda base: _offset_block_ids(
            make_merge_partition(4, 1000, 8), base
        ),
    }[kernel]
    plain, shifted = (
        pa.Table.from_batches(list(make(base)(tbl.to_batches())))
        for base in (0, 41)
    )
    assert plain.num_rows > 2
    for c in plain.column_names:
        want = plain.column(c)
        if c == "block_id":
            want = pa.chunked_array(
                [np.asarray(want.to_pylist(), dtype=np.int32) + 41]
            )
        assert shifted.column(c).equals(want), f"column {c} differs"
