"""Shuffle-free bucketed merge: routing invariance and resume behavior.

The segment pass routes term rows into per-merge-bucket row groups at WRITE
time (crc32(term) % merge_buckets) so the merge phase reads each bucket's
rows directly in one python task — no repartition, no shuffle-map pass. The
index must not depend on the routing: builds with 8 buckets and with 1
bucket are IDENTICAL (as row sets, all columns including the binary
streams), because the merge kernel is deterministic per (term, field, salt)
group and routing only changes which task a group lands in.

Covers: full five-table fingerprint identity across bucket counts (salting
active), salt explode against a row-wise reference, crash-before-merge
resume, and the unrouted-file guard.
"""

from __future__ import annotations

import os

import pytest

from search_engine_spark.index.persist import (
    BuildConfig,
    Manifest,
    _bucketed_merge,
    _side_manifest,
    build_persistent_index,
)
from search_engine_spark.tokenize import CODE_TOKENIZER

from tests.test_index_format import _dir_fingerprint


def _cfg(out: str, merge_buckets: int, **kw) -> BuildConfig:
    # salt_threshold=40 on the 120-doc corpus -> heavy keywords ARE salted,
    # so the numpy salt explode is exercised, not just the salt=0 path
    return BuildConfig(
        out_dir=out, n_buckets=4, block_size=16, salt_threshold=40,
        n_salts=4, fields={"body": "content"}, tokenizer=CODE_TOKENIZER,
        merge_buckets=merge_buckets, **kw
    )


@pytest.fixture(scope="module")
def both_builds(spark, code_docs, tmp_path_factory):
    roots = {}
    for mb in (8, 1):
        out = str(tmp_path_factory.mktemp("mbidx") / f"mb{mb}")
        build_persistent_index(spark, code_docs, _cfg(out, mb))
        roots[mb] = out
    return roots


def _listed_fingerprint(root: str, names: list) -> str:
    """Row-set fingerprint of the manifest-LISTED segment files only."""
    import hashlib

    import pyarrow.parquet as pq

    rows = []
    for f in names:
        tbl = pq.read_table(os.path.join(root, "segments", f))
        cols = sorted(tbl.column_names)
        rows.extend(map(repr, zip(*[tbl.column(c).to_pylist() for c in cols])))
    rows.sort()
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


def test_routing_invariant_across_merge_buckets(both_builds):
    fp_8 = _dir_fingerprint(both_builds[8])
    fp_1 = _dir_fingerprint(both_builds[1])
    for t in ("doc_ids", "doc_stats", "term_stats", "segments", "packed"):
        assert fp_8[t] == fp_1[t], f"{t} differs between bucket counts"
    # the listed segment rows too — routing only changes row-group placement
    fps = []
    for mb in (8, 1):
        man = _side_manifest(f"{both_builds[mb]}/segments")
        fps.append(
            _listed_fingerprint(
                both_builds[mb], man["files"] + man["marker_files"]
            )
        )
    assert fps[0] == fps[1], "segment rows differ between bucket counts"
    assert len(_side_manifest(f"{both_builds[1]}/packed")["files"]) == 1


def test_bucketed_layout_and_manifest(both_builds):
    import pyarrow.parquet as pq

    out = both_builds[8]
    man = _side_manifest(f"{out}/segments")
    assert man["merge_buckets"] == 8
    assert man["files"], "no term files committed"
    # one terms file per segment task — routing lives in row groups, not in
    # a small-file explosion
    assert set(man["rg_buckets"]) == set(man["files"])
    buckets = set()
    for f in man["files"]:
        m = man["rg_buckets"][f]
        pf = pq.ParquetFile(os.path.join(out, "segments", f))
        assert pf.metadata.num_row_groups == len(m["rg_keys"])
        assert [pf.metadata.row_group(i).num_rows
                for i in range(pf.metadata.num_row_groups)] == m["rg_rows"]
        # row groups are key-exclusive: every term in rg i hashes to key i
        from search_engine_spark.index.persist import _mbucket_of

        for i, k in enumerate(m["rg_keys"]):
            terms = pf.read_row_group(i, columns=["term"]).column(0).to_pylist()
            assert {_mbucket_of(t, man["merge_buckets"]) for t in set(terms)} == {k}
        buckets.update(m["rg_keys"])
    assert len(buckets) > 1  # vocab actually spread over buckets
    pk = _side_manifest(f"{out}/packed")
    assert all(f.startswith("packed-mb") for f in pk["files"])


def test_resume_after_crash_before_merge(
    spark, code_docs, tmp_path_factory, both_builds, monkeypatch
):
    """A crash between the segment stage and the merge resumes into the
    same bucketed merge and produces the identical index."""
    out = str(tmp_path_factory.mktemp("mbidx") / "resume")
    import search_engine_spark.index.persist as P

    def boom(*a, **k):
        raise RuntimeError("injected crash before merge")

    monkeypatch.setattr(P, "_bucketed_merge", boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        build_persistent_index(spark, code_docs, _cfg(out, 8))
    man = Manifest(os.path.join(out, "manifest.json"))
    assert man.stage_done("segments") and not man.stage_done("packed")
    monkeypatch.undo()
    # resume: segments stage skipped, bucketed merge completes
    build_persistent_index(spark, code_docs, _cfg(out, 8))
    assert _dir_fingerprint(out) == _dir_fingerprint(both_builds[8])


def test_unrouted_files_are_refused(spark, tmp_path):
    seg_dir = str(tmp_path / "segments")
    os.makedirs(seg_dir)
    with pytest.raises(ValueError, match="no bucket→row-group map"):
        _bucketed_merge(
            spark, seg_dir,
            {"files": ["terms-00000-abc.parquet"], "merge_buckets": 8},
            str(tmp_path / "packed"), [], 4, 100, 16,
        )


def test_salt_explode_table_matches_reference():
    """numpy explode == the reference row-wise expansion, boundaries
    included (a row spanning several salt ranges goes to each)."""
    import numpy as np
    import pyarrow as pa

    from search_engine_spark.index.persist import _salt_explode_table

    max_docid, n_salts = 99, 4  # salt ranges: [0,25) [25,50) [50,75) [75,100)
    rows = [
        ("heavy", 1, 24),    # salts 0..0
        ("heavy", 20, 60),   # salts 0..2 (spans two boundaries)
        ("light", 1, 99),    # unsalted -> salt 0 only
        ("heavy", 75, 99),   # salts 3..3
    ]
    tbl = pa.table(
        {
            "term": [r[0] for r in rows],
            "min_docid": pa.array([r[1] for r in rows], pa.int64()),
            "max_docid": pa.array([r[2] for r in rows], pa.int64()),
        }
    )
    out = _salt_explode_table(tbl, ["heavy"], n_salts, max_docid)
    got = sorted(
        zip(
            out.column("term").to_pylist(),
            out.column("min_docid").to_pylist(),
            out.column("salt").to_pylist(),
            out.column("salted").to_pylist(),
        )
    )
    expect = []
    for t, lo_d, hi_d in rows:
        if t == "heavy":
            lo = (lo_d * n_salts) // (max_docid + 1)
            hi = (hi_d * n_salts) // (max_docid + 1)
            expect += [(t, lo_d, s, True) for s in range(lo, hi + 1)]
        else:
            expect.append((t, lo_d, 0, False))
    assert got == sorted(expect)


def test_routing_is_deterministic_and_spread():
    from search_engine_spark.index.persist import _mbucket_of

    terms = [f"tok_{i}" for i in range(500)]
    a = [_mbucket_of(t, 64) for t in terms]
    b = [_mbucket_of(t, 64) for t in terms]
    assert a == b
    assert len(set(a)) > 40  # hash actually spreads
