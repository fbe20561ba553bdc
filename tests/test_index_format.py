"""Index format v1: codec roundtrip (property-based), persistent build,
salted heavy terms, checkpointed resume (kill + re-run => identical index)."""

import glob
import os

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from search_engine_spark.config import BM25, INDRI, ModelConfig
from search_engine_spark.engine.runner import Engine
from search_engine_spark.index.codec import (
    decode_block,
    delta_decode,
    delta_encode,
    encode_blocks,
    varint_decode,
    varint_encode,
)
from search_engine_spark.index.persist import (
    BuildConfig,
    Manifest,
    PackedIndex,
    build_persistent_index,
)
from search_engine_spark.tokenize import CODE_TOKENIZER

# ---------------------------------------------------------------------------
# codec
# ---------------------------------------------------------------------------


@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=300))
@settings(max_examples=200, deadline=None)
def test_varint_roundtrip(vals):
    arr = np.array(vals, dtype=np.uint64)
    assert np.array_equal(varint_decode(varint_encode(arr)), arr)


@given(
    st.lists(st.integers(min_value=0, max_value=10**9), min_size=1, max_size=300)
)
@settings(max_examples=100, deadline=None)
def test_delta_roundtrip(vals):
    arr = np.array(sorted(vals), dtype=np.int64)
    assert np.array_equal(delta_decode(delta_encode(arr)), arr)


from hypothesis import HealthCheck


@given(st.data())
@settings(
    max_examples=50,
    deadline=None,
    suppress_health_check=[HealthCheck.data_too_large],
)
def test_block_roundtrip(data):
    n = data.draw(st.integers(min_value=1, max_value=100))
    docids = np.array(
        sorted(
            data.draw(
                st.sets(st.integers(min_value=0, max_value=10**7), min_size=n, max_size=n)
            )
        ),
        dtype=np.int64,
    )
    tfs = np.array(
        data.draw(st.lists(st.integers(1, 40), min_size=n, max_size=n)), dtype=np.int64
    )
    dls = np.array(
        data.draw(st.lists(st.integers(1, 5000), min_size=n, max_size=n)),
        dtype=np.int64,
    )
    poss = [
        np.array(
            sorted(
                data.draw(
                    st.sets(st.integers(0, 10**5), min_size=int(t), max_size=int(t))
                )
            ),
            dtype=np.int64,
        )
        for t in tfs
    ]
    blocks = encode_blocks(docids, tfs, dls, poss, block_size=64)
    dd, tt, ll, pp = [], [], [], []
    for b in blocks:
        d, t, l, p = decode_block(b, with_positions=True)
        assert b["min_docid"] == int(d[0]) and b["max_docid"] == int(d[-1])
        assert b["max_tf"] == int(t.max()) and b["min_doclen"] == int(l.min())
        dd.append(d), tt.append(t), ll.append(l), pp.extend(p)
    assert np.array_equal(np.concatenate(dd), docids)
    assert np.array_equal(np.concatenate(tt), tfs)
    assert np.array_equal(np.concatenate(ll), dls)
    assert all(np.array_equal(a, b) for a, b in zip(pp, poss))


def _positions_decode_loop(buf: bytes, tfs) -> list:
    """The per-posting decode loop the vectorized positions_decode
    replaced: the reference its output must equal bitwise."""
    flat = varint_decode(buf)
    out = []
    off = 0
    for tf in np.asarray(tfs, dtype=np.int64):
        out.append(delta_decode(flat[off : off + tf]))
        off += tf
    if off != flat.size:
        raise ValueError("positions stream length mismatch")
    return out


@given(
    st.lists(
        st.lists(st.integers(0, 2**40), min_size=0, max_size=20).map(sorted),
        max_size=40,
    )
)
@settings(max_examples=200, deadline=None)
def test_positions_decode_matches_loop(runs):
    """Flat decode + segmented cumsum == the per-posting loop: same dtype,
    same values, same posting count (tf=0 runs and multi-byte gaps too)."""
    from search_engine_spark.index.codec import (
        positions_decode, positions_decode_flat, positions_encode,
    )

    tfs = np.array([len(r) for r in runs], dtype=np.int64)
    buf = positions_encode([np.array(r, dtype=np.int64) for r in runs])
    want = _positions_decode_loop(buf, tfs)
    got = positions_decode(buf, tfs)
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert g.dtype == w.dtype and np.array_equal(g, w)
    flat, offs = positions_decode_flat(buf, tfs)
    assert np.array_equal(np.diff(offs), tfs)
    assert np.array_equal(flat, np.concatenate(want) if want else np.zeros(0, np.int64))
    if runs:
        with pytest.raises(ValueError):
            positions_decode(buf + b"\x01", tfs)


def test_delta_rejects_unsorted():
    with pytest.raises(ValueError):
        delta_encode(np.array([3, 1, 2]))


# ---------------------------------------------------------------------------
# persistent build
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def built(spark, code_docs, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("idx") / "v1")
    cfg = BuildConfig(
        out_dir=out, n_buckets=4, block_size=16, salt_threshold=40, n_salts=4,
        fields={"body": "content"}, tokenizer=CODE_TOKENIZER,
    )
    counters = build_persistent_index(spark, code_docs, cfg)
    return out, cfg, counters


def test_build_counters_and_lineage(built, code_docs):
    out, cfg, counters = built
    assert counters["n_docs"] == code_docs.count()
    assert counters["docs_tokenized"] == code_docs.count()
    assert counters["blocks_written"] > 0
    man = Manifest(os.path.join(out, "manifest.json"))
    assert all(man.stage_done(s) for s in ("segments", "packed", "stats"))
    assert man.data["stages"]["packed"]["blocks_written"] == counters["blocks_written"]
    assert man.data["lineage"]["input_fingerprint"]


def _assert_matches_oracle(got, want):
    """rank/docid/ext id exact, score to 1e-9 (the oracle sums in its own
    order) — the test_rank_identity contract."""
    assert len(got) == len(want) > 0
    for g, w in zip(got, want):
        assert g[:3] == w[:3], (g, w)
        assert g[3] == pytest.approx(w[3], rel=1e-9, abs=1e-12)


def test_packed_matches_inmemory(spark, built, py_oracle, exact_plan):
    """The salted body-only build ranks like the pure-Python oracle's dict
    index (the reference semantics, computed independently), on the driver
    planners' route and on the exact plan's salted scan alike."""
    out, _, _ = built
    pidx = PackedIndex(spark, out)
    for model, q in [
        (BM25, "lock free queue"),
        (BM25, "#SUM(ring buffer slot)"),
        (INDRI, "#WAND(0.7 lock 0.2 free 0.1 queue)"),
    ]:
        pak = Engine(pidx, ModelConfig(name=model), tokenizer=CODE_TOKENIZER)
        want = py_oracle.search(q, ModelConfig(name=model), 30)
        _assert_matches_oracle([tuple(r) for r in pak.search(q, 30).collect()], want)
        with exact_plan():
            got = [tuple(r) for r in pak.search(q, 30).collect()]
        _assert_matches_oracle(got, want)


def test_heavy_terms_are_salted(spark, built):
    out, cfg, _ = built
    pidx = PackedIndex(spark, out)
    heavy = (
        pidx.term_stats.where(
            (pidx.term_stats.df > cfg.salt_threshold)
            & (pidx.term_stats.field == "body")
        )
        .select("term")
        .first()
    )
    assert heavy is not None, "corpus should contain heavy keyword terms"
    meta = pidx.blocks_meta([(heavy["term"], "body")]).collect()
    salts = sorted({r["salt"] for r in meta})
    assert len(salts) > 1
    # contiguous range salting: docid ranges of different salts don't overlap
    by_salt = {}
    for r in meta:
        lo, hi = by_salt.get(r["salt"], (10**18, -1))
        by_salt[r["salt"]] = (min(lo, r["min_docid"]), max(hi, r["max_docid"]))
    spans = [by_salt[s] for s in salts]
    for (a_lo, a_hi), (b_lo, b_hi) in zip(spans, spans[1:]):
        assert a_hi < b_lo


def test_blocks_respect_block_size_and_order(spark, built):
    out, cfg, _ = built
    pidx = PackedIndex(spark, out)
    meta = pidx.packed.limit(2000).collect()
    for r in meta:
        assert 0 < r["n"] <= cfg.block_size
        assert r["min_docid"] <= r["max_docid"]


def _dir_fingerprint(root: str) -> dict:
    """parquet content fingerprint: per table, hash of the sorted row reprs
    (partition/file layout independent)."""
    import hashlib

    import pyarrow.parquet as pq

    out = {}
    for t in ["doc_ids", "doc_stats", "term_stats", "segments", "packed"]:
        files = sorted(glob.glob(f"{root}/{t}/**/*.parquet", recursive=True))
        assert files, f"no parquet under {root}/{t}"
        rows = []
        for f in files:
            tbl = pq.read_table(f)
            cols = sorted(tbl.column_names)
            rows.extend(
                map(repr, zip(*[tbl.column(c).to_pylist() for c in cols]))
            )
        rows.sort()
        out[t] = hashlib.sha256("\n".join(rows).encode()).hexdigest()
    return out


def test_resume_after_injected_failure(spark, code_docs, tmp_path_factory):
    """Kill the build at each of its commit points, resume, and assert the
    final index equals a never-failed build bit-for-bit (per-table content
    hashes over every parquet file in the table dirs, so orphans of the
    crashed merge would show). Crash points: after the segments stage;
    after the packed files are written but before their side manifest
    commits; after the packed mark but before the stats stage."""
    base = tmp_path_factory.mktemp("resume")
    cfg_a = BuildConfig(
        out_dir=str(base / "a"), n_buckets=4, block_size=16,
        salt_threshold=40, n_salts=4,
        fields={"body": "content"}, tokenizer=CODE_TOKENIZER,
    )
    build_persistent_index(spark, code_docs, cfg_a)
    want = _dir_fingerprint(cfg_a.out_dir)

    for step, done, not_done in [
        ("segments", ["segments"], ["packed", "stats"]),
        ("packed_written", ["segments"], ["packed", "stats"]),
        ("packed", ["segments", "packed"], ["stats"]),
    ]:
        cfg_b = BuildConfig(**{**cfg_a.__dict__, "out_dir": str(base / step)})
        with pytest.raises(RuntimeError, match=f"injected failure after step {step}$"):
            build_persistent_index(spark, code_docs, cfg_b, fail_after_step=step)
        man = Manifest(os.path.join(cfg_b.out_dir, "manifest.json"))
        assert all(man.stage_done(s) for s in done), step
        assert not any(man.stage_done(s) for s in not_done), step
        if step == "packed_written":
            # the crashed merge's files are on disk, uncommitted
            assert glob.glob(f"{cfg_b.out_dir}/packed/*.parquet")
            assert not os.path.exists(f"{cfg_b.out_dir}/packed/_manifest.json")

        counters = build_persistent_index(spark, code_docs, cfg_b, resume=True)
        assert _dir_fingerprint(cfg_b.out_dir) == want, step
        man2 = Manifest(os.path.join(cfg_b.out_dir, "manifest.json"))
        assert all(man2.stage_done(s) for s in ("segments", "packed", "stats"))
        assert counters["blocks_written"] > 0


def test_resume_validates_config_and_input(spark, code_docs, built):
    """Resuming with a changed BuildConfig or a changed corpus must fail
    loudly (ADVICE r01: stale-stage mixing), not silently skip stages."""
    out, cfg, _ = built
    bad_cfg = BuildConfig(**{**cfg.__dict__, "n_buckets": cfg.n_buckets * 2})
    with pytest.raises(ValueError, match="config mismatch"):
        build_persistent_index(spark, code_docs, bad_cfg, resume=True)
    smaller = code_docs.limit(50)
    with pytest.raises(ValueError, match="input mismatch"):
        build_persistent_index(spark, smaller, cfg, resume=True)
    # unchanged config+input: resume is a no-op and keeps counters
    counters = build_persistent_index(spark, code_docs, cfg, resume=True)
    assert counters["blocks_written"] > 0


def test_packed_forward_index_and_prf(spark, built, py_oracle):
    """doc_terms_for on PackedIndex (decode-on-demand from packed postings)
    must equal the oracle's forward view (tf and positions), and PRF
    through the packed index must produce the oracle's expansion + ranking
    (VERDICT r01 item 3)."""
    from search_engine_spark.config import INDRI, ModelConfig
    from search_engine_spark.engine.expand import FbParams, search_expanded
    from tests.test_expand import py_learned

    out, _, _ = built
    pidx = PackedIndex(spark, out)
    ids = [3, 17, 42, 99]
    want = {
        (d, t): (posts[d][0], tuple(posts[d][1]))
        for t, posts in py_oracle.post["body"].items()
        for d in ids
        if d in posts
    }
    got = {
        (r["docid"], r["term"]): (r["tf"], tuple(r["positions"]))
        for r in pidx.doc_terms_for(ids, "body", with_positions=True).collect()
    }
    assert want and got == want

    p = FbParams(fb_docs=4, fb_terms=6, fb_mu=0.0, fb_orig_weight=0.5)
    model = ModelConfig(name=INDRI)
    res, learned, exp = search_expanded(
        Engine(pidx, model, tokenizer=CODE_TOKENIZER), "lock free queue", p, k=15,
    )
    assert learned == py_learned(py_oracle, "lock free queue", p, model)
    _assert_matches_oracle(
        [tuple(r) for r in res.collect()], py_oracle.search(exp, model, 15)
    )
