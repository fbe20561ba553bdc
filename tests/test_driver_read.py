"""The driver's reads of a packed index: the block read (pruning._Query.read,
a pyarrow read of only the packed files holding the blocks, decoded in one
pass) must return exactly what decoding each block on its own returns and
report the files it read; the resident metadata (DriverReads.vocab and
.blocks) must answer term stats and block metadata exactly as per-term reads
do, load once under concurrent first use and fall back cleanly when a load
fails."""

import os
import shutil
import sys
import threading
import time

import numpy as np
import pyarrow.compute as pc
import pyarrow.dataset as pads
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from search_engine_spark.config import BM25, INDRI, ModelConfig
from search_engine_spark.engine import pruning as pruning_mod
from search_engine_spark.engine.runner import Engine
from search_engine_spark.index.append import append_to_index
from search_engine_spark.index.codec import decode_block, positions_decode
from search_engine_spark.index.deletes import delete_docs
from search_engine_spark.engine.pruning import PruneStats
from search_engine_spark.index.persist import (
    META_COLS, BuildConfig, DriverReads, PackedIndex, build_persistent_index,
)
from search_engine_spark.tokenize import CODE_TOKENIZER

TERMS = ["lock", "self", "x", "queue", "try", "except"]


@pytest.fixture(scope="module")
def appended(spark, code_docs, tmp_path_factory):
    """Docids 1-80 built, 81-120 appended: heavy terms are salted in both
    generations, so their blocks sit in base and delta files."""
    out = str(tmp_path_factory.mktemp("readidx") / "v1")
    cfg = BuildConfig(
        out_dir=out, n_buckets=4, block_size=8,
        salt_threshold=30, n_salts=4, fields={"body": "content"},
        tokenizer=CODE_TOKENIZER,
    )
    build_persistent_index(spark, code_docs.where(F.col("docid") <= 80), cfg)
    append_to_index(spark, code_docs.where(F.col("docid") > 80), cfg)
    return PackedIndex(spark, out)


@pytest.fixture(scope="module")
def deleted(spark, appended, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("readidx_del") / "v1")
    shutil.copytree(appended.dir, out)
    delete_docs(spark, out, docids=list(range(3, 120, 7)))
    return PackedIndex(spark, out)


def _file_of(pidx) -> dict:
    """(term, salt, block_id) -> packed file path, read file by file."""
    out = {}
    for path in pidx.reads.dataset("packed").files:
        t = pq.read_table(path, columns=["term", "field", "salt", "block_id"])
        t = t.filter(pc.equal(t["field"], "body"))
        for key in zip(*(t[c].to_pylist() for c in ("term", "salt", "block_id"))):
            out[key] = path
    return out


def _reference(pidx, q, blocks, positions: bool):
    """The per-block loop: codec.decode_block (+ positions_decode) of each
    block's row, tombstoned postings dropped, concatenated in block order."""
    tbl = pidx.reads.dataset("packed").to_table(
        filter=(pc.field("field") == "body") & pc.field("term").isin(q.terms)
    )
    rows = {
        (r["term"], r["salt"], r["block_id"]): r for r in tbl.to_pylist()
    }
    tombs = pidx.reads.tombstones()
    out = {k: [] for k in ("term", "docid", "tf", "doclen", "pos")}
    for i in blocks:
        r = rows[(q.terms[q.term[i]], int(q.salt[i]), int(q.block_id[i]))]
        d, t, L = decode_block(r)
        pos = positions_decode(r["positions"], t)
        if tombs is not None:
            live = ~np.isin(d, tombs)
            d, t, L = d[live], t[live], L[live]
            pos = [p for p, keep in zip(pos, live) if keep]
        out["term"].append(np.full(len(d), q.term[i]))
        out["docid"].append(d)
        out["tf"].append(t)
        out["doclen"].append(L)
        if positions:
            out["pos"].append(np.concatenate(pos or [np.zeros(0, np.int64)]))
    return {k: np.concatenate(v or [np.zeros(0, np.int64)]) for k, v in out.items()}


def _query(pidx, positions):
    return pruning_mod._Query(
        pidx, TERMS, "body", pidx.reads.block_meta(TERMS, "body"), positions=positions
    )


def test_fixture_covers_the_hard_cases(appended):
    q = _query(appended, False)
    files = _file_of(appended)
    # a salted term whose blocks span several files
    spans = {}
    for i, t in enumerate(TERMS):
        m = q.term == i
        if len(np.unique(q.salt[m])) > 1:
            spans[t] = {files[(t, int(s), int(b))] for s, b in zip(q.salt[m], q.block_id[m])}
    assert any(len(f) > 1 for f in spans.values()), spans
    # a block_id held by another salt of the same term
    keys = set(zip(q.term.tolist(), q.salt.tolist(), q.block_id.tolist()))
    assert any((t, s + 1, b) in keys for t, s, b in keys)


@pytest.mark.parametrize("positions", [False, True], ids=["docs", "positions"])
@pytest.mark.parametrize("which", ["appended", "deleted"])
def test_read_matches_per_block_decode(request, which, positions):
    """Random block subsets, read in random order by one _Query (so later
    reads mix cached and fresh blocks), equal the per-block reference; the
    files it reports are exactly those holding the blocks read."""
    pidx = request.getfixturevalue(which)
    if which == "deleted":
        assert pidx.reads.tombstones() is not None
    q = _query(pidx, positions)
    files = _file_of(pidx)
    paths = pidx.reads.dataset("packed").files
    rng = np.random.default_rng(7)
    n = len(q.n)
    # a block whose block_id another salt of its term holds too, alone
    keys = set(zip(q.term.tolist(), q.salt.tolist(), q.block_id.tolist()))
    shared = [
        i for i, (t, s, b) in enumerate(zip(q.term, q.salt, q.block_id))
        if (t, s + 1, b) in keys
    ]
    assert shared
    subsets = [np.array(shared[:1])] + [
        rng.permutation(n)[: rng.integers(1, n + 1)] for _ in range(6)
    ] + [np.arange(n)]
    read_blocks: set = set()
    for blocks in subsets:
        got = q.read(blocks)
        want = _reference(pidx, q, blocks, positions)
        for k in ("term", "docid", "tf", "doclen"):
            assert np.array_equal(getattr(got, k), want[k]), k
        if positions:
            assert np.array_equal(got.pos, want["pos"])
        else:
            assert got.pos is None
        read_blocks |= set(blocks.tolist())
        held = {
            files[(q.terms[q.term[i]], int(q.salt[i]), int(q.block_id[i]))]
            for i in read_blocks
        }
        assert {paths[i] for i in q.files_read} == held
    assert len(q.files_read) < len(paths)


class _Recording(pruning_mod._Query):
    """_Query that remembers every block it was asked to read."""

    asked: set = set()

    def read(self, blocks):
        _Recording.asked |= {int(i) for i in blocks}
        _Recording.last = self
        return super().read(blocks)


@pytest.mark.parametrize(
    "model,text",
    [
        (BM25, "lock free queue"),
        (INDRI, "#WSUM(0.6 self 0.4 lock)"),
        (BM25, "#SUM(lambda #NEAR/1(except pass))"),
    ],
)
def test_prune_stats_count_files_read(spark, appended, monkeypatch, model, text):
    """``PruneStats.n_files_read`` is the number of distinct packed files
    holding the blocks the driver read, and less than the whole dataset."""
    monkeypatch.setenv("SPARK_GRAFT_PRUNE_MIN_BLOCKS", "1")
    monkeypatch.setattr(pruning_mod, "_Query", _Recording)
    _Recording.asked = set()
    fresh = PackedIndex(spark, appended.dir)
    eng = Engine(fresh, ModelConfig(name=model), tokenizer=CODE_TOKENIZER)
    assert eng.search(text, 10).collect()
    st = eng.last_prune_stats
    assert st.score_mode == "driver", text
    q, files = _Recording.last, _file_of(fresh)
    held = {
        files[(q.terms[q.term[i]], int(q.salt[i]), int(q.block_id[i]))]
        for i in _Recording.asked
    }
    assert st.n_files_read == len(held) > 0
    assert st.n_files_read < len(fresh.reads.dataset("packed").files)


# --------------------------------------------------------------------------
# resident term stats and block metadata (DriverReads.vocab, .blocks)
# --------------------------------------------------------------------------


def _per_term_reference(pidx) -> dict:
    """(term, field) -> ((df, ctf), the term's block metadata), gathered row
    by row from term_stats and from each packed file read on its own, in
    manifest order (rows in file order): independent of the resident
    load's scan and sort."""
    ts = pads.dataset(os.path.join(pidx.dir, "term_stats")).to_table(
        columns=["term", "field", "df", "ctf"]
    )
    ref = {
        (r["term"], r["field"]): ((r["df"], r["ctf"]), [])
        for r in ts.to_pylist()
    }
    for i, path in enumerate(pidx.reads.dataset("packed").files):
        for r in pq.read_table(path, columns=META_COLS).to_pylist():
            ref[(r["term"], r["field"])][1].append([r[c] for c in META_COLS[2:]] + [i])
    return {
        key: (stats, {
            c: np.array([b[j] for b in blocks], np.int64)
            for j, c in enumerate(META_COLS[2:] + ["file"])
        })
        for key, (stats, blocks) in ref.items()
    }


@pytest.mark.parametrize("which", ["appended", "deleted"])
def test_resident_metadata_matches_per_term_reads(spark, request, which):
    """Every (term, field) of the vocabulary: the resident term stats and
    block metadata equal a row-by-row read of the files, blocks in the same
    order."""
    pidx = PackedIndex(spark, request.getfixturevalue(which).dir)
    reference = _per_term_reference(pidx)
    assert len(reference) > 100
    # every packed block belongs to a term with a term_stats row
    packed = pidx.reads.dataset("packed").count_rows()
    assert sum(len(b["n"]) for _, b in reference.values()) == packed
    assert len(pidx.reads.blocks().cols["n"]) == packed
    for (term, fld), (stats, blocks) in reference.items():
        assert pidx.reads.term_stats([term], fld) == {term: stats}, term
        [got] = pidx.reads.block_meta([term], fld)
        assert list(got) == list(blocks)
        for c, want in blocks.items():
            assert got[c].dtype == want.dtype and np.array_equal(got[c], want), (term, c)
        assert got["n"].sum() == stats[0], term


def test_absent_term_has_no_stats_and_no_blocks(spark, appended):
    reads = PackedIndex(spark, appended.dir).reads
    for term, fld in [("zz_absent_term", "body"), ("lock", "no_such_field")]:
        assert reads.term_stats([term], fld) == {}
        [got] = reads.block_meta([term], fld)
        assert list(got) == META_COLS[2:] + ["file"]
        assert all(len(a) == 0 and a.dtype == np.int64 for a in got.values())
    # an absent term between present ones keeps its slot
    got = reads.block_meta(["lock", "zz_absent_term", "self"], "body")
    assert [len(m["n"]) > 0 for m in got] == [True, False, True]
    assert reads.term_stats(["lock", "zz_absent_term"], "body").keys() == {"lock"}


def test_concurrent_first_queries_load_once(spark, appended, monkeypatch):
    """Eight threads that first touch a fresh PackedIndex at once trigger
    one term-stats load and one block-metadata load between them, and get
    the serial answers."""
    term_sets = [TERMS[i:] + TERMS[:i] for i in range(len(TERMS))] + [TERMS[:2], ["x"]]
    serial_reads = PackedIndex(spark, appended.dir).reads
    serial = [
        (serial_reads.term_stats(ts, "body"), serial_reads.block_meta(ts, "body"))
        for ts in term_sets
    ]
    loads = []

    def counting(name):
        real = getattr(DriverReads, name)

        def load(self, *a):
            loads.append(name)
            time.sleep(0.2)  # hold the load lock while the other threads arrive
            return real(self, *a)

        monkeypatch.setattr(DriverReads, name, load)

    counting("_load_vocab")
    counting("_load_blocks")
    reads = PackedIndex(spark, appended.dir).reads
    start = threading.Barrier(len(term_sets))
    got: dict = {}

    def client(i: int) -> None:
        start.wait()
        got[i] = (
            reads.term_stats(term_sets[i], "body"), reads.block_meta(term_sets[i], "body")
        )

    threads = [threading.Thread(target=client, args=(i,)) for i in range(len(term_sets))]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads)
    assert sorted(got) == list(range(len(term_sets)))
    assert sorted(loads) == ["_load_blocks", "_load_vocab"]
    for i, (stats, metas) in enumerate(serial):
        assert got[i][0] == stats
        for g, want in zip(got[i][1], metas):
            assert g.keys() == want.keys()
            assert all(np.array_equal(g[c], want[c]) for c in want)


def _fail_once(monkeypatch, reads, name: str) -> None:
    real = getattr(reads, name)
    failures = []

    def load(*a):
        if not failures:
            failures.append(1)
            raise OSError(f"forced {name} failure")
        return real(*a)

    monkeypatch.setattr(reads, name, load)


def test_failed_metadata_load_falls_back_to_the_exact_plan(
    spark, appended, exact_plan, monkeypatch
):
    """An OSError while loading the resident metadata makes the pruned
    planner report the fallback and the engine answer with the exact plan
    (whose own term-stats read retries the load), bitwise; the failed load
    cached nothing, so the next query plans on the driver."""
    monkeypatch.setenv("SPARK_GRAFT_PRUNE_MIN_BLOCKS", "1")
    text = "lock free queue"
    with exact_plan():
        eng = Engine(appended, ModelConfig(name=BM25), tokenizer=CODE_TOKENIZER)
        exact = [tuple(r) for r in eng.search(text, 10).collect()]

    # term stats: the engine's pruning gate reports the fallback
    broken = PackedIndex(spark, appended.dir)
    _fail_once(monkeypatch, broken.reads, "_load_vocab")
    eng = Engine(broken, ModelConfig(name=BM25), tokenizer=CODE_TOKENIZER)
    got = [tuple(r) for r in eng.search(text, 10).collect()]
    assert eng.last_prune_stats == PruneStats(
        fallback="driver read failed: OSError: forced _load_vocab failure"
    )
    assert got == exact and got
    assert [tuple(r) for r in eng.search(text, 10).collect()] == exact
    assert eng.last_prune_stats.score_mode == "driver"

    # block metadata: the pruned planner steps aside with the reason
    broken = PackedIndex(spark, appended.dir)
    _fail_once(monkeypatch, broken.reads, "_load_blocks")
    st = PruneStats()
    assert pruning_mod.bm25_topk_pruned(broken, text.split(), k=10, stats=st) is None
    assert st.fallback == "driver read failed: OSError: forced _load_blocks failure"
    eng = Engine(broken, ModelConfig(name=BM25), tokenizer=CODE_TOKENIZER)
    assert [tuple(r) for r in eng.search(text, 10).collect()] == exact
    assert eng.last_prune_stats.score_mode == "driver"
