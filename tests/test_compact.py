"""Compaction (index/compact.py): purging tombstones must leave an index
query-equivalent to a fresh build over the live documents — postings,
positions, stats, scores — with untouched blocks passing through
byte-identical and the docid space stable."""

import shutil

import pytest
from pyspark.sql import functions as F

from search_engine_spark.config import BM25, ModelConfig
from search_engine_spark.engine.runner import Engine
from search_engine_spark.index.compact import compact_index
from search_engine_spark.index.deletes import delete_docs
from search_engine_spark.index.persist import (
    BuildConfig,
    PackedIndex,
    build_persistent_index,
)
from search_engine_spark.tokenize import CODE_TOKENIZER

FIELDS = {"body": "content", "path": "path", "lang": "lang"}


def _cfg(out: str) -> BuildConfig:
    # small blocks so deletes hit some blocks and pass others through
    return BuildConfig(
        out_dir=out, fields=FIELDS, tokenizer=CODE_TOKENIZER,
        n_buckets=4, block_size=16,
    )


@pytest.fixture(scope="module")
def pristine_dir(code_index_dir):
    """The session's code index (the same config as ``_cfg``); read-only."""
    return code_index_dir


def _live_build(spark, code_docs, victims, out):
    """Fresh packed build over the live docs (original docids)."""
    docs = code_docs.where(~F.col("docid").isin(victims))
    build_persistent_index(spark, docs, _cfg(out), resume=False)
    return PackedIndex(spark, out)


@pytest.fixture(scope="module")
def victims(spark, pristine_dir):
    """A spread of docids guaranteed to appear in posting lists."""
    pidx = PackedIndex(spark, pristine_dir)
    ids = sorted(r["docid"] for r in pidx.doc_ids.select("docid").collect())
    return [ids[2], ids[len(ids) // 2], ids[-3]]


@pytest.fixture(scope="module")
def compacted(spark, pristine_dir, victims, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("idx_cmp") / "compacted")
    shutil.copytree(pristine_dir, out)
    delete_docs(spark, out, docids=victims)
    entry = compact_index(spark, out)
    return PackedIndex(spark, out), entry


@pytest.fixture(scope="module")
def live(spark, code_docs, victims, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("idx_cmp") / "live")
    return _live_build(spark, code_docs, victims, out)


def _rows(df, cols):
    return sorted(map(tuple, df.select(cols).collect()))


def test_compact_counters(compacted, victims):
    idx, entry = compacted
    assert entry["n_purged"] == len(victims)
    assert entry["blocks_after"] <= entry["blocks_before"]
    assert idx.n_deleted == 0 and idx.tombstones is None
    assert idx.n_purged == len(victims)


def test_compact_equals_fresh_build_over_live(spark, compacted, live):
    idx, _ = compacted
    # corpus stats go FRESH (unlike the pre-compaction stale contract)
    assert idx.corpus.n_docs == live.corpus.n_docs
    assert idx.corpus.by_field == live.corpus.by_field
    # dimension tables
    assert _rows(idx.doc_ids, ["docid", "ext_docid"]) == _rows(
        live.doc_ids, ["docid", "ext_docid"]
    )
    assert _rows(idx.doc_stats, ["docid", "field", "doclen"]) == _rows(
        live.doc_stats, ["docid", "field", "doclen"]
    )
    # term dictionary: df/ctf fresh, df=0 terms dropped
    assert _rows(idx.term_stats, ["term", "field", "df", "ctf"]) == _rows(
        live.term_stats, ["term", "field", "df", "ctf"]
    )
    # postings incl. re-encoded positions, for the 3 most common body terms
    terms = [
        r["term"]
        for r in live.term_stats.where(F.col("field") == "body")
        .orderBy(F.desc("df"), "term").limit(3).collect()
    ]
    cols = ["term", "docid", "tf", "doclen", "df", "ctf", "positions"]
    got = sorted(
        (r["term"], r["docid"], r["tf"], r["doclen"], r["df"], r["ctf"],
         tuple(r["positions"]))
        for r in idx.postings_for(
            [(t, "body") for t in terms], with_positions=True
        ).collect()
    )
    want = sorted(
        (r["term"], r["docid"], r["tf"], r["doclen"], r["df"], r["ctf"],
         tuple(r["positions"]))
        for r in live.postings_for(
            [(t, "body") for t in terms], with_positions=True
        ).collect()
    )
    assert got == want and got


def test_compact_search_bitwise(spark, compacted, live):
    idx, _ = compacted
    terms = [
        r["term"]
        for r in live.term_stats.where(
            (F.col("field") == "body") & F.col("df").between(5, 30)
        ).orderBy(F.desc("df"), "term").limit(3).collect()
    ]
    query = " ".join(terms)
    a = [tuple(r) for r in Engine(idx, ModelConfig(name=BM25)).search(query, 30).collect()]
    b = [tuple(r) for r in Engine(live, ModelConfig(name=BM25)).search(query, 30).collect()]
    assert a == b and a


def test_untouched_blocks_pass_through_byte_identical(spark, pristine_dir, compacted, victims):
    idx, _ = compacted
    pre = PackedIndex(spark, pristine_dir)
    vset = set(victims)

    def keyed(pidx):
        return {
            (r["term"], r["field"], r["salt"], r["block_id"]):
                (r["n"], bytes(r["docids"]), bytes(r["tfs"]),
                 bytes(r["doclens"]), bytes(r["positions"]))
            for r in pidx.packed.collect()
        }

    pre_rows, post_rows = keyed(pre), keyed(idx)
    n_same = 0
    for r in pre.packed.collect():
        k = (r["term"], r["field"], r["salt"], r["block_id"])
        if any(r["min_docid"] <= v <= r["max_docid"] for v in vset):
            continue  # touched range: may be rewritten
        assert post_rows[k] == pre_rows[k]
        n_same += 1
    assert n_same, "every block intersected a tombstone — fixture too small"


SPLIT = 100  # lifecycle test: base = docids 1..100, append = 101..120


def test_lifecycle_delete_append_compact(spark, code_docs, tmp_path):
    """build -> delete -> append -> compact composes: tombstones survive an
    append untouched (docid high-water mark, delta-added field sums), and
    the final compacted index equals a fresh build over live ∪ appended."""
    out = str(tmp_path / "idx_life")
    base = code_docs.where(F.col("docid") <= SPLIT)
    delta = code_docs.where(F.col("docid") > SPLIT)
    build_persistent_index(spark, base, _cfg(out), resume=False)

    pidx0 = PackedIndex(spark, out)
    term = (
        pidx0.term_stats.where(
            (F.col("field") == "body") & F.col("df").between(5, 30)
        ).orderBy(F.desc("df"), "term").limit(1).collect()[0]["term"]
    )
    victims = sorted(
        r["docid"]
        for r in pidx0.term_postings(term, "body").select("docid").collect()
    )[:3]
    delete_docs(spark, out, docids=victims)

    from search_engine_spark.index.append import append_to_index

    append_to_index(spark, delta, _cfg(out))
    mid = PackedIndex(spark, out)
    n_total = code_docs.count()
    assert mid.corpus.n_docs == n_total - len(victims)
    # tombstones still masked after the append; appended docs visible
    ids = {r["docid"] for r in mid.doc_ids.collect()}
    assert not (ids & set(victims)) and SPLIT + 1 in ids

    compact_index(spark, out)
    final = PackedIndex(spark, out)
    live = _live_build(spark, code_docs, victims, str(tmp_path / "idx_live"))
    assert final.corpus.n_docs == live.corpus.n_docs
    assert final.corpus.by_field == live.corpus.by_field
    assert _rows(final.term_stats, ["term", "field", "df", "ctf"]) == _rows(
        live.term_stats, ["term", "field", "df", "ctf"]
    )
    q = " ".join(
        r["term"]
        for r in live.term_stats.where(
            (F.col("field") == "body") & F.col("df").between(5, 30)
        ).orderBy(F.desc("df"), "term").limit(3).collect()
    )
    a = [tuple(r) for r in Engine(final, ModelConfig(name=BM25)).search(q, 30).collect()]
    b = [tuple(r) for r in Engine(live, ModelConfig(name=BM25)).search(q, 30).collect()]
    assert a == b and a


def test_inflight_journal_guard(spark, pristine_dir, victims, tmp_path):
    """A compaction that crashed mid-commit leaves compact_inflight.json.
    If the journaled generation never reached the manifest, every open /
    delete / compact must refuse loudly; if it DID reach the manifest
    (crash after the atomic commit, before cleanup), opening rolls forward."""
    import json
    import os

    from search_engine_spark.index.compact import INFLIGHT
    from search_engine_spark.index.deletes import tombstones_path

    out = str(tmp_path / "idx_crash")
    shutil.copytree(pristine_dir, out)
    delete_docs(spark, out, docids=victims[:1])

    # crash BEFORE manifest commit: generation 1 journaled, not in lineage
    with open(os.path.join(out, INFLIGHT), "w") as f:
        json.dump({"generation": 1, "ts": 0.0}, f)
    with pytest.raises(RuntimeError, match="crashed mid-commit"):
        PackedIndex(spark, out)
    with pytest.raises(RuntimeError, match="crashed mid-commit"):
        delete_docs(spark, out, docids=victims[1:2])
    with pytest.raises(RuntimeError, match="crashed mid-commit"):
        compact_index(spark, out)

    # crash AFTER manifest commit: run a real compaction, then re-plant the
    # journal + a stale tombstone table as the crash would have left them
    os.remove(os.path.join(out, INFLIGHT))
    entry = compact_index(spark, out)
    with open(os.path.join(out, INFLIGHT), "w") as f:
        json.dump({"generation": entry["generation"], "ts": 0.0}, f)
    os.makedirs(tombstones_path(out), exist_ok=True)
    idx = PackedIndex(spark, out)  # rolls forward, no raise
    assert not os.path.exists(os.path.join(out, INFLIGHT))
    assert not os.path.exists(tombstones_path(out))
    assert idx.n_deleted == 0


def test_compact_noop_and_post_compact_deletes(spark, compacted):
    idx, _ = compacted
    assert compact_index(spark, idx.dir) == {"n_purged": 0}
    # deleting a purged docid is rejected (ghost tombstones would skew N)
    purged = idx.n_purged
    missing = sorted(
        set(range(1, 50)) - {r["docid"] for r in idx.doc_ids.collect()}
    )[0]
    with pytest.raises(ValueError, match="purged"):
        delete_docs(spark, idx.dir, docids=[missing])
    # a live doc still deletes fine, and N stacks purge + tombstone counts
    live = idx.doc_ids.orderBy("docid").limit(1).collect()[0]["docid"]
    delete_docs(spark, idx.dir, docids=[int(live)])
    re = PackedIndex(spark, idx.dir)
    assert re.n_purged == purged and re.n_deleted == 1
    assert re.corpus.n_docs == idx.corpus.n_docs - 1


def test_compact_preserves_block_id_hwm(spark, code_docs, tmp_path):
    """Compaction must carry block_id_hwm forward in the packed side
    manifest: block ids survive compaction but df shrinks, so the next
    append's max(df)-based fallback hwm could land BELOW surviving
    appended-generation block ids — duplicate (term,field,salt,block_id)
    identities, the invariant the block-max pruner keys on."""
    from search_engine_spark.index.append import append_to_index
    from search_engine_spark.index.persist import _side_manifest

    out = str(tmp_path / "idx_hwm")
    base = code_docs.where(F.col("docid") <= 100)
    d1 = code_docs.where(F.col("docid").between(101, 110))
    d2 = code_docs.where(F.col("docid") > 110)
    build_persistent_index(spark, base, _cfg(out), resume=False)
    append_to_index(spark, d1, _cfg(out))  # records block_id_hwm
    hwm_before = _side_manifest(f"{out}/packed")["block_id_hwm"]

    pidx = PackedIndex(spark, out)
    ids = sorted(r["docid"] for r in pidx.doc_ids.select("docid").collect())
    delete_docs(spark, out, docids=[ids[1], ids[10], ids[50]])
    compact_index(spark, out)
    assert _side_manifest(f"{out}/packed")["block_id_hwm"] == hwm_before

    # a post-compaction append must not mint colliding block identities
    append_to_index(spark, d2, _cfg(out))
    packed = PackedIndex(spark, out).packed
    dups = (
        packed.groupBy("term", "field", "salt", "block_id")
        .count()
        .where(F.col("count") > 1)
        .count()
    )
    assert dups == 0
