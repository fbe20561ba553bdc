"""Live-docs deletes (index/deletes.py; SURVEY.md §2.2 P3).

Lucene-faithful tombstone semantics, the contract the reference inherits
from its index (hw5/QryEval/InvList.java:84-86 walks ``liveDocs``;
QryopSlScore.java:118 reads ``numDocs()`` = live count, while df/ctf/avgdl
come from delete-UNaware collection stats): deleted docs vanish from every
posting/forward/dimension scan, N goes live, everything else stays stale
until compaction.
"""

import shutil

import pytest
from pyspark.sql import functions as F

from search_engine_spark.config import BM25, ModelConfig
from search_engine_spark.engine.runner import Engine
from search_engine_spark.index.deletes import delete_docs
from search_engine_spark.index.persist import PackedIndex


def _query_terms(pristine) -> list[str]:
    """Three moderate-df body terms: rare enough that the idf clamp
    (max(0, ln((N-df+.5)/(df+.5)))) stays strictly positive, so a delete's
    live-N shift is observable in every score."""
    rows = (
        pristine.term_stats.where(
            (F.col("field") == "body") & (F.col("df").between(5, 30))
        )
        .orderBy(F.desc("df"), "term")
        .limit(3)
        .collect()
    )
    assert len(rows) == 3, "corpus fixture changed: no moderate-df terms"
    return [r["term"] for r in rows]


@pytest.fixture(scope="module")
def pristine_dir(code_index_dir):
    """The session's code index; read-only (tests delete in a copy)."""
    return code_index_dir


@pytest.fixture(scope="module")
def pristine(spark, pristine_dir):
    return PackedIndex(spark, pristine_dir)


@pytest.fixture()
def copy_dir(pristine_dir, tmp_path):
    out = str(tmp_path / "idx")
    shutil.copytree(pristine_dir, out)
    return out


def _docids(df) -> set:
    return {r["docid"] for r in df.select("docid").collect()}


def _common_term(pristine) -> str:
    """Highest-df body term: victims picked from ITS posting list so the
    masking is observable."""
    return pristine.term_stats.where(F.col("field") == "body").orderBy(
        F.desc("df"), "term"
    ).limit(1).collect()[0]["term"]


def test_delete_masks_scans_keeps_stats_stale(spark, pristine, copy_dir):
    term = _common_term(pristine)
    base_posts = pristine.term_postings(term, "body")
    victims = sorted(_docids(base_posts))[:3]
    assert len(victims) == 3, "corpus fixture changed: no df>=3 body term"

    delete_docs(spark, copy_dir, docids=victims)
    idx = PackedIndex(spark, copy_dir)

    # N is live (numDocs semantics)
    assert idx.corpus.n_docs == pristine.corpus.n_docs - 3
    assert idx.n_deleted == 3
    # dimension tables masked
    assert _docids(idx.doc_ids) == _docids(pristine.doc_ids) - set(victims)
    assert not (_docids(idx.doc_stats) & set(victims))
    # postings masked, df/ctf STALE (delete-unaware, like Lucene)
    rows = idx.term_postings(term, "body").collect()
    assert not ({r["docid"] for r in rows} & set(victims))
    stale = {(r["df"], r["ctf"]) for r in rows}
    want = {(r["df"], r["ctf"]) for r in base_posts.collect()}
    assert stale == want and len(stale) == 1
    # per-field sums stale too (only n_docs moves)
    assert idx.corpus.by_field == pristine.corpus.by_field
    # term dictionary untouched
    assert idx.term_stats.count() == pristine.term_stats.count()
    # forward-index decode masked (PRF/LeToR path)
    fwd = idx.doc_terms_for([victims[0], victims[0] + 1], "body")
    assert _docids(fwd) <= {victims[0] + 1}


def test_search_excludes_deleted_uses_live_n(spark, pristine, copy_dir, monkeypatch):
    terms = _query_terms(pristine)
    query = " ".join(terms)
    victims = sorted(_docids(pristine.term_postings(terms[0], "body")))[:2]
    delete_docs(spark, copy_dir, docids=victims)
    idx = PackedIndex(spark, copy_dir)

    monkeypatch.setenv("SPARK_GRAFT_NO_PRUNE", "1")
    exact = [tuple(r) for r in Engine(idx, ModelConfig(name=BM25)).search(query, 30).collect()]
    assert exact, "query matched nothing"
    got_ids = {r[1] for r in exact}
    assert not (got_ids & set(victims))

    # scores shift: idf now uses live N (smaller) -> every score strictly
    # differs from the pristine index's for the same doc
    pre = {
        r["docid"]: r["score"]
        for r in Engine(pristine, ModelConfig(name=BM25)).search(query, 30).collect()
    }
    overlap = [d for (_, d, _, _) in exact if d in pre]
    assert overlap
    assert all(dict((r[1], r[3]) for r in exact)[d] != pre[d] for d in overlap)

    # the driver-side answers stay bit-identical on a deleted index: the
    # driver evaluator (under the gate) and the block-max planner's driver
    # scoring drop the tombstoned postings on the driver, the planner's
    # Spark scan (gate forced to 0) by its anti-join
    from search_engine_spark.engine import pruning

    monkeypatch.setenv("SPARK_GRAFT_NO_PRUNE", "0")
    for gate, mode in ((pruning._POSTS_PER_TASK, "driver"), (0, "spark")):
        monkeypatch.setattr(pruning, "_POSTS_PER_TASK", gate)
        eng = Engine(idx, ModelConfig(name=BM25))
        got = [tuple(r) for r in eng.search(query, 30).collect()]
        assert eng.last_prune_stats is not None, "no driver-side route answered"
        assert eng.last_prune_stats.score_mode == mode
        assert got == exact
    monkeypatch.undo()
    st = pruning.PruneStats()
    pruned = pruning.bm25_topk_pruned(idx, terms, k=30, stats=st)
    assert st.score_mode == "driver"
    assert [tuple(r) for r in pruned.collect()] == exact


def test_delete_by_ext_docid_and_generations(spark, pristine, copy_dir):
    rows = pristine.doc_ids.orderBy("docid").limit(3).collect()
    e1 = delete_docs(spark, copy_dir, ext_docids=[rows[0]["ext_docid"]])
    assert (e1["generation"], e1["n_deleted_total"]) == (1, 1)
    # idempotent: re-deleting the same doc is a no-op on the total
    e2 = delete_docs(spark, copy_dir, docids=[rows[0]["docid"]])
    assert (e2["generation"], e2["n_deleted_total"]) == (2, 1)
    # mixed second generation accumulates
    e3 = delete_docs(
        spark, copy_dir,
        docids=[rows[1]["docid"]], ext_docids=[rows[2]["ext_docid"]],
    )
    assert (e3["generation"], e3["n_deleted_total"]) == (3, 3)
    idx = PackedIndex(spark, copy_dir)
    assert idx.n_deleted == 3
    assert idx.corpus.n_docs == pristine.corpus.n_docs - 3


def test_delete_validation(spark, pristine, copy_dir):
    with pytest.raises(ValueError, match="nothing to delete"):
        delete_docs(spark, copy_dir)
    with pytest.raises(ValueError, match="out of range"):
        delete_docs(spark, copy_dir, docids=[pristine.corpus.n_docs + 1])
    with pytest.raises(ValueError, match="unknown ext_docids"):
        delete_docs(spark, copy_dir, ext_docids=["no:such@doc"])
    # failed calls must not leave tombstones behind
    idx = PackedIndex(spark, copy_dir)
    assert idx.n_deleted == 0 and idx.tombstones is None


def test_reopen_without_deletes_is_noop(spark, pristine, copy_dir):
    idx = PackedIndex(spark, copy_dir)
    assert idx.n_deleted == 0
    assert idx.corpus.n_docs == pristine.corpus.n_docs
    assert idx.doc_ids.count() == pristine.doc_ids.count()


def test_delete_journal_rolls_forward(spark, pristine, copy_dir):
    """A delete commit that crashed inside the journaled window (worst case:
    old tombstone table rmtree'd, merged tmp not yet renamed) rolls FORWARD
    on the next open — tombstone table restored from tmp, manifest lineage
    re-applied from the journal. Without the journal, this window left
    n_deleted>0 with NO tombstone table: PackedIndex subtracted from live N
    while filtering nothing."""
    import json
    import os

    from search_engine_spark.index.deletes import (
        DELETE_INFLIGHT,
        tombstones_path,
    )

    ids = sorted(r["docid"] for r in pristine.doc_ids.select("docid").collect())
    v1, v2 = int(ids[1]), int(ids[5])
    delete_docs(spark, copy_dir, docids=[v1])  # generation 1 commits fully

    # hand-craft the generation-2 crash state exactly as delete_docs leaves
    # it between rmtree(tombstones) and os.replace(tmp, tombstones)
    t_dir = tombstones_path(copy_dir)
    tmp = t_dir + ".tmp"
    (
        spark.read.parquet(t_dir)
        .unionByName(spark.createDataFrame([(v2,)], "docid long"))
        .distinct()
        .coalesce(1)
        .write.parquet(tmp)
    )
    entry = {"generation": 2, "n_requested": 1, "n_deleted_total": 2, "ts": 0.0}
    with open(os.path.join(copy_dir, DELETE_INFLIGHT), "w") as f:
        json.dump({"n_deleted": 2, "entry": entry}, f)
    shutil.rmtree(t_dir)

    idx = PackedIndex(spark, copy_dir)  # recovery runs in __init__
    assert idx.n_deleted == 2
    assert _docids(idx.tombstones) == {v1, v2}
    assert idx.corpus.n_docs == pristine.corpus.n_docs - 2
    assert not os.path.exists(os.path.join(copy_dir, DELETE_INFLIGHT))
    with open(os.path.join(copy_dir, "manifest.json")) as f:
        lin = json.load(f)["lineage"]
    assert [e["generation"] for e in lin["deletes"]] == [1, 2]
    # recovery is idempotent: a second open changes nothing
    idx2 = PackedIndex(spark, copy_dir)
    assert idx2.n_deleted == 2 and _docids(idx2.tombstones) == {v1, v2}


def test_delete_journal_swap_done_mark_missing(spark, pristine, copy_dir):
    """Crash AFTER the tombstone swap but before the manifest write: tmp is
    gone (os.replace consumed it), the journal alone says the new table is
    live — recovery must re-apply the journaled lineage, not re-merge."""
    import json
    import os

    from search_engine_spark.index.deletes import (
        DELETE_INFLIGHT,
        tombstones_path,
    )

    ids = sorted(r["docid"] for r in pristine.doc_ids.select("docid").collect())
    v1, v2 = int(ids[2]), int(ids[7])
    delete_docs(spark, copy_dir, docids=[v1])
    t_dir = tombstones_path(copy_dir)
    # new table already swapped in (simulate by rewriting it), tmp absent
    tmp = t_dir + ".swap"
    (
        spark.read.parquet(t_dir)
        .unionByName(spark.createDataFrame([(v2,)], "docid long"))
        .distinct()
        .coalesce(1)
        .write.parquet(tmp)
    )
    shutil.rmtree(t_dir)
    os.replace(tmp, t_dir)
    entry = {"generation": 2, "n_requested": 1, "n_deleted_total": 2, "ts": 0.0}
    with open(os.path.join(copy_dir, DELETE_INFLIGHT), "w") as f:
        json.dump({"n_deleted": 2, "entry": entry}, f)

    idx = PackedIndex(spark, copy_dir)
    assert idx.n_deleted == 2 and _docids(idx.tombstones) == {v1, v2}
    assert not os.path.exists(os.path.join(copy_dir, DELETE_INFLIGHT))


def test_missing_tombstones_without_journal_refuses(spark, pristine, copy_dir):
    """n_deleted>0 with no tombstone table and no journal is unrecoverable
    corruption — opening must refuse loudly, never silently mis-count N."""
    from search_engine_spark.index.deletes import tombstones_path

    ids = sorted(r["docid"] for r in pristine.doc_ids.select("docid").collect())
    delete_docs(spark, copy_dir, docids=[int(ids[0])])
    shutil.rmtree(tombstones_path(copy_dir))
    with pytest.raises(RuntimeError, match="no tombstones table"):
        PackedIndex(spark, copy_dir)
