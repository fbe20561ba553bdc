"""Incremental append (index/append.py): appending a batch to a built index
must be query-equivalent to building over the union in one shot — postings,
stats, scores, pruned plans — and resumable from a crash after any step."""

import os

import pytest
from pyspark.sql import functions as F

from search_engine_spark.config import BM25, ModelConfig
from search_engine_spark.engine.runner import Engine
from search_engine_spark.index.append import append_to_index
from search_engine_spark.index.persist import (
    BuildConfig,
    PackedIndex,
    build_persistent_index,
)
from search_engine_spark.tokenize import CODE_TOKENIZER

FIELDS = {"body": "content", "path": "path", "lang": "lang"}
SPLIT = 80  # base = docids 1..80, delta = 81..120
QUERIES = ["lock free queue", "parse_init token_next", "ring buffer slot"]


def _cfg(out: str) -> BuildConfig:
    # small blocks + low salt threshold so appends cross block boundaries
    # and hit salted terms (mixed salt bases across generations)
    return BuildConfig(
        out_dir=out, fields=FIELDS, tokenizer=CODE_TOKENIZER,
        n_buckets=4, block_size=16,
        salt_threshold=60, n_salts=4,
    )


@pytest.fixture(scope="module")
def split_docs(code_docs):
    base = code_docs.where(F.col("docid") <= SPLIT).cache()
    delta = code_docs.where(F.col("docid") > SPLIT).cache()
    base.count(), delta.count()
    return base, delta


@pytest.fixture(scope="module")
def full_idx(spark, code_docs, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("idx_full"))
    build_persistent_index(spark, code_docs, _cfg(out), resume=False)
    return PackedIndex(spark, out)


def _assert_equivalent(spark, got: PackedIndex, want: PackedIndex):
    # corpus + term statistics identical
    assert got.corpus.n_docs == want.corpus.n_docs
    assert got.corpus.by_field == want.corpus.by_field
    assert sorted(map(tuple, got.term_stats.collect())) == sorted(
        map(tuple, want.term_stats.collect())
    )
    assert sorted(map(tuple, got.doc_ids.collect())) == sorted(
        map(tuple, want.doc_ids.collect())
    )
    assert sorted(map(tuple, got.doc_stats.collect())) == sorted(
        map(tuple, want.doc_stats.collect())
    )
    # postings row sets identical (block boundaries may differ; rows not)
    pairs = [("lock", "body"), ("queue", "body"), ("def", "body")]
    cols = ["term", "docid", "tf", "doclen", "df", "ctf"]
    a = sorted(map(tuple, got.postings_for(pairs).select(cols).collect()))
    b = sorted(map(tuple, want.postings_for(pairs).select(cols).collect()))
    assert a == b and a, "postings diverge (or query terms matched nothing)"
    # ranked retrieval bitwise
    eg = Engine(got, ModelConfig(name=BM25))
    ew = Engine(want, ModelConfig(name=BM25))
    for q in QUERIES:
        ra = [tuple(r) for r in eg.search(q, 30).collect()]
        rb = [tuple(r) for r in ew.search(q, 30).collect()]
        assert ra == rb and ra, f"search({q!r}) diverges"


def test_append_equals_full_build(spark, split_docs, full_idx, tmp_path):
    base, delta = split_docs
    out = str(tmp_path / "idx_appended")
    cfg = _cfg(out)
    build_persistent_index(spark, base, cfg, resume=False)
    entry = append_to_index(spark, delta, cfg)
    assert entry["n_docs"] == delta.count()
    _assert_equivalent(spark, PackedIndex(spark, out), full_idx)
    # lineage carries the append log + the combined fingerprint a one-shot
    # build over the union would record
    import json

    with open(os.path.join(out, "manifest.json")) as f:
        man = json.load(f)
    assert len(man["lineage"]["appends"]) == 1
    assert man["lineage"]["n_docs"] == full_idx.corpus.n_docs
    with open(os.path.join(full_idx.dir, "manifest.json")) as f:
        man_full = json.load(f)
    assert (
        man["lineage"]["input_fingerprint"]
        == man_full["lineage"]["input_fingerprint"]
    )


def test_chained_appends(spark, code_docs, split_docs, full_idx, tmp_path):
    base, delta = split_docs
    d1 = delta.where(F.col("docid") <= 100)
    d2 = delta.where(F.col("docid") > 100)
    out = str(tmp_path / "idx_chained")
    cfg = _cfg(out)
    build_persistent_index(spark, base, cfg, resume=False)
    append_to_index(spark, d1, cfg)
    append_to_index(spark, d2, cfg)
    _assert_equivalent(spark, PackedIndex(spark, out), full_idx)


@pytest.mark.parametrize(
    "step",
    [
        "delta", "graft_docs", "graft_packed", "graft_term_stats",
        # mid-step crash windows (ADVICE r03): partial doc-table move,
        # and each sub-state of the term_stats merge+swap — in particular
        # ts_swapped (swap done, stage mark missing), which must NOT
        # re-merge the delta's df/ctf into the already-merged table
        "moved_doc_ids", "ts_merged", "ts_renamed", "ts_swapped",
        # packed files moved, side manifest not yet committed: the resume
        # must keep the moved files, not drop them as orphans
        "moved_packed",
    ],
)
def test_append_resumes_after_crash(
    spark, split_docs, full_idx, tmp_path, step
):
    base, delta = split_docs
    out = str(tmp_path / f"idx_crash_{step}")
    cfg = _cfg(out)
    build_persistent_index(spark, base, cfg, resume=False)
    with pytest.raises(RuntimeError, match="injected"):
        append_to_index(spark, delta, cfg, fail_after_step=step)
    append_to_index(spark, delta, cfg)  # resume same generation
    _assert_equivalent(spark, PackedIndex(spark, out), full_idx)
    dups = (
        PackedIndex(spark, out).packed
        .groupBy("term", "field", "salt", "block_id")
        .count()
        .where(F.col("count") > 1)
        .count()
    )
    assert dups == 0


def _ungrouped_jobs(sc) -> set:
    return set(sc.statusTracker().getJobIdsForGroup())


def test_small_append_is_sized_to_its_delta(
    spark, split_docs, tmp_path, monkeypatch
):
    """A 40-doc append runs its delta merge as one Spark task, grafts its
    packed blocks with no Spark job (a file move: block ids are offset at
    merge time) and adds at most one packed file per merge task."""
    import search_engine_spark.index.persist as P

    base, delta = split_docs
    out = str(tmp_path / "idx_budget")
    cfg = _cfg(out)
    build_persistent_index(spark, base, cfg, resume=False)
    files_before = len(P._side_manifest(f"{out}/packed")["files"])
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    real_merge = P._bucketed_merge
    merge_tasks = []

    def traced_merge(*a, **kw):
        # the merge runs on the calling thread; the overlapped stats jobs
        # run on a pool thread and stay outside this job group
        sc.setLocalProperty("spark.jobGroup.id", "delta-merge")
        try:
            return real_merge(*a, **kw)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            for j in tracker.getJobIdsForGroup("delta-merge"):
                merge_tasks.append(
                    sum(
                        tracker.getStageInfo(s).numTasks
                        for s in tracker.getJobInfo(j).stageIds
                    )
                )

    monkeypatch.setattr(P, "_bucketed_merge", traced_merge)
    with pytest.raises(RuntimeError, match="injected"):
        append_to_index(spark, delta, cfg, fail_after_step="graft_docs")
    assert merge_tasks == [1]

    # resumed with the delta built and its docs grafted, a call that stops
    # after step 1 runs only the checks; one that stops after graft_packed
    # runs the same jobs and no more
    jobs = _ungrouped_jobs(sc)
    with pytest.raises(RuntimeError, match="injected"):
        append_to_index(
            spark, delta, cfg, check_ext_unique=False, fail_after_step="delta"
        )
    checks_jobs = _ungrouped_jobs(sc) - jobs
    jobs |= checks_jobs
    with pytest.raises(RuntimeError, match="injected"):
        append_to_index(
            spark, delta, cfg, check_ext_unique=False,
            fail_after_step="graft_packed",
        )
    through_graft_jobs = _ungrouped_jobs(sc) - jobs
    assert checks_jobs and len(through_graft_jobs) == len(checks_jobs)

    files_after = len(P._side_manifest(f"{out}/packed")["files"])
    assert 0 < files_after - files_before <= sum(merge_tasks)
    entry = append_to_index(spark, delta, cfg)
    assert entry["n_docs"] == delta.count()


def test_move_parts_resume_no_loss(tmp_path):
    """_move_parts resumed after a partial move must keep every row: target
    names derive from the SOURCE filename, so the surviving sources map to
    the same targets regardless of which files already moved (the
    enumeration-index scheme renumbered survivors from 0, collided with
    already-moved targets, and os.remove'd them unmoved — silent row loss)."""
    from search_engine_spark.index.append import _move_parts

    src = tmp_path / "src"
    dst = tmp_path / "dst"
    src.mkdir(), dst.mkdir()
    names = [f"part-0000{i}-uuid{i}.snappy.parquet" for i in range(4)]
    for n in names:
        (src / n).write_text(f"content-of-{n}")
    # simulate a crash that moved only the first two files
    for n in names[:2]:
        os.replace(src / n, dst / f"append1-{n}")
    moved = _move_parts(str(src), str(dst), "append1")
    assert sorted(moved) == sorted(f"append1-{n}" for n in names)
    for n in names:  # every file's content present exactly once
        assert (dst / f"append1-{n}").read_text() == f"content-of-{n}"
    assert not list(src.iterdir())


def test_append_contract_errors(spark, split_docs, tmp_path):
    base, delta = split_docs
    out = str(tmp_path / "idx_contract")
    cfg = _cfg(out)
    build_persistent_index(spark, base, cfg, resume=False)
    with pytest.raises(ValueError, match="dense"):
        append_to_index(spark, delta.where(F.col("docid") > SPLIT + 3), cfg)
    with pytest.raises(ValueError, match="ext_docid"):
        # correct docid range but ext ids already indexed
        relabeled = base.where(F.col("docid") <= 40).withColumn(
            "docid", F.col("docid") + F.lit(SPLIT)
        )
        append_to_index(spark, relabeled, cfg)
    with pytest.raises(ValueError, match="config mismatch"):
        from dataclasses import replace

        append_to_index(spark, delta, replace(cfg, n_salts=8))


def test_with_docids_base_offset(spark, code_docs):
    """with_docids(base=N) continues the full assignment: the delta keys
    (the globally-largest SPLIT..N keys) get exactly the docids the one-shot
    assignment gave them."""
    from search_engine_spark.corpus import with_docids

    raw_cols = ["repo", "path", "commit", "lang", "content"]
    delta_raw = code_docs.where(F.col("docid") > SPLIT).select(*raw_cols)
    again = with_docids(delta_raw, base=SPLIT)
    want = {
        r["ext_docid"]: r["docid"]
        for r in code_docs.where(F.col("docid") > SPLIT)
        .select("docid", "ext_docid")
        .collect()
    }
    got = {r["ext_docid"]: r["docid"] for r in again.select("docid", "ext_docid").collect()}
    assert got == want
