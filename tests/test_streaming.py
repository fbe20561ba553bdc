"""Structured-Streaming ingest (streaming/ingest.py): micro-batches become
a build and then appends, and produce the same QUERY-VISIBLE index as the
one-shot batch build (term/doc/corpus stats and ranked output keyed by
external id — internal docids may differ by arrival order); documents are
queryable after every batch; the file-source checkpoint makes re-runs
incremental (second drain ingests only files that arrived after the
first); a replay of a committed batch is a no-op and a replay of an
uncommitted one resumes its generation.

The reference is strictly batch (SURVEY.md §2.12) — this surface is the
Spark-native extension for a corpus that keeps arriving.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from search_engine_spark.config import BM25, INDRI, ModelConfig
from search_engine_spark.corpus import code_corpus_df, with_docids
from search_engine_spark.engine.runner import Engine
from search_engine_spark.index.persist import (
    BuildConfig,
    Manifest,
    PackedIndex,
    build_persistent_index,
)
import search_engine_spark.streaming.ingest as ingest_mod
from search_engine_spark.streaming.ingest import ingest_batch, stream_ingest
from search_engine_spark.tokenize import CODE_TOKENIZER

N_FILES, SEED = 90, 7


def _cfg(out: str) -> BuildConfig:
    return BuildConfig(
        out_dir=out, n_buckets=4, block_size=16, salt_threshold=40,
        n_salts=4, fields={"body": "content"}, tokenizer=CODE_TOKENIZER,
    )


def _doclens_by_ext(idx: PackedIndex):
    return {
        (r["ext_docid"], r["field"]): r["doclen"]
        for r in idx.doc_stats.join(idx.doc_ids, "docid")
        .select("ext_docid", "field", "doclen")
        .collect()
    }


def _term_stats(idx: PackedIndex):
    return {
        (r["term"], r["field"]): (r["df"], r["ctf"])
        for r in idx.term_stats.collect()
    }


def _ranked(idx: PackedIndex, model: str, q: str):
    eng = Engine(idx, ModelConfig(name=model), tokenizer=CODE_TOKENIZER)
    return [(r["rank"], r["ext_docid"], r["score"]) for r in eng.search(q, 30).collect()]


RANKING_QUERIES = [
    (BM25, "lock free queue"),
    (BM25, "#SUM(ring buffer slot)"),
    (INDRI, "#WAND(0.7 lock 0.2 free 0.1 queue)"),
]


def _assert_equals_batch_build(spark, sdir: str, docs, bdir: str) -> None:
    """The streamed index at ``sdir`` equals a batch build of ``docs`` on
    stats and on ranking by external id."""
    build_persistent_index(spark, with_docids(docs), _cfg(bdir))
    sidx, bidx = PackedIndex(spark, sdir), PackedIndex(spark, bdir)
    assert sidx.corpus.n_docs == bidx.corpus.n_docs
    assert sidx.corpus.by_field == bidx.corpus.by_field
    assert _term_stats(sidx) == _term_stats(bidx)
    assert _doclens_by_ext(sidx) == _doclens_by_ext(bidx)
    for model, q in RANKING_QUERIES:
        assert _ranked(sidx, model, q) == _ranked(bidx, model, q), (model, q)


def _stream_state(out: str) -> tuple:
    data = Manifest(os.path.join(out, "manifest.json")).data
    return data["stream"], data["lineage"]


@pytest.fixture(scope="module")
def streamed_vs_batch(spark, tmp_path_factory):
    """Stream the corpus in two arrival waves (checkpointed drains) and
    batch-build the same corpus; return both PackedIndexes + the config."""
    root = tmp_path_factory.mktemp("stream")
    arrivals = str(root / "arrivals")
    docs = code_corpus_df(spark, N_FILES, SEED).cache()
    wave1 = docs.where(F.crc32(F.col("path")) % 3 != 0)
    wave2 = docs.where(F.crc32(F.col("path")) % 3 == 0)
    assert wave1.count() > 0 and wave2.count() > 0

    cfg = _cfg(str(root / "sidx"))
    # wave 1 lands, stream drains it (1 file per micro-batch -> several
    # batches exercising the docid-base chaining)
    wave1.repartition(3).write.mode("append").parquet(arrivals)
    stream_ingest(spark, arrivals, cfg, max_files_per_trigger=1)
    # wave 2 arrives later; a fresh drain picks up ONLY the new files
    wave2.repartition(2).write.mode("append").parquet(arrivals)
    stream_ingest(spark, arrivals, cfg, max_files_per_trigger=1)

    stream, lineage = _stream_state(cfg.out_dir)
    # one generation per micro-batch: the build, then one append each
    assert sorted(b["generation"] for b in stream["batches"].values()) == list(
        range(len(stream["batches"]))
    )
    assert len(lineage["appends"]) == len(stream["batches"]) - 1 >= 4
    # a third drain with no new arrivals must ingest nothing
    stream_ingest(spark, arrivals, cfg)
    assert _stream_state(cfg.out_dir) == (stream, lineage)
    assert lineage["n_docs"] == docs.count()

    bcfg = _cfg(str(root / "bidx"))
    build_persistent_index(spark, with_docids(docs), bcfg)

    return PackedIndex(spark, cfg.out_dir), PackedIndex(spark, bcfg.out_dir), cfg


def test_stream_equals_batch_stats(streamed_vs_batch):
    sidx, bidx, _ = streamed_vs_batch
    assert sidx.corpus.n_docs == bidx.corpus.n_docs
    assert sidx.corpus.by_field == bidx.corpus.by_field
    assert _term_stats(sidx) == _term_stats(bidx)
    assert _doclens_by_ext(sidx) == _doclens_by_ext(bidx)


def test_stream_equals_batch_ranking(streamed_vs_batch):
    sidx, bidx, _ = streamed_vs_batch
    for model, q in RANKING_QUERIES:
        assert _ranked(sidx, model, q) == _ranked(bidx, model, q), (model, q)


def test_stream_config_drift_refused(spark, tmp_path_factory):
    """A batch with a different BuildConfig against the same out_dir must be
    refused (its segments would be incompatibly bucketed/tokenized); the
    recorded config still ingests the replayed batch."""
    root = tmp_path_factory.mktemp("drift")
    docs = code_corpus_df(spark, 20, 5).cache()
    b0 = docs.where(F.crc32(F.col("path")) % 2 == 0)
    b1 = docs.where(F.crc32(F.col("path")) % 2 != 0)
    cfg = _cfg(str(root / "idx"))
    ingest_batch(b0, 0, cfg)
    bad = BuildConfig(**{**cfg.__dict__, "n_buckets": cfg.n_buckets * 2})
    with pytest.raises(ValueError, match="config mismatch"):
        ingest_batch(b1, 1, bad)
    ingest_batch(b1, 1, cfg)
    _, lineage = _stream_state(cfg.out_dir)
    assert lineage["n_docs"] == docs.count()


def test_documents_queryable_after_each_batch(spark, tmp_path_factory, exact_plan):
    """Every micro-batch commits: after each one, a query over the index
    ranks exactly the documents ingested so far, as the pure-Python oracle
    does over those documents — on the driver evaluator's route and on the
    exact plan alike."""
    from tests.oracle import PyOracle

    root = tmp_path_factory.mktemp("queryable")
    docs = code_corpus_df(spark, 60, 9).cache()
    cfg = _cfg(str(root / "sidx"))
    seen = None
    for i in range(3):
        batch = docs.where(F.crc32(F.col("path")) % 3 == i)
        ingest_batch(batch, i, cfg)
        seen = batch if seen is None else seen.unionByName(batch)
        rows = [
            (r["docid"], r["ext_docid"], r["content"])
            for r in with_docids(seen).select("docid", "ext_docid", "content").collect()
        ]
        oracle = PyOracle(rows, CODE_TOKENIZER, fields={"body": 2})
        idx = PackedIndex(spark, cfg.out_dir)
        assert idx.corpus.n_docs == len(rows)
        for model, q in RANKING_QUERIES:
            want = oracle.search(q, ModelConfig(name=model), 30)
            with exact_plan():
                exact = _ranked(idx, model, q)
            for got in (_ranked(idx, model, q), exact):
                assert [g[:2] for g in got] == [(w[0], w[2]) for w in want], (i, q)
                for g, w in zip(got, want):
                    assert g[2] == pytest.approx(w[3], rel=1e-9, abs=1e-12)


def test_batch_replay_is_idempotent(spark, tmp_path_factory):
    """Replaying a committed micro-batch (crash between the append commit
    and the checkpoint commit) is a no-op: no new generation, the same
    manifest, and the index equals the batch build's query surface."""
    root = tmp_path_factory.mktemp("replay")
    docs = code_corpus_df(spark, 40, 3).cache()
    b0 = docs.where(F.crc32(F.col("path")) % 2 == 0)
    b1 = docs.where(F.crc32(F.col("path")) % 2 != 0)

    cfg = _cfg(str(root / "sidx"))
    ingest_batch(b0, 0, cfg)
    ingest_batch(b1, 1, cfg)
    once = _stream_state(cfg.out_dir)
    ingest_batch(b1, 1, cfg)  # replay the last batch
    ingest_batch(b0, 0, cfg)  # and the first
    assert _stream_state(cfg.out_dir) == once
    assert len(once[1]["appends"]) == 1
    _assert_equals_batch_build(spark, cfg.out_dir, docs, str(root / "bidx"))


@pytest.mark.parametrize("window", ["recorded", "graft_packed"])
def test_uncommitted_batch_resumes_on_replay(
    spark, tmp_path_factory, monkeypatch, window
):
    """A crash after a batch's generation is recorded but before its append
    commits — before any append step, or after the packed graft — leaves
    the batch open: a different batch is refused, the replay resumes the
    recorded generation, and the index equals the batch build."""
    root = tmp_path_factory.mktemp(f"crash_{window}")
    docs = code_corpus_df(spark, 40, 4).cache()
    b0 = docs.where(F.crc32(F.col("path")) % 2 == 0)
    b1 = docs.where(F.crc32(F.col("path")) % 2 != 0)
    cfg = _cfg(str(root / "sidx"))
    ingest_batch(b0, 0, cfg)

    real = ingest_mod.append_to_index

    def crashing(spark_, docs_, cfg_):
        if window == "recorded":
            raise RuntimeError("injected failure before the append")
        return real(spark_, docs_, cfg_, fail_after_step=window)

    monkeypatch.setattr(ingest_mod, "append_to_index", crashing)
    with pytest.raises(RuntimeError, match="injected failure"):
        ingest_batch(b1, 1, cfg)
    monkeypatch.undo()
    stream, lineage = _stream_state(cfg.out_dir)
    assert stream["batches"]["1"] == {"generation": 1, "base": b0.count()}
    assert "appends" not in lineage
    with pytest.raises(RuntimeError, match="batch 1 .* has not committed"):
        ingest_batch(code_corpus_df(spark, 5, 12), 2, cfg)

    ingest_batch(b1, 1, cfg)
    _, lineage = _stream_state(cfg.out_dir)
    assert [a["generation"] for a in lineage["appends"]] == [1]
    _assert_equals_batch_build(spark, cfg.out_dir, docs, str(root / "bidx"))
