"""The scale-path top-k (threshold-candidate cut + pruned ext-id lookup,
engine/topk.py) must be bitwise-identical to the broadcast-dimension path —
rank, docid, ext id, AND score — including boundary-tie plateaus where the
ext-id tie-break decides membership of the final k."""

from __future__ import annotations

import pytest

from search_engine_spark.config import (
    BM25,
    INDRI,
    RANKED_BOOLEAN,
    UNRANKED_BOOLEAN,
    ModelConfig,
)
from search_engine_spark.engine import topk as topk_mod
from search_engine_spark.engine.runner import Engine
from search_engine_spark.tokenize import CODE_TOKENIZER

K = 50

QUERIES = [
    (BM25, "lock free queue"),
    (BM25, "#SUM(ring buffer slot)"),
    (BM25, "rare_alpha lock"),
    (RANKED_BOOLEAN, "#AND(lock queue)"),  # integer-ish scores: many ties
    (UNRANKED_BOOLEAN, "#AND(open file handle)"),  # all-1.0 plateau
    (INDRI, "#WAND(0.7 lock 0.2 free 0.1 queue)"),
]


@pytest.fixture(autouse=True)
def _exact_plan(exact_plan):
    # the scale path belongs to rank_topk, the exact plan's top-k; the
    # driver answers rank with topk.rank_local and never reach it
    with exact_plan():
        yield


def _engine(code_index, model_name):
    return Engine(
        code_index, ModelConfig(name=model_name), tokenizer=CODE_TOKENIZER
    )


def _run(code_index, model_name, query, k=K):
    return [
        (r["rank"], r["docid"], r["ext_docid"], r["score"])
        for r in _engine(code_index, model_name).search(query, k).collect()
    ]


@pytest.mark.parametrize(
    "model_name,query", QUERIES, ids=[f"{m}:{q}" for m, q in QUERIES]
)
def test_scale_path_identity(code_index, monkeypatch, model_name, query):
    want = _run(code_index, model_name, query)  # broadcast path (default gate)
    monkeypatch.setenv("SPARK_GRAFT_DOCIDS_BROADCAST_MAX", "0")
    got = _run(code_index, model_name, query)  # scale path forced
    assert got == want


def test_scale_path_empty_result(code_index, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DOCIDS_BROADCAST_MAX", "0")
    assert _run(code_index, BM25, "zz_absent_term_zz") == []


def test_scale_path_tie_plateau_fallback(code_index, monkeypatch):
    """k smaller than a same-score plateau, candidate cap forced tiny: the
    distributed-join fallback branch must still pick the asc-ext-id winners.
    The query is the corpus's highest-df body term, so the all-1.0 unranked
    plateau provably exceeds the candidate cap (max(10*k, 1) = 20)."""
    from pyspark.sql import functions as F

    row = (
        code_index.term_stats.where(F.col("field") == "body")
        .orderBy(F.desc("df"))
        .first()
    )
    assert row["df"] > 20, "fixture corpus lost its heavy term"
    query = row["term"]
    want = _run(code_index, UNRANKED_BOOLEAN, query, k=2)
    assert len(want) == 2
    monkeypatch.setenv("SPARK_GRAFT_DOCIDS_BROADCAST_MAX", "0")
    monkeypatch.setattr(topk_mod, "_TIE_FALLBACK", 1)
    got = _run(code_index, UNRANKED_BOOLEAN, query, k=2)
    assert got == want
