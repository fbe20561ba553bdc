"""Golden rank-identity tests — the north_rule contract: the Spark engine's
top-k (docids, ext ids, ranks, scores) must match the independent pure-Python
oracle rank-for-rank on the deterministic code corpus, for every model and
query shape the reference supports."""

import pytest

from search_engine_spark.config import (
    BM25,
    INDRI,
    RANKED_BOOLEAN,
    UNRANKED_BOOLEAN,
    ModelConfig,
)
from search_engine_spark.engine.runner import Engine
from search_engine_spark.tokenize import CODE_TOKENIZER

K = 50

# FIXTURES.md §2 query-set shapes, transposed to the corpus vocabulary
QUERIES = [
    (BM25, "lock free queue"),  # bare BOW
    (BM25, "parse_init token_next index_init"),
    (BM25, "#SUM(ring buffer slot)"),
    (BM25, "#SUM(lock lock queue)"),  # duplicate-term accumulation
    (BM25, "python.lang parse_init"),  # field-qualified
    (BM25, "rare_alpha lock"),  # df=1 idf edge
    (RANKED_BOOLEAN, "#AND(lock queue)"),
    (RANKED_BOOLEAN, "#OR(open handle #AND(free queue))"),
    (RANKED_BOOLEAN, "#AND(#NEAR/1(open file) buffer)"),
    (RANKED_BOOLEAN, "#NEAR/3(lock #NEAR/1(free queue))"),  # nested NEAR
    (RANKED_BOOLEAN, "#OR(#WINDOW/8(lock queue) #SYN(ring slot))"),
    (RANKED_BOOLEAN, "#AND(def queue)"),  # stopword arity change
    (UNRANKED_BOOLEAN, "#AND(open file handle)"),
    (INDRI, "lock free queue"),
    (INDRI, "#AND(ring slot)"),
    (INDRI, "#WAND(0.7 lock 0.2 free 0.1 queue)"),
    (INDRI, "#WAND(0.4 def 0.6 queue)"),  # stopword weight-popping
    (INDRI, "#WSUM(0.5 lock 0.3 queue 0.2 #NEAR/2(open file))"),
    (INDRI, "#AND(#SYN(ring slot) buffer)"),
]


@pytest.fixture(autouse=True)
def _exact_plan(exact_plan):
    # the oracle checks the Spark plan; the driver-side answers are
    # checked bitwise against it in test_pruning / test_driver_struct
    with exact_plan():
        yield


def _engine(code_index, model_name):
    return Engine(
        code_index, ModelConfig(name=model_name), tokenizer=CODE_TOKENIZER
    )


@pytest.mark.parametrize("model_name,query", QUERIES, ids=[f"{m}:{q}" for m, q in QUERIES])
def test_rank_identity(code_index, py_oracle, model_name, query):
    eng = _engine(code_index, model_name)
    got = [
        (r["rank"], r["docid"], r["ext_docid"], r["score"])
        for r in eng.search(query, K).collect()
    ]
    want = py_oracle.search(query, ModelConfig(name=model_name), K)
    assert len(got) == len(want), f"result sizes differ: {len(got)} vs {len(want)}"
    for g, w in zip(got, want):
        assert g[0] == w[0] and g[1] == w[1] and g[2] == w[2], (
            f"rank/doc mismatch at rank {w[0]}: spark={g} oracle={w}"
        )
        assert g[3] == pytest.approx(w[3], rel=1e-9, abs=1e-12), (
            f"score mismatch at rank {w[0]}: spark={g[3]!r} oracle={w[3]!r}"
        )


def test_empty_query_result(code_index, py_oracle):
    from search_engine_spark.corpus import ABSENT_TERM

    eng = _engine(code_index, BM25)
    assert eng.search(ABSENT_TERM, K).collect() == []
