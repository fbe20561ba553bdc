"""Operator unit tests on a hand-computed micro-corpus (SURVEY.md §5):
SYN position merge, NEAR consume-on-match, WINDOW min/max walk, Boolean
AND/OR, Indri defaults — each against values computed by hand from the
reference semantics."""

import math

import pytest
from pyspark.sql import functions as F

from search_engine_spark.config import (
    BM25,
    INDRI,
    RANKED_BOOLEAN,
    UNRANKED_BOOLEAN,
    IndriParams,
    ModelConfig,
)
from search_engine_spark.engine.compiler import compile_node
from search_engine_spark.engine.ops import EvalContext
from search_engine_spark.engine.runner import Engine
from search_engine_spark.index.persist import (
    BuildConfig,
    PackedIndex,
    build_persistent_index,
)
from search_engine_spark.tokenize import WHITESPACE_TOKENIZER

DOCS = [
    # docid, ext, text
    (1, "d1", "a b c a b"),
    (2, "d2", "b c d"),
    (3, "d3", "a a a"),
    (4, "d4", "c b a c"),
    (5, "d5", "x y z a"),
]


@pytest.fixture(scope="module")
def micro_index(spark, tmp_path_factory):
    df = spark.createDataFrame(
        [(d, e, t) for d, e, t in DOCS], "docid long, ext_docid string, text string"
    )
    out = str(tmp_path_factory.mktemp("micro_index") / "idx")
    cfg = BuildConfig(
        out_dir=out, fields={"body": "text"}, tokenizer=WHITESPACE_TOKENIZER,
        n_buckets=2,
    )
    build_persistent_index(spark, df, cfg, resume=False)
    return PackedIndex(spark, out)


@pytest.fixture(autouse=True)
def _exact_plan(exact_plan):
    # the hand-computed values check the Spark operators themselves
    with exact_plan():
        yield


def scores_map(eng, q):
    return {r["docid"]: r["score"] for r in eng.scores(q).collect()}


def il_map(eng, q):
    node = compile_node(eng.parse(q).children[0], eng.ctx)
    return {
        r["docid"]: (r["tf"], list(r["positions"]))
        for r in node.postings(eng.ctx).collect()
    }


def test_term_postings(micro_index):
    eng = Engine(micro_index, ModelConfig(name=RANKED_BOOLEAN))
    m = il_map(eng, "#SYN(a)")
    assert m == {1: (2, [0, 3]), 3: (3, [0, 1, 2]), 4: (1, [2]), 5: (1, [3])}


def test_syn_merges_positions(micro_index):
    eng = Engine(micro_index, ModelConfig(name=RANKED_BOOLEAN))
    m = il_map(eng, "#SYN(a b)")
    # doc1: a@0,3  b@1,4 -> tf 4, positions sorted
    assert m[1] == (4, [0, 1, 3, 4])
    assert m[2] == (1, [0])
    assert m[4] == (2, [1, 2])


def test_near_ordered_with_consume(micro_index):
    eng = Engine(micro_index, ModelConfig(name=RANKED_BOOLEAN))
    m = il_map(eng, "#NEAR/1(a b)")
    # doc1: a@0 b@1 match; a@3 b@4 match -> positions [0, 3]
    assert m[1] == (2, [0, 3])
    # doc4: a@2, b@1 only (b before a) -> no match
    assert 4 not in m
    assert 2 not in m and 3 not in m


def test_near_gap_too_large(micro_index):
    eng = Engine(micro_index, ModelConfig(name=RANKED_BOOLEAN))
    # doc5: x@0 ... a@3 -> #NEAR/2(x a) gap 3 > 2
    m = il_map(eng, "#NEAR/2(x a)")
    assert m == {}
    m2 = il_map(eng, "#NEAR/3(x a)")
    assert m2 == {5: (1, [0])}


def test_window_unordered(micro_index):
    eng = Engine(micro_index, ModelConfig(name=RANKED_BOOLEAN))
    # doc4: c@0,3 b@1 a@2 -> #WINDOW/3(a b) spans {2,1}: max-min+1 = 2 <= 3 ✓
    m = il_map(eng, "#WINDOW/3(a b)")
    assert m[4] == (1, [2])
    # doc1: a@0,3 b@1,4: windows (0,1) then (3,4) -> two matches at arg0 pos 0,3
    assert m[1] == (2, [0, 3])


def test_boolean_and_min(micro_index):
    eng = Engine(micro_index, ModelConfig(name=RANKED_BOOLEAN))
    m = scores_map(eng, "#AND(a b)")
    # docs with both a and b: 1 (tf 2,2 -> min 2), 4 (tf 1,1 -> 1)
    assert m == {1: 2.0, 4: 1.0}


def test_boolean_and_unranked(micro_index):
    eng = Engine(micro_index, ModelConfig(name=UNRANKED_BOOLEAN))
    m = scores_map(eng, "#AND(a b)")
    assert m == {1: 1.0, 4: 1.0}


def test_or_max(micro_index):
    eng = Engine(micro_index, ModelConfig(name=RANKED_BOOLEAN))
    m = scores_map(eng, "#OR(a d)")
    assert m == {1: 2.0, 2: 1.0, 3: 3.0, 4: 1.0, 5: 1.0}


def test_indri_and_defaults(micro_index):
    """Doc 5 contains a but not b: its b-child score must be the DEFAULT
    (tf=0) score, and the combine the geometric mean — hand-computed."""
    p = IndriParams(mu=10.0, lam=0.5)
    eng = Engine(micro_index, ModelConfig(name=INDRI, indri=p))
    m = scores_map(eng, "#AND(a b)")
    # corpus: doclens 5,3,3,4,4 -> C=19; ctf(a)=7, ctf(b)=4
    # doc5 (len 4): a: tf=1 -> f32((.5*(1+10*(7/19))/(4+10)) + .5*(7/19))
    import numpy as np

    mle_a, mle_b = 7 / 19, 4 / 19
    sa = float(np.float32(0.5 * ((1 + 10 * mle_a) / 14) + 0.5 * mle_a))
    sb = 0.5 * (10 * mle_b) / 14 + 0.5 * mle_b  # default: raw double
    expected = math.sqrt(sa * sb)
    assert m[5] == pytest.approx(expected, rel=1e-12)


def test_sum_requires_bm25(micro_index):
    eng = Engine(micro_index, ModelConfig(name=RANKED_BOOLEAN))
    with pytest.raises(ValueError):
        eng.scores("#SUM(a b)")


def test_and_invalid_for_bm25(micro_index):
    eng = Engine(micro_index, ModelConfig(name=BM25))
    with pytest.raises(ValueError):
        eng.scores("#AND(a b)")


def test_trec_output_with_dummy(micro_index):
    eng = Engine(micro_index, ModelConfig(name=BM25))
    lines = eng.run_trec([("7", "a b"), ("8", "nosuchterm")])
    assert any(line.startswith("7 Q0 ") for line in lines)
    assert "8 Q0 dummy 1 0.000000000000 run-1" in lines
