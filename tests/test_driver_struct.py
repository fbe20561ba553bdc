"""Structured queries (#NEAR/#WINDOW/#SYN children under BM25 #SUM and Indri
#AND/#WAND/#WSUM) answered on the driver (engine/structured.py) must be
bitwise the exact Spark plan's answers, match the pure-Python oracle, and
run no Spark job."""

import shutil
import threading

import pytest

from search_engine_spark.config import BM25, INDRI, ModelConfig
from search_engine_spark.engine import pruning as pruning_mod
from search_engine_spark.engine.runner import Engine
from search_engine_spark.index.persist import PackedIndex
from search_engine_spark.tokenize import CODE_TOKENIZER

K = 20

# python keywords: mid-df body terms, so BM25 idf is not clamped to 0
SHAPES = [
    (BM25, "#NEAR/1(except pass)"),
    (BM25, "#NEAR/2(try with)"),
    (BM25, "#NEAR/3(except self)"),
    (BM25, "#NEAR/3(with try lambda)"),  # 3 args
    (BM25, "#NEAR/2(with try lambda)"),
    (BM25, "#WINDOW/4(except pass)"),
    (BM25, "#WINDOW/8(try lambda)"),
    (BM25, "#SYN(except lambda rare_alpha)"),  # a df=1 term
    (BM25, "#SUM(lambda #NEAR/1(except pass))"),
    (BM25, "#SUM(self try #NEAR/2(try with))"),  # 3 children
    (BM25, "#SUM(#NEAR/2(#SYN(try except) pass) #WINDOW/8(lambda #SYN(with self)))"),
    (INDRI, "#WAND(0.3 self 0.7 #NEAR/1(except pass))"),
    (INDRI, "#AND(lock #NEAR/2(ring buffer))"),
    (INDRI, "#WSUM(0.6 try 0.4 #WINDOW/6(with try))"),
    (INDRI, "#AND(queue #SYN(ring buffer) #NEAR/2(ring buffer))"),
    (INDRI, "#NEAR/2(try with)"),  # bare positional query
    (INDRI, "#AND(lock #NEAR/1(free lock))"),  # a #NEAR matching nothing
]
EDGE = [
    (BM25, "#SUM(lambda #NEAR/1(zzz_not_in_vocab_zzz pass))"),  # absent leaf
    (INDRI, "#AND(queue #NEAR/2(zzz_not_in_vocab_zzz lock))"),
    (BM25, "#NEAR/1(zzz_not_in_vocab_zzz qqq_not_in_vocab_qqq)"),  # no leaf at all
]
NO_MATCH = "#AND(lock #NEAR/1(free lock))"


def _answer(index, model, text, k=K):
    eng = Engine(index, ModelConfig(name=model), tokenizer=CODE_TOKENIZER)
    return [tuple(r) for r in eng.search(text, k).collect()], eng.last_prune_stats


def _exact(index, model, text, monkeypatch, k=K):
    monkeypatch.setenv("SPARK_GRAFT_NO_PRUNE", "1")
    try:
        return _answer(index, model, text, k)[0]
    finally:
        monkeypatch.delenv("SPARK_GRAFT_NO_PRUNE")


def _assert_matches_oracle(got, want):
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert g[:3] == w[:3], f"rank/doc mismatch: engine={g} oracle={w}"
        assert g[3] == pytest.approx(w[3], rel=1e-9, abs=1e-12)


@pytest.mark.parametrize("model,text", SHAPES + EDGE, ids=[t for _, t in SHAPES + EDGE])
def test_driver_matches_exact_plan_and_oracle(
    spark, pidx, py_oracle, monkeypatch, model, text
):
    got, st = _answer(pidx, model, text)
    assert st is not None and st.score_mode == "driver", (text, st)
    assert got == _exact(pidx, model, text, monkeypatch)
    _assert_matches_oracle(got, py_oracle.search(text, ModelConfig(name=model), K))


def test_shapes_are_not_vacuous(pidx):
    """Every shape answers with distinct non-zero scores, but the no-match
    #NEAR: its ctf=0 default zeroes every Indri #AND score."""
    for model, text in SHAPES:
        rows, _ = _answer(pidx, model, text)
        scores = {r[3] for r in rows}
        if text == NO_MATCH:
            assert rows and scores == {0.0}
        else:
            assert len(scores) > 1 and 0.0 not in scores, text


def test_after_delete_docs(spark, pidx, monkeypatch, tmp_path):
    """Tombstoned postings are dropped from every leaf before the walk."""
    from search_engine_spark.index.deletes import delete_docs

    text = "#SUM(lambda #NEAR/1(except pass))"
    before, _ = _answer(pidx, BM25, text)
    copy = str(tmp_path / "deleted")
    shutil.copytree(pidx.dir, copy)
    victims = [r[1] for r in before[:3]]
    delete_docs(spark, copy, docids=victims)
    idx = PackedIndex(spark, copy)
    for model, q in ((BM25, text), (INDRI, "#WAND(0.3 self 0.7 #NEAR/1(except pass))")):
        got, st = _answer(idx, model, q)
        assert st.score_mode == "driver"
        assert got and not {r[1] for r in got} & set(victims)
        assert got == _exact(idx, model, q, monkeypatch)


def test_gate_patched_low_runs_exact_plan(spark, pidx, monkeypatch):
    monkeypatch.setattr(pruning_mod, "_POSTS_PER_TASK", 1)
    text = "#SUM(lambda #NEAR/1(except pass))"
    got, st = _answer(pidx, BM25, text)
    assert st.score_mode == "" and "exceed the driver gate" in st.fallback
    assert got == _exact(pidx, BM25, text, monkeypatch)


def test_structured_queries_run_no_spark_job(spark, pidx):
    sc = spark.sparkContext
    fresh = PackedIndex(spark, pidx.dir)  # cold driver caches
    try:
        for i, (model, text) in enumerate(SHAPES + EDGE):
            group = f"struct-zero-job-{i}"
            sc.setJobGroup(group, text)
            _, st = _answer(fresh, model, text)
            assert st.score_mode == "driver", text
            assert list(sc.statusTracker().getJobIdsForGroup(group)) == [], text
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_concurrent_structured_queries_match_serial(spark, pidx):
    """Eight threads share one cold PackedIndex; every answer equals the
    serial answer."""
    serial = {q: _answer(PackedIndex(spark, pidx.dir), *q)[0] for q in SHAPES}
    shared = PackedIndex(spark, pidx.dir)
    got: dict = {}
    errors: list = []

    def client(i):
        try:
            for j in range(len(SHAPES)):
                q = SHAPES[(i + j) % len(SHAPES)]
                got[(i, q)] = _answer(shared, *q)[0]
        except Exception as e:  # surfaced below, with its thread
            errors.append((i, e))

    threads = [threading.Thread(target=client, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    assert len(got) == 8 * len(SHAPES)
    for (i, q), rows in got.items():
        assert rows == serial[q], f"thread {i}: {q}"


def test_warm_structured_answer_crosses_to_the_jvm_once(
    spark, pidx, monkeypatch, jvm_crossings
):
    """A warm driver-answered query of every structured shape builds no
    Column, makes one createDataFrame call (the answer frame), collects
    nothing and sends no other Py4J command (no idf-log method lookup) while
    it answers; the answer is bitwise the exact plan's."""
    for model, text in SHAPES:
        exact = _exact(pidx, model, text, monkeypatch)
        _answer(pidx, model, text)  # warm: term stats, idf logs, ext-id type
        eng = Engine(pidx, ModelConfig(name=model), tokenizer=CODE_TOKENIZER)
        jvm_crossings.clear()
        res = eng.search(text, K)
        assert eng.last_prune_stats.score_mode == "driver", text
        assert dict(jvm_crossings) == {"createDataFrame": 1}, (text, jvm_crossings)
        assert [tuple(r) for r in res.collect()] == exact, text
