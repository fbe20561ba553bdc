"""Queries the driver evaluator answers (engine/structured.py) — flat and
structured (#NEAR/#WINDOW/#SYN children) BM25 #SUM, Indri #AND/#WAND/#WSUM
and Boolean #AND/#OR, duplicated terms, bare #SCORE, absent terms and leaves
in several fields included — must be bitwise the exact Spark plan's
answers, match the pure-Python oracle, run no Spark job and never reach the
block-max planner. Each case names its index: ``pidx`` (body only) or
``code_index`` (body, path and lang)."""

import shutil
import threading

import pytest

from search_engine_spark.config import (
    BM25, INDRI, RANKED_BOOLEAN, UNRANKED_BOOLEAN, ModelConfig,
)
from search_engine_spark.engine import pruning as pruning_mod
from search_engine_spark.engine.runner import Engine
from search_engine_spark.index.persist import PackedIndex
from search_engine_spark.tokenize import CODE_TOKENIZER

K = 20
P, C = "pidx", "code_index"

# python keywords: mid-df body terms, so BM25 idf is not clamped to 0
SHAPES = [
    (P, BM25, "#NEAR/1(except pass)"),
    (P, BM25, "#NEAR/2(try with)"),
    (P, BM25, "#NEAR/3(except self)"),
    (P, BM25, "#NEAR/3(with try lambda)"),  # 3 args
    (P, BM25, "#NEAR/2(with try lambda)"),
    (P, BM25, "#WINDOW/4(except pass)"),
    (P, BM25, "#WINDOW/8(try lambda)"),
    (P, BM25, "#SYN(except lambda rare_alpha)"),  # a df=1 term
    (P, BM25, "#SUM(lambda #NEAR/1(except pass))"),
    (P, BM25, "#SUM(self try #NEAR/2(try with))"),  # 3 children
    (P, BM25, "#SUM(#NEAR/2(#SYN(try except) pass) #WINDOW/8(lambda #SYN(with self)))"),
    (P, INDRI, "#WAND(0.3 self 0.7 #NEAR/1(except pass))"),
    (P, INDRI, "#AND(lock #NEAR/2(ring buffer))"),
    (P, INDRI, "#WSUM(0.6 try 0.4 #WINDOW/6(with try))"),
    (P, INDRI, "#AND(queue #SYN(ring buffer) #NEAR/2(ring buffer))"),
    (P, INDRI, "#NEAR/2(try with)"),  # bare positional query
    (P, INDRI, "#AND(lock #NEAR/1(free lock))"),  # a #NEAR matching nothing
    # flat shapes (the serve mix's Indri ones), duplicated terms, bare #SCORE
    (P, INDRI, "#AND(lock free queue)"),
    (P, INDRI, "#WAND(0.7 lock 0.3 queue)"),
    (P, INDRI, "#WSUM(0.6 ring 0.4 buffer)"),
    (P, INDRI, "token_next"),  # bare #SCORE
    (P, INDRI, "#AND(lock lock queue)"),
    (P, BM25, "except pass lambda"),
    (P, BM25, "lambda lambda pass"),
    (P, BM25, "try self try with try"),
    (P, BM25, "#SUM(try try #NEAR/2(try with))"),
    # ranked Boolean: flat, a #NEAR child, duplicated children, bare #SCORE
    (P, RANKED_BOOLEAN, "#OR(except pass lambda)"),
    (P, RANKED_BOOLEAN, "#AND(self try)"),
    (P, RANKED_BOOLEAN, "#OR(lambda #NEAR/2(try with))"),
    (P, RANKED_BOOLEAN, "#AND(self #WINDOW/8(try lambda))"),
    (P, RANKED_BOOLEAN, "#AND(self self try)"),
    (P, RANKED_BOOLEAN, "#OR(try try #SYN(except lambda))"),
    (P, RANKED_BOOLEAN, "self"),
    # several fields
    (C, BM25, "lambda java.path"),
    (C, BM25, "#SUM(except.body py.path #NEAR/2(try with))"),
    (C, INDRI, "#AND(lock.body python.lang)"),
    (C, INDRI, "#AND(python.lang #NEAR/3(lock queue))"),
    (C, RANKED_BOOLEAN, "#OR(lock.body python.lang)"),
]
EDGE = [
    (P, BM25, "#SUM(lambda #NEAR/1(zzz_not_in_vocab_zzz pass))"),  # absent leaf
    (P, INDRI, "#AND(queue #NEAR/2(zzz_not_in_vocab_zzz lock))"),
    (P, BM25, "#NEAR/1(zzz_not_in_vocab_zzz qqq_not_in_vocab_qqq)"),  # no leaf at all
    (P, INDRI, "zzz_not_in_vocab_zzz lock"),  # absent flat term: every score 0
    # idf-clamped terms (df > N/2): every BM25 score is 0
    (P, BM25, "lock free"),
    (P, BM25, "ring buffer slot"),
    (P, BM25, "lock free queue"),
    (P, BM25, "lock lock queue"),
    (P, BM25, "lock lock lock queue"),
    (P, BM25, "queue lock lock free lock"),
    (P, BM25, "#SUM(lock lock #NEAR/1(lock free))"),
    # unranked Boolean: every score 1.0, a tie plateau wider than k cut by
    # ext id
    (P, UNRANKED_BOOLEAN, "#OR(except pass lambda)"),
    (P, UNRANKED_BOOLEAN, "#AND(self try)"),
    (P, UNRANKED_BOOLEAN, "#OR(lambda #NEAR/2(try with))"),
    (P, UNRANKED_BOOLEAN, "#AND(self self try)"),
    (P, UNRANKED_BOOLEAN, "self"),
    (P, RANKED_BOOLEAN, "#AND(lock zzz_not_in_vocab_zzz)"),  # empty #AND
    # several fields: idf-clamped leaves, leaves absent from their field
    # (ctf 0 default), no default-field leaf, Boolean across fields
    (C, BM25, "lock.path queue"),
    (C, INDRI, "#WAND(0.7 queue.body 0.2 go.lang 0.1 parse.path)"),
    (C, INDRI, "#WSUM(0.6 lock.body 0.4 queue.lang)"),
    (C, INDRI, "#WSUM(0.9 src.path 0.1 go.lang)"),
    (C, UNRANKED_BOOLEAN, "#AND(lock.body python.lang)"),
    (C, RANKED_BOOLEAN, "#AND(lock.body python.lang)"),
    (C, UNRANKED_BOOLEAN, "#OR(queue.path python.lang)"),
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


def _needs_positions(text):
    return any(op in text for op in ("#NEAR", "#WINDOW", "#SYN"))


@pytest.mark.parametrize(
    "index,model,text", SHAPES + EDGE,
    ids=[t if m in (BM25, INDRI) else f"{m}:{t}" for _, m, t in SHAPES + EDGE],
)
def test_driver_matches_exact_plan_and_oracle(
    request, spark, py_oracle, monkeypatch, index, model, text
):
    """Under the gate the evaluator answers: the block-max planners are
    never called, and positions are read only for a positional child."""
    idx = request.getfixturevalue(index)

    def planner(*a, **kw):
        raise AssertionError(f"block-max planner called under the gate: {text}")

    read_cols = []
    real_read = idx.reads.packed_table

    def packed_table(files, columns, filter):
        read_cols.append(columns)
        return real_read(files, columns, filter)

    with monkeypatch.context() as m:
        m.setattr(pruning_mod, "bm25_topk_pruned", planner)
        m.setattr(pruning_mod, "indri_topk_pruned", planner)
        m.setattr(idx.reads, "packed_table", packed_table)
        got, st = _answer(idx, model, text)
    assert st is not None and st.score_mode == "driver", (text, st)
    if not _needs_positions(text):
        assert read_cols and not any("positions" in c for c in read_cols), read_cols
    assert got == _exact(idx, model, text, monkeypatch)
    _assert_matches_oracle(got, py_oracle.search(text, ModelConfig(name=model), K))


def test_shapes_are_not_vacuous(request):
    """Every shape answers with distinct non-zero scores, but the no-match
    #NEAR: its ctf=0 default zeroes every Indri #AND score."""
    for index, model, text in SHAPES:
        rows, _ = _answer(request.getfixturevalue(index), model, text)
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


def _fresh(request, spark):
    """Cold copies of both indexes (empty driver caches)."""
    return {i: PackedIndex(spark, request.getfixturevalue(i).dir) for i in (P, C)}


def test_structured_queries_run_no_spark_job(request, spark):
    sc = spark.sparkContext
    fresh = _fresh(request, spark)
    try:
        for i, (index, model, text) in enumerate(SHAPES + EDGE):
            group = f"struct-zero-job-{i}"
            sc.setJobGroup(group, text)
            _, st = _answer(fresh[index], model, text)
            assert st.score_mode == "driver", text
            assert list(sc.statusTracker().getJobIdsForGroup(group)) == [], text
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_concurrent_structured_queries_match_serial(request, spark):
    """Eight threads share one cold PackedIndex per index; every answer
    equals the serial answer."""
    serial = {
        q: _answer(PackedIndex(spark, request.getfixturevalue(q[0]).dir), *q[1:])[0]
        for q in SHAPES
    }
    shared = _fresh(request, spark)
    got: dict = {}
    errors: list = []

    def client(i):
        try:
            for j in range(len(SHAPES)):
                q = SHAPES[(i + j) % len(SHAPES)]
                got[(i, q)] = _answer(shared[q[0]], *q[1:])[0]
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
    request, spark, monkeypatch, jvm_crossings
):
    """A warm driver-answered query of every structured shape builds no
    Column, makes one createDataFrame call (the answer frame), collects
    nothing and sends no other Py4J command (no idf-log method lookup) while
    it answers; the answer is bitwise the exact plan's."""
    for index, model, text in SHAPES:
        idx = request.getfixturevalue(index)
        exact = _exact(idx, model, text, monkeypatch)
        _answer(idx, model, text)  # warm: term stats, idf logs, ext-id type
        eng = Engine(idx, ModelConfig(name=model), tokenizer=CODE_TOKENIZER)
        jvm_crossings.clear()
        res = eng.search(text, K)
        assert eng.last_prune_stats.score_mode == "driver", text
        assert dict(jvm_crossings) == {"createDataFrame": 1}, (text, jvm_crossings)
        assert [tuple(r) for r in res.collect()] == exact, text
