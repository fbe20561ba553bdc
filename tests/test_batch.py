"""Batched multi-query execution (engine/batch.py): a query file answered
by the driver route plus one batch plan must be bitwise-identical, query by
query, to per-query ``Engine.search`` — same scores (float32-cast per-term,
double sum), same desc-score/asc-ext-id tie-break, same top-k cut.

Tests named after a batch plan close the driver gate
(``pruning._POSTS_PER_TASK = 0``) so every query with postings runs the
plan they name."""

import pytest

from search_engine_spark.config import BM25, INDRI, ModelConfig
from search_engine_spark.engine import batch, pruning
from search_engine_spark.engine.batch import batch_topk
from search_engine_spark.engine.runner import Engine
from search_engine_spark.tokenize import CODE_TOKENIZER

K = 25

BATCH = [
    ("q1", "lock free queue"),
    ("q2", "parse_init token_next index_init"),
    ("q3", "ring buffer slot"),
    ("q4", "lock lock queue"),        # duplicate-term multiplicity
    ("q5", "rare_alpha lock"),        # df=1 idf edge
    ("q6", "zzz_not_in_vocab_zzz"),   # no match -> no rows for this qid
]


def _eng(code_index):
    return Engine(code_index, ModelConfig(name=BM25), tokenizer=CODE_TOKENIZER)


def _by_qid(df):
    out = {}
    for r in df.collect():
        out.setdefault(r["qid"], []).append(
            (r["rank"], r["docid"], r["ext_docid"], r["score"])
        )
    for rows in out.values():
        rows.sort()
    return out


@pytest.fixture
def no_driver(monkeypatch):
    """Close the driver gate: only queries without postings stay local."""
    monkeypatch.setattr(pruning, "_POSTS_PER_TASK", 0)


def test_batch_matches_per_query(code_index, no_driver):
    eng = _eng(code_index)
    got = _by_qid(batch_topk(eng, BATCH, K))
    assert "q6" not in got  # no-match query contributes no rows
    for qid, text in BATCH:
        want = [
            (r["rank"], r["docid"], r["ext_docid"], r["score"])
            for r in eng.search(text, K).collect()
        ]
        assert got.get(qid, []) == want, f"{qid} diverges from Engine.search"


def test_batch_scale_path_identity(code_index, monkeypatch, no_driver):
    """Force the past-the-gate ext-id resolution (IN-list pushdown branch)
    and assert the result is unchanged."""
    monkeypatch.setenv("SPARK_GRAFT_DOCIDS_BROADCAST_MAX", "1")
    eng = _eng(code_index)
    got = _by_qid(batch_topk(eng, BATCH[:3], K))
    monkeypatch.delenv("SPARK_GRAFT_DOCIDS_BROADCAST_MAX")
    want = _by_qid(batch_topk(_eng(code_index), BATCH[:3], K))
    assert got == want


def test_batch_salt_invariance(code_index, monkeypatch, no_driver):
    """The salted partial cut is an implementation detail: any fan-out gives
    the same result (boundary ties survive stage 1 via rank())."""
    eng = _eng(code_index)
    monkeypatch.setattr(batch, "_SALT_BUCKETS", 1)
    a = _by_qid(batch_topk(eng, BATCH[:4], K))
    monkeypatch.setattr(batch, "_SALT_BUCKETS", 64)
    b = _by_qid(batch_topk(eng, BATCH[:4], K))
    assert a == b


def test_batch_rejects_structured(code_index):
    eng = _eng(code_index)
    # #AND under BM25 is undefined in the reference (QryopSlAnd.evaluate)
    with pytest.raises(ValueError, match="not defined for BM25"):
        batch_topk(eng, [("q1", "#AND(lock queue)")], K)
    ind = _ind(code_index)
    # nested Sl inside a weighted combine stays out of the batch path
    with pytest.raises(ValueError, match="nested Sl"):
        batch_topk(ind, [("q1", "#WSUM(0.5 lock 0.5 #AND(ring buffer))")], K)
    # composite inside a positional child stays out too
    with pytest.raises(ValueError, match="nested composite"):
        batch_topk(ind, [("q1", "#NEAR/2(lock #SYN(ring buffer))")], K)


# -- Indri batch --------------------------------------------------------------

INDRI_BATCH = [
    ("i1", "lock free queue"),                      # implicit #AND geo-mean
    ("i2", "#WAND(0.7 lock 0.2 queue 0.1 slot)"),   # weighted geo-mean
    ("i3", "#WSUM(0.5 ring 0.3 buffer 0.2 slot)"),  # weighted mean
    ("i4", "lock lock queue"),                      # duplicate-term children
    ("i5", "token_next"),                           # single term: pow(s, 1/1)
    ("i6", "zzz_not_in_vocab_zzz lock"),            # absent term -> ctf 0
    ("i7", "zzz_not_in_vocab_zzz"),                 # no match -> no rows
]


def _ind(code_index):
    return Engine(code_index, ModelConfig(name=INDRI), tokenizer=CODE_TOKENIZER)


def test_indri_batch_matches_per_query(code_index, no_driver):
    eng = _ind(code_index)
    got = _by_qid(batch_topk(eng, INDRI_BATCH, K))
    assert "i7" not in got
    for qid, text in INDRI_BATCH:
        want = [
            (r["rank"], r["docid"], r["ext_docid"], r["score"])
            for r in eng.search(text, K).collect()
        ]
        assert got.get(qid, []) == want, f"{qid} diverges from Engine.search"


def test_indri_batch_salt_invariance(code_index, monkeypatch, no_driver):
    eng = _ind(code_index)
    monkeypatch.setattr(batch, "_SALT_BUCKETS", 1)
    a = _by_qid(batch_topk(eng, INDRI_BATCH[:4], K))
    monkeypatch.setattr(batch, "_SALT_BUCKETS", 64)
    b = _by_qid(batch_topk(eng, INDRI_BATCH[:4], K))
    assert a == b


INDRI_MF_BATCH = [
    ("m1", "#WSUM(0.5 lock.body 0.3 python.lang 0.2 src.path)"),
    ("m2", "#WAND(0.7 queue.body 0.2 go.lang 0.1 parse.path)"),
    ("m3", "#AND(lock.body python.lang)"),
    # absent-in-field leaf: 'queue' never appears in lang, ctf=0 default
    ("m4", "#WSUM(0.6 lock.body 0.4 queue.lang)"),
    ("m5", "lock.path queue"),             # off-default field + default field
    ("m6", "lock free queue"),             # single-field query in an mf batch
    ("m7", "#WSUM(0.9 src.path 0.1 go.lang)"),  # no default-field leaf at all
]


def test_indri_batch_mixed_fields_matches_per_query(code_index, no_driver):
    """Mixed-field batches (hw3's multi-field #WSUM headline shape) run
    through the batched one-scan plan and stay bitwise-identical to
    per-query Engine.search — including absent-in-field ctf=0 defaults and
    docs with no tokens in a child's field (doclen->0 quirk)."""
    eng = _ind(code_index)
    got = _by_qid(batch_topk(eng, INDRI_MF_BATCH, K))
    for qid, text in INDRI_MF_BATCH:
        want = [
            (r["rank"], r["docid"], r["ext_docid"], r["score"])
            for r in eng.search(text, K).collect()
        ]
        assert got.get(qid, []) == want, f"{qid} diverges from Engine.search"


# -- SDM (structured) batch ---------------------------------------------------

SDM_BATCH = [
    # the reference hw3 SDM headline shape: term + #NEAR/1 + #WINDOW/8
    ("s1", "#AND(lock #NEAR/1(lock free) #WINDOW/8(lock free))"),
    ("s2", "#AND(ring buffer #NEAR/2(ring buffer))"),
    ("s3", "#WAND(0.5 queue 0.3 #NEAR/2(lock queue) 0.2 #WINDOW/4(lock queue))"),
    ("s4", "#WSUM(0.6 slot 0.4 #WINDOW/6(ring slot))"),
    ("s5", "#NEAR/2(fast sort)"),                 # bare positional query
    ("s6", "#AND(lock #NEAR/2(zzz_not_in_vocab_zzz lock))"),  # empty child -> ctf 0
    ("s7", "lock free queue"),                    # flat query in an SDM batch
    ("s8", "#AND(python.lang #NEAR/3(lock queue))"),  # mixed-field SDM
    ("s9", "#AND(lock #SYN(ring buffer) #NEAR/2(ring buffer))"),  # syn child
    ("s10", "#WSUM(0.7 queue 0.3 #SYN(lock free))"),
]


def test_sdm_batch_matches_per_query(code_index, no_driver):
    """Structured (SDM-shaped) batches — positional children walked once
    for the whole set — stay bitwise-identical to per-query Engine.search,
    including empty positional children (ctf=0 default) and mixed fields."""
    eng = _ind(code_index)
    got = _by_qid(batch_topk(eng, SDM_BATCH, K))
    for qid, text in SDM_BATCH:
        want = [
            (r["rank"], r["docid"], r["ext_docid"], r["score"])
            for r in eng.search(text, K).collect()
        ]
        assert got.get(qid, []) == want, f"{qid} diverges from Engine.search"


SDM_BM25_BATCH = [
    ("p1", "#SUM(lock #NEAR/1(lock free) #WINDOW/8(lock free))"),
    ("p2", "lock free #NEAR/2(ring buffer)"),    # model-default #SUM wrap
    ("p3", "#SUM(queue #WINDOW/4(lock queue))"),
    ("p4", "#NEAR/2(fast sort)"),                # bare positional query
    ("p5", "#SUM(lock #NEAR/2(zzz_not_in_vocab_zzz lock))"),  # empty child
    ("p6", "lock free queue"),                   # flat query in an SDM batch
    ("p7", "#SUM(queue #SYN(ring buffer))"),     # syn child (df from union)
]


def test_sdm_bm25_batch_matches_per_query(code_index, no_driver):
    """Structured BM25 #SUM batches (the hw2 structured-BM25 shape) stay
    bitwise-identical to per-query Engine.search — positional children
    score the walked lists with df from the composite stats contract."""
    eng = _eng(code_index)
    got = _by_qid(batch_topk(eng, SDM_BM25_BATCH, K))
    for qid, text in SDM_BM25_BATCH:
        want = [
            (r["rank"], r["docid"], r["ext_docid"], r["score"])
            for r in eng.search(text, K).collect()
        ]
        assert got.get(qid, []) == want, f"{qid} diverges from Engine.search"


def test_sdm_batch_matches_oracle(code_index, py_oracle, no_driver):
    """The batched SDM kernel's numpy wavefront walks give the pure-Python
    oracle's answers (its own scalar #NEAR/#WINDOW walks): ranks, docids
    and ext ids exact, scores to 1e-9."""
    got = _by_qid(batch_topk(_ind(code_index), SDM_BATCH, K))
    for qid, text in SDM_BATCH:
        want = py_oracle.search(text, ModelConfig(name=INDRI), K)
        rows = got.get(qid, [])
        assert [r[:3] for r in rows] == [w[:3] for w in want], qid
        for r, w in zip(rows, want):
            assert r[3] == pytest.approx(w[3], rel=1e-9, abs=1e-12), qid


# -- Boolean batch ------------------------------------------------------------

from search_engine_spark.config import RANKED_BOOLEAN, UNRANKED_BOOLEAN  # noqa: E402

BOOL_BATCH = [
    ("r1", "lock free queue"),                   # implicit #OR wrap
    ("r2", "#AND(lock queue)"),
    ("r3", "#OR(ring buffer slot)"),
    ("r4", "#AND(lock lock queue)"),             # duplicate children
    ("r5", "#AND(lock zzz_not_in_vocab_zzz)"),   # absent term -> empty AND
    ("r6", "token_next"),                        # single child
]


@pytest.mark.parametrize("model", [RANKED_BOOLEAN, UNRANKED_BOOLEAN])
def test_bool_batch_matches_per_query(code_index, model):
    eng = Engine(code_index, ModelConfig(name=model), tokenizer=CODE_TOKENIZER)
    got = _by_qid(batch_topk(eng, BOOL_BATCH, K))
    assert "r5" not in got  # AND with an absent term intersects to empty
    for qid, text in BOOL_BATCH:
        want = [
            (r["rank"], r["docid"], r["ext_docid"], r["score"])
            for r in eng.search(text, K).collect()
        ]
        assert got.get(qid, []) == want, f"{model}:{qid} diverges"


def test_bool_batch_rejects_structured(code_index):
    eng = Engine(
        code_index, ModelConfig(name=RANKED_BOOLEAN), tokenizer=CODE_TOKENIZER
    )
    with pytest.raises(ValueError, match="structured child"):
        batch_topk(eng, [("q1", "#OR(lock #NEAR/2(ring buffer))")], K)


def test_split_batchable(code_index):
    from search_engine_spark.engine.batch import split_batchable

    mixed = [
        ("q1", "lock free queue"),
        ("q2", "#NEAR/2(ring buffer)"),
        ("q3", "#AND(lock queue)"),
    ]
    bm = _eng(code_index)
    good, rest = split_batchable(bm, mixed)
    # flat + SDM-shaped batch under BM25 (round 5); Boolean #AND stays out
    assert [q for q, _ in good] == ["q1", "q2"]
    assert [q for q, _ in rest] == ["q3"]

    ind = _ind(code_index)
    good, rest = split_batchable(
        ind, mixed + [("q4", "lock.path queue"),
                      ("q5", "#WSUM(0.5 lock 0.5 #AND(ring buffer))")]
    )
    # flat #AND, bare positional, and mixed-field all batch under Indri
    # (round 5: the SDM spec is a superset); nested Sl stays per-query
    assert [q for q, _ in good] == ["q1", "q2", "q3", "q4"]
    assert [q for q, _ in rest] == ["q5"]

    rb = Engine(
        code_index, ModelConfig(name=RANKED_BOOLEAN), tokenizer=CODE_TOKENIZER
    )
    good, rest = split_batchable(rb, mixed)
    assert [q for q, _ in good] == ["q1", "q3"]
    assert [q for q, _ in rest] == ["q2"]


# -- the driver route ---------------------------------------------------------


def _plan_spy(monkeypatch, name):
    """Record the qids ``batch_topk`` hands the named batch plan."""
    seen, real = [], getattr(batch, name)

    def spy(eng, specs):
        seen.extend(specs)
        return real(eng, specs)

    monkeypatch.setattr(batch, name, spy)
    return seen


MIXED = {
    BM25: ("_sdm_bm25_scores", [
        ("a1", "lock free queue"),                  # driver: flat
        ("a2", "#SUM(queue #NEAR/1(lock free))"),   # driver: structured
        ("a3", "lock lock queue"),                  # driver: duplicate term
        ("a4", "lock.path queue"),                  # residual: two fields
        ("a5", "zzz_not_in_vocab_zzz"),             # driver: no rows
        ("a6", "def return"),                       # all stopwords: no rows
    ], ["a4"]),
    INDRI: ("_sdm_scores", [
        ("b1", "#WAND(0.7 lock 0.2 queue 0.1 slot)"),     # driver: flat
        ("b2", "#AND(ring buffer #NEAR/2(ring buffer))"),  # driver: structured
        ("b3", "token_next"),                              # driver: bare #SCORE
        ("b4", "zzz_not_in_vocab_zzz lock"),               # driver: absent term
        ("b5", "#AND(lock.body python.lang)"),             # residual: two fields
        ("b6", "#AND(def return)"),                        # all stopwords: no rows
    ], ["b5"]),
}


@pytest.mark.parametrize("model", [BM25, INDRI])
def test_mixed_file_matches_per_query(code_index, monkeypatch, model):
    """A file answered partly on the driver and partly by the model's batch
    plan is bitwise per-query Engine.search; the plan sees the residual
    only."""
    plan, queries, residual = MIXED[model]
    seen = _plan_spy(monkeypatch, plan)
    eng = Engine(code_index, ModelConfig(name=model), tokenizer=CODE_TOKENIZER)
    got = _by_qid(batch_topk(eng, queries, K))
    assert seen == residual
    for qid, text in queries:
        want = [
            (r["rank"], r["docid"], r["ext_docid"], r["score"])
            for r in eng.search(text, K).collect()
        ]
        assert got.get(qid, []) == want, f"{qid} diverges from Engine.search"


def test_driver_answerable_file_runs_no_spark_job(spark, code_index):
    """When the driver evaluator answers every query (all-stopword queries,
    which have no rows, included), neither batch_topk nor collecting its
    frame runs a Spark job."""
    from search_engine_spark.index.persist import PackedIndex

    sc = spark.sparkContext
    cold = PackedIndex(spark, code_index.dir)
    files = {
        BM25: [q for q in MIXED[BM25][1] if q[0] not in MIXED[BM25][2]],
        INDRI: [q for q in MIXED[INDRI][1] if q[0] not in MIXED[INDRI][2]],
    }
    try:
        for model, queries in files.items():
            eng = Engine(cold, ModelConfig(name=model), tokenizer=CODE_TOKENIZER)
            group = f"batch-zero-job-{model}"
            sc.setJobGroup(group, model)
            rows = batch_topk(eng, queries, K).collect()
            assert rows and {r["qid"] for r in rows} <= {q for q, _ in queries}
            assert list(sc.statusTracker().getJobIdsForGroup(group)) == [], model
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_residual_bm25_duplicates_match_exact_plan(
    code_index, exact_plan, monkeypatch, no_driver
):
    """The BM25 plan scores a flat #SUM's duplicated term once times its
    count and sums a structured #SUM's duplicated children one by one, as
    the exact plan does — bitwise."""
    queries = [
        ("d1", "lock lock lock queue"),
        ("d2", "#SUM(lock lock #NEAR/1(lock free))"),
    ]
    seen = _plan_spy(monkeypatch, "_sdm_bm25_scores")
    eng = _eng(code_index)
    got = _by_qid(batch_topk(eng, queries, K))
    assert seen == ["d1", "d2"]
    for qid, text in queries:
        with exact_plan():
            want = [
                (r["rank"], r["docid"], r["ext_docid"], r["score"])
                for r in eng.search(text, K).collect()
            ]
        assert got.get(qid, []) == want and want, qid
