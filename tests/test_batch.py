"""Batched multi-query execution (engine/batch.py): a query file answered
by ``batch_topk`` must be bitwise-identical, query by query, to per-query
``Engine.search`` — each query takes the same route — and a file the driver
evaluator answers whole runs no Spark job."""

import pytest

from search_engine_spark.config import (
    BM25, INDRI, RANKED_BOOLEAN, UNRANKED_BOOLEAN, ModelConfig,
)
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


def _ind(code_index):
    return Engine(code_index, ModelConfig(name=INDRI), tokenizer=CODE_TOKENIZER)


def _by_qid(df):
    out = {}
    for r in df.collect():
        out.setdefault(r["qid"], []).append(
            (r["rank"], r["docid"], r["ext_docid"], r["score"])
        )
    for rows in out.values():
        rows.sort()
    return out


def _assert_per_query(eng, queries):
    """``batch_topk`` over ``queries`` gives each query's per-query
    ``Engine.search`` rows, bitwise."""
    got = _by_qid(batch_topk(eng, queries, K))
    assert set(got) <= {qid for qid, _ in queries}
    for qid, text in queries:
        want = [
            (r["rank"], r["docid"], r["ext_docid"], r["score"])
            for r in eng.search(text, K).collect()
        ]
        assert got.get(qid, []) == want, f"{eng.model.name}:{qid} diverges"


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


SDM_BM25_BATCH = [
    ("p1", "#SUM(lock #NEAR/1(lock free) #WINDOW/8(lock free))"),
    ("p2", "lock free #NEAR/2(ring buffer)"),    # model-default #SUM wrap
    ("p3", "#SUM(queue #WINDOW/4(lock queue))"),
    ("p4", "#NEAR/2(fast sort)"),                # bare positional query
    ("p5", "#SUM(lock #NEAR/2(zzz_not_in_vocab_zzz lock))"),  # empty child
    ("p6", "lock free queue"),                   # flat query in an SDM batch
    ("p7", "#SUM(queue #SYN(ring buffer))"),     # syn child (df from union)
]


# -- Boolean batch ------------------------------------------------------------

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
    assert "r5" not in _by_qid(batch_topk(eng, BOOL_BATCH, K))  # empty #AND
    _assert_per_query(eng, BOOL_BATCH)


def test_batch_rejects_structured(code_index):
    """A query that does not compile under the model raises its error;
    nested shapes are answered as ``Engine.search`` answers them (the
    driver evaluator walks a #SYN inside a #NEAR, the exact plan a nested
    Sl)."""
    with pytest.raises(ValueError, match="not defined for BM25"):
        batch_topk(_eng(code_index), [("q1", "#AND(lock queue)")], K)
    _assert_per_query(_ind(code_index), [
        ("n1", "#WSUM(0.5 lock 0.5 #AND(ring buffer))"),
        ("n2", "#NEAR/2(lock #SYN(ring buffer))"),
    ])


def test_bool_batch_rejects_structured(code_index):
    """A Boolean query with a structured child is answered as
    ``Engine.search`` answers it."""
    eng = Engine(
        code_index, ModelConfig(name=RANKED_BOOLEAN), tokenizer=CODE_TOKENIZER
    )
    _assert_per_query(eng, [("q1", "#OR(lock #NEAR/2(ring buffer))")])


def test_split_batchable(code_index):
    """Only the queries that fail to compile under the model are split
    off."""
    from search_engine_spark.engine.batch import split_batchable

    mixed = [
        ("q1", "lock free queue"),
        ("q2", "#NEAR/2(ring buffer)"),
        ("q3", "#AND(lock queue)"),
    ]
    good, rest = split_batchable(_eng(code_index), mixed)
    # #AND is not defined for BM25
    assert [q for q, _ in good] == ["q1", "q2"]
    assert [q for q, _ in rest] == ["q3"]

    good, rest = split_batchable(
        _ind(code_index), mixed + [("q4", "lock.path queue"),
                                   ("q5", "#WSUM(0.5 lock 0.5 #AND(ring buffer))")]
    )
    assert [q for q, _ in good] == ["q1", "q2", "q3", "q4", "q5"]
    assert rest == []

    rb = Engine(
        code_index, ModelConfig(name=RANKED_BOOLEAN), tokenizer=CODE_TOKENIZER
    )
    good, rest = split_batchable(rb, mixed)
    assert [q for q, _ in good] == ["q1", "q2", "q3"]
    assert rest == []


# -- the driver route ---------------------------------------------------------


MIXED = {
    BM25: BATCH + SDM_BM25_BATCH + [
        ("a1", "#SUM(queue #NEAR/1(lock free))"),
        ("a2", "lock.path queue"),                    # two fields
        ("a3", "#SUM(except.body src.path #NEAR/2(try with))"),
        ("a4", "def return"),                         # all stopwords: no rows
        ("a5", "lock lock lock queue"),               # flat duplicated term
        ("a6", "#SUM(lock lock #NEAR/1(lock free))"),  # structured duplicates
        ("a7", "#NEAR/2(lock #SYN(ring buffer))"),    # nested Il
    ],
    INDRI: INDRI_BATCH + INDRI_MF_BATCH + SDM_BATCH + [
        ("b1", "#AND(def return)"),                   # all stopwords: no rows
        ("b2", "#NEAR/2(lock #SYN(ring buffer))"),    # nested Il
    ],
    RANKED_BOOLEAN: BOOL_BATCH + [
        ("c1", "#OR(lock #NEAR/2(ring buffer))"),     # a #NEAR child
        ("c2", "#AND(lock #SYN(ring buffer))"),
        ("c3", "#AND(lock.body python.lang)"),        # two fields
        ("c4", "#OR(queue.path python.lang)"),
        ("c5", "#NEAR/2(lock #SYN(ring buffer))"),    # nested Il, bare
    ],
}
MIXED[UNRANKED_BOOLEAN] = MIXED[RANKED_BOOLEAN]


@pytest.mark.parametrize("model", list(MIXED))
def test_mixed_file_matches_per_query(code_index, model):
    """Every shape of the model's file — flat, structured, nested, several
    fields, duplicated, absent and all-stopword — is bitwise per-query
    Engine.search."""
    eng = Engine(code_index, ModelConfig(name=model), tokenizer=CODE_TOKENIZER)
    _assert_per_query(eng, MIXED[model])


def test_driver_answerable_file_runs_no_spark_job(spark, code_index):
    """The driver evaluator answers every query of every model's file
    (all-stopword queries, which have no rows, included): neither
    batch_topk nor collecting its frame runs a Spark job."""
    from search_engine_spark.index.persist import PackedIndex

    sc = spark.sparkContext
    cold = PackedIndex(spark, code_index.dir)
    try:
        for model, queries in MIXED.items():
            eng = Engine(cold, ModelConfig(name=model), tokenizer=CODE_TOKENIZER)
            group = f"batch-zero-job-{model}"
            sc.setJobGroup(group, model)
            rows = batch_topk(eng, queries, K).collect()
            assert rows and {r["qid"] for r in rows} <= {q for q, _ in queries}
            assert list(sc.statusTracker().getJobIdsForGroup(group)) == [], model
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
