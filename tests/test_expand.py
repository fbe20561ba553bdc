"""PRF expansion parity: term weights, learned-query shape, and the
two-round retrieval against an independent pure-Python computation."""

import math

import pytest

from search_engine_spark.config import INDRI, ModelConfig
from search_engine_spark.engine.expand import (
    FbParams,
    expanded_query,
    learned_query,
    search_expanded,
)
from search_engine_spark.engine.runner import Engine
from search_engine_spark.tokenize import CODE_TOKENIZER


@pytest.fixture(scope="module")
def indri_eng(code_index):
    return Engine(code_index, ModelConfig(name=INDRI), tokenizer=CODE_TOKENIZER)


def py_learned(py_oracle, query, p: FbParams, model):
    """Independent RM weighting from the oracle's dict index
    (QryEval.java:869-896 decomposition)."""
    top = py_oracle.search(query, model, p.fb_docs)
    if not top:
        return None
    docs = [(d, s) for _, d, _, s in top]
    c_len = py_oracle.sum_doclen["body"]
    dl = py_oracle.doclen["body"]
    s_default = sum(s / (dl.get(d, 0) + p.fb_mu) for d, s in docs)
    cand = {}
    for d, s in docs:
        w = s / (dl.get(d, 0) + p.fb_mu)
        for t, posts in py_oracle.post["body"].items():
            if ("." in t) or ("," in t) or d not in posts:
                continue
            cand[t] = cand.get(t, 0.0) + posts[d][0] * w
    out = []
    for t, contains in cand.items():
        ctf = py_oracle.ctf(t, "body")
        ptc = ctf / c_len
        idf = math.log(1.0 / ptc)
        out.append((t, contains * idf + (p.fb_mu * ptc) * s_default * idf))
    out.sort(key=lambda ts: (-ts[1], ts[0]))
    chosen = out[: p.fb_terms]
    return "#WAND (" + " ".join(f"{s:.4f} {t}" for t, s in reversed(chosen)) + " )"


@pytest.mark.parametrize("fb_mu", [0.0, 50.0])
def test_learned_query_matches_oracle(indri_eng, py_oracle, fb_mu):
    p = FbParams(fb_docs=5, fb_terms=8, fb_mu=fb_mu, fb_orig_weight=0.4)
    model = ModelConfig(name=INDRI)
    got = learned_query(indri_eng, "lock free queue", p)
    want = py_learned(py_oracle, "lock free queue", p, model)
    assert got == want


def test_expanded_query_shape():
    p = FbParams(fb_orig_weight=0.3)
    q = expanded_query("lock queue", "#WAND (0.1 a )", p)
    assert q == "#WAND ( 0.3 #AND( lock queue ) 0.7 #WAND (0.1 a ))"


def test_two_round_retrieval_matches_oracle(indri_eng, py_oracle):
    p = FbParams(fb_docs=5, fb_terms=6, fb_mu=0.0, fb_orig_weight=0.5)
    model = ModelConfig(name=INDRI)
    res, learned, exp = search_expanded(indri_eng, "lock free queue", p, k=20)
    assert learned == py_learned(py_oracle, "lock free queue", p, model)
    want = py_oracle.search(exp, model, 20)
    got = [
        (r["rank"], r["docid"], r["ext_docid"], r["score"]) for r in res.collect()
    ]
    assert [(g[0], g[1], g[2]) for g in got] == [(w[0], w[1], w[2]) for w in want]
    for g, w in zip(got, want):
        assert g[3] == pytest.approx(w[3], rel=1e-9)


def test_expansion_file_roundtrip(indri_eng, tmp_path):
    """fbExpansionQueryFile (QryEval.java:944-947): the persisted expanded
    queries re-parse through the standard query-file reader and reproduce
    the PRF run's results exactly."""
    from search_engine_spark.engine.expand import (
        read_query_file,
        write_expansion_file,
    )

    p = FbParams(fb_docs=5, fb_terms=6, fb_mu=0.0, fb_orig_weight=0.5)
    res, _, exp = search_expanded(indri_eng, "lock free queue", p, k=10)
    want = [tuple(r) for r in res.collect()]
    path = str(tmp_path / "expansion.qry")
    write_expansion_file(path, [("9", exp)])
    back = read_query_file(path)
    assert back == [("9", exp)]
    replay = [tuple(r) for r in indri_eng.search(back[0][1], 10).collect()]
    assert replay == want


def test_no_match_returns_none(indri_eng):
    from search_engine_spark.corpus import ABSENT_TERM

    res, learned, exp = search_expanded(indri_eng, ABSENT_TERM, FbParams())
    assert res is None and learned is None


def _count_plan_nodes(jplan, simple_name: str) -> int:
    n = int(jplan.getClass().getSimpleName() == simple_name)
    kids = jplan.children()
    return n + sum(
        _count_plan_nodes(kids.apply(i), simple_name) for i in range(kids.size())
    )


def test_expanded_query_plan_decodes_each_leaf_once(indri_eng):
    """The PRF-shaped nested #WAND runs the chain-join plan: its candidate
    set is cached, so each packed leaf is decoded by exactly one
    mapInPandas node. Re-planned per child and grandchild, the candidate
    union repeated every leaf decode ~15x, which exhausted the JVM at
    sf0.01."""
    q = (
        "#WAND ( 0.5 #AND( lock free queue ) "
        "0.5 #WAND (0.3 ring 0.3 buffer 0.4 slot ) )"
    )
    scores = indri_eng.scores(q)
    try:
        plan = scores._jdf.queryExecution().sparkPlan()
        assert _count_plan_nodes(plan, "MapInPandasExec") == 6
    finally:
        indri_eng.ctx.release_caches()
