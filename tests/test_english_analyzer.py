"""English analyzer (possessive strip + Lucene stopwords + Porter stem).

The reference analyzes English with StandardTokenizer -> EnglishPossessive
-> LowerCase -> Stop -> Krovetz (hw5/QryEval/EnglishAnalyzerConfigurable
.java:137-160). This repo's configurable twin is tokenize.ENGLISH_TOKENIZER
(Porter standing in for the non-public Krovetz lexicon — documented in
search_engine_spark/porter.py). Covered here:

- Porter golden vectors: every worked example printed in the 1980 paper;
- the pipeline order contract (possessive before stop, stop before stem);
- rank identity of the packed build (Arrow kernel + vocab-level
  transform/remap) vs the independent PyOracle (Python-twin tokenize) on
  an English micro-corpus;
- query-path equivalence on that index: the driver-side answers (block-max
  pruned flat shapes) are bitwise the exact Spark plan's;
- stem collapse: distinct surface forms of one stem merge into ONE posting
  with ascending interleaved positions, in the posting scan and the
  forward-index decode.
"""

from __future__ import annotations

import pytest

from search_engine_spark.config import BM25, INDRI, ModelConfig
from search_engine_spark.corpus import with_docids
from search_engine_spark.engine.runner import Engine
from search_engine_spark.index.persist import (
    BuildConfig,
    PackedIndex,
    build_persistent_index,
)
from search_engine_spark.porter import porter_stem
from search_engine_spark.tokenize import (
    ENGLISH_TOKENIZER,
    TOKENIZERS,
    tokenizer_by_name,
)

# ---------------------------------------------------------------------------
# Porter golden vectors. The 1980 paper's examples are PER-STEP (its step-1b
# table shows agreed -> agree; the full algorithm later trims that to "agre"
# in step 5a), so each table below is checked against the step function that
# the paper attributes it to, and a separate table checks full-pipeline
# outputs derived by hand-tracing all eight steps.
# ---------------------------------------------------------------------------

from search_engine_spark import porter as P  # noqa: E402

STEP_VECTORS = [
    (P.step1a, [
        ("caresses", "caress"), ("ponies", "poni"), ("ties", "ti"),
        ("caress", "caress"), ("cats", "cat"),
    ]),
    (P.step1b, [
        ("feed", "feed"), ("agreed", "agree"), ("plastered", "plaster"),
        ("bled", "bled"), ("motoring", "motor"), ("sing", "sing"),
        # the cleanup sub-rules
        ("conflated", "conflate"), ("troubled", "trouble"),
        ("sized", "size"), ("hopping", "hop"), ("tanned", "tan"),
        ("falling", "fall"), ("hissing", "hiss"), ("fizzed", "fizz"),
        ("failing", "fail"), ("filing", "file"),
    ]),
    (P.step1c, [("happy", "happi"), ("sky", "sky")]),
    (P.step2, [
        ("relational", "relate"), ("conditional", "condition"),
        ("rational", "rational"), ("valenci", "valence"),
        ("hesitanci", "hesitance"), ("digitizer", "digitize"),
        ("conformabli", "conformable"), ("radicalli", "radical"),
        ("differentli", "different"), ("vileli", "vile"),
        ("analogousli", "analogous"), ("vietnamization", "vietnamize"),
        ("predication", "predicate"), ("operator", "operate"),
        ("feudalism", "feudal"), ("decisiveness", "decisive"),
        ("hopefulness", "hopeful"), ("callousness", "callous"),
        ("formaliti", "formal"), ("sensitiviti", "sensitive"),
        ("sensibiliti", "sensible"),
    ]),
    (P.step3, [
        ("triplicate", "triplic"), ("formative", "form"),
        ("formalize", "formal"), ("electriciti", "electric"),
        ("electrical", "electric"), ("hopeful", "hope"),
        ("goodness", "good"),
    ]),
    (P.step4, [
        ("revival", "reviv"), ("allowance", "allow"),
        ("inference", "infer"), ("airliner", "airlin"),
        ("gyroscopic", "gyroscop"), ("adjustable", "adjust"),
        ("defensible", "defens"), ("irritant", "irrit"),
        ("replacement", "replac"), ("adjustment", "adjust"),
        ("dependent", "depend"), ("adoption", "adopt"),
        ("homologou", "homolog"), ("communism", "commun"),
        ("activate", "activ"), ("angulariti", "angular"),
        ("homologous", "homolog"), ("effective", "effect"),
        ("bowdlerize", "bowdler"),
    ]),
    (P.step5a, [("probate", "probat"), ("rate", "rate"), ("cease", "ceas")]),
    (P.step5b, [("controll", "control"), ("roll", "roll")]),
]


@pytest.mark.parametrize(
    "step,word,expected",
    [(s, w, e) for s, vecs in STEP_VECTORS for w, e in vecs],
    ids=[f"{s.__name__}:{w}" for s, vecs in STEP_VECTORS for w, _ in vecs],
)
def test_porter_step_vectors(step, word, expected):
    assert step(word) == expected


# Full-pipeline outputs: the paper's two worked examples plus hand-traced
# chains exercising every step interaction (1b->5a e-restore/strip, 2->3->4
# cascades, 5b after 4).
FULL_VECTORS = [
    ("generalizations", "gener"),   # the paper's worked example
    ("oscillators", "oscil"),       # the paper's other worked example
    ("agreed", "agre"),             # 1b agree, then 5a strips the e
    ("conflated", "conflat"),       # 1b restores e, 5a strips it (m=2)
    ("sized", "size"),              # 1b restores e, 5a keeps it (*o)
    ("filing", "file"),             # 1b m=1 cvc e-restore survives 5a
    ("rational", "ration"),         # step2 skips (the paper), step4 drops al
    ("relational", "relat"),        # 2 relate, 4 keeps (m=1), 5a strips e
    ("conditional", "condit"),      # 2 condition, 4 drops ion (ends t)
    ("electricity", "electr"),      # 1c iti, 3 ic... 4 drops ic
    ("controlling", "control"),     # 1b controll, 5b single l
    ("running", "run"),             # 1b double-consonant undouble
    ("caresses", "caress"),
    ("ponies", "poni"),
    ("happy", "happi"),
    ("motoring", "motor"),
]


@pytest.mark.parametrize("word,expected", FULL_VECTORS)
def test_porter_full_pipeline(word, expected):
    assert porter_stem(word) == expected


def test_porter_short_and_nonalpha_unchanged():
    for w in ["", "a", "is", "c3", "o'brien", "x1y2"]:
        assert porter_stem(w) == w


# ---------------------------------------------------------------------------
# pipeline order contract
# ---------------------------------------------------------------------------


def test_english_tokenize_pipeline():
    tok = ENGLISH_TOKENIZER
    # possessive strip happens before the stopword filter and stemming
    assert tok.tokenize("Spark's executors") == ["spark", "executor"]
    # unicode right-single-quote possessive, enclosing quote chars
    assert tok.tokenize("the engine’s 'design'") == ["engin", "design"]
    # stopwords are dropped on the normalized (pre-stem) form: "this" is a
    # stopword; "ties" stems to "ti" and is NOT re-checked post-stem
    assert tok.tokenize("this ties") == ["ti"]
    # trailing plural-possessive apostrophe is stripped by the enclosing-
    # apostrophe rule; a bare 's degrades to the letter token "s" exactly as
    # Lucene's StandardTokenizer + possessive filter would
    assert tok.tokenize("executors' 's") == ["executor", "s"]
    # stemming applies to query-side tokenization identically by construction
    assert tok.tokenize("RUNNING runs ran") == ["run", "run", "ran"]


def test_registry_roundtrip(spark):
    assert tokenizer_by_name("english") is ENGLISH_TOKENIZER
    assert set(TOKENIZERS) == {"whitespace", "code", "english"}
    with pytest.raises(ValueError):
        tokenizer_by_name("krovetz")
    # the JVM Column twin honestly refuses what it cannot express
    import pyspark.sql.functions as F

    with pytest.raises(NotImplementedError):
        ENGLISH_TOKENIZER.tokens_col(F.lit("x"))


# ---------------------------------------------------------------------------
# English micro-corpus: packed index vs PyOracle, driver vs exact plan
# ---------------------------------------------------------------------------

_DOCS = [
    # (repo, path, commit, lang, content) — inflection families + possessives
    # + stopwords; deterministic, hand-enumerable.
    ("eng", "d00", "c", "en", "the runner was running while other runners ran"),
    ("eng", "d01", "c", "en", "Spark's optimizer optimizes relational plans"),
    ("eng", "d02", "c", "en", "a generalization of the optimization generalizes"),
    ("eng", "d03", "c", "en", "ponies and the pony; caresses caress the cats"),
    ("eng", "d04", "c", "en", "they hoped hopping helps; hopefulness is hopeful"),
    ("eng", "d05", "c", "en", "conditional plans are rational but conditionally so"),
    ("eng", "d06", "c", "en", "the engine’s analyzers analyze an analyzer"),
    ("eng", "d07", "c", "en", "run run run — a running tally of runs"),
    ("eng", "d08", "c", "en", "adjustment requires adjustable replacement parts"),
    ("eng", "d09", "c", "en", "no stopwords survive: the a an and are as at be"),
    ("eng", "d10", "c", "en", "operators operate the operational operator console"),
    ("eng", "d11", "c", "en", "sized sizes; sizing was sized for size"),
]


@pytest.fixture(scope="module")
def eng_docs(spark):
    df = with_docids(
        spark.createDataFrame(
            _DOCS, "repo string, path string, commit string, lang string, content string"
        )
    ).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def eng_packed(spark, eng_docs, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("engidx") / "v1")
    cfg = BuildConfig(
        out_dir=out, n_buckets=2, block_size=8, salt_threshold=1000, n_salts=2,
        fields={"body": "content"}, tokenizer=ENGLISH_TOKENIZER,
    )
    build_persistent_index(spark, eng_docs, cfg)
    return PackedIndex(spark, out)


@pytest.fixture(scope="module")
def eng_oracle(eng_docs):
    from tests.oracle import PyOracle

    rows = [
        (r["docid"], r["ext_docid"], r["content"])
        for r in eng_docs.select("docid", "ext_docid", "content").collect()
    ]
    return PyOracle(rows, ENGLISH_TOKENIZER, fields={"body": 2})


QUERIES = [
    (BM25, "running pony"),            # stems to run / poni on the query side
    (BM25, "#SUM(optimizes generalization)"),
    (BM25, "the adjustment of sizes"),  # stopwords vanish at parse time
    (INDRI, "#AND(analyzer operator)"),
    (INDRI, "#WAND(0.6 running 0.4 hopeful)"),
]


@pytest.mark.parametrize("model,q", QUERIES)
def test_packed_matches_inmemory_english(eng_packed, exact_plan, model, q):
    """The packed index's driver-side answer (the driver evaluator) is
    bitwise the exact Spark plan's."""
    eng = Engine(eng_packed, ModelConfig(name=model), tokenizer=ENGLISH_TOKENIZER)
    a = [(r["rank"], r["docid"], r["score"]) for r in eng.search(q, 20).collect()]
    with exact_plan():
        b = [(r["rank"], r["docid"], r["score"]) for r in eng.search(q, 20).collect()]
    assert a == b, (model, q)
    assert a, f"vacuous query: {q!r}"


@pytest.mark.parametrize("model,q", QUERIES)
def test_rank_identity_vs_pyoracle_english(eng_packed, eng_oracle, model, q):
    eng = Engine(eng_packed, ModelConfig(name=model), tokenizer=ENGLISH_TOKENIZER)
    got = [
        (r["rank"], r["docid"], r["ext_docid"], r["score"])
        for r in eng.search(q, 20).collect()
    ]
    want = eng_oracle.search(q, ModelConfig(name=model), k=20)
    assert len(got) == len(want) > 0
    for g, w in zip(got, want):
        assert g[:3] == w[:3], (model, q, g, w)
        assert g[3] == pytest.approx(w[3], rel=1e-9, abs=1e-12)


def test_engine_resolves_and_guards_analyzer(eng_packed):
    """§1.4 invariant, enforced mechanically: the engine resolves the
    analyzer recorded in the index's manifest lineage and refuses a
    mismatched one — the reference's silent zero-results footgun becomes a
    hard error."""
    import copy

    from search_engine_spark.tokenize import CODE_TOKENIZER

    assert eng_packed.tokenizer_name == "english"
    eng = Engine(eng_packed, ModelConfig(name=BM25))  # auto-resolve
    assert eng.tokenizer is ENGLISH_TOKENIZER
    with pytest.raises(ValueError, match="must share the analyzer"):
        Engine(eng_packed, ModelConfig(name=BM25), tokenizer=CODE_TOKENIZER)
    # legacy index without a record: defaults to whitespace, no guard
    legacy = copy.copy(eng_packed)
    legacy.tokenizer_name = None
    assert Engine(legacy, ModelConfig(name=BM25)).tokenizer.name == "whitespace"
    Engine(legacy, ModelConfig(name=BM25), tokenizer=CODE_TOKENIZER)  # allowed


def test_stem_collapse_single_posting(eng_packed):
    """d07: 'run run run — a running tally of runs' -> post-stop tokens
    [run, run, run, run, tally, run] -> ONE posting for 'run' with tf=5 and
    positions [0,1,2,3,5], in the posting scan AND the forward index."""
    rows = eng_packed.postings_for([("run", "body")], with_positions=True).collect()
    by_doc = {r["docid"]: r for r in rows}
    d07 = [r for r in rows if r["tf"] == 5]
    assert len(d07) == 1
    assert list(d07[0]["positions"]) == [0, 1, 2, 3, 5]
    # df spans the docs whose surface forms all collapse to 'run'
    assert len(by_doc) >= 2
    fwd = {
        r["term"]: (r["tf"], list(r["positions"]))
        for r in eng_packed.doc_terms_for(
            [d07[0]["docid"]], "body", with_positions=True
        ).collect()
    }
    assert fwd.pop("run") == (5, [0, 1, 2, 3, 5])
    assert list(fwd.values()) == [(1, [4])]  # tally's stem
