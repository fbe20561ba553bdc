"""Block-max pruned BM25 top-k must be identical to the exact plan
(rank, docid, ext id, score — bitwise), while actually skipping blocks."""

import pytest

from search_engine_spark.config import BM25, ModelConfig
from search_engine_spark.engine.pruning import PruneStats, bm25_topk_pruned
from search_engine_spark.engine.runner import Engine
from search_engine_spark.index.persist import BuildConfig, PackedIndex, build_persistent_index
from search_engine_spark.tokenize import CODE_TOKENIZER


QUERIES = [
    ["lock", "free", "queue"],
    ["parse_init", "token_next"],
    ["rare_alpha", "lock"],          # df=1 term dominates idf
    ["open", "file", "handle", "ring", "buffer"],
    ["self", "lock"],                # heavy salted term + selective term
]


@pytest.mark.parametrize("terms", QUERIES, ids=["+".join(q) for q in QUERIES])
def test_pruned_identical_to_exact(spark, pidx, terms, code_index, exact_plan):
    k = 20
    stats = PruneStats()
    pruned = [
        (r["rank"], r["docid"], r["ext_docid"], r["score"])
        for r in bm25_topk_pruned(pidx, terms, k=k, stats=stats).collect()
    ]
    eng = Engine(code_index, ModelConfig(name=BM25), tokenizer=CODE_TOKENIZER)
    with exact_plan():
        exact = [
            (r["rank"], r["docid"], r["ext_docid"], r["score"])
            for r in eng.search(" ".join(terms), k).collect()
        ]
    assert pruned == exact
    assert stats.n_blocks_total > 0
    assert stats.score_mode == "driver"  # small survivor set: no Spark job


@pytest.mark.parametrize("terms", QUERIES[:2], ids=["+".join(q) for q in QUERIES[:2]])
def test_driver_read_failure_runs_exact_plan(
    spark, pidx, terms, code_index, exact_plan, monkeypatch
):
    """A failed driver-side read makes the planner step aside (None, with
    the reason recorded) and Engine.search answers with the exact plan,
    bitwise."""
    broken = PackedIndex(spark, pidx.dir)
    real = broken.reads.dataset

    def fail_packed(name):
        if name == "packed":
            raise OSError("forced read failure of packed")
        return real(name)

    monkeypatch.setattr(broken.reads, "dataset", fail_packed)
    monkeypatch.setenv("SPARK_GRAFT_PRUNE_MIN_BLOCKS", "0")
    k = 20
    stats = PruneStats()
    assert bm25_topk_pruned(broken, terms, k=k, stats=stats) is None
    assert "forced read failure" in stats.fallback
    eng = Engine(broken, ModelConfig(name=BM25), tokenizer=CODE_TOKENIZER)
    got = [tuple(r) for r in eng.search(" ".join(terms), k).collect()]
    assert eng.last_prune_stats is None
    exact_eng = Engine(code_index, ModelConfig(name=BM25), tokenizer=CODE_TOKENIZER)
    with exact_plan():
        exact = [tuple(r) for r in exact_eng.search(" ".join(terms), k).collect()]
    assert got == exact and got


def test_gate_term_stats_failure_reports_fallback(
    spark, pidx, code_index, exact_plan, monkeypatch
):
    """A failed term-stats read in the engine's pruning gate answers with
    the exact plan, bitwise, and reports that fallback — not the stats of
    the query before it."""
    import sys

    broken = PackedIndex(spark, pidx.dir)
    real = broken.reads.term_stats
    armed = []

    def term_stats(terms, fld):
        # only the gate's read fails: the exact plan reads term stats too
        if armed and sys._getframe(1).f_code.co_name == "_pruned_topk":
            raise OSError("forced term-stats read failure")
        return real(terms, fld)

    monkeypatch.setattr(broken.reads, "term_stats", term_stats)
    monkeypatch.setenv("SPARK_GRAFT_PRUNE_MIN_BLOCKS", "0")
    k = 20
    eng = Engine(broken, ModelConfig(name=BM25), tokenizer=CODE_TOKENIZER)
    eng.search(" ".join(QUERIES[0]), k).collect()
    assert eng.last_prune_stats.score_mode == "driver"
    armed.append(True)
    terms = QUERIES[1]
    got = [tuple(r) for r in eng.search(" ".join(terms), k).collect()]
    assert eng.last_prune_stats == PruneStats(
        fallback="driver read failed: OSError: forced term-stats read failure"
    )
    exact_eng = Engine(code_index, ModelConfig(name=BM25), tokenizer=CODE_TOKENIZER)
    with exact_plan():
        exact = [tuple(r) for r in exact_eng.search(" ".join(terms), k).collect()]
    assert got == exact and got


def test_pruning_skips_blocks(spark, pidx):
    """A selective query over a corpus with a dominant rare term must not
    scan every block. (With an idf-clamped heavy term and k past the nonzero
    scores, θ=0 forces a full scan for exact tie semantics — so we use a
    query whose θ stays positive.)"""
    stats = PruneStats()
    bm25_topk_pruned(pidx, ["rare_alpha", "lock"], k=1, stats=stats).collect()
    assert stats.n_blocks_scanned < stats.n_blocks_total, (
        f"scanned {stats.n_blocks_scanned}/{stats.n_blocks_total}"
    )


def test_absent_term_query(spark, pidx):
    from search_engine_spark.corpus import ABSENT_TERM

    assert bm25_topk_pruned(pidx, [ABSENT_TERM], k=5).collect() == []


@pytest.fixture(scope="module")
def bursty_pidx(spark, tmp_path_factory):
    """Bursty corpus (identifier locality — corpus.py repo themes): the
    per-block max_tf skew block-max pruning was designed for."""
    from search_engine_spark.corpus import code_corpus_df, with_docids

    out = str(tmp_path_factory.mktemp("pruneburst") / "v1")
    docs = with_docids(code_corpus_df(spark, 4000, bursty=True))
    cfg = BuildConfig(
        out_dir=out, n_buckets=4, block_size=32,
        fields={"body": "content"}, tokenizer=CODE_TOKENIZER,
    )
    build_persistent_index(spark, docs, cfg)
    return PackedIndex(spark, out)


def test_bursty_pruning_skips_and_is_identical(spark, bursty_pidx):
    """On the bursty corpus a same-theme query must skip a meaningful share
    of blocks AND stay bitwise-identical to the exact plan. (On the i.i.d.
    corpus block bounds are homogeneous and nothing CAN skip — the r03
    finding; burstiness is the property that makes pruning pay.)"""
    from search_engine_spark.corpus import theme_terms

    eng = Engine(bursty_pidx, ModelConfig(name=BM25), tokenizer=CODE_TOKENIZER)
    skipped_any = False
    for th in (0, 1, 2):
        q = theme_terms(th)[:3]
        st = PruneStats()
        pruned = [tuple(r) for r in bm25_topk_pruned(bursty_pidx, q, k=10, stats=st).collect()]
        exact = [tuple(r) for r in eng.search(" ".join(q), 10).collect()]
        assert pruned == exact and pruned, f"theme {th} diverged"
        if st.n_blocks_scanned < st.n_blocks_total:
            skipped_any = True
    assert skipped_any, "no theme query skipped a single block"


# --------------------------------------------------------------------------
# weighted Indri pruning (#AND / #WAND / #WSUM): engine/pruning.py MaxScore
# --------------------------------------------------------------------------

from search_engine_spark.config import INDRI  # noqa: E402
from search_engine_spark.engine.pruning import indri_topk_pruned  # noqa: E402

INDRI_QUERIES = [
    ("and", None, ["lock", "free", "queue"]),
    ("and", None, ["self", "lock"]),  # heavy salted term + selective term
    ("wand", [0.7, 0.2, 0.1], ["lock", "queue", "slot"]),
    ("wsum", [0.5, 0.3, 0.2], ["ring", "buffer", "slot"]),
    ("wsum", [0.9, 0.1], ["rare_alpha", "lock"]),  # df=1 term dominates
]


def _indri_query_text(kind, weights, terms):
    if kind == "and":
        return " ".join(terms)  # Indri default wrap is #AND
    body = " ".join(f"{w} {t}" for w, t in zip(weights, terms))
    return f"#{kind.upper()}({body})"


@pytest.mark.parametrize(
    "kind,weights,terms", INDRI_QUERIES,
    ids=[f"{k}-{'+'.join(t)}" for k, _, t in INDRI_QUERIES],
)
def test_indri_pruned_identical_to_exact(
    spark, pidx, code_index, exact_plan, kind, weights, terms
):
    k = 20
    stats = PruneStats()
    res = indri_topk_pruned(pidx, kind, terms, weights, k=k, stats=stats)
    assert res is not None
    pruned = [
        (r["rank"], r["docid"], r["ext_docid"], r["score"])
        for r in res.collect()
    ]
    eng = Engine(code_index, ModelConfig(name=INDRI), tokenizer=CODE_TOKENIZER)
    with exact_plan():
        exact = [
            (r["rank"], r["docid"], r["ext_docid"], r["score"])
            for r in eng.search(_indri_query_text(kind, weights, terms), k).collect()
        ]
    assert pruned == exact and pruned
    assert stats.score_mode == "driver"
    assert stats.n_blocks_total > 0


def test_indri_pruned_fallback_contract(spark, pidx):
    from search_engine_spark.corpus import ABSENT_TERM

    # absent term -> degenerate zero-score combine -> exact plan
    assert indri_topk_pruned(pidx, "and", ["lock", ABSENT_TERM], k=5) is None
    # duplicate terms -> term-keyed pivot can't split children
    assert indri_topk_pruned(pidx, "and", ["lock", "lock"], k=5) is None
    # negative / zero-total weights break UB monotonicity
    assert indri_topk_pruned(pidx, "wand", ["lock", "queue"], [0.5, -0.1], k=5) is None
    assert indri_topk_pruned(pidx, "wsum", ["lock", "queue"], [0.0, 0.0], k=5) is None


def test_indri_engine_dispatch(spark, pidx, code_index, exact_plan, monkeypatch):
    """Engine.search routes flat Indri shapes through the pruned plan past
    the block gate, bitwise-identical to the exact pivot plan."""
    monkeypatch.setenv("SPARK_GRAFT_PRUNE_MIN_BLOCKS", "1")
    eng = Engine(pidx, ModelConfig(name=INDRI), tokenizer=CODE_TOKENIZER)
    got = [tuple(r) for r in eng.search("#WAND(0.7 lock 0.2 queue 0.1 slot)", 15).collect()]
    assert eng.last_prune_stats is not None
    assert eng.last_prune_stats.score_mode == "driver"
    exact_eng = Engine(code_index, ModelConfig(name=INDRI), tokenizer=CODE_TOKENIZER)
    with exact_plan():
        want = [
            tuple(r)
            for r in exact_eng.search("#WAND(0.7 lock 0.2 queue 0.1 slot)", 15).collect()
        ]
    assert got == want and got


def test_indri_bursty_pruning_skips_and_is_identical(spark, bursty_pidx, monkeypatch):
    """Same-theme weighted queries on the bursty corpus must skip blocks AND
    stay bitwise the exact plan's."""
    from search_engine_spark.corpus import theme_terms

    monkeypatch.setenv("SPARK_GRAFT_NO_PRUNE", "1")
    eng = Engine(bursty_pidx, ModelConfig(name=INDRI), tokenizer=CODE_TOKENIZER)
    skipped_any = False
    for th in (0, 1, 2):
        q = theme_terms(th)[:3]
        w = [0.6, 0.3, 0.1]
        st = PruneStats()
        res = indri_topk_pruned(bursty_pidx, "wsum", q, w, k=10, stats=st)
        assert res is not None
        pruned = [tuple(r) for r in res.collect()]
        text = "#WSUM(" + " ".join(f"{wi} {t}" for wi, t in zip(w, q)) + ")"
        exact = [tuple(r) for r in eng.search(text, 10).collect()]
        assert pruned == exact and pruned, f"theme {th} diverged"
        if st.n_blocks_scanned < st.n_blocks_total:
            skipped_any = True
    assert skipped_any, "no weighted theme query skipped a single block"


# --------------------------------------------------------------------------
# driver-local scoring: both sides of the size gate, zero Spark jobs,
# adversarial score spreads
# --------------------------------------------------------------------------

from search_engine_spark.engine import pruning as pruning_mod  # noqa: E402


@pytest.mark.parametrize("terms", QUERIES, ids=["+".join(q) for q in QUERIES])
def test_pruned_spark_side_identical_to_exact(
    spark, pidx, terms, code_index, exact_plan, monkeypatch
):
    """With the driver-scoring size gate at 0 every survivor set takes the
    one-job Spark scan, which must be bitwise the exact plan's as well."""
    monkeypatch.setattr(pruning_mod, "_POSTS_PER_TASK", 0)
    stats = PruneStats()
    pruned = [tuple(r) for r in bm25_topk_pruned(pidx, terms, k=20, stats=stats).collect()]
    eng = Engine(code_index, ModelConfig(name=BM25), tokenizer=CODE_TOKENIZER)
    with exact_plan():
        exact = [tuple(r) for r in eng.search(" ".join(terms), 20).collect()]
    assert pruned == exact
    assert stats.score_mode == "spark"


@pytest.mark.parametrize(
    "kind,weights,terms", INDRI_QUERIES,
    ids=[f"{k}-{'+'.join(t)}" for k, _, t in INDRI_QUERIES],
)
def test_indri_pruned_spark_side_identical_to_exact(
    spark, pidx, code_index, exact_plan, monkeypatch, kind, weights, terms
):
    monkeypatch.setattr(pruning_mod, "_POSTS_PER_TASK", 0)
    stats = PruneStats()
    res = indri_topk_pruned(pidx, kind, terms, weights, k=20, stats=stats)
    pruned = [tuple(r) for r in res.collect()]
    eng = Engine(code_index, ModelConfig(name=INDRI), tokenizer=CODE_TOKENIZER)
    with exact_plan():
        exact = [
            tuple(r)
            for r in eng.search(_indri_query_text(kind, weights, terms), 20).collect()
        ]
    assert pruned == exact and pruned
    assert stats.score_mode == "spark"


FLAT_SHAPES = [
    (BM25, "lock free"),
    (BM25, "ring buffer slot"),
    (INDRI, "#AND(lock free queue)"),
    (INDRI, "#WAND(0.7 lock 0.3 queue)"),
    (INDRI, "#WSUM(0.6 ring 0.4 buffer)"),
]


def test_flat_queries_run_no_spark_job(spark, pidx, monkeypatch):
    """Every flat shape past the pruning gate answers, collect included,
    without a single Spark job under its job group."""
    monkeypatch.setenv("SPARK_GRAFT_PRUNE_MIN_BLOCKS", "1")
    sc = spark.sparkContext
    fresh = PackedIndex(spark, pidx.dir)  # cold driver caches
    engines = {
        m: Engine(fresh, ModelConfig(name=m), tokenizer=CODE_TOKENIZER)
        for m in (BM25, INDRI)
    }
    try:
        for i, (model, text) in enumerate(FLAT_SHAPES):
            group = f"flat-zero-job-{i}"
            sc.setJobGroup(group, text)
            eng = engines[model]
            eng.last_prune_stats = None
            rows = eng.search(text, 20).collect()
            assert rows, text
            assert eng.last_prune_stats.score_mode == "driver", text
            assert list(sc.statusTracker().getJobIdsForGroup(group)) == [], text
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def _adversarial_bm25_terms(code_index) -> list[str]:
    """Eight body terms: three df=1 terms (largest idf), three past df > N/2
    (idf clamped to 0) and two in between — per-term scores spread over
    many binades, the case where a double sum of float32 terms is order
    sensitive."""
    from pyspark.sql import functions as F

    n = code_index.corpus.n_docs
    rows = (
        code_index.term_stats.where(F.col("field") == "body")
        .select("term", "df").orderBy("term").collect()
    )
    rare = [r["term"] for r in rows if r["df"] == 1][:3]
    clamped = [r["term"] for r in rows if r["df"] > n / 2][:3]
    mid = [r["term"] for r in rows if n / 8 <= r["df"] <= n / 4][:2]
    assert len(rare) == 3 and len(clamped) == 3 and len(mid) == 2, (
        "corpus fixture lost its df spread"
    )
    return rare + clamped + mid


def _assert_matches_oracle(got, want):
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert g[:3] == w[:3], f"rank/doc mismatch: engine={g} oracle={w}"
        assert g[3] == pytest.approx(w[3], rel=1e-9, abs=1e-12)


@pytest.mark.parametrize("gate", ["driver", "spark"])
def test_adversarial_spreads_bitwise(
    spark, pidx, code_index, py_oracle, exact_plan, monkeypatch, gate
):
    """A BM25 bag mixing df=1 and idf-clamped terms, and an Indri #WAND with
    weights from 1e-3 to 1: bitwise the exact plan's on both sides of the
    driver-scoring gate, and within tolerance of the pure-Python oracle."""
    if gate == "spark":
        monkeypatch.setattr(pruning_mod, "_POSTS_PER_TASK", 0)
    terms = _adversarial_bm25_terms(code_index)
    wand = "#WAND(" + " ".join(
        f"{w} {t}" for w, t in zip([1e-3, 0.01, 0.1, 0.5, 1.0], terms[1:6])
    ) + ")"
    k = 30
    for model, text in ((BM25, " ".join(terms)), (INDRI, wand)):
        monkeypatch.setenv("SPARK_GRAFT_PRUNE_MIN_BLOCKS", "0")
        eng = Engine(pidx, ModelConfig(name=model), tokenizer=CODE_TOKENIZER)
        pruned = [tuple(r) for r in eng.search(text, k).collect()]
        assert eng.last_prune_stats is not None, text
        assert eng.last_prune_stats.score_mode == gate, text
        exact_eng = Engine(code_index, ModelConfig(name=model), tokenizer=CODE_TOKENIZER)
        with exact_plan():
            exact = [tuple(r) for r in exact_eng.search(text, k).collect()]
        assert pruned == exact and pruned, text
        _assert_matches_oracle(pruned, py_oracle.search(text, ModelConfig(name=model), k))


def test_bm25_scorer_sees_one_ulp_of_idf(spark, pidx):
    """The float32 cast absorbs a 1-ulp idf error on all but ~2^-29 of
    scores, so the index identity tests above cannot tell StrictMath.log
    (Spark's F.log) from the platform log. At this (N, df, avgdl, tf,
    doclen) the double score sits on a float32 rounding boundary, and
    math.log's idf, 1 ulp above StrictMath.log's, rounds to the next
    float: the driver's scorer must give Spark's score here too."""
    import math
    import struct

    import numpy as np
    from pyspark.sql import functions as F

    from search_engine_spark.config import BM25Params
    from search_engine_spark.engine import score as score_mod

    n, df, avgdl, tf, dl = 1000, 43, 100.00016063113844, 2, 7
    p = BM25Params()
    want = spark.range(1).select(
        score_mod.bm25_score(
            n_docs=n, df=df, avgdl=avgdl, p=p, tf=F.lit(tf), doclen=F.lit(dl)
        )
    ).first()[0]
    piv = pruning_mod._Pivot(np.zeros(1, int), np.zeros(1, int), [tf], [dl], 1)
    idfs = pruning_mod.bm25_idfs(pidx, [df], n)
    got = pruning_mod.bm25_scorer(idfs, avgdl, p)(piv)[0]
    assert struct.pack("<d", got) == struct.pack("<d", want)
    platform_idf = math.log((n - df + 0.5) / (df + 0.5))
    platform = score_mod.bm25_score_np(
        idf=platform_idf, avgdl=avgdl, p=p, tf=np.array([tf]), doclen=np.array([dl])
    )[0]
    assert platform != want


def test_concurrent_flat_queries_match_serial(spark, pidx, monkeypatch):
    """Eight serving threads share one cold PackedIndex (and so its driver
    read cache); every answer equals the serial answer."""
    import threading

    monkeypatch.setenv("SPARK_GRAFT_PRUNE_MIN_BLOCKS", "1")
    mixed = FLAT_SHAPES + [(BM25, " ".join(q)) for q in QUERIES]

    def answer(index, model, text):
        eng = Engine(index, ModelConfig(name=model), tokenizer=CODE_TOKENIZER)
        rows = [tuple(r) for r in eng.search(text, 15).collect()]
        assert eng.last_prune_stats is not None
        return rows

    serial = {q: answer(PackedIndex(spark, pidx.dir), *q) for q in mixed}
    shared = PackedIndex(spark, pidx.dir)
    got: dict = {}
    errors: list = []

    def client(i):
        try:
            for j in range(len(mixed)):
                q = mixed[(i + j) % len(mixed)]
                got[(i, q)] = answer(shared, *q)
        except Exception as e:  # surfaced below, with its thread
            errors.append((i, e))

    threads = [threading.Thread(target=client, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    assert len(got) == 8 * len(mixed)
    for (i, q), rows in got.items():
        assert rows == serial[q], f"thread {i}: {q}"


# --------------------------------------------------------------------------
# driver answers cross to the JVM once: the answer frame
# --------------------------------------------------------------------------


def _search(index, model, text, k=20):
    eng = Engine(index, ModelConfig(name=model), tokenizer=CODE_TOKENIZER)
    return eng.search(text, k), eng.last_prune_stats


def test_warm_flat_answer_crosses_to_the_jvm_once(spark, pidx, monkeypatch, jvm_crossings):
    """A warm driver-answered query of every flat serve shape builds no
    Column, makes one createDataFrame call (the answer frame), collects
    nothing and sends no other Py4J command (no idf-log method lookup) while
    it answers; the answer is bitwise the exact plan's."""
    monkeypatch.setenv("SPARK_GRAFT_PRUNE_MIN_BLOCKS", "1")
    for model, text in FLAT_SHAPES:
        monkeypatch.setenv("SPARK_GRAFT_NO_PRUNE", "1")
        exact = [tuple(r) for r in _search(pidx, model, text)[0].collect()]
        monkeypatch.setenv("SPARK_GRAFT_NO_PRUNE", "0")
        _search(pidx, model, text)  # warm: term stats, idf logs, ext-id type
        jvm_crossings.clear()
        res, st = _search(pidx, model, text)
        assert st.score_mode == "driver", text
        assert dict(jvm_crossings) == {"createDataFrame": 1}, (text, jvm_crossings)
        assert [tuple(r) for r in res.collect()] == exact and exact, text


# non-ASCII paths whose UTF-8 byte order (Spark's string order, and Python's
# code-point order) differs from UTF-16 order: U+FF21 sorts before U+1D518
TIE_PATHS = ["a", "Z", "z", "ß", "ä", "é", "ÿ", "中", "Ａ", "\U0001d518", "e\u0301"]


def test_tie_plateau_with_non_ascii_ext_ids(spark, tmp_path, exact_plan, monkeypatch):
    """Plateaus of tied scores cut by k are ordered by ext id exactly as
    the exact plan orders them: an idf-clamped term (every doc ties at 0)
    and a rare term with equal tf and doclen in 33 docs."""
    from search_engine_spark.config import INDRI
    from search_engine_spark.corpus import CODE_DOC_SCHEMA, with_docids

    rows = [
        ("r", f"{p}{j}.py", "c", "py", "rare tie filler" if j < 3 else f"tie x{j} y{j}")
        for p in TIE_PATHS for j in range(5)
    ]
    docs = with_docids(spark.createDataFrame(rows, CODE_DOC_SCHEMA))
    out = str(tmp_path / "ties")
    build_persistent_index(spark, docs, BuildConfig(
        out_dir=out, n_buckets=2, block_size=4, fields={"body": "content"},
        tokenizer=CODE_TOKENIZER,
    ), resume=False)
    index = PackedIndex(spark, out)
    monkeypatch.setenv("SPARK_GRAFT_PRUNE_MIN_BLOCKS", "1")
    for model, text in [(BM25, "tie"), (BM25, "rare tie"), (INDRI, "#AND(rare tie)")]:
        for k in (1, 10, 40):
            with exact_plan():
                exact = [tuple(r) for r in _search(index, model, text, k)[0].collect()]
            res, st = _search(index, model, text, k)
            assert st.score_mode == "driver", text
            assert [tuple(r) for r in res.collect()] == exact and exact, (text, k)


@pytest.mark.parametrize("ext_type", [int, str])
def test_rank_local_orders_like_sorted_tuples(spark, ext_type):
    """``rank_local``'s Arrow ordering equals sorting (docid, ext, score)
    tuples by (-score, ext): plateaus, -0.0 tied with 0.0, negative scores,
    int ext ids ordered numerically and non-ASCII strings by code point."""
    import numpy as np

    from search_engine_spark.engine.topk import rank_local

    rng = np.random.default_rng(3)
    n = 400
    docids = rng.permutation(n).astype(np.int64) + 1
    plateaus = rng.choice([0.0, -0.0, 1.5, 2.25, -1.0, 7.0], n)
    scores = np.where(rng.random(n) < 0.2, plateaus + rng.random(n), plateaus)
    assert np.signbit(scores[scores == 0.0]).any()
    # distinct ext ids: a full (score, ext) tie has no defined order
    ext = {
        int(d): int(d) * 7919 % 100_003 - 50_000 if ext_type is int
        else f"{TIE_PATHS[d % len(TIE_PATHS)]}{d * 7919 % n}"
        for d in docids
    }
    for k in (1, 5, 60, n, n + 10):
        got = rank_local(spark, docids, scores, k, lambda ds: {d: ext[d] for d in ds})
        want = sorted(
            ((int(d), ext[int(d)], float(s)) for d, s in zip(docids, scores)),
            key=lambda r: (-r[2], r[1]),
        )[:k]
        assert [tuple(r) for r in got.collect()] == [
            (i + 1, d, str(e), s) for i, (d, e, s) in enumerate(want)
        ], k
