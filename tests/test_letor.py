"""LeToR (SURVEY.md §2.11): 18 features + per-query min-max normalization +
linear rerank, checked against an independent pure-Python implementation of
hw5/QryEval/FeatureVector.java semantics (incl. the Double.MIN_VALUE
normalization init quirk and the absent-TermVector NaN path), plus the S6
initial-ranking source feeding PRF."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from search_engine_spark.config import BM25, ModelConfig
from search_engine_spark.engine.letor import (
    FEATURE_COLS,
    JAVA_DOUBLE_MAX,
    JAVA_DOUBLE_MIN,
    LetorConfig,
    classify,
    letor_features,
    letor_rerank,
    normalize_features,
    svmrank_lines,
    train_linear_model,
)
from search_engine_spark.engine.runner import Engine
from search_engine_spark.tokenize import CODE_TOKENIZER

NAN = float("nan")


def _close(g: float, w: float) -> bool:
    """Equal up to accumulated log/pow ulps: JVM StrictMath and libm differ
    by ~1 ulp per call, and min-max normalization can amplify the gap by
    1/(max-min); everything else in the feature math is exact. 5e-13 still
    fails loudly on any semantic divergence (those deviate by >1e-6)."""
    if math.isnan(g) or math.isnan(w):
        return math.isnan(g) and math.isnan(w)
    return g == w or math.isclose(g, w, rel_tol=5e-13, abs_tol=1e-12)


QTOKENS = ["lock", "free", "queue", "lock"]  # duplicate exercises positions
FIELDS4 = ("body", "path", "lang", None)  # title/url slots -> path/lang; inlink absent


# ---------------------------------------------------------------------------
# independent python oracle (FeatureVector.java semantics, from scratch)
# ---------------------------------------------------------------------------


def _oracle_features(po, qtokens, docids, nchars, urls, pagerank, cfg):
    N = po.n_docs
    qlen = len(qtokens)
    qset = set(qtokens)
    out = {}
    for d in docids:
        fv = []
        fv.append(float(nchars[d]))                      # f1
        u = urls.get(d)
        fv.append(0.0 if u is None else float(u.count("/")))   # f2
        fv.append(                                        # f3
            0.0 if u is None else (1.0 if "wikipedia.org" in u.lower() else 0.0)
        )
        fv.append(pagerank[d] if d in pagerank else NAN)  # f4
        for fld in cfg.fields4:
            if fld is None or d not in (po.doclen.get(fld) or {}):
                fv += [NAN, NAN, NAN]
                continue
            doclen = po.doclen[fld][d]
            c_len = po.sum_doclen[fld]
            avgdl = po.avgdl(fld)
            doc_terms = sorted(
                t for t, posts in po.post[fld].items() if d in posts
            )
            # BM25: doc-stem walk (lexicographic), UNclamped idf
            s = 0.0
            for t in doc_terms:
                if t in qset:
                    df = po.df(t, fld)
                    idf = math.log((N - df + 0.5) / (df + 0.5))
                    tf = po.post[fld][t][d][0]
                    s += idf * (tf / (tf + cfg.bm25.k1 * ((1 - cfg.bm25.b) + cfg.bm25.b * doclen / avgdl)))
            fv.append(s)
            # Indri: token positions, 0.0 when nothing matches
            s = 1.0
            contain = False
            for t in qtokens:
                ctf = po.ctf(t, fld)
                mle = ctf / c_len
                tf = 0
                if d in po.post[fld].get(t, {}):
                    tf = po.post[fld][t][d][0]
                    contain = True
                s *= ((1 - cfg.indri.lam) * (tf + cfg.indri.mu * mle) / (doclen + cfg.indri.mu)
                      + cfg.indri.lam * mle) ** (1.0 / qlen)
            fv.append(s if contain else 0.0)
            # overlap
            cnt = sum(1.0 for t in qtokens if d in po.post[fld].get(t, {}))
            fv.append(cnt / qlen)
        # f17 / f18 over slot-0 field
        fld = cfg.fields4[0]
        if fld is None or d not in (po.doclen.get(fld) or {}):
            fv += [NAN, NAN]
        else:
            s = 0.0
            for t in qtokens:
                if d in po.post[fld].get(t, {}):
                    tf = po.post[fld][t][d][0]
                    s += tf * math.log((N + 1) / po.df(t, fld))
            fv.append(s)
            num, den = 0.0, 1.0
            for t in qtokens:
                if d in po.post[fld].get(t, {}):
                    num += math.log(po.post[fld][t][d][0]) + 1
                    den += math.log(po.doclen[fld][d]) + 1
            fv.append(num / den)
        for j in cfg.disable:
            fv[j - 1] = NAN
        out[d] = fv
    return out


def _oracle_normalize(fvs: dict, disable):
    docids = list(fvs)
    out = {d: list(v) for d, v in fvs.items()}
    for j in range(18):
        if (j + 1) in disable:
            for d in docids:
                out[d][j] = 0.0
            continue
        mx, mn = JAVA_DOUBLE_MIN, JAVA_DOUBLE_MAX
        for d in docids:
            v = fvs[d][j]
            if not math.isnan(v):
                mx = max(mx, v)
                mn = min(mn, v)
        if mx == mn:
            for d in docids:
                out[d][j] = 0.0
        else:
            for d in docids:
                v = fvs[d][j]
                out[d][j] = 0.0 if math.isnan(v) else (v - mn) / (mx - mn)
    return out


# ---------------------------------------------------------------------------
# fixtures: candidates + side tables over the code corpus
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def letor_setup(spark, code_docs, code_index, py_oracle):
    eng = Engine(code_index, ModelConfig(name=BM25), tokenizer=CODE_TOKENIZER)
    cands = [r["docid"] for r in eng.search("lock free queue", 25).collect()]
    meta_rows = code_docs.select(
        "docid", F.length("content").alias("nchars"), "path"
    ).collect()
    nchars = {r["docid"]: r["nchars"] for r in meta_rows}
    urls = {r["docid"]: r["path"] for r in meta_rows}
    # all-NEGATIVE pageranks (like real log-pageranks) exercise the Java
    # Double.MIN_VALUE max-init quirk; odd docids missing -> NaN path
    pagerank = {d: -1.0 - (d % 7) / 7.0 for d in cands if d % 2 == 0}
    docs_meta = code_docs.select(
        "docid", F.length("content").alias("nchars"), F.col("path").alias("url")
    )
    pr_df = spark.createDataFrame(
        [(d, s) for d, s in pagerank.items()], "docid long, pagerank double"
    )
    return eng, cands, nchars, urls, pagerank, docs_meta, pr_df


def _spark_features(spark, code_index, cands, docs_meta, pr_df, cfg):
    return letor_features(
        spark, code_index, QTOKENS, cands, cfg,
        docs_meta=docs_meta, f1_col="nchars", url_col="url", pagerank=pr_df,
    )


def test_letor_features_raw_match_oracle(spark, code_index, py_oracle, letor_setup):
    eng, cands, nchars, urls, pagerank, docs_meta, pr_df = letor_setup
    cfg = LetorConfig(fields4=FIELDS4)
    got = {
        r["docid"]: [r[c] for c in FEATURE_COLS]
        for r in _spark_features(spark, code_index, cands, docs_meta, pr_df, cfg).collect()
    }
    want = _oracle_features(py_oracle, QTOKENS, cands, nchars, urls, pagerank, cfg)
    assert set(got) == set(want)
    for d in cands:
        for j in range(18):
            g, w = got[d][j], want[d][j]
            assert _close(g, w), (d, j + 1, g, w)


def test_letor_normalized_match_oracle(spark, code_index, py_oracle, letor_setup):
    eng, cands, nchars, urls, pagerank, docs_meta, pr_df = letor_setup
    disable = frozenset({3, 9, 17})
    cfg = LetorConfig(fields4=FIELDS4, disable=disable)
    raw = _spark_features(spark, code_index, cands, docs_meta, pr_df, cfg)
    got = {
        r["docid"]: [r[c] for c in FEATURE_COLS]
        for r in normalize_features(raw, disable).collect()
    }
    want = _oracle_normalize(
        _oracle_features(py_oracle, QTOKENS, cands, nchars, urls, pagerank, cfg),
        disable,
    )
    for d in cands:
        for j in range(18):
            assert _close(got[d][j], want[d][j]), (d, j + 1, got[d][j], want[d][j])
    # disabled features are all-zero; f8-f16 exist (multi-field corpus)
    for d in cands:
        assert got[d][2] == 0.0 and got[d][8] == 0.0 and got[d][16] == 0.0


def test_letor_rerank_matches_oracle_order(spark, code_index, py_oracle, letor_setup):
    eng, cands, nchars, urls, pagerank, docs_meta, pr_df = letor_setup
    cfg = LetorConfig(fields4=FIELDS4)
    weights = [((j * 37) % 11 - 5) / 7.0 for j in range(18)]  # fixed, signed
    res = letor_rerank(
        spark, code_index, QTOKENS, cands, weights, cfg, k=25,
        docs_meta=docs_meta, f1_col="nchars", url_col="url", pagerank=pr_df,
    ).collect()
    want_fv = _oracle_normalize(
        _oracle_features(py_oracle, QTOKENS, cands, nchars, urls, pagerank, cfg),
        cfg.disable,
    )
    scored = []
    for d, fv in want_fv.items():
        s = sum(w * v for w, v in zip(weights, fv))
        scored.append((d, 0.0 if math.isnan(s) else s))
    scored.sort(key=lambda t: (-t[1], py_oracle.ext[t[0]]))
    got = [(r["docid"], r["score"]) for r in res]
    assert [d for d, _ in got] == [d for d, _ in scored[:25]]
    assert all(_close(g, w) for (_, g), (_, w) in zip(got, scored[:25]))


def test_svmrank_line_format(spark, code_index, letor_setup):
    eng, cands, *_rest, docs_meta, pr_df = letor_setup
    cfg = LetorConfig(fields4=FIELDS4)
    raw = _spark_features(spark, code_index, cands[:3], docs_meta, pr_df, cfg)
    norm = normalize_features(raw, cfg.disable)
    rows = [
        dict(r.asDict(), ext_docid=f"ext{r['docid']}") for r in norm.collect()
    ]
    lines = svmrank_lines(rows, "7", labels={rows[0]["docid"]: 2})
    assert lines[0].startswith("2 qid:7 1:")
    assert all(" # ext" in ln and len(ln.split(" ")) == 22 for ln in lines)


def test_train_and_rerank_smoke(spark, code_index, letor_setup):
    eng, cands, *_rest, docs_meta, pr_df = letor_setup
    cfg = LetorConfig(fields4=FIELDS4)
    raw = _spark_features(spark, code_index, cands, docs_meta, pr_df, cfg)
    norm = normalize_features(raw, cfg.disable)
    labels = spark.createDataFrame(
        [(d, 1 if i < 8 else 0) for i, d in enumerate(cands)], "docid long, rel int"
    )
    weights = train_linear_model(norm, labels, max_iter=20)
    assert len(weights) == 18 and any(w != 0.0 for w in weights)
    res = classify(norm, weights).collect()
    assert len(res) == len(cands) and all(not math.isnan(r["score"]) for r in res)


def test_letor_local_path_equals_distributed(spark, code_index, letor_setup):
    """The single-query fast path (letor_features_local + normalize_features_
    local + classify_local) must match the distributed column-expression path
    up to log/pow ulps (JVM StrictMath vs libm — the driver-gate oracle
    compares the local path against DuckDB's libm bitwise after f32
    rounding); fold order is identical so everything else is exact."""
    from search_engine_spark.engine.letor import (
        classify_local, letor_features_local, normalize_features_local,
    )

    eng, cands, _nchars, _urls, _pagerank, docs_meta, pr_df = letor_setup
    disable = frozenset({4, 11})
    cfg = LetorConfig(fields4=FIELDS4, disable=disable)
    dist_raw = _spark_features(spark, code_index, cands, docs_meta, pr_df, cfg)
    dist = {
        r["docid"]: [r[c] for c in FEATURE_COLS]
        for r in normalize_features(dist_raw, disable).collect()
    }
    loc_raw = letor_features_local(
        spark, code_index, QTOKENS, cands, cfg,
        docs_meta=docs_meta, f1_col="nchars", url_col="url", pagerank=pr_df,
    )
    loc = {
        r["docid"]: [r[c] for c in FEATURE_COLS]
        for r in normalize_features_local(loc_raw, disable)
    }
    assert set(dist) == set(loc)
    for d in cands:
        for j in range(18):
            assert _close(dist[d][j], loc[d][j]), (d, j + 1, dist[d][j], loc[d][j])

    weights = [((j * 37) % 11 - 5) / 7.0 for j in range(18)]
    dist_scores = {
        r["docid"]: r["score"]
        for r in classify(normalize_features(dist_raw, disable), weights).collect()
    }
    loc_scores = {
        r["docid"]: r["score"]
        for r in classify_local(normalize_features_local(loc_raw, disable), weights)
    }
    assert set(dist_scores) == set(loc_scores)
    assert all(_close(dist_scores[d], loc_scores[d]) for d in dist_scores)


# ---------------------------------------------------------------------------
# S6: initial-ranking source feeding PRF
# ---------------------------------------------------------------------------


def test_initial_ranking_source_feeds_prf(spark, code_index):
    from search_engine_spark.config import INDRI
    from search_engine_spark.engine.expand import FbParams, search_expanded
    from search_engine_spark.engine.sources import parse_trec_run, resolve_run
    from search_engine_spark.engine.topk import trec_lines

    eng = Engine(code_index, ModelConfig(name=INDRI), tokenizer=CODE_TOKENIZER)
    p = FbParams(fb_docs=5, fb_terms=6, fb_mu=0.0, fb_orig_weight=0.5)
    query = "ring buffer slot"

    # produce a TREC run of the initial ranking, parse it back (S6), and
    # verify PRF through the file path equals PRF through live evaluation
    rows = [r.asDict() for r in eng.search(query, p.fb_docs).collect()]
    lines = trec_lines("42", rows)
    run = resolve_run(parse_trec_run(lines), code_index.doc_ids)
    assert [d for d, _e, _s in run["42"]] == [r["docid"] for r in rows]

    direct, learned_d, _ = search_expanded(eng, query, p, k=20)
    via_file, learned_f, _ = search_expanded(eng, query, p, k=20, initial=run["42"])
    assert learned_d == learned_f
    assert [
        (r["rank"], r["docid"], r["score"]) for r in direct.collect()
    ] == [(r["rank"], r["docid"], r["score"]) for r in via_file.collect()]


# ---------------------------------------------------------------------------
# letor:pageRankFile reader (QryEval.java:216-224)
# ---------------------------------------------------------------------------


def test_read_pagerank_file(spark, code_index, letor_setup, tmp_path):
    """The reference's externalId<TAB>score side file parses into the
    (docid, pagerank) frame letor_features consumes: features computed via
    the file path are identical to features via the literal frame,
    including the missing-doc NaN path (ids absent from the file) and
    unknown external ids dropping out."""
    from search_engine_spark.engine.letor import read_pagerank_file

    eng, cands, nchars, urls, pagerank, docs_meta, pr_df = letor_setup
    ext_of = {
        r["docid"]: r["ext_docid"]
        for r in code_index.doc_ids.where(
            F.col("docid").isin(list(pagerank))
        ).collect()
    }
    path = tmp_path / "pagerank.tsv"
    body = "".join(f"{ext_of[d]}\t{s}\n" for d, s in pagerank.items())
    body += "no/such:doc@deadbeef\t-9.9\n"  # unknown ext id -> dropped
    path.write_text(body)

    got_df = read_pagerank_file(spark, str(path), code_index.doc_ids)
    got = {r["docid"]: r["pagerank"] for r in got_df.collect()}
    assert got == pagerank

    cfg = LetorConfig(fields4=FIELDS4)
    via_file = {
        r["docid"]: [r[c] for c in FEATURE_COLS]
        for r in _spark_features(
            spark, code_index, cands, docs_meta, got_df, cfg
        ).collect()
    }
    via_frame = {
        r["docid"]: [r[c] for c in FEATURE_COLS]
        for r in _spark_features(
            spark, code_index, cands, docs_meta, pr_df, cfg
        ).collect()
    }
    assert set(via_file) == set(via_frame)
    for d, vals in via_frame.items():
        for j, (g, w) in enumerate(zip(via_file[d], vals)):
            assert _close(g, w) or (math.isnan(g) and math.isnan(w)), (d, j + 1)


def test_read_pagerank_file_last_line_wins(spark, code_index, tmp_path):
    """An ext id listed more than once keeps its last line's score, one row
    per doc (the reference reads the file with HashMap.put)."""
    from search_engine_spark.engine.letor import read_pagerank_file

    rows = code_index.doc_ids.orderBy("docid").limit(2).collect()
    a, b = rows[0]["ext_docid"], rows[1]["ext_docid"]
    path = tmp_path / "dup_pagerank.tsv"
    path.write_text(f"{a}\t-1.0\n{b}\t-2.0\n{a}\t-3.0\n{a}\t-4.5\n")
    got = [(r["docid"], r["pagerank"]) for r in read_pagerank_file(
        spark, str(path), code_index.doc_ids
    ).collect()]
    assert sorted(got) == [(rows[0]["docid"], -4.5), (rows[1]["docid"], -2.0)]


def test_letor_job_rejects_query_line_without_colon(tmp_path):
    """jobs/letor_features.py names a malformed query line instead of
    failing on a tuple unpack."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "letor_job",
        os.path.join(os.path.dirname(os.path.dirname(__file__)), "jobs", "letor_features.py"),
    )
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)
    path = tmp_path / "queries.txt"
    path.write_text("1:lock free\n\n2 ring buffer\n")
    with pytest.raises(ValueError, match=r"queries.txt:3: query line '2 ring buffer'"):
        job.read_queries(str(path))
    path.write_text("1:lock free\n7:a:b\n")
    assert job.read_queries(str(path)) == [("1", "lock free"), ("7", "a:b")]
