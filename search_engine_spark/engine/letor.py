"""Learning-to-rank surface (SURVEY.md §2.11) — 18 features, per-query
min-max normalization, linear rerank.

Reference: ``hw5/QryEval/FeatureVector.java`` (features :27-252, BM25
:371-407, Indri :327-355, overlap :357-369, tf·idf :307-325, doclen-norm
:254-278, url helpers :409-431, normalization :434-488) and the LeToR driver
loop ``hw5/QryEval/QryEval.java:209-558`` (pagerank load :216-224, disable
mask :226-240, candidate cut min(100, n) :424, SVM classify + NaN→0
:517-537).

Semantics replicated exactly (all raw doubles; every feature is a column
expression over the same stats tables the retrieval models use):

- f1  stored numeric doc field (reference: spam score) — NaN when absent
- f2  URL depth = count of '/' in the raw-url column (null url → 0.0)
- f3  1.0 if lowercased url contains "wikipedia.org" else 0.0 (null → 0.0)
- f4  PageRank side-channel score; NaN when the doc has no entry
- f5/f8/f11/f14  BM25 over field slot 0..3: Σ over the doc's MATCHED stems
  in lexicographic stem order (Lucene TermsEnum iterates terms sorted — the
  reference walks the TermVector) of idf·tfW with UNclamped
  idf = ln((N-df+0.5)/(df+0.5)) — FeatureVector.java:396 has no max(0,·),
  unlike QryopSlScore. Duplicate query tokens count ONCE (doc-stem walk).
- f6/f9/f12/f15  Indri: ∏ over query-token POSITIONS (duplicates count each)
  of pow((1-λ)(tf+µ·mle)/(doclen+µ)+λ·mle, 1/|q|); 0.0 if the doc contains
  no query token (:352-353)
- f7/f10/f13/f16  term overlap |q∩d|/|q| over token positions
- f17 Σ tf·ln((N+1)/df) over query-token positions (body field)
- f18 (Σ ln(tf)+1) / (1 + Σ ln(doclen)+1) over MATCHED query-token positions
- a field slot whose doc has NO terms (TermVector ctor throws) → NaN for
  that slot's three features; a disabled feature → NaN
- normalization per query (:453-488): min/max over non-NaN values with
  Java's init quirk — ``max`` starts at Double.MIN_VALUE (the smallest
  POSITIVE double, 4.9e-324), so an all-negative feature normalizes against
  max≈0; max==min → all 0.0; NaN → 0.0; disabled → all 0.0
- classify: linear model w·x (the SVMrank model file is a weight vector);
  "nan" score → 0.0 (QryEval.java:523-524); rerank sorts desc-score,
  asc-external-id like printResults

Spark shape: candidates are ≤100 docs per query (QryEval.java:424), so the
feature frame is a broadcast-sized base joined against ONE bucket-pruned
postings pivot per field slot — scan → pivot aggregate → codegen'd feature
expressions; no per-row Python anywhere.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field as dc_field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from search_engine_spark.config import BM25Params, IndriParams, ModelConfig
from search_engine_spark.engine.ops import EvalContext
from search_engine_spark.engine.topk import rank_topk
from search_engine_spark.index.persist import PackedIndex

# Java double limits (FeatureVector.java:456-457 init values)
JAVA_DOUBLE_MIN = 4.9406564584124654e-324  # Double.MIN_VALUE (positive!)
JAVA_DOUBLE_MAX = 1.7976931348623157e308

NAN = float("nan")
N_FEATURES = 18
FEATURE_COLS = [f"f{j}" for j in range(1, N_FEATURES + 1)]


@dataclass
class LetorConfig:
    """Parameter surface of the LeToR path (QryEval.java:209-264)."""

    bm25: BM25Params = dc_field(default_factory=BM25Params)
    indri: IndriParams = dc_field(default_factory=IndriParams)
    # field slots 0..3 == the reference's body/title/url/inlink; None = the
    # index has no such field -> that slot's features are NaN (-> 0 after
    # normalization), exactly like an absent TermVector
    fields4: tuple = ("body", None, None, None)
    # 1-based feature numbers to DISABLE (letor:featureDisable,
    # QryEval.java:226-240); disabled -> NaN -> 0.0 after normalization
    disable: frozenset = frozenset()


def _nan_if_null(c: Column) -> Column:
    return F.when(c.isNull(), F.lit(NAN)).otherwise(c.cast("double"))


def letor_features(
    spark: SparkSession,
    index: PackedIndex,
    qtokens: list[str],
    docids: list[int],
    cfg: LetorConfig,
    docs_meta: DataFrame | None = None,
    f1_col: str | None = None,
    url_col: str | None = None,
    pagerank: DataFrame | None = None,
) -> DataFrame:
    """RAW (un-normalized) feature frame: (docid, f1..f18) doubles.

    ``docids``: the candidate docs (≤100 per query per QryEval.java:424).
    ``docs_meta``: (docid, <f1_col>, <url_col>) stored-field source.
    ``pagerank``: (docid, pagerank) side table (letor:pageRankFile analog).
    """
    if not docids:
        raise ValueError("empty candidate set")
    ctx = EvalContext(index, ModelConfig())
    n_docs = index.corpus.n_docs
    qlen = len(qtokens)
    distinct_tokens = list(dict.fromkeys(qtokens))

    base = spark.createDataFrame([(int(d),) for d in docids], "docid long")

    # ---- doc-meta features f1-f4 ----------------------------------------
    if docs_meta is not None:
        meta_cols = ["docid"]
        if f1_col:
            meta_cols.append(f1_col)
        if url_col:
            meta_cols.append(url_col)
        base = base.join(
            F.broadcast(
                docs_meta.select(*meta_cols).where(F.col("docid").isin(docids))
            ),
            "docid",
            "left",
        )
    if pagerank is not None:
        base = base.join(
            F.broadcast(
                pagerank.select("docid", "pagerank").where(F.col("docid").isin(docids))
            ),
            "docid",
            "left",
        )

    feat: dict[str, Column] = {}
    feat["f1"] = _nan_if_null(F.col(f1_col)) if f1_col else F.lit(NAN)
    if url_col:
        u = F.col(url_col)
        feat["f2"] = F.when(u.isNull(), 0.0).otherwise(
            (F.length(u) - F.length(F.regexp_replace(u, "/", ""))).cast("double")
        )
        feat["f3"] = F.when(u.isNull(), 0.0).otherwise(
            F.when(F.lower(u).contains("wikipedia.org"), 1.0).otherwise(0.0)
        )
    else:
        feat["f2"] = F.lit(0.0)
        feat["f3"] = F.lit(0.0)
    feat["f4"] = (
        _nan_if_null(F.col("pagerank")) if pagerank is not None else F.lit(NAN)
    )

    # ---- per-field-slot retrieval features ------------------------------
    for slot, fld in enumerate(cfg.fields4):
        fnums = (5 + 3 * slot, 6 + 3 * slot, 7 + 3 * slot)
        if fld is None or fld not in index.corpus.by_field:
            for fn in fnums:
                feat[f"f{fn}"] = F.lit(NAN)
            continue
        pairs = [(t, fld) for t in distinct_tokens]
        ctx.prefetch_terms(set(pairs))
        tf_of = {}
        scan = index.postings_for(pairs).where(F.col("docid").isin(docids))
        aggs = [
            F.max(F.when(F.col("term") == t, F.col("tf")))
            .cast("double")
            .alias(f"_tf_{slot}_{i}")
            for i, t in enumerate(distinct_tokens)
        ]
        piv = scan.groupBy("docid").agg(*aggs)
        base = base.join(F.broadcast(piv), "docid", "left")
        for i, t in enumerate(distinct_tokens):
            tf_of[t] = F.col(f"_tf_{slot}_{i}")
        dl_col = f"_dl_{slot}"
        base = base.join(
            F.broadcast(
                index.doc_stats.where(
                    (F.col("field") == fld) & F.col("docid").isin(docids)
                ).select("docid", F.col("doclen").cast("double").alias(dl_col))
            ),
            "docid",
            "left",
        )
        dl = F.col(dl_col)
        tv_exists = dl.isNotNull()

        avgdl = index.corpus.avgdl(fld)
        c_len = float(index.corpus.sum_doclen(fld))
        k1, b = cfg.bm25.k1, cfg.bm25.b
        mu, lam = cfg.indri.mu, cfg.indri.lam

        # BM25 (FeatureVector.java:371-407): doc-stem walk == matched
        # distinct tokens in lexicographic order; UNclamped idf
        bm25_acc = F.lit(0.0)
        for t in sorted(set(distinct_tokens)):
            df_t, _ = ctx.term_stat(t, fld)
            if df_t == 0:
                continue  # term absent from the index: no stem can match it
            idf = F.log(F.lit((n_docs - df_t + 0.5) / (df_t + 0.5)))
            tf = tf_of[t]
            tfw = tf / (tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * dl / F.lit(avgdl)))
            bm25_acc = bm25_acc + F.when(tf.isNotNull(), idf * tfw).otherwise(0.0)
        feat[f"f{fnums[0]}"] = F.when(tv_exists, bm25_acc).otherwise(F.lit(NAN))

        # Indri (:327-355): token POSITIONS in query order, defaults for
        # missing tokens, 0.0 when no token matches
        prod = F.lit(1.0)
        any_present = F.lit(False)
        for t in qtokens:
            _, ctf_t = ctx.term_stat(t, fld)
            mle = ctf_t / c_len
            tf0 = F.coalesce(tf_of[t], F.lit(0.0))
            s = (
                F.lit(1.0 - lam) * (tf0 + F.lit(mu) * F.lit(mle)) / (dl + F.lit(mu))
                + F.lit(lam) * F.lit(mle)
            )
            prod = prod * F.pow(s, F.lit(1.0 / qlen))
            any_present = any_present | tf_of[t].isNotNull()
        feat[f"f{fnums[1]}"] = F.when(
            tv_exists, F.when(any_present, prod).otherwise(0.0)
        ).otherwise(F.lit(NAN))

        # term overlap (:357-369): |q∩d| / |q| over token positions
        cnt = F.lit(0.0)
        for t in qtokens:
            cnt = cnt + F.when(tf_of[t].isNotNull(), 1.0).otherwise(0.0)
        feat[f"f{fnums[2]}"] = F.when(tv_exists, cnt / F.lit(float(qlen))).otherwise(
            F.lit(NAN)
        )

        if slot == 0:
            # f17 tf·idf (:307-325), idf = ln((N+1)/df), token positions
            acc17 = F.lit(0.0)
            for t in qtokens:
                df_t, _ = ctx.term_stat(t, fld)
                if df_t == 0:
                    acc17 = acc17 + F.lit(0.0)
                    continue
                idf17 = F.log(F.lit((n_docs + 1.0) / df_t))
                acc17 = acc17 + F.when(
                    tf_of[t].isNotNull(), tf_of[t] * idf17
                ).otherwise(0.0)
            feat["f17"] = F.when(tv_exists, acc17).otherwise(F.lit(NAN))

            # f18 doclen-normalized (:254-278): numerator Σ ln(tf)+1,
            # denominator 1 + Σ ln(doclen)+1, matched tokens only
            num = F.lit(0.0)
            den = F.lit(1.0)
            for t in qtokens:
                hit = tf_of[t].isNotNull()
                num = num + F.when(hit, F.log(tf_of[t]) + F.lit(1.0)).otherwise(0.0)
                den = den + F.when(hit, F.log(dl) + F.lit(1.0)).otherwise(0.0)
            feat["f18"] = F.when(tv_exists, num / den).otherwise(F.lit(NAN))

    if "f17" not in feat:  # no body slot configured
        feat["f17"] = F.lit(NAN)
        feat["f18"] = F.lit(NAN)

    # disabled features -> NaN at creation (FeatureVector.java createFV
    # else-branches); normalization later zeroes them
    for j in cfg.disable:
        feat[f"f{j}"] = F.lit(NAN)

    return base.select(
        "docid", *[feat[c].alias(c) for c in FEATURE_COLS]
    )


def normalize_features(
    feats: DataFrame, disable: frozenset = frozenset(), qid_col: str | None = None
) -> DataFrame:
    """Per-query min-max normalization (FeatureVector.java:453-488) with the
    Java init quirk: max starts at Double.MIN_VALUE (positive 4.9e-324), min
    at Double.MAX_VALUE; min/max ignore NaN; max==min → all 0; NaN → 0;
    disabled → all 0."""
    keys = [qid_col] if qid_col else []
    aggs = []
    for c in FEATURE_COLS:
        non_nan = F.when(~F.isnan(F.col(c)), F.col(c))
        aggs.append(F.max(non_nan).alias(f"_mx_{c}"))
        aggs.append(F.min(non_nan).alias(f"_mn_{c}"))
    if keys:
        stats = feats.groupBy(*keys).agg(*aggs)
        joined = feats.join(F.broadcast(stats), keys)
    else:
        stats = feats.agg(*aggs)
        joined = feats.crossJoin(F.broadcast(stats))

    out_cols = []
    for j, c in enumerate(FEATURE_COLS, start=1):
        if j in disable:
            out_cols.append(F.lit(0.0).alias(c))
            continue
        x = F.col(c)
        mx = F.greatest(
            F.coalesce(F.col(f"_mx_{c}"), F.lit(JAVA_DOUBLE_MIN)),
            F.lit(JAVA_DOUBLE_MIN),
        )
        mn = F.least(
            F.coalesce(F.col(f"_mn_{c}"), F.lit(JAVA_DOUBLE_MAX)),
            F.lit(JAVA_DOUBLE_MAX),
        )
        norm = F.when(mx == mn, 0.0).otherwise(
            F.when(F.isnan(x), 0.0).otherwise((x - mn) / (mx - mn))
        )
        out_cols.append(norm.alias(c))
    keep = keys + ["docid"]
    return joined.select(*keep, *out_cols)


def classify(feats: DataFrame, weights: list[float]) -> DataFrame:
    """Linear model scores = w·x (the SVMrank classify analog); NaN → 0.0
    (QryEval.java:523-524). Returns (docid, score) [+ qid if present]."""
    if len(weights) != N_FEATURES:
        raise ValueError(f"need {N_FEATURES} weights")
    acc = F.lit(0.0)
    for w, c in zip(weights, FEATURE_COLS):
        acc = acc + F.lit(float(w)) * F.col(c)
    score = F.when(F.isnan(acc), 0.0).otherwise(acc)
    keep = [c for c in ("qid", "docid") if c in feats.columns]
    return feats.select(*keep, score.alias("score"))


def read_pagerank_file(spark: SparkSession, path: str, doc_ids: DataFrame) -> DataFrame:
    """Parse the reference's ``letor:pageRankFile`` format — one
    ``externalId<TAB>score`` line per doc, read into a
    HashMap<String, Double> at hw5/QryEval/QryEval.java:216-224 — into the
    (docid, pagerank) side table ``letor_features`` consumes.

    The ext→internal resolution is a join against the doc_ids dimension
    (the reference's map is keyed by external id; our feature frame is
    docid-keyed), left DISTRIBUTED: at 10^10 docs both the side file and
    the dimension are large, so neither side broadcasts — AQE picks the
    join strategy. External ids absent from the index simply drop out, and
    docs absent from the file get no row (letor_features' left join then
    yields the NaN→0 quirk, exactly the reference's null HashMap lookup).
    An ext id listed twice keeps its LAST line's score (``HashMap.put``):
    monotonically_increasing_id grows in file order (partition index in
    the high bits, row within the split below)."""
    pr = (
        spark.read.csv(path, sep="\t", schema="ext_docid string, pagerank double")
        .withColumn("_line", F.monotonically_increasing_id())
        .groupBy("ext_docid")
        .agg(F.max_by("pagerank", "_line").alias("pagerank"))
    )
    return pr.join(doc_ids.select("docid", "ext_docid"), "ext_docid").select(
        "docid", "pagerank"
    )


def letor_rerank(
    spark: SparkSession,
    index: PackedIndex,
    qtokens: list[str],
    candidates: list[int],
    weights: list[float],
    cfg: LetorConfig,
    k: int = 100,
    **feature_kwargs,
) -> DataFrame:
    """Candidates -> features -> normalize -> linear classify -> re-rank
    (desc score, asc external id — printResults semantics)."""
    raw = letor_features(spark, index, qtokens, candidates, cfg, **feature_kwargs)
    norm = normalize_features(raw, cfg.disable)
    scored = classify(norm, weights)
    return rank_topk(scored, index.doc_ids, k, n_docs=index.corpus.n_docs)


# --------------------------------------------------------------------------
# single-query fast path
# --------------------------------------------------------------------------
#
# The distributed letor_features above accretes one broadcast join per field
# slot + doclen + meta + pagerank and normalize_features adds a stats agg —
# ~10 chained Spark jobs for a candidate set that is ≤100 rows BY CONSTRUCTION
# (QryEval.java:424's min(100, n) cut). The reference itself computes every
# feature driver-side per doc (FeatureVector.java walks TermVectors in plain
# Java); the only genuinely distributed work is FETCHING the per-doc stats.
# This path keeps that split: ONE fused postings scan over every (term, slot)
# pair + one doc_stats scan + the meta/pagerank lookups, collected
# concurrently, then the ≤100-row feature algebra / min-max normalization /
# linear classify in plain Python with EXPRESSION-IDENTICAL association to
# the column expressions above (asserted equal in tests/test_letor.py), so
# results stay bitwise interchangeable with the distributed path.


def letor_features_local(
    spark: SparkSession,
    index: PackedIndex,
    qtokens: list[str],
    docids: list[int],
    cfg: LetorConfig,
    docs_meta: DataFrame | None = None,
    f1_col: str | None = None,
    url_col: str | None = None,
    pagerank: DataFrame | None = None,
) -> list[dict]:
    """RAW feature rows [{docid, f1..f18}] — same semantics as
    ``letor_features`` (see module docstring), computed driver-side from
    concurrently-collected per-doc stats."""
    if not docids:
        raise ValueError("empty candidate set")
    ctx = EvalContext(index, ModelConfig())
    n_docs = index.corpus.n_docs
    qlen = len(qtokens)
    distinct_tokens = list(dict.fromkeys(qtokens))
    slot_fields = [
        f for f in cfg.fields4 if f is not None and f in index.corpus.by_field
    ]
    pairs = [(t, f) for f in dict.fromkeys(slot_fields) for t in distinct_tokens]
    if pairs:
        ctx.prefetch_terms(set(pairs))

    from concurrent.futures import ThreadPoolExecutor

    def fetch_tf():
        if not pairs:
            return {}
        rows = (
            index.postings_for(pairs)
            .where(F.col("docid").isin(docids))
            .select("docid", "field", "term", "tf")
            .collect()
        )
        return {(r["docid"], r["field"], r["term"]): float(r["tf"]) for r in rows}

    def fetch_dl():
        if not slot_fields:
            return {}
        rows = (
            index.doc_stats.where(
                F.col("field").isin(slot_fields) & F.col("docid").isin(docids)
            )
            .select("docid", "field", "doclen")
            .collect()
        )
        return {(r["docid"], r["field"]): float(r["doclen"]) for r in rows}

    def fetch_meta():
        if docs_meta is None:
            return {}
        cols = ["docid"] + [c for c in (f1_col, url_col) if c]
        rows = (
            docs_meta.select(*cols).where(F.col("docid").isin(docids)).collect()
        )
        return {r["docid"]: r.asDict() for r in rows}

    def fetch_pr():
        if pagerank is None:
            return {}
        rows = (
            pagerank.select("docid", "pagerank")
            .where(F.col("docid").isin(docids))
            .collect()
        )
        return {r["docid"]: r["pagerank"] for r in rows}

    with ThreadPoolExecutor(max_workers=4) as pool:
        f_tf = pool.submit(fetch_tf)
        f_dl = pool.submit(fetch_dl)
        f_meta = pool.submit(fetch_meta)
        f_pr = pool.submit(fetch_pr)
        tf_map, dl_map, meta_map, pr_map = (
            f_tf.result(), f_dl.result(), f_meta.result(), f_pr.result(),
        )

    k1, b = cfg.bm25.k1, cfg.bm25.b
    mu, lam = cfg.indri.mu, cfg.indri.lam
    out_rows: list[dict] = []
    for d in docids:
        d = int(d)
        meta = meta_map.get(d, {})
        feat: dict[str, float] = {}
        # f1-f4 (doc-meta features; see letor_features)
        v1 = meta.get(f1_col) if f1_col else None
        feat["f1"] = float(v1) if v1 is not None else NAN
        url = meta.get(url_col) if url_col else None
        if url_col:
            feat["f2"] = float(url.count("/")) if url is not None else 0.0
            feat["f3"] = (
                (1.0 if "wikipedia.org" in url.lower() else 0.0)
                if url is not None
                else 0.0
            )
        else:
            feat["f2"] = 0.0
            feat["f3"] = 0.0
        if pagerank is not None:
            pr = pr_map.get(d)
            feat["f4"] = float(pr) if pr is not None else NAN
        else:
            feat["f4"] = NAN

        for slot, fld in enumerate(cfg.fields4):
            fnums = (5 + 3 * slot, 6 + 3 * slot, 7 + 3 * slot)
            if fld is None or fld not in index.corpus.by_field:
                for fn in fnums:
                    feat[f"f{fn}"] = NAN
                continue
            dl = dl_map.get((d, fld))
            tv_exists = dl is not None

            def tf_of(t: str) -> float | None:
                return tf_map.get((d, fld, t))

            avgdl = index.corpus.avgdl(fld)
            c_len = float(index.corpus.sum_doclen(fld))

            # BM25: sorted-distinct fold, unclamped idf (letor_features)
            if tv_exists:
                acc = 0.0
                for t in sorted(set(distinct_tokens)):
                    df_t, _ = ctx.term_stat(t, fld)
                    if df_t == 0:
                        continue
                    tf = tf_of(t)
                    if tf is not None:
                        idf = math.log((n_docs - df_t + 0.5) / (df_t + 0.5))
                        acc = acc + idf * (
                            tf / (tf + k1 * ((1.0 - b) + b * dl / avgdl))
                        )
                    else:
                        acc = acc + 0.0
                feat[f"f{fnums[0]}"] = acc
            else:
                feat[f"f{fnums[0]}"] = NAN

            # Indri: token-position fold, defaults for missing tokens
            if tv_exists:
                prod = 1.0
                any_present = False
                for t in qtokens:
                    _, ctf_t = ctx.term_stat(t, fld)
                    mle = ctf_t / c_len
                    tf0 = tf_of(t)
                    present = tf0 is not None
                    tf0 = tf0 if present else 0.0
                    s = (1.0 - lam) * (tf0 + mu * mle) / (dl + mu) + lam * mle
                    prod = prod * math.pow(s, 1.0 / qlen)
                    any_present = any_present or present
                feat[f"f{fnums[1]}"] = prod if any_present else 0.0
            else:
                feat[f"f{fnums[1]}"] = NAN

            # term overlap over token positions
            if tv_exists:
                cnt = 0.0
                for t in qtokens:
                    cnt = cnt + (1.0 if tf_of(t) is not None else 0.0)
                feat[f"f{fnums[2]}"] = cnt / float(qlen)
            else:
                feat[f"f{fnums[2]}"] = NAN

            if slot == 0:
                if tv_exists:
                    acc17 = 0.0
                    for t in qtokens:
                        df_t, _ = ctx.term_stat(t, fld)
                        if df_t == 0:
                            acc17 = acc17 + 0.0
                            continue
                        tf = tf_of(t)
                        acc17 = acc17 + (
                            tf * math.log((n_docs + 1.0) / df_t)
                            if tf is not None
                            else 0.0
                        )
                    feat["f17"] = acc17
                    num, den = 0.0, 1.0
                    for t in qtokens:
                        tf = tf_of(t)
                        if tf is not None:
                            num = num + (math.log(tf) + 1.0)
                            den = den + (math.log(dl) + 1.0)
                        else:
                            num = num + 0.0
                            den = den + 0.0
                    feat["f18"] = num / den
                else:
                    feat["f17"] = NAN
                    feat["f18"] = NAN

        if "f17" not in feat:
            feat["f17"] = NAN
            feat["f18"] = NAN
        for j in cfg.disable:
            feat[f"f{j}"] = NAN
        out_rows.append({"docid": d, **{c: feat[c] for c in FEATURE_COLS}})
    return out_rows


def normalize_features_local(
    rows: list[dict], disable: frozenset = frozenset()
) -> list[dict]:
    """Driver-side twin of ``normalize_features`` (same Java init quirk)."""
    out = [dict(r) for r in rows]
    for c in FEATURE_COLS:
        j = int(c[1:])
        if j in disable:
            for r in out:
                r[c] = 0.0
            continue
        vals = [r[c] for r in out if not math.isnan(r[c])]
        mx = max(max(vals), JAVA_DOUBLE_MIN) if vals else JAVA_DOUBLE_MIN
        mn = min(min(vals), JAVA_DOUBLE_MAX) if vals else JAVA_DOUBLE_MAX
        for r in out:
            x = r[c]
            if mx == mn:
                r[c] = 0.0
            elif math.isnan(x):
                r[c] = 0.0
            else:
                r[c] = (x - mn) / (mx - mn)
    return out


def classify_local(rows: list[dict], weights: list[float]) -> list[dict]:
    """Driver-side twin of ``classify``: w·x left-fold, NaN -> 0.0."""
    if len(weights) != N_FEATURES:
        raise ValueError(f"need {N_FEATURES} weights")
    out = []
    for r in rows:
        acc = 0.0
        for w, c in zip(weights, FEATURE_COLS):
            acc = acc + float(w) * r[c]
        score = 0.0 if math.isnan(acc) else acc
        out.append({"docid": r["docid"], "score": score})
    return out


def svmrank_lines(
    norm_feats_rows: list, qid: str, labels: dict | None = None
) -> list[str]:
    """SVMrank feature-file lines (QryEval.java:299-310 / :448-456):
    ``<label> qid:<qid> 1:<v> ... 18:<v> # <extid>``. ``norm_feats_rows``:
    Row-like mappings with docid/ext_docid + f1..f18; labels: docid ->
    relevance (missing/test rows get 0)."""
    out = []
    for r in norm_feats_rows:
        label = (labels or {}).get(r["docid"], 0)
        vec = " ".join(f"{j}:{r[f'f{j}']}" for j in range(1, N_FEATURES + 1))
        out.append(f"{label} qid:{qid} {vec} # {r['ext_docid']}")
    return out


def train_linear_model(
    norm_feats: DataFrame, labels: DataFrame, max_iter: int = 50
) -> list[float]:
    """Train a linear ranker on normalized features (pyspark.ml LinearSVC —
    the in-cluster stand-in for the reference's external SVMrank subprocess,
    QryEval.java:319-351; both produce a weight vector consumed by
    ``classify``). ``labels``: (docid, rel) with rel > 0 == relevant."""
    from pyspark.ml.classification import LinearSVC
    from pyspark.ml.feature import VectorAssembler

    data = norm_feats.join(labels, "docid").withColumn(
        "label", (F.col("rel") > 0).cast("double")
    )
    vec = VectorAssembler(inputCols=FEATURE_COLS, outputCol="features")
    svc = LinearSVC(maxIter=max_iter, regParam=0.01, standardization=False)
    model = svc.fit(vec.transform(data))
    return [float(w) for w in model.coefficients]
