"""Query operators as DataFrame combinators.

The reference evaluates every operator as a single-threaded docid-sorted
cursor merge (hw5/QryEval/Qryop.java ArgPtr machinery). Here each operator is
a node that *declares* a DataFrame plan; Catalyst chooses the physical join /
aggregation strategy and Tungsten codegens the score math. Two node shapes
mirror the reference's QryopIl / QryopSl split (QryResult.java:18-27):

- Il nodes  -> postings-shaped frames  (docid, tf, positions)
- Sl nodes  -> score-shaped frames     (docid, score)

Semantics parity, per reference file:
- #AND  Boolean  k-way INNER on docid, min score          QryopSlAnd.java:91-122
- #AND  Indri    union-of-docids, geo-mean w/ defaults    QryopSlIndriAnd.java:33-82
- #OR            union, max                               QryopSlOr.java:34-66
- #SUM  (BM25)   union, sum                               QryopSlSum.java:43-75
- #WAND          union-of-docids, ∏ s^(w/W) w/ defaults   QryopSlWand.java:55-125
- #WSUM          union-of-docids, Σ s·w/W w/ defaults     QryopSlWsum.java:56-135
- #SYN           inverted-list union, merged positions    QryopIlSyn.java:43-97
- #NEAR/n        ordered positional walk, consume-on-match QryopIlNear.java:77-135
- #WINDOW/n      unordered min/max window walk            QryopIlWindow.java:34-149
- #SCORE         Il -> Sl conversion per model            QryopSlScore.java (see score.py)

Float contract: leaf #SCORE outputs are float32-cast; Indri DEFAULT scores are
NOT (the reference's getDefaultScore returns a raw double) — coalesce(actual_f32,
default_raw), combined in double. Products multiply left-to-right in child
order, matching the reference's `score *= ...` loop, so doubles agree bitwise.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field as dc_field
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from search_engine_spark.config import (
    BM25,
    INDRI,
    RANKED_BOOLEAN,
    UNRANKED_BOOLEAN,
    ModelConfig,
)
from search_engine_spark.engine import score as score_mod
from search_engine_spark.index.persist import PackedIndex


# --------------------------------------------------------------------------
# evaluation context
# --------------------------------------------------------------------------

from itertools import count as _count

_CTX_COUNTER = _count()


@dataclass
class EvalContext:
    """Everything a compiled query tree needs: the index + model params +
    a driver-side cache of the per-term statistics the plan constant-folds
    (the analog of the reference pulling df/ctf from the live Lucene reader,
    QryopSlScore.java:118,156)."""

    index: PackedIndex
    model: ModelConfig
    _stats: dict = dc_field(default_factory=dict)  # (term, field) -> (df, ctf)
    # unique per-context token for per-query materialization caches (id()
    # of a garbage-collected context can be reused — a counter cannot) and
    # the registry of DataFrames those caches pinned, so the engine can
    # unpersist them after a query's action completes
    uid: int = dc_field(default_factory=lambda: next(_CTX_COUNTER))
    cached_frames: list = dc_field(default_factory=list, repr=False)

    def release_caches(self) -> None:
        """Unpersist every DataFrame a composite-#SCORE evaluation cached
        under this context (pinned JVM-side in Spark's CacheManager —
        Python GC of the AST does NOT release them)."""
        for df in self.cached_frames:
            try:
                df.unpersist()
            except Exception:
                pass
        self.cached_frames.clear()

    def prefetch_terms(self, pairs: set[tuple[str, str]]) -> None:
        """(df, ctf) of every leaf term of a query: the driver's cached
        pyarrow read of term_stats, one per field (no Spark job)."""
        by_field: dict = {}
        for t, f in pairs:
            if (t, f) not in self._stats:
                by_field.setdefault(f, []).append(t)
        for f, ts in by_field.items():
            found = self.index.reads.term_stats(ts, f)
            for t in ts:
                self._stats[(t, f)] = found.get(t, (0, 0))

    def term_stat(self, term: str, fld: str) -> tuple[int, int]:
        if (term, fld) not in self._stats:
            self.prefetch_terms({(term, fld)})
        return self._stats[(term, fld)]


def _empty_scores(ctx: EvalContext) -> DataFrame:
    schema = T.StructType(
        [
            T.StructField("docid", T.LongType()),
            T.StructField("score", T.DoubleType()),
        ]
    )
    return ctx.index.spark.createDataFrame([], schema)


def _doclen_for(ctx: EvalContext, fld: str) -> DataFrame:
    return ctx.index.doc_stats.where(F.col("field") == fld).select("docid", "doclen")


# --------------------------------------------------------------------------
# Il nodes — postings-shaped (docid, tf, positions)
# --------------------------------------------------------------------------


class IlNode:
    field: str

    def postings(self, ctx: EvalContext) -> DataFrame:
        raise NotImplementedError

    # (df, ctf) of the materialized result — needed by #SCORE under BM25/Indri
    # for composite children (the reference reads them off the returned
    # InvList). For Term leaves this is a broadcast-stats lookup, no job runs.
    # `posts` lets the caller pass an already-cached postings frame so the
    # stats aggregate and the scoring scan share ONE evaluation.
    def list_stats(
        self, ctx: EvalContext, posts: DataFrame | None = None
    ) -> tuple[int, int]:
        row = (
            (posts if posts is not None else self.postings(ctx))
            .agg(
                F.count("*").alias("df"),
                F.coalesce(F.sum("tf"), F.lit(0)).alias("ctf"),
            )
            .collect()[0]
        )
        return int(row["df"]), int(row["ctf"])


@dataclass
class TermNode(IlNode):
    """Leaf posting-list scan (QryopIlTerm.java:56-60): an equality predicate
    pushed into the postings scan — bucket/partition-prunable on `term`."""

    term: str
    field: str = "body"

    def postings(self, ctx: EvalContext) -> DataFrame:
        return ctx.index.term_postings(self.term, self.field).select(
            "docid", "tf", "positions", "doclen"
        )

    def list_stats(self, ctx: EvalContext) -> tuple[int, int]:
        return ctx.term_stat(self.term, self.field)


def _with_doclen(ctx: EvalContext, df: DataFrame, fld: str) -> DataFrame:
    """Composite Il results don't carry doclen; join it from doc_stats."""
    if "doclen" in df.columns:
        return df
    return df.join(_doclen_for(ctx, fld), "docid")


@dataclass
class SynNode(IlNode):
    """#SYN — inverted-list union; per docid concatenate+sort all children's
    positions, tf = total (QryopIlSyn.java:43-97). Same-field enforced
    (:122-137)."""

    children: list

    def __post_init__(self):
        flds = {c.field for c in self.children}
        if len(flds) != 1:
            raise ValueError(f"#SYN arguments must share a field, got {flds}")
        self.field = self.children[0].field

    def postings(self, ctx: EvalContext) -> DataFrame:
        frames = [
            c.postings(ctx).select("docid", "positions") for c in self.children
        ]
        unioned = reduce(DataFrame.unionByName, frames)
        return (
            unioned.groupBy("docid")
            .agg(
                F.array_sort(F.flatten(F.collect_list("positions"))).alias(
                    "positions"
                )
            )
            .select(
                "docid",
                F.size("positions").cast("int").alias("tf"),
                "positions",
            )
        )


def _positional_join(ctx: EvalContext, children: list) -> DataFrame:
    """docid INNER join of k child postings, collecting each child's positions
    array — the distributed analog of the reference's doc-at-a-time skip merge
    (QryopIlNear.java:77-96): Catalyst plans the same sorted intersection."""
    out = children[0].postings(ctx).select("docid", F.col("positions").alias("p0"))
    for i, c in enumerate(children[1:], start=1):
        nxt = c.postings(ctx).select("docid", F.col("positions").alias(f"p{i}"))
        out = out.join(nxt, "docid")
    return out


_POS_SCHEMA = T.StructType(
    [
        T.StructField("docid", T.LongType()),
        T.StructField("tf", T.IntegerType()),
        T.StructField("positions", T.ArrayType(T.IntegerType())),
    ]
)


def _positional_node_postings(
    ctx: EvalContext, children: list, distance: int, batch_walk
) -> DataFrame:
    if len(children) == 1:  # 1-arg passthrough (QryopIlWindow.java:51-57)
        return children[0].postings(ctx).select("docid", "tf", "positions")
    joined = _positional_join(ctx, children)
    pcols = [f"p{i}" for i in range(len(children))]

    def batch_iter(batches):
        import pandas as pd

        for pdf in batches:
            # numpy wavefront: one vectorized walk step per iteration for
            # EVERY doc in the batch at once (engine/poswalk.py)
            ranks, poss = batch_walk([pdf[c].to_numpy() for c in pcols], distance)
            # positions must be an object column even when empty — an empty
            # plain column defaults to float64, which Arrow can't convert to
            # list<int32>
            yield pd.DataFrame(
                {
                    "docid": pd.Series(pdf["docid"].to_numpy()[ranks], dtype="int64"),
                    "tf": pd.Series([len(p) for p in poss], dtype="int32"),
                    "positions": pd.Series(list(poss), dtype="object"),
                }
            )

    # mapInPandas: Arrow-batched; the walk touches only docs containing ALL
    # k terms (the join already filtered), so the Python-side volume is
    # small relative to the scan — and vectorized even when it isn't.
    return joined.select("docid", *pcols).mapInPandas(batch_iter, _POS_SCHEMA)


@dataclass
class NearNode(IlNode):
    """#NEAR/n (QryopIlNear.java)."""

    distance: int
    children: list

    def __post_init__(self):
        self.field = self.children[0].field

    def postings(self, ctx: EvalContext) -> DataFrame:
        from search_engine_spark.engine.poswalk import near_batch

        return _positional_node_postings(ctx, self.children, self.distance, near_batch)


@dataclass
class WindowNode(IlNode):
    """#WINDOW/n (QryopIlWindow.java)."""

    distance: int
    children: list

    def __post_init__(self):
        self.field = self.children[0].field

    def postings(self, ctx: EvalContext) -> DataFrame:
        from search_engine_spark.engine.poswalk import window_batch

        return _positional_node_postings(
            ctx, self.children, self.distance, window_batch
        )


# --------------------------------------------------------------------------
# Sl nodes — score-shaped (docid, score)
# --------------------------------------------------------------------------


class SlNode:
    def scores(self, ctx: EvalContext) -> DataFrame:
        raise NotImplementedError

    def scores_with_default(self, ctx: EvalContext, cands: DataFrame) -> DataFrame:
        """(docid, score) for EVERY docid in `cands`: actual score where the
        doc matches, the model's default score otherwise (the recursive
        getDefaultScore contract, QryopSl.java:51). Indri-family only."""
        raise NotImplementedError(f"{type(self).__name__} has no default score")


@dataclass
class ScoreNode(SlNode):
    """#SCORE — Il -> Sl conversion (QryopSlScore.java). Implicitly inserted
    around any Il argument of an Sl operator (QryopSl.java:31-32)."""

    child: IlNode
    _mat: dict = dc_field(default_factory=dict, repr=False, compare=False)

    def _materialized(self, ctx: EvalContext) -> tuple[DataFrame, tuple[int, int]]:
        """(postings, (df, ctf)) with a composite child evaluated ONCE.

        A BM25/Indri #SCORE over #NEAR/#SYN/… needs the result list's df/ctf
        (a driver aggregate) AND the list itself; without caching, the
        positional mapInPandas walk ran twice (VERDICT r01 item 5). Term
        leaves skip the cache — their df/ctf is a broadcast-stats lookup.
        Boolean models never read df/ctf, so no stats job runs at all."""
        key = ctx.uid
        if key not in self._mat:
            needs_stats = ctx.model.name in (BM25, INDRI)
            posts = self.child.postings(ctx)
            if isinstance(self.child, TermNode):
                stats = self.child.list_stats(ctx) if needs_stats else (0, 0)
            elif needs_stats:
                posts = posts.cache()
                ctx.cached_frames.append(posts)
                stats = self.child.list_stats(ctx, posts)
            else:
                stats = (0, 0)
            self._mat[key] = (posts, stats)
        return self._mat[key]

    def _score_col(self, ctx: EvalContext, df_val: int, ctf_val: int) -> Column:
        m = ctx.model
        fld = self.child.field
        if m.name == UNRANKED_BOOLEAN:
            return score_mod._f32(score_mod.unranked_boolean_score())
        if m.name == RANKED_BOOLEAN:
            return score_mod._f32(score_mod.ranked_boolean_score())
        if m.name == BM25:
            return score_mod.bm25_score(
                n_docs=ctx.index.corpus.n_docs,
                df=df_val,
                avgdl=ctx.index.corpus.avgdl(fld),
                p=m.bm25,
            )
        if m.name == INDRI:
            return score_mod.indri_score(
                ctf=ctf_val,
                c_len=ctx.index.corpus.sum_doclen(fld),
                p=m.indri,
            )
        raise ValueError(f"model {m.name} unsupported by #SCORE")

    def scores(self, ctx: EvalContext) -> DataFrame:
        posts, (df_val, ctf_val) = self._materialized(ctx)
        posts = _with_doclen(ctx, posts, self.child.field)
        return posts.select(
            "docid", self._score_col(ctx, df_val, ctf_val).alias("score")
        )

    def scores_with_default(self, ctx: EvalContext, cands: DataFrame) -> DataFrame:
        """Indri: coalesce(actual f32 score, raw-double default score).
        The default needs the doc's field length -> one join with doc_stats.
        Note the reference quirk (QryopSlScore.java evaluateIndri): ctf/field
        are captured only while scoring a non-empty list, so an empty child
        leaves ctf=0 -> default collapses to (1-λ)·µ·0/(doclen+µ)+λ·0 = 0."""
        if ctx.model.name != INDRI:
            raise ValueError("default scores only defined for Indri")
        _, (_, ctf_val) = self._materialized(ctx)
        fld = self.child.field
        default_col = score_mod.indri_default_score(
            ctf=ctf_val,
            c_len=ctx.index.corpus.sum_doclen(fld),
            p=ctx.model.indri,
            # a doc with no tokens in this field has no doc_stats row; the
            # reference's Lucene norm lookup yields 0 there
            doclen=F.coalesce(F.col("doclen"), F.lit(0)).cast("double"),
        )
        actual = self.scores(ctx)
        return (
            cands.select("docid")
            .join(actual, "docid", "left")
            .join(_doclen_for(ctx, fld), "docid", "left")
            .select(
                "docid",
                F.coalesce(F.col("score"), default_col).alias("score"),
            )
        )


def _union_scores(ctx: EvalContext, children: list) -> DataFrame:
    # every child can have been dropped by the df>=1 guard (a query whose
    # terms are ALL absent from the index, e.g. tokenizer-split OOV words):
    # the reference returns an empty result list there (QryEval.java's empty
    # ScoreList -> dummy TREC row), not an error
    if not children:
        return _empty_scores(ctx)
    frames = [c.scores(ctx) for c in children]
    return reduce(DataFrame.unionByName, frames)


def _cand_docids(ctx: EvalContext, children: list) -> DataFrame:
    """The union-of-candidates docid set of an Indri combine, cached: the
    chain join hands it to every child and grandchild, and each reference
    would otherwise re-plan the union of every leaf scan (a packed leaf is
    its own mapInPandas decode, so no copy can be reused: a PRF-expanded
    #WAND with 11 leaves planned 165 decodes). Released with the query's
    other cached frames (EvalContext.release_caches)."""
    cands = _union_scores(ctx, children).select("docid").distinct().cache()
    ctx.cached_frames.append(cands)
    return cands


@dataclass
class SumNode(SlNode):
    """#SUM — BM25 score accumulation (QryopSlSum.java:43-75): every doc in
    ANY child, sum of the scores present. union -> partial+final hash agg."""

    children: list

    def scores(self, ctx: EvalContext) -> DataFrame:
        if ctx.model.name != BM25:
            raise ValueError("#SUM is only defined for BM25 (QryopSlSum.java:39-42)")
        return (
            _union_scores(ctx, self.children)
            .groupBy("docid")
            .agg(F.sum("score").alias("score"))
        )


@dataclass
class OrNode(SlNode):
    """#OR — union, max score (QryopSlOr.java:34-66). Boolean models only."""

    children: list

    def scores(self, ctx: EvalContext) -> DataFrame:
        if ctx.model.name not in (UNRANKED_BOOLEAN, RANKED_BOOLEAN):
            raise ValueError("#OR is only defined for Boolean models")
        return (
            _union_scores(ctx, self.children)
            .groupBy("docid")
            .agg(F.max("score").alias("score"))
        )


@dataclass
class AndBoolNode(SlNode):
    """#AND under Boolean models — k-way INNER intersection on docid, min
    score when ranked (QryopSlAnd.java:91-122; min at :111-114)."""

    children: list

    def scores(self, ctx: EvalContext) -> DataFrame:
        if ctx.model.name not in (UNRANKED_BOOLEAN, RANKED_BOOLEAN):
            raise ValueError("AndBoolNode requires a Boolean model")
        k = len(self.children)
        agged = (
            _union_scores(ctx, self.children)
            .groupBy("docid")
            .agg(F.count("*").alias("_n"), F.min("score").alias("_min"))
            .where(F.col("_n") == k)
        )
        if ctx.model.name == RANKED_BOOLEAN:
            return agged.select("docid", F.col("_min").alias("score"))
        return agged.select("docid", F.lit(1.0).alias("score"))


def _indri_chain_join(
    ctx: EvalContext, children: list, cands: DataFrame
) -> tuple[DataFrame, list]:
    """Join each child's scores_with_default(cands) on docid; returns the
    joined frame and the per-child score column names (in child order, so
    combine expressions multiply/add left-to-right like the reference).
    Fallback path — only nested Sl children (Indri op inside Indri op)
    reach it; flat Il-backed children take _indri_pivot_scores."""
    out = cands.select("docid")
    cols = []
    for i, c in enumerate(children):
        s = c.scores_with_default(ctx, cands).withColumnRenamed("score", f"_s{i}")
        out = out.join(s, "docid")
        cols.append(f"_s{i}")
    return out, cols


def _indri_pivot_scores(ctx: EvalContext, children: list, combine) -> DataFrame | None:
    """Single-aggregation plan for Indri combines whose children are all
    #SCORE(il) on one field: union the child postings tagged with a child
    index, pivot tf per child in ONE hash aggregate (the groupBy key set IS
    the reference's union-of-candidates, QryopSlIndriAnd.java:33-82), then
    per-child `when(tf present, f32(indri_score)) otherwise default(doclen)`
    and `combine(cols)` in child order — bit-identical to the join cascade
    but with one shuffle instead of k.

    `combine`: list[Column] (child order) -> Column."""
    if ctx.model.name != INDRI:
        return None
    if not all(isinstance(c, ScoreNode) for c in children):
        return None
    if not children:  # every term a stopword: no candidates (_union_scores)
        return _empty_scores(ctx)
    fields = {c.child.field for c in children}
    if len(fields) != 1:
        return _indri_pivot_scores_mf(ctx, children, combine)
    fld = fields.pop()
    c_len = ctx.index.corpus.sum_doclen(fld)
    p = ctx.model.indri

    frames = []
    for i, c in enumerate(children):
        posts, _ = c._materialized(ctx)
        posts = _with_doclen(ctx, posts, fld)
        frames.append(
            posts.select(
                "docid",
                F.lit(i).alias("_ci"),
                F.col("tf").cast("int").alias("tf"),
                "doclen",
            )
        )
    unioned = reduce(DataFrame.unionByName, frames)
    k = len(children)
    aggs = [
        F.max(F.when(F.col("_ci") == i, F.col("tf"))).alias(f"_tf{i}")
        for i in range(k)
    ]
    base = unioned.groupBy("docid").agg(*aggs, F.max("doclen").alias("doclen"))

    cols = []
    for i, c in enumerate(children):
        _, (_, ctf_val) = c._materialized(ctx)
        tf_col = F.col(f"_tf{i}")
        actual = score_mod.indri_score(
            ctf=ctf_val, c_len=c_len, p=p, tf=tf_col, doclen=F.col("doclen")
        )
        default = score_mod.indri_default_score(
            ctf=ctf_val, c_len=c_len, p=p, doclen=F.col("doclen")
        )
        cols.append(F.when(tf_col.isNotNull(), actual).otherwise(default))
    return base.select("docid", combine(cols).alias("score"))


def _indri_pivot_scores_mf(ctx: EvalContext, children: list, combine) -> DataFrame:
    """Multi-field twin of the pivot plan (hw3's `#WSUM(w a.body w b.url ...)`
    shape): each child's default score needs the doc's length in THAT child's
    field, so per-field doclen rows from doc_stats are unioned into the SAME
    single hash aggregate as the tagged postings (no join cascade — one
    shuffle total). Docs surviving only via a doclen row (no actual posting
    in any child) are dropped post-agg, which restores the reference's
    union-of-candidates key set. A candidate with no tokens in a child's
    field takes doclen 0 in that child's default (ScoreNode quirk above),
    keeping this plan bit-identical to the chain-join path."""
    flds = list(dict.fromkeys(c.child.field for c in children))
    fidx = {f: j for j, f in enumerate(flds)}
    p = ctx.model.indri

    frames = []
    for i, c in enumerate(children):
        posts, _ = c._materialized(ctx)
        posts = _with_doclen(ctx, posts, c.child.field)
        frames.append(
            posts.select(
                "docid",
                F.lit(i).alias("_ci"),
                F.lit(fidx[c.child.field]).alias("_fi"),
                F.col("tf").cast("int").alias("tf"),
                F.col("doclen").cast("long").alias("doclen"),
            )
        )
    for f, j in fidx.items():
        frames.append(
            ctx.index.doc_stats.where(F.col("field") == f).select(
                "docid",
                F.lit(None).cast("int").alias("_ci"),
                F.lit(j).alias("_fi"),
                F.lit(None).cast("int").alias("tf"),
                F.col("doclen").cast("long").alias("doclen"),
            )
        )
    unioned = reduce(DataFrame.unionByName, frames)
    aggs = [
        F.max(F.when(F.col("_ci") == i, F.col("tf"))).alias(f"_tf{i}")
        for i in range(len(children))
    ] + [
        F.max(F.when(F.col("_fi") == j, F.col("doclen"))).alias(f"_dl{j}")
        for j in range(len(flds))
    ]
    base = unioned.groupBy("docid").agg(*aggs)
    is_cand = reduce(
        lambda a, b: a | b,
        [F.col(f"_tf{i}").isNotNull() for i in range(len(children))],
    )
    base = base.where(is_cand)

    cols = []
    for i, c in enumerate(children):
        _, (_, ctf_val) = c._materialized(ctx)
        fld = c.child.field
        c_len = ctx.index.corpus.sum_doclen(fld)
        tf_col = F.col(f"_tf{i}")
        dl_col = F.col(f"_dl{fidx[fld]}")
        actual = score_mod.indri_score(
            ctf=ctf_val, c_len=c_len, p=p, tf=tf_col, doclen=dl_col
        )
        default = score_mod.indri_default_score(
            ctf=ctf_val, c_len=c_len, p=p,
            doclen=F.coalesce(dl_col, F.lit(0)),
        )
        cols.append(F.when(tf_col.isNotNull(), actual).otherwise(default))
    return base.select("docid", combine(cols).alias("score"))


def indri_combine(kind: str, weights: list | None, cols: list) -> Column:
    """The Indri combines over per-child score Columns, children left to
    right: "and" the geometric mean (QryopSlIndriAnd.java:80), "wand"
    ∏ sᵢ^(wᵢ/W) starting at 1.0 (QryopSlWand.java:55-125), "wsum" Σ sᵢ·wᵢ/W
    starting at 0.0 (QryopSlWsum.java:56-135). engine/pruning.py's
    ``_indri_combine`` is its numpy twin."""
    if kind == "and":
        prod = reduce(lambda a, b: a * b, cols)
        return F.pow(prod, F.lit(1.0 / len(cols)))
    W = _total_weight(weights)
    shares = [F.lit(w / W if W != 0 else math.nan) for w in weights]
    if kind == "wand":
        return reduce(lambda acc, cw: acc * F.pow(*cw), zip(cols, shares), F.lit(1.0))
    return reduce(lambda acc, cw: acc + cw[0] * cw[1], zip(cols, shares), F.lit(0.0))


def _total_weight(weights: list) -> float:
    return float(sum(weights))


@dataclass
class IndriAndNode(SlNode):
    """#AND under Indri — every doc in the union of child lists is scored with
    the geometric mean of child scores (defaults for missing children):
    QryopSlIndriAnd.java:33-82, root at :80."""

    children: list

    def _combine(self, cols: list) -> Column:
        return indri_combine("and", None, cols)

    def scores(self, ctx: EvalContext) -> DataFrame:
        fast = _indri_pivot_scores(ctx, self.children, self._combine)
        if fast is not None:
            return fast
        cands = _cand_docids(ctx, self.children)
        return self.scores_with_default(ctx, cands)

    def scores_with_default(self, ctx: EvalContext, cands: DataFrame) -> DataFrame:
        joined, cols = _indri_chain_join(ctx, self.children, cands)
        return joined.select(
            "docid", self._combine([F.col(c) for c in cols]).alias("score")
        )


@dataclass
class WandNode(SlNode):
    """#WAND — Indri weighted-AND: ∏ sᵢ^(wᵢ/W) over the union of child lists
    (QryopSlWand.java:55-125). NOT Broder's WAND pruning — see SURVEY.md J5."""

    weights: list
    children: list

    def _combine(self, cols: list) -> Column:
        return indri_combine("wand", self.weights, cols)

    def scores(self, ctx: EvalContext) -> DataFrame:
        fast = _indri_pivot_scores(ctx, self.children, self._combine)
        if fast is not None:
            return fast
        cands = _cand_docids(ctx, self.children)
        return self.scores_with_default(ctx, cands)

    def scores_with_default(self, ctx: EvalContext, cands: DataFrame) -> DataFrame:
        joined, cols = _indri_chain_join(ctx, self.children, cands)
        return joined.select(
            "docid", self._combine([F.col(c) for c in cols]).alias("score")
        )


@dataclass
class WsumNode(SlNode):
    """#WSUM — Σ sᵢ·wᵢ/W over the union of child lists
    (QryopSlWsum.java:56-135)."""

    weights: list
    children: list

    def _combine(self, cols: list) -> Column:
        return indri_combine("wsum", self.weights, cols)

    def scores(self, ctx: EvalContext) -> DataFrame:
        fast = _indri_pivot_scores(ctx, self.children, self._combine)
        if fast is not None:
            return fast
        cands = _cand_docids(ctx, self.children)
        return self.scores_with_default(ctx, cands)

    def scores_with_default(self, ctx: EvalContext, cands: DataFrame) -> DataFrame:
        joined, cols = _indri_chain_join(ctx, self.children, cands)
        return joined.select(
            "docid", self._combine([F.col(c) for c in cols]).alias("score")
        )
