"""Batched multi-query execution: a whole query FILE answered as one frame.

The reference answers a query file one query at a time
(hw5/QryEval/QryEval.java:670-709). ``batch_topk`` keeps that contract —
each query's rows are bitwise what ``Engine.search`` returns — and routes
the file in two parts:

1. **Driver route.** Every BM25 ``#SUM`` or Indri ``#AND``/``#WAND``/
   ``#WSUM`` query is first offered to the driver evaluator
   (``structured.struct_topk``), which answers every single-field shape,
   flat or structured, whose leaf postings fit the driver gate
   (``pruning._POSTS_PER_TASK``). It reads the index with pyarrow and
   scores in numpy, so these queries run no Spark job, and their rows
   become one local relation. An all-stopword query has no rows on either
   route and goes nowhere.
2. **Batch plans** answer the residual — queries over the gate, leaves
   spanning fields, Boolean models — with one plan per model for the whole
   residual set:
   - ``sdm_bm25_batch_scores`` (BM25 ``#SUM``) and ``sdm_batch_scores``
     (Indri ``#AND``/``#WAND``/``#WSUM``): #SCORE children that are term
     leaves or one-level ``#NEAR/n``/``#WINDOW/n``/``#SYN`` over term
     leaves. ONE positions scan and ONE mapInPandas wavefront walk cover
     every positional child of every query; term children come off ONE
     union postings scan joined to a broadcast (qid, child, term, field)
     table; ONE (qid, docid) aggregate combines them — a sum for BM25, a
     per-child tf map folded by a higher-order ``F.aggregate`` over a
     broadcast per-qid constants array for Indri (child-order float
     arithmetic, defaults for missing children, per-field doclens joined
     after the aggregate).
   - ``bool_batch_scores`` (Boolean ``#AND``/``#OR`` over term leaves):
     one scan, one (qid, docid) aggregate of member count and min/max tf.

   The residual's per-qid top-k runs in two stages so no task sees one
   query's whole candidate set: a salted ``rank() <= k`` cut (rank keeps
   the boundary ties whose order needs ext ids), ext ids resolved for the
   survivors only, then the (desc score, asc ext id) ``row_number`` cut —
   the tie-break contract of hw5/QryEval/ScoreList.java:65-86.

Shapes come from ``structured.root_shape``, the classifier the driver
evaluator uses, under the plans' own limit (composites one level deep), so a
query gets the same answer and the same error on either route.
"""

from __future__ import annotations

import math
from collections import Counter
from functools import reduce

import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from search_engine_spark.config import (
    BM25, INDRI, RANKED_BOOLEAN, TOP_K, UNRANKED_BOOLEAN,
)
from search_engine_spark.engine.compiler import _leaf_score_col, compile_node
from search_engine_spark.engine.ops import (
    AndBoolNode, IlNode, NearNode, OrNode, ScoreNode, SynNode, TermNode,
)
from search_engine_spark.engine.pruning import PruneStats
from search_engine_spark.engine.runner import Engine, _exact_forced
from search_engine_spark.engine.structured import Shape, root_shape, struct_topk
from search_engine_spark.engine.topk import _TOPK_SCHEMA

# salt fan-out of the partial top-k stage: bounds the per-task row count of
# the first window at ~|matching docs| / SALTS for the hottest query
_SALT_BUCKETS = 32
_BATCH_SCHEMA = T.StructType(
    [T.StructField("qid", T.StringType()), *_TOPK_SCHEMA.fields]
)


def _field_doclen_map(eng: Engine, flds: list[str], fidx: dict) -> DataFrame:
    """Per-docid field→doclen map over the given fields: doc_stats filtered
    to the batch's fields, one docid-keyed aggregate. Joined AFTER the
    (qid, docid) aggregate so doclen rows never fan out per qid (the
    single-query mf pivot unions them INTO its aggregate instead —
    ops._indri_pivot_scores_mf — which would be |docs|x|fields|x|qids|
    here)."""
    fi_expr = F.col("field")
    for f, j in fidx.items():
        fi_expr = F.when(F.col("field") == f, F.lit(j)).otherwise(fi_expr)
    return (
        eng.index.doc_stats.where(F.col("field").isin(list(flds)))
        .select(
            "docid",
            fi_expr.cast("int").alias("_fi"),
            F.col("doclen").cast("long").alias("doclen"),
        )
        .groupBy("docid")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("_fi", "doclen"))
            ).alias("_dlmap")
        )
    )


def _indri_combine_score(p):
    """The post-aggregation Indri combine over the broadcast constants array
    `_arr` (rows: ci, ctf, w, cl, fi) against the `_tfmap` column: per-child
    actual-or-default score, the doclen of the child's field from `_dlmap`
    (0 for a doc with no tokens there, the ScoreNode quirk the exact
    multi-field pivot documents), folded in child order by `_kind` — the
    exact float arithmetic of the single-query pivot combines (seeding with
    1.0/0.0 is IEEE-exact against the reference's unseeded left folds)."""
    from search_engine_spark.engine import score as score_mod

    def _s(x):
        tf = F.element_at(F.col("_tfmap"), x["ci"])
        dl = F.element_at(F.col("_dlmap"), x["fi"])
        actual = score_mod.indri_score(
            ctf=x["ctf"], c_len=x["cl"], p=p, tf=tf, doclen=dl
        )
        default = score_mod.indri_default_score(
            ctf=x["ctf"], c_len=x["cl"], p=p,
            doclen=F.coalesce(dl, F.lit(0).cast("long")),
        )
        return F.when(tf.isNotNull(), actual).otherwise(default)

    arr = F.col("_arr")
    and_score = F.pow(
        F.aggregate(arr, F.lit(1.0), lambda acc, x: acc * _s(x)), F.col("_exp")
    )
    wand_score = F.aggregate(
        arr, F.lit(1.0), lambda acc, x: acc * F.pow(_s(x), x["w"])
    )
    wsum_score = F.aggregate(
        arr, F.lit(0.0), lambda acc, x: acc + _s(x) * x["w"]
    )
    return (
        F.when(F.col("_kind") == "and", and_score)
        .when(F.col("_kind") == "wand", wand_score)
        .otherwise(wsum_score)
    )


def _query_shape(eng: Engine, qid: str, text: str) -> Shape | None:
    """Compile one BM25/Indri query and classify its root with
    ``structured.root_shape``, under the batch plans' limit: each #SCORE
    child is a term leaf or a #NEAR/#WINDOW/#SYN over term leaves. None for
    a root whose every term was a stopword (it has no rows); ValueError for
    any other shape."""
    node = compile_node(eng.parse(text), eng.ctx, eng.default_field)
    if isinstance(node, IlNode):
        node = ScoreNode(node)
    shape = root_shape(node, eng.model.name)
    if shape is None:
        if getattr(node, "children", None) == []:
            return None
        raise ValueError(
            f"query {qid!r} compiles to {type(node).__name__} with a nested Sl "
            "child — batch plans cover term and positional children"
        )
    for c in shape.children:
        if not isinstance(c.child, TermNode) and not all(
            isinstance(x, TermNode) for x in c.child.children
        ):
            raise ValueError(
                f"query {qid!r} has a nested composite inside a "
                f"{type(c.child).__name__} child — batch plans cover term leaves"
            )
    return shape


def _child_spec(c: ScoreNode) -> tuple:
    """A #SCORE child as ("t", term, field), ("syn", [(term, field)...],
    field) or ("near"|"window", distance, [(term, field)...], field). A
    1-arg #SYN/#NEAR/#WINDOW IS its leaf's list (QryopIlWindow.java:51-57),
    so it is a term child."""
    ch = c.child
    if isinstance(ch, TermNode):
        return ("t", ch.term, ch.field)
    leaves = [(x.term, x.field) for x in ch.children]
    if len(leaves) == 1:
        return ("t",) + leaves[0]
    if isinstance(ch, SynNode):
        return ("syn", leaves, ch.field)
    return ("near" if isinstance(ch, NearNode) else "window", ch.distance, leaves, ch.field)


def _specs(eng: Engine, queries: list[tuple[str, str]]) -> dict:
    """{qid: (shape, [child spec])} of the queries that have children."""
    out = {}
    for qid, text in queries:
        shape = _query_shape(eng, qid, text)
        if shape is not None:
            out[qid] = (shape, [_child_spec(c) for c in shape.children])
    return out


def _sdm_walk_iter(batches):
    """mapInPandas kernel for the batched positional walk: rows are
    (qid, ci, _op, _dist, _k, docid, _pl) where _pl is the child-ordered
    list of per-leaf position arrays. Rows are grouped by (_op, _dist, _k)
    so each homogeneous subgroup runs ONE numpy wavefront step-loop for all
    its docs at once (engine/poswalk.py) — the same vectorization as the
    single-query path, amortized across every query in the batch."""
    import pandas as pd

    from search_engine_spark.engine.poswalk import near_batch, window_batch

    for pdf in batches:
        qids: list = []
        cis: list = []
        docids: list = []
        tfs: list = []
        if len(pdf):
            for (op, dist, k), sub in pdf.groupby(
                ["_op", "_dist", "_k"], sort=False
            ):
                batch_walk = near_batch if op == "near" else window_batch
                plists = sub["_pl"].tolist()
                cols = [[row[i] for row in plists] for i in range(k)]
                ranks, pos_arrays = batch_walk(cols, int(dist))
                qids.extend(sub["qid"].to_numpy()[ranks])
                cis.extend(sub["ci"].to_numpy()[ranks])
                docids.extend(sub["docid"].to_numpy()[ranks])
                tfs.extend(len(pp) for pp in pos_arrays)
        yield pd.DataFrame(
            {
                "qid": pd.Series(qids, dtype="object"),
                "ci": pd.Series(cis, dtype="int32"),
                "docid": pd.Series(docids, dtype="int64"),
                "tf": pd.Series(tfs, dtype="int32"),
            }
        )


def _walk_positional_children(
    eng: Engine, specs: dict[str, list[tuple]]
) -> tuple[DataFrame | None, dict]:
    """Phase 1 of the SDM batch plans (Indri and BM25 alike): every
    positional child of every query in ONE job — union positions scan,
    broadcast (qid, ci, li, term, field) fan-out, ONE (qid, ci, docid)
    aggregate (group size == leaf count IS the inner-join-on-docid
    semantics of the single-query _positional_join), one mapInPandas
    wavefront walk. Returns (pos_posts, pos_stats): the localCheckpointed
    (qid, ci, docid, tf) frame plus {(qid, ci): (df, ctf)} — the composite
    #SCORE stats contract (ScoreNode._materialized)."""
    spark = eng.index.doc_ids.sparkSession
    pos_leaf, pos_meta = [], []
    for qid, children in specs.items():
        for ci, c in enumerate(children):
            if c[0] not in ("near", "window"):
                continue
            op, dist, leaves, fld = c
            for li, (t, f) in enumerate(leaves):
                pos_leaf.append((qid, ci, li, t, f))
            pos_meta.append((qid, ci, op, int(dist), len(leaves)))
    if not pos_leaf:
        return None, {}
    pl_df = spark.createDataFrame(
        pos_leaf, "qid string, ci int, li int, term string, field string"
    )
    pm_df = spark.createDataFrame(
        pos_meta, "qid string, ci int, _op string, _dist int, _k int"
    )
    pscan = eng.ctx.index.postings_for(
        sorted({(t, f) for _, _, _, t, f in pos_leaf}), with_positions=True
    )
    prows = (
        pscan.select("term", "field", "docid", "positions")
        .join(F.broadcast(pl_df), ["term", "field"])
        .groupBy("qid", "ci", "docid")
        .agg(F.collect_list(F.struct("li", "positions")).alias("_lp"))
        .join(F.broadcast(pm_df), ["qid", "ci"])
        .where(F.size("_lp") == F.col("_k"))
        .select(
            "qid", "ci", "_op", "_dist", "_k", "docid",
            # child-ordered per-leaf position arrays (struct sort is
            # li-first lexicographic)
            F.transform(
                F.array_sort("_lp"), lambda s: s["positions"]
            ).alias("_pl"),
        )
    )
    pos_posts = prows.mapInPandas(
        _sdm_walk_iter, "qid string, ci int, docid long, tf int"
    ).localCheckpoint(eager=True)
    pos_stats: dict[tuple[str, int], tuple[int, int]] = {}
    for r in (
        pos_posts.groupBy("qid", "ci")
        .agg(
            F.count("*").alias("df"),
            F.coalesce(F.sum("tf"), F.lit(0)).alias("ctf"),
        )
        .collect()
    ):
        pos_stats[(r["qid"], r["ci"])] = (int(r["df"]), int(r["ctf"]))
    return pos_posts, pos_stats


def _child_field(c: tuple) -> str:
    """The field an SDM child scores against (ScoreNode uses the composite
    node's .field — its first leaf's field)."""
    return c[2] if c[0] in ("t", "syn") else c[3]


def _syn_child_rows(eng: Engine, specs: dict[str, list[tuple]]) -> DataFrame | None:
    """(qid, ci, docid, tf) rows for every #SYN child: the il union's tf is
    the size of the merged position list == the SUM of the leaf tfs
    (QryopIlSyn.java:43-97 concatenates), so one scan + broadcast fan-out +
    a (qid, ci, docid) pre-aggregate — no positions needed. The pre-agg
    keeps (qid, ci) keys unique before the combine's tf-map build."""
    spark = eng.index.doc_ids.sparkSession
    syn_leaf = []
    for qid, children in specs.items():
        for ci, c in enumerate(children):
            if c[0] == "syn":
                for t, f in c[1]:
                    syn_leaf.append((qid, ci, t, f))
    if not syn_leaf:
        return None
    sl_df = spark.createDataFrame(
        syn_leaf, "qid string, ci int, term string, field string"
    )
    scan = eng.ctx.index.postings_for(
        sorted({(t, f) for _, _, t, f in syn_leaf})
    )
    return (
        scan.select("term", "field", "docid", "tf")
        .join(F.broadcast(sl_df), ["term", "field"])
        .groupBy("qid", "ci", "docid")
        .agg(F.sum("tf").cast("int").alias("tf"))
    )


def sdm_bm25_batch_scores(
    eng: Engine, queries: list[tuple[str, str]]
) -> DataFrame:
    """[(qid, text)] -> (qid, docid, score) for BM25 #SUM queries over
    term, #NEAR/n, #WINDOW/n and #SYN children (flat bag-of-words and the
    hw2 structured-BM25 shape alike), batched across qids.

    Phase 1 is the shared positional walk (_walk_positional_children);
    phase 2 scores term children straight off ONE union postings scan with
    the exact plan's codegen'd expression (_leaf_score_col — df/avgdl
    denormalized, no defaults: #SUM sums the scores PRESENT,
    QryopSlSum.java:43-75), scores positional children from the walked
    frame with per-child df riding a broadcast constants table and doclen
    from the per-docid field map, and runs ONE (qid, docid) sum. A flat
    #SUM's duplicated term is scored once times its count, as the exact
    plan's flat path does (compiler.try_flat_scores); any other #SUM sums
    each child, as SumNode does (#SUM(a a b) scores `a` twice,
    QryopSlSum.java:55-61). Bitwise ≡ per-query Engine.search
    (tests/test_batch.py)."""
    if eng.model.name != BM25:
        raise ValueError("sdm_bm25_batch_scores requires the BM25 model")
    return _sdm_bm25_scores(eng, _specs(eng, queries))


def _sdm_bm25_scores(eng: Engine, specs: dict) -> DataFrame:
    """``sdm_bm25_batch_scores`` over already classified ``_specs``."""
    from search_engine_spark.engine import score as score_mod

    spark = eng.index.doc_ids.sparkSession
    if not specs:
        return spark.createDataFrame([], "qid string, docid long, score double")
    children_of = {qid: ch for qid, (_, ch) in specs.items()}
    flds = sorted({_child_field(c) for ch in children_of.values() for c in ch})
    fidx = {f: j for j, f in enumerate(flds)}
    p = eng.model.bm25
    n_docs = eng.index.corpus.n_docs

    pos_posts, pos_stats = _walk_positional_children(eng, children_of)
    syn_rows = _syn_child_rows(eng, children_of)
    if syn_rows is not None:
        # BM25 needs each #SYN child's df = its union's doc count: one
        # aggregate over the (pre-aggregated) syn frame; checkpoint so the
        # stats pass and the score pass share one execution. The syn rows
        # then merge into the composite frame and score exactly like
        # positional children (df/avgdl from the broadcast constants).
        syn_rows = syn_rows.localCheckpoint(eager=True)
        for r in (
            syn_rows.groupBy("qid", "ci")
            .agg(F.count(F.lit(1)).alias("df"))
            .collect()
        ):
            pos_stats[(r["qid"], r["ci"])] = (int(r["df"]), 0)
        pos_posts = (
            pos_posts.unionByName(syn_rows)
            if pos_posts is not None
            else syn_rows
        )

    qleaf, pmeta = [], []  # (qid, term, field, mult), positional constants
    for qid, (shape, children) in specs.items():
        terms = [(c[1], c[2]) for c in children if c[0] == "t"]
        if shape.flat:
            qleaf += [(qid, t, f, float(n)) for (t, f), n in Counter(terms).items()]
        else:
            qleaf += [(qid, t, f, 1.0) for t, f in terms]
        for ci, c in enumerate(children):
            if c[0] != "t":
                fld = _child_field(c)
                df_val, _ = pos_stats.get((qid, ci), (0, 0))
                pmeta.append(
                    (qid, ci, float(df_val),
                     float(eng.index.corpus.avgdl(fld)), fidx[fld])
                )

    frames = []
    if qleaf:
        term_pairs = {(t, f) for _, t, f, _ in qleaf}
        eng.ctx.prefetch_terms(term_pairs)
        scan = eng.ctx.index.postings_for(sorted(term_pairs))
        qleaf_df = spark.createDataFrame(
            qleaf, "qid string, term string, field string, mult double"
        )
        frames.append(
            scan.select(
                "term", "field", "docid",
                _leaf_score_col(eng.ctx, {f for _, f in term_pairs}).alias(
                    "score"
                ),
            )
            .join(F.broadcast(qleaf_df), ["term", "field"])
            .select("qid", "docid", (F.col("score") * F.col("mult")).alias("score"))
        )
    if pos_posts is not None:
        pm_df = spark.createDataFrame(
            pmeta, "qid string, ci int, _df double, _avgdl double, _fi int"
        )
        dl = F.element_at(F.col("_dlmap"), F.col("_fi"))
        pscore = score_mod.bm25_score(
            n_docs=n_docs, df=F.col("_df"), avgdl=F.col("_avgdl"), p=p,
            tf=F.col("tf"), doclen=dl,
        )
        frames.append(
            pos_posts.join(F.broadcast(pm_df), ["qid", "ci"])
            .join(_field_doclen_map(eng, flds, fidx), "docid")
            .select("qid", "docid", pscore.alias("score"))
        )
    rows = reduce(DataFrame.unionByName, frames)
    return rows.groupBy("qid", "docid").agg(F.sum("score").alias("score"))


def sdm_batch_scores(eng: Engine, queries: list[tuple[str, str]]) -> DataFrame:
    """[(qid, text)] -> (qid, docid, score) for Indri #AND/#WAND/#WSUM
    queries over term, #NEAR/n, #WINDOW/n and #SYN children (flat and
    SDM-shaped alike, mixed fields included), batched across qids.

    Two jobs for the whole set instead of ~3 jobs per query:

    1. ALL positional children in one job: one union postings scan (with
       positions), broadcast (qid, ci, li, term, field) fan-out, ONE
       (qid, ci, docid) aggregate collecting the per-leaf position arrays
       (group size == leaf count IS the inner-join-on-docid semantics of
       the single-query _positional_join), then one mapInPandas wavefront
       walk over homogeneous (op, distance, k) subgroups. The walked
       (qid, ci, docid, tf) frame is localCheckpointed — it feeds both the
       per-child df/ctf stats aggregate (the composite #SCORE contract,
       ScoreNode._materialized) and the combine, without re-walking.
    2. The combine job: term-child rows (one scan + broadcast
       (qid, ci, term, field) fan-out) unioned with the checkpointed positional
       rows, ONE (qid, docid) aggregate into a tf-map, per-docid
       field→doclen map joined post-agg, and the same broadcast-constants
       higher-order combine — positional children's ctf rides the constants
       array from step 1's stats, term children's from broadcast term
       stats. Bitwise ≡ per-query Engine.search
       (tests/test_batch.py::test_sdm_batch_matches_per_query)."""
    if eng.model.name != INDRI:
        raise ValueError("sdm_batch_scores requires the Indri model")
    return _sdm_scores(eng, _specs(eng, queries))


def _sdm_scores(eng: Engine, specs: dict) -> DataFrame:
    """``sdm_batch_scores`` over already classified ``_specs``."""
    spark = eng.index.doc_ids.sparkSession
    if not specs:
        return spark.createDataFrame([], "qid string, docid long, score double")
    children_of = {qid: ch for qid, (_, ch) in specs.items()}
    term_pairs: set[tuple[str, str]] = set()
    syn_pairs: set[tuple[str, str]] = set()
    for c in (c for ch in children_of.values() for c in ch):
        if c[0] == "t":
            term_pairs.add((c[1], c[2]))
        elif c[0] == "syn":
            syn_pairs.update(c[1])
    flds = sorted({_child_field(c) for ch in children_of.values() for c in ch})
    fidx = {f: j for j, f in enumerate(flds)}
    c_len_of = {f: eng.index.corpus.sum_doclen(f) for f in flds}
    p = eng.model.indri
    # syn leaves included: their ctf sums make the child's ctf driver-side
    eng.ctx.prefetch_terms(term_pairs | syn_pairs)

    # ---- phase 1: every positional/#SYN child of every query, ONE job ---
    pos_posts, pos_stats = _walk_positional_children(eng, children_of)
    syn_rows = _syn_child_rows(eng, children_of)

    # ---- phase 2: constants + combine ------------------------------------
    qleaf, qmeta = [], []
    for qid, (shape, children) in specs.items():
        weights = shape.weights
        W = float(sum(weights)) if weights is not None else 0.0
        arr = []
        for ci, c in enumerate(children):
            if c[0] == "t":
                _, t, f = c
                qleaf.append((qid, ci, t, f))
                _, ctf = eng.ctx.term_stat(t, f)
                fld = f
            elif c[0] == "syn":
                fld = c[2]
                # #SYN ctf = sum of leaf ctfs (tf concatenates, so the
                # totals add) — no job needed, broadcast stats suffice
                ctf = sum(eng.ctx.term_stat(t, f)[1] for t, f in c[1])
            else:
                fld = c[3]
                # a positional child with zero matches keeps (df, ctf) =
                # (0, 0) — the ctf=0 default quirk, same as the empty
                # list_stats aggregate on the single-query path
                _, ctf = pos_stats.get((qid, ci), (0, 0))
            w = (
                (weights[ci] / W if W != 0 else math.nan)
                if weights is not None
                else 0.0
            )
            arr.append((ci, float(ctf), w, float(c_len_of[fld]), fidx[fld]))
        qmeta.append((qid, shape.kind, 1.0 / len(children), arr))
    qmeta_df = spark.createDataFrame(
        qmeta,
        "qid string, _kind string, _exp double, "
        "_arr array<struct<ci:int, ctf:double, w:double, cl:double, fi:int>>",
    )

    frames = []
    if qleaf:
        qleaf_df = spark.createDataFrame(
            qleaf, "qid string, ci int, term string, field string"
        )
        scan = eng.ctx.index.postings_for(
            sorted({(t, f) for _, _, t, f in qleaf})
        )
        frames.append(
            scan.select("term", "field", "docid", "tf")
            .join(F.broadcast(qleaf_df), ["term", "field"])
            .select("qid", "ci", "docid", F.col("tf").cast("int").alias("tf"))
        )
    if pos_posts is not None:
        frames.append(
            pos_posts.select(
                "qid", "ci", "docid", F.col("tf").cast("int").alias("tf")
            )
        )
    if syn_rows is not None:
        frames.append(
            syn_rows.select(
                "qid", "ci", "docid", F.col("tf").cast("int").alias("tf")
            )
        )
    rows = reduce(DataFrame.unionByName, frames)
    grouped = (
        rows.groupBy("qid", "docid")
        .agg(F.collect_list(F.struct("ci", "tf")).alias("_ents"))
        .select("qid", "docid", F.map_from_entries("_ents").alias("_tfmap"))
        .join(_field_doclen_map(eng, flds, fidx), "docid", "left")
        .join(F.broadcast(qmeta_df), "qid")
    )
    return grouped.select("qid", "docid", _indri_combine_score(p).alias("score"))


def _bool_query_spec(
    eng: Engine, qid: str, text: str
) -> tuple[str, list[tuple[str, str]]]:
    """Parse + compile one Boolean query; ('bor'|'band', [(term, field)])
    for flat #OR / #AND over term leaves, else raise."""
    node = compile_node(eng.parse(text), eng.ctx, eng.default_field)
    if isinstance(node, IlNode):
        node = ScoreNode(node)
    if isinstance(node, ScoreNode):
        kind, children = "bor", [node]  # single child: max of one = it
    elif isinstance(node, OrNode):
        kind, children = "bor", node.children
    elif isinstance(node, AndBoolNode):
        kind, children = "band", node.children
    else:
        raise ValueError(
            f"query {qid!r} compiles to {type(node).__name__} — Boolean "
            "batch covers flat #AND/#OR"
        )
    for c in children:
        if not (isinstance(c, ScoreNode) and isinstance(c.child, TermNode)):
            raise ValueError(
                f"query {qid!r} has a structured child — Boolean batch "
                "covers flat term-leaf shapes"
            )
    return kind, [(c.child.term, c.child.field) for c in children]


def split_batchable(
    eng: Engine, queries: list[tuple[str, str]]
) -> tuple[list[tuple[str, str]], list[tuple[str, str]]]:
    """Partition a query file into (batchable, residual) for ``batch_topk``
    under ``eng``'s model: the shapes ``batch_topk`` covers, and the rest
    (nested operators) for per-query evaluation (jobs/run_queries.py
    --batch), instead of rejecting the whole file."""
    good, rest = [], []
    for qid, text in queries:
        try:
            if eng.model.name in (BM25, INDRI):
                _query_shape(eng, qid, text)
            elif eng.model.name in (UNRANKED_BOOLEAN, RANKED_BOOLEAN):
                _bool_query_spec(eng, qid, text)
            else:
                raise ValueError(f"model {eng.model.name}")
        except ValueError:
            rest.append((qid, text))
            continue
        good.append((qid, text))
    return good, rest


def bool_batch_scores(eng: Engine, queries: list[tuple[str, str]]) -> DataFrame:
    """[(qid, text)] -> (qid, docid, score) for flat Boolean #AND / #OR.

    Same one-scan/one-shuffle shape; the Boolean combines need no per-child
    constants at all — per (qid, docid) the aggregate keeps the distinct
    child count plus min/max tf, then #AND keeps rows present in EVERY
    child (QryopSlAnd.java:91-122, min score at :111-114 when ranked) and
    #OR keeps the union with the max (QryopSlOr.java:34-66). min/max
    commute bitwise with the reference's per-child float32 cast (rounding
    is monotone), so the post-agg cast equals the exact plan's."""
    from search_engine_spark.engine import score as score_mod

    if eng.model.name not in (UNRANKED_BOOLEAN, RANKED_BOOLEAN):
        raise ValueError("bool_batch_scores requires a Boolean model")
    spark = eng.index.doc_ids.sparkSession
    qleaf, qmeta = [], []
    for qid, text in queries:
        kind, leaves = _bool_query_spec(eng, qid, text)
        for ci, (t, f) in enumerate(leaves):
            qleaf.append((qid, ci, t, f))
        # membership target = DISTINCT (term, field) pairs: duplicate
        # children collapse exactly like the flat fast path
        # (compiler.try_flat_scores AndBoolNode branch)
        qmeta.append((qid, kind, len(set(leaves))))
    if not qleaf:
        return spark.createDataFrame([], "qid string, docid long, score double")

    pairs = sorted({(t, f) for _, _, t, f in qleaf})
    scan = eng.ctx.index.postings_for(pairs)
    qleaf_df = spark.createDataFrame(
        qleaf, "qid string, ci int, term string, field string"
    )
    qmeta_df = spark.createDataFrame(qmeta, "qid string, _kind string, _k int")
    base = (
        scan.select("term", "field", "docid", "tf")
        .join(F.broadcast(qleaf_df), ["term", "field"])
        .groupBy("qid", "docid")
        .agg(
            F.count_distinct(F.struct("term", "field")).alias("_n"),
            F.min("tf").alias("_min"),
            F.max("tf").alias("_max"),
        )
        .join(F.broadcast(qmeta_df), "qid")
        .where((F.col("_kind") == "bor") | (F.col("_n") == F.col("_k")))
    )
    if eng.model.name == RANKED_BOOLEAN:
        score = F.when(
            F.col("_kind") == "band",
            score_mod._f32(F.col("_min").cast("double")),
        ).otherwise(score_mod._f32(F.col("_max").cast("double")))
    else:
        score = score_mod._f32(F.lit(1.0))
    return base.select("qid", "docid", score.alias("score"))


def batch_topk(
    eng: Engine, queries: list[tuple[str, str]], k: int = TOP_K
) -> DataFrame:
    """[(qid, text)] -> (qid, rank, docid, ext_docid, score), top-k per qid.

    Rank-identical to per-query ``Engine.search`` (same scores, same
    desc-score/asc-ext-id tie-break); queries with no matching term simply
    have no rows (the TREC dummy row is the sink's job, topk.trec_lines).
    Every query is checked against its model's batch shapes first, so a
    file raises the same errors whichever route its queries take. BM25 and
    Indri queries the driver evaluator answers with no Spark job come back
    as local rows; the rest run through the model's batch plan (module
    docstring)."""
    model = eng.model.name
    if model in (UNRANKED_BOOLEAN, RANKED_BOOLEAN):
        return _rank_residual(eng, bool_batch_scores(eng, queries), k, len(queries))
    plan = {BM25: _sdm_bm25_scores, INDRI: _sdm_scores}.get(model)
    if plan is None:
        raise ValueError(f"batch execution does not cover the {model} model")
    shapes = [(qid, _query_shape(eng, qid, text)) for qid, text in queries]
    local, rest = [], {}
    for qid, shape in shapes:
        if shape is None:  # every term a stopword: no rows on either route
            continue
        res = None if _exact_forced() else struct_topk(
            eng.index, shape, eng.model, k, PruneStats()
        )
        if res is None:
            rest[qid] = (shape, [_child_spec(c) for c in shape.children])
        else:  # a local relation: collecting it runs no Spark job
            local += [(qid, *r) for r in res.collect()]
    # one Arrow-built local relation for every driver answer
    cols = list(zip(*local)) or [()] * len(_BATCH_SCHEMA)
    answer = eng.index.spark.createDataFrame(
        pa.table(
            dict(zip(_BATCH_SCHEMA.names, map(list, cols))),
            schema=to_arrow_schema(_BATCH_SCHEMA),
        ),
        _BATCH_SCHEMA,
    )
    if rest:
        answer = _rank_residual(eng, plan(eng, rest), k, len(rest)).unionByName(answer)
    return answer


def _rank_residual(eng: Engine, scores: DataFrame, k: int, n_queries: int) -> DataFrame:
    """A batch plan's (qid, docid, score) -> the per-qid top-k frame."""
    # stage 1 — salted partial cut: rank() keeps boundary ties (their final
    # order needs ext ids), every (qid, salt) group cuts to <= k + ties
    salt = F.pmod(F.xxhash64(F.col("docid")), F.lit(_SALT_BUCKETS))
    w_part = Window.partitionBy("qid", "salt").orderBy(F.desc("score"))
    survivors = (
        scores.withColumn("salt", salt)
        .withColumn("_r", F.rank().over(w_part))
        .where(F.col("_r") <= k)
        .drop("salt", "_r")
    )
    # stage 2 — resolve ext ids for the <= |Q|*S*(k+ties) survivors, with the
    # same size gate as topk.rank_topk: under the gate the doc_ids dimension
    # broadcasts whole; past it (4.4 TB at 10^10 docs) the survivor docids
    # collect into an IN-list pushed to the docid-sorted doc_ids parquet
    # (row-group pruning — kilobytes read), falling back to a distributed
    # join on pathological tie plateaus
    import os as _os

    from search_engine_spark.engine import topk as _topk

    gate = int(
        _os.environ.get(_topk._BROADCAST_MAX_ENV, _topk._BROADCAST_MAX_DEFAULT)
    )
    n_docs = eng.index.corpus.n_docs
    dim = eng.index.doc_ids
    if n_docs > gate:
        # past the gate the survivors plan (union postings scan + shuffle +
        # salted window) would otherwise execute TWICE — once for the
        # distinct-docid collect below and again for the ext-id join.
        # localCheckpoint materializes it eagerly (executor storage) and
        # truncates lineage, so the second traversal reuses the ≤|Q|·S·(k+t)
        # survivor rows instead of re-running exactly the large-index case
        # the gate exists for.
        survivors = survivors.localCheckpoint(eager=True)
        cap = max(10 * k * max(1, n_queries), _topk._TIE_FALLBACK)
        ids = [
            r["docid"]
            for r in survivors.select("docid").distinct().limit(cap + 1).collect()
        ]
        if len(ids) <= cap:
            dim = dim.where(F.col("docid").isin(ids))
            with_ext = survivors.join(F.broadcast(dim), "docid")
        else:  # tie-plateau fallback: let AQE pick the join
            with_ext = survivors.join(dim, "docid")
    else:
        with_ext = survivors.join(F.broadcast(dim), "docid")
    w_final = Window.partitionBy("qid").orderBy(
        F.desc("score"), F.asc("ext_docid")
    )
    return (
        with_ext.withColumn("rank", F.row_number().over(w_final))
        .where(F.col("rank") <= k)
        .select(
            "qid", "rank", "docid",
            F.col("ext_docid").cast("string").alias("ext_docid"), "score",
        )
    )
