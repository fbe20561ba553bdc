"""Batched multi-query execution: a whole query FILE as ONE Spark job.

The reference's outermost loop answers a query file one query at a time
(hw5/QryEval/QryEval.java:670-709) — fine for one JVM, but on a cluster each
query pays a full scan + shuffle + job-scheduling round trip. A TREC run
(and every offline-eval / training-candidate-generation workload at 100 TB)
is a BATCH: all queries are known up front, so the engine can amortize one
postings scan and one shuffle across the entire set.

Plan shape (flat BM25 ``#SUM`` bag-of-words queries, the north-rule
headline):

1. ONE ``postings_for`` scan over the union of every query's (term, field)
   leaves — term predicates pushed to the packed parquet exactly like the
   single-query flat path (PLANS.md §1), so the scan cost tracks the union
   of posting lists, not |queries| x index.
2. The per-posting BM25 score as the same codegen'd float32-cast expression
   the single-query path uses (compiler._leaf_score_col — bit-identity is
   inherited, not re-derived).
3. A broadcast join against the tiny (qid, term, field, mult) query-leaf
   table fans each posting row out to the queries that contain its term —
   map-side, no shuffle; ``mult`` carries duplicate-term multiplicity
   (#SUM(a a b) scores `a` twice, QryopSlSum.java:55-61).
4. ``groupBy(qid, docid).sum`` — THE one shuffle, with map-side partial
   aggregation, keyed by (qid, docid) so hot docids of different queries
   spread across reducers.
5. Per-qid top-k in two stages so no single task ever sees one query's
   full candidate set: a salted partial cut (window over (qid, salt),
   ``rank() <= k`` — rank(), not row_number(), keeps score ties at the
   boundary, whose order legitimately depends on ext ids we haven't
   resolved yet), then ext-id resolution for the <= |Q|*S*(k+ties)
   survivors only (the SURVIVORS side broadcasts — never the doc_ids
   dimension, which is 4.4 TB at 10^10 docs), then the final
   (desc score, asc ext_docid) row_number cut per qid — the W1 tie-break
   contract (hw5/QryEval/ScoreList.java:65-86).

Indri batch (``indri_batch_scores``) extends the same one-scan/one-shuffle
shape to the Indri full-outer-with-defaults combines (#AND geo-mean, #WAND,
#WSUM over term leaves — QryopSlIndriAnd.java:33-82, QryopSlWand.java:55-125,
QryopSlWsum.java:56-135). The per-query pivot trick of
ops._indri_pivot_scores can't pivot to fixed columns here (child count
varies per query), so the aggregate instead builds a per-(qid, docid)
``map<child_index, tf>`` and the combine runs POST-agg as a higher-order
``F.aggregate`` over a broadcast per-qid constants array ordered by child
index — JVM-side, no UDF, and the fold preserves the reference's
child-order float arithmetic exactly (1.0*x and pow(x, 1.0) are IEEE-exact
identities, so seeding the fold with 1.0 keeps bit-identity with the
reduce-over-columns single-query combine).

Per-query results are bitwise-identical to ``Engine.search`` on the same
index (tests/test_batch.py asserts it query-by-query, both backends).
"""

from __future__ import annotations

import math
from collections import Counter

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from search_engine_spark.config import (
    BM25, INDRI, RANKED_BOOLEAN, TOP_K, UNRANKED_BOOLEAN,
)
from search_engine_spark.engine.compiler import _leaf_score_col, compile_node
from search_engine_spark.engine.runner import Engine

# salt fan-out of the partial top-k stage: bounds the per-task row count of
# the first window at ~|matching docs| / SALTS for the hottest query
_SALT_BUCKETS = 32


def batch_scores(eng: Engine, queries: list[tuple[str, str]]) -> DataFrame:
    """[(qid, text)] -> (qid, docid, score) for flat BM25 BOW queries.

    One scan + one shuffle for the whole set; see module docstring.
    """
    if eng.model.name != BM25:
        raise ValueError("batch execution covers flat BM25 #SUM queries")
    fld = eng.default_field
    leaves: list[tuple[str, str, str, float]] = []  # qid, term, field, mult
    for qid, text in queries:
        if "#" in text:
            raise ValueError(f"query {qid!r} is structured — batch path is flat BOW")
        toks = eng.tokenizer.tokenize(text)
        for t, n in sorted(Counter(toks).items()):
            leaves.append((qid, t, fld, float(n)))
    if not leaves:
        spark = eng.index.doc_ids.sparkSession
        return spark.createDataFrame([], "qid string, docid long, score double")

    pairs = sorted({(t, f) for _, t, f, _ in leaves})
    fields = {f for _, f in pairs}
    scan = eng.ctx.index.postings_for(pairs)
    scored = scan.select(
        "term", "field", "docid",
        _leaf_score_col(eng.ctx, fields).alias("score"),
    )
    spark = scan.sparkSession
    qleaf = spark.createDataFrame(
        leaves, "qid string, term string, field string, mult double"
    )
    return (
        scored.join(F.broadcast(qleaf), ["term", "field"])
        .select("qid", "docid", (F.col("score") * F.col("mult")).alias("score"))
        .groupBy("qid", "docid")
        .agg(F.sum("score").alias("score"))
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


def _indri_combine_score(p, *, dl_of, dl_def_of):
    """The post-aggregation Indri combine over the broadcast constants array
    `_arr` (rows: ci, ctf, w, cl, fi) against the `_tfmap` column: per-child
    actual-or-default score via ``dl_of``/``dl_def_of`` (Column factories
    taking the array element), folded in child order by `_kind` — the exact
    float arithmetic of the single-query pivot combines (seeding with
    1.0/0.0 is IEEE-exact against the reference's unseeded left folds)."""
    from search_engine_spark.engine import score as score_mod

    def _s(x):
        tf = F.element_at(F.col("_tfmap"), x["ci"])
        actual = score_mod.indri_score(
            ctf=x["ctf"], c_len=x["cl"], p=p, tf=tf, doclen=dl_of(x)
        )
        default = score_mod.indri_default_score(
            ctf=x["ctf"], c_len=x["cl"], p=p, doclen=dl_def_of(x)
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


def _indri_query_spec(
    eng: Engine, qid: str, text: str
) -> tuple[str, list[float] | None, list[tuple[str, str]]]:
    """Parse + compile one Indri query; return (kind, weights, [(term, field)])
    for the flat shapes the batch path covers — #AND / #WAND / #WSUM whose
    children are all #SCORE(term-leaf) — else raise. Going through the real
    parser/compiler inherits every parsing quirk (model-default wrap,
    single-child unwrap, stopword weight popping) instead of re-deriving it."""
    from search_engine_spark.engine.ops import (
        IlNode, IndriAndNode, ScoreNode, TermNode, WandNode, WsumNode,
    )

    node = compile_node(eng.parse(text), eng.ctx, eng.default_field)
    if isinstance(node, IlNode):
        node = ScoreNode(node)
    if isinstance(node, ScoreNode):
        kind, weights, children = "and", None, [node]
    elif isinstance(node, IndriAndNode):
        kind, weights, children = "and", None, node.children
    elif isinstance(node, WandNode):
        kind, weights, children = "wand", node.weights, node.children
    elif isinstance(node, WsumNode):
        kind, weights, children = "wsum", node.weights, node.children
    else:
        raise ValueError(
            f"query {qid!r} compiles to {type(node).__name__} — Indri batch "
            "covers flat #AND/#WAND/#WSUM"
        )
    for c in children:
        if not (isinstance(c, ScoreNode) and isinstance(c.child, TermNode)):
            raise ValueError(
                f"query {qid!r} has a structured child — Indri batch covers "
                "flat term-leaf shapes"
            )
    return kind, weights, [(c.child.term, c.child.field) for c in children]


def indri_batch_scores(eng: Engine, queries: list[tuple[str, str]]) -> DataFrame:
    """[(qid, text)] -> (qid, docid, score) for flat Indri #AND/#WAND/#WSUM.

    One union postings scan + broadcast (qid, ci, term, field) fan-out +
    ONE (qid, docid) aggregation; the candidate key set per qid is the
    union of its children's posting lists (a group exists iff >=1 leaf
    matched), and missing children take their default score post-agg — see
    module docstring. Mixed-field batches (hw3's multi-field #WSUM shape)
    additionally join a per-docid field→doclen map AFTER the aggregate
    (bounded candidate set x filtered doc_stats), with per-child c_len and
    field index riding the broadcast constants array."""
    from search_engine_spark.engine import score as score_mod

    if eng.model.name != INDRI:
        raise ValueError("indri_batch_scores requires the Indri model")
    spark = eng.index.doc_ids.sparkSession
    specs = {qid: _indri_query_spec(eng, qid, text) for qid, text in queries}
    fields = {f for _, _, leaves in specs.values() for _, f in leaves}
    if not fields:
        return spark.createDataFrame([], "qid string, docid long, score double")
    multi_field = len(fields) > 1
    flds = sorted(fields)
    fidx = {f: j for j, f in enumerate(flds)}
    # per-FIELD corpus length: a plan constant on the single-field path; on
    # the mixed-field path it rides the per-child constants array (like the
    # single-query mf pivot's per-child c_len, ops._indri_pivot_scores_mf)
    c_len_of = {f: eng.index.corpus.sum_doclen(f) for f in flds}
    p = eng.model.indri
    eng.ctx.prefetch_terms({(t, f) for _, _, lv in specs.values() for t, f in lv})

    # broadcast dimensions: (qid, ci, term, field) leaf fan-out + per-qid
    # constants array ordered by child index (ctf constant-folds into the
    # score expression on the single-query path; here it rides the tiny
    # array, as do the per-child c_len and field index)
    qleaf, qmeta = [], []
    for qid, (kind, weights, leaves) in specs.items():
        if not leaves:  # all children stopword-popped: no candidates, no rows
            continue
        W = float(sum(weights)) if weights is not None else 0.0
        arr = []
        for ci, (t, f) in enumerate(leaves):
            qleaf.append((qid, ci, t, f))
            w = (
                (weights[ci] / W if W != 0 else math.nan)
                if weights is not None
                else 0.0
            )
            _, ctf = eng.ctx.term_stat(t, f)
            arr.append((ci, float(ctf), w, float(c_len_of[f]), fidx[f]))
        # '#AND' geo-mean exponent, python-derived like the single-query
        # F.lit(1.0 / len(children)) so Math.pow sees an identical double
        qmeta.append((qid, kind, 1.0 / len(leaves), arr))

    pairs = sorted({(t, f) for _, _, lv in specs.values() for t, f in lv})
    scan = eng.ctx.index.postings_for(pairs)
    qleaf_df = spark.createDataFrame(
        qleaf, "qid string, ci int, term string, field string"
    )
    qmeta_df = spark.createDataFrame(
        qmeta,
        "qid string, _kind string, _exp double, "
        "_arr array<struct<ci:int, ctf:double, w:double, cl:double, fi:int>>",
    )

    if not multi_field:
        # single-field fast path: every child's doclen is the doc's length
        # in THE field, carried by the posting rows themselves — one shuffle
        grouped = (
            scan.select("term", "field", "docid", "tf", "doclen")
            .join(F.broadcast(qleaf_df), ["term", "field"])
            .groupBy("qid", "docid")
            .agg(
                F.collect_list(F.struct("ci", "tf")).alias("_ents"),
                F.max("doclen").alias("_dl"),
            )
            .select(
                "qid", "docid",
                F.map_from_entries("_ents").alias("_tfmap"), "_dl",
            )
            .join(F.broadcast(qmeta_df), "qid")
        )
    else:
        # mixed-field (hw3's `#WSUM(w a.content w b.path)` shape, batched —
        # reference hw3/QryEval/mengyuy-HW3-Report.pdf §2): a missing
        # child's default score needs the doc's length in THAT child's
        # field, which no posting row of another field carries. The
        # single-query mf pivot unions per-field doc_stats rows into its
        # aggregate; HERE that would fan |docs|x|fields| rows out per qid,
        # so instead the per-docid field→doclen map joins AFTER the
        # (qid, docid) aggregate — the join's left side is the bounded
        # candidate set, and doc_stats is filtered to the batch's fields
        # before its own docid-keyed aggregate. A doc with no tokens in a
        # child's field has no doc_stats row: doclen 0 in that child's
        # default, the ScoreNode quirk the mf pivot documents.
        dstats = _field_doclen_map(eng, flds, fidx)
        grouped = (
            scan.select("term", "field", "docid", "tf")
            .join(F.broadcast(qleaf_df), ["term", "field"])
            .groupBy("qid", "docid")
            .agg(F.collect_list(F.struct("ci", "tf")).alias("_ents"))
            .select("qid", "docid", F.map_from_entries("_ents").alias("_tfmap"))
            .join(dstats, "docid", "left")
            .join(F.broadcast(qmeta_df), "qid")
        )

    if multi_field:
        score = _indri_combine_score(
            p,
            dl_of=lambda x: F.element_at(F.col("_dlmap"), x["fi"]),
            dl_def_of=lambda x: F.coalesce(
                F.element_at(F.col("_dlmap"), x["fi"]), F.lit(0).cast("long")
            ),
        )
    else:
        score = _indri_combine_score(
            p, dl_of=lambda x: F.col("_dl"), dl_def_of=lambda x: F.col("_dl")
        )
    return grouped.select("qid", "docid", score.alias("score"))


def _sdm_query_spec(
    eng: Engine, qid: str, text: str
) -> tuple[str, list[float] | None, list[tuple]]:
    """Parse + compile one structured (SDM-shaped) Indri query: flat
    #AND/#WAND/#WSUM whose children are term leaves, #SYN unions, OR
    positional #NEAR/n / #WINDOW/n over term leaves — the reference hw3
    SDM headline ``#AND(q #NEAR/1(q) #WINDOW/8(q))``
    (hw3/QryEval/mengyuy-HW3-Report.pdf §3). Returns
    (kind, weights, children) — see _classify_sdm_children for the child
    tuple formats. A superset of _indri_query_spec's flat shapes."""
    from search_engine_spark.engine.ops import (
        IlNode, IndriAndNode, NearNode, ScoreNode, TermNode, WandNode,
        WindowNode, WsumNode,
    )

    node = compile_node(eng.parse(text), eng.ctx, eng.default_field)
    if isinstance(node, IlNode):
        node = ScoreNode(node)
    if isinstance(node, ScoreNode):
        kind, weights, children = "and", None, [node]
    elif isinstance(node, IndriAndNode):
        kind, weights, children = "and", None, node.children
    elif isinstance(node, WandNode):
        kind, weights, children = "wand", node.weights, node.children
    elif isinstance(node, WsumNode):
        kind, weights, children = "wsum", node.weights, node.children
    else:
        raise ValueError(
            f"query {qid!r} compiles to {type(node).__name__} — SDM batch "
            "covers flat #AND/#WAND/#WSUM over term/positional children"
        )
    return kind, weights, _classify_sdm_children(qid, children)


def _classify_sdm_children(qid: str, children: list) -> list[tuple]:
    """ScoreNode children -> SDM spec tuples (shared by the Indri and BM25
    SDM specs): ("t", term, field), ("syn", [(term, field)...], field), or
    ("near"|"window", distance, [(term, field)...], field)."""
    from search_engine_spark.engine.ops import (
        NearNode, ScoreNode, SynNode, TermNode, WindowNode,
    )

    out: list[tuple] = []
    for c in children:
        if not isinstance(c, ScoreNode):
            raise ValueError(
                f"query {qid!r} has a nested Sl child — SDM batch covers "
                "term/positional children only"
            )
        ch = c.child
        if isinstance(ch, TermNode):
            out.append(("t", ch.term, ch.field))
        elif isinstance(ch, SynNode):
            if not all(isinstance(leaf, TermNode) for leaf in ch.children):
                raise ValueError(
                    f"query {qid!r} has a nested composite inside a #SYN "
                    "child — SDM batch covers term leaves"
                )
            leaves = [(leaf.term, leaf.field) for leaf in ch.children]
            if len(leaves) == 1:
                out.append(("t",) + leaves[0])  # 1-arg #SYN IS its leaf list
            else:
                out.append(("syn", leaves, ch.field))
        elif isinstance(ch, (NearNode, WindowNode)):
            if not all(isinstance(leaf, TermNode) for leaf in ch.children):
                raise ValueError(
                    f"query {qid!r} has a nested composite inside a "
                    "positional child — SDM batch covers term leaves"
                )
            leaves = [(leaf.term, leaf.field) for leaf in ch.children]
            if len(leaves) == 1:
                # 1-arg passthrough (QryopIlWindow.java:51-57): the result
                # list IS the leaf's list, so treat as a term child — the
                # result df/ctf equal the leaf's broadcast stats
                out.append(("t",) + leaves[0])
            else:
                op = "near" if isinstance(ch, NearNode) else "window"
                out.append((op, ch.distance, leaves, ch.field))
        else:
            raise ValueError(
                f"query {qid!r} has a {type(ch).__name__} child — SDM batch "
                "covers term and #NEAR/#WINDOW children"
            )
    return out


def _sdm_bm25_query_spec(eng: Engine, qid: str, text: str) -> list[tuple]:
    """BM25 twin of _sdm_query_spec: flat #SUM (the model-default wrap)
    whose children are term leaves or #NEAR/n / #WINDOW/n over term leaves
    — the hw2 structured-BM25 shape. Returns the children spec only (#SUM
    has no weights; duplicate children each contribute once, summed)."""
    from search_engine_spark.engine.ops import IlNode, ScoreNode, SumNode

    node = compile_node(eng.parse(text), eng.ctx, eng.default_field)
    if isinstance(node, IlNode):
        node = ScoreNode(node)
    if isinstance(node, ScoreNode):
        children = [node]
    elif isinstance(node, SumNode):
        children = node.children
    else:
        raise ValueError(
            f"query {qid!r} compiles to {type(node).__name__} — BM25 SDM "
            "batch covers #SUM over term/positional children"
        )
    return _classify_sdm_children(qid, children)


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
    """[(qid, text)] -> (qid, docid, score) for structured BM25 #SUM
    queries (term + #NEAR/n + #WINDOW/n children — the hw2 structured-BM25
    shape), batched across qids.

    Phase 1 is the shared positional walk (_walk_positional_children);
    phase 2 scores term children straight off ONE union postings scan with
    the same codegen'd expression the flat batch uses (_leaf_score_col —
    df/avgdl denormalized, no defaults: #SUM sums the scores PRESENT,
    QryopSlSum.java:43-75), scores positional children from the walked
    frame with per-child df riding a broadcast constants table and doclen
    from the per-docid field map, and runs ONE (qid, docid) sum. Bitwise ≡
    per-query Engine.search (tests/test_batch.py)."""
    from search_engine_spark.engine import score as score_mod

    if eng.model.name != BM25:
        raise ValueError("sdm_bm25_batch_scores requires the BM25 model")
    spark = eng.index.doc_ids.sparkSession
    specs = {qid: _sdm_bm25_query_spec(eng, qid, text) for qid, text in queries}

    child_fields: set[str] = set()
    term_pairs: set[tuple[str, str]] = set()
    for children in specs.values():
        for c in children:
            child_fields.add(_child_field(c))
    if not child_fields:
        return spark.createDataFrame([], "qid string, docid long, score double")
    flds = sorted(child_fields)
    fidx = {f: j for j, f in enumerate(flds)}
    p = eng.model.bm25
    n_docs = eng.index.corpus.n_docs

    pos_posts, pos_stats = _walk_positional_children(eng, specs)
    syn_rows = _syn_child_rows(eng, specs)
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

    qleaf, pmeta = [], []
    for qid, children in specs.items():
        for ci, c in enumerate(children):
            if c[0] == "t":
                qleaf.append((qid, ci, c[1], c[2]))
                term_pairs.add((c[1], c[2]))
            else:
                fld = _child_field(c)
                df_val, _ = pos_stats.get((qid, ci), (0, 0))
                pmeta.append(
                    (qid, ci, float(df_val),
                     float(eng.index.corpus.avgdl(fld)), fidx[fld])
                )

    frames = []
    if qleaf:
        eng.ctx.prefetch_terms(term_pairs)
        scan = eng.ctx.index.postings_for(sorted(term_pairs))
        qleaf_df = spark.createDataFrame(
            qleaf, "qid string, ci int, term string, field string"
        )
        frames.append(
            scan.select(
                "term", "field", "docid",
                _leaf_score_col(eng.ctx, {f for _, f in term_pairs}).alias(
                    "score"
                ),
            )
            .join(F.broadcast(qleaf_df), ["term", "field"])
            .select("qid", "docid", "score")
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
    if not frames:
        return spark.createDataFrame([], "qid string, docid long, score double")
    from functools import reduce

    rows = reduce(DataFrame.unionByName, frames)
    return rows.groupBy("qid", "docid").agg(F.sum("score").alias("score"))


def sdm_batch_scores(eng: Engine, queries: list[tuple[str, str]]) -> DataFrame:
    """[(qid, text)] -> (qid, docid, score) for structured (SDM-shaped)
    Indri queries — flat #AND/#WAND/#WSUM over term AND positional
    (#NEAR/n, #WINDOW/n) children, batched across qids.

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
    2. The combine job: term-child rows (one scan + broadcast fan-out,
       exactly indri_batch_scores) unioned with the checkpointed positional
       rows, ONE (qid, docid) aggregate into a tf-map, per-docid
       field→doclen map joined post-agg, and the same broadcast-constants
       higher-order combine — positional children's ctf rides the constants
       array from step 1's stats, term children's from broadcast term
       stats. Bitwise ≡ per-query Engine.search
       (tests/test_batch.py::test_sdm_batch_matches_per_query)."""
    if eng.model.name != INDRI:
        raise ValueError("sdm_batch_scores requires the Indri model")
    spark = eng.index.doc_ids.sparkSession
    specs = {qid: _sdm_query_spec(eng, qid, text) for qid, text in queries}

    child_fields: set[str] = set()
    term_pairs: set[tuple[str, str]] = set()
    pos_pairs: set[tuple[str, str]] = set()
    syn_pairs: set[tuple[str, str]] = set()
    for kind, weights, children in specs.values():
        for c in children:
            child_fields.add(_child_field(c))
            if c[0] == "t":
                term_pairs.add((c[1], c[2]))
            elif c[0] == "syn":
                syn_pairs.update(c[1])
            else:
                pos_pairs.update(c[2])
    if not child_fields:
        return spark.createDataFrame([], "qid string, docid long, score double")
    flds = sorted(child_fields)
    fidx = {f: j for j, f in enumerate(flds)}
    c_len_of = {f: eng.index.corpus.sum_doclen(f) for f in flds}
    p = eng.model.indri
    # syn leaves included: their ctf sums make the child's ctf driver-side
    eng.ctx.prefetch_terms(term_pairs | syn_pairs)

    # ---- phase 1: every positional/#SYN child of every query, ONE job ---
    children_of = {qid: ch for qid, (_k, _w, ch) in specs.items()}
    pos_posts, pos_stats = _walk_positional_children(eng, children_of)
    syn_rows = _syn_child_rows(eng, children_of)

    # ---- phase 2: constants + combine (indri_batch_scores shape) --------
    qleaf, qmeta = [], []
    for qid, (kind, weights, children) in specs.items():
        if not children:
            continue
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
        qmeta.append((qid, kind, 1.0 / len(children), arr))
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
    from functools import reduce

    rows = reduce(DataFrame.unionByName, frames)
    grouped = (
        rows.groupBy("qid", "docid")
        .agg(F.collect_list(F.struct("ci", "tf")).alias("_ents"))
        .select("qid", "docid", F.map_from_entries("_ents").alias("_tfmap"))
        .join(_field_doclen_map(eng, flds, fidx), "docid", "left")
        .join(F.broadcast(qmeta_df), "qid")
    )
    score = _indri_combine_score(
        p,
        dl_of=lambda x: F.element_at(F.col("_dlmap"), x["fi"]),
        dl_def_of=lambda x: F.coalesce(
            F.element_at(F.col("_dlmap"), x["fi"]), F.lit(0).cast("long")
        ),
    )
    return grouped.select("qid", "docid", score.alias("score"))


def _bool_query_spec(
    eng: Engine, qid: str, text: str
) -> tuple[str, list[tuple[str, str]]]:
    """Parse + compile one Boolean query; ('bor'|'band', [(term, field)])
    for flat #OR / #AND over term leaves, else raise."""
    from search_engine_spark.engine.ops import (
        AndBoolNode, IlNode, OrNode, ScoreNode, TermNode,
    )

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
    under ``eng``'s model. A mixed offline-eval file then runs as ONE job
    for the flat majority plus per-query evaluation of the structured
    residual (jobs/run_queries.py --batch), instead of rejecting the whole
    file — the r03 verdict's batch-coverage gap."""
    good, rest = [], []
    for qid, text in queries:
        try:
            if eng.model.name == BM25:
                if "#" in text:
                    # structured: batchable iff it fits the SDM shape
                    _sdm_bm25_query_spec(eng, qid, text)
            elif eng.model.name == INDRI:
                # SDM spec is a superset of the flat spec: flat, mixed-field
                # and #NEAR/#WINDOW-structured queries all batch
                _sdm_query_spec(eng, qid, text)
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
    eng: Engine, queries: list[tuple[str, str]], k: int = TOP_K,
    salt_buckets: int = _SALT_BUCKETS,
) -> DataFrame:
    """[(qid, text)] -> (qid, rank, docid, ext_docid, score), top-k per qid.

    Rank-identical to per-query ``Engine.search`` (same score expression,
    same desc-score/asc-ext-id tie-break); queries with no matching term
    simply have no rows (the TREC dummy row is the sink's job,
    topk.trec_lines). Dispatches on the engine's model: flat BM25 #SUM,
    flat Indri #AND/#WAND/#WSUM, or flat Boolean #AND/#OR.
    """
    if eng.model.name == INDRI:
        # flat sets take the one-shuffle fast path; any positional child
        # routes the WHOLE set through the SDM plan (a superset: flat
        # queries are SDM queries with zero positional children)
        flat = True
        try:
            for qid, text in queries:
                _indri_query_spec(eng, qid, text)
        except ValueError:
            flat = False
        scores = (
            indri_batch_scores(eng, queries)
            if flat
            else sdm_batch_scores(eng, queries)
        )
    elif eng.model.name in (UNRANKED_BOOLEAN, RANKED_BOOLEAN):
        scores = bool_batch_scores(eng, queries)
    elif any("#" in text for _, text in queries):
        # structured BM25 (#SUM over positional children): the SDM plan
        scores = sdm_bm25_batch_scores(eng, queries)
    else:
        scores = batch_scores(eng, queries)
    # stage 1 — salted partial cut: rank() keeps boundary ties (their final
    # order needs ext ids), every (qid, salt) group cuts to <= k + ties
    salt = F.pmod(F.xxhash64(F.col("docid")), F.lit(salt_buckets))
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
        cap = max(10 * k * max(1, len(queries)), _topk._TIE_FALLBACK)
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
        .select("qid", "rank", "docid", "ext_docid", "score")
    )
