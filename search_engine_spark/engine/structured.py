"""The driver evaluator: every query root ``root_shape`` classifies — BM25
#SUM, Indri #AND/#WAND/#WSUM, Boolean #AND/#OR, or a bare #SCORE — whose
leaf postings fit the driver gate is answered here, flat or structured, in
one field or several, with no Spark job.

The exact plan answers ``#SUM(t #NEAR/1(a b))`` with a positional join, a
mapInPandas walk, a cached list, a stats job and a scoring job — about ten
Spark jobs for a few thousand postings. When the query's (term, field)
leaves hold at most ``pruning._POSTS_PER_TASK`` postings (Σ df from the
driver's term stats, no job) this module evaluates the same tree on the
driver, reading every leaf posting (whole columnar lists, no block
skipping):

  1. every leaf term's blocks are read and decoded, field by field
     (``pruning._Query.read``: pyarrow reads of the files holding them, one
     decode pass, tombstoned postings dropped) into docid-sorted lists.
     Positions are read, as one flat array, only for a field that a
     #NEAR/#WINDOW/#SYN child reads;
  2. the Il tree is walked bottom-up: #SYN is a union that concatenates and
     sorts positions per doc, #NEAR/#WINDOW intersect their args' docids
     and run the numpy wavefront walks (``poswalk.near_flat`` /
     ``window_flat``) on the flat positions;
  3. each #SCORE child gets the exact plan's (df, ctf): a term leaf's from
     term_stats (an absent term's is (0, 0)), a composite list's as
     (len, Σtf) — ``IlNode.list_stats``; doclen rides on the leaf postings;
  4. one pivot holds a row per child, so a duplicated term is scored once
     per child. Each child is scored with its own field's avgdl or
     collection length and the doc's length in that field. An Indri child
     a doc lacks takes its default at the doc's length in the child's
     field: from another child's postings in that field, else a pyarrow
     read of doc_stats, 0 for a doc with no row there (the quirk
     ``ops._indri_pivot_scores_mf`` documents). BM25 and Indri score in
     numpy with ``pruning.bm25_scorer`` / ``indri_scorer`` (score.py's
     numpy twins of the exact plan's expressions, with StrictMath's log and
     pow). A Boolean child scores f32(tf) when ranked, 1.0 when not; #OR
     keeps every doc of any child at the max, #AND the docs every child
     holds at the min (QryopSlOr.java:34-66, QryopSlAnd.java:91-122).
     ``pruning.score_local`` ranks them, so the answers are bitwise the
     exact plan's and no JVM call runs before the answer frame.

Any other shape (nested Sl, a non-positive total weight), a leaf set over
the gate, or a failed driver read returns None with the reason in
``PruneStats.fallback``. Past the gate ``Engine._shape_topk`` offers a flat
single-field BM25/Indri query to the block-max planner (engine/pruning.py);
anything else runs the exact plan.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

import numpy as np
from pyspark.sql import DataFrame

from search_engine_spark.config import (
    BM25, INDRI, RANKED_BOOLEAN, UNRANKED_BOOLEAN, ModelConfig,
)
from search_engine_spark.engine import pruning, score as score_mod
from search_engine_spark.engine.ops import (
    AndBoolNode, IndriAndNode, NearNode, OrNode, ScoreNode, SumNode, SynNode,
    TermNode, WandNode, WindowNode, WsumNode,
)
from search_engine_spark.engine.poswalk import near_flat, window_flat
from search_engine_spark.engine.topk import _enumerate_ranks
from search_engine_spark.index.persist import PackedIndex, _gather_runs


@dataclass
class _List:
    """A docid-ascending inverted list: per doc its tf, doclen and, when
    read, positions (doc i's are the i-th run of tf[i] values of ``pos``)."""

    docid: np.ndarray
    tf: np.ndarray
    doclen: np.ndarray
    pos: np.ndarray | None

    def take(self, ix: np.ndarray) -> "_List":
        """The docs at ``ix``, in that order."""
        pos = None if self.pos is None else _gather_runs(self.pos, self.tf, ix)
        return _List(self.docid[ix], self.tf[ix], self.doclen[ix], pos)


def _concat(lists: list) -> _List:
    """The docs of ``lists`` one after another (a docid may repeat); their
    positions when every list carries them."""
    if not lists:
        z = np.zeros(0, np.int64)
        return _List(z, z, z, z)
    cols = [np.concatenate(c) for c in zip(*((x.docid, x.tf, x.doclen) for x in lists))]
    pos = (
        None if any(x.pos is None for x in lists)
        else np.concatenate([x.pos for x in lists])
    )
    return _List(*cols, pos)


def _syn(kids: list) -> _List:
    """#SYN: every doc of any arg, its args' positions concatenated and
    sorted (duplicates kept), tf = their count (QryopIlSyn.java:43-97)."""
    u = _concat(kids)
    doc_of = np.repeat(u.docid, u.tf)
    order = np.lexsort((u.pos, doc_of))
    docid, first = np.unique(u.docid, return_index=True)
    tf = np.bincount(np.searchsorted(docid, doc_of), minlength=len(docid))
    return _List(docid, tf, u.doclen[first], u.pos[order])


def _walk(kids: list, distance: int, walk) -> _List:
    """#NEAR/#WINDOW over the docs every arg holds; a doc stays when the
    walk matches at least once, tf = its match count."""
    if len(kids) == 1:  # 1-arg passthrough (QryopIlWindow.java:51-57)
        return kids[0]
    docs = reduce(np.intersect1d, [x.docid for x in kids])
    subs = [x.take(np.searchsorted(x.docid, docs)) for x in kids]
    ranks, counts, pos = walk([(s.pos, s.tf) for s in subs], distance)
    return _List(docs[ranks], counts, subs[0].doclen[ranks], pos)


def _eval_il(node, leaves: dict) -> _List:
    if isinstance(node, TermNode):
        return leaves[node.term, node.field]
    kids = [_eval_il(c, leaves) for c in node.children]
    if isinstance(node, SynNode):
        return _syn(kids)
    walk = near_flat if isinstance(node, NearNode) else window_flat
    return _walk(kids, node.distance, walk)


def _leaf_terms(node, out: list) -> bool:
    """Collect the tree's leaf terms into ``out``; False when the tree holds
    anything but TermNode/SynNode/NearNode/WindowNode."""
    if isinstance(node, TermNode):
        out.append(node)
        return True
    if not isinstance(node, (SynNode, NearNode, WindowNode)):
        return False
    return all(_leaf_terms(c, out) for c in node.children)


@dataclass
class Shape:
    """A query root the driver evaluator covers: its combine ``kind`` ("sum"
    for BM25, "and"/"wand"/"wsum" for Indri, "and"/"or" for the Boolean
    models), ``weights``, and #SCORE ``children``, each over a tree of
    Term/Syn/Near/Window nodes whose TermNodes, in order, are ``leaves``
    (none when every query term was a stopword). ``bare``: the root is one
    #SCORE."""

    kind: str
    weights: list | None
    children: list
    leaves: list
    bare: bool

    @property
    def flat(self) -> bool:
        """Every child scores a plain term: no child needs positions. Past
        the driver gate only flat shapes can take the block-max planner."""
        return all(isinstance(c.child, TermNode) for c in self.children)


def root_shape(node, model: str) -> Shape | None:
    """The one classifier of a compiled root for the driver evaluator and
    the past-gate planner, or None (the exact plan runs). A bare #SCORE root
    is a one-child #SUM (BM25), #AND (Indri) or #OR (Boolean): 0.0 + s,
    pow(s, 1.0) and the max of one are all exactly s."""
    weights = None
    if isinstance(node, ScoreNode):
        kind, children = {BM25: "sum", INDRI: "and"}.get(model, "or"), [node]
    elif model == BM25 and isinstance(node, SumNode):
        kind, children = "sum", node.children
    elif model == INDRI and isinstance(node, IndriAndNode):
        kind, children = "and", node.children
    elif model == INDRI and isinstance(node, (WandNode, WsumNode)):
        kind = "wand" if isinstance(node, WandNode) else "wsum"
        weights, children = node.weights, node.children
    elif isinstance(node, (AndBoolNode, OrNode)):
        kind = "and" if isinstance(node, AndBoolNode) else "or"
        children = node.children
    else:
        return None
    leaves: list = []
    if not all(
        isinstance(c, ScoreNode) and _leaf_terms(c.child, leaves) for c in children
    ):
        return None  # nested Sl
    return Shape(kind, weights, children, leaves, isinstance(node, ScoreNode))


def _bool_scorer(kind: str, ranked: bool):
    """Boolean #OR (the max) or #AND (the min; the pivot holds only the docs
    every child holds) over a pivot: a child scores f32(tf) when ranked,
    1.0 when not (QryopSlScore.java:85-89)."""

    def score(piv: pruning._Pivot) -> np.ndarray:
        if not ranked:
            return np.ones(len(piv.docid))
        s = score_mod._f32_np(piv.tf.astype(np.float64))
        if kind == "or":
            return np.where(piv.present, s, -np.inf).max(axis=0)
        return s.min(axis=0)

    return score


def _field_doclens(
    pidx: PackedIndex, piv: pruning._Pivot, lists: list, flds: list[str],
    defaults: bool,
) -> np.ndarray:
    """One doclen row per child, over the pivot's docs: the doc's length in
    the child's field, from the postings of that field's children; with
    ``defaults`` (Indri scores a doc a child lacks), a doc no child of that
    field holds reads it from doc_stats (``DriverReads.doclens``)."""
    rows = {}
    for f in dict.fromkeys(flds):
        row = np.zeros(len(piv.docid), dtype=np.int64)
        have = np.zeros(len(piv.docid), dtype=bool)
        for lst in (x for x, g in zip(lists, flds) if g == f):
            ix = np.searchsorted(piv.docid, lst.docid)
            row[ix], have[ix] = lst.doclen, True
        if defaults and not have.all():
            row[~have] = pidx.reads.doclens(piv.docid[~have], f)
        rows[f] = row
    return np.stack([rows[f] for f in flds])


def struct_topk(
    pidx: PackedIndex, shape: Shape, model: ModelConfig, k: int, st: pruning.PruneStats
) -> DataFrame | None:
    """Top-k of a query of any ``shape``, evaluated on the driver from its
    leaves' whole posting lists; None when the exact plan or, past the gate,
    the block-max planner answers instead (the reason in ``st.fallback``;
    ``st.past_gate`` set when the leaves' Σ df exceeds the gate)."""
    kind, weights, children = shape.kind, shape.weights, shape.children
    if not children:  # every term a stopword: the exact plan's empty answer
        st.score_mode = "driver"
        return _enumerate_ranks(pidx.spark, [])
    if weights is not None and sum(weights) <= 0:
        st.fallback = "non-positive total weight"
        return None
    by_field: dict[str, list[str]] = {}  # each field's distinct leaf terms
    for f, t in dict.fromkeys((x.field, x.term) for x in shape.leaves):
        by_field.setdefault(f, []).append(t)
    positional: list = []  # leaves under a #NEAR/#WINDOW/#SYN child
    for c in children:
        if not isinstance(c.child, TermNode):
            _leaf_terms(c.child, positional)
    try:
        trows = pruning._leaves_fit(pidx, by_field, st)
        if trows is None:
            return None
        leaves, files = {}, set()
        st.n_blocks_total = 0
        for fld, terms in by_field.items():
            metas = pidx.reads.block_meta(terms, fld)
            q = pruning._Query(
                pidx, terms, fld, metas,
                positions=any(x.field == fld for x in positional),
            )
            got = q.read(np.arange(len(q.n)))
            st.n_blocks_total += len(q.n)
            files |= q.files_read
            # docid-ascending per term (a term's postings are distinct docs)
            by = np.lexsort((got.docid, got.term))
            srt = _List(got.docid, got.tf, got.doclen, got.pos).take(by)
            cut = np.searchsorted(got.term[by], np.arange(len(terms) + 1))
            for i, t in enumerate(terms):
                leaves[t, fld] = srt.take(np.arange(*cut[i:i + 2]))
        st.n_blocks_scanned = st.n_blocks_total
        st.n_files_read = len(files)

        lists = [_eval_il(c.child, leaves) for c in children]
        boolean = model.name in (UNRANKED_BOOLEAN, RANKED_BOOLEAN)
        if boolean and kind == "and":  # the docs every child holds
            docs = reduce(np.intersect1d, [x.docid for x in lists])
            lists = [x.take(np.searchsorted(x.docid, docs)) for x in lists]
        u = _concat(lists)
        piv = pruning._Pivot(
            np.repeat(np.arange(len(lists)), [len(x.docid) for x in lists]),
            u.docid, u.tf, u.doclen, len(lists),
        )
        flds = [c.child.field for c in children]
        if len(set(flds)) > 1:
            piv.doclen = _field_doclens(pidx, piv, lists, flds, model.name == INDRI)
        corpus = pidx.corpus
        stats = [
            trows.get((c.child.term, c.child.field), (0, 0))
            if isinstance(c.child, TermNode)
            else (len(x.docid), int(x.tf.sum()))  # IlNode.list_stats
            for c, x in zip(children, lists)
        ]
        if boolean:  # scores that read no stats
            score = _bool_scorer(kind, model.name == RANKED_BOOLEAN)
        elif kind == "sum":
            idfs = pruning.bm25_idfs(pidx, [df for df, _ in stats], corpus.n_docs)
            score = pruning.bm25_scorer(idfs, [corpus.avgdl(f) for f in flds], model.bm25)
        else:
            score = pruning.indri_scorer(
                kind, weights, [ctf for _, ctf in stats],
                [corpus.sum_doclen(f) for f in flds], model.indri, k,
            )
        st.score_mode = "driver"
        return pruning.score_local(pidx, piv, score, k, pruning._ext_id_type(pidx))
    except pruning.DRIVER_READ_ERRORS as e:
        st.fallback = f"driver read failed: {type(e).__name__}: {e}"
        return None
