"""The driver evaluator: every BM25 #SUM and Indri #AND/#WAND/#WSUM root (or
bare #SCORE) whose leaves lie in one field and whose leaf postings fit the
driver gate is answered here, flat or structured, with no Spark job.

The exact plan answers ``#SUM(t #NEAR/1(a b))`` with a positional join, a
mapInPandas walk, a cached list, a stats job and a scoring job — about ten
Spark jobs for a few thousand postings. When the query's leaf terms hold at
most ``pruning._POSTS_PER_TASK`` postings (Σ df from the driver's term
stats, no job) this module evaluates the same tree on the driver, reading
every leaf posting (whole columnar lists, no block skipping):

  1. every leaf term's blocks are read and decoded (``pruning._Query.read``:
     pyarrow reads of the files holding them, one decode pass, tombstoned
     postings dropped) into a docid-sorted list. Positions are read, as one
     flat array, only when a child holds a #NEAR/#WINDOW/#SYN;
  2. the Il tree is walked bottom-up: #SYN is a union that concatenates and
     sorts positions per doc, #NEAR/#WINDOW intersect their args' docids
     and run the numpy wavefront walks (``poswalk.near_flat`` /
     ``window_flat``) on the flat positions;
  3. each #SCORE child gets the exact plan's (df, ctf): a term leaf's from
     term_stats (an absent term's is (0, 0)), a composite list's as
     (len, Σtf) — ``IlNode.list_stats``; doclen rides on the leaf postings;
  4. one pivot holds a row per child, so a duplicated term is scored once
     per child, and it is scored in numpy by ``pruning.bm25_scorer`` /
     ``indri_scorer`` (score.py's numpy twins of the exact plan's
     expressions, with StrictMath's log and pow) and ranked by
     ``pruning.score_local``, so the answers are bitwise the exact plan's
     and no JVM call runs before the answer frame.

Any other shape (Boolean models, nested Sl, several fields, a non-positive
total weight), a leaf set over the gate, or a failed driver read returns
None with the reason in ``PruneStats.fallback``. Past the gate
``Engine._shape_topk`` offers a flat query to the block-max planner
(engine/pruning.py); anything else runs the exact plan.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

import numpy as np
from pyspark.sql import DataFrame

from search_engine_spark.config import BM25, ModelConfig
from search_engine_spark.engine import pruning
from search_engine_spark.engine.ops import (
    IndriAndNode, NearNode, ScoreNode, SumNode, SynNode, TermNode, WandNode,
    WindowNode, WsumNode,
)
from search_engine_spark.engine.poswalk import near_flat, window_flat
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
    """The docs of ``lists`` one after another (a docid may repeat)."""
    if not lists:
        z = np.zeros(0, np.int64)
        return _List(z, z, z, z)
    cols = [np.concatenate(c) for c in zip(*((x.docid, x.tf, x.doclen) for x in lists))]
    pos = None if lists[0].pos is None else np.concatenate([x.pos for x in lists])
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
        return leaves[node.term]
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
    for BM25, "and"/"wand"/"wsum" for Indri), ``weights``, and #SCORE
    ``children``, each over a tree of Term/Syn/Near/Window nodes whose
    TermNodes, in order, are ``leaves``. ``bare``: the root is one #SCORE."""

    kind: str
    weights: list | None
    children: list
    leaves: list
    bare: bool

    @property
    def flat(self) -> bool:
        """Every child scores a plain term: no child needs positions. Past
        the driver gate only flat shapes can take the block-max planner, and
        the BM25 batch plan scores a flat #SUM's duplicated term once times
        its count."""
        return all(isinstance(c.child, TermNode) for c in self.children)


def root_shape(node, model: str) -> Shape | None:
    """The one classifier of a compiled root for the driver evaluator and
    the past-gate planner, or None (the exact plan runs). A bare #SCORE root
    is a one-child #SUM (BM25) or #AND (Indri): 0.0 + s and pow(s, 1.0) are
    both exactly s."""
    weights = None
    if isinstance(node, ScoreNode):
        kind, children = ("sum" if model == BM25 else "and"), [node]
    elif model == BM25 and isinstance(node, SumNode):
        kind, children = "sum", node.children
    elif model != BM25 and isinstance(node, IndriAndNode):
        kind, children = "and", node.children
    elif model != BM25 and isinstance(node, (WandNode, WsumNode)):
        kind = "wand" if isinstance(node, WandNode) else "wsum"
        weights, children = node.weights, node.children
    else:
        return None
    leaves: list = []
    if not children or not all(
        isinstance(c, ScoreNode) and _leaf_terms(c.child, leaves) for c in children
    ):
        return None  # nested Sl
    return Shape(kind, weights, children, leaves, isinstance(node, ScoreNode))


def struct_topk(
    pidx: PackedIndex, shape: Shape, model: ModelConfig, k: int, st: pruning.PruneStats
) -> DataFrame | None:
    """Top-k of a BM25/Indri query of any ``shape``, evaluated on the driver
    from its leaves' whole posting lists; None when the exact plan or, past
    the gate, the block-max planner answers instead (the reason in
    ``st.fallback``; ``st.past_gate`` set when the leaves' Σ df exceeds the
    gate)."""
    kind, weights, children = shape.kind, shape.weights, shape.children
    fields = {x.field for x in shape.leaves}
    if len(fields) != 1:
        st.fallback = "leaves span several fields"
        return None
    if weights is not None and sum(weights) <= 0:
        st.fallback = "non-positive total weight"
        return None
    fld = fields.pop()
    terms = list(dict.fromkeys(x.term for x in shape.leaves))
    try:
        trows = pruning._leaves_fit(pidx, terms, fld, st)
        if trows is None:
            return None
        metas = pidx.reads.block_meta(terms, fld)
        q = pruning._Query(pidx, terms, fld, metas, positions=not shape.flat)
        got = q.read(np.arange(len(q.n)))
        st.n_blocks_total = st.n_blocks_scanned = len(q.n)
        st.n_files_read = len(q.files_read)
        # docid-ascending per term (a term's postings are distinct docs)
        by = np.lexsort((got.docid, got.term))
        srt = _List(got.docid, got.tf, got.doclen, got.pos).take(by)
        cut = np.searchsorted(got.term[by], np.arange(len(terms) + 1))
        by_term = {t: srt.take(np.arange(*cut[i:i + 2])) for i, t in enumerate(terms)}

        lists, stats = [], []
        for c in children:
            lst = _eval_il(c.child, by_term)
            lists.append(lst)
            if isinstance(c.child, TermNode):
                stats.append(trows.get(c.child.term, (0, 0)))
            else:  # IlNode.list_stats of the evaluated list
                stats.append((len(lst.docid), int(lst.tf.sum())))
        u = _concat(lists)
        piv = pruning._Pivot(
            np.repeat(np.arange(len(lists)), [len(x.docid) for x in lists]),
            u.docid, u.tf, u.doclen, len(lists),
        )
        corpus = pidx.corpus
        if kind == "sum":
            idfs = pruning.bm25_idfs(pidx, [df for df, _ in stats], corpus.n_docs)
            score = pruning.bm25_scorer(idfs, corpus.avgdl(fld), model.bm25)
        else:
            score = pruning.indri_scorer(
                kind, weights, [ctf for _, ctf in stats], corpus.sum_doclen(fld),
                model.indri, k,
            )
        st.score_mode = "driver"
        return pruning.score_local(pidx, piv, score, k, pruning._ext_id_type(pidx))
    except pruning.DRIVER_READ_ERRORS as e:
        st.fallback = f"driver read failed: {type(e).__name__}: {e}"
        return None
