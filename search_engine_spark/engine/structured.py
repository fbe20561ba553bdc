"""Driver-side evaluation of small structured queries: #NEAR/n, #WINDOW/n and
#SYN trees under BM25 #SUM and Indri #AND/#WAND/#WSUM, with no Spark job.

The exact plan answers ``#SUM(t #NEAR/1(a b))`` with a positional join, a
mapInPandas walk, a cached list, a stats job and a scoring job — about ten
Spark jobs for a few thousand postings. When the query's leaf terms hold at
most ``pruning._POSTS_PER_TASK`` postings (Σ df from the driver's term
stats, no job) this module evaluates the same tree on the driver:

  1. every leaf term's blocks are read and decoded with positions
     (``pruning._Query.read``: pyarrow, tombstoned postings dropped) into a
     docid-sorted list whose positions are one flat array;
  2. the Il tree is walked bottom-up: #SYN is a union that concatenates and
     sorts positions per doc, #NEAR/#WINDOW intersect their args' docids
     and run the numpy wavefront walks (``poswalk.near_flat`` /
     ``window_flat``) on the flat positions;
  3. each #SCORE child gets the exact plan's (df, ctf): a term leaf's from
     term_stats, a composite list's as (len, Σtf) — ``IlNode.list_stats``;
     doclen rides on the leaf postings;
  4. the per-child tf pivot is scored by the same score.py expressions the
     flat pruned path uses (``pruning.score_local``), so the answers are
     bitwise the exact plan's.

Any other shape (Boolean models, nested Sl, several fields, a non-positive
total weight) or a leaf set over the gate returns None and the exact plan
runs; a failed driver read does too, with the reason in
``PruneStats.fallback``.
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
    """A docid-ascending inverted list: per doc its tf, doclen and positions
    (doc i's are the i-th run of tf[i] values of ``pos``)."""

    docid: np.ndarray
    tf: np.ndarray
    doclen: np.ndarray
    pos: np.ndarray

    def take(self, ix: np.ndarray) -> "_List":
        """The docs at ``ix``, in that order."""
        pos = _gather_runs(self.pos, self.tf, ix)
        return _List(self.docid[ix], self.tf[ix], self.doclen[ix], pos)


def _concat(lists: list) -> _List:
    """The docs of ``lists`` one after another (a docid may repeat)."""
    if not lists:
        z = np.zeros(0, np.int64)
        return _List(z, z, z, z)
    cols = zip(*((x.docid, x.tf, x.doclen, x.pos) for x in lists))
    return _List(*(np.concatenate(c) for c in cols))


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


def _shape(node, model: str):
    """(combine kind, weights, #SCORE children) of a root the evaluator
    covers, or None. A bare #SCORE root is a one-child #SUM (BM25) or #AND
    (Indri): 0.0 + s and pow(s, 1.0) are both exactly s."""
    if isinstance(node, ScoreNode):
        return ("sum" if model == BM25 else "and"), None, [node]
    if model == BM25:
        return ("sum", None, node.children) if isinstance(node, SumNode) else None
    if isinstance(node, IndriAndNode):
        return "and", None, node.children
    if isinstance(node, WandNode):
        return "wand", node.weights, node.children
    if isinstance(node, WsumNode):
        return "wsum", node.weights, node.children
    return None


def struct_topk(
    pidx: PackedIndex, node, model: ModelConfig, k: int, st: pruning.PruneStats
) -> DataFrame | None:
    """Top-k of a compiled BM25/Indri query tree with at least one
    composite #SCORE child, evaluated on the driver; None when the shape or
    the gate says the exact plan runs (the reason in ``st.fallback`` once
    the shape matched). ``st`` is filled only when the shape matches."""
    shape = _shape(node, model.name)
    if shape is None:
        return None
    kind, weights, children = shape
    leaves: list = []
    if not all(
        isinstance(c, ScoreNode) and _leaf_terms(c.child, leaves) for c in children
    ) or all(isinstance(c.child, TermNode) for c in children):
        return None  # nested Sl, or flat (the pruned planner's shapes)
    fields = {x.field for x in leaves}
    if len(fields) != 1:
        st.fallback = "leaves span several fields"
        return None
    if weights is not None and sum(weights) <= 0:
        st.fallback = "non-positive total weight"
        return None
    fld = fields.pop()
    terms = list(dict.fromkeys(x.term for x in leaves))
    try:
        if not pruning._tombstones_fit(pidx, st):
            return None
        to_ext = pruning._ext_id_type(pidx)
        if to_ext is None:
            st.fallback = "ext ids of a type the driver cannot order"
            return None
        trows = pidx.reads.term_stats(terms, fld)
        posts = sum(trows[t][0] for t in terms if t in trows)
        gate = pruning._POSTS_PER_TASK
        if posts > gate:
            st.fallback = f"{posts} leaf postings exceed the driver gate ({gate})"
            return None
        metas = pidx.reads.block_meta(terms, fld)
        q = pruning._Query(pidx, terms, fld, metas, positions=True)
        parts = q.read(np.arange(len(q.n)))
        st.n_blocks_total = st.n_blocks_scanned = len(parts)
        st.n_postings_scored = posts
        leaf_lists = {}
        for i, t in enumerate(terms):
            lst = _concat([_List(*p[1:]) for p in parts if p[0] == i])
            leaf_lists[t] = lst.take(np.argsort(lst.docid, kind="stable"))

        lists, stats = [], []
        for c in children:
            lst = _eval_il(c.child, leaf_lists)
            lists.append(lst)
            if isinstance(c.child, TermNode):
                stats.append(trows.get(c.child.term, (0, 0)))
            else:  # IlNode.list_stats of the evaluated list
                stats.append((len(lst.docid), int(lst.tf.sum())))
        piv = pruning._Pivot(
            [(i, x.docid, x.tf, x.doclen) for i, x in enumerate(lists)], len(lists)
        )
        corpus = pidx.corpus
        if kind == "sum":
            score = pruning.bm25_pivot_score(
                [df for df, _ in stats], corpus.n_docs, corpus.avgdl(fld), model.bm25
            )
        else:
            score = pruning.indri_pivot_score(
                kind, weights, [ctf for _, ctf in stats], corpus.sum_doclen(fld),
                model.indri,
            )
        st.score_mode = "driver"
        return pruning.score_local(pidx, piv, score, k, to_ext)
    except pruning.DRIVER_READ_ERRORS as e:
        st.fallback = f"driver read failed: {type(e).__name__}: {e}"
        return None
