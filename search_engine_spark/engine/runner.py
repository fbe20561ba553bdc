"""High-level engine facade: index + model -> query strings -> ranked results.

The reference's per-query lifecycle (QryEval.java:670-709): wrap with the
model default operator -> parse -> evaluate -> sort desc-score/asc-extid ->
top-100 TREC output. `Engine.search` is that loop for one query.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field as dc_field

from pyspark.sql import DataFrame

from search_engine_spark.config import TOP_K, ModelConfig
from search_engine_spark.engine.compiler import DEFAULT_FIELD, compile_node, evaluate
from search_engine_spark.engine.ops import EvalContext
from search_engine_spark.engine.parser import QOp, parse_query
from search_engine_spark.engine.topk import rank_topk, trec_lines
from search_engine_spark.index.persist import PackedIndex
from search_engine_spark.tokenize import Tokenizer, WHITESPACE_TOKENIZER


def _exact_forced() -> bool:
    """``SPARK_GRAFT_NO_PRUNE=1``: every query runs the exact Spark plan."""
    return os.environ.get("SPARK_GRAFT_NO_PRUNE") == "1"


@dataclass
class Engine:
    index: PackedIndex
    model: ModelConfig = ModelConfig()
    # None = resolve from the index's recorded analyzer (manifest lineage /
    # PackedIndex.tokenizer_name), falling back to whitespace for legacy
    # indexes. Passing one explicitly is validated against the record: the
    # reference warns a doc/query analyzer mismatch silently yields zero
    # results (hw1/QryEval/ReadMe.txt) — here it is a hard error instead.
    tokenizer: Tokenizer | None = None
    default_field: str = DEFAULT_FIELD
    _ctx: EvalContext | None = dc_field(default=None, repr=False)

    def __post_init__(self) -> None:
        recorded = self.index.tokenizer_name
        if self.tokenizer is None:
            from search_engine_spark.tokenize import tokenizer_by_name

            self.tokenizer = (
                tokenizer_by_name(recorded) if recorded else WHITESPACE_TOKENIZER
            )
        elif recorded is not None and recorded != self.tokenizer.name:
            raise ValueError(
                f"query tokenizer {self.tokenizer.name!r} != index analyzer "
                f"{recorded!r} — doc and query sides must share the analyzer "
                "(SURVEY.md §1.4); pass tokenizer=None to use the index's"
            )

    @property
    def ctx(self) -> EvalContext:
        if self._ctx is None:
            self._ctx = EvalContext(self.index, self.model)
        return self._ctx

    def parse(self, query: str) -> QOp:
        return parse_query(query, self.model.name, self.tokenizer)

    def scores(self, query: str) -> DataFrame:
        """query text -> (docid, score)."""
        ast = self.parse(query)
        return evaluate(ast, self.ctx, self.default_field)

    # populated by the driver-side paths (the driver evaluator and the
    # past-gate block-max planner) after each search whose shape they
    # answer or decline with a reason
    last_prune_stats = None

    def _driver_topk(self, query: str, k: int) -> DataFrame | None:
        """The driver-side answer of a query, or None when the exact plan
        runs: the compiled root, classified by ``structured.root_shape``
        (BM25, Indri and Boolean roots over Il children), goes to
        ``_shape_topk``. ``SPARK_GRAFT_NO_PRUNE=1`` forces the exact plan."""
        from search_engine_spark.engine.ops import IlNode, ScoreNode
        from search_engine_spark.engine.structured import root_shape

        if _exact_forced():
            return None
        node = compile_node(self.parse(query), self.ctx, self.default_field)
        if isinstance(node, IlNode):
            node = ScoreNode(node)
        shape = root_shape(node, self.model.name)
        return None if shape is None else self._shape_topk(shape, k)

    def _shape_topk(self, shape, k: int) -> DataFrame | None:
        """The driver-side answer of a classified root (a
        ``structured.Shape``), or None: under the driver gate the evaluator
        ``structured.struct_topk`` answers every shape, in one field or
        several; past it the block-max planner (``_pruned_topk``) answers
        the flat single-field BM25/Indri shapes it covers; anything else
        runs the exact plan, the reason in ``last_prune_stats.fallback``."""
        from search_engine_spark.engine import pruning
        from search_engine_spark.engine.structured import struct_topk

        if _exact_forced():
            return None
        st = pruning.PruneStats()
        res = struct_topk(self.index, shape, self.model, k, st)
        if res is None and st.past_gate:
            # the planner's stats start fresh; the gate decline stays
            st = pruning.PruneStats(fallback=st.fallback, past_gate=True)
            res = self._pruned_topk(shape, k, st)
        if res is not None or st.fallback:
            self.last_prune_stats = st
        return res

    def _pruned_topk(self, shape, k: int, st) -> DataFrame | None:
        """Past the gate: block-max pruned top-k of a flat single-field
        BM25 #SUM or Indri #AND/#WAND/#WSUM (engine/pruning.py, bitwise the
        exact plan). A shape it does not cover adds why to ``st``'s gate
        decline and returns None; its term-keyed pivot cannot carry
        duplicated terms."""
        from search_engine_spark.config import BM25, INDRI
        from search_engine_spark.engine import pruning

        terms = [l.term for l in shape.leaves]
        why = (
            "Boolean models" if self.model.name not in (BM25, INDRI)
            else "leaves in several fields"
            if len({l.field for l in shape.leaves}) > 1
            else "#NEAR/#WINDOW/#SYN children" if not shape.flat
            else "duplicated terms" if len(set(terms)) != len(terms)
            else "a bare Indri #SCORE" if shape.bare and self.model.name != BM25
            else ""
        )
        if why:
            st.fallback += f"; the block-max planner does not cover {why}"
            return None
        st.fallback = ""
        fld = shape.leaves[0].field
        if self.model.name == BM25:
            return pruning.bm25_topk_pruned(
                self.index, terms, k=k, fld=fld, p=self.model.bm25, stats=st
            )
        return pruning.indri_topk_pruned(
            self.index, shape.kind, terms, shape.weights, k=k, fld=fld,
            p=self.model.indri, stats=st,
        )

    def search(self, query: str, k: int = TOP_K) -> DataFrame:
        """query text -> top-k (rank, docid, ext_docid, score)."""
        local = self._driver_topk(query, k)
        if local is not None:
            return local
        try:
            # rank_topk collects the ≤k survivors, so the query's action
            # completes inside this call...
            return rank_topk(
                self.scores(query), self.index.doc_ids, k,
                n_docs=self.index.corpus.n_docs,
            )
        finally:
            # ...and the composite-#SCORE postings it cached (pinned in
            # Spark's CacheManager, NOT released by Python GC of the AST)
            # can be dropped. `scores()` callers own their own lifecycle:
            # call ctx.release_caches() after collecting.
            self.ctx.release_caches()

    def run_trec(self, queries: list[tuple[str, str]], k: int = TOP_K) -> list[str]:
        """[(qid, text)] -> TREC run lines (with empty-result dummy rows)."""
        lines: list[str] = []
        for qid, text in queries:
            rows = [r.asDict() for r in self.search(text, k).collect()]
            lines.extend(trec_lines(qid, rows))
        return lines
