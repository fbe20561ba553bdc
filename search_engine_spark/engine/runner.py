"""High-level engine facade: index + model -> query strings -> ranked results.

The reference's per-query lifecycle (QryEval.java:670-709): wrap with the
model default operator -> parse -> evaluate -> sort desc-score/asc-extid ->
top-100 TREC output. `Engine.search` is that loop for one query.
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field

from pyspark.sql import DataFrame

from search_engine_spark.config import TOP_K, ModelConfig
from search_engine_spark.engine.compiler import DEFAULT_FIELD, compile_node, evaluate
from search_engine_spark.engine.ops import EvalContext
from search_engine_spark.engine.parser import QOp, QTerm, parse_query
from search_engine_spark.engine.topk import rank_topk, trec_lines
from search_engine_spark.index.persist import PackedIndex
from search_engine_spark.tokenize import Tokenizer, WHITESPACE_TOKENIZER


def _collect_terms(ast) -> set[str]:
    if isinstance(ast, QTerm):
        return {ast.text}
    out: set[str] = set()
    for c in ast.children:
        out |= _collect_terms(c)
    return out


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

    # populated by the driver-side paths (pruned flat queries, structured
    # queries) after each search whose shape they cover
    last_prune_stats = None

    def _driver_topk(self, query: str, k: int) -> DataFrame | None:
        """The driver-side answer of a BM25/Indri query, or
        None when the exact plan runs. One classifier
        (``structured.root_shape``) routes the root: flat shapes to the
        block-max pruned path, trees with #NEAR/#WINDOW/#SYN children to the
        structured evaluator (engine/structured.py).
        ``SPARK_GRAFT_NO_PRUNE=1`` forces the exact plan."""
        import os

        from search_engine_spark.config import BM25, INDRI
        from search_engine_spark.engine.ops import IlNode, ScoreNode
        from search_engine_spark.engine.pruning import PruneStats
        from search_engine_spark.engine.structured import root_shape, struct_topk

        if os.environ.get("SPARK_GRAFT_NO_PRUNE") == "1":
            return None
        if self.model.name not in (BM25, INDRI):
            return None
        node = compile_node(self.parse(query), self.ctx, self.default_field)
        if isinstance(node, IlNode):
            node = ScoreNode(node)
        shape = root_shape(node, self.model.name)
        if shape is None:
            return None
        if shape.flat:
            return self._pruned_topk(shape, k)
        st = PruneStats()
        res = struct_topk(self.index, shape, self.model, k, st)
        if st != PruneStats():  # answered or declined with a reason
            self.last_prune_stats = st
        return res

    def _pruned_topk(self, shape, k: int) -> DataFrame | None:
        """Default block-max pruned path for flat BM25 #SUM and Indri
        #AND/#WAND/#WSUM over a packed index (SURVEY.md §4.2;
        engine/pruning.py — bit-identical to the exact plan,
        identity-tested; a small surviving set is scored on the driver and
        runs no Spark job). Applies only when the shape matches
        (single field, distinct terms — duplicate query terms carry a
        multiplicity weight the pruned scorer doesn't model; an Indri root
        that is a bare #SCORE runs the exact plan) AND the index is big
        enough for pruning to pay: below ``min_blocks`` total blocks the
        exact single-scan plan is cheaper than the metadata round-trip (the
        gate that matters at 100 TB is automatic — df/block_size rows per
        term). ``SPARK_GRAFT_PRUNE_MIN_BLOCKS`` overrides the gate."""
        import os

        from search_engine_spark.config import BM25

        if shape.bare and self.model.name != BM25:
            return None
        terms = [l.term for l in shape.leaves]
        fields = {l.field for l in shape.leaves}
        if len(fields) != 1 or len(set(terms)) != len(terms):
            return None
        fld = next(iter(fields))

        from search_engine_spark.engine.pruning import (
            DRIVER_READ_ERRORS, PruneStats, bm25_topk_pruned, indri_topk_pruned,
        )

        # df from the driver's resident term stats: no Spark job
        try:
            dfs = self.index.reads.term_stats(terms, fld)
        except DRIVER_READ_ERRORS as e:
            self.last_prune_stats = PruneStats(
                fallback=f"driver read failed: {type(e).__name__}: {e}"
            )
            return None
        block_size = self.index.block_size
        est_blocks = sum(-(-df // block_size) for df, _ in dfs.values())
        if est_blocks < int(os.environ.get("SPARK_GRAFT_PRUNE_MIN_BLOCKS", "64")):
            return None

        st = PruneStats()
        if self.model.name == BM25:
            res = bm25_topk_pruned(
                self.index, terms, k=k, fld=fld, p=self.model.bm25, stats=st
            )
        else:
            res = indri_topk_pruned(
                self.index, shape.kind, terms, shape.weights, k=k, fld=fld,
                p=self.model.indri, stats=st,
            )
        if res is None:  # outside the pruned contract: exact plan
            return None
        self.last_prune_stats = st
        return res

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
