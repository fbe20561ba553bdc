"""Reference answers computed without the engine's query plans.

The corpus rows are regenerated on the driver from the same seed, docids are
assigned by sorting on the natural key (the order ``corpus.with_docids``
promises), and the repo's pure-Python oracle (tests/oracle.py) scores each
query document-at-a-time. Postings are kept only for the terms the
benchmark's queries use; document lengths and collection sizes cover every
token, so df, ctf and avgdl match the full index.
"""

from __future__ import annotations

from search_engine_spark.config import ModelConfig
from search_engine_spark.corpus import generate_code_rows
from search_engine_spark.engine.parser import QOp
from search_engine_spark.tokenize import CODE_TOKENIZER
from tests.oracle import PyOracle


def ranked_rows(rows: list[tuple], base: int = 0) -> list[tuple[int, str, str]]:
    """(repo, path, commit, lang, content) rows -> (docid, ext_docid,
    content) in docid order, docids dense from base + 1."""
    keyed = sorted(rows, key=lambda r: (r[0], r[1], r[2]))
    return [(base + i + 1, f"{r[0]}:{r[1]}@{r[2]}", r[4]) for i, r in enumerate(keyed)]


class PoolOracle(PyOracle):
    """PyOracle over ``rows`` with postings restricted to ``keep`` terms."""

    def __init__(self, rows: list[tuple[int, str, str]], keep: set[str]):
        super().__init__([], CODE_TOKENIZER, {"body": 2})
        self.n_docs = len(rows)
        post = self.post["body"]
        for docid, ext, text in rows:
            self.ext[docid] = ext
            toks = CODE_TOKENIZER.tokenize(text)
            if not toks:
                continue
            self.doclen["body"][docid] = len(toks)
            self.sum_doclen["body"] += len(toks)
            for pos, t in enumerate(toks):
                if t in keep:
                    post.setdefault(t, {}).setdefault(docid, []).append(pos)
        for by_doc in post.values():
            for d, pos in by_doc.items():
                by_doc[d] = (len(pos), pos)
        self._lists: dict = {}

    # PyOracle re-derives a leaf's inverted list and ctf for every document
    # that lacks it (Indri default scores): quadratic in df. Both are cached
    # per query node for the duration of one search.
    def eval_il(self, node):
        hit = self._lists.get(id(node))
        if hit is None:
            lst, fld = super().eval_il(node)
            hit = self._lists[id(node)] = (lst, fld, sum(tf for tf, _ in lst.values()))
        return hit[0], hit[1]

    def _default_score(self, node, model, docid: int) -> float:
        if isinstance(node, QOp) and node.name in ("and", "wand", "wsum"):
            return super()._default_score(node, model, docid)
        self.eval_il(node)
        _lst, fld, ctf = self._lists[id(node)]
        # the leaf branch of PyOracle._default_score, with ctf cached
        p = model.indri
        mle = ctf / self.sum_doclen[fld]
        dl = self.doclen[fld].get(docid, 0)
        return (1 - p.lam) * (p.mu * mle) / (dl + p.mu) + p.lam * mle

    def search(self, query: str, model: ModelConfig, k: int = 100):
        self._lists = {}  # node ids are only unique while their tree lives
        try:
            return super().search(query, model, k)
        finally:
            self._lists = {}


def corpus_oracle(n_files: int, seed: int, texts: list[str]) -> PoolOracle:
    keep = {t for q in texts for t in CODE_TOKENIZER.tokenize(q)}
    rows = ranked_rows(generate_code_rows(n_files, seed, bursty=True))
    return PoolOracle(rows, keep)


def answer(oracle: PyOracle, model: str, text: str, k: int) -> tuple:
    return tuple(oracle.search(text, ModelConfig(name=model), k))


def same(got: tuple, want: tuple) -> bool:
    """Ranks, docids and ext ids exactly; scores to 1e-9 relative (the
    repo's rank-identity tolerance)."""
    return len(got) == len(want) and all(
        g[0] == w[0] and g[1] == w[1] and g[2] == w[2]
        and abs(g[3] - w[3]) <= 1e-9 * abs(w[3]) + 1e-12
        for g, w in zip(got, want)
    )
