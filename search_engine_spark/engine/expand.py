"""Pseudo-relevance-feedback query expansion (SURVEY.md §2.10).

Reference: ``expansion()`` hw5/QryEval/QryEval.java:765-951 (hw4 original at
hw4/QryEval/QryEval.java:454). Semantics replicated exactly:

- top ``fbDocs`` docs of the initial ranking (desc score, asc ext id);
- candidate vocabulary = union of their body-field terms minus terms
  containing ``.`` or ``,`` (QryEval.java:806-809, 863-866);
- Indri RM term weight with the reference's exact decomposition
  (QryEval.java:869-896): for ``ptc = ctf / C_len``, ``idf = ln(1/ptc)``,

      score(t) = Σ_{d ∋ t}  tf_{t,d}/(doclen_d + fbMu) · p(I|d) · idf
               + Σ_{all d}  fbMu·ptc/(doclen_d + fbMu) · p(I|d) · idf

  (the "contains" part has NO smoothing in its numerator — the smoothing
  mass arrives via the default part, which sums over ALL fbDocs and is
  added once per term: the net effect equals canonical
  p(t|d) = (tf + fbMu·ptc)/(doclen + fbMu) over every fbDoc);
- learned query = ``#WAND (`` + top ``fbTerms`` terms in ASCENDING score
  order (the reference appends from list index fbTerms-1 down to 0,
  QryEval.java:917-926) with ``%.4f`` weights + ``)``;
- final query ``#WAND ( w #AND( orig ) 1-w learned )`` re-wrapped with the
  model default operator and re-evaluated (QryEval.java:929-942).

Tie-break NOTE: the reference sorts candidate terms by score via a HashMap
entry list — ties land in hash order (unspecified). We break score ties by
ascending term, deterministically; tests use tie-free fixtures.

Spark shape: the top-docs' forward-index slice (PackedIndex.doc_terms_for,
a docid-range-pruned decode of the packed postings) collected at (term,
doc) grain; everything else is driver-side arithmetic on fbTerms-sized
data.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import functions as F

from search_engine_spark.engine.runner import Engine


@dataclass(frozen=True)
class FbParams:
    """Parameter-file surface (QryEval.java:570-612 validation)."""

    fb_docs: int = 10
    fb_terms: int = 10
    fb_mu: float = 0.0
    fb_orig_weight: float = 0.5

    def __post_init__(self) -> None:
        if self.fb_docs <= 0 or self.fb_terms <= 0:
            raise ValueError("fbDocs/fbTerms must be > 0")
        if self.fb_mu < 0:
            raise ValueError("fbMu must be >= 0")
        if not (0.0 <= self.fb_orig_weight <= 1.0):
            raise ValueError("fbOrigWeight must be in [0,1]")


def learned_query(
    eng: Engine,
    query: str,
    p: FbParams,
    fld: str = "body",
    initial: list[tuple[int, str, float]] | None = None,
) -> str | None:
    """Initial retrieval -> RM term weights -> ``#WAND (w t ...)`` string.
    Returns None when the original query matches nothing (the reference
    then echoes the original query, QryEval.java:779-784).

    ``initial``: optional [(docid, ext_docid, score)] from a prior TREC run
    (the fbInitialRankingFile source, QryEval.java:618-657 — see
    engine/sources.py); replaces the first retrieval round, re-sorted
    desc-score/asc-extid like the evaluated path."""
    scored = rm_term_weights(eng, query, p, fld, initial=initial)
    if scored is None:
        return None
    scored.sort(key=lambda ts: (-ts[1], ts[0]))
    chosen = scored[: p.fb_terms]
    # ascending-score emission order (QryEval.java:920 loop runs fbTerms-1..0)
    parts = [f"{s:.4f} {t}" for t, s in reversed(chosen)]
    return "#WAND (" + " ".join(parts) + " )"


def rm_term_weights(
    eng: Engine,
    query: str,
    p: FbParams,
    fld: str = "body",
    initial: list[tuple[int, str, float]] | None = None,
) -> list[tuple[str, float]] | None:
    """ALL candidate expansion terms with their Indri RM weights (the
    aggregation of QryEval.java:851-901, before the top-fbTerms cut of
    :907-926). None when the initial retrieval is empty."""
    if initial is not None:
        ordered = sorted(initial, key=lambda t: (-t[2], t[1]))[: p.fb_docs]
        top = [{"docid": d, "score": s} for d, _e, s in ordered]
    else:
        top = eng.search(query, p.fb_docs).collect()
    if not top:
        return None
    c_len = float(eng.index.corpus.sum_doclen(fld))

    doc_rows = {r["docid"]: r["score"] for r in top}
    # rank order of the feedback docs: the reference accumulates each doc's
    # TermVector into the score map walking the ranking top-down
    # (QryEval.java:851-896), so every float sum below folds in THIS order —
    # deterministic across runs (a Spark sum's partial-aggregation order is
    # not) and bit-faithful to the reference's accumulation.
    order = [
        r["docid"]
        for r in (sorted(top, key=lambda r: r["rank"]) if "rank" in top[0] else top)
    ]
    doclens = {
        r["docid"]: r["doclen"]
        for r in eng.index.doc_stats.where(
            (F.col("field") == fld) & F.col("docid").isin(list(doc_rows))
        ).collect()
    }
    # Σ_k p(I|k)/(doclen_k + fbMu) — the cross-term constant of the default part
    wmap = {d: doc_rows[d] / (doclens.get(d, 0) + p.fb_mu) for d in doc_rows}
    s_default = 0.0
    for d in order:
        s_default += wmap[d]

    # contains part: top-docs' forward-index slice, collected at (term, doc)
    # grain (≤ fbDocs × per-doc vocab rows — a constant-bounded driver load)
    # and folded per term in rank order. doc_terms_for is PackedIndex's
    # block-pruned packed-postings decode (hw5/QryEval/TermVector.java
    # random access analog).
    tv = (
        eng.index.doc_terms_for(list(doc_rows), fld)
        .where(~F.col("term").rlike("[.,]"))
        .select("term", "docid", "tf")
        .collect()
    )
    tf_by_term: dict = {}
    for r in tv:
        tf_by_term.setdefault(r["term"], {})[r["docid"]] = r["tf"]
    pairs = {(t, fld) for t in tf_by_term}
    eng.ctx.prefetch_terms(pairs)

    import math

    scored = []
    for t, tfmap in tf_by_term.items():
        contains = 0.0
        for d in order:
            tf = tfmap.get(d)
            if tf is not None:
                contains += tf * wmap[d]
        _, ctf = eng.ctx.term_stat(t, fld)
        ptc = ctf / c_len
        idf = math.log(1.0 / ptc)
        score = contains * idf + (p.fb_mu * ptc) * s_default * idf
        scored.append((t, score))
    return scored


def expanded_query(orig: str, learned: str, p: FbParams) -> str:
    """QryEval.java:929-934 — weights stringified like Java doubles."""
    w = p.fb_orig_weight
    return f"#WAND ( {w} #AND( {orig} ) {1 - w} {learned})"


def write_expansion_file(path: str, items: list[tuple[str, str]]) -> None:
    """fbExpansionQueryFile sink — persist every expanded query as
    ``qid: query`` lines (QryEval.java:944-947 writes exactly this shape so
    a later run can replay the expanded set as a plain query file)."""
    with open(path, "w") as f:
        for qid, exp in items:
            if exp:
                f.write(f"{qid}: {exp}\n")


def read_query_file(path: str) -> list[tuple[str, str]]:
    """Parse the reference's query-file format (one ``qid:querytext`` per
    line, QryEval.java:659-673) — the same reader run_queries uses, so an
    expansion file round-trips through it."""
    out = []
    with open(path) as f:
        for line in f:
            if line.strip():
                qid, text = line.strip().split(":", 1)
                out.append((qid.strip(), text.strip()))
    return out


def search_expanded(
    eng: Engine,
    query: str,
    p: FbParams,
    k: int = 100,
    fld: str = "body",
    initial: list[tuple[int, str, float]] | None = None,
):
    """Two-round PRF retrieval: returns (result_df_or_None, learned, expanded).
    The model default wrap happens inside eng.search's parse. ``initial``
    short-circuits round one with a prior run file's ranking (S6)."""
    learned = learned_query(eng, query, p, fld, initial=initial)
    if learned is None:
        return None, None, None
    exp = expanded_query(query, learned, p)
    return eng.search(exp, k), learned, exp
