"""Final ranking: the rank-identity contract (SURVEY.md §2.6).

Ordering: score DESC, ties broken by external docid ASC (the observable
behavior of the reference's stable sort, hw5/QryEval/ScoreList.java:65-86),
then a top-100 cutoff applied only at output (QryEval.java:1272).

`orderBy(...).limit(k)` compiles to Spark's TakeOrderedAndProject — a
per-partition top-k followed by a driver merge, so no global sort runs even
at cluster scale.

Two ext-id resolution strategies, picked by corpus size (`n_docs`):

- **small index** (the test/bench scale): broadcast the whole `doc_ids`
  dimension against the scores — one job, optimal when the dimension fits
  an executor.
- **scale path** (past ``SPARK_GRAFT_DOCIDS_BROADCAST_MAX`` docs, default
  50M): a 10^10-row `doc_ids` cannot be broadcast (Spark's 8 GB broadcast
  hard limit; ~64 B/doc measured) and joining the FULL score table against
  it just to order ties would shuffle O(matching docs) rows. Instead:
  (1) TakeOrdered the k-th score threshold from the score table alone,
  (2) keep only candidates with score >= threshold (the true top-k is a
  subset: any doc scoring below the k-th score can never enter, and ties
  AT the threshold are exactly the rows whose ext-id order matters),
  (3) resolve ext ids for those <=k+ties docids with an IN-list filter
  pushed to the docid-sorted `doc_ids` parquet (row-group pruning: the
  lookup reads kilobytes, not the dimension), and reuse the small-index
  ranking on the pruned slice. Bitwise-identical by construction
  (tests/test_topk_scale.py asserts it query-by-query, ties included).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from search_engine_spark.config import TOP_K

_TOPK_SCHEMA = "rank int, docid long, ext_docid string, score double"

# Above this corpus size the doc_ids dimension is no longer broadcast;
# ext ids resolve through the threshold-candidate scale path instead.
_BROADCAST_MAX_ENV = "SPARK_GRAFT_DOCIDS_BROADCAST_MAX"
_BROADCAST_MAX_DEFAULT = 50_000_000
# Boundary-tie plateaus larger than this skip the IN-list lookup (a
# million-term IN predicate is its own pathology) and resolve with a
# distributed candidates-join instead (AQE picks the join strategy).
_TIE_FALLBACK = 10_000


def rank_topk(
    scores: DataFrame, doc_ids: DataFrame, k: int = TOP_K,
    n_docs: int | None = None,
) -> DataFrame:
    """(docid, score) -> top-k (rank, docid, ext_docid, score).

    ``n_docs`` (the corpus size, from the index's broadcast stats) gates the
    strategy; callers that don't know it get the broadcast path, which is
    correct at any scale that could have produced an in-memory doc_ids."""
    limit = int(os.environ.get(_BROADCAST_MAX_ENV, _BROADCAST_MAX_DEFAULT))
    if n_docs is not None and n_docs > limit:
        return _rank_topk_scale(scores, doc_ids, k)
    return _rank_broadcast(scores, doc_ids, k)


def _rank_broadcast(scores: DataFrame, doc_ids: DataFrame, k: int) -> DataFrame:
    """Small-dimension path: doc_ids broadcast to avoid shuffling the score
    side. ``orderBy(...).limit(k)`` compiles to TakeOrderedAndProject
    (per-partition top-k, merged on the driver), so the <=k surviving rows
    are already on the driver; rank is assigned there by enumeration instead
    of an unpartitioned row_number window (which moved all k rows to a single
    task and spammed WindowExec warnings — VERDICT r01 item 10)."""
    order = [F.desc("score"), F.asc("ext_docid")]
    top = (
        scores.join(F.broadcast(doc_ids), "docid")
        .select("docid", "ext_docid", "score")
        .orderBy(*order)
        .limit(k)
    )
    return _enumerate_ranks(scores.sparkSession, top.collect())


def _rank_topk_scale(scores: DataFrame, doc_ids: DataFrame, k: int) -> DataFrame:
    """Large-dimension path: threshold-candidate cut, then resolve ext ids
    for the <=k+ties candidates only (module docstring). The score table is
    cached across its two passes (threshold, candidate filter) and released
    before returning."""
    spark = scores.sparkSession
    owned_cache = not scores.is_cached
    if owned_cache:
        scores = scores.cache()
    try:
        head = scores.select("score").orderBy(F.desc("score")).limit(k).collect()
        if not head:
            return spark.createDataFrame([], _TOPK_SCHEMA)
        thr = min(r["score"] for r in head)
        cand = scores.where(F.col("score") >= thr)
        # ties at the threshold inflate the candidate set past k; cap the
        # IN-list lookup and fall back to a distributed join on plateaus
        cap = max(10 * k, _TIE_FALLBACK)
        cand_rows = cand.limit(cap + 1).collect()
        if len(cand_rows) > cap:
            top = (
                cand.join(doc_ids, "docid")
                .select("docid", "ext_docid", "score")
                .orderBy(F.desc("score"), F.asc("ext_docid"))
                .limit(k)
            )
            return _enumerate_ranks(spark, top.collect())
        ids = [int(r["docid"]) for r in cand_rows]
        # docid IN (...) pushes to the docid-sorted doc_ids parquet: row-group
        # min/max stats skip everything but the candidates' groups
        sub = doc_ids.where(F.col("docid").isin(ids))
        return _rank_broadcast(cand, sub, k)
    finally:
        if owned_cache:
            scores.unpersist()


def _enumerate_ranks(spark, rows: list) -> DataFrame:
    """<=k collected (docid, ext_docid, score) rows, already in (desc score,
    asc ext id) order -> the ranked result frame. Built from an Arrow table,
    so it is a local relation: collecting it runs no Spark job (a Python
    list would go through parallelize and cost one)."""
    import pyarrow as pa

    tbl = pa.table(
        {
            "rank": pa.array(range(1, len(rows) + 1), pa.int32()),
            "docid": pa.array([r[0] for r in rows], pa.int64()),
            "ext_docid": pa.array(
                [None if r[1] is None else str(r[1]) for r in rows], pa.string()
            ),
            "score": pa.array([float(r[2]) for r in rows], pa.float64()),
        }
    )
    return spark.createDataFrame(tbl, _TOPK_SCHEMA)


def rank_local(spark, docids, scores, k: int, ext_ids) -> DataFrame:
    """Driver-side twin of ``rank_topk`` for (docid, score) numpy arrays
    already on the driver: cut at the k-th score, resolve ext ids for the
    candidates at or above it with ``ext_ids(docids) -> {docid: ext id}``,
    then order by score desc, ext id asc and rank. No Spark job runs."""
    import numpy as np

    order = np.argsort(-scores, kind="stable")
    docids, scores = docids[order], scores[order]
    n = len(scores)
    if k < n:
        # ties at the k-th score are exactly the rows whose ext-id order
        # decides membership
        n = int(np.searchsorted(-scores, -scores[k - 1], side="right"))
    cand = [int(d) for d in docids[:n]]
    ext = ext_ids(cand)
    rows = sorted(
        ((d, ext[d], float(s)) for d, s in zip(cand, scores[:n])),
        key=lambda r: (-r[2], r[1]),
    )
    return _enumerate_ranks(spark, rows[:k])


def trec_lines(qid: str, topk_rows: list, run_id: str = "run-1") -> list[str]:
    """TREC run format (QryEval.java:1252-1285) incl. the dummy row for an
    empty result (:1266-1267)."""
    if not topk_rows:
        return [f"{qid} Q0 dummy 1 0.000000000000 {run_id}"]
    return [
        f"{qid} Q0 {r['ext_docid']} {r['rank']} {r['score']} {run_id}"
        for r in topk_rows
    ]
