"""Block-max pruned top-k over the packed index (SURVEY.md §4.2): BM25 #SUM
and Indri #AND / #WAND / #WSUM over plain terms.

The reference has NO query-time pruning (its `#WAND` is Indri's weighted-AND,
not Broder's algorithm; the top-100 cut happens at output —
hw5/QryEval/QryEval.java:1272). Block-max pruning is OUR scale-path
optimization, with an exact fallback and identity tests: the pruned result is
bit-identical to the exact plan's.

Spark-friendly two-phase block-max/MaxScore variant (the classic cursor-based
BMW is doc-at-a-time and doesn't distribute), planned on the driver:

  0. The driver reads the query terms' term stats and tiny block METADATA
     with pyarrow (``PackedIndex.reads``: cached per index, predicate-pushed
     on term — no Spark job; at 10^12-file scale this is df/block_size rows
     per term). Per block, an upper bound on any contribution in it, e.g.
     for BM25
         ub = idf(df) · max_tf / (max_tf + k1·((1−b) + b·min_doclen/avgdl))
     valid because tfW is increasing in tf and decreasing in doclen.
  1. Docid space is cut into the ranges induced by all block boundaries
     (blocks are docid-contiguous). For each range R, UB(R) combines, per
     term, the max ub of the term's blocks overlapping R — an upper bound
     on ANY doc's total score inside R. ``range_bounds`` maps every block
     to its span of range indices with one sort, so planning costs
     O(B log B + block/range overlaps), not O(ranges × blocks).
  2. Seed: decode the few highest-UB ranges' blocks with the numpy codec
     and score them (numpy mirror of the score expressions) ⇒ θ ≈ k-th best
     seed score. θ is deflated by (1 − 2⁻³⁰) so numpy/JVM ulps can never
     make it exceed the true k-th score: a smaller θ only keeps extra
     survivors, never prunes a true top-k doc.
  3. Survivors = seed ranges ∪ ranges with UB(R) ≥ θ. Any doc outside them
     has total score ≤ UB(R) < θ ≤ (true k-th score) — provably outside the
     top-k; ties are guarded because pruning drops only UB strictly below θ.
     Block metadata gives the exact posting count of the surviving blocks:
       - at most ``_POSTS_PER_TASK`` (one scan task's worth): the driver
         decodes them, pivots to (docid, tf_1..tf_n, doclen) and hands that
         to Spark as a local relation. The score.py expressions are
         projected over it in child order — Spark folds that projection on
         the driver JVM, so the floats come from the same expression code
         and the same StrictMath log/pow — and ``topk.rank_local`` cuts at
         the k-th score and resolves ext ids with a pyarrow docid IN read
         of doc_ids. No Spark job runs.
       - above it: ONE distributed job scans the surviving blocks, scores
         them with the same expressions, then the §2.6 top-k.
     Either way the output scores come from the Spark expressions, never
     from the numpy seed, so the result is bitwise the exact plan's.

Fallback: when the driver cannot read the index (an unreadable file, or a
tombstone set past ``SPARK_GRAFT_PRUNE_DRIVER_TOMBSTONE_MAX``) or an Indri
shape is outside the pruned contract, the planners return None, record the
reason in ``PruneStats.fallback``, and the caller runs the exact plan.

float32 guard: exact per-term scores are float32-rounded (QryopSlScore
contract). float32 rounding can exceed the double upper bound by ≤ 1 ulp;
ub is inflated by (1 + 2⁻²⁰) to stay a true upper bound.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass
from functools import reduce

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, functions as F

from search_engine_spark.config import BM25Params, IndriParams
from search_engine_spark.engine import score as score_mod
from search_engine_spark.engine.topk import _enumerate_ranks, rank_local, rank_topk
from search_engine_spark.index.persist import PackedIndex

_F32_GUARD = 1.0 + 2.0**-20
# driver-side theta deflation: seed scores are summed in numpy, the final
# scores in the JVM; 2^-30 relative slack dwarfs any ulp drift between them
_THETA_SLACK = 1.0 - 2.0**-30
# past this many tombstones the driver stops pinning the delete set in its
# own memory and the query runs the exact plan (which applies the same
# anti-join the Spark scans use)
_DRIVER_TOMBSTONE_MAX = int(
    os.environ.get("SPARK_GRAFT_PRUNE_DRIVER_TOMBSTONE_MAX", 5_000_000)
)
# one scan task's worth of postings: sizes the surviving-block scan's task
# count, and a survivor set at most this big is scored on the driver
_POSTS_PER_TASK = 250_000
# past this many surviving blocks an IN-list predicate stops being a
# predicate — the keys ship as a broadcast-joined table instead
_KEYS_PRED_MAX = 100_000
# the errors a failed driver-side read raises (pyarrow I/O and decode)
DRIVER_READ_ERRORS = (OSError, pa.ArrowException)


@dataclass
class PruneStats:
    n_blocks_total: int = 0
    n_blocks_scanned: int = 0
    n_ranges_total: int = 0
    n_ranges_scanned: int = 0
    n_postings_scored: int = 0
    theta: float = 0.0
    n_seed_blocks: int = 0
    # where the final scores came from: "driver" (a local relation, no
    # Spark job) or "spark" (one scan job over the surviving blocks)
    score_mode: str = ""
    fallback: str = ""  # why the planner returned None (exact plan runs)


def _idf(n_docs: int, df: int) -> float:
    return max(0.0, math.log((n_docs - df + 0.5) / (df + 0.5)))


# --------------------------------------------------------------------------
# range upper bounds
# --------------------------------------------------------------------------


@dataclass
class RangeBounds:
    """Docid ranges cut at every block boundary, and per range the inputs of
    its upper bound. Ranges tile [min block docid, max block docid]."""

    starts: np.ndarray  # [R] first docid of each range
    ends: np.ndarray  # [R] last docid of each range (inclusive)
    best: np.ndarray  # [R, T] max block ub per term over overlapping blocks (0 if none)
    min_doclen: np.ndarray  # [R] min block min_doclen over all overlapping blocks
    covered: np.ndarray  # [R] some block overlaps the range
    first: np.ndarray  # [B] first range index each block overlaps
    last: np.ndarray  # [B] one past the last range index it overlaps
    # blocks overlapping range r: range_blocks[range_ptr[r]:range_ptr[r + 1]]
    range_ptr: np.ndarray
    range_blocks: np.ndarray

    def blocks_in(self, ranges: np.ndarray) -> np.ndarray:
        """Mask over blocks: those overlapping any range of the [R] mask."""
        cs = np.concatenate([[0], np.cumsum(ranges, dtype=np.int64)])
        return cs[self.last] - cs[self.first] > 0

    def range_of(self, docids: np.ndarray) -> np.ndarray:
        """Range index of each docid (each lies inside some block)."""
        return np.searchsorted(self.starts, docids, side="right") - 1


def range_bounds(
    lo: np.ndarray,
    hi: np.ndarray,
    term: np.ndarray,
    ub: np.ndarray,
    n_terms: int,
    min_doclen: np.ndarray,
) -> RangeBounds:
    """Per-range bound inputs by a sweep: every block [lo, hi] covers the
    contiguous range indices [first, last) found by binary search in the
    sorted cuts, and per-term maxima reduce over the (block, range) pairs.
    Blocks of one term may overlap (salted terms)."""
    lo = np.asarray(lo, dtype=np.int64)
    hi = np.asarray(hi, dtype=np.int64)
    cuts = np.unique(np.concatenate([lo, hi + 1]))
    n_ranges = max(len(cuts) - 1, 0)
    first = np.searchsorted(cuts, lo)
    last = np.searchsorted(cuts, hi + 1)
    span = last - first
    pair_block = np.repeat(np.arange(len(lo)), span)
    pair_range = (
        np.arange(len(pair_block)) - np.repeat(np.cumsum(span) - span, span)
        + first[pair_block]
    )
    best = np.zeros((n_ranges, n_terms), dtype=np.float64)
    np.maximum.at(best, (pair_range, term[pair_block]), ub[pair_block])
    min_dl = np.full(n_ranges, np.iinfo(np.int64).max, dtype=np.int64)
    np.minimum.at(min_dl, pair_range, np.asarray(min_doclen)[pair_block])
    covered = np.zeros(n_ranges, dtype=bool)
    covered[pair_range] = True
    by_range = np.argsort(pair_range, kind="stable")
    ptr = np.searchsorted(pair_range[by_range], np.arange(n_ranges + 1))
    return RangeBounds(
        cuts[:-1], cuts[1:] - 1, best, min_dl, covered, first, last,
        ptr, pair_block[by_range],
    )


# --------------------------------------------------------------------------
# the shared planner
# --------------------------------------------------------------------------


class _Query:
    """One pruned query's driver-side state: its terms' blocks (one entry
    per block in each array) and the blocks decoded so far (each block is
    read and decoded at most once)."""

    def __init__(self, pidx: PackedIndex, terms: list[str], fld: str, metas: list[dict]):
        self.pidx, self.terms, self.fld = pidx, terms, fld
        self.term = np.concatenate(
            [np.full(len(m["n"]), i, dtype=np.int64) for i, m in enumerate(metas)]
        )
        cols = {c: np.concatenate([m[c] for m in metas]) for c in metas[0]}
        self.salt, self.block_id, self.n = cols["salt"], cols["block_id"], cols["n"]
        self.lo, self.hi = cols["min_docid"], cols["max_docid"]
        self.max_tf, self.min_doclen = cols["max_tf"], cols["min_doclen"]
        self.tombs = pidx.reads.tombstones()
        self._decoded: dict[int, tuple] = {}

    def read(self, blocks: np.ndarray) -> list[tuple]:
        """(term index, docids, tfs, doclens) of each given block, decoded
        on the driver with the executors' codec, tombstoned docids dropped."""
        import pyarrow.compute as pc

        from search_engine_spark.index.codec import decode_block

        todo = {int(i) for i in blocks if int(i) not in self._decoded}
        if todo:
            want = {
                (self.terms[self.term[i]], int(self.salt[i]), int(self.block_id[i])): i
                for i in todo
            }
            tbl = self.pidx.reads.dataset("packed").to_table(
                columns=["term", "salt", "block_id", "n", "docids", "tfs", "doclens"],
                filter=(
                    (pc.field("field") == self.fld)
                    & pc.field("term").isin(sorted({t for t, _, _ in want}))
                    & pc.field("block_id").isin(sorted({b for _, _, b in want}))
                ),
            )
            cols = tbl.to_pydict()
            for term, salt, bid, n, db, tb, lb in zip(
                cols["term"], cols["salt"], cols["block_id"], cols["n"],
                cols["docids"], cols["tfs"], cols["doclens"],
            ):
                i = want.get((term, salt, bid))
                if i is None:
                    continue  # same block_id under another (term, salt)
                d, t, L = decode_block({"n": n, "docids": db, "tfs": tb, "doclens": lb})
                if self.tombs is not None:
                    live = ~np.isin(d, self.tombs, assume_unique=True)
                    d, t, L = d[live], t[live], L[live]
                self._decoded[i] = (int(self.term[i]), d, t, L)
            if len(self._decoded.keys() & todo) != len(todo):
                raise OSError("packed blocks listed in the metadata are missing")
        return [self._decoded[int(i)] for i in blocks]

    def pivot(self, blocks: np.ndarray, keep=None) -> "_Pivot":
        """Docs of the given blocks as (docid, tf per term, doclen); with
        ``keep(docids) -> mask``, only the docids it keeps."""
        parts = self.read(blocks)
        if keep is not None:
            masks = [keep(d) for _, d, _, _ in parts]
            parts = [(t, d[m], f[m], L[m]) for (t, d, f, L), m in zip(parts, masks)]
        return _Pivot(parts, len(self.terms))


class _Pivot:
    """Per doc: docid, tf per term (``present`` marks the terms it has), doclen."""

    def __init__(self, parts: list[tuple], n_terms: int):
        self.docid = np.unique(
            np.concatenate([d for _, d, _, _ in parts] or [np.zeros(0, np.int64)])
        )
        self.tf = np.zeros((n_terms, len(self.docid)), dtype=np.int64)
        self.present = np.zeros((n_terms, len(self.docid)), dtype=bool)
        self.doclen = np.zeros(len(self.docid), dtype=np.int64)
        for t, d, f, L in parts:
            ix = np.searchsorted(self.docid, d)
            self.tf[t, ix] = f
            self.present[t, ix] = True
            self.doclen[ix] = L

    def table(self) -> pa.Table:
        """Arrow (docid, _tf0.._tf{n-1} nullable int, doclen) — the shape of
        the Spark path's per-doc pivot."""
        cols = {"docid": pa.array(self.docid, pa.int64())}
        for i in range(len(self.tf)):
            cols[f"_tf{i}"] = pa.array(
                self.tf[i].astype(np.int32), pa.int32(), mask=~self.present[i]
            )
        cols["doclen"] = pa.array(self.doclen, pa.int64())
        return pa.table(cols)


def _seed_theta(
    q: _Query, rb: RangeBounds, range_ub: np.ndarray, k: int, seed_scores, st: PruneStats
) -> np.ndarray:
    """Seed walk: decode the best ranges by UB until the seed is guaranteed
    to contain >= k distinct docids, score them with ``seed_scores(pivot)``
    and set θ. Returns the [R] mask of seed ranges.

    A single term's postings are distinct docs, so unique blocks are counted
    per term and the walk stops once one term's covered postings reach the
    target (counting across terms under-seeds: 100 postings of 3 terms can
    be ~40 docs, leaving θ at -inf and the prune phase vacuous)."""
    n_ranges = len(rb.starts)
    order = np.argsort(-range_ub, kind="stable")
    counted = np.zeros(len(q.n), dtype=bool)
    term_posts = np.zeros(len(q.terms), dtype=np.int64)
    # seed target: 2k postings of one term, floored at ~2 blocks — a seed at
    # exactly k docs leaves θ at the k-th best of a BARELY sufficient sample;
    # doubling it tightens θ for a couple of extra blocks
    seed_target = max(2 * k, 2 * int(q.n.max(initial=0)))
    pos = 0

    def take_ranges(min_ranges: int, until_k_posts: bool = False) -> list[int]:
        nonlocal pos
        batch: list[int] = []
        while pos < n_ranges and (
            len(batch) < min_ranges
            or (until_k_posts and term_posts.max(initial=0) < seed_target)
        ):
            i = int(order[pos])
            pos += 1
            batch.append(i)
            bs = rb.range_blocks[rb.range_ptr[i]:rb.range_ptr[i + 1]]
            new = bs[~counted[bs]]
            counted[new] = True
            np.add.at(term_posts, q.term[new], q.n[new])
        return batch

    # minimum 4 ranges: with a small k a single range can satisfy the
    # posting count yet hold only weak docs, leaving θ loose
    seed = take_ranges(4, until_k_posts=True)
    in_seed = np.zeros(n_ranges, dtype=bool)
    while True:
        in_seed[seed] = True
        blocks = np.flatnonzero(rb.blocks_in(in_seed))
        tot = seed_scores(q.pivot(blocks, lambda d: in_seed[rb.range_of(d)]))
        if len(tot) >= k or pos >= n_ranges:
            break
        # block splits can leave the covered ranges short of k docs: extend
        # in doubling batches (UB order, θ only tightens)
        seed.extend(take_ranges(max(16, len(seed))))
    if len(tot) >= k:
        st.theta = float(np.partition(tot, len(tot) - k)[len(tot) - k]) * _THETA_SLACK
    else:
        st.theta = -math.inf
    st.n_seed_blocks = len(blocks)
    return in_seed


def _pruned_topk(
    pidx: PackedIndex,
    terms: list[str],
    fld: str,
    k: int,
    st: PruneStats,
    block_ub,
    range_ub,
    seed_scores,
    pivot_score: Column,
    spark_scores,
) -> DataFrame:
    """The flow shared by both models, given the model's pieces:
    ``block_ub(q)`` -> [B] per-block bounds, ``range_ub(rb)`` -> [R] range
    bounds, ``seed_scores(pivot)`` -> numpy seed scores, ``pivot_score`` the
    score column over a (docid, _tf{i}, doclen) pivot, and
    ``spark_scores(posts)`` the Spark (docid, score) plan over scanned
    postings."""
    metas = pidx.reads.block_meta(terms, fld)
    q = _Query(pidx, terms, fld, metas)
    st.n_blocks_total = len(q.n)
    rb = range_bounds(q.lo, q.hi, q.term, block_ub(q), len(terms), q.min_doclen)
    ub = range_ub(rb)
    st.n_ranges_total = len(ub)
    in_seed = _seed_theta(q, rb, ub, k, seed_scores, st)

    # prune only UB < θ (strict): a doc scoring exactly θ could still beat
    # the seed's k-th entry on the asc-ext-id tie-break, so it is scored
    chosen = in_seed | (ub >= st.theta)
    blocks = np.flatnonzero(rb.blocks_in(chosen))
    st.n_ranges_scanned = int(chosen.sum())
    st.n_blocks_scanned = len(blocks)
    st.n_postings_scored = int(q.n[blocks].sum())
    # the surviving blocks are scored whole: a block straddling a pruned
    # range contributes PARTIAL scores for that range's docs — harmless,
    # because partial ≤ total ≤ UB(range) < θ ≤ (final k-th score)
    spark = pidx.spark
    to_ext = _ext_id_type(pidx)
    if st.n_postings_scored <= _POSTS_PER_TASK and to_ext is not None:
        st.score_mode = "driver"
        piv = q.pivot(blocks)
        rows = (
            spark.createDataFrame(piv.table())
            .select("docid", pivot_score.alias("score"))
            .collect()
        )

        def ext_ids(docids: list[int]) -> dict:
            got = pidx.reads.ext_ids(docids)
            if len(got) != len(docids):
                raise OSError("doc_ids has no row for a scored docid")
            return {d: to_ext(e) for d, e in got.items()}

        return rank_local(
            spark,
            np.fromiter((r[0] for r in rows), np.int64, len(rows)),
            np.fromiter((r[1] for r in rows), np.float64, len(rows)),
            k, ext_ids,
        )

    st.score_mode = "spark"
    keys = [
        (terms[q.term[i]], fld, int(q.salt[i]), int(q.block_id[i])) for i in blocks
    ]
    n_tasks = min(
        spark.sparkContext.defaultParallelism,
        # floor of 8: below it the saved python-worker roundtrips cost more
        # than they save — a single task serializes every file-footer probe
        max(8, -(-st.n_postings_scored // max(_POSTS_PER_TASK, 1))),
    )
    pairs = [(t, fld) for t in terms]
    if len(keys) <= _KEYS_PRED_MAX:
        posts = pidx.postings_for(pairs, block_keys=keys, coalesce_to=n_tasks)
    else:
        bf = spark.createDataFrame(
            keys, "term string, field string, salt int, block_id int"
        )
        posts = pidx.postings_for(pairs, block_filter=bf, coalesce_to=n_tasks)
    return rank_topk(spark_scores(posts), pidx.doc_ids, k, n_docs=pidx.corpus.n_docs)


def _ext_id_type(pidx: PackedIndex):
    """How the Spark plan's ``doc_ids`` types ext ids, which decides their
    tie-break order: int for an integral column (9 sorts before 10), str for
    a string one. None for any other type: the driver cannot mirror its
    order, so the survivors are scored by the Spark job instead."""
    name = pidx.doc_ids.schema["ext_docid"].dataType.typeName()
    if name in ("long", "integer", "short", "byte"):
        return int
    return str if name == "string" else None


def _tombstones_fit(pidx: PackedIndex, st: PruneStats) -> bool:
    if pidx.n_deleted <= _DRIVER_TOMBSTONE_MAX:
        return True
    st.fallback = (
        f"{pidx.n_deleted} tombstones exceed the driver gate ({_DRIVER_TOMBSTONE_MAX})"
    )
    return False


# --------------------------------------------------------------------------
# BM25 #SUM
# --------------------------------------------------------------------------


def _bm25_block_ub(max_tf, min_doclen, idf, avgdl: float, p: BM25Params):
    tfw = max_tf / (max_tf + p.k1 * ((1.0 - p.b) + p.b * min_doclen / avgdl))
    return idf * tfw * _F32_GUARD


def bm25_range_ub(rb: RangeBounds) -> np.ndarray:
    """UB(R) = Σ_t max ub of t's blocks overlapping R, summed in term order."""
    tot = np.zeros(len(rb.starts))
    for j in range(rb.best.shape[1]):
        tot += rb.best[:, j]
    return tot


def bm25_topk_pruned(
    pidx: PackedIndex,
    terms: list[str],
    k: int = 100,
    fld: str = "body",
    p: BM25Params | None = None,
    stats: PruneStats | None = None,
) -> DataFrame | None:
    """Exact BM25 #SUM top-k using block-max pruning. Returns the same
    (rank, docid, ext_docid, score) frame as the unpruned plan, or None when
    the driver cannot read the index (the caller runs the exact plan)."""
    p = p or BM25Params()
    st = stats if stats is not None else PruneStats()
    n_docs = pidx.corpus.n_docs
    avgdl = pidx.corpus.avgdl(fld)
    try:
        if not _tombstones_fit(pidx, st):
            return None
        trows = pidx.reads.term_stats(terms, fld)
        live = [t for t in dict.fromkeys(terms) if t in trows]
        if not live:
            # all-stopword or absent-term query: the exact plan's empty
            # top-k (the TREC sink then emits its dummy row)
            st.score_mode = "driver"
            return _enumerate_ranks(pidx.spark, [])
        idf = np.array([_idf(n_docs, trows[t][0]) for t in live])
        userw = (p.k3 + 1.0) * 1.0 / (p.k3 + 1.0)  # qtf=1 (QryopSlScore:122)

        def block_ub(q: _Query) -> np.ndarray:
            return _bm25_block_ub(q.max_tf, q.min_doclen, idf[q.term], avgdl, p)

        def seed_scores(piv: _Pivot) -> np.ndarray:
            # engine.score.bm25_score's arithmetic: per-term float32
            # round-trip, summed in double
            tot = np.zeros(len(piv.docid))
            dl = piv.doclen.astype(np.float64)
            for i in range(len(live)):
                tf = piv.tf[i].astype(np.float64)
                tfw = tf / (tf + p.k1 * ((1.0 - p.b) + p.b * dl / avgdl))
                s = (idf[i] * tfw * userw).astype(np.float32).astype(np.float64)
                tot += np.where(piv.present[i], s, 0.0)
            return tot

        # SumNode's sum, in child order (a missing child adds nothing)
        pivot_score = reduce(
            lambda acc, i: acc + F.coalesce(
                score_mod.bm25_score(
                    n_docs=n_docs, df=trows[live[i]][0], avgdl=avgdl, p=p,
                    tf=F.col(f"_tf{i}"), doclen=F.col("doclen"),
                ),
                F.lit(0.0),
            ),
            range(len(live)),
            F.lit(0.0),
        )

        def spark_scores(posts: DataFrame) -> DataFrame:
            return (
                posts.select(
                    "docid",
                    score_mod.bm25_score(
                        n_docs=n_docs, df=F.col("df"), avgdl=avgdl, p=p
                    ).alias("score"),
                )
                .groupBy("docid")
                .agg(F.sum("score").alias("score"))
            )

        return _pruned_topk(
            pidx, live, fld, k, st, block_ub, bm25_range_ub, seed_scores,
            pivot_score, spark_scores,
        )
    except DRIVER_READ_ERRORS as e:
        st.fallback = f"driver read failed: {type(e).__name__}: {e}"
        return None


# --------------------------------------------------------------------------
# weighted Indri pruning: MaxScore-style block-max for #AND / #WAND / #WSUM
# --------------------------------------------------------------------------
#
# The Indri combines are FULL-OUTER: every doc in the union of the children's
# posting lists is a candidate, and a child missing from a doc contributes
# its default score (a function of the doc's length only). Both score paths
# are monotone — the actual score increases in tf and decreases in doclen,
# the default decreases in doclen — and every combine (#AND geo-mean, #WAND
# product-of-pows, #WSUM weighted mean) is monotone increasing in each child
# for non-negative weights. So a range-level upper bound exists:
#
#   bound_i(R) = max( max_{blocks of i overlapping R} ub_actual(block),
#                     default_i(min doclen over ALL blocks overlapping R) )
#   UB(R)      = combine(bound_1(R), ..., bound_k(R)) * (1 + 2^-20)
#
# valid for every candidate doc in R: a doc is in R only via >=1 overlapping
# block, so its doclen >= that range's min block doclen, and each child
# contribution is <= bound_i(R) whether actual or default. The final guard
# absorbs pow()-ulp differences between numpy and the JVM.
#
# Same flow as BM25: a seeded θ, survivors = UB >= θ, final scores from the
# canonical pivot expressions (ops._indri_pivot_scores' exact arithmetic).
# Blocks straddling a pruned range contribute PARTIAL rows for that range's
# docs — harmless: their computed score is also <= UB(range) < θ (each
# present child <= its block ub, each missing child's default <= the range
# default bound), strictly below every true top-k doc.
#
# Outside the contract (return None -> the caller runs the exact plan): any
# query term absent from the index (the degenerate all-zero #AND/#WAND case
# and the W-normalization subtlety aren't worth modeling), non-positive
# total weight, any negative weight (monotonicity breaks), duplicate terms
# (the term-keyed pivot can't split them).


def _indri_mle(ctf: int, c_len: int) -> float:
    return ctf / float(c_len)


def _indri_block_ub(max_tf, min_doclen, mle, p: IndriParams):
    """Upper bound on the f32-cast actual score of any posting in the block
    (increasing in tf, decreasing in doclen — QryopSlScore.java:164-167)."""
    s = (1.0 - p.lam) * (max_tf + p.mu * mle) / (min_doclen + p.mu) + p.lam * mle
    return s * _F32_GUARD


def _indri_default_ub(min_doclen, mle, p: IndriParams):
    """Default score at the smallest doclen a candidate in the range can
    have (the default path is NOT f32-cast — QryopSlScore.java:195)."""
    return (1.0 - p.lam) * (p.mu * mle) / (min_doclen + p.mu) + p.lam * mle


def _indri_combine(kind: str, weights: list | None, scores: list):
    """#AND geo-mean / #WAND product of pows / #WSUM weighted mean over
    per-child scores (floats or numpy arrays), children left to right."""
    if kind == "wsum":
        W = sum(weights)
        return reduce(lambda acc, ws: acc + ws[1] * (ws[0] / W), zip(weights, scores), 0.0)
    if kind == "wand":
        W = sum(weights)
        return reduce(lambda acc, ws: acc * ws[1] ** (ws[0] / W), zip(weights, scores), 1.0)
    return reduce(lambda a, b: a * b, scores) ** (1.0 / len(scores))


def indri_range_ub(
    rb: RangeBounds, kind: str, weights: list | None, mle: np.ndarray, p: IndriParams
) -> np.ndarray:
    """UB(R) = combine_t(max(best_t(R), default_t(min doclen in R))), guarded;
    -inf for a gap range (no overlapping block, hence no candidate doc)."""
    bounds = [
        np.maximum(rb.best[:, j], _indri_default_ub(rb.min_doclen, mle[j], p))
        for j in range(len(mle))
    ]
    ub = _indri_combine(kind, weights, bounds) * _F32_GUARD
    return np.where(rb.covered, ub, -math.inf)


def indri_topk_pruned(
    pidx: PackedIndex,
    kind: str,
    terms: list[str],
    weights: list | None = None,
    k: int = 100,
    fld: str = "body",
    p: IndriParams | None = None,
    stats: PruneStats | None = None,
) -> DataFrame | None:
    """Exact Indri #AND/#WAND/#WSUM top-k with block-max pruning; bitwise
    the exact pivot plan's output. Returns None when the shape falls outside
    the pruned path's contract or the driver cannot read the index (caller
    runs the exact plan)."""
    p = p or IndriParams()
    st = stats if stats is not None else PruneStats()
    c_len = pidx.corpus.sum_doclen(fld)

    if kind not in ("and", "wand", "wsum"):
        st.fallback = f"unsupported combine {kind!r}"
        return None
    if len(set(terms)) != len(terms) or not terms:
        st.fallback = "duplicate or no terms"
        return None
    if kind in ("wand", "wsum"):
        if weights is None or len(weights) != len(terms):
            st.fallback = "weights do not match terms"
            return None
        if any(w < 0 for w in weights) or sum(weights) <= 0:
            st.fallback = "negative or non-positive total weight"
            return None
    try:
        if not _tombstones_fit(pidx, st):
            return None
        trows = pidx.reads.term_stats(terms, fld)
        if any(t not in trows for t in terms):
            st.fallback = "absent term"  # degenerate zero-score combines
            return None
        mle = np.array([_indri_mle(trows[t][1], c_len) for t in terms])

        def block_ub(q: _Query) -> np.ndarray:
            return _indri_block_ub(q.max_tf, q.min_doclen, mle[q.term], p)

        def range_ub(rb: RangeBounds) -> np.ndarray:
            return indri_range_ub(rb, kind, weights, mle, p)

        def seed_scores(piv: _Pivot) -> np.ndarray:
            # numpy mirror of the pivot expressions: per-child f32 round-trip
            # on the actual path, raw-double defaults, combined in child order
            dl = piv.doclen.astype(np.float64)
            child = []
            for i, m in enumerate(mle):
                tf = piv.tf[i].astype(np.float64)
                actual = (1.0 - p.lam) * ((tf + p.mu * m) / (dl + p.mu)) + p.lam * m
                default = (1.0 - p.lam) * (p.mu * m) / (dl + p.mu) + p.lam * m
                child.append(
                    np.where(
                        piv.present[i],
                        actual.astype(np.float32).astype(np.float64),
                        default,
                    )
                )
            return _indri_combine(kind, weights, child)

        pivot_score = _indri_pivot_score(kind, weights, terms, trows, c_len, p)

        def spark_scores(posts: DataFrame) -> DataFrame:
            aggs = [
                F.max(F.when(F.col("term") == t, F.col("tf").cast("int"))).alias(f"_tf{i}")
                for i, t in enumerate(terms)
            ]
            base = posts.groupBy("docid").agg(*aggs, F.max("doclen").alias("doclen"))
            return base.select("docid", pivot_score.alias("score"))

        return _pruned_topk(
            pidx, terms, fld, k, st, block_ub, range_ub, seed_scores,
            pivot_score, spark_scores,
        )
    except DRIVER_READ_ERRORS as e:
        st.fallback = f"driver read failed: {type(e).__name__}: {e}"
        return None


def _indri_pivot_score(kind, weights, terms, trows, c_len, p: IndriParams) -> Column:
    """Indri score over a (docid, _tf{i}, doclen) pivot: actual f32 score for
    a present child, raw-double default otherwise; the combines replicate
    ops.IndriAndNode/WandNode/WsumNode._combine exactly."""
    cols = []
    for i, t in enumerate(terms):
        tf_col = F.col(f"_tf{i}")
        actual = score_mod.indri_score(
            ctf=trows[t][1], c_len=c_len, p=p, tf=tf_col, doclen=F.col("doclen")
        )
        default = score_mod.indri_default_score(
            ctf=trows[t][1], c_len=c_len, p=p, doclen=F.col("doclen")
        )
        cols.append(F.when(tf_col.isNotNull(), actual).otherwise(default))
    if kind == "wsum":
        W = sum(weights)
        score = F.lit(0.0)
        for c, w in zip(cols, weights):
            score = score + c * F.lit(w / W)
        return score
    if kind == "wand":
        W = sum(weights)
        score = F.lit(1.0)
        for c, w in zip(cols, weights):
            score = score * F.pow(c, F.lit(w / W))
        return score
    return F.pow(reduce(lambda a, b: a * b, cols), F.lit(1.0 / len(cols)))
