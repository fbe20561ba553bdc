"""#SCORE — turn an inverted list into a score list (QryopSlScore, 211 LoC).

Each formula has two forms that must keep the same operations in the same
order:

- a whole-stage-codegen'd Column expression over postings ⋈ doc_stats, with
  N / avgdl / df / ctf as driver-side constants (they constant-fold) — the
  distributed analog of the reference pulling them from the live Lucene
  reader (hw5/QryEval/QryopSlScore.java:118,129-130,156). The Spark plans
  use it;
- a numpy twin (``*_np``) over arrays of one child's (tf, doclen), which the
  driver-answered queries use (engine/pruning.py, engine/structured.py).

The twins are bitwise the Column forms because IEEE double ``+ − × ÷`` and
the float32 cast round the same way in numpy and Java, and Java never
contracts ``a*b + c`` to an FMA, so only the association matters. The one
transcendental of a twin, BM25's idf ``log``, is passed in as ``log``: the
driver fetches ``StrictMath.log`` (what Spark's ``F.log`` runs) from the JVM
once per argument. The Indri combines' ``pow`` is ``engine.strictmath.pow``.
After touching either form, run tests/test_strictmath.py and the identity
tests (tests/test_pruning.py, tests/test_driver_struct.py).

Rank-identity contract (SURVEY.md §1.2): every per-term score is cast to
float32 before being combined in double upstream — the reference appends
`(float) score` to its ScoreList at QryopSlScore.java:86,89,134,169. We
replicate with `.cast('float').cast('double')`; top-k ties flip without it.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from search_engine_spark.config import BM25Params, IndriParams


def _f32(col: Column) -> Column:
    """float32 round-trip: the reference's `(float) score` append."""
    return col.cast("float").cast("double")


def _f32_np(a: np.ndarray) -> np.ndarray:
    """``_f32``'s twin."""
    return a.astype(np.float32).astype(np.float64)


def unranked_boolean_score() -> Column:
    """QryopSlScore.java:85-86 — every match scores 1.0."""
    return F.lit(1.0)


def ranked_boolean_score(tf: Column = None) -> Column:
    """QryopSlScore.java:87-89 — score = tf."""
    tf = F.col("tf") if tf is None else tf
    return tf.cast("double")


def bm25_score(
    *,
    n_docs: int,
    df: Column | int,
    avgdl: float,
    p: BM25Params,
    tf: Column = None,
    doclen: Column = None,
) -> Column:
    """BM25 per-posting score (QryopSlScore.java:103-139).

    idf  = max(0, ln((N - df + 0.5) / (df + 0.5)))        [clamp :119-120]
    tfW  = tf / (tf + k1*((1-b) + b*doclen/avgdl))
    userW= (k3+1)*qtf/(k3+qtf), qtf=1                      [:122]
    score= (float)(idf * tfW * userW)                      [:134]
    """
    tf = (F.col("tf") if tf is None else tf).cast("double")
    doclen = (F.col("doclen") if doclen is None else doclen).cast("double")
    dfc = F.lit(df).cast("double") if not isinstance(df, Column) else df.cast("double")
    adc = (
        F.lit(avgdl) if not isinstance(avgdl, Column) else avgdl.cast("double")
    )
    n = F.lit(float(n_docs))
    idf = F.greatest(F.lit(0.0), F.log((n - dfc + F.lit(0.5)) / (dfc + F.lit(0.5))))
    tfw = tf / (tf + F.lit(p.k1) * (F.lit(1.0 - p.b) + F.lit(p.b) * doclen / adc))
    qtf = 1.0
    userw = F.lit((p.k3 + 1.0) * qtf / (p.k3 + qtf))
    return _f32(idf * tfw * userw)


def bm25_idf(n_docs: int, df: int, log: Callable[[float], float]) -> float:
    """``bm25_score``'s idf, with ``log`` the JVM's ``StrictMath.log``."""
    n, d = float(n_docs), float(df)
    return max(0.0, log((n - d + 0.5) / (d + 0.5)))


def bm25_score_np(
    *, idf: float, avgdl: float, p: BM25Params, tf: np.ndarray, doclen: np.ndarray
) -> np.ndarray:
    """``bm25_score``'s twin, given its idf (``bm25_idf``)."""
    tf = tf.astype(np.float64)
    doclen = doclen.astype(np.float64)
    tfw = tf / (tf + p.k1 * ((1.0 - p.b) + p.b * doclen / avgdl))
    qtf = 1.0
    userw = (p.k3 + 1.0) * qtf / (p.k3 + qtf)
    return _f32_np(idf * tfw * userw)


def indri_score(
    *,
    ctf: Column | int,
    c_len: int,
    p: IndriParams,
    tf: Column = None,
    doclen: Column = None,
) -> Column:
    """Indri two-stage smoothing (QryopSlScore.java:141-174).

    mle   = ctf / C_len
    score = (float)((1-λ)·(tf + µ·mle)/(doclen + µ) + λ·mle)   [:164-167]
    """
    tf = (F.col("tf") if tf is None else tf).cast("double")
    doclen = (F.col("doclen") if doclen is None else doclen).cast("double")
    ctfc = F.lit(ctf).cast("double") if not isinstance(ctf, Column) else ctf.cast("double")
    clc = (
        F.lit(float(c_len)) if not isinstance(c_len, Column) else c_len.cast("double")
    )
    mle = ctfc / clc
    # association matches the reference exactly: part1 = (1-λ)·((tf+µ·mle)/(doclen+µ))
    # — note the DEFAULT path below associates differently ((1-λ)·(µ·mle))/(doclen+µ),
    # as the Java does; the two differ in ulps, and ranks depend on it.
    score = (
        F.lit(1.0 - p.lam) * ((tf + F.lit(p.mu) * mle) / (doclen + F.lit(p.mu)))
        + F.lit(p.lam) * mle
    )
    return _f32(score)


def indri_score_np(
    *, ctf: int, c_len: int, p: IndriParams, tf: np.ndarray, doclen: np.ndarray
) -> np.ndarray:
    """``indri_score``'s twin."""
    tf = tf.astype(np.float64)
    doclen = doclen.astype(np.float64)
    mle = float(ctf) / float(c_len)
    return _f32_np((1.0 - p.lam) * ((tf + p.mu * mle) / (doclen + p.mu)) + p.lam * mle)


def indri_default_score(
    *,
    ctf: Column | int,
    c_len: int,
    p: IndriParams,
    doclen: Column = None,
) -> Column:
    """Default (tf = 0) Indri score for a doc missing from this term's list
    (QryopSlScore.java:178-195) — used by the full-outer Indri combinators."""
    doclen = (F.col("doclen") if doclen is None else doclen).cast("double")
    ctfc = F.lit(ctf).cast("double") if not isinstance(ctf, Column) else ctf.cast("double")
    clc = (
        F.lit(float(c_len)) if not isinstance(c_len, Column) else c_len.cast("double")
    )
    mle = ctfc / clc
    # NOT float32-cast: getDefaultScore returns a raw double (the float cast
    # happens only on the evaluate path's docScores.add) — QryopSlScore.java:195
    return (
        F.lit(1.0 - p.lam) * (F.lit(p.mu) * mle) / (doclen + F.lit(p.mu))
        + F.lit(p.lam) * mle
    )


def indri_default_score_np(
    *, ctf: int, c_len: int, p: IndriParams, doclen: np.ndarray
) -> np.ndarray:
    """``indri_default_score``'s twin (raw double, no float32 cast)."""
    doclen = doclen.astype(np.float64)
    mle = float(ctf) / float(c_len)
    return (1.0 - p.lam) * (p.mu * mle) / (doclen + p.mu) + p.lam * mle
