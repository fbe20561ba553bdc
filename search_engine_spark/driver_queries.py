"""Driver-contract queries: Spark plan + DuckDB oracle twin per operator.

Each entry runs the engine against /root/testdata/sf*/documents.parquet
(schema doc_id, text, lang, source, n_chars; docid = ext id = doc_id) and is
checked by the driver against the matching ANSI-SQL oracle executed by DuckDB
on the same parquet (order-insensitive value-hash), so:

- every numeric literal in the SQL is written so DuckDB computes the SAME
  IEEE double the Spark expression uses (associativity matters — see
  engine/score.py);
- per-term scores are float32-cast in both engines (CAST(x AS REAL)), making
  double-sum order-independent for small k;
- all integer outputs are cast to BIGINT on both sides, ranks to INT.

Positional operators (#NEAR/#WINDOW) are not SQL-expressible with their
consume-on-match semantics — they're covered rows-only here and exactly in
tests/ against the pure-Python oracle.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from search_engine_spark.config import (
    BM25,
    INDRI,
    RANKED_BOOLEAN,
    UNRANKED_BOOLEAN,
    BM25Params,
    IndriParams,
    ModelConfig,
)
from search_engine_spark.engine.batch import batch_topk
from search_engine_spark.engine.runner import Engine
from search_engine_spark.index.persist import (
    BuildConfig, PackedIndex, build_persistent_index,
)
from search_engine_spark.tokenize import WHITESPACE_TOKENIZER

# ---------------------------------------------------------------------------
# shared SQL prelude: tokenize + stats tables, mirroring the index build
# ---------------------------------------------------------------------------

SQL_PRELUDE = r"""
WITH docs_t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS toks
  FROM documents
),
tok0 AS (SELECT doc_id, unnest(list_zip(toks, range(len(toks)))) AS z FROM docs_t),
tok  AS (SELECT doc_id, z[1] AS term, CAST(z[2] AS BIGINT) AS pos FROM tok0),
tfs  AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
dl   AS (SELECT doc_id, count(*)::BIGINT AS doclen FROM tok GROUP BY 1),
dfstats AS (SELECT term, count(*)::BIGINT AS df, sum(tf)::BIGINT AS ctf FROM tfs GROUP BY 1),
consts AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS n_docs,
                  (SELECT sum(doclen) FROM dl)::DOUBLE AS c_len,
                  (SELECT sum(doclen)::DOUBLE / count(*) FROM dl) AS avgdl)
"""

# Multi-field prelude: the same tokenize/stats tables per (doc, field) for
# the three indexed fields (body=text, lang, source) — the DuckDB twin of
# the build's BuildConfig.fields walk. Per-field avgdl/c_len; n_docs stays the
# corpus-wide count (ops.py uses corpus.n_docs for every field's idf).
MF_SQL_PRELUDE = r"""
WITH docs_f AS (
  SELECT doc_id, 'body' AS field, text AS raw FROM documents
  UNION ALL SELECT doc_id, 'lang' AS field, lang AS raw FROM documents
  UNION ALL SELECT doc_id, 'source' AS field, source AS raw FROM documents
),
fdocs_t AS (
  SELECT doc_id, field,
         list_filter(regexp_split_to_array(lower(raw), '\s+'), x -> x <> '') AS toks
  FROM docs_f
),
ftok0 AS (SELECT doc_id, field, unnest(list_zip(toks, range(len(toks)))) AS z FROM fdocs_t),
ftok  AS (SELECT doc_id, field, z[1] AS term, CAST(z[2] AS BIGINT) AS pos FROM ftok0),
ftfs  AS (SELECT doc_id, field, term, count(*)::BIGINT AS tf FROM ftok GROUP BY 1, 2, 3),
fdl   AS (SELECT doc_id, field, count(*)::BIGINT AS doclen FROM ftok GROUP BY 1, 2),
fdfstats AS (SELECT field, term, count(*)::BIGINT AS df, sum(tf)::BIGINT AS ctf
             FROM ftfs GROUP BY 1, 2),
fconsts AS (SELECT field,
                   (SELECT count(*) FROM documents)::DOUBLE AS n_docs,
                   sum(doclen)::DOUBLE AS c_len,
                   sum(doclen)::DOUBLE / count(*) AS avgdl
            FROM fdl GROUP BY 1)
"""

_B = BM25Params()
_I = IndriParams()

FLAGSHIP_TERMS = ["spark", "query", "table", "dup"]


def _sql_in(terms: list[str]) -> str:
    return "(" + ", ".join(f"'{t}'" for t in terms) + ")"


def _bm25_scores_cte(terms: list[str]) -> str:
    """Per-(doc,term) BM25 score — float32-cast like QryopSlScore.java:134."""
    return f"""
scores AS (
  SELECT t.doc_id,
         CAST(CAST(
           greatest(0.0, ln((c.n_docs - d.df + 0.5) / (d.df + 0.5)))
           * (t.tf / (t.tf + {_B.k1!r} * ({1.0 - _B.b!r} + {_B.b!r} * l.doclen / c.avgdl)))
         AS REAL) AS DOUBLE) AS score
  FROM tfs t
  JOIN dfstats d USING (term)
  JOIN dl l USING (doc_id)
  CROSS JOIN consts c
  WHERE t.term IN {_sql_in(terms)}
)"""


def _topk_sql(k: int, f32_out: bool = False) -> str:
    score = "CAST(CAST(score AS REAL) AS DOUBLE)" if f32_out else "score"
    return f"""
SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank,
       doc_id AS docid, {score} AS score
FROM agg
ORDER BY score DESC, docid ASC
LIMIT {k}"""


def _indri_term_score_sql(term: str) -> str:
    """Indri evaluate-path: (1-λ)·((tf + µ·mle)/(doclen+µ)) + λ·mle, f32-cast."""
    mle = f"((SELECT ctf FROM dfstats WHERE term = '{term}') / c.c_len)"
    return (
        f"CAST(CAST((1.0 - {_I.lam!r}) * ((t.tf + {_I.mu!r} * {mle}) / (l.doclen + {_I.mu!r}))"
        f" + {_I.lam!r} * {mle} AS REAL) AS DOUBLE)"
    )


def _indri_default_sql(term: str) -> str:
    """Indri default path: ((1-λ)·(µ·mle))/(doclen+µ) + λ·mle, NOT f32-cast
    (getDefaultScore returns a raw double)."""
    mle = f"((SELECT ctf FROM dfstats WHERE term = '{term}') / c.c_len)"
    return (
        f"((1.0 - {_I.lam!r}) * ({_I.mu!r} * {mle}) / (l.doclen + {_I.mu!r})"
        f" + {_I.lam!r} * {mle})"
    )


def _indri_join_sql(terms: list[str], sfx: str = "") -> str:
    """cands (union of term postings) LEFT JOIN per-term actual scores,
    coalesced with default scores — the full-outer Indri combine. ``sfx``
    suffixes every CTE name so several instances can share one WITH clause
    (the batch oracle unions one instance per qid)."""
    ctes = [
        f"""s{i}{sfx} AS (
  SELECT t.doc_id, {_indri_term_score_sql(t_)} AS s
  FROM tfs t JOIN dl l USING (doc_id) CROSS JOIN consts c
  WHERE t.term = '{t_}'
)"""
        for i, t_ in enumerate(terms)
    ]
    cands = f"cands{sfx} AS (SELECT DISTINCT doc_id FROM tfs WHERE term IN {_sql_in(terms)})"
    joins = "\n  ".join(
        f"LEFT JOIN s{i}{sfx} ON s{i}{sfx}.doc_id = cands{sfx}.doc_id"
        for i in range(len(terms))
    )
    cols = ", ".join(
        f"coalesce(s{i}{sfx}.s, {_indri_default_sql(t_)}) AS c{i}"
        for i, t_ in enumerate(terms)
    )
    per = f"""per{sfx} AS (
  SELECT cands{sfx}.doc_id, {cols}
  FROM cands{sfx}
  JOIN dl l ON l.doc_id = cands{sfx}.doc_id
  CROSS JOIN consts c
  {joins}
)"""
    return ",\n".join([cands] + ctes + [per])


# ---------------------------------------------------------------------------
# Spark side
# ---------------------------------------------------------------------------


_INDEX_CACHE: dict = {}

# field name -> source column in documents.parquet (SURVEY.md §2.2 P1: the
# reference indexes body/title/url/inlink/keywords; the sf documents table
# carries text/lang/source, so the gate exercises three field slots)
DOC_FIELDS = {"body": "text", "lang": "lang", "source": "source"}


def _one_shot_build(spark, docs, cfg) -> None:
    build_persistent_index(spark, docs, cfg, resume=False)


def _gate_index(
    spark: SparkSession, sf_dir: str, name: str, write=_one_shot_build, *,
    docid_base: int = 0, **overrides,
) -> PackedIndex:
    """One gate index, written once per (session, sf_dir) into its own temp
    dir ``spark_graft_<name>_<sf>`` and opened as a PackedIndex.

    ``write(spark, docs, cfg)`` lays the index down in ``cfg.out_dir``:
    ``docs`` is the sf documents table (docid = doc_id + ``docid_base``,
    ext_docid = doc_id as a string) and ``cfg`` the gate's multi-field
    whitespace BuildConfig with ``overrides`` applied. The default writer
    is a one-shot build."""
    key = (name, id(spark), sf_dir)
    if key not in _INDEX_CACHE:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            (F.col("doc_id").cast("long") + docid_base).alias("docid"),
            F.col("doc_id").cast("string").alias("ext_docid"),
            "text", "lang", "source",
        )
        out = os.path.join(
            tempfile.gettempdir(),
            f"spark_graft_{name}_{os.path.basename(sf_dir.rstrip('/'))}",
        )
        shutil.rmtree(out, ignore_errors=True)
        cfg = BuildConfig(
            out_dir=out, fields=DOC_FIELDS, tokenizer=WHITESPACE_TOKENIZER,
            n_buckets=8, **overrides,
        )
        write(spark, docs, cfg)
        pidx = PackedIndex(spark, out)
        # ext ids are numeric doc_ids here: keep the tie-break numeric like
        # the oracle's (a string sort would put "10" before "2")
        pidx.doc_ids = pidx.doc_ids.select(
            "docid", F.col("ext_docid").cast("long").alias("ext_docid")
        )
        # pin the small dimension tables hot (a query server keeps the
        # dictionary resident; doc_ids is broadcast by every rank_topk and
        # term_stats is joined by every decode scan) — packed postings stay
        # on disk, which is the part that matters at 100 TB
        for small in ("doc_ids", "term_stats", "doc_stats"):
            df = getattr(pidx, small).cache()
            df.count()
            setattr(pidx, small, df)
        _INDEX_CACHE[key] = pidx
    return _INDEX_CACHE[key]


def load_documents_index(spark: SparkSession, sf_dir: str) -> PackedIndex:
    """The gate's documents index: a persistent build (docid = doc_id)."""

    def write(spark, docs, cfg):
        # the sf corpora are small (500-5000 docs): cap the fan-out so the
        # build isn't pure task-launch overhead at local[32]
        parts = max(2, min(16, docs.count() // 500))
        _one_shot_build(spark, docs.repartition(parts), cfg)

    return _gate_index(spark, sf_dir, "packed", write)


# every doc_id ≡ DELETE_REM (mod DELETE_MOD) is tombstoned in the deleted
# variant of the packed index — a predicate DuckDB can mirror exactly
DELETE_MOD, DELETE_REM = 10, 7


def load_deleted_documents_index(spark: SparkSession, sf_dir: str) -> PackedIndex:
    """Copy of the documents index with doc_id % 10 == 7 tombstoned
    (index/deletes.py; SURVEY.md §2.2 P3 — the liveDocs walk of
    hw5/QryEval/InvList.java:84-86). Deletes mutate the manifest, so the
    shared index is never touched: its files are copied aside and
    tombstoned there."""
    from search_engine_spark.index.deletes import delete_docs

    packed = load_documents_index(spark, sf_dir)  # on-disk files exist

    def write(spark, docs, cfg):
        shutil.copytree(packed.dir, cfg.out_dir)
        victims = [
            str(r["ext_docid"])
            for r in packed.doc_ids.where(
                F.col("ext_docid") % DELETE_MOD == DELETE_REM
            ).collect()
        ]
        delete_docs(spark, cfg.out_dir, ext_docids=victims)

    return _gate_index(spark, sf_dir, "deleted", write)


def load_compacted_documents_index(spark: SparkSession, sf_dir: str) -> PackedIndex:
    """The deleted index, compacted (index/compact.py): tombstones purged,
    df/ctf/avgdl fresh — query-equivalent to a fresh build over the live
    docs. Own copy so the deleted index keeps its stale-stats contract."""
    from search_engine_spark.index.compact import compact_index

    deleted = load_deleted_documents_index(spark, sf_dir)

    def write(spark, docs, cfg):
        shutil.copytree(deleted.dir, cfg.out_dir)
        compact_index(spark, cfg.out_dir)

    return _gate_index(spark, sf_dir, "compacted", write)


def _engine(spark: SparkSession, sf_dir: str, model: str) -> Engine:
    return Engine(load_documents_index(spark, sf_dir), ModelConfig(name=model))


def _topk_df(eng: Engine, query: str, k: int, f32_out: bool = False) -> DataFrame:
    """f32_out: round the REPORTED score to float32 on both sides of the
    oracle comparison. Used for pow()-based scores (#AND-Indri, #WAND) where
    JVM Math.pow and DuckDB's libm pow legitimately differ by 1 ulp — ranking
    still uses the full-precision (reference-exact) doubles."""
    score = F.col("score")
    if f32_out:
        score = score.cast("float").cast("double")
    return eng.search(query, k).select(
        "rank", F.col("docid").cast("long").alias("docid"), score.alias("score")
    )


def _pos_str(col: str = "positions"):
    return F.array_join(F.col(col), ",").alias("pos_str")


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

_QUERIES: dict = {}
_ORACLES: dict = {}


def _register(name: str, fn, sql: str | None) -> None:
    _QUERIES[name] = fn
    if sql is not None:
        _ORACLES[name] = sql


# -- S1: term posting-list scan ---------------------------------------------


def _q_term_postings(spark, sf_dir):
    idx = load_documents_index(spark, sf_dir)
    return idx.term_postings("spark", "body").select(
        F.col("docid").cast("long").alias("docid"),
        F.col("tf").cast("long").alias("tf"),
        F.col("doclen").cast("long").alias("doclen"),
        F.col("df").cast("long").alias("df"),
        F.col("ctf").cast("long").alias("ctf"),
        _pos_str(),
    )


_register(
    "term_postings",
    _q_term_postings,
    SQL_PRELUDE
    + r""",
pos AS (SELECT doc_id, array_to_string(list(pos ORDER BY pos), ',') AS pos_str
        FROM tok WHERE term = 'spark' GROUP BY 1)
SELECT t.doc_id AS docid, t.tf, l.doclen, d.df, d.ctf, p.pos_str
FROM tfs t
JOIN dl l USING (doc_id)
JOIN dfstats d USING (term)
JOIN pos p USING (doc_id)
WHERE t.term = 'spark'""",
)


# -- flagship: BM25 #SUM top-k ----------------------------------------------


def _q_bm25_topk(spark, sf_dir):
    return _topk_df(_engine(spark, sf_dir, BM25), " ".join(FLAGSHIP_TERMS), 100)


_register(
    "bm25_sum_topk",
    _q_bm25_topk,
    SQL_PRELUDE
    + ","
    + _bm25_scores_cte(FLAGSHIP_TERMS)
    + ",\nagg AS (SELECT doc_id, sum(score) AS score FROM scores GROUP BY 1)"
    + _topk_sql(100),
)


def _q_bm25_all(spark, sf_dir):
    return _engine(spark, sf_dir, BM25).scores("big data fast scan merge join dup").select(
        F.col("docid").cast("long").alias("docid"), "score"
    )


_register(
    "bm25_sum_scores_all",
    _q_bm25_all,
    SQL_PRELUDE
    + ","
    + _bm25_scores_cte(["big", "data", "fast", "scan", "merge", "join", "dup"])
    + "\nSELECT doc_id AS docid, sum(score) AS score FROM scores GROUP BY 1",
)


# -- batched multi-query execution (engine/batch.py) --------------------------
# a whole query file in one local relation, each query answered by
# Engine.search's own route — at this scale the driver evaluator, with no
# Spark job. The reference answers a query file one query at a time
# (hw5/QryEval/QryEval.java:670-709).

BATCH_QUERY_SET = [
    ("q1", " ".join(FLAGSHIP_TERMS)),
    ("q2", "big data fast scan"),
    ("q3", "merge join dup"),
    ("q4", "dup dup table"),  # duplicate-term multiplicity (#SUM(a a b))
]


def _q_bm25_batch_topk(spark, sf_dir):
    eng = _engine(spark, sf_dir, BM25)
    return batch_topk(eng, BATCH_QUERY_SET, 100).select(
        "qid", "rank", F.col("docid").cast("long").alias("docid"), "score"
    )


def _batch_sql() -> str:
    from collections import Counter

    vals, terms = [], set()
    for qid, text in BATCH_QUERY_SET:
        for t, n in sorted(Counter(text.split()).items()):
            vals.append(f"('{qid}', '{t}', {float(n)!r})")
            terms.add(t)
    return (
        SQL_PRELUDE
        + f""",
qterms(qid, term, mult) AS (VALUES {", ".join(vals)}),
bscores AS (
  SELECT t.doc_id, t.term,
         CAST(CAST(
           greatest(0.0, ln((c.n_docs - d.df + 0.5) / (d.df + 0.5)))
           * (t.tf / (t.tf + {_B.k1!r} * ({1.0 - _B.b!r} + {_B.b!r} * l.doclen / c.avgdl)))
         AS REAL) AS DOUBLE) AS score
  FROM tfs t
  JOIN dfstats d USING (term)
  JOIN dl l USING (doc_id)
  CROSS JOIN consts c
  WHERE t.term IN {_sql_in(sorted(terms))}
),
agg AS (SELECT q.qid, s.doc_id, sum(s.score * q.mult) AS score
        FROM bscores s JOIN qterms q ON q.term = s.term GROUP BY 1, 2),
ranked AS (
  SELECT qid,
         CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank,
         doc_id AS docid, score
  FROM agg)
SELECT qid, rank, docid, score FROM ranked WHERE rank <= 100"""
    )


_register("bm25_batch_topk", _q_bm25_batch_topk, _batch_sql())


# -- incremental append (index/append.py) -------------------------------------
# base index over the first 80% of the corpus + an O(delta) append of the
# rest must equal a one-shot build over everything. The oracle is therefore
# the SAME full-corpus SQL as bm25_sum_topk — a bitwise pass proves the
# grafted index is query-equivalent to a from-scratch build.


def _q_bm25_appended_topk(spark, sf_dir):
    from search_engine_spark.index.append import append_to_index

    def write(spark, docs, cfg):
        split = max(1, (docs.count() * 4) // 5)
        _one_shot_build(spark, docs.where(F.col("docid") <= split), cfg)
        append_to_index(spark, docs.where(F.col("docid") > split), cfg)

    # internal docids are 1-based dense (the builder/append contract); the
    # sf table's 0-based doc_id stays the external id
    pidx = _gate_index(spark, sf_dir, "appended", write, docid_base=1)
    eng = Engine(pidx, ModelConfig(name=BM25))
    return eng.search(" ".join(FLAGSHIP_TERMS), 100).select(
        "rank", F.col("ext_docid").cast("long").alias("docid"), "score"
    )


_register(
    "bm25_appended_topk",
    _q_bm25_appended_topk,
    SQL_PRELUDE
    + ","
    + _bm25_scores_cte(FLAGSHIP_TERMS)
    + ",\nagg AS (SELECT doc_id, sum(score) AS score FROM scores GROUP BY 1)"
    + _topk_sql(100),
)


# -- routing-invariant merge (index/persist.py merge_buckets) ----------------
# the build's shuffle-free merge routes segment rows into key-exclusive
# parquet row groups at write time, and each merge task reads its buckets
# directly. An index built with a different bucket count (16 here, 64 by
# default) must be query-identical: the oracle is the SAME full-corpus SQL
# as bm25_sum_topk, so a bitwise pass proves the routing end-to-end under
# the driver gate (pytest additionally proves all five tables bit-identical
# across bucket counts: tests/test_merge_bucketed.py).


def _q_bm25_bucketed_build_topk(spark, sf_dir):
    pidx = _gate_index(
        spark, sf_dir, "bucketed", docid_base=1, merge_buckets=16
    )
    eng = Engine(pidx, ModelConfig(name=BM25))
    return eng.search(" ".join(FLAGSHIP_TERMS), 100).select(
        "rank", F.col("ext_docid").cast("long").alias("docid"), "score"
    )


_register(
    "bm25_bucketed_build_topk",
    _q_bm25_bucketed_build_topk,
    SQL_PRELUDE
    + ","
    + _bm25_scores_cte(FLAGSHIP_TERMS)
    + ",\nagg AS (SELECT doc_id, sum(score) AS score FROM scores GROUP BY 1)"
    + _topk_sql(100),
)


# -- P1: field-qualified retrieval (term.field) -------------------------------
# the reference's multi-field reality (hw1/QryEval/mengyuy.qry queries
# body/title/url/inlink slots; QryEval.java qualifies terms as term.field):
# a #SUM mixing a body term with lang- and source-field terms exercises the
# parser's field suffix, per-field df/ctf/avgdl, and the mixed-field CASE
# in compiler._leaf_score_col.

_FIELD_QUERY_PAIRS = [("dup", "body"), ("de", "lang"), ("src7", "source")]


def _bm25_field_scores_cte(pairs: list[tuple[str, str]]) -> str:
    in_list = ", ".join(f"('{t}', '{f}')" for t, f in pairs)
    return f"""
scores AS (
  SELECT t.doc_id,
         CAST(CAST(
           greatest(0.0, ln((c.n_docs - d.df + 0.5) / (d.df + 0.5)))
           * (t.tf / (t.tf + {_B.k1!r} * ({1.0 - _B.b!r} + {_B.b!r} * l.doclen / c.avgdl)))
         AS REAL) AS DOUBLE) AS score
  FROM ftfs t
  JOIN fdfstats d ON d.term = t.term AND d.field = t.field
  JOIN fdl l ON l.doc_id = t.doc_id AND l.field = t.field
  JOIN fconsts c ON c.field = t.field
  WHERE (t.term, t.field) IN ({in_list})
)"""


def _q_field_bm25_topk(spark, sf_dir):
    q = "#SUM(" + " ".join(f"{t}.{f}" for t, f in _FIELD_QUERY_PAIRS) + ")"
    return _topk_df(_engine(spark, sf_dir, BM25), q, 100)


_register(
    "field_bm25_topk",
    _q_field_bm25_topk,
    MF_SQL_PRELUDE
    + ","
    + _bm25_field_scores_cte(_FIELD_QUERY_PAIRS)
    + ",\nagg AS (SELECT doc_id, sum(score) AS score FROM scores GROUP BY 1)"
    + _topk_sql(100),
)


# -- Boolean AND / OR ---------------------------------------------------------


def _q_unranked_and_topk(spark, sf_dir):
    return _topk_df(
        _engine(spark, sf_dir, UNRANKED_BOOLEAN), "#AND(spark query)", 50
    )


_register(
    "unranked_and_topk",
    _q_unranked_and_topk,
    SQL_PRELUDE
    + r""",
agg AS (
  SELECT doc_id, CAST(CAST(1.0 AS REAL) AS DOUBLE) AS score
  FROM tfs WHERE term IN ('spark', 'query')
  GROUP BY doc_id HAVING count(*) = 2
)"""
    + _topk_sql(50),
)


def _q_ranked_and(spark, sf_dir):
    return _engine(spark, sf_dir, RANKED_BOOLEAN).scores("#AND(spark query)").select(
        F.col("docid").cast("long").alias("docid"), "score"
    )


_register(
    "ranked_and_scores",
    _q_ranked_and,
    SQL_PRELUDE
    + r"""
SELECT doc_id AS docid, min(CAST(CAST(tf AS REAL) AS DOUBLE)) AS score
FROM tfs WHERE term IN ('spark', 'query')
GROUP BY doc_id HAVING count(*) = 2""",
)


def _q_ranked_or(spark, sf_dir):
    return _engine(spark, sf_dir, RANKED_BOOLEAN).scores(
        "#OR(spark query dup)"
    ).select(F.col("docid").cast("long").alias("docid"), "score")


_register(
    "ranked_or_scores",
    _q_ranked_or,
    SQL_PRELUDE
    + r"""
SELECT doc_id AS docid, max(CAST(CAST(tf AS REAL) AS DOUBLE)) AS score
FROM tfs WHERE term IN ('spark', 'query', 'dup')
GROUP BY doc_id""",
)


# -- SYN ----------------------------------------------------------------------


def _q_syn(spark, sf_dir):
    eng = _engine(spark, sf_dir, RANKED_BOOLEAN)
    from search_engine_spark.engine.compiler import compile_node

    node = compile_node(eng.parse("#SYN(sort merge)").children[0], eng.ctx)
    return node.postings(eng.ctx).select(
        F.col("docid").cast("long").alias("docid"),
        F.col("tf").cast("long").alias("tf"),
        _pos_str(),
    )


_register(
    "syn_postings",
    _q_syn,
    SQL_PRELUDE
    + r"""
SELECT doc_id AS docid, count(*)::BIGINT AS tf,
       array_to_string(list(pos ORDER BY pos), ',') AS pos_str
FROM tok WHERE term IN ('sort', 'merge')
GROUP BY doc_id""",
)


# -- NEAR / WINDOW -----------------------------------------------------------
# The consume-on-match positional walks ARE expressible in SQL as recursive
# CTEs advancing the same cursors the reference advances (QryopIlNear
# .java:99-135 / QryopIlWindow.java:107-149) — one state row per doc per
# step, final state = max cursor sum.


def _il_query(spark, sf_dir, qtext: str):
    eng = _engine(spark, sf_dir, RANKED_BOOLEAN)
    from search_engine_spark.engine.compiler import compile_node

    node = compile_node(eng.parse(qtext).children[0], eng.ctx)
    return node.postings(eng.ctx).select(
        F.col("docid").cast("long").alias("docid"),
        F.col("tf").cast("long").alias("tf"),
        _pos_str(),
    )


_RECURSIVE_PRELUDE = SQL_PRELUDE.replace("WITH ", "WITH RECURSIVE ", 1)


def _near2_walk_ctes(t1: str, t2: str, n: int, sfx: str = "") -> str:
    """CTE chain for the 2-arg #NEAR/n consume walk, ending in
    ``final{sfx}`` (one best-state row per doc). ``sfx`` disambiguates when
    several walks share one WITH RECURSIVE clause (the SDM batch oracle)."""
    return f"""pl{sfx} AS (
  SELECT a.doc_id, a.ps AS pa, b.ps AS pb
  FROM (SELECT doc_id, list(pos ORDER BY pos) AS ps FROM tok WHERE term = '{t1}' GROUP BY 1) a
  JOIN (SELECT doc_id, list(pos ORDER BY pos) AS ps FROM tok WHERE term = '{t2}' GROUP BY 1) b
  USING (doc_id)
),
walk{sfx} AS (
  SELECT doc_id, 1 AS i, 1 AS j, []::BIGINT[] AS matches FROM pl{sfx}
  UNION ALL
  SELECT w.doc_id,
         CASE WHEN p.pb[w.j] <= p.pa[w.i] THEN w.i ELSE w.i + 1 END,
         CASE WHEN p.pb[w.j] <= p.pa[w.i] OR p.pb[w.j] - p.pa[w.i] <= {n}
              THEN w.j + 1 ELSE w.j END,
         CASE WHEN p.pb[w.j] > p.pa[w.i] AND p.pb[w.j] - p.pa[w.i] <= {n}
              THEN list_append(w.matches, p.pa[w.i]) ELSE w.matches END
  FROM walk{sfx} w JOIN pl{sfx} p USING (doc_id)
  WHERE w.i <= len(p.pa) AND w.j <= len(p.pb)
),
final{sfx} AS (
  SELECT doc_id, matches,
         row_number() OVER (PARTITION BY doc_id ORDER BY i + j DESC) AS rn
  FROM walk{sfx}
)"""


def _near2_sql(t1: str, t2: str, n: int) -> str:
    """2-arg #NEAR/n: the two-pointer consume walk — if B[j] <= A[i] advance
    j; elif within distance, match A[i] and consume both; else advance i."""
    return (
        _RECURSIVE_PRELUDE
        + ",\n"
        + _near2_walk_ctes(t1, t2, n)
        + """
SELECT doc_id AS docid, len(matches)::BIGINT AS tf,
       array_to_string(matches, ',') AS pos_str
FROM final WHERE rn = 1 AND len(matches) > 0"""
    )


def _window3_walk_ctes(t1: str, t2: str, t3: str, n: int, sfx: str = "") -> str:
    """CTE chain for the 3-arg #WINDOW/n walk, ending in ``final{sfx}``."""
    mn = "least(p.pa[w.i], p.pb[w.j], p.pc[w.k])"
    mx = "greatest(p.pa[w.i], p.pb[w.j], p.pc[w.k])"
    return f"""pl{sfx} AS (
  SELECT a.doc_id, a.ps AS pa, b.ps AS pb, c.ps AS pc
  FROM (SELECT doc_id, list(pos ORDER BY pos) AS ps FROM tok WHERE term = '{t1}' GROUP BY 1) a
  JOIN (SELECT doc_id, list(pos ORDER BY pos) AS ps FROM tok WHERE term = '{t2}' GROUP BY 1) b USING (doc_id)
  JOIN (SELECT doc_id, list(pos ORDER BY pos) AS ps FROM tok WHERE term = '{t3}' GROUP BY 1) c USING (doc_id)
),
walk{sfx} AS (
  SELECT doc_id, 1 AS i, 1 AS j, 1 AS k, []::BIGINT[] AS matches FROM pl{sfx}
  UNION ALL
  SELECT w.doc_id,
         CASE WHEN {mx} - {mn} + 1 > {n}
              THEN w.i + (CASE WHEN p.pa[w.i] = {mn} THEN 1 ELSE 0 END)
              ELSE w.i + 1 END,
         CASE WHEN {mx} - {mn} + 1 > {n}
              THEN w.j + (CASE WHEN p.pb[w.j] = {mn} THEN 1 ELSE 0 END)
              ELSE w.j + 1 END,
         CASE WHEN {mx} - {mn} + 1 > {n}
              THEN w.k + (CASE WHEN p.pc[w.k] = {mn} THEN 1 ELSE 0 END)
              ELSE w.k + 1 END,
         CASE WHEN {mx} - {mn} + 1 <= {n}
              THEN list_append(w.matches, p.pa[w.i]) ELSE w.matches END
  FROM walk{sfx} w JOIN pl{sfx} p USING (doc_id)
  WHERE w.i <= len(p.pa) AND w.j <= len(p.pb) AND w.k <= len(p.pc)
),
final{sfx} AS (
  SELECT doc_id, matches,
         row_number() OVER (PARTITION BY doc_id ORDER BY i + j + k DESC) AS rn
  FROM walk{sfx}
)"""


def _window3_sql(t1: str, t2: str, t3: str, n: int) -> str:
    """3-arg #WINDOW/n: advance the min-position cursor until
    max-min+1 <= n; on match emit arg0's position and advance all
    (positions are distinct across terms, so the min cursor is unique)."""
    return (
        _RECURSIVE_PRELUDE
        + ",\n"
        + _window3_walk_ctes(t1, t2, t3, n)
        + """
SELECT doc_id AS docid, len(matches)::BIGINT AS tf,
       array_to_string(matches, ',') AS pos_str
FROM final WHERE rn = 1 AND len(matches) > 0"""
    )


_register(
    "near2_postings",
    lambda s, d: _il_query(s, d, "#NEAR/2(fast sort)"),
    _near2_sql("fast", "sort", 2),
)
_register(
    "window8_postings",
    lambda s, d: _il_query(s, d, "#WINDOW/8(key value hash)"),
    _window3_sql("key", "value", "hash", 8),
)


# -- Indri family -------------------------------------------------------------

_INDRI_TERMS = ["spark", "query", "table"]


def _q_indri_and_topk(spark, sf_dir):
    return _topk_df(_engine(spark, sf_dir, INDRI), " ".join(_INDRI_TERMS), 100, f32_out=True)


def _indri_and_sql(terms: list[str], k: int) -> str:
    prod = " * ".join(f"c{i}" for i in range(len(terms)))
    return (
        SQL_PRELUDE
        + ",\n"
        + _indri_join_sql(terms)
        + f",\nagg AS (SELECT doc_id, pow({prod}, (1.0 / {len(terms)})) AS score FROM per)"
        + _topk_sql(k, f32_out=True)
    )


_register("indri_and_topk", _q_indri_and_topk, _indri_and_sql(_INDRI_TERMS, 100))


_WAND_SPEC = [(0.7, "spark"), (0.2, "query"), (0.1, "dup")]


def _q_indri_wand_topk(spark, sf_dir):
    q = "#WAND(" + " ".join(f"{w} {t}" for w, t in _WAND_SPEC) + ")"
    return _topk_df(_engine(spark, sf_dir, INDRI), q, 100, f32_out=True)


def _wand_sql(spec, k: int) -> str:
    terms = [t for _, t in spec]
    W = sum(w for w, _ in spec)
    # score = 1.0 * pow(c0, w0/W) * pow(c1, w1/W) * ... in child order
    prod = "1.0"
    for i, (w, _) in enumerate(spec):
        prod = f"{prod} * pow(c{i}, {w / W!r})"
    return (
        SQL_PRELUDE
        + ",\n"
        + _indri_join_sql(terms)
        + f",\nagg AS (SELECT doc_id, {prod} AS score FROM per)"
        + _topk_sql(k, f32_out=True)
    )


_register("indri_wand_topk", _q_indri_wand_topk, _wand_sql(_WAND_SPEC, 100))


_WSUM_SPEC = [(0.5, "spark"), (0.3, "query"), (0.2, "table")]


def _q_indri_wsum_topk(spark, sf_dir):
    q = "#WSUM(" + " ".join(f"{w} {t}" for w, t in _WSUM_SPEC) + ")"
    return _topk_df(_engine(spark, sf_dir, INDRI), q, 100)


def _wsum_sql(spec, k: int) -> str:
    terms = [t for _, t in spec]
    W = sum(w for w, _ in spec)
    acc = "0.0"
    for i, (w, _) in enumerate(spec):
        acc = f"{acc} + c{i} * {w / W!r}"
    return (
        SQL_PRELUDE
        + ",\n"
        + _indri_join_sql(terms)
        + f",\nagg AS (SELECT doc_id, {acc} AS score FROM per)"
        + _topk_sql(k)
    )


_register("indri_wsum_topk", _q_indri_wsum_topk, _wsum_sql(_WSUM_SPEC, 100))


# -- batched Indri execution (engine/batch.py) --------------------------------
# the Indri full-outer-with-defaults combines over a whole query file; each
# query is bitwise per-query Engine.search
# (tests/test_batch.py::test_mixed_file_matches_per_query).

INDRI_BATCH_QUERY_SET = [
    ("i1", "spark query table", ("and", None, ["spark", "query", "table"])),
    ("i2", "#WAND(0.7 spark 0.2 query 0.1 dup)",
     ("wand", [0.7, 0.2, 0.1], ["spark", "query", "dup"])),
    ("i3", "#WSUM(0.5 spark 0.3 query 0.2 table)",
     ("wsum", [0.5, 0.3, 0.2], ["spark", "query", "table"])),
    ("i4", "dup dup table", ("and", None, ["dup", "dup", "table"])),
]


def _q_indri_batch_topk(spark, sf_dir):
    eng = _engine(spark, sf_dir, INDRI)
    qs = [(qid, text) for qid, text, _ in INDRI_BATCH_QUERY_SET]
    return batch_topk(eng, qs, 100).select(
        "qid", "rank", F.col("docid").cast("long").alias("docid"),
        # pow-based scores: f32-round the REPORTED value on both sides
        # (JVM Math.pow vs DuckDB libm pow differ by 1 ulp; ranking is exact)
        F.col("score").cast("float").cast("double").alias("score"),
    )


def _indri_batch_sql(k: int) -> str:
    parts, sels = [], []
    for j, (qid, _, (kind, weights, terms)) in enumerate(INDRI_BATCH_QUERY_SET):
        sfx = f"_b{j}"
        parts.append(_indri_join_sql(terms, sfx))
        if kind == "and":
            prod = " * ".join(f"c{i}" for i in range(len(terms)))
            expr = f"pow({prod}, (1.0 / {len(terms)}))"
        elif kind == "wand":
            W = sum(weights)
            expr = "1.0"
            for i, w in enumerate(weights):
                expr = f"{expr} * pow(c{i}, {w / W!r})"
        else:
            W = sum(weights)
            expr = "0.0"
            for i, w in enumerate(weights):
                expr = f"{expr} + c{i} * {w / W!r}"
        sels.append(
            f"SELECT '{qid}' AS qid, doc_id, {expr} AS score FROM per{sfx}"
        )
    return (
        SQL_PRELUDE
        + ",\n"
        + ",\n".join(parts)
        + ",\nallq AS (\n  "
        + "\n  UNION ALL ".join(sels)
        + f"""),
ranked AS (
  SELECT qid,
         CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank,
         doc_id AS docid, CAST(CAST(score AS REAL) AS DOUBLE) AS score
  FROM allq)
SELECT qid, rank, docid, score FROM ranked WHERE rank <= {k}"""
    )


_register("indri_batch_topk", _q_indri_batch_topk, _indri_batch_sql(100))


# -- batched Boolean execution (engine/batch.py) ------------------------------

BOOL_BATCH_QUERY_SET = [
    ("b1", "spark query table", ("or", ["spark", "query", "table"])),
    ("b2", "#AND(spark query)", ("and", ["spark", "query"])),
    ("b3", "#OR(dup table)", ("or", ["dup", "table"])),
    ("b4", "#AND(dup dup table)", ("and", ["dup", "table"])),  # dup children
]


def _q_bool_batch_topk(spark, sf_dir):
    eng = _engine(spark, sf_dir, RANKED_BOOLEAN)
    qs = [(qid, text) for qid, text, _ in BOOL_BATCH_QUERY_SET]
    return batch_topk(eng, qs, 100).select(
        "qid", "rank", F.col("docid").cast("long").alias("docid"), "score"
    )


def _bool_batch_sql(k: int) -> str:
    sels = []
    for qid, _, (kind, terms) in BOOL_BATCH_QUERY_SET:
        f32tf = "CAST(CAST(tf AS REAL) AS DOUBLE)"
        if kind == "or":
            sels.append(
                f"SELECT '{qid}' AS qid, doc_id, max({f32tf}) AS score "
                f"FROM tfs WHERE term IN {_sql_in(terms)} GROUP BY doc_id"
            )
        else:
            sels.append(
                f"SELECT '{qid}' AS qid, doc_id, min({f32tf}) AS score "
                f"FROM tfs WHERE term IN {_sql_in(terms)} GROUP BY doc_id "
                f"HAVING count(*) = {len(terms)}"
            )
    return (
        SQL_PRELUDE
        + ",\nallq AS (\n  "
        + "\n  UNION ALL ".join(sels)
        + f"""),
ranked AS (
  SELECT qid,
         CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank,
         doc_id AS docid, score
  FROM allq)
SELECT qid, rank, docid, score FROM ranked WHERE rank <= {k}"""
    )


_register("bool_batch_topk", _q_bool_batch_topk, _bool_batch_sql(100))


# -- multi-field Indri #WSUM ---------------------------------------------------
# the reference's hw3 headline shape ("multi-field #WSUM queries", BASELINE.md):
# each leaf scores against ITS field's ctf/c_len/doclen, and a candidate doc
# missing from a leaf's field list takes that leaf's default score with the
# doc's length IN THAT FIELD (0 when the doc has no tokens there) —
# QryopSlScore.java:141-195 per field, combined by QryopSlWsum.java:56-135.

_MF_WSUM_SPEC = [(0.5, "spark", "body"), (0.3, "de", "lang"), (0.2, "src7", "source")]


def _indri_mf_term_score_sql(term: str, fld: str) -> str:
    mle = (
        f"((SELECT ctf FROM fdfstats WHERE term = '{term}' AND field = '{fld}')"
        f" / (SELECT c_len FROM fconsts WHERE field = '{fld}'))"
    )
    return (
        f"CAST(CAST((1.0 - {_I.lam!r}) * ((t.tf + {_I.mu!r} * {mle}) / (l.doclen + {_I.mu!r}))"
        f" + {_I.lam!r} * {mle} AS REAL) AS DOUBLE)"
    )


def _indri_mf_default_sql(term: str, fld: str, doclen_expr: str) -> str:
    # absent-from-field term -> ctf NULL -> engine treats ctf=0 (mle 0)
    mle = (
        f"(coalesce((SELECT ctf FROM fdfstats WHERE term = '{term}' AND field = '{fld}'), 0)"
        f" / (SELECT c_len FROM fconsts WHERE field = '{fld}'))"
    )
    return (
        f"((1.0 - {_I.lam!r}) * ({_I.mu!r} * {mle}) / ({doclen_expr} + {_I.mu!r})"
        f" + {_I.lam!r} * {mle})"
    )


def _indri_mf_join_sql(pairs: list[tuple[str, str]], sfx: str = "") -> str:
    """Multi-field twin of _indri_join_sql: per-leaf actual scores from the
    leaf's field tables, defaults on the doc's doclen in that field
    (coalesced to 0 for docs with no tokens there — ops.py:483-485).
    ``sfx`` disambiguates CTE names when several queries share one
    statement (the batched oracle)."""
    in_list = ", ".join(f"('{t}', '{f}')" for t, f in pairs)
    cn, pn = f"cands{sfx}", f"per{sfx}"
    cands = f"{cn} AS (SELECT DISTINCT doc_id FROM ftfs WHERE (term, field) IN ({in_list}))"
    ctes = [
        f"""s{sfx}_{i} AS (
  SELECT t.doc_id, {_indri_mf_term_score_sql(t_, f_)} AS s
  FROM ftfs t JOIN fdl l ON l.doc_id = t.doc_id AND l.field = '{f_}'
  WHERE t.term = '{t_}' AND t.field = '{f_}'
)"""
        for i, (t_, f_) in enumerate(pairs)
    ]
    dl_joins = "\n  ".join(
        f"LEFT JOIN (SELECT doc_id, doclen FROM fdl WHERE field = '{f_}') l{i}"
        f" ON l{i}.doc_id = {cn}.doc_id"
        for i, (_, f_) in enumerate(pairs)
    )
    s_joins = "\n  ".join(
        f"LEFT JOIN s{sfx}_{i} ON s{sfx}_{i}.doc_id = {cn}.doc_id"
        for i in range(len(pairs))
    )
    cols = ", ".join(
        f"coalesce(s{sfx}_{i}.s, {_indri_mf_default_sql(t_, f_, f'coalesce(l{i}.doclen, 0)')}) AS c{i}"
        for i, (t_, f_) in enumerate(pairs)
    )
    per = f"""{pn} AS (
  SELECT {cn}.doc_id, {cols}
  FROM {cn}
  {dl_joins}
  {s_joins}
)"""
    return ",\n".join([cands] + ctes + [per])


def _q_indri_wsum_mf_topk(spark, sf_dir):
    q = "#WSUM(" + " ".join(f"{w} {t}.{f}" for w, t, f in _MF_WSUM_SPEC) + ")"
    return _topk_df(_engine(spark, sf_dir, INDRI), q, 100)


def _wsum_mf_sql(spec, k: int) -> str:
    pairs = [(t, f) for _, t, f in spec]
    W = sum(w for w, _, _ in spec)
    acc = "0.0"
    for i, (w, _, _) in enumerate(spec):
        acc = f"{acc} + c{i} * {w / W!r}"
    return (
        MF_SQL_PRELUDE
        + ",\n"
        + _indri_mf_join_sql(pairs)
        + f",\nagg AS (SELECT doc_id, {acc} AS score FROM per)"
        + _topk_sql(k)
    )


_register("indri_wsum_mf_topk", _q_indri_wsum_mf_topk, _wsum_mf_sql(_MF_WSUM_SPEC, 100))


# -- batched MIXED-FIELD Indri execution (engine/batch.py) --------------------
# hw3's multi-field #WSUM headline shape for a whole query file: the driver
# evaluator scores each child with its own field's c_len and the doc's length
# in that field (0 for a doc with no tokens there). Bitwise ≡ per-query
# Engine.search (tests/test_batch.py::test_mixed_file_matches_per_query).

INDRI_MF_BATCH_QUERY_SET = [
    ("m1", "#WSUM(0.5 spark.body 0.3 de.lang 0.2 src7.source)",
     ("wsum", [0.5, 0.3, 0.2],
      [("spark", "body"), ("de", "lang"), ("src7", "source")])),
    ("m2", "#WAND(0.7 query.body 0.2 de.lang 0.1 src7.source)",
     ("wand", [0.7, 0.2, 0.1],
      [("query", "body"), ("de", "lang"), ("src7", "source")])),
    ("m3", "#AND(spark.body de.lang)",
     ("and", None, [("spark", "body"), ("de", "lang")])),
    # absent-in-field leaf: 'query' never appears in lang → ctf=0 default
    ("m4", "#WSUM(0.6 table.body 0.4 query.lang)",
     ("wsum", [0.6, 0.4], [("table", "body"), ("query", "lang")])),
]


def _q_indri_batch_mf_topk(spark, sf_dir):
    eng = _engine(spark, sf_dir, INDRI)
    qs = [(qid, text) for qid, text, _ in INDRI_MF_BATCH_QUERY_SET]
    return batch_topk(eng, qs, 100).select(
        "qid", "rank", F.col("docid").cast("long").alias("docid"),
        # pow-based scores: f32-round the REPORTED value on both sides
        F.col("score").cast("float").cast("double").alias("score"),
    )


def _indri_batch_mf_sql(k: int) -> str:
    parts, sels = [], []
    for j, (qid, _, (kind, weights, pairs)) in enumerate(INDRI_MF_BATCH_QUERY_SET):
        sfx = f"_m{j}"
        parts.append(_indri_mf_join_sql(pairs, sfx))
        if kind == "and":
            prod = " * ".join(f"c{i}" for i in range(len(pairs)))
            expr = f"pow({prod}, (1.0 / {len(pairs)}))"
        elif kind == "wand":
            W = sum(weights)
            expr = "1.0"
            for i, w in enumerate(weights):
                expr = f"{expr} * pow(c{i}, {w / W!r})"
        else:
            W = sum(weights)
            expr = "0.0"
            for i, w in enumerate(weights):
                expr = f"{expr} + c{i} * {w / W!r}"
        sels.append(
            f"SELECT '{qid}' AS qid, doc_id, {expr} AS score FROM per{sfx}"
        )
    return (
        MF_SQL_PRELUDE
        + ",\n"
        + ",\n".join(parts)
        + ",\nallq AS (\n  "
        + "\n  UNION ALL ".join(sels)
        + f"""),
ranked AS (
  SELECT qid,
         CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank,
         doc_id AS docid, CAST(CAST(score AS REAL) AS DOUBLE) AS score
  FROM allq)
SELECT qid, rank, docid, score FROM ranked WHERE rank <= {k}"""
    )


_register("indri_batch_mf_topk", _q_indri_batch_mf_topk, _indri_batch_mf_sql(100))


# -- batched STRUCTURED (SDM) Indri execution (engine/batch.py) ---------------
# the reference hw3 SDM headline shape (#AND over term + #NEAR + #WINDOW
# children, hw3/QryEval/mengyuy-HW3-Report.pdf §3) for a whole query file,
# each query answered by the driver evaluator's positional walks. Oracle:
# per-child recursive-CTE walks (the near2/window3 cursor machines) feeding
# the full-outer Indri combine, with the positional child's ctf as sum(tf)
# over its walked list — the composite-#SCORE stats contract
# (ScoreNode._materialized, QryopSlScore.java:118-130).

SDM_BATCH_QUERY_SET = [
    ("d1", "#AND(spark #NEAR/2(fast sort))",
     ("and", None, [("t", "spark"), ("near", 2, ["fast", "sort"])])),
    ("d2", "#AND(table query #WINDOW/8(key value hash))",
     ("and", None,
      [("t", "table"), ("t", "query"), ("window", 8, ["key", "value", "hash"])])),
    ("d3", "#WAND(0.6 spark 0.4 #NEAR/2(fast sort))",
     ("wand", [0.6, 0.4], [("t", "spark"), ("near", 2, ["fast", "sort"])])),
    ("d4", "#WSUM(0.7 dup 0.3 #WINDOW/8(key value hash))",
     ("wsum", [0.7, 0.3], [("t", "dup"), ("window", 8, ["key", "value", "hash"])])),
    # a #SYN child: il union, ctf = sum of leaf ctfs (QryopIlSyn.java:43-97)
    ("d5", "#AND(spark #SYN(sort merge))",
     ("and", None, [("t", "spark"), ("syn", ["sort", "merge"])])),
]


def _q_sdm_batch_topk(spark, sf_dir):
    eng = _engine(spark, sf_dir, INDRI)
    qs = [(qid, text) for qid, text, _ in SDM_BATCH_QUERY_SET]
    return batch_topk(eng, qs, 100).select(
        "qid", "rank", F.col("docid").cast("long").alias("docid"),
        # pow-based scores: f32-round the REPORTED value on both sides
        F.col("score").cast("float").cast("double").alias("score"),
    )


def _sdm_batch_sql(k: int) -> str:
    walks, parts, sels = [], [], []
    for j, (qid, _, (kind, weights, children)) in enumerate(SDM_BATCH_QUERY_SET):
        sfx = f"_d{j}"
        term_terms = [c[1] for c in children if c[0] == "t"]
        cand_unions = []
        if term_terms:
            cand_unions.append(
                f"SELECT doc_id FROM tfs WHERE term IN {_sql_in(term_terms)}"
            )
        ctes, joins, cols = [], [], []
        for i, c in enumerate(children):
            if c[0] == "t":
                t_ = c[1]
                ctes.append(
                    f"""s{sfx}_{i} AS (
  SELECT t.doc_id, {_indri_term_score_sql(t_)} AS s
  FROM tfs t JOIN dl l USING (doc_id) CROSS JOIN consts c
  WHERE t.term = '{t_}'
)"""
                )
                joins.append(
                    f"LEFT JOIN s{sfx}_{i} ON s{sfx}_{i}.doc_id = cands{sfx}.doc_id"
                )
                cols.append(
                    f"coalesce(s{sfx}_{i}.s, {_indri_default_sql(t_)}) AS c{i}"
                )
            else:
                wsfx = f"{sfx}_{i}"
                if c[0] == "syn":
                    # #SYN: il union — per-doc tf = sum of leaf tfs
                    _, ts = c
                    walks.append(
                        f"pp{wsfx} AS (SELECT doc_id, sum(tf)::BIGINT AS tf "
                        f"FROM tfs WHERE term IN {_sql_in(ts)} GROUP BY doc_id)"
                    )
                else:
                    op, n, ts = c
                    walks.append(
                        _near2_walk_ctes(ts[0], ts[1], n, wsfx)
                        if op == "near"
                        else _window3_walk_ctes(ts[0], ts[1], ts[2], n, wsfx)
                    )
                    walks.append(
                        f"pp{wsfx} AS (SELECT doc_id, len(matches)::BIGINT AS tf "
                        f"FROM final{wsfx} WHERE rn = 1 AND len(matches) > 0)"
                    )
                # composite-#SCORE ctf = sum(tf) over the result list
                ctf = f"(SELECT coalesce(sum(tf), 0)::DOUBLE FROM pp{wsfx})"
                mle = f"({ctf} / c.c_len)"
                actual = (
                    f"CAST(CAST((1.0 - {_I.lam!r}) * ((pp{wsfx}.tf + {_I.mu!r} * {mle})"
                    f" / (l.doclen + {_I.mu!r})) + {_I.lam!r} * {mle} AS REAL) AS DOUBLE)"
                )
                default = (
                    f"((1.0 - {_I.lam!r}) * ({_I.mu!r} * {mle}) / (l.doclen + {_I.mu!r})"
                    f" + {_I.lam!r} * {mle})"
                )
                joins.append(
                    f"LEFT JOIN pp{wsfx} ON pp{wsfx}.doc_id = cands{sfx}.doc_id"
                )
                cols.append(f"coalesce({actual}, {default}) AS c{i}")
                cand_unions.append(f"SELECT doc_id FROM pp{wsfx}")
        cands = (
            f"cands{sfx} AS (SELECT DISTINCT doc_id FROM (\n  "
            + "\n  UNION ALL ".join(cand_unions)
            + "\n))"
        )
        per = (
            f"per{sfx} AS (\n  SELECT cands{sfx}.doc_id, "
            + ", ".join(cols)
            + f"\n  FROM cands{sfx}\n  JOIN dl l ON l.doc_id = cands{sfx}.doc_id"
            + "\n  CROSS JOIN consts c\n  "
            + "\n  ".join(joins)
            + "\n)"
        )
        parts.append(",\n".join([cands] + ctes + [per]))
        if kind == "and":
            prod = " * ".join(f"c{i}" for i in range(len(children)))
            expr = f"pow({prod}, (1.0 / {len(children)}))"
        elif kind == "wand":
            W = sum(weights)
            expr = "1.0"
            for i, w in enumerate(weights):
                expr = f"{expr} * pow(c{i}, {w / W!r})"
        else:
            W = sum(weights)
            expr = "0.0"
            for i, w in enumerate(weights):
                expr = f"{expr} + c{i} * {w / W!r}"
        sels.append(
            f"SELECT '{qid}' AS qid, doc_id, {expr} AS score FROM per{sfx}"
        )
    return (
        _RECURSIVE_PRELUDE
        + ",\n"
        + ",\n".join(walks + parts)
        + ",\nallq AS (\n  "
        + "\n  UNION ALL ".join(sels)
        + f"""),
ranked AS (
  SELECT qid,
         CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank,
         doc_id AS docid, CAST(CAST(score AS REAL) AS DOUBLE) AS score
  FROM allq)
SELECT qid, rank, docid, score FROM ranked WHERE rank <= {k}"""
    )


_register("sdm_batch_topk", _q_sdm_batch_topk, _sdm_batch_sql(100))


# -- batched STRUCTURED BM25 #SUM (engine/batch.py) ---------------------------
# the hw2 structured-BM25 shape: #SUM over term + positional children, each
# positional child scored as a BM25 "term" whose df/tf come from its walked
# inverted list (ScoreNode._materialized over a composite,
# QryopSlScore.java:103-139 with the list's stats). Duplicate term children
# contribute once per occurrence (one SELECT each in the oracle).

SDM_BM25_BATCH_QUERY_SET = [
    ("e1", "#SUM(spark #NEAR/2(fast sort))",
     [("t", "spark"), ("near", 2, ["fast", "sort"])]),
    ("e2", "table query #WINDOW/8(key value hash)",
     [("t", "table"), ("t", "query"), ("window", 8, ["key", "value", "hash"])]),
    ("e3", "#SUM(dup #NEAR/2(fast sort))",
     [("t", "dup"), ("near", 2, ["fast", "sort"])]),
    ("e4", "#SUM(spark spark #WINDOW/8(key value hash))",
     [("t", "spark"), ("t", "spark"), ("window", 8, ["key", "value", "hash"])]),
    # #SYN child under BM25: df = the union's doc count
    ("e5", "#SUM(dup #SYN(sort merge))",
     [("t", "dup"), ("syn", ["sort", "merge"])]),
]


def _q_sdm_bm25_batch_topk(spark, sf_dir):
    eng = _engine(spark, sf_dir, BM25)
    qs = [(qid, text) for qid, text, _ in SDM_BM25_BATCH_QUERY_SET]
    return batch_topk(eng, qs, 100).select(
        "qid", "rank", F.col("docid").cast("long").alias("docid"), "score"
    )


def _sdm_bm25_term_score_sql(term: str) -> str:
    df = f"(SELECT df FROM dfstats WHERE term = '{term}')"
    return (
        f"CAST(CAST(greatest(0.0, ln((c.n_docs - {df} + 0.5) / ({df} + 0.5)))"
        f" * (t.tf / (t.tf + {_B.k1!r} * ({1.0 - _B.b!r} + {_B.b!r} * l.doclen / c.avgdl)))"
        f" AS REAL) AS DOUBLE)"
    )


def _sdm_bm25_batch_sql(k: int) -> str:
    walks, sels = [], []
    for j, (qid, _, children) in enumerate(SDM_BM25_BATCH_QUERY_SET):
        sfx = f"_e{j}"
        parts = []
        for i, c in enumerate(children):
            if c[0] == "t":
                t_ = c[1]
                parts.append(
                    f"SELECT t.doc_id, {_sdm_bm25_term_score_sql(t_)} AS score\n"
                    f"  FROM tfs t JOIN dl l USING (doc_id) CROSS JOIN consts c"
                    f" WHERE t.term = '{t_}'"
                )
            else:
                wsfx = f"{sfx}_{i}"
                if c[0] == "syn":
                    _, ts = c
                    walks.append(
                        f"pp{wsfx} AS (SELECT doc_id, sum(tf)::BIGINT AS tf "
                        f"FROM tfs WHERE term IN {_sql_in(ts)} GROUP BY doc_id)"
                    )
                else:
                    op, n, ts = c
                    walks.append(
                        _near2_walk_ctes(ts[0], ts[1], n, wsfx)
                        if op == "near"
                        else _window3_walk_ctes(ts[0], ts[1], ts[2], n, wsfx)
                    )
                    walks.append(
                        f"pp{wsfx} AS (SELECT doc_id, len(matches)::BIGINT AS tf "
                        f"FROM final{wsfx} WHERE rn = 1 AND len(matches) > 0)"
                    )
                # composite-#SCORE df = the result list's doc count
                df = f"(SELECT count(*) FROM pp{wsfx})"
                parts.append(
                    f"SELECT pp.doc_id, "
                    f"CAST(CAST(greatest(0.0, ln((c.n_docs - {df} + 0.5) / ({df} + 0.5)))"
                    f" * (pp.tf / (pp.tf + {_B.k1!r} * ({1.0 - _B.b!r} + {_B.b!r} * l.doclen / c.avgdl)))"
                    f" AS REAL) AS DOUBLE) AS score\n"
                    f"  FROM pp{wsfx} pp JOIN dl l USING (doc_id) CROSS JOIN consts c"
                )
        sels.append(
            f"SELECT '{qid}' AS qid, doc_id, sum(score) AS score FROM (\n  "
            + "\n  UNION ALL ".join(parts)
            + "\n) GROUP BY doc_id"
        )
    return (
        _RECURSIVE_PRELUDE
        + ",\n"
        + ",\n".join(walks)
        + ",\nallq AS (\n  "
        + "\n  UNION ALL ".join(sels)
        + f"""),
ranked AS (
  SELECT qid,
         CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank,
         doc_id AS docid, score
  FROM allq)
SELECT qid, rank, docid, score FROM ranked WHERE rank <= {k}"""
    )


_register(
    "sdm_bm25_batch_topk", _q_sdm_bm25_batch_topk, _sdm_bm25_batch_sql(100)
)


# -- PRF expansion (two-round) ------------------------------------------------

_PRF_W_QUERY = "spark query table"


def _q_prf_topk(spark, sf_dir):
    from search_engine_spark.engine.expand import FbParams, search_expanded

    eng = _engine(spark, sf_dir, INDRI)
    res, _learned, _exp = search_expanded(
        eng, "spark query table", FbParams(fb_docs=5, fb_terms=8, fb_mu=0.0,
                                           fb_orig_weight=0.5), k=50
    )
    return res.select(
        "rank", F.col("docid").cast("long").alias("docid"),
        F.col("score").cast("float").cast("double").alias("score"),
    )


def _prf_expanded_sql() -> str:
    """Full two-round PRF twin (QryEval.java:765-951): Indri #AND top-5 →
    RM weights → top-8 cut → %.4f-formatted learned #WAND → re-evaluate
    ``#WAND ( 0.5 #AND(orig) 0.5 learned )``.

    Bitwise-stability design: every float accumulation that crosses rows is
    either order-safe (MAX over disjoint slots) or an EXPLICITLY
    parenthesized left-associative fold over rank-pivoted slot columns —
    the exact order the engine now folds in (engine/expand.py accumulates
    in feedback-rank order, like the reference's ranking walk; the parser
    sums #WAND weights in parse order). %.4f weight formatting maps to
    DuckDB printf (both correctly-rounded). pow() ulp skew between engines
    is absorbed by the f32 output cast, same as every Indri oracle."""
    terms = _PRF_W_QUERY.split()
    n = len(terms)
    fbd, fbt, w_orig, k = 5, 8, 0.5, 50
    mu, lam = _I.mu, _I.lam

    # contains(t) = ((((x1+x2)+x3)+x4)+x5, x_r = tf(t, doc@rank r)·w_r or 0.0
    x_slots = ",\n         ".join(
        f"coalesce(MAX(CASE WHEN f.rnk = {r} THEN t.tf * f.w END), 0.0) AS x{r}"
        for r in range(1, fbd + 1)
    )
    contains = "x1"
    for r in range(2, fbd + 1):
        contains = f"({contains} + x{r})"

    # learned-term slots by weight rank (trnk 1 = best); parse order of the
    # learned #WAND is ASCENDING weight -> slot fbt first everywhere below
    ls_slots = ", ".join(
        f"MAX(CASE WHEN trnk = {r} THEN s END) AS ls{r}" for r in range(1, fbt + 1)
    )
    wp_slots = ", ".join(
        f"MAX(CASE WHEN trnk = {r} THEN wp END) AS w{r}" for r in range(1, fbt + 1)
    )
    wtot = f"w{fbt}"
    for r in range(fbt - 1, 0, -1):
        wtot = f"({wtot} + w{r})"
    wand_prod = "1.0"
    for r in range(fbt, 0, -1):
        wand_prod = f"{wand_prod} * pow(l.ls{r}, (w.w{r} / w.wtot))"

    prod3 = " * ".join(f"c{i}" for i in range(n))
    orig_cols = ",\n         ".join(
        f"coalesce(s{i}.s, {_indri_default_sql(t)}) AS c{i}"
        for i, t in enumerate(terms)
    )
    orig_joins = "\n  ".join(
        f"LEFT JOIN s{i} ON s{i}.doc_id = a.doc_id" for i in range(n)
    )

    return (
        SQL_PRELUDE
        + ",\n"
        + _indri_join_sql(terms)
        + f""",
agg1 AS (SELECT doc_id, pow({prod3}, (1.0 / {n})) AS score FROM per),
top5 AS (SELECT doc_id, score,
                row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rnk
         FROM agg1 ORDER BY score DESC, doc_id ASC LIMIT {fbd}),
fbw AS (SELECT t5.doc_id, t5.rnk, t5.score / (l.doclen + {0.0!r}) AS w
        FROM top5 t5 JOIN dl l USING (doc_id)),
cpiv AS (
  SELECT t.term,
         {x_slots}
  FROM tfs t JOIN fbw f USING (doc_id)
  WHERE NOT regexp_matches(t.term, '[.,]')
  GROUP BY 1),
wts AS (SELECT term, {contains} * ln(1.0 / (d.ctf / c.c_len)) AS wraw
        FROM cpiv JOIN dfstats d USING (term) CROSS JOIN consts c),
top8 AS (SELECT term, wraw, CAST(printf('%.4f', wraw) AS DOUBLE) AS wp,
                row_number() OVER (ORDER BY wraw DESC, term ASC) AS trnk
         FROM wts ORDER BY wraw DESC, term ASC LIMIT {fbt}),
lstat AS (SELECT t8.trnk, t8.term, t8.wp, (d.ctf / c.c_len) AS mle
          FROM top8 t8 JOIN dfstats d USING (term) CROSS JOIN consts c),
lcand AS (SELECT DISTINCT doc_id FROM tfs WHERE term IN (SELECT term FROM top8)),
allc AS (SELECT doc_id FROM cands UNION SELECT doc_id FROM lcand),
lcell AS (
  SELECT a.doc_id, ls.trnk,
         CASE WHEN t.tf IS NOT NULL THEN
           CAST(CAST((1.0 - {lam!r}) * ((t.tf + {mu!r} * ls.mle) / (l.doclen + {mu!r}))
                + {lam!r} * ls.mle AS REAL) AS DOUBLE)
         ELSE
           ((1.0 - {lam!r}) * ({mu!r} * ls.mle) / (l.doclen + {mu!r}) + {lam!r} * ls.mle)
         END AS s
  FROM allc a
  CROSS JOIN lstat ls
  JOIN dl l ON l.doc_id = a.doc_id
  LEFT JOIN tfs t ON t.doc_id = a.doc_id AND t.term = ls.term),
lpiv AS (SELECT doc_id, {ls_slots} FROM lcell GROUP BY 1),
wconst AS (SELECT {wp_slots} FROM top8),
w2c AS (SELECT *, {wtot} AS wtot FROM wconst),
oper AS (
  SELECT a.doc_id,
         {orig_cols}
  FROM allc a
  JOIN dl l ON l.doc_id = a.doc_id
  CROSS JOIN consts c
  {orig_joins}),
agg AS (
  SELECT p.doc_id,
         1.0 * pow(pow({" * ".join(f"p.c{i}" for i in range(n))}, (1.0 / {n})), ({w_orig!r} / 1.0))
             * pow({wand_prod}, ({1.0 - w_orig!r} / 1.0)) AS score
  FROM oper p JOIN lpiv l USING (doc_id) CROSS JOIN w2c w)"""
        + _topk_sql(k, f32_out=True)
    )


_register("prf_expanded_topk", _q_prf_topk, _prf_expanded_sql())


def _q_prf_term_weights(spark, sf_dir):
    """ALL candidate RM term weights for the BM25 top-5 of the query —
    QryEval.java:851-901's aggregation without the :907 cut. BM25 initial
    scores are f32-per-term (bitwise SQL-reproducible); the weight output is
    f32-rounded to absorb sub-ulp aggregation-order noise in the two sums."""
    from search_engine_spark.engine.expand import FbParams, rm_term_weights

    eng = _engine(spark, sf_dir, BM25)
    ws = rm_term_weights(
        eng, _PRF_W_QUERY, FbParams(fb_docs=5, fb_terms=8, fb_mu=3.0,
                                    fb_orig_weight=0.5)
    )
    import numpy as np

    return spark.createDataFrame(
        [(t, float(np.float32(w))) for t, w in ws], "term string, weight double"
    )


def _prf_weights_sql() -> str:
    terms = _PRF_W_QUERY.split()
    mu = 3.0
    return (
        SQL_PRELUDE
        + ","
        + _bm25_scores_cte(terms)
        + f""",
agg AS (SELECT doc_id, sum(score) AS score FROM scores GROUP BY 1),
top5 AS (SELECT doc_id, score FROM agg ORDER BY score DESC, doc_id ASC LIMIT 5),
wts AS (SELECT t5.doc_id, t5.score / (l.doclen + {mu!r}) AS w
        FROM top5 t5 JOIN dl l USING (doc_id)),
sdef AS (SELECT sum(w) AS s FROM wts),
cand AS (
  SELECT t.term, sum(t.tf * w.w) AS contains
  FROM tfs t JOIN wts w USING (doc_id)
  WHERE NOT regexp_matches(t.term, '[.,]')
  GROUP BY 1
)
SELECT term,
       CAST(CAST(
         contains * ln(1.0 / (d.ctf / c.c_len))
         + ({mu!r} * (d.ctf / c.c_len)) * (SELECT s FROM sdef) * ln(1.0 / (d.ctf / c.c_len))
       AS REAL) AS DOUBLE) AS weight
FROM cand JOIN dfstats d USING (term) CROSS JOIN consts c"""
    )


_register("prf_term_weights", _q_prf_term_weights, _prf_weights_sql())


# -- stats tables -------------------------------------------------------------


def _q_term_stats(spark, sf_dir):
    idx = load_documents_index(spark, sf_dir)
    return idx.term_stats.where(F.col("field") == "body").select(
        "term", F.col("df").cast("long").alias("df"), F.col("ctf").cast("long").alias("ctf")
    )


_register(
    "term_stats_all",
    _q_term_stats,
    SQL_PRELUDE + "\nSELECT term, df, ctf FROM dfstats",
)


def _q_doc_stats(spark, sf_dir):
    idx = load_documents_index(spark, sf_dir)
    return idx.doc_stats.where(F.col("field") == "body").select(
        F.col("docid").cast("long").alias("docid"),
        F.col("doclen").cast("long").alias("doclen"),
    )


_register(
    "doc_stats_all",
    _q_doc_stats,
    SQL_PRELUDE + "\nSELECT doc_id AS docid, doclen FROM dl",
)


# -- live-docs deletes (SURVEY.md §2.2 P3; index/deletes.py) -----------------
# Lucene contract the reference inherits: deleted docs vanish from every
# scan and N (QryopSlScore.java:118, numDocs) goes live, while df/ctf/avgdl
# stay stale until compaction. The oracle mirrors exactly that: dfstats/avgdl
# over the FULL corpus, candidate docs and N restricted to the live set.


def _q_deleted_doc_stats(spark, sf_dir):
    idx = load_deleted_documents_index(spark, sf_dir)
    return idx.doc_stats.where(F.col("field") == "body").select(
        F.col("docid").cast("long").alias("docid"),
        F.col("doclen").cast("long").alias("doclen"),
    )


_register(
    "deleted_doc_stats",
    _q_deleted_doc_stats,
    SQL_PRELUDE
    + f"\nSELECT doc_id AS docid, doclen FROM dl"
    f" WHERE doc_id % {DELETE_MOD} <> {DELETE_REM}",
)


def _bm25_scores_cte_deleted(terms: list[str]) -> str:
    """BM25 scores CTE under tombstones: stale df/avgdl, live N, live docs."""
    return f"""
lconsts AS (
  SELECT (SELECT count(*) FROM documents
          WHERE doc_id % {DELETE_MOD} <> {DELETE_REM})::DOUBLE AS n_docs,
         (SELECT avgdl FROM consts) AS avgdl
),
scores AS (
  SELECT t.doc_id,
         CAST(CAST(
           greatest(0.0, ln((c.n_docs - d.df + 0.5) / (d.df + 0.5)))
           * (t.tf / (t.tf + {_B.k1!r} * ({1.0 - _B.b!r} + {_B.b!r} * l.doclen / c.avgdl)))
         AS REAL) AS DOUBLE) AS score
  FROM tfs t
  JOIN dfstats d USING (term)
  JOIN dl l USING (doc_id)
  CROSS JOIN lconsts c
  WHERE t.term IN {_sql_in(terms)}
    AND t.doc_id % {DELETE_MOD} <> {DELETE_REM}
)"""


def _q_bm25_topk_deleted(spark, sf_dir):
    eng = Engine(
        load_deleted_documents_index(spark, sf_dir), ModelConfig(name=BM25)
    )
    return _topk_df(eng, " ".join(FLAGSHIP_TERMS), 100)


_register(
    "bm25_topk_after_delete",
    _q_bm25_topk_deleted,
    SQL_PRELUDE
    + ","
    + _bm25_scores_cte_deleted(FLAGSHIP_TERMS)
    + ",\nagg AS (SELECT doc_id, sum(score) AS score FROM scores GROUP BY 1)"
    + _topk_sql(100),
)


# -- compaction (index/compact.py): purge tombstones, refresh stats ----------
# after compaction the index must equal a fresh build over the LIVE docs, so
# the oracle is the standard prelude restricted to live documents everywhere
# (df/ctf/avgdl/N all fresh — the stale-stats contract ends at the merge,
# exactly like a Lucene segment merge)

SQL_PRELUDE_LIVE = SQL_PRELUDE.replace(
    "FROM documents", f"FROM documents WHERE doc_id % {DELETE_MOD} <> {DELETE_REM}"
)


def _q_compacted_term_stats(spark, sf_dir):
    idx = load_compacted_documents_index(spark, sf_dir)
    return idx.term_stats.where(F.col("field") == "body").select(
        "term", F.col("df").cast("long").alias("df"),
        F.col("ctf").cast("long").alias("ctf"),
    )


_register(
    "compacted_term_stats",
    _q_compacted_term_stats,
    SQL_PRELUDE_LIVE + "\nSELECT term, df, ctf FROM dfstats",
)


def _q_bm25_topk_compacted(spark, sf_dir):
    eng = Engine(
        load_compacted_documents_index(spark, sf_dir), ModelConfig(name=BM25)
    )
    return _topk_df(eng, " ".join(FLAGSHIP_TERMS), 100)


_register(
    "bm25_topk_after_compact",
    _q_bm25_topk_compacted,
    SQL_PRELUDE_LIVE
    + ","
    + _bm25_scores_cte(FLAGSHIP_TERMS)
    + ",\nagg AS (SELECT doc_id, sum(score) AS score FROM scores GROUP BY 1)"
    + _topk_sql(100),
)


def _q_corpus_stats(spark, sf_dir):
    idx = load_documents_index(spark, sf_dir)
    st = idx.corpus.by_field["body"]
    return spark.createDataFrame(
        [(idx.corpus.n_docs, st["n_docs"], st["sum_doclen"], st["avgdl"])],
        "n_docs bigint, n_docs_field bigint, sum_doclen bigint, avgdl double",
    )


_register(
    "corpus_stats",
    _q_corpus_stats,
    SQL_PRELUDE
    + r"""
SELECT (SELECT count(*) FROM documents)::BIGINT AS n_docs,
       count(*)::BIGINT AS n_docs_field,
       sum(doclen)::BIGINT AS sum_doclen,
       sum(doclen)::DOUBLE / count(*) AS avgdl
FROM dl""",
)


# -- prospective (continuous) search -----------------------------------------
# streaming/match.py's per-micro-batch matcher evaluated as a batch over the
# documents table: stored BM25 BOW queries scored against every document with
# the index snapshot's stats. Same formula as bm25_sum (float32 per-term
# scores), so the DuckDB twin is bitwise.

_PROSPECTIVE_QUERIES = [
    ("q1", "spark query"),
    ("q2", "table dup"),
    ("q3", "spark nosuchtermxyz"),  # unknown term drops (df>=1 guard)
]


def _q_prospective_match(spark, sf_dir):
    from search_engine_spark.streaming.match import match_docs, query_term_table

    idx = load_documents_index(spark, sf_dir)
    qt = query_term_table(idx, _PROSPECTIVE_QUERIES, WHITESPACE_TOKENIZER)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("ext_docid"), "text"
    )
    return match_docs(
        docs, qt, idx, field="body", source_col="text",
        tokenizer=WHITESPACE_TOKENIZER,
    ).select("qid", F.col("ext_docid").cast("long").alias("docid"), "score")


_register(
    "prospective_match",
    _q_prospective_match,
    SQL_PRELUDE
    + f""",
qterms(qid, term) AS (VALUES
  ('q1','spark'), ('q1','query'), ('q2','table'), ('q2','dup'),
  ('q3','spark'), ('q3','nosuchtermxyz')),
pscores AS (
  SELECT q.qid, t.doc_id,
         CAST(CAST(
           greatest(0.0, ln((c.n_docs - d.df + 0.5) / (d.df + 0.5)))
           * (t.tf / (t.tf + {_B.k1!r} * ({1.0 - _B.b!r} + {_B.b!r} * l.doclen / c.avgdl)))
         AS REAL) AS DOUBLE) AS score
  FROM qterms q
  JOIN tfs t USING (term)
  JOIN dfstats d USING (term)
  JOIN dl l USING (doc_id)
  CROSS JOIN consts c
)
SELECT qid, doc_id AS docid, sum(score) AS score
FROM pscores GROUP BY 1, 2 HAVING sum(score) > 0""",
)


def all_queries() -> dict:
    from search_engine_spark import driver_queries_letor as dql
    from search_engine_spark import driver_queries_pipeline as dqp

    return dict(_QUERIES, **dqp.QUERIES, **dql.QUERIES)


def all_oracles() -> dict:
    from search_engine_spark import driver_queries_letor as dql
    from search_engine_spark import driver_queries_pipeline as dqp

    return dict(_ORACLES, **dqp.ORACLES, **dql.ORACLES)
