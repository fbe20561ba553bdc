"""Prospective (continuous) search: stored queries matched against ARRIVING
documents — the streaming dual of retrieval. The reference is batch-only
(SURVEY.md §2.12); this is the Spark-native extension a live ingest pipeline
needs: "alert me when a document matching my query lands", evaluated per
micro-batch without touching the indexed history.

Semantics: flat bag-of-words BM25 (the reference's default #SUM shape,
hw3 QryopSlScore.java:103-139 — same formula, same float32 cast, via
`engine.score.bm25_score`). Collection statistics (df, N, avgdl) come from a
SNAPSHOT of an existing index — the standard prospective-search design:
scores are comparable with the batch engine's to the extent the snapshot is
fresh, and a term unknown to the snapshot contributes nothing (the df>=1
guard, SURVEY §2.2 P2). On the same corpus the snapshot was built from, the
matcher's scores equal the batch engine's BM25 #SUM scores exactly
(tests/test_streaming_match.py).

Plan shape (per micro-batch, all JVM-side):
    arriving docs -> tokenize (JVM split/posexplode) -> per-doc tf
      -> BROADCAST hash join with the tiny (qid, term, df) query table
      -> per-posting BM25 expression -> one partial+final hash agg
No shuffle of the document side beyond the (ext_docid, term) tf aggregation;
the query table rides a broadcast. At 100 TB/day arrival volume this is a
map-mostly pipeline whose width is the arrival rate, not the corpus size.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from search_engine_spark.config import BM25Params
from search_engine_spark.engine.score import bm25_score
from search_engine_spark.index.persist import PackedIndex
from search_engine_spark.tokenize import Tokenizer


def tokenize_field(
    docs: DataFrame, field: str, source_col: str, tokenizer: Tokenizer
) -> DataFrame:
    """arriving docs -> (ext_docid, field, doclen, pos, term), one row per
    token occurrence. Tokenization is a JVM split/lower/filter expression;
    posexplode assigns 0-based positions. No Python in the loop; keyed by
    ext_docid — arriving docs have no internal id yet."""
    toks = tokenizer.tokens_col(F.col(source_col))
    # two selects: the token ARRAY is materialized once as a column, then
    # size+explode reference that attribute. Referencing the raw expression
    # twice in one select invites per-output-row recomputation of the split
    # inside the generator (quadratic in doc length — observed as a 20x
    # stall at 2k-token docs).
    return docs.select("ext_docid", toks.alias("_toks")).select(
        "ext_docid",
        F.lit(field).alias("field"),
        # doclen = token count BEFORE the explode: rides every token row
        # for free — no later shuffle/window/join to recover it
        F.size("_toks").cast("long").alias("doclen"),
        F.posexplode("_toks").alias("pos", "term"),
    )


def query_term_table(
    index: PackedIndex,
    queries: list[tuple[str, str]],
    tokenizer: Tokenizer,
    field: str = "body",
) -> DataFrame:
    """[(qid, text)] -> small (qid, term, field, df) DataFrame: each query's
    BOW tokens (occurrences kept — a repeated query term contributes once
    per occurrence, as in the engine's #SUM) joined to the index's term
    stats. Terms the snapshot has never seen are dropped (df>=1 guard)."""
    rows = [
        (qid, t, field)
        for qid, text in queries
        for t in tokenizer.tokenize(text)
    ]
    spark = index.term_stats.sparkSession
    qt = spark.createDataFrame(rows, "qid string, term string, field string")
    stats = index.term_stats.select("term", "field", "df")
    return qt.join(stats, ["term", "field"])


def match_docs(
    docs: DataFrame,
    query_terms: DataFrame,
    index: PackedIndex,
    field: str = "body",
    source_col: str = "content",
    tokenizer: Tokenizer | None = None,
    params: BM25Params = BM25Params(),
    min_score: float = 0.0,
) -> DataFrame:
    """Arriving documents (any DataFrame with repo/path/commit + source_col,
    or a precomputed ext_docid) -> (qid, ext_docid, score) for every
    (stored query, document) pair with score > min_score."""
    tokenizer = tokenizer or index_tokenizer_required()
    if "ext_docid" not in docs.columns:
        docs = docs.withColumn(
            "ext_docid",
            F.concat_ws(
                "", F.col("repo"), F.lit(":"), F.col("path"), F.lit("@"),
                F.col("commit"),
            ),
        )
    tf = (
        tokenize_field(docs, field, source_col, tokenizer)
        .groupBy("ext_docid", "field", "term")
        .agg(F.count(F.lit(1)).cast("int").alias("tf"),
             F.min("doclen").alias("doclen"))
    )
    scored = tf.join(F.broadcast(query_terms), ["term", "field"]).select(
        "qid",
        "ext_docid",
        bm25_score(
            n_docs=index.corpus.n_docs,
            df=F.col("df"),
            avgdl=index.corpus.avgdl(field),
            p=params,
        ).alias("s"),
    )
    return (
        scored.groupBy("qid", "ext_docid")
        .agg(F.sum("s").alias("score"))
        .where(F.col("score") > min_score)
    )


def index_tokenizer_required() -> Tokenizer:
    raise ValueError(
        "pass the tokenizer the index was built with — doc/query twin "
        "tokenization (SURVEY §2.8 F1) is load-bearing for score parity"
    )


def stream_matches(
    spark: SparkSession,
    input_path: str,
    index: PackedIndex,
    queries: list[tuple[str, str]],
    out_path: str,
    tokenizer: Tokenizer,
    field: str = "body",
    source_col: str = "content",
    schema=None,
    params: BM25Params = BM25Params(),
    min_score: float = 0.0,
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int | None = None,
):
    """Tail ``input_path`` for arriving document files and write the match
    stream to ``out_path/matches/batch=<id>/`` (same idempotent-overwrite
    exactly-once contract as streaming ingest: a replayed micro-batch
    rewrites only its own directory). availableNow trigger: each invocation
    drains files that arrived since the last one."""
    from search_engine_spark.corpus import CODE_DOC_SCHEMA

    query_terms = query_term_table(index, queries, tokenizer, field).cache()
    query_terms.count()

    def one_batch(batch_df: DataFrame, batch_id: int) -> None:
        match_docs(
            batch_df, query_terms, index, field, source_col, tokenizer,
            params, min_score,
        ).write.mode("overwrite").parquet(f"{out_path}/matches/batch={batch_id}")

    checkpoint_dir = checkpoint_dir or os.path.join(out_path, "_match_checkpoint")
    reader = spark.readStream.schema(schema or CODE_DOC_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    q = (
        reader.parquet(input_path)
        .writeStream.foreachBatch(one_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        # one invocation per drain is the intended usage — don't pin a
        # cached query-term copy per call until session end
        query_terms.unpersist()
    return q


def read_matches(spark: SparkSession, out_path: str) -> DataFrame:
    """All matches emitted so far, with their micro-batch id."""
    return spark.read.parquet(f"{out_path}/matches").select(
        "qid", "ext_docid", "score", "batch"
    )
