"""Batched multi-query execution: a whole query FILE answered as one frame.

The reference answers a query file one query at a time
(hw5/QryEval/QryEval.java:670-709), and so does ``batch_topk``: each query
takes ``Engine.search``'s own route, so its rows are bitwise what
``Engine.search`` returns, and every query's ≤k rows go into one
Arrow-built local relation. Under the driver gate
(``pruning._POSTS_PER_TASK``) the driver evaluator
(``structured.struct_topk``) answers every BM25, Indri and Boolean root,
flat or structured, in one field or several, with no Spark job; past it a
flat single-field BM25/Indri query takes the block-max planner and anything
else the exact plan. A file the driver evaluator answers whole runs no
Spark job, and collecting the answer runs none either. A query that does
not compile under the model raises its error; ``split_batchable`` sets such
queries aside first.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from search_engine_spark.config import TOP_K
from search_engine_spark.engine.compiler import compile_node
from search_engine_spark.engine.runner import Engine
from search_engine_spark.engine.topk import _TOPK_SCHEMA

_BATCH_SCHEMA = T.StructType(
    [T.StructField("qid", T.StringType()), *_TOPK_SCHEMA.fields]
)


def split_batchable(
    eng: Engine, queries: list[tuple[str, str]]
) -> tuple[list[tuple[str, str]], list[tuple[str, str]]]:
    """Partition a query file into (batchable, residual) for ``batch_topk``
    under ``eng``'s model: the queries that compile, and the ones that do
    not (``#AND`` under BM25, say), which a caller answers or reports one by
    one (jobs/run_queries.py --batch) instead of rejecting the whole
    file."""
    good, rest = [], []
    for qid, text in queries:
        try:
            compile_node(eng.parse(text), eng.ctx, eng.default_field)
        except ValueError:
            rest.append((qid, text))
            continue
        good.append((qid, text))
    return good, rest


def batch_topk(
    eng: Engine, queries: list[tuple[str, str]], k: int = TOP_K
) -> DataFrame:
    """[(qid, text)] -> (qid, rank, docid, ext_docid, score), top-k per qid:
    each query's ``Engine.search`` rows, in one local relation. A query with
    no matching term simply has no rows (the TREC dummy row is the sink's
    job, topk.trec_lines)."""
    rows = []
    for qid, text in queries:
        rows += [(qid, *r) for r in eng.search(text, k).collect()]
    cols = list(zip(*rows)) or [()] * len(_BATCH_SCHEMA)
    return eng.index.spark.createDataFrame(
        pa.table(
            dict(zip(_BATCH_SCHEMA.names, map(list, cols))),
            schema=to_arrow_schema(_BATCH_SCHEMA),
        ),
        _BATCH_SCHEMA,
    )
