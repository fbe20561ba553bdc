"""Shared fixtures: one local SparkSession, the deterministic code corpus,
and the built index over it (fields: body=content, path=path, lang=lang)."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from search_engine_spark.corpus import code_corpus_df, with_docids  # noqa: E402
from search_engine_spark.index.build import build_index  # noqa: E402
from search_engine_spark.session import get_spark  # noqa: E402
from search_engine_spark.tokenize import CODE_TOKENIZER  # noqa: E402

N_FILES = 120
SEED = 42
FIELDS = {"body": "content", "path": "path", "lang": "lang"}


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cores=4, shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def code_docs(spark):
    df = with_docids(code_corpus_df(spark, N_FILES, SEED)).cache()
    df.count()
    return df


@pytest.fixture(scope="session")
def code_index(spark, code_docs):
    idx = build_index(
        spark, code_docs, fields=FIELDS, tokenizer=CODE_TOKENIZER
    )
    # materialize the cached tables once; every query reuses them
    idx.doc_terms.count()
    idx.doc_stats.count()
    idx.term_stats.count()
    return idx


@pytest.fixture(scope="session")
def py_oracle(code_docs):
    from tests.oracle import PyOracle

    rows = [
        (r["docid"], r["ext_docid"], r["content"], r["path"], r["lang"])
        for r in code_docs.select(
            "docid", "ext_docid", "content", "path", "lang"
        ).collect()
    ]
    return PyOracle(
        rows, CODE_TOKENIZER, fields={"body": 2, "path": 3, "lang": 4}
    )


@pytest.fixture
def template_spy(monkeypatch):
    """Every PivotScore the driver planners get from the score template
    builders (engine/pruning.py), in call order."""
    from search_engine_spark.engine import pruning

    made: list = []
    for name in ("bm25_pivot_score", "indri_pivot_score"):
        real = getattr(pruning, name)

        def spy(*a, _real=real, **kw):
            score = _real(*a, **kw)
            made.append(score)
            return score

        monkeypatch.setattr(pruning, name, spy)
    return made
