"""Shared fixtures: one local SparkSession, the deterministic code corpus,
and the packed index built over it once per session (fields: body=content,
path=path, lang=lang)."""

from __future__ import annotations

import contextlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from search_engine_spark.corpus import code_corpus_df, with_docids  # noqa: E402
from search_engine_spark.index.persist import (  # noqa: E402
    BuildConfig,
    PackedIndex,
    build_persistent_index,
)
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
def code_index_dir(spark, code_docs, tmp_path_factory):
    """The code corpus's packed index on disk; small blocks so deletes and
    compaction hit some blocks and pass others through. Read-only: tests
    that mutate an index copy this directory first."""
    out = str(tmp_path_factory.mktemp("code_index") / "idx")
    cfg = BuildConfig(
        out_dir=out, fields=FIELDS, tokenizer=CODE_TOKENIZER,
        n_buckets=4, block_size=16,
    )
    build_persistent_index(spark, code_docs, cfg, resume=False)
    return out


@pytest.fixture(scope="session")
def code_index(spark, code_index_dir):
    return PackedIndex(spark, code_index_dir)


@pytest.fixture(scope="session")
def pidx(spark, code_docs, tmp_path_factory):
    """Body-only packed index with tiny blocks and salted heavy terms: the
    block-max pruning and driver-read tests' shared build."""
    out = str(tmp_path_factory.mktemp("pidx") / "v1")
    cfg = BuildConfig(
        out_dir=out, n_buckets=4, block_size=8, salt_threshold=40, n_salts=4,
        fields={"body": "content"}, tokenizer=CODE_TOKENIZER,
    )
    build_persistent_index(spark, code_docs, cfg, resume=False)
    return PackedIndex(spark, out)


@pytest.fixture
def exact_plan(monkeypatch):
    """``with exact_plan():`` routes Engine.search to the exact Spark plan
    (SPARK_GRAFT_NO_PRUNE=1) inside the block. On a packed index the engine
    otherwise answers flat and structured shapes with its driver evaluator —
    tests whose reference is the Spark plan use this."""

    @contextlib.contextmanager
    def forced():
        with monkeypatch.context() as m:
            m.setenv("SPARK_GRAFT_NO_PRUNE", "1")
            yield

    return forced


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
def jvm_crossings(spark, monkeypatch):
    """Counts, by method name, of the Python-to-JVM crossings a driver-side
    answer could make: ``Column`` constructions, ``createDataFrame`` calls
    and DataFrame collects; and, as ``py4j:<command>``, the raw Py4J
    commands (``c`` call, ``r`` reflection, ``i`` constructor, ...) sent
    outside ``createDataFrame``. Memory commands (``m``, object releases the
    Python GC sends at any time) are not counted."""
    import collections

    from pyspark.sql.classic.column import Column
    from pyspark.sql.classic.dataframe import DataFrame

    counts: collections.Counter = collections.Counter()
    depth = [0]  # createDataFrame calls in progress

    def count(cls, name):
        real = getattr(cls, name)

        def spy(*a, **kw):
            counts[name] += 1
            return real(*a, **kw)

        monkeypatch.setattr(cls, name, spy)

    count(Column, "__init__")
    for name in ("collect", "toArrow", "toPandas", "toLocalIterator", "take"):
        count(DataFrame, name)
    create = type(spark).createDataFrame

    def create_spy(*a, **kw):
        counts["createDataFrame"] += 1
        depth[0] += 1
        try:
            return create(*a, **kw)
        finally:
            depth[0] -= 1

    monkeypatch.setattr(type(spark), "createDataFrame", create_spy)
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command

    def send_spy(command, *a, **kw):
        kind = command.split("\n", 1)[0]
        if not depth[0] and kind != "m":
            counts[f"py4j:{kind}"] += 1
        return send(command, *a, **kw)

    monkeypatch.setattr(client, "send_command", send_spy)
    return counts
