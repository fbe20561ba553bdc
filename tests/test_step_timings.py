"""Per-step timings of the maintenance calls: append_to_index, delete_docs
and compact_index each report the wall seconds of their steps in
``steps_s``, and the steps never sum past the call's ``sec``."""

from pyspark.sql import functions as F

from search_engine_spark.index.append import append_to_index
from search_engine_spark.index.compact import compact_index
from search_engine_spark.index.deletes import delete_docs
from search_engine_spark.index.persist import BuildConfig, build_persistent_index
from search_engine_spark.tokenize import CODE_TOKENIZER

STEPS = {
    "append": {"checks", "delta", "graft_docs", "graft_packed", "term_stats", "commit"},
    "delete": {"checks", "write", "commit"},
    "compact": {"open", "term_stats", "packed", "doc_tables", "commit"},
}


def test_maintenance_calls_report_step_seconds(spark, code_docs, tmp_path):
    out = str(tmp_path / "idx_steps")
    cfg = BuildConfig(
        out_dir=out, fields={"body": "content"}, tokenizer=CODE_TOKENIZER,
        n_buckets=4, block_size=16,
    )
    build_persistent_index(
        spark, code_docs.where(F.col("docid") <= 100), cfg, resume=False
    )
    got = {
        "append": append_to_index(
            spark, code_docs.where(F.col("docid") > 100), cfg
        ),
        "delete": delete_docs(spark, out, docids=[3, 50, 110]),
        "compact": compact_index(spark, out),
    }
    for call, entry in got.items():
        steps = entry["steps_s"]
        assert set(steps) == STEPS[call], call
        assert all(v >= 0 for v in steps.values()), call
        assert sum(steps.values()) <= entry["sec"], call
