"""Structured-Streaming corpus ingestion: every micro-batch of new document
files becomes a committed part of the packed index — the first batch is a
build, each later batch an append — so streamed documents are queryable as
soon as their batch returns.

The reference is strictly batch (SURVEY.md §2.12 — one process, one pass),
so this surface has no reference twin; it exists because a web-scale corpus
is never finished: a training-data pipeline tails an arrival directory /
table and must index documents as they land, without re-tokenizing the
ever-growing history. Spark-first shape:

    readStream (file source, exactly-once file tracking via the checkpoint)
      -> foreachBatch:  docid assignment (dense, continuing the index)
                        -> batch 0: build_persistent_index
                           later:   append_to_index (O(batch), index/append.py)

Exactly-once without a transactional sink: before any write, the manifest
records the batch as ``{generation, base docid}`` (generation 0 is the
build, g ≥ 1 the g-th append). A replayed batch (file-source replays are
identical by construction) whose generation committed is a no-op; one whose
generation did not commit resumes it at its first unfinished step — the
build and the append are both resumable by step and validate the input
fingerprint, so a replay cannot mix two batches' documents.

Equivalence to the batch build is asserted in tests/test_streaming.py on the
query-visible surface (term_stats, corpus stats, doclens and BM25 top-k by
EXTERNAL id): internal docids may differ (arrival order vs global key rank)
— scores, ranks, and stats may not.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from search_engine_spark.corpus import CODE_DOC_SCHEMA, with_docids
from search_engine_spark.index.append import append_to_index
from search_engine_spark.index.persist import (
    BuildConfig,
    Manifest,
    build_persistent_index,
)


def _committed(man: Manifest, generation: int) -> bool:
    if generation == 0:
        return man.stage_done("packed") and man.stage_done("stats")
    return man.stage_done(f"append{generation}:commit")


def ingest_batch(batch_df: DataFrame, batch_id: int, cfg: BuildConfig) -> None:
    """One micro-batch -> one committed index generation (a build for the
    first batch, an append after it) + a manifest entry. Safe to replay: a
    committed batch is skipped and an uncommitted one resumes its recorded
    generation with its recorded docid base."""
    man = Manifest(os.path.join(cfg.out_dir, "manifest.json"))
    batches = man.data.setdefault("stream", {"batches": {}})["batches"]
    key = str(batch_id)
    rec = batches.get(key)
    if rec is not None and _committed(man, rec["generation"]):
        return
    unfinished = [
        k for k, b in batches.items() if not _committed(man, b["generation"])
    ]
    if rec is None and unfinished:
        raise RuntimeError(
            f"stream batch {unfinished[0]} at {cfg.out_dir} has not committed; "
            f"replay it before batch {batch_id}"
        )
    if rec is None:
        if batch_df.isEmpty():
            return
        lin = man.data["lineage"]
        if batches or man.stage_done("packed"):
            rec = {
                "generation": len(lin.get("appends", [])) + 1,
                "base": int(lin["n_docs"]),
            }
        else:
            rec = {"generation": 0, "base": 0}
        batches[key] = rec
        os.makedirs(cfg.out_dir, exist_ok=True)
        man._flush()

    # dense docids continuing the index; ext ids / natural keys are
    # identical to the batch ingest path
    spark = batch_df.sparkSession
    docs = with_docids(batch_df, base=rec["base"])
    try:
        if rec["generation"] == 0:
            build_persistent_index(spark, docs, cfg, resume=True)
        else:
            append_to_index(spark, docs, cfg)
    finally:
        # release the docid-assignment cache now instead of waiting for the
        # context cleaner — a long stream would otherwise pin one cached
        # copy of every batch's corpus
        docs._persisted_part.unpersist()


def stream_ingest(
    spark: SparkSession,
    input_path: str,
    cfg: BuildConfig,
    checkpoint_dir: str | None = None,
    schema=None,
    max_files_per_trigger: int | None = None,
    await_termination: bool = True,
):
    """Ingest every parquet file under ``input_path`` (and any that arrive
    while the stream runs) into the index. With the default availableNow
    trigger the stream drains the current backlog and stops — the
    incremental-batch analog of one build invocation; rerunning later picks
    up only NEW files (the checkpoint tracks processed ones).

    At cluster scale the same call tails an arrival bucket/table with a
    processingTime trigger; nothing in the batch function is trigger-aware.
    """
    checkpoint_dir = checkpoint_dir or os.path.join(cfg.out_dir, "_stream_checkpoint")
    reader = spark.readStream.schema(schema or CODE_DOC_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_path)
    q = (
        stream.writeStream.foreachBatch(
            lambda df, bid: ingest_batch(df, bid, cfg)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if await_termination:
        q.awaitTermination()
    return q
