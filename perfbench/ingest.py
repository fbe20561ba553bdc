"""Workload ``ingest``: the write side of the index layer.

Set-up generates one bursty source table and assigns docids; its last key
ranges are the deltas, each with a marker term planted in half its files.
The timed phase is one index lifecycle in the same fresh JVM, as a
spark-submit of jobs/build_index.py and jobs/update_index.py would run it:
``build_persistent_index`` of the base, one ``append_to_index`` per delta,
``delete_docs`` of 1% of the docids and ``compact_index``.

Each call is then checked: the build's document count, each delta's marker
term found in exactly its live marked files, the live document count after
the deletes, and the number of documents compaction purged.
"""

from __future__ import annotations

import os
import random
import time

from perfbench.common import K, dir_bytes, log, mean, median, start_spark
from perfbench.evlog import JobMetrics, fold, in_window
from perfbench.procmem import PeakRss

N_FILES = 2000
DELTA_FILES = 40  # 2% of the base per append
N_APPENDS = 1
DELETE_FRAC = 0.01
MARKERS = ["pbmark_alpha", "pbmark_beta", "pbmark_gamma", "pbmark_delta"]


def build_layers(counters: dict, build_s: float, t_build: float, jobs: list[JobMetrics]) -> dict:
    """Per-layer figures of one build_persistent_index call: its own stage
    counters plus the Spark jobs submitted while it ran."""
    seg = counters.get("segments_sec", 0.0)
    merge = counters.get("buckets_sec", 0.0)
    stats = counters.get("stats_sec", 0.0)
    bj = in_window(jobs, t_build, t_build + build_s)
    return {
        "index.persist.build_s": build_s,
        "index.persist.segments_s": seg,
        "index.persist.merge_s": merge,
        "index.persist.stats_s": stats,
        # the stats stage runs concurrently with the merge
        "index.persist.stats_merge_overlap_s": max(0.0, seg + merge + stats - build_s),
        "index.persist.blocks_written": counters.get("blocks_written", 0),
        "index.persist.n_terms": counters.get("n_terms", 0),
        "spark.executor_run_s_build": sum(j.run_s for j in bj),
        "spark.gc_s_build": sum(j.gc_s for j in bj),
        "spark.shuffle_bytes_build": sum(j.shuffle_bytes for j in bj),
        "spark.task_concurrency_build": sum(j.task_s for j in bj) / build_s,
    }


def run(seed: int, seconds: float, tracer, work: str, t_start: float) -> dict:
    from pyspark.sql import functions as F

    from search_engine_spark.config import BM25, ModelConfig
    from search_engine_spark.corpus import distributed_corpus_df, with_docids
    from search_engine_spark.engine.runner import Engine
    from search_engine_spark.index.append import append_to_index
    from search_engine_spark.index.compact import compact_index
    from search_engine_spark.index.deletes import delete_docs
    from search_engine_spark.index.persist import (
        BuildConfig, PackedIndex, build_persistent_index,
    )

    trace = tracer.enabled
    rss = PeakRss().start()
    t = time.perf_counter()
    with tracer.request("setup"), tracer.span("session.start"):
        spark = start_spark(work, event_log=trace)
    session_s = time.perf_counter() - t
    log("ingest: session started")

    # ---- set-up: one source table; the deltas are its last key ranges ----
    # with_docids numbers files densely in key order, so the files after
    # the first N_FILES form appendable deltas (docids dense from the
    # index's n_docs + 1); half of each delta's files carry its marker term
    total = N_FILES + N_APPENDS * DELTA_FILES
    t = time.perf_counter()
    with tracer.request("setup"), tracer.span("corpus.with_docids"):
        src = with_docids(distributed_corpus_df(spark, total, seed=seed, bursty=True))
        lo = N_FILES
        content = F.col("content")
        for a in range(N_APPENDS):
            marked = F.col("docid").between(lo + 1, lo + DELTA_FILES) & (F.col("docid") % 2 == 0)
            content = F.when(marked, F.concat(content, F.lit(" " + MARKERS[a]))).otherwise(content)
            lo += DELTA_FILES
        src = src.withColumn("content", content).persist()
        src_bytes = src.where(F.col("docid") <= N_FILES).agg(
            F.sum(F.octet_length("content"))).first()[0]
    with_docids_s = time.perf_counter() - t
    docs = src.where(F.col("docid") <= N_FILES)
    deltas = []
    for a in range(N_APPENDS):
        lo = N_FILES + a * DELTA_FILES
        deltas.append(src.where(F.col("docid").between(lo + 1, lo + DELTA_FILES)))
    log("ingest: source table ready")
    drng = random.Random(f"{seed}:deletes")
    deleted = sorted(drng.sample(range(1, total + 1), int(total * DELETE_FRAC)))
    setup_s = time.time() - t_start
    log("ingest: timing starts")

    # ---- timed: one index lifecycle ----
    cfg = BuildConfig(out_dir=os.path.join(work, "index"))
    walls: dict[str, float] = {}

    def step(name: str, span: str, fn):
        t0 = time.time()
        with tracer.request(name), tracer.span(span):
            out = fn()
        walls[name] = time.time() - t0
        log(f"ingest: {name} {walls[name]:.2f}s")
        return out

    t_build = time.time()
    counters = step("build", "index.persist.build",
                    lambda: build_persistent_index(spark, docs, cfg, resume=False))
    index_ratio = dir_bytes(os.path.join(cfg.out_dir, "packed")) / src_bytes
    for a, d in enumerate(deltas):
        step(f"append{a}", "index.append.append", lambda: append_to_index(spark, d, cfg))
    step("delete", "index.deletes.delete", lambda: delete_docs(spark, cfg.out_dir, docids=deleted))
    compacted = step("compact", "index.compact.compact", lambda: compact_index(spark, cfg.out_dir))
    peak_mb = rss.stop()

    # ---- checks: one per timed call ----
    gone = set(deleted)
    eng = Engine(PackedIndex(spark, cfg.out_dir), ModelConfig(name=BM25))
    checks = {
        "build": counters["n_docs"] == N_FILES,
        "delete": eng.index.corpus.n_docs == total - len(gone),
        "compact": compacted["n_purged"] == len(gone),
    }
    for a in range(N_APPENDS):
        lo = N_FILES + a * DELTA_FILES
        want = {d for d in range(lo + 1, lo + DELTA_FILES + 1) if d % 2 == 0 and d not in gone}
        got = {r["docid"] for r in eng.search(MARKERS[a], K).collect()}
        checks[f"append{a}"] = got == want
    failed = sum(not ok for ok in checks.values())
    if failed:
        log(f"ingest: failed checks {[k for k, ok in checks.items() if not ok]}")
    spark.stop()

    appends = [walls[f"append{a}"] for a in range(N_APPENDS)]
    updates = appends + [walls["delete"], walls["compact"]]
    metrics = {
        "setup_s": setup_s,
        "peak_rss_mb": peak_mb,
        "items_per_s": N_FILES / walls["build"],
        # mean, not median: three calls of different kinds per run
        "op_latency_s": mean(updates),
        "index_bytes_per_source_byte": index_ratio,
    }
    detail = {
        "build_files_per_s": N_FILES / walls["build"],
        "append_files_per_s": median([DELTA_FILES / w for w in appends]),
        "maintain_s": walls["delete"] + walls["compact"],
        "index_bytes_per_source_byte": index_ratio,
        "walls_s": walls,
    }
    layers = {}
    if trace:
        jobs = fold(os.path.join(work, "evlog"))
        layers = build_layers(counters, walls["build"], t_build, jobs)
        layers.update({
            "session.start_s": session_s,
            "corpus.with_docids_s": with_docids_s,
            "index.append.append_s": median(appends),
            "index.deletes.delete_s": walls["delete"],
            "index.compact.compact_s": walls["compact"],
            "ingest.append_files_per_s": detail["append_files_per_s"],
            "ingest.maintain_s": detail["maintain_s"],
            "trace.items_per_s": metrics["items_per_s"],
            "trace.op_latency_s": metrics["op_latency_s"],
            "trace.spans_per_item": tracer.count("") / len(walls),
            "trace.overhead_s_per_item": tracer.calibrate() * tracer.count("") / len(walls),
        })
        tracer.dump(work + ".spans.jsonl")
    return {"attempted": len(checks), "failed": failed, "metrics": metrics,
            "detail": detail, "layers": layers}
