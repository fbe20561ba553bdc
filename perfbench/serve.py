"""Workload ``serve``: interactive top-k search by a closed loop of clients.

Set-up builds a bursty-corpus index with the commit under test, opens it,
gives every client thread its own ``Engine`` per model (as
jobs/run_queries.py does) and answers one warm-up query. The timed phase is
a closed loop: each client sends its next query only after the previous
answer arrived, for a fixed number of queries per client. About 4 in 5 queries are flat (BM25 bag-of-words, Indri
#AND/#WAND/#WSUM: the block-max pruned paths); the rest are structured
(#NEAR, #WINDOW, #SYN, #SUM/#WAND with a #NEAR child: the positional
operators). See queries.py for the seeded stream.

After timing, every answer is checked against the pure-Python oracle. The
traced run also answers the BM25 pool as one offline query file through
``split_batchable`` + ``batch_topk`` (the engine.batch layer), checks those
answers too, and folds the Spark event log per query.
"""

from __future__ import annotations

import math
import os
import random
import sys
import threading
import time
import traceback
from dataclasses import dataclass

from perfbench import reference
from perfbench.common import K, dir_bytes, log, mean, median, quantile, start_spark
from perfbench.evlog import fold
from perfbench.ingest import build_layers
from perfbench.procmem import PeakRss
from perfbench.queries import Query, QueryStream

N_FILES = 2000
# the pruning gate needs >= 64 estimated blocks per query: at this corpus
# size a theme identifier spans ~35 blocks of 16 postings
BLOCK_SIZE = 16
CLIENTS = 4
WARM_QUERIES = 1  # answered by client 0 before timing: a flat BM25 query
# --seconds sets the timed phase as a query count, ceil(seconds / ROUND_S)
# per client: a deadline would cut ~1-2 rounds of 4-10 s queries at a
# different point on every run and change the mix of shapes that completes
ROUND_S = 4


@dataclass
class Served:
    query: Query
    rid: str
    latency_s: float
    rows: tuple = ()
    prune: tuple | None = None  # (blocks scanned, blocks total) when pruned
    failed: bool = False


def instrument(tracer) -> None:
    """Span every layer call on the query path, patched where its caller
    looks it up."""
    from search_engine_spark.engine import pruning, runner, topk
    from search_engine_spark.engine.ops import EvalContext
    from search_engine_spark.index.persist import PackedIndex

    tracer.wrap(runner.Engine, "parse", "engine.parser.parse")
    tracer.wrap(EvalContext, "prefetch_terms", "engine.ops.term_stats")
    tracer.wrap(EvalContext, "term_stat", "engine.ops.term_stats")
    # runner imports these two inside _pruned_topk, from the module
    tracer.wrap(pruning, "bm25_topk_pruned", "engine.pruning.plan")
    tracer.wrap(pruning, "indri_topk_pruned", "engine.pruning.plan")
    tracer.wrap(runner, "evaluate", "engine.compiler.evaluate")
    tracer.wrap(runner, "rank_topk", "engine.topk.rank_topk")
    tracer.wrap(topk, "rank_topk", "engine.topk.rank_topk")
    tracer.wrap(PackedIndex, "postings_for", "index.persist.postings_for")


def _rows(df) -> tuple:
    return tuple((r["rank"], r["docid"], r["ext_docid"], r["score"]) for r in df)


class Client:
    """One serving thread's engines and query stream."""

    def __init__(self, i: int, pidx, stream: QueryStream, seed: int, tracer, sc, trace: bool):
        from search_engine_spark.config import BM25, INDRI, ModelConfig
        from search_engine_spark.engine.runner import Engine

        self.i, self.stream, self.tracer, self.sc, self.trace = i, stream, tracer, sc, trace
        self.engines = {m: Engine(pidx, ModelConfig(name=m)) for m in (BM25, INDRI)}
        self.rng = random.Random(f"{seed}:client:{i}")
        self.warm_rng = random.Random(f"{seed}:warm:{i}")
        self.done: list[Served] = []

    def answer(self, q: Query, rid: str) -> Served:
        eng = self.engines[q.model]
        t0 = time.perf_counter()
        try:
            with self.tracer.request(rid), self.tracer.span("serve.query"):
                if self.trace:
                    self.sc.setJobGroup(rid, q.qid)
                eng.last_prune_stats = None
                df = eng.search(q.text, K)
                with self.tracer.span("engine.collect"):
                    rows = _rows(df.collect())
        except Exception:  # a failed query is counted, the loop goes on
            traceback.print_exc(file=sys.stderr)
            return Served(q, rid, time.perf_counter() - t0, failed=True)
        st = eng.last_prune_stats
        prune = (st.n_blocks_scanned, st.n_blocks_total) if st is not None else None
        return Served(q, rid, time.perf_counter() - t0, rows, prune)

    def warm(self, n: int) -> None:
        for j in range(n):
            q = self.stream.draw(self.warm_rng, self.i, j)
            self.answer(q, f"w{self.i}.{j}")

    def loop(self, n: int) -> None:
        for j in range(n):
            q = self.stream.draw(self.rng, self.i, j)
            self.done.append(self.answer(q, f"q{self.i}.{j}"))


def _batch_reference(spark, pidx, pool: list[Query], oracle, tracer) -> dict:
    """Answer the BM25 pool as one query file the way run_queries.py --batch
    does and check each answer; returns the batch layer's figures."""
    from search_engine_spark.config import BM25, ModelConfig
    from search_engine_spark.engine.batch import batch_topk, split_batchable
    from search_engine_spark.engine.runner import Engine

    eng = Engine(pidx, ModelConfig(name=BM25))
    pairs = [(q.qid, q.text) for q in pool if q.model == BM25]
    by_qid = {q.qid: q for q in pool}
    with tracer.request("batch"):
        spark.sparkContext.setJobGroup("batch", "batch pass")
        t0 = time.perf_counter()
        with tracer.span("engine.batch.split"):
            good, rest = split_batchable(eng, pairs)
        t1 = time.perf_counter()
        with tracer.span("engine.batch.topk"):
            res = batch_topk(eng, good, K).collect()
        t2 = time.perf_counter()
    got: dict[str, list] = {qid: [] for qid, _ in good}
    for r in res:
        got[r["qid"]].append((r["rank"], r["docid"], r["ext_docid"], r["score"]))
    wrong = sum(
        not reference.same(tuple(sorted(rows)), oracle(by_qid[qid]))
        for qid, rows in got.items()
    )
    return {
        "n": len(good), "wrong": wrong, "split_s": t1 - t0, "topk_s": t2 - t1,
        "residual_frac": len(rest) / len(pairs),
    }


def run(seed: int, seconds: float, tracer, work: str, t_start: float) -> dict:
    from pyspark.sql import functions as F

    from search_engine_spark.corpus import distributed_corpus_df, with_docids
    from search_engine_spark.index.persist import (
        BuildConfig, PackedIndex, build_persistent_index,
    )

    trace = tracer.enabled
    rss = PeakRss().start()
    t = time.perf_counter()
    with tracer.request("setup"), tracer.span("session.start"):
        spark = start_spark(work, event_log=trace)
    session_s = time.perf_counter() - t
    log("serve: session started")
    if trace:
        instrument(tracer)

    t = time.perf_counter()
    docs = with_docids(distributed_corpus_df(spark, N_FILES, seed=seed, bursty=True))
    src_bytes = docs.agg(F.sum(F.octet_length("content"))).first()[0]
    with_docids_s = time.perf_counter() - t

    idx_dir = os.path.join(work, "index")
    t_build = time.time()
    counters = build_persistent_index(
        spark, docs, BuildConfig(out_dir=idx_dir, block_size=BLOCK_SIZE), resume=False
    )
    build_s = time.time() - t_build
    log(f"serve: index built in {build_s:.1f}s")
    index_ratio = dir_bytes(os.path.join(idx_dir, "packed")) / src_bytes
    pidx = PackedIndex(spark, idx_dir)

    stream = QueryStream(random.Random(f"{seed}:pool"), N_FILES)
    pool = stream.pool
    clients = [Client(i, pidx, stream, seed, tracer, spark.sparkContext, trace)
               for i in range(CLIENTS)]
    clients[0].warm(WARM_QUERIES)
    setup_s = time.time() - t_start
    log("serve: warm-up done, timing starts")

    cpu0, t0 = time.process_time(), time.perf_counter()
    per_client = max(1, math.ceil(seconds / ROUND_S))
    threads = [threading.Thread(target=c.loop, args=(per_client,)) for c in clients]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    wall = time.perf_counter() - t0
    cpu_s = time.process_time() - cpu0
    peak_mb = rss.stop()
    done = [s for c in clients for s in c.done]

    t = time.perf_counter()
    oracle = reference.corpus_oracle(N_FILES, seed, [q.text for q in pool])
    want: dict[str, tuple] = {}

    def expected(q: Query) -> tuple:
        if q.qid not in want:
            want[q.qid] = reference.answer(oracle, q.model, q.text, K)
        return want[q.qid]

    failed = sum(s.failed or not reference.same(s.rows, expected(s.query))
                 for s in done)
    attempted = len(done)
    log(f"serve: {attempted} answers verified in {time.perf_counter() - t:.1f}s, "
        f"{failed} wrong or failed")

    batch = None
    if trace:
        batch = _batch_reference(spark, pidx, pool, expected, tracer)
        attempted += batch["n"]
        failed += batch["wrong"]
        tracer.restore()
    spark.stop()

    lat = [s.latency_s for s in done]
    flat = [s for s in done if s.query.kind == "flat"]
    struct_lat = [s.latency_s for s in done if s.query.kind == "struct"]
    metrics = {
        "setup_s": setup_s,
        "peak_rss_mb": peak_mb,
        # closed loop: throughput = clients / mean latency (Little's law),
        # free of the +-1 quantisation of a completion count
        "items_per_s": CLIENTS / mean(lat),
        "op_latency_s": median(lat),
        "index_bytes_per_source_byte": index_ratio,
    }
    detail = {
        "serve_qps": metrics["items_per_s"], "completed_per_s": len(done) / wall,
        "n_queries": len(done),
        "serve_p50_s": median(lat), "serve_p90_s": quantile(lat, 0.9),
        "flat_p50_s": median([s.latency_s for s in flat]), "n_flat": len(flat),
        "struct_p50_s": median(struct_lat), "n_struct": len(struct_lat),
        "empty_result_frac": sum(not s.rows for s in done) / max(1, len(done)),
        "build_files_per_s": N_FILES / build_s,
        "latencies_s": [(s.query.qid, round(s.latency_s, 3)) for s in done],
    }
    layers = {}
    if trace:
        jobs = fold(os.path.join(work, "evlog"))
        layers = _layers(tracer, jobs, done, flat, cpu_s, batch)
        layers.update(build_layers(counters, build_s, t_build, jobs))
        tracer.dump(work + ".spans.jsonl")
        layers.update({
            "session.start_s": session_s,
            "corpus.with_docids_s": with_docids_s,
            "serve.flat_p50_s": detail["flat_p50_s"],
            "serve.struct_p50_s": detail["struct_p50_s"],
            "serve.p90_s": detail["serve_p90_s"],
            "serve.empty_result_frac": detail["empty_result_frac"],
            "trace.items_per_s": metrics["items_per_s"],
            "trace.op_latency_s": metrics["op_latency_s"],
        })
    return {"attempted": attempted, "failed": failed, "metrics": metrics,
            "detail": detail, "layers": layers}


def _layers(tracer, jobs, done, flat, cpu_s, batch) -> dict:
    n = max(1, len(done))
    own = tracer.self_times("q")
    per_q = {
        "engine.parser.parse_s": "engine.parser.parse",
        "engine.ops.term_stats_s": "engine.ops.term_stats",
        "engine.pruning.plan_s": "engine.pruning.plan",
        "engine.compiler.evaluate_s": "engine.compiler.evaluate",
        "engine.topk.rank_topk_s": "engine.topk.rank_topk",
        "engine.collect_s": "engine.collect",
        "index.persist.postings_for_s": "index.persist.postings_for",
    }
    out = {k: own.get(v, 0.0) / n for k, v in per_q.items()}
    pruned = [s.prune for s in flat if s.prune]
    total = sum(p[1] for p in pruned)
    out["engine.pruning.engaged_frac"] = len(pruned) / max(1, len(flat))
    out["engine.pruning.blocks_scanned_frac"] = sum(p[0] for p in pruned) / total if total else 0.0
    out["engine.pruning.blocks_total_per_query"] = total / len(pruned) if pruned else 0.0
    out["driver.cpu_s_per_query"] = cpu_s / n

    kind = {s.rid: s.query.kind for s in done}
    qjobs = [j for j in jobs if j.group in kind]
    sjobs = [j for j in qjobs if kind[j.group] == "struct"]
    n_struct = max(1, sum(1 for s in done if s.query.kind == "struct"))
    out.update({
        "spark.jobs_per_query": len(qjobs) / n,
        "spark.tasks_per_query": sum(j.tasks for j in qjobs) / n,
        "spark.executor_run_s_per_query": sum(j.run_s for j in qjobs) / n,
        "spark.executor_cpu_s_per_query": sum(j.cpu_s for j in qjobs) / n,
        "spark.input_bytes_per_query": sum(j.input_bytes for j in qjobs) / n,
        "spark.sched_delay_s_per_query": sum(j.sched_delay_s for j in qjobs) / n,
        "spark.executor_run_s_per_struct_query": sum(j.run_s for j in sjobs) / n_struct,
    })
    bjobs = [j for j in jobs if j.group == "batch"]
    out.update({
        "engine.batch.split_s": batch["split_s"],
        "engine.batch.topk_s": batch["topk_s"],
        "engine.batch.residual_frac": batch["residual_frac"],
        "engine.batch.qps": batch["n"] / (batch["split_s"] + batch["topk_s"]),
        "spark.jobs_per_pass": len(bjobs),
        "spark.executor_run_s_per_pass": sum(j.run_s for j in bjobs),
        "spark.input_bytes_per_pass": sum(j.input_bytes for j in bjobs),
        "spark.shuffle_bytes_per_pass": sum(j.shuffle_bytes for j in bjobs),
        "spark.fetch_wait_s_per_pass": sum(j.fetch_wait_s for j in bjobs),
    })
    spans = tracer.count("q")
    out["trace.spans_per_item"] = spans / n
    out["trace.overhead_s_per_item"] = tracer.calibrate() * spans / n
    return out
