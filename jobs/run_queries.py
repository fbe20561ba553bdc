#!/usr/bin/env python
"""spark-submit entry: answer queries against a persisted index, TREC output.

    spark-submit --py-files search_engine_spark.zip jobs/run_queries.py \
        --index /data/index_v1 --model BM25 \
        --queries queries.txt --out run.trec [--batch]

``queries.txt``: reference format, one ``qid:querytext`` per line
(hw5/QryEval/QryEval.java:659-673). ``Engine.search`` takes the block-max
pruned and driver-side structured paths by default (identical results).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from search_engine_spark.config import BM25, ModelConfig  # noqa: E402
from search_engine_spark.engine.runner import Engine  # noqa: E402
from search_engine_spark.engine.topk import trec_lines  # noqa: E402
from search_engine_spark.index.persist import PackedIndex  # noqa: E402
from search_engine_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True)
    ap.add_argument("--model", default=BM25)
    ap.add_argument("--queries", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--k", type=int, default=100)
    ap.add_argument("--batch", action="store_true",
                    help="answer the query file with batch_topk: each "
                         "query takes Engine.search's route and the rows "
                         "come back as one relation; queries the driver "
                         "evaluator answers run no Spark job — "
                         "engine/batch.py")
    ap.add_argument("--fb", action="store_true",
                    help="two-round PRF expansion per query (SURVEY §2.10)")
    ap.add_argument("--fb-docs", type=int, default=10)
    ap.add_argument("--fb-terms", type=int, default=10)
    ap.add_argument("--fb-mu", type=float, default=0.0)
    ap.add_argument("--fb-orig-weight", type=float, default=0.5)
    ap.add_argument("--fb-expansion-query-file", default=None,
                    help="persist each expanded query as 'qid: query' lines "
                         "(fbExpansionQueryFile, QryEval.java:944-947); the "
                         "file replays through --queries as-is")
    ap.add_argument("--cores", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--passes", type=int, default=1,
                    help="run the full query set this many times; per-pass "
                         "walls are reported and best-pass wins (steady-state "
                         "throughput — pass 1 pays JVM JIT/codegen warmup)")
    ap.add_argument("--concurrency", type=int, default=1,
                    help="answer this many queries concurrently (thread-pool "
                         "job submission; Spark's scheduler interleaves the "
                         "jobs) — the serving model of a search cluster, "
                         "where driver-side planning of one query overlaps "
                         "executor work of another")
    args = ap.parse_args()

    spark = get_spark("run_queries", cores=args.cores)
    pidx = PackedIndex(spark, args.index)

    with open(args.queries) as f:
        pairs = [
            line.strip().split(":", 1) for line in f if line.strip()
        ]

    import threading

    tl = threading.local()

    def _engine() -> Engine:
        # one Engine (hence one EvalContext cache lifecycle) per serving
        # thread: Engine.search releases its ctx caches after each query,
        # which must not drop a concurrent query's pinned frames
        if getattr(tl, "eng", None) is None:
            # tokenizer resolved from the index manifest (§1.4 invariant)
            tl.eng = Engine(pidx, ModelConfig(name=args.model))
        return tl.eng

    fbp = None
    expansions: dict[str, str] = {}
    if args.fb:
        from search_engine_spark.engine.expand import FbParams

        fbp = FbParams(
            fb_docs=args.fb_docs, fb_terms=args.fb_terms, fb_mu=args.fb_mu,
            fb_orig_weight=args.fb_orig_weight,
        )

    def answer(qid: str, text: str) -> tuple[str, list[str], float]:
        tq = time.time()
        if args.fb:
            from search_engine_spark.engine.expand import search_expanded

            df, _, exp = search_expanded(_engine(), text, fbp, args.k)
            expansions[qid] = exp or ""
            rows = [] if df is None else [r.asDict() for r in df.collect()]
        else:
            rows = [r.asDict() for r in _engine().search(text, args.k).collect()]
        return qid, trec_lines(qid, rows), round(time.time() - tq, 3)

    t_all = time.time()
    pass_secs: list[float] = []
    lines: list[str] = []
    per_q = {}
    for p_i in range(max(1, args.passes)):
        t0 = time.time()
        by_qid: dict[str, list[str]] = {}
        if args.batch:
            from search_engine_spark.engine.batch import batch_topk, split_batchable

            # batch_topk for the queries that compile; the rest are
            # answered one by one, which reports each one's error
            bq, rest = split_batchable(_engine(), pairs)
            rows_by_qid: dict[str, list] = {}
            if bq:
                res = batch_topk(_engine(), bq, args.k).collect()
                for r in res:
                    rows_by_qid.setdefault(r["qid"], []).append(r.asDict())
            for qid, _ in bq:
                rows = sorted(
                    rows_by_qid.get(qid, []), key=lambda d: d["rank"]
                )
                by_qid[qid] = trec_lines(qid, rows)
            per_q = {"batch": round(time.time() - t0, 3), "n_batched": len(bq)}
            for qid, text in rest:
                qid, ls, sec = answer(qid, text)
                by_qid[qid] = ls
                per_q[qid] = sec
        elif args.concurrency > 1:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=args.concurrency) as pool:
                for qid, ls, sec in pool.map(lambda p: answer(*p), pairs):
                    by_qid[qid] = ls
                    per_q[qid] = sec
        else:
            for qid, text in pairs:
                qid, ls, sec = answer(qid, text)
                by_qid[qid] = ls
                per_q[qid] = sec
        # deterministic output order regardless of completion order
        lines = [l for qid, _ in pairs for l in by_qid[qid]]
        pass_secs.append(round(time.time() - t0, 3))
    with open(args.out, "w") as f:
        f.write("\n".join(lines) + "\n")
    if args.fb and args.fb_expansion_query_file:
        from search_engine_spark.engine.expand import write_expansion_file

        write_expansion_file(
            args.fb_expansion_query_file,
            [(qid, expansions.get(qid, "")) for qid, _ in pairs],
        )
    best = min(pass_secs)
    print(
        json.dumps(
            {
                "job": "run_queries",
                "wall_sec": round(time.time() - t_all, 3),
                "pass_secs": pass_secs,
                "best_pass_sec": best,
                "n_queries": len(pairs),
                "queries_per_sec": round(len(pairs) / best, 3) if best else None,
                "per_query_sec": per_q,
                "out": args.out,
            }
        )
    )


if __name__ == "__main__":
    main()
