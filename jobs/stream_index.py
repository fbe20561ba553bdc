#!/usr/bin/env python
"""spark-submit entry: incrementally ingest an arrival directory of document
parquet files into the packed index via Structured Streaming — each
micro-batch is a build (the first) or an append (every later one), so the
index is queryable after every batch.

Cluster usage — run on a schedule (or with a processingTime trigger) against
the landing bucket; each invocation drains only files that arrived since the
last one (the checkpoint tracks processed files):

    spark-submit --py-files search_engine_spark.zip jobs/stream_index.py \
        --input /data/landing/source_code --out /data/index_v1 \
        --buckets 256 --salts 32
    ...                       # more files land, rerun any number of times

Sandbox stand-in: ``--synthetic N --waves K`` writes the deterministic corpus
into the arrival dir in K waves with a drain after each — one process
demonstrating the whole lifecycle.

Prints one JSON line per invocation with ingest wall time and batch counts.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from search_engine_spark.corpus import distributed_corpus_df  # noqa: E402
from search_engine_spark.index.persist import BuildConfig, Manifest  # noqa: E402
from search_engine_spark.session import get_spark  # noqa: E402
from search_engine_spark.streaming.ingest import stream_ingest  # noqa: E402
from search_engine_spark.tokenize import CODE_TOKENIZER  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="arrival dir of (repo,path,commit,lang,content) parquet")
    ap.add_argument("--synthetic", type=int, help="demo: write N synthetic files in waves")
    ap.add_argument("--waves", type=int, default=3)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--out", required=True)
    ap.add_argument("--cores", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--buckets", type=int, default=16)
    ap.add_argument("--salts", type=int, default=8)
    ap.add_argument("--salt-threshold", type=int, default=100_000)
    ap.add_argument("--block-size", type=int, default=1024)
    ap.add_argument("--max-files-per-trigger", type=int)
    ap.add_argument(
        "--conf", action="append", default=[], metavar="K=V",
        help="extra Spark conf (repeatable)",
    )
    args = ap.parse_args()

    extra = dict(kv.split("=", 1) for kv in args.conf)
    spark = get_spark("stream_index", cores=args.cores, extra_conf=extra)
    cfg = BuildConfig(
        out_dir=args.out,
        n_buckets=args.buckets,
        n_salts=args.salts,
        salt_threshold=args.salt_threshold,
        block_size=args.block_size,
        fields={"body": "content"},
        tokenizer=CODE_TOKENIZER,
    )

    def _totals() -> tuple[int, int]:
        data = Manifest(os.path.join(args.out, "manifest.json")).data
        batches = data.get("stream", {}).get("batches", {})
        return data["lineage"].get("n_docs", 0), len(batches)

    n_before, batches_before = _totals()
    ingest_wall = 0.0
    if args.synthetic:
        import shutil

        arrivals = f"{args.out}__arrivals_{args.synthetic}_{args.seed}"
        if n_before == 0:
            # a fresh demo must not re-drain a previous run's arrival files
            # (stale arrivals + fresh checkpoint = every doc indexed twice)
            shutil.rmtree(arrivals, ignore_errors=True)
        docs = distributed_corpus_df(spark, args.synthetic, args.seed, partitions=32)
        from pyspark.sql import functions as F

        for w in range(args.waves):
            docs.where(F.crc32("path") % args.waves == w).write.mode(
                "append"
            ).parquet(arrivals)
            t0 = time.time()
            stream_ingest(
                spark, arrivals, cfg,
                max_files_per_trigger=args.max_files_per_trigger,
            )
            ingest_wall += time.time() - t0
    elif args.input:
        t0 = time.time()
        stream_ingest(
            spark, args.input, cfg,
            max_files_per_trigger=args.max_files_per_trigger,
        )
        ingest_wall += time.time() - t0
    n_total, batches_total = _totals()
    n_new = n_total - n_before
    print(
        json.dumps(
            {
                "job": "stream_index",
                # THIS invocation's work: docs drained now / ingest seconds
                # now (corpus-generation writes excluded)
                "ingest_wall_sec": round(ingest_wall, 3),
                "files_ingested": n_new,
                "files_per_sec": (
                    round(n_new / ingest_wall, 2) if ingest_wall else None
                ),
                "batches": batches_total - batches_before,
                "files_total": n_total,
                "batches_total": batches_total,
                "cores": args.cores,
            }
        )
    )


if __name__ == "__main__":
    main()
