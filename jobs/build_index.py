#!/usr/bin/env python
"""spark-submit entry: build (or resume) the persistent inverted index.

Cluster usage (north_rule):

    spark-submit --py-files search_engine_spark.zip jobs/build_index.py \
        --input /data/source_code_iceberg_or_parquet \
        --out   /data/index_v1 \
        --buckets 256 --salts 32 --salt-threshold 1000000

Sandbox stand-in (no cluster): ``--master local[N]`` via --cores, with the
deterministic synthetic corpus (``--synthetic N_FILES``).

Prints one JSON line with wall time, files/sec, and the manifest counters.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from search_engine_spark.corpus import distributed_corpus_df, with_docids  # noqa: E402
from search_engine_spark.index.persist import BuildConfig, build_persistent_index  # noqa: E402
from search_engine_spark.session import get_spark  # noqa: E402
from search_engine_spark.tokenize import tokenizer_by_name  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="parquet/iceberg path of (repo,path,commit,lang,content)")
    ap.add_argument("--synthetic", type=int, help="generate N synthetic files instead")
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--out", required=True)
    ap.add_argument("--cores", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--master", help="override master URL (e.g. spark://127.0.0.1:7077 "
                                     "from tools/local_cluster.py); --cores then means "
                                     "the cluster's total task cores (sizes shuffle)")
    ap.add_argument("--buckets", type=int, default=16)
    ap.add_argument("--salts", type=int, default=8)
    ap.add_argument("--salt-threshold", type=int, default=100_000)
    ap.add_argument("--block-size", type=int, default=1024)
    ap.add_argument(
        "--analyzer", default="code", metavar="NAME",
        help="analyzer for content tokenization: code (default; identifier "
        "split + language-keyword stopwords), whitespace, or english (the "
        "reference's analyzer family: possessive strip + Lucene English "
        "stopwords + Porter stem)",
    )
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument(
        "--conf", action="append", default=[], metavar="K=V",
        help="extra Spark conf (repeatable), e.g. --conf spark.buffer.size=1048576",
    )
    ap.add_argument(
        "--warmup-files", type=int, default=0, metavar="N",
        help="run an untimed N-file build first in the same JVM: excludes "
        "one-time process costs (JIT compilation of the parquet/arrow/codec "
        "paths, python-worker fork+import) from the timed window, so the "
        "timed build measures STEADY-STATE throughput — the quantity a "
        "long-running cluster actually delivers. Paired A/B runs on this "
        "host show the first build in a fresh JVM runs ~2x slower than the "
        "second (BENCH_SCALING.md); that constant hits a short fast-level "
        "run far harder than a long slow-level one, understating efficiency.",
    )
    args = ap.parse_args()

    extra = dict(kv.split("=", 1) for kv in args.conf)
    spark = get_spark("build_index", cores=args.cores, extra_conf=extra, master=args.master)
    # corpus materialization is input, not indexing — excluded from the
    # timed window (a real run reads a pre-existing Iceberg table)
    if args.synthetic:
        # fixed partition count: the src parquet must be IDENTICAL across
        # parallelism levels so scaling runs compare like with like
        src = distributed_corpus_df(spark, args.synthetic, args.seed, partitions=32)
        # file count + seed in the path: a stale corpus of a different size
        # must never be silently reused across bench configurations
        src_path = f"{args.out}__src_{args.synthetic}_{args.seed}"
        if not os.path.exists(src_path):
            src.write.mode("overwrite").parquet(src_path)
        docs = with_docids(spark.read.parquet(src_path))
    else:
        docs = with_docids(spark.read.parquet(args.input))
    if args.warmup_files:
        import shutil

        wdir = f"{args.out}__warmup"
        shutil.rmtree(wdir, ignore_errors=True)
        wdocs = with_docids(
            distributed_corpus_df(spark, args.warmup_files, 7, partitions=8)
        )
        build_persistent_index(
            spark, wdocs,
            BuildConfig(
                out_dir=wdir, n_buckets=args.buckets, n_salts=args.salts,
                salt_threshold=args.salt_threshold, block_size=args.block_size,
                fields={"body": "content"},
                tokenizer=tokenizer_by_name(args.analyzer),
            ),
            resume=False,
        )
        shutil.rmtree(wdir, ignore_errors=True)
    t0 = time.time()
    cfg = BuildConfig(
        out_dir=args.out,
        n_buckets=args.buckets,
        n_salts=args.salts,
        salt_threshold=args.salt_threshold,
        block_size=args.block_size,
        fields={"body": "content"},
        tokenizer=tokenizer_by_name(args.analyzer),
    )
    counters = build_persistent_index(spark, docs, cfg, resume=not args.no_resume)
    wall = time.time() - t0
    n = counters.get("n_docs", 0)
    print(
        json.dumps(
            {
                "job": "build_index",
                "wall_sec": round(wall, 3),
                "files": n,
                "files_per_sec": round(n / wall, 2) if wall else None,
                "cores": args.cores,
                "counters": {
                    k: v for k, v in counters.items() if isinstance(v, (int, float))
                },
            }
        )
    )


if __name__ == "__main__":
    main()
