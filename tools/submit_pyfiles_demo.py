#!/usr/bin/env python
"""Demonstrate the north rule's deployment mechanism end-to-end:
``spark-submit --py-files search_engine_spark.zip`` against a REAL
standalone cluster (separate master/worker/executor JVMs,
tools/local_cluster.py).

The honesty constraints — this must prove the ZIP is what ships, not the
checkout leaking in through a path:

- the job script is COPIED out of the repo into a scratch workdir, so its
  own ``sys.path.insert(dirname(dirname(__file__)))`` points at scratch,
  not the repo;
- the submitted process runs with ``cwd=<workdir>`` and a scrubbed
  ``PYTHONPATH``, so the driver can only import ``search_engine_spark``
  from the ``--py-files`` zip (spark-submit prepends it);
- this orchestrator chdirs to the workdir BEFORE starting the worker, so
  executor python workers (whose ``sys.path`` includes their cwd via
  ``-m pyspark.daemon``) cannot see the repo either — the segment/merge
  kernels they run arrive exclusively via the shipped zip.

After the submitted build exits, a fresh local session opens the packed
index it wrote and runs a BM25 top-k over it (rows asserted non-empty).
Prints one JSON line. Uses port 7177 / its own run dir so it can never
collide with a concurrently-running cluster on the default port (7077).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools.local_cluster import LocalCluster, _spark_env  # noqa: E402


def make_zip(dest: str) -> str:
    """Package search_engine_spark/ exactly as the north rule's deploy
    artifact: a zip whose archive root is the importable package."""
    pkg = os.path.join(REPO, "search_engine_spark")
    with zipfile.ZipFile(dest, "w", zipfile.ZIP_DEFLATED) as z:
        for root, _dirs, files in os.walk(pkg):
            if "__pycache__" in root:
                continue
            for f in sorted(files):
                if not f.endswith(".py"):
                    continue
                full = os.path.join(root, f)
                z.write(full, os.path.relpath(full, REPO))
    return dest


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--files", type=int, default=400)
    ap.add_argument("--cores", type=int, default=2)
    ap.add_argument("--workdir", default="/tmp/pyfiles_demo")
    ap.add_argument("--port", type=int, default=7177)
    ap.add_argument("--timeout", type=int, default=300)
    args = ap.parse_args()

    shutil.rmtree(args.workdir, ignore_errors=True)
    os.makedirs(args.workdir)
    zip_path = make_zip(os.path.join(args.workdir, "search_engine_spark.zip"))
    job = os.path.join(args.workdir, "build_index.py")
    shutil.copy(os.path.join(REPO, "jobs", "build_index.py"), job)
    out_dir = os.path.join(args.workdir, "idx")

    env, _cp = _spark_env()
    env.pop("PYTHONPATH", None)
    submit = os.path.join(env["SPARK_HOME"], "bin", "spark-submit")

    os.chdir(args.workdir)  # before the worker forks: executors must not see the repo
    t0 = time.time()
    with LocalCluster(
        cores=args.cores, port=args.port,
        run_dir=os.path.join(args.workdir, "cluster"),
    ) as url:
        cmd = [
            submit,
            "--master", url,
            "--py-files", zip_path,
            "--conf", "spark.ui.enabled=false",
            job,
            "--synthetic", str(args.files), "--seed", "7",
            "--out", out_dir,
            "--cores", str(args.cores),
            "--master", url,
            "--buckets", "4", "--salts", "2",
        ]
        run = subprocess.run(
            cmd, env=env, cwd=args.workdir, timeout=args.timeout,
            capture_output=True, text=True,
        )
    if run.returncode != 0:
        sys.stderr.write(run.stdout[-4000:] + "\n" + run.stderr[-4000:] + "\n")
        raise SystemExit(f"spark-submit failed rc={run.returncode}")
    submit_sec = round(time.time() - t0, 3)
    job_line = next(
        (l for l in run.stdout.splitlines()
         if l.startswith("{") and '"build_index"' in l),
        "{}",
    )

    # verify from a separate local session: the submitted cluster build left
    # a queryable packed index behind. Back to the repo first — THIS session's
    # python workers legitimately import from the checkout (only the
    # submitted job had to live off the zip), and they resolve the package
    # via their cwd.
    os.chdir(REPO)
    os.environ["PYTHONPATH"] = REPO
    from search_engine_spark.config import ModelConfig
    from search_engine_spark.engine.runner import Engine
    from search_engine_spark.index.persist import PackedIndex
    from search_engine_spark.session import get_spark
    from search_engine_spark.tokenize import CODE_TOKENIZER
    from pyspark.sql import functions as F

    spark = get_spark("pyfiles_verify", cores=2, shuffle_partitions=4)
    idx = PackedIndex(spark, out_dir)
    term = (
        idx.term_stats.where(F.col("field") == "body")
        .orderBy(F.desc("df")).first()["term"]
    )
    eng = Engine(idx, ModelConfig(name="BM25"), tokenizer=CODE_TOKENIZER)
    hits = eng.search(term, 5).collect()
    assert hits, "submitted build produced an index with no hits"
    print(json.dumps({
        "metric": "pyfiles_submit_demo",
        "files": args.files,
        "cluster": f"standalone 1x{args.cores}-core executor",
        "submit_wall_sec": submit_sec,
        "job": json.loads(job_line),
        "verify_term": term,
        "verify_hits": len(hits),
        "ok": True,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
