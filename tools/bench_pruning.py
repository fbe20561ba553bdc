#!/usr/bin/env python
"""Block-max pruning evidence at scale (VERDICT r03 item 1).

Builds (or reuses) a packed index over the BURSTY synthetic corpus
(corpus.py bursty=True — identifier locality: each repo's org reuses a
4-term theme so heavily that per-doc tf hits 10-60, docid-contiguous
because with_docids orders by repo). That skew is the distribution
block-max pruning was designed for; on the i.i.d. Zipf corpus every
block's (max_tf, min_doclen) bound looks alike and provably nothing can
skip (the r03 13/13 finding).

For each same-theme query (the realistic shape: a user searches related
identifiers) it runs the EXACT single-scan plan and the PRUNED two-phase
plan (engine/pruning.py), asserts bitwise-identical top-k, and reports
blocks scanned vs total plus median wall times. One JSON line per query +
one summary line, which also reports the index generation's resident
planning metadata (blocks, terms, bytes and load seconds).

Usage:
    python tools/bench_pruning.py [--n-files 100000] [--block-size 128]
                                  [--k 100] [--reps 3] [--cores 32]
                                  [--out /tmp/bursty_prune_idx]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from search_engine_spark.config import BM25, INDRI, ModelConfig  # noqa: E402
from search_engine_spark.corpus import (  # noqa: E402
    distributed_corpus_df,
    theme_terms,
    with_docids,
)
from search_engine_spark.engine.pruning import (  # noqa: E402
    PruneStats,
    bm25_topk_pruned,
    indri_topk_pruned,
)
from search_engine_spark.engine.runner import Engine  # noqa: E402
from search_engine_spark.index.persist import (  # noqa: E402
    BuildConfig,
    Manifest,
    PackedIndex,
    build_persistent_index,
)
from search_engine_spark.session import get_spark  # noqa: E402
from search_engine_spark.tokenize import CODE_TOKENIZER  # noqa: E402

THEMES = [0, 7, 13, 23, 42, 67]


def build_or_reuse(spark, n_files: int, block_size: int, out: str) -> PackedIndex:
    man_path = os.path.join(out, "manifest.json")
    if os.path.exists(man_path):
        man = Manifest(man_path)
        lin = man.data["lineage"]
        if (
            man.stage_done("packed")
            and int(lin.get("n_docs", 0)) == n_files
            and int(lin.get("block_size", 0)) == block_size
        ):
            print(f"[reuse] {out} ({n_files} docs, block_size={block_size})")
            return PackedIndex(spark, out)
    docs = with_docids(distributed_corpus_df(spark, n_files, bursty=True))
    cfg = BuildConfig(
        out_dir=out,
        fields={"body": "content"},
        tokenizer=CODE_TOKENIZER,
        block_size=block_size,
    )
    t0 = time.time()
    build_persistent_index(spark, docs, cfg, resume=True)
    print(f"[build] {n_files} files in {time.time() - t0:.1f}s")
    return PackedIndex(spark, out)


def executor_run_ms(spark) -> int:
    """Total executor task run time over all completed stages (the Spark UI
    REST API). Wall time at sandbox scale is dominated by the fixed per-job
    floor (~0.8 s on local[32]); executor RUN time is the work a 1000-node
    cluster actually parallelizes, so it is the 100 TB-relevant metric —
    deltas around a run isolate that run's work."""
    import json as _json
    import urllib.request

    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    try:
        with urllib.request.urlopen(
            f"{base}/api/v1/applications/{app}/stages?status=complete", timeout=10
        ) as r:
            stages = _json.load(r)
        return sum(s.get("executorRunTime", 0) for s in stages)
    except Exception:
        return -1


def median_wall(fn, reps: int, spark=None) -> tuple[float, list, float]:
    """(median wall sec, last result, median executor task-time sec)."""
    walls, tasks, last = [], [], None
    for _ in range(reps):
        t_before = executor_run_ms(spark) if spark else -1
        t0 = time.time()
        last = fn()
        walls.append(time.time() - t0)
        if spark and t_before >= 0:
            t_after = executor_run_ms(spark)
            if t_after >= 0:
                tasks.append((t_after - t_before) / 1000.0)
    task_med = statistics.median(tasks) if tasks else -1.0
    return statistics.median(walls), last, task_med


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-files", type=int, default=100_000)
    ap.add_argument("--block-size", type=int, default=128)
    ap.add_argument("--k", type=int, default=100)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--cores", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--out", default="/tmp/bursty_prune_idx")
    ap.add_argument(
        "--model", choices=["bm25", "indri"], default="bm25",
        help="indri: weighted MaxScore pruning over #AND/#WAND/#WSUM "
        "(engine/pruning.py indri_topk_pruned) instead of flat BM25",
    )
    args = ap.parse_args()

    # the UI is normally off (session.py); this tool needs its REST API for
    # the executor task-time metric
    spark = get_spark(
        "bench_pruning", cores=args.cores,
        extra_conf={"spark.ui.enabled": "true"},
    )
    pidx = build_or_reuse(spark, args.n_files, args.block_size, args.out)
    is_indri = args.model == "indri"
    eng = Engine(
        pidx, ModelConfig(name=INDRI if is_indri else BM25),
        tokenizer=CODE_TOKENIZER,
    )
    # rotate the three Indri combines across themes; weights sum to 1
    _KINDS = [("wsum", [0.6, 0.3, 0.1]), ("wand", [0.7, 0.2, 0.1]), ("and", None)]

    def query_spec(th_idx: int, q: list[str]):
        """(query text for the exact engine, pruned-plan callable)."""
        if not is_indri:
            return " ".join(q), lambda st: bm25_topk_pruned(
                pidx, q, k=args.k, stats=st
            )
        kind, weights = _KINDS[th_idx % len(_KINDS)]
        if kind == "and":
            text = " ".join(q)
        else:
            text = (
                f"#{kind.upper()}("
                + " ".join(f"{w} {t}" for w, t in zip(weights, q))
                + ")"
            )
        return text, lambda st: indri_topk_pruned(
            pidx, kind, q, weights, k=args.k, stats=st
        )

    # warmup (JIT/codegen on both plans)
    wq = theme_terms(THEMES[0])[:3]
    wtext, wpruned = query_spec(0, wq)
    wpruned(PruneStats()).collect()
    os.environ["SPARK_GRAFT_NO_PRUNE"] = "1"
    eng.search(wtext, args.k).collect()
    del os.environ["SPARK_GRAFT_NO_PRUNE"]

    rows = []
    for th_idx, th in enumerate(THEMES):
        q = theme_terms(th)[:3]
        text, pruned_fn = query_spec(th_idx, q)

        def run_exact():
            os.environ["SPARK_GRAFT_NO_PRUNE"] = "1"
            try:
                return [
                    tuple(r) for r in eng.search(text, args.k).collect()
                ]
            finally:
                del os.environ["SPARK_GRAFT_NO_PRUNE"]

        st = PruneStats()

        def run_pruned():
            nonlocal st
            st = PruneStats()
            res = pruned_fn(st)
            assert res is not None, "pruned path refused an in-contract query"
            return [tuple(r) for r in res.collect()]

        # interleave reps (alternating order) so host-load drift during the
        # theme hits both plans symmetrically instead of biasing whichever
        # runs second
        ew, et, pw, pt = [], [], [], []
        exact_rows = pruned_rows = None
        for rep in range(args.reps):
            runs = [("e", run_exact), ("p", run_pruned)]
            if rep % 2:
                runs.reverse()
            for tag, fn in runs:
                t_before = executor_run_ms(spark)
                t0 = time.time()
                res = fn()
                wall = time.time() - t0
                task = (
                    (executor_run_ms(spark) - t_before) / 1000.0
                    if t_before >= 0
                    else -1.0
                )
                if tag == "e":
                    exact_rows = res
                    ew.append(wall)
                    et.append(task)
                else:
                    pruned_rows = res
                    pw.append(wall)
                    pt.append(task)
        exact_sec, exact_task = statistics.median(ew), statistics.median(et)
        pruned_sec, pruned_task = statistics.median(pw), statistics.median(pt)

        identical = exact_rows == pruned_rows
        row = {
            "theme": th,
            "terms": q,
            "query": text,
            "k": args.k,
            "identical": identical,
            "blocks_scanned": st.n_blocks_scanned,
            "blocks_total": st.n_blocks_total,
            "ranges_scanned": st.n_ranges_scanned,
            "ranges_total": st.n_ranges_total,
            "theta": round(st.theta, 3),
            "exact_sec": round(exact_sec, 3),
            "pruned_sec": round(pruned_sec, 3),
            "exact_task_sec": round(exact_task, 3),
            "pruned_task_sec": round(pruned_task, 3),
        }
        rows.append(row)
        print(json.dumps(row))
        if not identical:
            print(f"IDENTITY FAILURE theme {th}", file=sys.stderr)
            sys.exit(1)

    summary = {
        "metric": "block_max_pruning_evidence",
        "model": args.model,
        "n_files": args.n_files,
        "block_size": args.block_size,
        "k": args.k,
        "cores": args.cores,
        "queries": len(rows),
        "identical_all": all(r["identical"] for r in rows),
        "blocks_scanned_sum": sum(r["blocks_scanned"] for r in rows),
        "blocks_total_sum": sum(r["blocks_total"] for r in rows),
        "skip_pct": round(
            100.0
            * (1 - sum(r["blocks_scanned"] for r in rows) / max(1, sum(r["blocks_total"] for r in rows))),
            1,
        ),
        "exact_sec_median": round(statistics.median([r["exact_sec"] for r in rows]), 3),
        "pruned_sec_median": round(statistics.median([r["pruned_sec"] for r in rows]), 3),
        "exact_task_sec_median": round(
            statistics.median([r["exact_task_sec"] for r in rows]), 3
        ),
        "pruned_task_sec_median": round(
            statistics.median([r["pruned_task_sec"] for r in rows]), 3
        ),
    }
    # the generation's resident planning metadata, loaded by the warm-up
    vocab, blocks = pidx.reads.vocab(), pidx.reads.blocks()
    summary.update({
        "resident_meta_blocks": len(blocks.cols["n"]),
        "resident_meta_terms": len(vocab.df),
        "resident_meta_bytes": vocab.nbytes + blocks.nbytes,
        "resident_meta_load_s": round(vocab.load_s + blocks.load_s, 3),
    })
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
