#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds everything it measures from the
source tree in the working directory, on local[4], inside
``.perfbench_work/`` there. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` -- every
end-to-end metric of BENCHMARK.json with ``--trace 0``, every per-layer
metric with ``--trace 1`` (0 for a layer the workload does not exercise).
Workloads, metrics and the reasoning behind them: perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.time()  # set-up time counts from process start

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        ap.error(f"unknown workload {args.workload!r}")
    if not os.path.isdir(os.path.join(ROOT, "search_engine_spark")):
        print(f"no search_engine_spark package under {ROOT}: nothing to measure",
              file=sys.stderr)
        return 2
    sys.path[0] = ROOT  # the package root, not perfbench/ itself
    os.chdir(ROOT)

    from perfbench import ingest, serve
    from perfbench.common import prepare_work, stop_spark
    from perfbench.spans import Tracer

    work = prepare_work(ROOT, args.workload, args.seed)
    tracer = Tracer(enabled=bool(args.trace))
    mod = {"serve": serve, "ingest": ingest}[args.workload]
    try:
        res = mod.run(args.seed, args.seconds, tracer, work, T_START)
    finally:
        stop_spark()
        shutil.rmtree(work, ignore_errors=True)

    listed = spec["per_layer"] if args.trace else spec["end_to_end"]
    got = res["layers"] if args.trace else res["metrics"]
    missing = [m["name"] for m in spec["end_to_end"] if m["name"] not in res["metrics"]]
    if missing:
        raise RuntimeError(f"workload did not measure {missing}")
    metrics = {m["name"]: {"value": float(got.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in listed}
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "end_to_end": res["metrics"], **res["detail"]}))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
