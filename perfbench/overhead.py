#!/usr/bin/env python3
"""Tracing overhead: one untraced and one traced run of the same seed.

    python3 perfbench/overhead.py --workload serve --seed 1 [--seconds 10]

Prints the untraced end-to-end values next to the traced run's own
measurement of the same quantities (``trace.items_per_s``,
``trace.op_latency_s``) and their relative difference, plus the traced run's
per-layer metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _run(args, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
         "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace)],
        check=True, stdout=subprocess.PIPE, text=True,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    args = ap.parse_args()

    plain, traced = _run(args, 0), _run(args, 1)
    pm, tm = plain["metrics"], traced["metrics"]
    print(f"{'metric':28s} {'untraced':>12s} {'traced':>12s} {'overhead':>9s}")
    for name in ("items_per_s", "op_latency_s"):
        u, t = pm[name]["value"], tm[f"trace.{name}"]["value"]
        print(f"{name:28s} {u:12.4f} {t:12.4f} {(t - u) / u:+9.1%}")
    print(f"{'spans per item':28s} {tm['trace.spans_per_item']['value']:12.1f}")
    print(f"{'recorder s per item':28s} {tm['trace.overhead_s_per_item']['value']:12.2e}")
    print(json.dumps({"untraced": plain, "traced": traced}, indent=1))


if __name__ == "__main__":
    main()
