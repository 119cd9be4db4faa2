#!/usr/bin/env python3
"""Repository benchmark: the QC engine at the host's core count.

Usage (from the repository root):

    python3 perfbench/run.py --workload batch_daily --seed 1 --seconds 10 --trace 0

Workloads are listed in BENCHMARK.json and explained in perfbench/NOTES.md.
``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
ones from a traced run. Lines before the last are per-run details (each
with the 1-minute load average); the last line is one JSON object:

    {"correct": true, "attempted": 4, "failed": 0, "metrics": {name: {"value": v, "unit": u}}}

Every file the run writes goes under ``.perfbench_work/`` in the root.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("batch_daily", "stream_drain")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input size; 'tiny' is for the self-test")
    args = ap.parse_args()

    import host

    work = os.path.join(ROOT, ".perfbench_work")
    conf = host.pin(work)
    sys.path.insert(0, ROOT)
    import workloads

    b = workloads.Bench(args.workload, args.seed, args.seconds, args.size, work, conf, T_START)
    try:
        res = workloads.RUNNERS[args.workload](b, bool(args.trace))
    finally:
        shutil.rmtree(b.scratch, ignore_errors=True)
    for d in res.details:
        print(json.dumps(d), flush=True)
    if res.mismatch:
        print(json.dumps({"mismatch": res.mismatch}), flush=True)
    print(
        json.dumps(
            {
                "correct": res.failed == 0,
                "attempted": res.attempted,
                "failed": res.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in res.metrics.items()},
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
