"""Benchmark entry point.

    python3 perfbench/run.py --workload range_read --seed 1 --seconds 10 --trace 0

Run from the repository root.  Prints every metric by name with its unit,
the verification verdict and the run's contention context, then, as the
last line, one JSON object ``{"correct", "attempted", "failed",
"metrics"}``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics (and a span dump under ``.bench_build/perfbench/``) with
``--trace 1``.  Exits non-zero, printing no result, when the package is
missing or a run cannot complete.
"""

from __future__ import annotations

import argparse
import importlib
import os
import sys
import time

WORKLOADS = ("range_read", "ingest_mix", "analytics")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    t0 = time.time()
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from perfbench import harness

    run = harness.Run(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        importlib.import_module(f"perfbench.{args.workload}").main(run)
    finally:
        run.close()
    print(f"total {time.time() - t0:.1f} s", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
