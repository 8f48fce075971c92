"""Extraction benchmark entry point.

    python3 perfbench/run.py --workload crawl_mix --seed 1 --seconds 20 \
        --trace 0

Runs one workload at local[nproc] from this single driver process,
checks its outputs and prints, as the last stdout line, one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
A detail line (sample counts, per-pass walls, host probe) precedes it.
Exits non-zero when an output check fails or the repository is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys

_HERE = os.path.dirname(os.path.abspath(__file__))
_ROOT = os.path.dirname(_HERE)
sys.path.insert(0, _ROOT)


def _parse(argv):
    from perfbench.extraction import CORPUS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(CORPUS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = _parse(argv)
    for need in ("lexoid_spark/__init__.py", "__spark_entry__.py"):
        if not os.path.isfile(os.path.join(_ROOT, need)):
            print(f"perfbench: {need} not found under {_ROOT}; run from a "
                  "checkout of the repository", file=sys.stderr)
            return 2
    from perfbench.context import Context

    # SIGTERM unwinds through Context.__exit__, which stops the JVM and
    # the Python workers and removes the work tree
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    with Context(args.workload, args.seed, args.seconds,
                 bool(args.trace)) as ctx:
        res = ctx.run()
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "trace": args.trace, **res["detail"]}))
    correct = res["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": res["metrics"]}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
