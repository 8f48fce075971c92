"""Run the benchmark over several seeds and report, per workload and
end-to-end metric, the median and the quartile spread (Q3 - Q1) / median.

    python3 perfbench/spread.py --seeds 1-10 [--out spread.json]

Runs are sequential; each is ``perfbench/run.py --trace 0`` with the
workloads and ``run_seconds`` of BENCHMARK.json. The JSON written to
``--out`` holds every run's result line and the summary.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _seeds(spec: str) -> list[int]:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def summarize(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0, "n": len(values)}


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--out", default=None)
    args = p.parse_args(argv)

    runs, summary = [], {}
    for wl in (w["name"] for w in bench["workloads"]):
        per_metric: dict[str, list[float]] = {}
        for seed in _seeds(args.seeds):
            t0 = time.monotonic()
            proc = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"),
                 "--workload", wl, "--seed", str(seed),
                 "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True)
            total = time.monotonic() - t0
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                print(f"{wl} seed {seed}: exit {proc.returncode}\n"
                      f"{proc.stderr[-2000:]}", file=sys.stderr)
                return 1
            result = json.loads(lines[-1])
            runs.append({"workload": wl, "seed": seed, "run_s": total,
                         "detail": json.loads(lines[-2]), "result": result})
            for name, m in result["metrics"].items():
                per_metric.setdefault(name, []).append(m["value"])
            print(f"{wl} seed {seed} ({total:.0f} s): " + ", ".join(
                f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()),
                flush=True)
        summary[wl] = {k: summarize(v) for k, v in per_metric.items()}
        for k, s in summary[wl].items():
            print(f"  {wl} {k}: median {s['median']:.4g} "
                  f"spread {s['spread']:.3f}", flush=True)
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"runs": runs, "summary": summary}, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
