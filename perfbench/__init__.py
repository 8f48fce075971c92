"""Extraction benchmark: workloads, output checks and layer tracing.

Run ``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>`` from any directory; see perfbench/README.md.
"""
