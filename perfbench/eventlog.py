"""Spark event log → per-stage table and SQL row counts.

The benchmark enables the log itself (``spark.eventLog.*`` through
``get_spark(extra_conf=...)``) and tags each job with the local property
``perfbench.step``; this module groups the log by that tag.

    python3 perfbench/eventlog.py <event log file>   # prints the table
"""

from __future__ import annotations

import json
import os
import statistics
import sys
from collections import defaultdict

STEP_PROP = "perfbench.step"


def _load(path: str):
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line:
                yield json.loads(line)


def find_log(events_dir: str) -> str:
    files = [os.path.join(events_dir, f) for f in os.listdir(events_dir)]
    if not files:
        raise FileNotFoundError(f"no event log under {events_dir}")
    return max(files, key=os.path.getmtime)


class EventLog:
    def __init__(self, path: str):
        self.stage_step: dict[int, str] = {}
        self.exec_step: dict[int, str] = {}
        self.tasks: dict[int, list[dict]] = defaultdict(list)
        self.plans: dict[int, list[dict]] = defaultdict(list)
        self.acc_updates: dict[int, int] = defaultdict(int)
        for ev in _load(path):
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                step = props.get(STEP_PROP)
                if step is None:
                    continue
                for sid in ev.get("Stage IDs", []):
                    self.stage_step[sid] = step
                eid = props.get("spark.sql.execution.id")
                if eid is not None:
                    self.exec_step[int(eid)] = step
            elif kind == "SparkListenerTaskEnd":
                info = ev.get("Task Info", {})
                met = ev.get("Task Metrics") or {}
                shuffle = met.get("Shuffle Write Metrics") or {}
                self.tasks[ev["Stage ID"]].append({
                    "s": (info.get("Finish Time", 0)
                          - info.get("Launch Time", 0)) / 1000.0,
                    "gc_s": met.get("JVM GC Time", 0) / 1000.0,
                    "shuffle_bytes": shuffle.get("Shuffle Bytes Written", 0),
                })
                for acc in info.get("Accumulables", []):
                    upd = acc.get("Update")
                    if isinstance(upd, (int, float)) or (
                            isinstance(upd, str) and upd.lstrip("-").isdigit()):
                        self.acc_updates[acc["ID"]] += int(upd)
            elif kind.endswith("SparkListenerSQLExecutionStart") or \
                    kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                plan = ev.get("sparkPlanInfo")
                if plan:
                    self.plans[int(ev["executionId"])].append(plan)

    def stages(self, step: str) -> list[dict]:
        """Per-stage table for every stage run under ``step``."""
        out = []
        for sid in sorted(s for s, st in self.stage_step.items()
                          if st == step and self.tasks.get(s)):
            ts = self.tasks[sid]
            secs = [t["s"] for t in ts]
            p50 = statistics.median(secs)
            out.append({
                "stage": sid, "tasks": len(ts),
                "task_s_p50": p50, "task_s_max": max(secs),
                "task_s_sum": sum(secs),
                "straggler_ratio": max(secs) / p50 if p50 > 0 else 0.0,
                "shuffle_write_mib": sum(t["shuffle_bytes"] for t in ts)
                / 2**20,
                "gc_s": sum(t["gc_s"] for t in ts),
            })
        return out

    def map_input_rows(self, step: str) -> int:
        """Rows entering every ``MapInPandas`` node (the Python map) in
        the SQL executions of ``step``: the ``number of output rows``
        metric of the nearest descendants that carry one."""
        ids: set[int] = set()

        def rows_ids(p):
            for m in p.get("metrics", []):
                if m.get("name") == "number of output rows":
                    return [m["accumulatorId"]]
            out = []
            for c in p.get("children", []):
                out += rows_ids(c)
            return out

        def walk(p):
            if p.get("nodeName") == "MapInPandas":
                for c in p.get("children", []):
                    ids.update(rows_ids(c))
            for c in p.get("children", []):
                walk(c)

        for eid, plans in self.plans.items():
            if self.exec_step.get(eid) == step:
                for plan in plans:
                    walk(plan)
        return sum(self.acc_updates.get(i, 0) for i in ids)


def main(argv) -> int:
    log = EventLog(argv[0])
    steps = sorted(set(log.stage_step.values()))
    for step in steps:
        for row in log.stages(step):
            print(json.dumps({"step": step, **row}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
