"""Traced run: per-layer metrics, timed from outside the program.

1. Setup as in the untraced run: seeded corpus, session and the checked
   pass.
2. The plan-truncation ladder runs each prefix of ``extract()`` to a noop
   sink, in plan order: scan → +``split_giant_tail`` → +``with_doctype``
   → +identity ``mapInPandas`` (``DOC_SCHEMA`` shape) →
   +``make_extract_doc_map()`` → full ``extract()``. Each step runs once
   per round, three interleaved rounds, after one warm-up ``extract()``
   pass in a session restarted just before, with the Spark event log on.
   The layer slices come from this traced ladder: each is the difference
   of adjacent steps, and ``extract.unattributed_s`` is the full wall
   minus the kernel-map step, so the slices sum to the full wall.
3. crawl_mix only, in the traced session after its ladder:
   ``run_extract_job`` over the same corpus in 4 buckets, groups of 2,
   killed with ``max_buckets=2`` and resumed, after one warm-up job; its
   progress, lineage and parquet-sink calls are wrapped in timers, and
   its outputs are checked.
4. ``trace.overhead_s`` is the traced full-step median minus the median
   of untraced full steps, three rounds each in a session restarted with
   the event log off and warmed up the same way, once before the traced
   ladder and once after it. Later sessions run faster in the warmer JVM,
   so the traced ladder is compared with untraced runs on both sides.
5. The kernel arm table (driver-side, single core; see kernels.py).
6. The session stops and the event log becomes a per-stage table.
"""

from __future__ import annotations

import functools
import os
import shutil
import time
from collections import defaultdict

import pandas as pd
from pyspark.sql import functions as F

from perfbench import corpus, eventlog, extraction, kernels
from perfbench.common import median, noop

THRESHOLD = 1 << 20
ROUNDS = 3        # ladder rounds; every step runs once per round
# run_extract_job layout: buckets, group size, buckets done before the kill
N_BUCKETS, GROUP_SIZE, KILL_AT = 4, 2, 2
JOB_WORKLOAD = "crawl_mix"

JOB_UNITS = {"job.first_half_s": "s", "job.resume_s": "s",
             "job.overhead_ratio": "ratio", "job.map_rows_per_doc": "ratio",
             "progress.pending_s": "s", "progress.mark_done_s": "s",
             "lineage.s": "s", "sink.parquet_write_s": "s"}


def identity_doc_map(batches):
    """mapInPandas with the kernel's input and output shape and no work."""
    for b in batches:
        n = len(b)
        yield pd.DataFrame({"url": b["url"], "raw": [None] * n,
                            "segments": [None] * n,
                            "parser_used": ["IDENTITY"] * n,
                            "error": [None] * n})


def ladder(pages, n_parts: int) -> dict:
    """Step name → DataFrame: each a prefix of extract()'s plan."""
    from lexoid_spark.functions.udfs import DOC_SCHEMA, make_extract_doc_map
    from lexoid_spark.operators.partitioning import split_giant_tail
    from lexoid_spark.operators.routing import with_doctype
    from lexoid_spark.plans.extract import extract

    scan = pages.select("url", "html", "n_bytes")
    split = split_giant_tail(scan, n_parts, payload_col="n_bytes",
                             threshold_bytes=THRESHOLD)
    sniff = with_doctype(split)
    body = sniff.select("url", "doctype", "html")
    return {
        "scan": scan,
        "split": split,
        "sniff": sniff,
        "identity": body.mapInPandas(identity_doc_map, DOC_SCHEMA),
        "kernel": body.mapInPandas(make_extract_doc_map(), DOC_SCHEMA),
        "full": extract(pages, run_id="bench",
                        giant_threshold_bytes=THRESHOLD)["extracted"],
    }


def _tagged(spark, step: str, fn):
    """Run ``fn`` with its Spark jobs tagged ``step``; → (result, wall)."""
    spark.sparkContext.setLocalProperty(eventlog.STEP_PROP, step)
    try:
        t0 = time.perf_counter()
        out = fn()
        return out, time.perf_counter() - t0
    finally:
        spark.sparkContext.setLocalProperty(eventlog.STEP_PROP, None)


class _Timers:
    """Wraps functions the job module calls, summing wall per name."""

    def __init__(self):
        self.s = defaultdict(float)
        self._undo = []

    def wrap(self, owner, attr: str, name_of):
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def timed(*a, **kw):
            t0 = time.perf_counter()
            try:
                return orig(*a, **kw)
            finally:
                name = name_of(*a, **kw)
                if name:
                    self.s[name] += time.perf_counter() - t0

        setattr(owner, attr, timed)
        self._undo.append((owner, attr, orig))

    def restore(self):
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()


def _sink_name(writer, path, *a, **kw):
    leaf = os.path.basename(os.path.normpath(path))
    return {"extracted": "sink.parquet_write_s",
            "errors": "sink.parquet_write_s",
            "lineage": "lineage.s"}.get(leaf)


def _job(spark, pages_path, out, max_buckets=None):
    from lexoid_spark.plans.job import run_extract_job

    return run_extract_job(spark, pages_path, out, run_id="bench",
                           n_buckets=N_BUCKETS, group_size=GROUP_SIZE,
                           max_buckets=max_buckets)


def _job_layers(ctx, spark, pages_path: str, extract_wall: float,
                goldens: dict, res) -> tuple[int, int]:
    """One killed-and-resumed job after a warm-up one, with the progress,
    lineage and sink calls timed; checks its outputs → (attempted,
    failed)."""
    from pyspark.sql.readwriter import DataFrameWriter

    from lexoid_spark.plans import job

    out = ctx.work.sub("job")
    _job(spark, pages_path, out, max_buckets=KILL_AT)        # warm-up
    _job(spark, pages_path, out)
    shutil.rmtree(out, ignore_errors=True)
    timers = _Timers()
    timers.wrap(job, "pending_buckets", lambda *a, **k: "progress.pending_s")
    timers.wrap(job, "mark_done", lambda *a, **k: "progress.mark_done_s")
    timers.wrap(DataFrameWriter, "parquet", _sink_name)
    try:
        first, first_s = _tagged(spark, "job", lambda: _job(
            spark, pages_path, out, max_buckets=KILL_AT))
        rest, resume_s = _tagged(spark, "job", lambda: _job(
            spark, pages_path, out))
    finally:
        timers.restore()
    res.metric("job.first_half_s", first_s, "s")
    res.metric("job.resume_s", resume_s, "s")
    res.metric("job.overhead_ratio", (first_s + resume_s) / extract_wall,
               "ratio")
    for name in ("progress.pending_s", "progress.mark_done_s", "lineage.s",
                 "sink.parquet_write_s"):
        res.metric(name, timers.s[name], "s")

    # every url exactly once with its golden digest; the resume skipped
    # exactly the killed buckets; lineage n_docs sums to the output
    rows = job.read_extracted(spark, out).select(
        "url", F.md5("raw")).collect()
    attempted, failed, _ = corpus.check_extracted(
        [(r[0], r[1]) for r in rows], goldens)
    lineage_docs = spark.read.parquet(os.path.join(out, "lineage")).agg(
        F.sum("n_docs")).first()[0]
    ok = (len(first.buckets_done) == KILL_AT
          and rest.buckets_skipped == KILL_AT
          and len(rest.buckets_done) == N_BUCKETS - KILL_AT
          and first.n_docs + rest.n_docs == len(rows) == lineage_docs)
    res["detail"].update(job_docs=len(rows), lineage_docs=lineage_docs)
    return attempted, failed + (not ok)


def _ladder_walls(ctx, event_log: bool, only=None) -> tuple[dict, dict]:
    """Restart the session, warm up, then run every ladder step (or the
    steps in ``only``) once per round, interleaved → (step → DataFrame,
    step → walls)."""
    spark = ctx.restart_session(event_log)
    pages = spark.read.parquet(ctx.work.sub("pages"))
    steps = ladder(pages, int(spark.conf.get("spark.sql.shuffle.partitions")))
    if only:
        steps = {k: steps[k] for k in only}
    noop(steps["full"])                                      # warm-up
    walls = defaultdict(list)
    for r in range(ROUNDS):
        for name, df in steps.items():
            walls[name].append(
                _tagged(spark, f"{name}#{r}", lambda d=df: noop(d))[1])
    return steps, walls


def run(ctx):
    res = extraction.Result()
    with_tail, n_docs = extraction.CORPUS[ctx.workload]
    _, pages, goldens = extraction.setup_pages(ctx, with_tail, n_docs)
    pages_path = ctx.work.sub("pages")
    attempted, failed, _ = extraction.check_pass(pages, goldens)
    res.update(attempted=attempted, failed=failed)

    _, before = _ladder_walls(ctx, event_log=False, only=("full",))
    steps, walls = _ladder_walls(ctx, event_log=True)
    w = {k: median(v) for k, v in walls.items()}
    if ctx.workload == JOB_WORKLOAD:  # in the traced session
        att, bad = _job_layers(ctx, ctx.session(), pages_path, w["full"],
                               goldens, res)
        res.update(attempted=res["attempted"] + att,
                   failed=res["failed"] + bad)
    _, after = _ladder_walls(ctx, event_log=False, only=("full",))

    res.metric("sources.scan_s", w["scan"], "s")
    res.metric("partitioning.split_s", w["split"] - w["scan"], "s")
    res.metric("routing.sniff_s", w["sniff"] - w["split"], "s")
    res.metric("udfs.arrow_roundtrip_s", w["identity"] - w["sniff"], "s")
    res.metric("udfs.kernel_map_s", w["kernel"] - w["identity"], "s")
    res.metric("extract.unattributed_s", w["full"] - w["kernel"], "s")
    res.metric("extract.full_s", w["full"], "s")
    res.metric("trace.overhead_s",
               w["full"] - median(before["full"] + after["full"]), "s")
    pages = ctx.session().read.parquet(pages_path)
    res.metric("partitioning.tail_docs", pages.filter(
        F.col("n_bytes") > THRESHOLD).count(), "count")

    for arm, (ms_doc, ms_kib) in kernels.arm_table(ctx.seed).items():
        res.metric(f"kernels.{arm}.ms_per_doc", ms_doc, "ms")
        res.metric(f"kernels.{arm}.ms_per_kib", ms_kib, "ms/KiB")

    ctx.stop_session()
    log = eventlog.EventLog(eventlog.find_log(ctx.work.sub("events")))
    last = f"#{ROUNDS - 1}"
    kernel_stage = max(log.stages("full" + last), key=lambda s: s["task_s_sum"])
    res.metric("stage.tasks", kernel_stage["tasks"], "count")
    res.metric("stage.task_s_p50", kernel_stage["task_s_p50"], "s")
    res.metric("stage.task_s_max", kernel_stage["task_s_max"], "s")
    res.metric("stage.straggler_ratio", kernel_stage["straggler_ratio"],
               "ratio")
    res.metric("stage.gc_s", kernel_stage["gc_s"], "s")
    res.metric("partitioning.shuffle_write_mib", sum(
        s["shuffle_write_mib"] for s in log.stages("split" + last)), "MiB")
    if ctx.workload == JOB_WORKLOAD:
        res.metric("job.map_rows_per_doc",
                   log.map_input_rows("job") / n_docs, "ratio")
    else:
        for name, unit in JOB_UNITS.items():  # no job layer here
            res.metric(name, 0.0, unit)
    res.metric("session.start_s", ctx.phases["session.start_s"], "s")
    res.metric("corpus.gen_s", ctx.phases["corpus.gen_s"], "s")
    res["detail"].update(
        ladder_walls=dict(walls), untraced_before=dict(before),
        untraced_after=dict(after),
        stages={k: log.stages(k + last) for k in steps},
        job_stages=log.stages("job"))
    return res

