"""The extraction workloads, crawl_mix and giant_tail: ``extract()`` →
noop sink.

Each run: generate the seeded corpus with its goldens, start the session,
run one checked and two plain warm-up passes, then closed-loop timed
passes.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from perfbench import corpus
from perfbench.common import RssSampler, Stopwatch, Timed, noop

CRAWL_DOCS = 2000
GIANT_DOCS = 300
# untimed noop passes after the checked one: the first passes of a fresh
# session run slower (JVM JIT, Python worker warm-up)
WARM_PASSES = 2


class Result(dict):
    """Metrics plus check counts for one run."""

    def __init__(self):
        super().__init__(metrics={}, attempted=0, failed=0, detail={})

    def metric(self, name: str, value: float, unit: str) -> None:
        self["metrics"][name] = {"value": float(value), "unit": unit}


CORPUS = {  # workload → (with the >1 MiB tail, docs)
    "crawl_mix": (False, CRAWL_DOCS),
    "giant_tail": (True, GIANT_DOCS),
}


def extract_pass(pages):
    from lexoid_spark.plans.extract import extract

    return extract(pages, run_id="bench")["extracted"]


def setup_pages(ctx, with_tail: bool, n_docs: int):
    """Corpus, then session: the corpus is generated before the JVM
    starts, so the Python workers run nothing but ``extract()`` and
    their peak RSS is its own."""
    sw = Stopwatch()
    path = ctx.work.sub("pages")
    goldens = corpus.write_pages(path, ctx.seed, n_docs, with_tail)
    ctx.phase("corpus.gen_s", sw.lap())
    spark = ctx.session()
    ctx.phase("session.start_s", sw.lap())
    return spark, spark.read.parquet(path), goldens


def check_pass(pages, goldens):
    """Warm-up pass that doubles as the output check: per-url digest of
    ``raw`` against the goldens → (attempted, failed, quarantined)."""
    rows = extract_pass(pages).select("url", F.md5("raw")).collect()
    return corpus.check_extracted([(r[0], r[1]) for r in rows], goldens)


def extract_to_noop(ctx) -> Result:
    res = Result()
    sw = Stopwatch()
    with_tail, n_docs = CORPUS[ctx.workload]
    _, pages, goldens = setup_pages(ctx, with_tail, n_docs)
    laps = Stopwatch()
    attempted, failed, quarantined = check_pass(pages, goldens)
    ctx.phase("check_pass_s", laps.lap())
    for _ in range(WARM_PASSES):
        noop(extract_pass(pages))
    ctx.phase("warm_s", laps.lap())
    setup = sw.lap()
    timed = Timed()
    with RssSampler() as rss:
        timed.run(lambda: noop(extract_pass(pages)), ctx.seconds)
    res.update(attempted=attempted, failed=failed)
    res.metric("docs_per_s", n_docs / timed.median, "1/s")
    res.metric("wall_s", timed.median, "s")
    res.metric("setup_s", setup, "s")
    res.metric("worker_rss_mib", rss.peak_mib, "MiB")
    res.metric("ok_frac", (attempted - quarantined) / attempted, "frac")
    res["detail"].update(samples=len(timed.walls), walls=timed.walls,
                         docs=n_docs, quarantined=quarantined,
                         steal_frac=timed.steals)
    return res

