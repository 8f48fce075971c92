"""Seeded pages corpora for the extraction workloads, written to parquet
with a per-url golden digest.

Rows come from ``lexoid_spark.corpus.gen.gen_page_row`` (every fixture
class, 2% 146-KiB HTML giants) at doc indices ``doc_base(seed, n) ..``;
``giant_tail`` adds its own HTML pages above ``extract()``'s 1 MiB
``giant_threshold_bytes`` and a ~350 KiB band, built the way
``corpus/gen.py`` builds its giants. The golden digest is the md5 of
``golden_raw_for_row`` (the driver-side kernel dispatch), or null when
the kernel raises and the document is expected in quarantine.
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.common import md5_text, nproc

P_GIANT = 0.02
TAIL_PERIOD = 50        # one tail page and one band page per 50 docs
# sections per page: fixed, so every seed has the same size profile and
# seeds differ only in text (1.11 MB tail pages, 353 KB band pages)
TAIL_SECTIONS = 3000
BAND_SECTIONS = 950
# seeds fold into this many corpus slots: gen_page_row stamps doc i at
# EPOCH + 37 i seconds, which leaves the datetime range for i near 1e11
SEED_SLOTS = 100_000

_WORDS = (
    "data spark table query scan filter join group sort merge batch "
    "stream window value column row key hash part order line fast slow "
    "big small vector agg customer index page text block cache shard"
).split()

PAGES_SCHEMA = pa.schema([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
    ("n_bytes", pa.int64()), ("golden", pa.string())])


def _big_html(i: int, kind: str, sections: int) -> bytes:
    r = random.Random(77_000_000 + i)
    block = "".join(
        f"<h3>{kind} section {i}.{k}</h3><p>"
        + " ".join(r.choice(_WORDS) for _ in range(60)) + "</p>"
        for k in range(8)
    )
    return (f"<html><body><h1>{kind} {i}</h1>{block * (sections // 8)}"
            "</body></html>").encode()


def doc_base(seed: int, n_docs: int) -> int:
    """First doc index of the corpus for ``seed``: any int, negative or
    past 2**63 too, gives a slot below 1e5 * ``n_docs``."""
    return (seed % SEED_SLOTS) * n_docs


def page_row(i: int, with_tail: bool):
    """One pages row for doc index ``i``."""
    from lexoid_spark.corpus.gen import EPOCH, gen_page_row

    if with_tail and i % TAIL_PERIOD in (23, 41):
        kind = "tail" if i % TAIL_PERIOD == 23 else "band"
        payload = _big_html(i, kind,
                            TAIL_SECTIONS if kind == "tail" else BAND_SECTIONS)
        return (f"https://fixtures.test/html_{kind}/{i:08d}", EPOCH,
                payload, "", "en")
    return gen_page_row(i, P_GIANT)


def golden(url: str, payload: bytes):
    from lexoid_spark.corpus.gen import golden_raw_for_row

    try:
        return md5_text(golden_raw_for_row(url, payload))
    except Exception:  # the pipeline must quarantine this document
        return None


def _write_part(path: str, k: int, ids: range, with_tail: bool) -> None:
    rows = []
    for i in ids:
        url, ts, payload, text, lang = page_row(i, with_tail)
        rows.append((url, ts, payload, text, lang, len(payload),
                     golden(url, payload)))
    cols = dict(zip(PAGES_SCHEMA.names, zip(*rows)))
    pq.write_table(pa.table(cols, schema=PAGES_SCHEMA),
                   os.path.join(path, f"part-{k:05d}.parquet"))


def write_pages(path: str, seed: int, n_docs: int,
                with_tail: bool = False) -> dict:
    """Generate the seeded corpus into ``path`` (16 parquet files) and
    return {url: golden}.

    The files are written by one forked process per core, before the
    Spark session starts, so no Spark Python worker ever runs the
    generator. Plain fork and waitpid: no semaphores, no files outside
    the work tree."""
    from lexoid_spark.corpus.gen import golden_raw_for_row  # noqa: F401

    lo = doc_base(seed, n_docs)
    per = -(-n_docs // 16)
    parts = [range(lo + k * per, lo + min(n_docs, (k + 1) * per))
             for k in range(16)]
    os.makedirs(path)
    procs = nproc()
    pids = []
    for w in range(procs):
        pid = os.fork()
        if pid == 0:  # never returns into the caller's frames
            code = 1
            try:
                for k in range(w, 16, procs):
                    if parts[k]:
                        _write_part(path, k, parts[k], with_tail)
                code = 0
            finally:
                os._exit(code)
        pids.append(pid)
    bad = [pid for pid in pids
           if os.waitstatus_to_exitcode(os.waitpid(pid, 0)[1]) != 0]
    if bad:
        raise RuntimeError(f"corpus generator processes {bad} failed")
    table = pq.read_table(path, columns=["url", "golden"])
    return dict(zip(table["url"].to_pylist(), table["golden"].to_pylist()))


def check_extracted(rows, goldens: dict) -> tuple[int, int, int]:
    """Compare collected (url, md5) rows against the goldens.

    Returns (attempted, failed, quarantined): a failure is a wrong or
    missing digest, a duplicate url, an unknown url, or an unexpected
    quarantine."""
    seen: dict = {}
    failed = 0
    for url, digest in rows:
        if url in seen or url not in goldens:
            failed += 1
        seen[url] = digest
    quarantined = 0
    for url, want in goldens.items():
        got = seen.get(url)
        if got is None:
            quarantined += 1
            if want is not None:
                failed += 1
        elif got != want:
            failed += 1
    return len(goldens), failed, quarantined
