"""Kernel arm table: ``make_extract_doc_map()`` called driver-side on one
pandas batch per arm, single core, with HTML split into size bands.

Documents come from the same seeded generator as the workloads (doc
indices ``corpus.doc_base(seed, 1000) ..``), so every run times the same batch per seed.
"""

from __future__ import annotations

import time

import pandas as pd

from perfbench import corpus
from perfbench.common import median

# arm → (url class prefixes, batch size)
ARMS = {
    "html": (("html_headings", "html_lists_links", "html_table",
              "html_boilerplate", "html_invalid_bytes", "html_utf16"), 24),
    "html_146k": (("html_giant",), 4),
    "html_350k": (("html_band",), 3),
    "html_giant": (("html_tail",), 2),
    "pdf": (("pdf_plain", "pdf_headings", "pdf_styles", "pdf_indent",
             "pdf_rules_strike", "pdf_table", "pdf_links_emails",
             "pdf_multipage", "pdf_flate", "pdf_compact", "pdf_objstm",
             "pdf_cid", "pdf_xrefstm"), 24),
    "pdf_ocr": (("pdf_scanned",), 12),
    "image": (("img_scan",), 12),
    "office": (("docx_doc", "xlsx_sheet", "pptx_deck"), 12),
    "csv": (("csv_table",), 12),
    "txt": (("txt_plain",), 12),
}
SPAN = 400   # doc indices scanned per seed


def _arm_of(url: str):
    cls = url.split("/")[3]
    for arm, (prefixes, _n) in ARMS.items():
        if any(cls == p or (p in ("pdf_scanned", "img_scan")
                            and cls.startswith(p)) for p in prefixes):
            return arm
    raise ValueError(f"no kernel arm for {url}")


def batches(seed: int) -> dict[str, pd.DataFrame]:
    from lexoid_spark.kernels.pdf_md import sniff_doctype

    rows: dict[str, list] = {arm: [] for arm in ARMS}
    base = corpus.doc_base(seed, 1000)
    for i in range(base, base + SPAN):
        url, _ts, payload, _text, _lang = corpus.page_row(i, True)
        arm = _arm_of(url)
        if len(rows[arm]) < ARMS[arm][1]:
            rows[arm].append((url, sniff_doctype(payload), payload))
    return {arm: pd.DataFrame(r, columns=["url", "doctype", "html"])
            for arm, r in rows.items()}


def arm_table(seed: int) -> dict[str, tuple[float, float]]:
    """arm → (ms per doc, ms per KiB of payload), median of 2 calls
    after one warm call per arm on a small document (the large HTML
    bands share the ``html`` arm's warm-up)."""
    from lexoid_spark.functions.udfs import make_extract_doc_map

    fn = make_extract_doc_map()
    out = {}
    arm_batches = batches(seed)
    for arm, b in arm_batches.items():
        if not arm.startswith("html_"):
            list(fn(iter([b.iloc[:1]])))
    for arm, b in arm_batches.items():
        walls = []
        for _ in range(2):
            t0 = time.perf_counter()
            list(fn(iter([b])))
            walls.append(time.perf_counter() - t0)
        ms = median(walls) * 1000.0
        kib = sum(len(p) for p in b["html"]) / 1024.0
        out[arm] = (ms / len(b), ms / kib)
    return out
