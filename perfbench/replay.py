"""Single-threaded, in-process replay of the ``core`` layers.

The input is read in the Arrow batch size the Spark job uses
(``session.ARROW_MAX_RECORDS_PER_BATCH``).  Each batch goes once through
``core.extract.extract_batch_pdf`` as a whole, and once through the public
functions it is built from, each timed on its own:
``classify.classify_series``, ``html_strip.html_strip_one``,
``pdf_layout.pdf_layout_one`` and ``normalize.normalize_series`` /
``normalize.normalize_one``.  ``core.extract.bookkeeping_s`` is what the whole
call costs beyond those four.
"""

from __future__ import annotations

import glob
import os
import time

import pyarrow.parquet as pq


def replay(data_dir: str, run_id: str, parent: str) -> tuple[dict, list[dict]]:
    from document_extraction_spark.core import classify as C
    from document_extraction_spark.core import extract as E
    from document_extraction_spark.core import html_strip as H
    from document_extraction_spark.core import normalize as N
    from document_extraction_spark.core import pdf_layout as P
    from document_extraction_spark.session import ARROW_MAX_RECORDS_PER_BATCH

    busy = dict.fromkeys(("extract", "classify", "html_strip", "pdf_layout", "normalize"), 0.0)
    count = dict.fromkeys(("turns", "html", "pdf", "plain", "normalize", "parse_failed",
                           "blocks_kept", "blocks_dropped"), 0)
    kb = {"html": 0.0, "pdf": 0.0}
    payloads: set[str] = set()
    spans: list[dict] = []
    clock = time.perf_counter
    cols = ["conv_id", "turn_idx", "role", "tool", "ts", "text"]
    batch_no = 0
    for path in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        for rb in pq.ParquetFile(path).iter_batches(
                batch_size=int(ARROW_MAX_RECORDS_PER_BATCH), columns=cols):
            pdf = rb.to_pandas()
            wall0 = time.time()
            t0 = clock()
            out = E.extract_batch_pdf(pdf)
            busy["extract"] += clock() - t0
            count["turns"] += len(pdf)
            count["parse_failed"] += int(out["parse_failed"].sum())
            payloads.update(pdf["text"].fillna(""))

            raw = pdf["text"].fillna("").astype("object")
            t0 = clock()
            kind = C.classify_series(raw)
            busy["classify"] += clock() - t0
            plain = raw[kind == C.KIND_PLAIN]
            count["plain"] += len(plain)
            count["normalize"] += len(plain)
            t0 = clock()
            N.normalize_series(plain)
            busy["normalize"] += clock() - t0
            for k, layer, fn in ((C.KIND_HTML, "html_strip", H.html_strip_one),
                                 (C.KIND_PDF, "pdf_layout", P.pdf_layout_one)):
                for s in raw[kind == k]:
                    t0 = clock()
                    blocks, n_kept, n_dropped, _ = fn(s)
                    t1 = clock()
                    for b in blocks:
                        N.normalize_one(b, fence=False)
                    busy["normalize"] += clock() - t1
                    busy[layer] += t1 - t0
                    count[k] += 1
                    count["normalize"] += 1
                    kb[k] += len(s.encode("utf-8")) / 1024
                    if k == C.KIND_HTML:
                        count["blocks_kept"] += n_kept
                        count["blocks_dropped"] += n_dropped
            spans.append({"name": f"{parent}/batch", "id": f"{parent}/batch:{batch_no}",
                          "parent": parent, "run_id": run_id, "start": wall0,
                          "end": time.time(), "rows": len(pdf)})
            batch_no += 1

    sub = busy["classify"] + busy["html_strip"] + busy["pdf_layout"] + busy["normalize"]
    m = {
        "core.classify.busy_s": busy["classify"],
        "core.classify.html_turns": count["html"],
        "core.classify.pdf_turns": count["pdf"],
        "core.classify.plain_turns": count["plain"],
        "core.html_strip.busy_s": busy["html_strip"],
        "core.html_strip.turns": count["html"],
        "core.html_strip.kb_in": kb["html"],
        "core.html_strip.us_per_kb": 1e6 * busy["html_strip"] / kb["html"] if kb["html"] else 0.0,
        "core.html_strip.blocks_kept": count["blocks_kept"],
        "core.html_strip.blocks_dropped": count["blocks_dropped"],
        "core.pdf_layout.busy_s": busy["pdf_layout"],
        "core.pdf_layout.turns": count["pdf"],
        "core.pdf_layout.kb_in": kb["pdf"],
        "core.pdf_layout.us_per_kb": 1e6 * busy["pdf_layout"] / kb["pdf"] if kb["pdf"] else 0.0,
        "core.normalize.busy_s": busy["normalize"],
        "core.normalize.turns": count["normalize"],
        "core.extract.busy_s": busy["extract"],
        "core.extract.turns_per_core_s": count["turns"] / busy["extract"],
        "core.extract.bookkeeping_s": busy["extract"] - sub,
        "core.extract.parse_failed": count["parse_failed"],
        "core.extract.distinct_payload_frac": len(payloads) / max(count["turns"], 1),
    }
    return m, spans
