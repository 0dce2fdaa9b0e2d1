"""Driver-side, single-thread layer trace over the pinned fixture pages.

Calls each layer through its public entry point, one layer at a time, so
the kernel's cost splits into DOM parse, Readability, extraction and the
Arrow boundary (decode, spans, encode) -- the interpretation versus
boundary-transfer split of "Accelerating Python UDFs in Vectorized Query
Execution" (CIDR 2022), measured outside Spark.
"""

from __future__ import annotations

import statistics
import time

import pyarrow as pa

from readability_1_spark.dom import JSDOMParser, ParseFatal
from readability_1_spark.extract import extract_one
from readability_1_spark.kernel import compute_spans, make_extraction_kernel
from readability_1_spark.readability import NoDocumentError, Readability

URL = "http://fakehost/test/page.html"
OPTS = {"classesToPreserve": ["caption"]}


def trace_layers(pages: list[tuple[str, str]], spans) -> dict:
    """Per-layer metrics over ``pages``; each pass is one span."""
    extract_one(pages[0][1], url=URL)  # per-process interpreter settings, once
    out: dict[str, float] = {}

    with spans.span("dom+readability"):
        parse_ms, per_kb, read_ms, attempts, docs = [], [], [], 0, 0
        for _slug, html in pages:
            t0 = time.perf_counter()
            try:
                doc = JSDOMParser().parse(html, URL)
            except (ParseFatal, RecursionError):
                continue
            ms = (time.perf_counter() - t0) * 1000.0
            parse_ms.append(ms)
            per_kb.append(ms / max(1.0, len(html.encode("utf-8")) / 1024.0))
            try:
                reader = Readability(doc, OPTS)
            except NoDocumentError:
                continue
            t0 = time.perf_counter()
            try:
                reader.parse()
            except Exception:  # extract_one reports any of these as a row status
                pass
            read_ms.append((time.perf_counter() - t0) * 1000.0)
            attempts += reader.metrics["attempts"]
            docs += 1
    out["dom.parse_ms"] = sum(parse_ms)
    out["dom.parse_ms_per_kb_p50"] = statistics.median(per_kb)
    out["dom.parse_ms_per_kb_max"] = max(per_kb)
    out["readability.parse_ms"] = sum(read_ms)
    out["readability.attempts"] = attempts
    out["readability.first_attempt_share"] = docs / attempts if attempts else 0.0

    with spans.span("extract"):
        doc_ms, results = [], []
        for _slug, html in pages:
            t0 = time.perf_counter()
            results.append(extract_one(html, url=URL))
            doc_ms.append((time.perf_counter() - t0) * 1000.0)
    out["extract.docs_per_s_1core"] = len(pages) / (sum(doc_ms) / 1000.0)
    out["extract.max_doc_ms"] = max(doc_ms)

    with spans.span("kernel.spans"):
        t0 = time.perf_counter()
        for r in results:
            if r["status"] == "ok":
                compute_spans(r["text_content"], r.get("paragraph_texts") or [])
        out["kernel.spans_ms"] = (time.perf_counter() - t0) * 1000.0

    with spans.span("kernel.batches"):
        kernel = make_extraction_kernel(url=URL)
        batch = pa.RecordBatch.from_pydict({
            "conv_id": [s for s, _ in pages], "turn_idx": [1] * len(pages),
            "text": [h for _, h in pages], "part_id": [0] * len(pages),
        })
        t0 = time.perf_counter()
        rows = sum(b.num_rows for b in kernel(iter([batch])))
        out["kernel.batch_ms"] = (time.perf_counter() - t0) * 1000.0
    if rows != len(pages):
        raise RuntimeError(f"kernel returned {rows} rows for {len(pages)} pages")
    out["kernel.boundary_ms"] = out["kernel.batch_ms"] - sum(doc_ms)
    return out
