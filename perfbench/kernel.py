"""Serial passes of ``document.extract_document`` in this process.

The untraced pass gives ``document.serial_docs_per_s`` and the
per-document latency percentiles. The traced pass wraps the names
``operators/document.py`` calls and turns the spans into per-module
kernel times.
"""

from __future__ import annotations

import statistics
import time

from pdf_extractor_spark.operators import document

import spans as sp

# (layer metric, names document.py calls); the time of a layer is the
# summed duration of its spans
KERNEL_LAYERS = {
    "pdf_tokenizer.parse_pdf_ms": ["parse_pdf"],
    "layout.column_texts_ms": ["column_texts"],
    "spacing.cleanup_text_ms": ["cleanup_text"],
    "tables.ms": ["detect_tables", "dedup_tables", "exclude_table_words"],
    "footnotes.ms": ["find_markers", "find_definitions", "match_markers",
                     "completeness"],
    "filters.ms": ["detect_repeating_elements", "filter_metadata",
                   "is_scanned_page"],
    "textboxes.ms": ["detect_sidebars"],
    "scripts.ms": ["attach_scripts"],
    "quality.score_quality_ms": ["score_quality"],
    "inventory.ms": ["element_inventory", "dedup_words",
                     "zorder_overlap_count", "hallucination_scan"],
    "html_extract.extract_html_ms": ["extract_html"],
}
# counted only when called from the PDF branch's single pass
PDF_ONLY = {"tables.ms", "footnotes.ms", "filters.ms", "textboxes.ms",
            "scripts.ms"}
ENTRY_POINTS = ["extract_document", "extract_pdf_document",
                "_extract_pdf_once", "extract_html_document"]


def serial_pass(payloads: list[bytes], min_passes: int,
                min_seconds: float) -> dict:
    """Extract ``payloads`` in this thread, repeating the whole pass at
    least ``min_passes`` times and until ``min_seconds`` have gone by.

    A document's time is its median over the passes, and the rate is
    the document count over the sum of those medians: a burst of
    load on the machine slows one pass, not the median. Returns the
    rate, the pass count and the per-document medians."""
    times: list[list[float]] = [[] for _ in payloads]
    started = time.perf_counter()
    passes = 0
    while passes < min_passes or time.perf_counter() - started < min_seconds:
        for i, payload in enumerate(payloads):
            t0 = time.perf_counter()
            document.extract_document(payload)
            times[i].append(time.perf_counter() - t0)
        passes += 1
    doc_s = [statistics.median(t) for t in times]
    return {
        "docs_per_s": len(payloads) / sum(doc_s),
        "passes": passes,
        "doc_ms": [t * 1000 for t in doc_s],
    }


def traced_pass(payloads: list[bytes]) -> tuple[dict, float]:
    """One pass with every kernel name wrapped. Returns the per-layer
    metrics (ms over the pass) and the pass's docs/s."""
    rec = sp.Recorder()
    names = {n for names in KERNEL_LAYERS.values() for n in names}
    try:
        for name in sorted(names) + ENTRY_POINTS:
            rec.wrap(document, name, name)
        t0 = time.perf_counter()
        for payload in payloads:
            document.extract_document(payload)
        rate = len(payloads) / (time.perf_counter() - t0)
    finally:
        rec.unwrap_all()
    return kernel_metrics(rec.spans), rate


def kernel_metrics(spans: list[sp.Span]) -> dict:
    by_name: dict[str, float] = {}
    for i, s in enumerate(spans):
        metric = _metric_of(s.name)
        if metric is None:
            continue
        if metric in PDF_ONLY and not sp.has_ancestor(spans, i, "_extract_pdf_once"):
            continue
        by_name[metric] = by_name.get(metric, 0.0) + (s.end - s.start) * 1000
    out = {m: by_name.get(m, 0.0) for m in KERNEL_LAYERS}
    selfs = sp.self_times(spans)
    out["document.unwrap_ms"] = 1000 * sum(
        t for s, t in zip(spans, selfs) if s.name == "extract_document"
    )
    n_pdf = sum(1 for s in spans if s.name == "extract_pdf_document")
    n_parse = sum(1 for s in spans if s.name == "parse_pdf")
    out["document.parse_pdf_calls_per_pdf"] = n_parse / n_pdf if n_pdf else 0.0
    return out


def _metric_of(name: str) -> str | None:
    for metric, names in KERNEL_LAYERS.items():
        if name in names:
            return metric
    return None


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile, ``q`` in (0, 100]."""
    ordered = sorted(values)
    rank = max(1, -(-len(ordered) * q // 100))
    return ordered[int(rank) - 1]
