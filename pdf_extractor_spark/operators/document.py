"""Per-document extraction orchestrator — the fused kernel.

One payload in, one extraction record out. The reference re-opens and
re-parses each PDF up to six times across its phases
(``master_extractor.py`` — SURVEY.md §3.2 "critical inefficiency");
here every phase derives from a SINGLE parse. Phase order per page
(reference trace SURVEY.md §3.1/§3.2):

    tokenize (P1) → word dedup (D1) → z-order scan (J5)
      → table detection + dedup (C5/C6, F10, F6, J4)
      → table-word exclusion (J1/P8)
      → super/subscript attachment (W3/F4/A2)
      → footnote marker + definition harvest (P5/P7, C4, W5)
      → metadata filter (P2-P7, P10, A1/J7)
      → column detection (C1) → line grouping (C2) → x-sort (O1/O2)
      → spacing join (W2) → cleanup (W4, F1-F3)
      → table insertion at page end (O5; reference appends, trap 2)
    document: footnote match (J3) + completeness (A5)
      → footnote section appended AFTER cleanup (trap 6)
      → inventory (A3), coverage (A4), anti-hallucination scan (A7/P9),
        quality score (A6)

Routing: the transport layers (WARC, HTTP, chunked, gzip/deflate) are
peeled by ``transport.unwrap``, then content sniffing on the body's
magic (``%PDF-`` ⇒ PDF branch, else HTML branch), per SURVEY.md §1.3.

This module is pure Python/NumPy (no Spark): the Spark layer batches
documents through it inside ``mapInPandas`` Arrow batches.
"""

from __future__ import annotations

from typing import Any

from ..config import DEFAULT_CONFIG, ExtractConfig
from .filters import detect_repeating_elements, filter_metadata, is_scanned_page
from .footnotes import (
    completeness,
    find_definitions,
    find_markers,
    match_markers,
)
from .encoding import count_bad_chars, fix_encoding_text
from .html_extract import extract_html, resolve_codec
from .ocrfix import ocr_fix_text
from .inventory import (
    dedup_words,
    element_inventory,
    hallucination_scan,
    zorder_overlap_count,
)
from .layout import column_texts
from .pdf_tokenizer import PdfDoc, parse_pdf
from .quality import score_quality
from .scripts import attach_scripts
from .spacing import cleanup_text
from .tables import dedup_tables, detect_tables, exclude_table_words
from .textboxes import detect_sidebars
from .transport import ResourceLimitError, unwrap

PDF_MAGIC = b"%PDF-"

_EMPTY_INVENTORY = {
    "total": 0,
    "region_top": 0, "region_middle": 0, "region_bottom": 0,
    "size_large": 0, "size_standard": 0, "size_small": 0, "size_tiny": 0,
}


# A6 quality battery lives in operators/quality.py (reference
# quality_scorer.py:81-413 five-dimension sub-batteries)


def _extract_pdf_once(doc: PdfDoc, cfg: ExtractConfig) -> dict[str, Any]:
    """PDF branch, single pass over a parsed document: per-page
    filter/cluster/serialize. Reads ``doc`` and never changes it, so
    remediation runs it again on the same parse."""
    errors: list[dict] = list(doc.errors)
    inventory = element_inventory(
        [p.words for p in doc.pages], [p.height for p in doc.pages]
    )
    headers, footers = detect_repeating_elements(
        [p.words for p in doc.pages], [p.height for p in doc.pages], cfg
    )
    # (page_no, body_text, [table texts], [textbox texts])
    page_texts: list[tuple[int, str, list[str], list[str]]] = []
    all_tables: list = []
    all_textboxes: list = []
    all_markers: list = []
    all_defs: list = []
    total_words = 0
    kept_words = 0
    for page in doc.pages:
        total_words += len(page.words)
        if len(page.words) == 0:
            errors.append(
                {"type": "empty_page", "severity": "info",
                 "page": page.page_number, "message": "no words on page"}
            )
            continue
        words = dedup_words(page.words)  # D1
        if len(words) <= cfg.zorder_max_words:
            n_overlap = zorder_overlap_count(words)  # J5
            if n_overlap:
                errors.append(
                    {"type": "z_order", "severity": "warning",
                     "page": page.page_number,
                     "message": f"{n_overlap} overlapping word pairs"}
                )
        if is_scanned_page(words, cfg):
            # reference emits a placeholder (master_extractor.py:714-722)
            errors.append(
                {"type": "scanned", "severity": "warning",
                 "page": page.page_number,
                 "message": "fewer than threshold words; raster-only page"}
            )
            page_texts.append(
                (page.page_number, f"[SCANNED PAGE {page.page_number}]",
                 [], [])
            )
            continue
        tables = dedup_tables(
            detect_tables(words, page.page_number, cfg)
        )
        all_tables.extend(tables)
        n_before = len(words)
        words = exclude_table_words(words, tables)  # J1/P8
        # A4 fix: words routed to tables/textboxes/footnote definitions
        # ARE extracted (their text ships in the table/textbox/footnote
        # sections), so they count toward coverage — the reference
        # computes coverage from the final output's words
        # (element_inventory.py:225-232); dropping them here made
        # table-dominated pages read POOR and trip remediation.
        kept_words += n_before - len(words)
        words = attach_scripts(words, cfg)          # W3
        boxes, box_consumed = detect_sidebars(      # C7/F11
            words, page.page_number, page.width, cfg
        )
        all_textboxes.extend(boxes)
        if len(box_consumed):
            words = words.drop(box_consumed)
            kept_words += len(box_consumed)
        all_markers.extend(
            find_markers(words, page.page_number, page.height, cfg)
        )
        defs, consumed = find_definitions(
            words, page.page_number, page.height, cfg
        )
        all_defs.extend(defs)
        if len(consumed):
            words = words.drop(consumed)
            kept_words += len(consumed)
        words = filter_metadata(words, page.height, headers, footers, cfg)
        kept_words += len(words)
        body = ""
        if len(words) > 0:
            # fused C1/C2/O1/O2/W2 array path (layout.column_texts) —
            # byte-identical to the pandas chain, tested both ways
            body = cleanup_text("\n\n".join(column_texts(words, cfg)))
        if body and cfg.encoding_scrub_enabled:
            # P11: flag pre-scrub damage, then fix (reference both
            # flags and fixes — error_handler.py:509-540)
            n_bad = count_bad_chars(body)
            if n_bad:
                errors.append(
                    {"type": "encoding", "severity": "warning",
                     "page": page.page_number,
                     "message": f"{n_bad} bad chars scrubbed"}
                )
                body = fix_encoding_text(body)
        if body and cfg.ocr_fix_enabled:
            # F7: deterministic OCR-confusion fix chain (the mock
            # backend's fixes, llm_verifier.py:341-404); off by
            # default like reference LLM verification (config.py:65)
            body = ocr_fix_text(body)
        # O5 + trap 6: tables, then textboxes, appended at page end
        table_blocks = [t.text for t in tables]
        box_blocks = [b.text for b in boxes]
        if body or table_blocks or box_blocks:
            page_texts.append(
                (page.page_number, body, table_blocks, box_blocks)
            )

    matches = match_markers(all_markers, all_defs, cfg)  # J3
    fn_stats = completeness(all_markers, all_defs, matches)  # A5

    parts: list[str] = []
    spans: list[tuple[int, int, str, int]] = []
    pos = 0
    for page_no, body, table_blocks, box_blocks in page_texts:
        if body:
            if parts:
                pos += 2
            start = pos
            parts.append(body)
            pos += len(body)
            spans.append((start, pos, "body", page_no))
        for tb in table_blocks:
            if parts:
                pos += 2
            start = pos
            parts.append(tb)
            pos += len(tb)
            spans.append((start, pos, "table", page_no))
        for bb in box_blocks:
            if parts:
                pos += 2
            start = pos
            parts.append(bb)
            pos += len(bb)
            spans.append((start, pos, "textbox", page_no))
    # footnote section appended after cleanup (trap 6; F9 formatting).
    # The reference builds its footnote list from ALL definitions, not
    # just matched ones (master_extractor.py:352-390 footnotes_list from
    # all_definitions) — an unmatched bottom-region definition must not
    # vanish from the output: matched entries first (match order), then
    # unmatched definitions in input (page, y) order with their own
    # def-start marker form.
    footnote_entries = list(matches) + [
        {"marker": d.marker, "text": d.text, "page": d.page}
        for d in all_defs
        if not d.used
    ]
    for m in footnote_entries:
        line = f"{m['marker']} {m['text']}" if m["text"] else m["marker"]
        if parts:
            pos += 2
        start = pos
        parts.append(line)
        pos += len(line)
        spans.append((start, pos, "footnote", m["page"]))
    text = "\n\n".join(parts)
    quality = score_quality(
        text,
        coverage=(kept_words / total_words if total_words else 0.0),
        n_pages=len(doc.pages),
        n_tables=len(all_tables),
        n_markers=len(all_markers),
        match_rate=fn_stats["match_rate"],
        cfg=cfg,
    )
    suspicious = hallucination_scan(text)  # A7/P9 detection pass
    for name in suspicious:
        errors.append(
            {"type": "suspicious_content", "severity": "info", "page": 0,
             "message": f"pattern {name} present in extracted text"}
        )
    return {
        "branch": "pdf",
        "extracted_text": text,
        "spans": spans,
        "tables": [
            {"page": t.page, "rows": t.n_rows, "cols": t.n_cols,
             "text": t.text, "confidence": t.confidence}
            for t in all_tables
        ],
        "footnotes": footnote_entries,
        "textboxes": [
            {"page": b.page, "box_type": b.box_type, "text": b.text}
            for b in all_textboxes
        ],
        "quality": quality,
        "errors": errors,
        "n_pages": len(doc.pages),
        "inventory": inventory,
        "footnote_stats": fn_stats,
    }


def _remediation_strategies(cfg: ExtractConfig):
    """Reference ``_attempt_remediation`` order
    (``master_extractor.py:617-684``): 1. stop removing headers/footers;
    2. widen the column gap ×1.5."""
    from dataclasses import replace

    return (
        (
            "keep_headers_footers",
            replace(cfg, remediation_enabled=False,
                    remove_headers_footers=False),
        ),
        (
            "wider_column_gap",
            replace(cfg, remediation_enabled=False,
                    column_gap_threshold=cfg.column_gap_threshold * 1.5),
        ),
    )


def extract_pdf_document(
    payload: bytes, cfg: ExtractConfig
) -> dict[str, Any]:
    """PDF branch with the remediation loop (reference phase 8b,
    ``master_extractor.py:497-570``): when the quality score lands below
    ``remediation_min_score``, re-extract with each alternate config in
    a FIXED order and keep the best score (keep-first on ties —
    deterministic). Config is an immutable struct per attempt, never the
    reference's mutated module globals (SURVEY.md §7.4 trap 5). The
    strategies change only layout config, so the payload is parsed
    once and every attempt starts from that parse."""
    doc = parse_pdf(payload)
    rec = _extract_pdf_once(doc, cfg)
    if (
        not cfg.remediation_enabled
        or rec["quality"]["score"] >= cfg.remediation_min_score
    ):
        return rec
    best, best_name = rec, None
    for name, alt in _remediation_strategies(cfg):
        cand = _extract_pdf_once(doc, alt)
        if cand["quality"]["score"] > best["quality"]["score"]:
            best, best_name = cand, name
    if best_name is not None:
        best["errors"].append(
            {"type": "remediation", "severity": "info", "page": 0,
             "message": f"strategy {best_name} kept "
                        f"(score {best['quality']['score']})"}
        )
    return best


def extract_html_document(
    payload: bytes, cfg: ExtractConfig,
    transport_charset: str | None = None,
) -> dict[str, Any]:
    """HTML branch (H1-H6). ``transport_charset`` is the HTTP
    Content-Type charset label when the payload carried response
    headers — it outranks in-document <meta> (WHATWG), BOM still
    wins."""
    errors: list[dict] = []
    n_bad = 0
    n_pre = 0
    codec = resolve_codec(payload, transport_charset)
    if codec not in ("utf-8", "utf-8-sig"):
        # parity with the decrypt path: a non-default decode is an
        # auditable INFO row, not silent behavior
        errors.append(
            {"type": "encoding", "severity": "info", "page": 0,
             "message": f"decoded as {codec} (charset sniffed)"}
        )
    try:
        text, spans, n_bad, n_pre = extract_html(
            payload, cfg, transport_charset
        )
    except Exception as exc:
        errors.append(
            {"type": "malformed", "severity": "error", "page": 0,
             "message": f"html parse failed: {exc}"}
        )
        text, spans = "", []
    # P11 flag+fix (reference error_handler.py:509-540): blocks are
    # scrubbed inside extract_html (spans index the cleaned text);
    # pre-scrub damage in KEPT content is graded here — light damage
    # is a recoverable warning, mostly-undecodable content (> 5% bad)
    # was never really text and stays an ERROR even though scrubbed
    # (U3: errors recorded, never swallowed; a mojibake payload must
    # not ship as a silent ok=True row).
    if n_bad:
        severity = (
            "error" if n_bad / max(1, n_pre) > 0.05 else "warning"
        )
        errors.append(
            {"type": "encoding", "severity": severity, "page": 0,
             "message": f"{n_bad}/{n_pre} bad chars scrubbed"}
        )
    scan = text if text else payload.decode("utf-8", errors="replace")
    if scan:
        bad = scan.count("�") + scan.count("\x00")
        if bad / len(scan) > 0.05:
            errors.append(
                {"type": "encoding", "severity": "error", "page": 0,
                 "message": f"{bad}/{len(scan)} undecodable chars"}
            )
    if not text and not spans and not errors:
        if len(payload) == 0:
            errors.append(
                {"type": "empty_page", "severity": "error", "page": 0,
                 "message": "empty payload"}
            )
        elif b"<" not in payload:
            errors.append(
                {"type": "malformed", "severity": "error", "page": 0,
                 "message": "payload is neither PDF nor markup; "
                            "no content blocks found"}
            )
    n_blocks = len(spans)
    quality = score_quality(
        text,
        coverage=(n_blocks / max(1, n_blocks)),
        n_pages=1,
        n_tables=0,
        n_markers=0,
        match_rate=1.0,
        cfg=cfg,
    )
    return {
        "branch": "html",
        "extracted_text": text,
        "spans": spans,
        "tables": [],
        "footnotes": [],
        "textboxes": [],
        "quality": quality,
        "errors": errors,
        "n_pages": 1,
        "inventory": dict(_EMPTY_INVENTORY),
        "footnote_stats": completeness([], [], []),
    }


def _failed(payload: bytes, error: dict) -> dict[str, Any]:
    """The record of a document whose extraction stopped at ``error``."""
    return {
        "branch": "pdf" if payload[:5] == PDF_MAGIC else "html",
        "extracted_text": "",
        "spans": [],
        "tables": [],
        "footnotes": [],
        "textboxes": [],
        "quality": {"score": 0.0, "grade": "F", "coverage": 0.0,
                    "status": "POOR",
                    "dims": {"completeness": 0.0, "structure": 0.0,
                             "accuracy": 0.0, "footnotes": 0.0,
                             "readability": 0.0}},
        "errors": [error],
        "n_pages": 0,
        "inventory": dict(_EMPTY_INVENTORY),
        "footnote_stats": completeness([], [], []),
    }


def extract_document(
    payload: bytes, cfg: ExtractConfig = DEFAULT_CONFIG
) -> dict[str, Any]:
    """Peel the transport layers (:func:`.transport.unwrap`), route by
    magic bytes and extract. Never raises — failures are recorded in
    the ``errors`` array (reference recovery contract,
    ``error_handler.py:418-479``); each peeled layer leaves an info
    note there."""
    body = payload
    try:
        body, transport_charset, notes = unwrap(payload)
        if body[: len(PDF_MAGIC)] == PDF_MAGIC:
            result = extract_pdf_document(body, cfg)
        else:
            result = extract_html_document(body, cfg, transport_charset)
        result["errors"].extend(
            {"type": "encoding", "severity": "info", "page": 0,
             "message": note}
            for note in notes
        )
        return result
    except ResourceLimitError as exc:
        return _failed(body, {"type": "resource_limit", "severity": "error",
                              "page": 0, "message": str(exc)})
    except Exception as exc:  # absolute backstop — a doc must never kill a task
        return _failed(body, {"type": "unknown", "severity": "critical",
                              "page": 0, "message": f"unhandled: {exc}"})
