"""Immutable extraction configuration.

All thresholds that shape extraction semantics live here, in ONE frozen
dataclass passed explicitly through every kernel — never module-global
mutable state (the reference mutates module globals during its
remediation loop, ``master_extractor.py:639-684``; we keep config
immutable so re-runs are trivially deterministic).

Threshold values mirror the reference's published constants
(``config.py:16-17``, ``extractor.py:56-85,128,578-610`` in
``/root/reference/pdf_extractor_new/``); HTML-branch thresholds follow
the published Boilerpipe/jusText family (fixed before goldens were
frozen).
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class ExtractConfig:
    # --- spatial clustering (reference config.py:16-17) ---
    column_gap_threshold: float = 50.0   # C1: new column when x-gap exceeds
    line_height_threshold: float = 15.0  # C2: new line when |dtop| >=
    band_tolerance: float = 15.0         # C3: horizontal banding

    # --- margins / metadata filter (reference extractor.py:218-313) ---
    header_band_frac: float = 0.10       # top 10% = header band
    footer_band_frac: float = 0.10       # bottom 10% = footer band
    top_drop_frac: float = 0.05          # drop top-5% words ...
    top_drop_max_height: float = 14.0    # ... unless box height > 14
    isolation_dist: float = 50.0         # P10 nearby-content radius

    # --- repeating header/footer detection (reference extractor.py:123-159) ---
    header_sample_pages: int = 5
    header_min_pages: int = 3
    header_repeat_ratio: float = 0.8
    remove_headers_footers: bool = True  # remediation strategy 1 flips this

    # --- remediation loop (reference master_extractor.py:497-570,
    # config.py:123-125: re-extract with alternate config when the
    # quality score is below threshold; keep the best, keep-first ties) ---
    remediation_enabled: bool = True
    remediation_min_score: float = 70.0

    # --- spacing (reference extractor.py:578-610) ---
    no_space_gap: float = 2.0            # gap < 2 → never a space
    jp_jp_space_gap: float = 10.0        # JP↔JP → space only if gap > 10
    en_space_gap: float = 3.0            # EN pairs → space if gap > 3

    # --- page health (reference error_handler.py:134,210-221) ---
    scanned_word_threshold: int = 10     # < 10 words ⇒ scanned page

    # --- super/subscript (reference extractor.py:691-755) ---
    script_size_ratio: float = 0.7       # candidate if size < 0.7 * avg
    script_gap_max: float = 5.0

    # --- tables (reference layout_analyzer.py:187-215, strict mode;
    # table_detector_enhanced.py:313-369 alignment clustering) ---
    table_align_tol: float = 5.0         # C5/C6 alignment tolerance (px)
    table_min_rows: int = 3              # strict grid gate: >= 3 rows
    table_min_cols: int = 3              #                   >= 3 cols
    table_min_cells: int = 9             #                   >= 9 cells
    table_min_confidence: float = 0.5    # populated/total cells floor
    table_row_match_frac: float = 0.9    # adjacent-line x0 match fraction
    table_occupancy_min: float = 0.8     # block words on-grid fraction
    table_row_count_ratio: float = 0.6   # matches / longer-line length

    # --- footnotes (reference footnote_extractor.py) ---
    footnote_region_frac: float = 0.30   # bottom 30% = definition region
    footnote_line_tol: float = 5.0       # C4 line grouping Y-tolerance
    footnote_match_min_score: float = 0.5   # J3 accept threshold
    footnote_same_page_bonus: float = 0.3   # J3 +same page
    footnote_type_bonus: float = 0.2        # J3 +same marker family

    # --- z-order overlap scan (reference error_handler.py:277-312) ---
    # Pages with more words skip J5. The candidate-pair count is no
    # longer O(n^2) on real layouts, but the cap stays: lifting it would
    # add z_order warnings to the errors of pages above it, and a page
    # of stacked boxes still has n^2/2 candidates.
    zorder_max_words: int = 2000

    # --- sidebars / textboxes (reference layout_analyzer.py:584-661) ---
    sidebar_strip_frac: float = 0.20     # left/right 20% strips
    sidebar_gap_min: float = 30.0        # gutter to main content (px)
    sidebar_min_words: int = 3

    # --- HTML branch (Boilerpipe/jusText-family, fixed) ---
    html_link_density_max: float = 0.33
    html_short_block_chars: int = 25
    html_wrap_cols: int = 80

    # --- quality scoring weights (reference quality_scorer.py:81-413) ---
    w_completeness: float = 0.30
    w_structure: float = 0.25
    w_accuracy: float = 0.20
    w_footnotes: float = 0.15
    w_readability: float = 0.10

    # --- P11 encoding scrub (reference error_handler.py:509-540:
    # strip U+FFFD/NUL, decode \xNN escapes — reference both flags AND
    # fixes; on by default as in the reference's recovery path) ---
    encoding_scrub_enabled: bool = True

    # --- F7 OCR-confusion fix chain (the deterministic subset of the
    # reference's mock LLM-verify fixes, llm_verifier.py:341-404;
    # verification itself is off by default in the reference
    # (config.py:65), so the chain defaults off here too) ---
    ocr_fix_enabled: bool = False

    # --- scale knobs (Spark layer) ---
    oversize_bytes: int = 8 * 1024 * 1024   # docs larger than this get
    # routed to a dedicated repartition bucket (skew defusal; SURVEY §4.2)


DEFAULT_CONFIG = ExtractConfig()
