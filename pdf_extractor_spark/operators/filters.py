"""Metadata filtering + repeating header/footer detection.

P2-P7, P10, P12 and A1 from SURVEY.md §2.2/§2.5 (reference
``extractor.py:56-85,123-159,218-418``, ``error_handler.py:210-221``).
The decision table is pure boolean algebra over word-box columns —
fully vectorized masks, include-by-default priority order replicated
from the reference (keep rules win over drop rules).
"""

from __future__ import annotations

import re
from functools import lru_cache

import numpy as np

from ..config import ExtractConfig
from .words import Words

# P3 — section-number battery (reference extractor.py:66-74,315-336)
SECTION_NUMBER_RE = re.compile(
    r"^(?:"
    r"\d+(?:\.\d+)+\.?"          # 1.2 / 1.2.3.
    r"|\(\d+\)"                  # (1)
    r"|\d+\)"                    # 1)
    r"|[①-⑳]"                    # circled numbers
    r"|第\d+[章条項節款目]"        # 第N章 etc.
    r"|[一二三四五六七八九十百]+、"  # 一、
    r")$"
)

# P6 — strict page-number patterns (reference extractor.py:56-63)
PAGE_NUMBER_RE = re.compile(
    r"^(?:"
    r"[Pp]age\s*\d+"
    r"|ページ\s*\d+|\d+\s*ページ"
    r"|-\s*\d+\s*-"
    r"|\d+\s*/\s*\d+"
    r"|[Pp]\.\s*\d+"
    r")$"
)

# P7 — footnote-marker patterns (reference extractor.py:77-85)
FOOTNOTE_MARKER_RE = re.compile(
    r"^(?:\*\d+|※\d*|注\d*|†|‡|\[\d+\]|\(\*\d+\))[:：]?$"
)

_DIGITS_RE = re.compile(r"^\d{1,4}$")


@lru_cache(maxsize=1 << 17)
def _classify_token(t: str) -> tuple[bool, bool, bool]:
    """(keep_always, strict_page_number, bare_digits) for one token.
    Cached: corpus token vocabulary repeats heavily, so the three regex
    probes amortize to a dict hit per occurrence."""
    return (
        bool(SECTION_NUMBER_RE.match(t)) or bool(FOOTNOTE_MARKER_RE.match(t)),
        bool(PAGE_NUMBER_RE.match(t)),
        bool(_DIGITS_RE.match(t)),
    )


def is_page_number(text: str) -> bool:
    return bool(PAGE_NUMBER_RE.match(text))


def detect_repeating_elements(
    pages: list[Words],
    page_heights: list[float],
    cfg: ExtractConfig,
) -> tuple[set[str], set[str]]:
    """A1 (reference ``extractor.py:123-159``): sample the FIRST ≤5 pages
    (needs ≥3); concatenate word texts in the top/bottom 10% band per
    page; strings present on ≥80% of sampled pages are repeating
    headers/footers. Returns the *word-text sets* composing those
    strings (the reference filters at word granularity,
    ``extractor.py:265-267`` / J7).

    Determinism: first-N sampling, exact string match — no randomness.
    """
    if len(pages) < cfg.header_min_pages:
        return set(), set()
    sample = pages[: cfg.header_sample_pages]
    heights = page_heights[: cfg.header_sample_pages]
    need = cfg.header_repeat_ratio * len(sample)

    def band_strings(top_band: bool) -> dict[str, int]:
        """Per page: margin words clustered into LINES (band tolerance);
        one candidate string per line. Line granularity — not whole-band —
        so a varying page number on one line doesn't mask a repeating
        header/footer on another.

        NumPy path (stable lexsort + consecutive-run split) — the
        per-page frames are tiny, so pandas sort/groupby overhead used
        to dominate this function (~20% of whole-kernel profile)."""
        counts: dict[str, int] = {}
        for words, h in zip(sample, heights):
            if len(words) == 0:
                continue
            top = words["top"]
            if top_band:
                mask = top < cfg.header_band_frac * h
            else:
                mask = words["bottom"] > (1 - cfg.footer_band_frac) * h
            if not mask.any():
                continue
            t = top[mask]
            x = words["x0"][mask]
            txt = words["text"][mask]
            order = np.lexsort((x, t))  # stable, ties keep input order
            t = t[order]
            txt = txt[order]
            # line breaks where the top-gap reaches the tolerance
            # (first element never breaks — mirrors diff().fillna(False))
            brk = np.diff(t) >= cfg.band_tolerance
            page_seen: set[str] = set()
            for seg in np.split(txt, np.flatnonzero(brk) + 1):
                s = " ".join(str(v) for v in seg)
                if s:
                    page_seen.add(s)
            for s in page_seen:
                counts[s] = counts.get(s, 0) + 1
        return counts

    headers: set[str] = set()
    footers: set[str] = set()
    for s, n in band_strings(True).items():
        if n >= need:
            headers.update(s.split(" "))
    for s, n in band_strings(False).items():
        if n >= need:
            footers.update(s.split(" "))
    return headers, footers


_NEARBY_MATRIX_MAX = 1024    # full-matrix path below this (≈ 8 MB)
_NEARBY_TILE = (256, 4096)   # member × candidate tile (≈ 8 MB)


def has_nearby_content(words: Words, cfg: ExtractConfig) -> np.ndarray:
    """P10 (reference ``extractor.py:385-418``): True per word if
    another word's center lies within ``isolation_dist``.

    Typical pages (n ≈ 10²-10³) take the full distance-matrix path.
    Larger pages switch to a GRID-BUCKETED sweep (cell = radius; only
    the 3×3 neighborhood can contain a hit) with fixed-size tiles, so
    memory stays bounded — a pathological 10⁵-word page previously
    allocated an 80 GB matrix (round-1 verdict item #7, the same
    guard its sibling ``zorder_overlap_count`` already had). Both
    paths are exact and return identical answers."""
    n = len(words)
    if n <= 1:
        return np.zeros(n, dtype=bool)
    cx = (words["x0"] + words["x1"]) / 2
    cy = (words["top"] + words["bottom"]) / 2
    d2 = cfg.isolation_dist**2
    if n <= _NEARBY_MATRIX_MAX:
        dx = cx[:, None] - cx[None, :]
        dy = cy[:, None] - cy[None, :]
        dist2 = dx * dx + dy * dy
        np.fill_diagonal(dist2, np.inf)
        return (dist2 < d2).any(axis=1)

    d = cfg.isolation_dist
    gx = np.floor(cx / d).astype(np.int64)
    gy = np.floor(cy / d).astype(np.int64)
    cells: dict[tuple[int, int], list[int]] = {}
    for i in range(n):
        cells.setdefault((int(gx[i]), int(gy[i])), []).append(i)
    cell_arrays = {k: np.asarray(v) for k, v in cells.items()}
    out = np.zeros(n, dtype=bool)
    m_tile, c_tile = _NEARBY_TILE
    for (cgx, cgy), idx in cell_arrays.items():
        cand_parts = [
            cell_arrays[(cgx + ox, cgy + oy)]
            for ox in (-1, 0, 1)
            for oy in (-1, 0, 1)
            if (cgx + ox, cgy + oy) in cell_arrays
        ]
        cand = np.concatenate(cand_parts)
        for ms in range(0, len(idx), m_tile):
            mem = idx[ms:ms + m_tile]
            todo = mem[~out[mem]]
            if not len(todo):
                continue
            for cs in range(0, len(cand), c_tile):
                cc = cand[cs:cs + c_tile]
                dx = cx[todo][:, None] - cx[cc][None, :]
                dy = cy[todo][:, None] - cy[cc][None, :]
                hit = (dx * dx + dy * dy < d2) & (
                    todo[:, None] != cc[None, :]
                )
                out[todo] |= hit.any(axis=1)
                todo = todo[~out[todo]]
                if not len(todo):
                    break
    return out


def filter_metadata(
    words: Words,
    page_height: float,
    headers: set[str],
    footers: set[str],
    cfg: ExtractConfig,
) -> Words:
    """P2 — the 6-rule metadata filter (reference ``extractor.py:218-313``),
    include-by-default. Priority order (first hit wins), replicated:

      KEEP  if section number (P3) or footnote marker (P7)
      DROP  if strict page-number pattern (P6)
      DROP  if word text ∈ repeating header set and word in header band (J7)
      DROP  if word text ∈ repeating footer set and word in footer band
      DROP  if in top 5% band and box height ≤ 14 (margin rule)
      DROP  if bare digits in top/bottom 10% band with no nearby content
            (P4 page-number-vs-content: margin ∧ isolation)
      KEEP  otherwise
    """
    if len(words) == 0:
        return words
    # NumPy hot path: pages are ~10² words, where pandas per-op overhead
    # (not the arithmetic) dominates — identical decision table, array ops
    texts = [str(t) for t in words["text"]]
    top = words["top"]
    bottom = words["bottom"]

    cls = [_classify_token(t) for t in texts]
    keep_always = np.fromiter(
        (c[0] for c in cls), dtype=bool, count=len(cls)
    )
    drop_pagenum = np.fromiter(
        (c[1] for c in cls), dtype=bool, count=len(cls)
    )

    in_header_band = top < cfg.header_band_frac * page_height
    in_footer_band = bottom > (1 - cfg.footer_band_frac) * page_height
    if cfg.remove_headers_footers and (headers or footers):
        in_hdr_set = np.fromiter(
            (t in headers for t in texts), dtype=bool, count=len(texts)
        )
        in_ftr_set = np.fromiter(
            (t in footers for t in texts), dtype=bool, count=len(texts)
        )
        drop_header = in_hdr_set & in_header_band
        drop_footer = in_ftr_set & in_footer_band
    else:  # remediation strategy 1 (master_extractor.py:639-684)
        drop_header = np.zeros(len(texts), dtype=bool)
        drop_footer = np.zeros(len(texts), dtype=bool)

    height = bottom - top
    in_top5 = top < cfg.top_drop_frac * page_height
    drop_top = in_top5 & (height <= cfg.top_drop_max_height)

    bare_digits = np.fromiter(
        (c[2] for c in cls), dtype=bool, count=len(cls)
    )
    in_margin = in_header_band | in_footer_band
    drop_isolated_digit = np.zeros(len(texts), dtype=bool)
    cand = bare_digits & in_margin
    if cand.any():
        nearby = has_nearby_content(words, cfg)
        drop_isolated_digit = cand & ~nearby

    # P4/P6 at band granularity: a margin LINE whose assembled text is a
    # strict page-number pattern drops wholesale ("- 1 -" tokenizes to
    # three words; the pattern only exists at line level — reference
    # applies it to extracted strings, extractor.py:338-383).
    drop_pagenum_band = np.zeros(len(texts), dtype=bool)
    midx = np.flatnonzero(in_margin)
    if len(midx) > 0:
        x0 = words["x0"]
        order = midx[np.lexsort((x0[midx], top[midx]))]
        new_band = np.empty(len(order), dtype=bool)
        new_band[0] = False
        if len(order) > 1:
            new_band[1:] = np.diff(top[order]) >= cfg.band_tolerance
        band_ids = np.cumsum(new_band)
        for bid in range(band_ids[-1] + 1 if len(band_ids) else 0):
            members = order[band_ids == bid]
            band_text = " ".join(texts[i] for i in members)
            if is_page_number(band_text):
                drop_pagenum_band[members] = True

    drop = (
        drop_pagenum | drop_header | drop_footer | drop_top
        | drop_isolated_digit | drop_pagenum_band
    ) & ~keep_always
    return words.take(~drop)


def is_scanned_page(words: Words, cfg: ExtractConfig) -> bool:
    """P12 (reference ``error_handler.py:210-221``): too few words ⇒
    treat as scanned raster page."""
    return 0 < len(words) < cfg.scanned_word_threshold
