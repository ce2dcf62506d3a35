"""Super/subscript attachment (W3) + Unicode script maps (F4) + trimmed
mean font size (A2) — SURVEY.md §2.7/§2.5.

Reference semantics (``extractor.py:629-792``, ``superscript_detector.py``):
within a horizontal band, a word whose font size is < ``script_size_ratio``
× the page's average size AND whose horizontal gap to the previous word is
< ``script_gap_max`` is a script candidate; it classifies as superscript
when its vertical middle sits above the base word's middle, else
subscript; digits are translated through the Unicode super/subscript maps
and merged into the base word. The base word's ``x1`` is extended mid-loop
(reference mutates it the same way — SURVEY.md §7.4 trap 4 — which makes
later gap tests see the merged extent; replicated as-is).

Pure NumPy — runs inside the Arrow batch, never per-row Spark.
"""

from __future__ import annotations

import numpy as np

from ..config import ExtractConfig
from .words import Words


# F4 — Unicode translation maps (reference extractor.py:757-792)
SUPERSCRIPT_MAP = str.maketrans("0123456789+-=()n", "⁰¹²³⁴⁵⁶⁷⁸⁹⁺⁻⁼⁽⁾ⁿ")
SUBSCRIPT_MAP = str.maketrans("0123456789+-=()", "₀₁₂₃₄₅₆₇₈₉₊₋₌₍₎")


def to_superscript(text: str) -> str:
    return text.translate(SUPERSCRIPT_MAP)


def to_subscript(text: str) -> str:
    return text.translate(SUBSCRIPT_MAP)


def trimmed_mean_size(sizes: np.ndarray) -> float:
    """A2 (reference ``superscript_detector.py:161-177``): drop the top
    and bottom 10% then mean. The mean is over the same sorted value
    multiset in the same order as a pandas ``sort_values``/``iloc``
    form, so the result is bit-identical to it (both sum via NumPy
    pairwise summation)."""
    vals = np.asarray(sizes, dtype=float)
    vals = vals[~np.isnan(vals)]
    n = len(vals)
    if n == 0:
        return 12.0
    if n >= 10:
        v = np.sort(vals)  # values only — stability irrelevant to a mean
        k = n // 10
        return float(v[k: n - k].mean())
    return float(vals.mean())


def attach_scripts(words: Words, cfg: ExtractConfig) -> Words:
    """W3 (reference ``extractor.py:691-755``): merge script-sized words
    into their base word within each horizontal band.

    Returns new word boxes with the script words consumed.
    Bands are ~10 words, so the per-band merge loop is bounded; the
    banding itself is the vectorized C3 sessionization.
    """
    if len(words) < 2:
        return words
    sizes = words["size"]
    avg_size = trimmed_mean_size(sizes)
    threshold = cfg.script_size_ratio * avg_size
    small = sizes < threshold
    if not small.any():
        return words  # fast path: no candidates anywhere on the page

    # NumPy band walk — same C3 banding (stable (top, x0) sort, gap
    # breaks) and the same mid-loop x1 extension (trap 4), minus the
    # per-band groupby/to_dict overhead of the former pandas form
    top = words["top"]
    bottom = words["bottom"]
    x0 = words["x0"]
    x1 = words["x1"]
    texts = words["text"]
    page = words["page"]
    order = np.lexsort((x0, top))
    brk = np.diff(top[order]) >= cfg.band_tolerance

    t_out: list[str] = []
    x0_out: list[float] = []
    x1_out: list[float] = []
    top_out: list[float] = []
    bot_out: list[float] = []
    size_out: list[float] = []
    page_out: list[int] = []
    gap_max = cfg.script_gap_max
    for seg in np.split(order, np.flatnonzero(brk) + 1):
        band = seg[np.argsort(x0[seg], kind="stable")]
        start = len(t_out)
        for i in band:
            if len(t_out) > start:
                gap = x0[i] - x1_out[-1]  # base x1 — possibly extended
                if small[i] and 0 <= gap < gap_max:
                    base_mid = (top_out[-1] + bot_out[-1]) / 2.0
                    row_mid = (top[i] + bottom[i]) / 2.0
                    if row_mid < base_mid:
                        t_out[-1] += to_superscript(str(texts[i]))
                    else:
                        t_out[-1] += to_subscript(str(texts[i]))
                    x1_out[-1] = x1[i]  # trap 4: extend mid-loop
                    continue
            t_out.append(str(texts[i]))
            x0_out.append(x0[i])
            x1_out.append(x1[i])
            top_out.append(top[i])
            bot_out.append(bottom[i])
            size_out.append(sizes[i])
            page_out.append(page[i])
    return Words(
        text=np.array(t_out, dtype=object),
        x0=np.asarray(x0_out, dtype=float),
        x1=np.asarray(x1_out, dtype=float),
        top=np.asarray(top_out, dtype=float),
        bottom=np.asarray(bot_out, dtype=float),
        size=np.asarray(size_out, dtype=float),
        page=np.asarray(page_out, dtype=page.dtype),
    )
