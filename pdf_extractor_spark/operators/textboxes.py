"""Sidebar / textbox detection — SURVEY.md §2.3 C7, §2.9 F11.

Reference semantics (``layout_analyzer.py:584-661``): words confined to
the left or right 20% strip of the page, horizontally separated from
the main content by more than ``sidebar_gap_min`` (30 px), form a
sidebar TextBox; ``layout_analyzer.py:566-582`` (F11) classifies a box
by keyword into warning / note / example, else generic.

The gap test is load-bearing for byte-determinism of ordinary text: a
word that merely *starts* in the strip but flows continuously into the
main column (gap ≈ one space) is body text, never a sidebar. Sidebars
require an actual visual gutter.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

import numpy as np

from ..config import ExtractConfig
from .words import Words

# F11 keyword → box_type (first hit wins; reference order)
_BOX_TYPES: list[tuple[str, re.Pattern]] = [
    ("warning", re.compile(r"(?i)\b(?:warning|caution|danger)\b|警告|危険")),
    ("note", re.compile(r"(?i)\bnote\b|注意|メモ|備考")),
    ("example", re.compile(r"(?i)\bexample\b|例[::]|用例")),
]


@dataclass
class TextBox:
    page: int
    box_type: str
    text: str
    x0: float
    x1: float
    top: float
    bottom: float


def classify_textbox(text: str) -> str:
    """F11 (reference ``layout_analyzer.py:566-582``)."""
    for box_type, rx in _BOX_TYPES:
        if rx.search(text):
            return box_type
    return "generic"


def _strip_lines(strip: Words, cfg: ExtractConfig) -> str:
    """Stable (top, x0) sort → gap-break lines → x-sort per line —
    NumPy form of the former sort_values/groupby chain (same stable
    tie order)."""
    top = strip["top"]
    x0 = strip["x0"]
    txt = strip["text"]
    order = np.lexsort((x0, top))
    brk = np.diff(top[order]) >= cfg.line_height_threshold
    lines = []
    for seg in np.split(order, np.flatnonzero(brk) + 1):
        g = seg[np.argsort(x0[seg], kind="stable")]
        lines.append(" ".join(str(t) for t in txt[g]))
    return "\n".join(lines)


def detect_sidebars(
    words: Words, page_no: int, page_width: float,
    cfg: ExtractConfig,
) -> tuple[list[TextBox], np.ndarray]:
    """C7: returns (sidebar boxes, positions of the consumed words).

    A strip qualifies only when (a) it holds ≥ ``sidebar_min_words``
    words fully inside the margin fraction, (b) main content exists
    outside it, and (c) the horizontal gutter between strip and main
    exceeds ``sidebar_gap_min`` — continuous text flowing across the
    strip boundary (gap ≈ word spacing) never qualifies.
    """
    if len(words) < cfg.sidebar_min_words:
        return [], np.empty(0, dtype=np.intp)
    x0 = words["x0"]
    x1 = words["x1"]
    left_mask = x1 <= cfg.sidebar_strip_frac * page_width
    # a reversed box (x1 < x0) can satisfy both tests: it joins the
    # left strip only, so no word lands in two boxes
    right_mask = (x0 >= (1 - cfg.sidebar_strip_frac) * page_width) \
        & ~left_mask
    main_mask = ~(left_mask | right_mask)
    n_main = int(main_mask.sum())
    boxes: list[TextBox] = []
    consumed: list[np.ndarray] = []
    for side, mask in (("left", left_mask), ("right", right_mask)):
        n_strip = int(mask.sum())
        if n_strip < cfg.sidebar_min_words or n_main == 0:
            continue
        if side == "left":
            gap = float(x0[main_mask].min() - x1[mask].max())
        else:
            gap = float(x0[mask].min() - x1[main_mask].max())
        if gap <= cfg.sidebar_gap_min:
            continue
        strip = words.take(mask)
        text = _strip_lines(strip, cfg)
        boxes.append(
            TextBox(
                page=page_no,
                box_type=classify_textbox(text),
                text=text,
                x0=float(strip["x0"].min()),
                x1=float(strip["x1"].max()),
                top=float(strip["top"].min()),
                bottom=float(strip["bottom"].max()),
            )
        )
        consumed.append(np.flatnonzero(mask))
    if not consumed:
        return boxes, np.empty(0, dtype=np.intp)
    return boxes, np.concatenate(consumed)
