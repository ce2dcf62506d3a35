"""Element inventory + coverage + anti-hallucination + error-detection
kernels — SURVEY.md §2.5 A3/A4/A7, §2.4 J5, §2.8 D1, §2.2 P9/P11.

A3 (reference ``element_inventory.py:85-202``): per-page counts by
region (top 15% / middle / bottom 15%) and font-size class (>18 large,
10-18 standard, 6-10 small, <6 tiny). Emitted as a flat
``map<string,long>`` per document; the dataset-level rollup is a plain
partial+final hash aggregate (catalog ``a3_inventory``).

A4 (``element_inventory.py:204-269``): coverage = extracted/total words
⇒ GOOD ≥85% / WARNING ≥70% / POOR.

A7/P9 (``anti_hallucination.py``): regex battery for content the
extractor could never have read off the page (markdown/HTML markup,
AI-assistant phrases); detection counts + a removal pass. The removal
chain is expressible as native ``regexp_replace`` at dataset level —
the kernel version here keeps the fused single-pass pipeline pure.

J5 (``error_handler.py:277-312``): overlapping-word (z-order) detection
— pairs of boxes overlapping > 50% of the smaller area. Candidate pairs
are the boxes whose intervals meet on one axis (found with a sort and a
``searchsorted``), tested in fixed-size numpy blocks: no per-word
Python loop and no n² matrix.

D1 (``error_handler.py:542-574``): dedup words on rounded position.
"""

from __future__ import annotations

import re

import numpy as np

from .words import Words

# P9 — suspicious-content battery (reference anti_hallucination.py:51-70)
HALLUCINATION_PATTERNS: list[tuple[str, re.Pattern]] = [
    ("markdown_heading", re.compile(r"(?m)^#{1,6} ")),
    ("markdown_bold", re.compile(r"\*\*[^*\n]+\*\*")),
    ("markdown_fence", re.compile(r"```")),
    ("html_tag", re.compile(r"</?(?:div|span|p|br|table|h[1-6])\b[^>]*>")),
    ("ai_phrase", re.compile(
        r"(?i)\b(?:as an ai|i cannot|i'm sorry|here is the|"
        r"certainly[,!]|based on the (?:provided|above))\b"
    )),
]


def hallucination_scan(text: str) -> list[str]:
    """A7 detection pass: names of matched suspicious patterns."""
    return [name for name, rx in HALLUCINATION_PATTERNS if rx.search(text)]


def remove_suspicious(text: str) -> str:
    """P9 removal pass (reference ``anti_hallucination.py:243-264``):
    strip matched markup, keep inner text where the pattern wraps it."""
    text = re.sub(r"(?m)^#{1,6} ", "", text)
    text = re.sub(r"\*\*([^*\n]+)\*\*", r"\1", text)
    text = text.replace("```", "")
    text = re.sub(r"</?(?:div|span|p|br|table|h[1-6])\b[^>]*>", "", text)
    return text


def element_inventory(
    pages: list[Words], page_heights: list[float]
) -> dict[str, int]:
    """A3: whole-document inventory map (per-page counts summed).

    Keys: total, region_top, region_middle, region_bottom, size_large,
    size_standard, size_small, size_tiny — fixed set, so the Spark
    column type is a stable ``map<string,long>``."""
    inv = {
        "total": 0,
        "region_top": 0, "region_middle": 0, "region_bottom": 0,
        "size_large": 0, "size_standard": 0, "size_small": 0,
        "size_tiny": 0,
    }
    for words, h in zip(pages, page_heights):
        n = len(words)
        if n == 0:
            continue
        inv["total"] += n
        top = words["top"]
        inv["region_top"] += int((top < 0.15 * h).sum())
        inv["region_bottom"] += int((top > 0.85 * h).sum())
        inv["region_middle"] += int(
            ((top >= 0.15 * h) & (top <= 0.85 * h)).sum()
        )
        size = words["size"]
        inv["size_large"] += int((size > 18).sum())
        inv["size_standard"] += int(((size >= 10) & (size <= 18)).sum())
        inv["size_small"] += int(((size >= 6) & (size < 10)).sum())
        inv["size_tiny"] += int((size < 6).sum())
    return inv


def coverage_status(coverage: float) -> str:
    """A4 thresholds (reference ``element_inventory.py:204-269``)."""
    if coverage >= 0.85:
        return "GOOD"
    if coverage >= 0.70:
        return "WARNING"
    return "POOR"


def dedup_words(words: Words) -> Words:
    """D1: drop duplicate boxes on (round(x0,1), round(top,1), text) —
    keep first (stable)."""
    if len(words) < 2:
        return words
    # plain-object loop: .tolist() converts once so the hot tuple keys
    # are python floats (hash/eq in C) instead of numpy scalars
    rx = np.round(words["x0"], 1).tolist()
    ry = np.round(words["top"], 1).tolist()
    texts = words["text"].tolist()
    seen: set = set()
    dups: list[int] = []
    for i, key in enumerate(zip(rx, ry, texts)):
        if key in seen:
            dups.append(i)
        else:
            seen.add(key)
    if not dups:
        return words
    return words.drop(dups)


# Candidate pairs tested per numpy block: a block's transient arrays
# (about a dozen int64/float64 columns) stay at a few MB however many
# candidates a page has.
_ZORDER_PAIRS_PER_BLOCK = 65_536


def zorder_overlap_count(words: Words) -> int:
    """J5: number of word pairs whose bboxes overlap by more than 50% of
    the smaller box's area. Used only to FLAG (the reference reports,
    never repairs).

    Candidate pairs come from one axis: with boxes sorted by their low
    edge, ``searchsorted(lo, hi, "left")`` gives each box the exact
    number of later boxes whose interval starts before it ends. Every
    overlapping pair is among them (an overlap needs both intervals to
    meet), and each unordered pair appears once. The axis with fewer
    candidates is used: x on one long line, y on a page of full-width
    lines, where every word's x-interval meets about one word of each
    other line. The candidates are then tested with the same array
    math as ``zorder_overlap_count_matrix`` (count-identical, asserted
    in tests), in blocks of at most ``_ZORDER_PAIRS_PER_BLOCK`` pairs,
    so no n² matrix is built."""
    n = len(words)
    if n < 2:
        return 0
    x0 = words["x0"]
    x1 = words["x1"]
    t = words["top"]
    b = words["bottom"]
    later = np.arange(1, n + 1)
    best = None
    for lo, hi in ((x0, x1), (t, b)):
        order = np.argsort(lo, kind="stable")
        reach = np.searchsorted(lo[order], hi[order], "left")
        counts = np.maximum(reach - later, 0)
        total = int(counts.sum())
        if best is None or total < best[0]:
            best = (total, order, counts)
    total, order, counts = best
    if total == 0:
        return 0
    # candidate p belongs to sorted position k with ends[k-1] <= p <
    # ends[k]; its partner is the (p - starts[k])-th box after k
    ends = np.cumsum(counts)
    starts = ends - counts
    area = (x1 - x0) * (b - t)
    count = 0
    for lo_p in range(0, total, _ZORDER_PAIRS_PER_BLOCK):
        p = np.arange(lo_p, min(lo_p + _ZORDER_PAIRS_PER_BLOCK, total))
        k = np.searchsorted(ends, p, "right")
        i = order[k]
        j = order[k + 1 + (p - starts[k])]
        iw = np.minimum(x1[i], x1[j]) - np.maximum(x0[i], x0[j])
        ih = np.minimum(b[i], b[j]) - np.maximum(t[i], t[j])
        inter = np.clip(iw, 0, None) * np.clip(ih, 0, None)
        smaller = np.minimum(area[i], area[j])
        with np.errstate(divide="ignore", invalid="ignore"):
            frac = np.where(smaller > 0, inter / smaller, 0.0)
        count += int(np.count_nonzero(frac > 0.5))
    return count


def zorder_overlap_count_matrix(words: Words) -> int:
    """Reference O(n²) matrix formulation — kept as the test oracle for
    the candidate-pair implementation above."""
    n = len(words)
    if n < 2:
        return 0
    x0 = words["x0"]
    x1 = words["x1"]
    t = words["top"]
    b = words["bottom"]
    iw = np.minimum(x1[:, None], x1[None, :]) - np.maximum(
        x0[:, None], x0[None, :]
    )
    ih = np.minimum(b[:, None], b[None, :]) - np.maximum(
        t[:, None], t[None, :]
    )
    inter = np.clip(iw, 0, None) * np.clip(ih, 0, None)
    area = (x1 - x0) * (b - t)
    smaller = np.minimum(area[:, None], area[None, :])
    with np.errstate(divide="ignore", invalid="ignore"):
        frac = np.where(smaller > 0, inter / smaller, 0.0)
    mask = np.triu(frac > 0.5, k=1)
    return int(mask.sum())
