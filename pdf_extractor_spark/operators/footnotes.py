"""Footnote extraction kernels — SURVEY.md §2.2 P5/P7, §2.3 C4, §2.4
J2/J3, §2.7 W5, §2.5 A5.

Reference semantics (``footnote_extractor.py``):
  * markers: small words in the body matching the marker battery
    (``*1 ※ 注 † ‡ [1] (*1)`` — ``footnote_extractor.py:71-103``);
  * definitions: lines in the page's bottom region that START with a
    definition-form marker (``*1:`` etc.); multi-line definitions absorb
    following lines until the next definition start (W5,
    ``footnote_extractor.py:220-276``);
  * matching: greedy best-score 1:1 assignment — exact marker 1.0,
    normalized 0.95, +0.3 same page, +0.2 same marker type; accept
    > 0.5; each definition used once (J3,
    ``footnote_extractor.py:303-371``);
  * completeness: marker/definition/match counts + match rate (A5,
    ``footnote_extractor.py:403-442``).

Determinism: markers processed in (page, y, x) order, definitions in
(page, y) order, ties broken by input order via stable sorts — the
greedy assignment is therefore reproducible byte-for-byte.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

import numpy as np

from ..config import ExtractConfig
from .words import Words

# P7 definition-start forms (marker + optional colon) — a definition is
# a bottom-region line whose FIRST word matches one of these.
_DEF_START_RE = re.compile(
    r"^(?:\*\d+|※\d*|注\d+|†|‡|\[\d+\]|\(\*?\d+\))[:：]?$"
)
# body-marker forms (no colon)
_MARKER_RE = re.compile(r"^(?:\*\d+|※\d*|注\d+|†|‡|\[\d+\]|\(\*?\d+\))$")

_NORM_RE = re.compile(r"[()\[\]:：*]")


@dataclass
class Marker:
    marker: str
    page: int
    y: float
    x: float


@dataclass
class Definition:
    marker: str
    text: str
    page: int
    y: float
    used: bool = False


def normalize_marker(m: str) -> str:
    """Strip decoration: ``(*1)`` → ``1``, ``[2]`` → ``2``, ``*1:`` → ``1``."""
    return _NORM_RE.sub("", m).strip()


def marker_type(m: str) -> str:
    """Coarse family used by the +0.2 type bonus
    (reference ``footnote_extractor.py:373-401``)."""
    if m.startswith("※"):
        return "kome"
    if m.startswith("注"):
        return "chu"
    if m in {"†", "‡"}:
        return "dagger"
    if m.startswith("["):
        return "bracket"
    return "star"


def find_markers(
    words: Words, page_no: int, page_height: float, cfg: ExtractConfig
) -> list[Marker]:
    """P7: body-region words matching the marker battery. Bottom-region
    hits are definition starts, not references — excluded here."""
    if len(words) == 0:
        return []
    top = words["top"]
    texts = words["text"]
    body = top < (1 - cfg.footnote_region_frac) * page_height
    hits = [
        i for i in np.flatnonzero(body) if _MARKER_RE.match(str(texts[i]))
    ]
    if not hits:
        return []
    x0 = words["x0"]
    hits.sort(key=lambda i: (top[i], x0[i]))  # stable: ties keep input order
    return [
        Marker(str(texts[i]), page_no, float(top[i]), float(x0[i]))
        for i in hits
    ]


def find_definitions(
    words: Words, page_no: int, page_height: float, cfg: ExtractConfig
) -> tuple[list[Definition], np.ndarray]:
    """P5 + C4 + W5: group bottom-region words into lines (Y-tolerance,
    then X-sort — ``footnote_extractor.py:278-301``), start a definition
    at each def-start line, absorb following non-start lines.

    Returns (definitions, positions of the consumed words) so the
    caller can remove definition words from the body stream.
    """
    no_words = np.empty(0, dtype=np.intp)
    if len(words) == 0:
        return [], no_words
    top_arr = words["top"]
    in_region = top_arr >= (1 - cfg.footnote_region_frac) * page_height
    if not in_region.any():
        return [], no_words
    # fast exit (the overwhelmingly common page): no region word is a
    # definition-start form, so no line grouping is needed at all
    texts_arr = words["text"]
    if not any(
        _DEF_START_RE.match(str(texts_arr[i]))
        for i in np.flatnonzero(in_region)
    ):
        return [], no_words
    # NumPy line grouping (stable lexsort + run split) — identical to
    # the former sort_values/groupby chain, minus small-frame overhead
    reg = np.flatnonzero(in_region)
    t = top_arr[reg]
    x = words["x0"][reg]
    order = np.lexsort((x, t))  # stable (top, x0) sort
    t_s = t[order]
    x_s = x[order]
    reg_s = reg[order]
    brk = np.diff(t_s) >= cfg.footnote_line_tol
    lines: list[tuple[float, str, np.ndarray]] = []  # (y, first, positions)
    texts: list[list[str]] = []
    for seg in np.split(np.arange(len(reg_s)), np.flatnonzero(brk) + 1):
        g = seg[np.argsort(x_s[seg], kind="stable")]  # x-sort within line
        rows = reg_s[g]
        toks = [str(texts_arr[i]) for i in rows]
        lines.append((float(top_arr[rows[0]]), toks[0], rows))
        texts.append(toks)

    defs: list[Definition] = []
    consumed: list[np.ndarray] = []
    current: Definition | None = None
    for (y, first, idx), toks in zip(lines, texts):
        if _DEF_START_RE.match(first):
            current = Definition(
                marker=first, text=" ".join(toks[1:]), page=page_no, y=y
            )
            defs.append(current)
            consumed.append(idx)
        elif current is not None:
            # W5: continuation line absorbed into the open definition
            current.text = (current.text + " " + " ".join(toks)).strip()
            consumed.append(idx)
        # lines before any def-start stay in the body
    return defs, np.concatenate(consumed) if consumed else no_words


def match_markers(
    markers: list[Marker],
    definitions: list[Definition],
    cfg: ExtractConfig,
) -> list[dict]:
    """J3 greedy 1:1 scored assignment (reference
    ``footnote_extractor.py:303-371``). Markers iterate in (page, y, x)
    order; candidate definitions scored, best above threshold wins and is
    consumed. Dataset-level analog: equi-join on normalized marker +
    ``row_number()`` (catalog entry ``j3_best_match``)."""
    out: list[dict] = []
    for m in sorted(markers, key=lambda k: (k.page, k.y, k.x)):
        best: tuple[float, int] | None = None
        for i, d in enumerate(definitions):
            if d.used:
                continue
            if d.marker.rstrip(":：") == m.marker:
                score = 1.0
            elif normalize_marker(d.marker) == normalize_marker(m.marker):
                score = 0.95
            else:
                score = 0.0
            if score == 0.0:
                continue
            if d.page == m.page:
                score += cfg.footnote_same_page_bonus
            if marker_type(d.marker) == marker_type(m.marker):
                score += cfg.footnote_type_bonus
            if best is None or score > best[0]:
                best = (score, i)
        if best is not None and best[0] > cfg.footnote_match_min_score:
            d = definitions[best[1]]
            d.used = True
            out.append(
                {"marker": m.marker, "text": d.text, "page": d.page}
            )
    return out


def completeness(
    markers: list[Marker], definitions: list[Definition], matches: list[dict]
) -> dict:
    """A5 + D4 (reference ``footnote_extractor.py:403-442``): counts,
    match rate, and the unmatched marker/definition LISTS (the
    review-queue payload, ``footnote_extractor.py:418-422`` — the
    dataset-level ``array_except`` shape, SURVEY.md §2.8 D4).

    Unmatched markers are a multiset difference (two ``*1`` references
    with one matched leave one unmatched), emitted in deterministic
    (page, y, x) marker order; unmatched definitions carry their own
    def-start marker form, in input (page, y) order."""
    from collections import Counter

    n_m, n_d, n_x = len(markers), len(definitions), len(matches)
    rate = n_x / n_m if n_m else 1.0
    status = "GOOD" if rate >= 0.85 else ("WARNING" if rate >= 0.5 else "POOR")
    remaining = Counter(m["marker"] for m in matches)
    unmatched_markers: list[str] = []
    for mk in sorted(markers, key=lambda k: (k.page, k.y, k.x)):
        if remaining.get(mk.marker, 0) > 0:
            remaining[mk.marker] -= 1
        else:
            unmatched_markers.append(mk.marker)
    unmatched_definitions = [d.marker for d in definitions if not d.used]
    return {
        "n_markers": n_m,
        "n_definitions": n_d,
        "n_matched": n_x,
        "match_rate": round(rate, 6),
        "status": status,
        "unmatched_markers": unmatched_markers,
        "unmatched_definitions": unmatched_definitions,
    }
