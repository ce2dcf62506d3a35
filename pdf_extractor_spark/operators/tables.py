"""Table detection / serialization kernels — SURVEY.md §2.3-2.4, §2.9.

Covers C5/C6 (aligned column/row clustering,
``table_detector_enhanced.py:313-369``), the strict grid gate (≥3 rows ×
≥3 cols × ≥9 populated cells, ``layout_analyzer.py:187-215``), F10
(header-row heuristic, ``layout_analyzer.py:366-395``), F6 (pipe-text
serialization, ``layout_analyzer.py:59-138``), J4 (overlap dedup keeping
highest confidence, ``layout_analyzer.py:440-469``), and J1/P8
(word-in-table containment exclusion, ``extractor.py:819-842``).

All pure NumPy — per-document work inside the Arrow batch. The
containment test (J1) is the point-in-rectangle range-join shape: with
≤~10 tables per page it is a broadcast-nested-loop over vectorized
interval masks, never an O(n²) Python loop over words.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

import numpy as np

from ..config import ExtractConfig
from .words import Words

_NUMERIC_RE = re.compile(r"^[\d,.\-+%¥$€()]+$")


@dataclass
class Table:
    """Detected grid (reference ``layout_analyzer.py:38-141``)."""

    page: int
    x0: float
    x1: float
    top: float
    bottom: float
    n_rows: int
    n_cols: int
    confidence: float
    has_header: bool
    text: str


def _cluster_1d(vals, tol: float, min_members: int) -> list[float]:
    """C5/C6 shared core: sorted 1-D clustering with tolerance; returns
    the mean position of clusters holding ≥ ``min_members`` values
    (reference ``table_detector_enhanced.py:313-369``). NumPy run-split
    over the value-sorted array — same clusters and means as the former
    sort_values/groupby form (cluster membership depends only on sorted
    values; the mean sums the same floats in the same order)."""
    v = np.sort(np.asarray(vals, dtype=float))
    if len(v) == 0:
        return []
    brk = np.diff(v) > tol
    out: list[float] = []
    for grp in np.split(v, np.flatnonzero(brk) + 1):
        if len(grp) >= min_members:
            out.append(float(grp.mean()))
    return out


def _grid_text(
    words: Words,
    col_pos: list[float],
    row_pos: list[float],
    tol: float,
) -> tuple[str, int, bool]:
    """Assign words to (row, col) cells, serialize pipe-style (F6) and
    apply the header heuristic (F10). Returns (text, populated, header)."""
    cx = words["x0"]
    cy = words["top"]
    txt = words["text"]
    cols = np.abs(cx[:, None] - np.array(col_pos)[None, :]).argmin(axis=1)
    rows = np.abs(cy[:, None] - np.array(row_pos)[None, :]).argmin(axis=1)
    # stable (row, col, x0) sort then run-split on (row, col) — same
    # groups/order as the former assign/sort_values/groupby chain
    order = np.lexsort((cx, cols, rows))
    r_s, c_s = rows[order], cols[order]
    grp_brk = np.flatnonzero(
        (np.diff(r_s) != 0) | (np.diff(c_s) != 0)
    ) + 1
    cells: dict[tuple[int, int], list[str]] = {}
    for seg in np.split(order, grp_brk):
        cells[(int(rows[seg[0]]), int(cols[seg[0]]))] = [
            str(t) for t in txt[seg]
        ]
    populated = len(cells)

    lines: list[str] = []
    grid: list[list[str]] = []
    for r in range(len(row_pos)):
        row_cells = [
            " ".join(cells.get((r, c), [])) for c in range(len(col_pos))
        ]
        grid.append(row_cells)
        lines.append("| " + " | ".join(row_cells) + " |")

    # F10: header iff first row has no numeric-only cells while later
    # rows do (reference layout_analyzer.py:366-395)
    first_numeric = any(
        _NUMERIC_RE.match(c) for c in grid[0] if c
    )
    later_numeric = any(
        _NUMERIC_RE.match(c)
        for row in grid[1:]
        for c in row
        if c
    )
    has_header = (not first_numeric) and later_numeric
    if has_header and len(lines) > 1:
        sep = "|" + "|".join(["---"] * len(col_pos)) + "|"
        lines.insert(1, sep)
    return "\n".join(lines), populated, has_header


def _match_count(a: np.ndarray, b: np.ndarray, tol: float) -> int:
    """Greedy two-pointer count of x0 positions matching within ``tol``
    between two sorted arrays (each position used once)."""
    i = j = n = 0
    while i < len(a) and j < len(b):
        d = a[i] - b[j]
        if abs(d) <= tol:
            n += 1
            i += 1
            j += 1
        elif d < 0:
            i += 1
        else:
            j += 1
    return n


def detect_tables(
    words: Words, page_no: int, cfg: ExtractConfig
) -> list[Table]:
    """Grid detection via consecutive-line compatibility.

    The reference's strict mode keys on drawn ruling lines
    (``layout_analyzer.py:187-215``) and keeps relaxed text-only
    detection disabled (``layout_analyzer.py:223``); our fixture grammar
    draws no rules, so the text-alignment detector
    (``table_detector_enhanced.py:313-369`` C5/C6) is made precise
    enough to never fire on flowing text:

      1. group the page into lines (top-tolerance sessionization);
      2. adjacent lines are GRID-COMPATIBLE when ≥ ``table_min_cols`` of
         their word x0 positions match within ``table_align_tol`` AND the
         matching fraction is ≥ ``table_row_match_frac`` of the shorter
         line (flowing text aligns only accidentally — far below this);
      3. maximal runs of ≥ ``table_min_rows`` compatible lines form a
         candidate block;
      4. the block must pass the strict gate (≥3 rows × ≥3 cols × ≥9
         populated cells) and an occupancy test: ≥
         ``table_occupancy_min`` of ALL block words sit on an aligned
         column.

    Deterministic: stable sorts, fixed thresholds, greedy left-to-right.
    """
    if len(words) < cfg.table_min_cells:
        return []
    top_a = words["top"]
    x0_a = words["x0"]
    order = np.lexsort((x0_a, top_a))  # stable (top, x0) sort
    sorted_top = top_a[order]
    breaks = np.flatnonzero(np.diff(sorted_top) > cfg.table_align_tol) + 1
    line_slices = np.split(order, breaks)  # positional indices per line
    qual = [len(ln) >= cfg.table_min_cols for ln in line_slices]
    xs = [x0_a[ln] for ln in line_slices]
    if not any(a and b for a, b in zip(qual, qual[1:])):
        return []  # no adjacent qualifying lines anywhere

    def compatible(i: int, j: int) -> bool:
        if not (qual[i] and qual[j]):
            return False
        m = _match_count(xs[i], xs[j], cfg.table_align_tol)
        shorter = min(len(xs[i]), len(xs[j]))
        longer = max(len(xs[i]), len(xs[j]))
        # both gates: near-total alignment of the shorter row (missing
        # cells allowed) AND comparable row lengths — a 3-word header
        # "matching" inside an 11-word prose line fails the second.
        return (
            m >= cfg.table_min_cols
            and m / shorter >= cfg.table_row_match_frac
            and m / longer >= cfg.table_row_count_ratio
        )

    tables: list[Table] = []
    i = 0
    while i < len(line_slices):
        j = i
        while j + 1 < len(line_slices) and compatible(j, j + 1):
            j += 1
        run = line_slices[i: j + 1]
        i = j + 1
        if len(run) < cfg.table_min_rows:
            continue
        # build the block only for qualifying runs (rare path)
        block = words.take(np.concatenate(run))
        cx = block["x0"]
        col_pos = _cluster_1d(
            cx, cfg.table_align_tol, cfg.table_min_rows - 1
        )
        if len(col_pos) < cfg.table_min_cols:
            continue
        on_col = (
            np.abs(cx[:, None] - np.array(col_pos)[None, :])
            <= cfg.table_align_tol
        ).any(axis=1)
        if on_col.mean() < cfg.table_occupancy_min:
            continue  # flowing text: words mostly off-grid
        member = block.take(on_col)
        if len(member) < cfg.table_min_cells:
            continue
        row_pos = [float(top_a[ln].mean()) for ln in run]
        text, populated, has_header = _grid_text(
            member, col_pos, row_pos, cfg.table_align_tol
        )
        if populated < cfg.table_min_cells:
            continue
        confidence = round(
            populated / (len(col_pos) * len(row_pos)), 6
        )
        if confidence < cfg.table_min_confidence:
            continue
        tables.append(
            Table(
                page=page_no,
                x0=float(member["x0"].min()),
                x1=float(member["x1"].max()),
                top=float(member["top"].min()),
                bottom=float(member["bottom"].max()),
                n_rows=len(row_pos),
                n_cols=len(col_pos),
                confidence=confidence,
                has_header=has_header,
                text=text,
            )
        )
    return tables


def dedup_tables(tables: list[Table]) -> list[Table]:
    """J4 (reference ``layout_analyzer.py:440-469``): confidence-desc
    greedy sweep, drop tables overlapping an already-kept one."""
    kept: list[Table] = []
    for t in sorted(
        tables, key=lambda t: (-t.confidence, t.top, t.x0)
    ):
        clash = any(
            t.page == k.page
            and t.x0 < k.x1
            and k.x0 < t.x1
            and t.top < k.bottom
            and k.top < t.bottom
            for k in kept
        )
        if not clash:
            kept.append(t)
    kept.sort(key=lambda t: (t.page, t.top, t.x0))  # O5 insertion order
    return kept


def exclude_table_words(words: Words, tables: list[Table]) -> Words:
    """J1/P8 (reference ``extractor.py:819-842``): drop words whose
    CENTER lies inside any detected table bbox — vectorized
    point-in-rect containment per table (broadcast-nested-loop)."""
    if not tables or len(words) == 0:
        return words
    cx = (words["x0"] + words["x1"]) / 2
    cy = (words["top"] + words["bottom"]) / 2
    inside = np.zeros(len(words), dtype=bool)
    for t in tables:
        inside |= (
            (cx >= t.x0) & (cx <= t.x1) & (cy >= t.top) & (cy <= t.bottom)
        )
    return words.take(~inside)
