"""Spatial clustering kernels — the engine's "GROUP BY" (SURVEY.md §2.3).

All three clusterings (columns C1, lines C2, bands C3; reference
``extractor.py:479-537,665-689``) are the same 1-D gap-sessionization
pattern: sort, lag, flag gaps over threshold, cumulative-sum the flags
into cluster ids. Expressed vectorized in pandas (``shift`` +
``cumsum``); at Spark row level the identical plan is
``Window.orderBy + lag + sum`` — but intra-document order is never a
Spark shuffle (SURVEY.md §2.6 O1), so these stay inside the Arrow batch.

Determinism: every sort uses ``kind="mergesort"`` (stable) so ties
resolve by input order, which is itself deterministic (content-stream
order).
"""

from __future__ import annotations

import pandas as pd

from .words import Words


def gap_cluster(sorted_vals: pd.Series, threshold: float) -> pd.Series:
    """Generic 1-D sessionization: new cluster when the gap from the
    previous value exceeds/meets ``threshold``. Input must be sorted."""
    gaps = sorted_vals.diff()
    return (gaps >= threshold).fillna(False).astype(int).cumsum()


def detect_columns(words: pd.DataFrame, gap_threshold: float) -> pd.DataFrame:
    """C1 (reference ``extractor.py:479-504``): sort words by x0; start a
    new column where the horizontal gap ``x0[i] - x1[i-1]`` exceeds the
    threshold. Runs on the whole page's x-extent, not per band —
    replicating the reference's semantics as-is (SURVEY.md §7.4 trap 1).

    Returns the frame with a ``col_id`` column, sorted by x0.
    """
    w = words.sort_values("x0", kind="mergesort").reset_index(drop=True)
    gaps = w["x0"] - w["x1"].shift()
    w["col_id"] = (gaps > gap_threshold).fillna(False).astype(int).cumsum()
    return w


def group_lines(col_words: pd.DataFrame, line_threshold: float) -> pd.DataFrame:
    """C2 (reference ``extractor.py:506-537``): within a column, sort by
    (top, x0); start a new line when |Δtop| ≥ threshold. Adds ``line_id``
    and re-sorts each line left-to-right."""
    w = col_words.sort_values(["top", "x0"], kind="mergesort").reset_index(
        drop=True
    )
    w["line_id"] = gap_cluster(w["top"], line_threshold)
    return w.sort_values(["line_id", "x0"], kind="mergesort").reset_index(
        drop=True
    )


def column_texts(words: Words, cfg) -> list[str]:
    """Fused C1 → C2 → O1/O2 → W2 body serialization on raw arrays —
    byte-identical to the detect_columns/group_lines/join_tokens
    pandas chain (asserted in tests), minus the
    per-page pandas object overhead that dominates ~10²-word frames.
    Returns one serialized string per detected column."""
    import numpy as np

    from .spacing import join_tokens

    x0 = words["x0"]
    x1 = words["x1"]
    top = words["top"]
    texts = words["text"]

    order = np.argsort(x0, kind="stable")                    # C1 x-sort
    gaps = x0[order][1:] - x1[order][:-1]
    col_slices = np.split(
        order, np.flatnonzero(gaps > cfg.column_gap_threshold) + 1
    )
    out: list[str] = []
    for cs in col_slices:
        lorder = cs[np.lexsort((x0[cs], top[cs]))]           # C2 (top,x0)
        lbreaks = (
            np.flatnonzero(
                np.diff(top[lorder]) >= cfg.line_height_threshold
            )
            + 1
        )
        line_strs = []
        for ls in np.split(lorder, lbreaks):
            lx = ls[np.argsort(x0[ls], kind="stable")]       # O2 x-sort
            line_strs.append(
                join_tokens(texts[lx], x0[lx], x1[lx], cfg)  # W2
            )
        out.append("\n".join(line_strs))
    return out
