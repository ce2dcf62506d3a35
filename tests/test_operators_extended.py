"""Unit tests for the round-1 extension kernels: tables (C5/C6, F10,
F6, J4, J1/P8), footnotes (P5/P7, C4, W5, J3, A5), super/subscripts
(W3/F4/A2), and inventory/verification (A3/A4, A7/P9, J5, D1).

Pure-kernel tests — no Spark session (SURVEY.md §5.2 item 2)."""

from __future__ import annotations

import pandas as pd
import pytest

from pdf_extractor_spark.config import DEFAULT_CONFIG as CFG
from pdf_extractor_spark.operators.footnotes import (
    Definition,
    Marker,
    completeness,
    find_definitions,
    find_markers,
    match_markers,
    normalize_marker,
)
from pdf_extractor_spark.operators.inventory import (
    coverage_status,
    dedup_words,
    element_inventory,
    hallucination_scan,
    remove_suspicious,
    zorder_overlap_count,
)
from pdf_extractor_spark.operators.scripts import (
    attach_scripts,
    to_subscript,
    to_superscript,
    trimmed_mean_size,
)
from pdf_extractor_spark.operators.tables import (
    Table,
    dedup_tables,
    detect_tables,
    exclude_table_words,
)
from pdf_extractor_spark.operators.words import Words


def _frame(rows):
    """rows: (text, x0, x1, top, bottom, size) → page-1 word boxes"""
    return Words.from_frame(pd.DataFrame(
        rows, columns=["text", "x0", "x1", "top", "bottom", "size"]
    ).assign(page=1))


def _grid_frame(nrows=4, ncols=3, x_step=100.0, y_step=25.0):
    rows = []
    for r in range(nrows):
        for c in range(ncols):
            rows.append(
                (f"c{r}{c}", 72 + c * x_step, 72 + c * x_step + 30,
                 300 + r * y_step, 312 + r * y_step, 12.0)
            )
    return _frame(rows)


# ------------------------------------------------------------- tables

class TestTables:
    def test_detects_aligned_grid(self):
        tables = detect_tables(_grid_frame(), 1, CFG)
        assert len(tables) == 1
        t = tables[0]
        assert (t.n_rows, t.n_cols) == (4, 3)
        assert t.confidence == 1.0
        assert t.text.count("\n") >= 3

    def test_flowing_text_not_a_table(self):
        # prose: same left margin, advance-based interior positions
        rows = []
        widths = [[30, 42, 25, 55, 33], [47, 28, 61, 30, 39],
                  [36, 52, 29, 44, 58], [41, 33, 49, 27, 51]]
        for r, ws in enumerate(widths):
            x = 72.0
            for c, w in enumerate(ws):
                rows.append((f"w{r}{c}", x, x + w, 100 + r * 20.0,
                             112 + r * 20.0, 12.0))
                x += w + 6
        assert detect_tables(_frame(rows), 1, CFG) == []

    def test_min_grid_gate(self):
        # 2x3 grid is below the 3-row strict gate
        assert detect_tables(_grid_frame(nrows=2), 1, CFG) == []
        # 4x2 grid is below the 3-col gate
        assert detect_tables(_grid_frame(ncols=2), 1, CFG) == []

    def test_header_heuristic_and_pipe_text(self):
        rows = []
        cells = [["Name", "Qty", "State"], ["aa", "12", "ok"],
                 ["bb", "7", "ok"], ["cc", "99", "bad"]]
        for r, row in enumerate(cells):
            for c, cell in enumerate(row):
                rows.append((cell, 72 + c * 100.0, 72 + c * 100.0 + 30,
                             300 + r * 25.0, 312 + r * 25.0, 12.0))
        t = detect_tables(_frame(rows), 1, CFG)[0]
        assert t.has_header
        lines = t.text.split("\n")
        assert lines[0] == "| Name | Qty | State |"
        assert lines[1] == "|---|---|---|"
        assert lines[2] == "| aa | 12 | ok |"

    def test_dedup_keeps_highest_confidence(self):
        a = Table(1, 0, 100, 0, 100, 3, 3, 0.9, False, "A")
        b = Table(1, 50, 150, 50, 150, 3, 3, 0.7, False, "B")  # overlaps a
        c = Table(1, 200, 300, 0, 100, 3, 3, 0.5, False, "C")  # disjoint
        kept = dedup_tables([b, a, c])
        assert [t.text for t in kept] == ["A", "C"]

    def test_exclude_table_words(self):
        words = _frame(
            [("in", 10, 20, 10, 20, 12.0), ("out", 200, 210, 10, 20, 12.0)]
        )
        t = Table(1, 0, 100, 0, 100, 3, 3, 1.0, False, "")
        kept = exclude_table_words(words, [t])
        assert list(kept["text"]) == ["out"]


# ----------------------------------------------------------- footnotes

class TestFootnotes:
    def test_find_markers_body_only(self):
        words = _frame(
            [("*1", 100, 110, 200, 208, 8.0),      # body marker
             ("*2", 100, 110, 700, 708, 8.0),      # bottom region: not a marker
             ("plain", 72, 95, 200, 212, 12.0)]
        )
        ms = find_markers(words, 1, 792.0, CFG)
        assert [m.marker for m in ms] == ["*1"]

    def test_definitions_multiline_absorb(self):
        words = _frame(
            [("※", 72, 80, 700, 709, 9.0),
             ("first", 100, 120, 700, 709, 9.0),
             ("line", 124, 140, 700, 709, 9.0),
             ("continues", 100, 130, 715, 724, 9.0),
             ("here", 134, 150, 715, 724, 9.0)]
        )
        defs, consumed = find_definitions(words, 1, 792.0, CFG)
        assert len(defs) == 1
        assert defs[0].text == "first line continues here"
        assert len(consumed) == 5

    def test_greedy_match_prefers_same_page(self):
        ms = [Marker("[1]", page=2, y=100, x=50)]
        ds = [Definition("[1]", "other page", page=1, y=700),
              Definition("[1]", "same page", page=2, y=700)]
        out = match_markers(ms, ds, CFG)
        assert out == [{"marker": "[1]", "text": "same page", "page": 2}]

    def test_normalized_match_accepted(self):
        ms = [Marker("(1)", page=1, y=100, x=50)]
        ds = [Definition("[1]", "normalized hit", page=1, y=700)]
        out = match_markers(ms, ds, CFG)
        assert len(out) == 1  # 0.95 + 0.3 same page > 0.5 (type differs)

    def test_definition_used_once(self):
        ms = [Marker("*1", 1, 100, 10), Marker("*1", 1, 150, 10)]
        ds = [Definition("*1:", "only def", page=1, y=700)]
        out = match_markers(ms, ds, CFG)
        assert len(out) == 1

    def test_completeness_statuses(self):
        ms = [Marker("*1", 1, 1, 1), Marker("*2", 1, 2, 1)]
        assert completeness(ms, [], [])["status"] == "POOR"
        assert completeness([], [], [])["match_rate"] == 1.0


class TestNearbyContentGuard:
    """P10 grid sweep (round-1 verdict item #7): exact-equal to the
    matrix oracle, bounded memory on pathological pages."""

    @staticmethod
    def _frame(xs, ys):
        return Words.from_frame(pd.DataFrame(
            {"text": ["w"] * len(xs), "x0": xs, "x1": [x + 8 for x in xs],
             "top": ys, "bottom": [y + 10 for y in ys], "size": 12.0,
             "page": 1}
        ))

    @staticmethod
    def _matrix_oracle(words, cfg):
        import numpy as np

        cx = (words["x0"] + words["x1"]) / 2
        cy = (words["top"] + words["bottom"]) / 2
        dx = cx[:, None] - cx[None, :]
        dy = cy[:, None] - cy[None, :]
        dist2 = dx * dx + dy * dy
        np.fill_diagonal(dist2, np.inf)
        return (dist2 < cfg.isolation_dist**2).any(axis=1)

    def test_grid_equals_matrix_on_random_pages(self):
        import numpy as np

        from pdf_extractor_spark.config import DEFAULT_CONFIG
        from pdf_extractor_spark.operators.filters import (
            _NEARBY_MATRIX_MAX,
            has_nearby_content,
        )

        rng = np.random.default_rng(11)
        # force the grid path: n just above the matrix threshold,
        # points spread so both isolated and clustered words exist
        n = _NEARBY_MATRIX_MAX + 200
        xs = rng.uniform(0, 3000, n)
        ys = rng.uniform(0, 3000, n)
        w = self._frame(xs, ys)
        got = has_nearby_content(w, DEFAULT_CONFIG)
        want = self._matrix_oracle(w, DEFAULT_CONFIG)
        assert (got == want).all()
        assert 0 < got.sum() < n  # both classes present

    def test_cell_boundary_pairs_found(self):
        from pdf_extractor_spark.config import DEFAULT_CONFIG
        from pdf_extractor_spark.operators.filters import (
            _NEARBY_MATRIX_MAX,
            has_nearby_content,
        )

        # two points in adjacent grid cells, 2px apart across the
        # boundary — must be found by the 3×3 neighborhood scan; pad
        # with far-away isolated points to trip the grid path
        pad_n = _NEARBY_MATRIX_MAX + 10
        xs = [49.0, 51.0] + [10000.0 + 200 * i for i in range(pad_n)]
        ys = [10.0, 10.0] + [10000.0] * pad_n
        w = self._frame(xs, ys)
        got = has_nearby_content(w, DEFAULT_CONFIG)
        assert got[0] and got[1]
        assert not got[2:].any()

    def test_pathological_page_bounded(self):
        import time

        from pdf_extractor_spark.config import DEFAULT_CONFIG
        from pdf_extractor_spark.operators.filters import (
            has_nearby_content,
        )

        # 50k words at the same position: the old matrix path would
        # allocate 50000² floats (~20 GB); the grid path satisfies
        # every member inside the first tile
        n = 50_000
        w = self._frame([100.0] * n, [100.0] * n)
        t0 = time.perf_counter()
        got = has_nearby_content(w, DEFAULT_CONFIG)
        assert time.perf_counter() - t0 < 30
        assert got.all()

    def test_normalize(self):
        assert normalize_marker("(*1)") == "1"
        assert normalize_marker("[2]") == "2"
        assert normalize_marker("*3:") == "3"


# ---------------------------------------------------------- scripts W3

class TestScripts:
    def test_superscript_attaches(self):
        words = _frame(
            [("x", 100, 110, 200, 212, 12.0),
             ("2", 111, 115, 198, 204, 6.0),   # small, above middle
             ("rest", 160, 190, 200, 212, 12.0)]
            + [(f"pad{i}", 72 + i * 30, 90 + i * 30, 300, 312, 12.0)
               for i in range(8)]
        )
        out = attach_scripts(words, CFG)
        assert isinstance(out, Words)  # a merge keeps the container type
        assert "x²" in set(out["text"])
        assert "2" not in set(out["text"])

    def test_subscript_attaches_and_x1_extends(self):
        words = _frame(
            [("H", 100, 110, 200, 212, 12.0),
             ("2", 111, 115, 206, 212, 6.0),   # small, below middle
             ("O", 116, 126, 200, 212, 12.0)]
            + [(f"pad{i}", 72 + i * 30, 90 + i * 30, 300, 312, 12.0)
               for i in range(8)]
        )
        out = attach_scripts(words, CFG)
        row = out.take(out["text"] == "H₂")
        assert len(row) == 1
        # trap 4: base x1 extended to the script's x1, so the next gap
        # test sees the merged extent (116 - 115 = 1 < gap threshold...)
        assert float(row["x1"][0]) == 115.0

    def test_no_candidates_fast_path(self):
        words = _frame(
            [(f"w{i}", 72 + i * 30, 90 + i * 30, 100, 112, 12.0)
             for i in range(5)]
        )
        out = attach_scripts(words, CFG)
        assert len(out) == 5

    def test_maps(self):
        assert to_superscript("x2n") == "x²ⁿ"
        assert to_subscript("(3)") == "₍₃₎"

    def test_trimmed_mean(self):
        s = pd.Series([1.0] + [12.0] * 18 + [100.0])
        assert trimmed_mean_size(s) == pytest.approx(12.0)


# ------------------------------------------------- remediation loop 8b

class TestRemediation:
    def _low_quality_pdf(self) -> bytes:
        """Most content sits in the header band and repeats on every
        page, so default config drops it (coverage tanks, score < 70);
        remediation strategy 1 (keep headers/footers) recovers it."""
        from pdf_extractor_spark.operators.pdf_generator import (
            PageSpec,
            build_pdf,
        )

        pages = []
        for _ in range(5):
            p = PageSpec()
            p.put_words(72, 20, 10, ["repeated", "banner", "content",
                                     "carrying", "the", "real", "text"])
            p.put_words(72, 45, 10, ["second", "banner", "row", "also",
                                     "repeats", "verbatim", "here"])
            pages.append(p)
        return build_pdf(pages)

    def test_remediation_improves_and_flags(self):
        from dataclasses import replace

        from pdf_extractor_spark.operators.document import (
            extract_pdf_document,
        )

        payload = self._low_quality_pdf()
        base = extract_pdf_document(
            payload, replace(CFG, remediation_enabled=False)
        )
        assert base["quality"]["score"] < CFG.remediation_min_score
        fixed = extract_pdf_document(payload, CFG)
        assert fixed["quality"]["score"] > base["quality"]["score"]
        assert any(e["type"] == "remediation" for e in fixed["errors"])
        assert "banner" in fixed["extracted_text"]

    def test_remediation_deterministic(self):
        from pdf_extractor_spark.operators.document import (
            extract_pdf_document,
        )

        payload = self._low_quality_pdf()
        a = extract_pdf_document(payload, CFG)
        b = extract_pdf_document(payload, CFG)
        assert a["extracted_text"] == b["extracted_text"]
        assert a["quality"] == b["quality"]

    def test_remediation_parses_once(self, monkeypatch):
        from pdf_extractor_spark.operators import document

        calls = []
        real_parse = document.parse_pdf

        def counting_parse(payload):
            calls.append(1)
            return real_parse(payload)

        monkeypatch.setattr(document, "parse_pdf", counting_parse)
        rec = document.extract_pdf_document(self._low_quality_pdf(), CFG)
        assert rec["errors"][-1]["type"] == "remediation"
        assert len(calls) == 1

    def test_parse_once_record_equals_fresh_parse_per_strategy(self):
        from pdf_extractor_spark.operators.document import (
            _extract_pdf_once,
            _remediation_strategies,
            extract_pdf_document,
        )
        from pdf_extractor_spark.operators.pdf_tokenizer import parse_pdf

        payload = self._low_quality_pdf()
        best = _extract_pdf_once(parse_pdf(payload), CFG)
        best_name = None
        for name, alt in _remediation_strategies(CFG):
            cand = _extract_pdf_once(parse_pdf(payload), alt)
            if cand["quality"]["score"] > best["quality"]["score"]:
                best, best_name = cand, name
        assert best_name is not None
        got = extract_pdf_document(payload, CFG)
        assert best_name in got["errors"][-1]["message"]
        assert got == dict(best, errors=best["errors"] + got["errors"][-1:])

    def test_extraction_pass_leaves_the_parse_unchanged(self):
        from pdf_extractor_spark.operators.document import (
            _extract_pdf_once,
            _remediation_strategies,
        )
        from pdf_extractor_spark.operators.pdf_tokenizer import (
            WORD_COLUMNS,
            parse_pdf,
        )

        doc = parse_pdf(self._low_quality_pdf())

        def snapshot():
            return [
                [(c, p.words[c].tolist(), p.words[c].tobytes()
                  if c != "text" else None) for c in WORD_COLUMNS]
                for p in doc.pages
            ]

        before = snapshot()
        errors_before = list(doc.errors)
        for _name, cfg in ((None, CFG), *_remediation_strategies(CFG)):
            _extract_pdf_once(doc, cfg)
            assert snapshot() == before
            assert doc.errors == errors_before

    def test_good_doc_skips_remediation(self):
        from pdf_extractor_spark.fixtures.corpus import _pdf_single_col
        from pdf_extractor_spark.operators.document import (
            extract_pdf_document,
        )

        rec = extract_pdf_document(_pdf_single_col(), CFG)
        assert not any(e["type"] == "remediation" for e in rec["errors"])


# ------------------------------------------------- textboxes C7/F11

class TestTextboxes:
    def _page(self):
        rows = [("main", 150, 200, 100, 112, 12.0),
                ("content", 210, 280, 100, 112, 12.0),
                ("flows", 150, 200, 120, 132, 12.0),
                ("here", 210, 260, 120, 132, 12.0)]
        return rows

    def test_right_sidebar_detected_and_classified(self):
        from pdf_extractor_spark.operators.textboxes import detect_sidebars

        rows = self._page() + [
            ("Warning:", 500, 550, 100, 110, 10.0),
            ("hot", 500, 520, 115, 125, 10.0),
            ("surface", 500, 545, 130, 140, 10.0),
        ]
        boxes, consumed = detect_sidebars(_frame(rows), 1, 612.0, CFG)
        assert len(boxes) == 1
        assert boxes[0].box_type == "warning"
        assert boxes[0].text == "Warning:\nhot\nsurface"
        assert len(consumed) == 3

    def test_reversed_box_lands_in_one_strip(self):
        from pdf_extractor_spark.operators.textboxes import detect_sidebars

        # x1 < x0 (a negative font size): the box satisfies both the
        # left-strip and the right-strip test
        rows = self._page() + [
            ("left", 20, 60, 100, 110, 10.0),
            ("side", 20, 55, 115, 125, 10.0),
            ("bar", 20, 50, 130, 140, 10.0),
            ("right", 500, 550, 100, 110, 10.0),
            ("side", 500, 545, 115, 125, 10.0),
            ("bar", 500, 540, 130, 140, 10.0),
            ("flipped", 590, 20, 145, 155, -10.0),
        ]
        boxes, consumed = detect_sidebars(_frame(rows), 1, 612.0, CFG)
        assert len(boxes) == 2
        assert len(consumed) == len(set(consumed.tolist())) == 7
        assert sum("flipped" in b.text for b in boxes) == 1

    def test_continuous_text_never_a_sidebar(self):
        from pdf_extractor_spark.operators.textboxes import detect_sidebars

        # words start in the left strip but flow continuously (gap ~6px)
        rows = [(f"w{i}", 30 + i * 40, 64 + i * 40, 100, 112, 12.0)
                for i in range(10)]
        boxes, consumed = detect_sidebars(_frame(rows), 1, 612.0, CFG)
        assert boxes == []
        assert len(consumed) == 0

    def test_classify_generic(self):
        from pdf_extractor_spark.operators.textboxes import classify_textbox

        assert classify_textbox("plain sidebar text") == "generic"
        assert classify_textbox("注意 high voltage") == "note"
        assert classify_textbox("Example: usage") == "example"


# ------------------------------------------------- inventory & checks

class TestInventory:
    def test_element_inventory_regions_and_sizes(self):
        words = _frame(
            [("top", 72, 90, 50, 60, 20.0),       # top region, large
             ("mid", 72, 90, 400, 410, 12.0),     # middle, standard
             ("bot", 72, 90, 700, 710, 8.0),      # bottom, small
             ("tiny", 72, 90, 400, 404, 4.0)]     # middle, tiny
        )
        inv = element_inventory([words], [792.0])
        assert inv["total"] == 4
        assert inv["region_top"] == 1
        assert inv["region_bottom"] == 1
        assert inv["region_middle"] == 2
        assert inv["size_large"] == 1
        assert inv["size_standard"] == 1
        assert inv["size_small"] == 1
        assert inv["size_tiny"] == 1

    def test_coverage_status(self):
        assert coverage_status(0.9) == "GOOD"
        assert coverage_status(0.75) == "WARNING"
        assert coverage_status(0.5) == "POOR"

    def test_dedup_words_rounded_key(self):
        words = _frame(
            [("a", 72.00, 90, 100.00, 112, 12.0),
             ("a", 72.04, 90, 100.02, 112, 12.0),   # same rounded key
             ("a", 75.00, 90, 100.00, 112, 12.0)]   # different x
        )
        assert len(dedup_words(words)) == 2

    def test_zorder_sweep_matches_matrix(self):
        import numpy as np

        from pdf_extractor_spark.operators.inventory import (
            zorder_overlap_count,
            zorder_overlap_count_matrix,
        )

        rng = np.random.RandomState(7)
        for _ in range(20):
            n = rng.randint(2, 120)
            x0 = rng.uniform(0, 500, n)
            w = rng.uniform(1, 60, n)
            top = rng.uniform(0, 700, n)
            h = rng.uniform(5, 15, n)
            frame = Words.from_frame(pd.DataFrame(
                {"text": ["w"] * n, "x0": x0, "x1": x0 + w,
                 "top": top, "bottom": top + h, "size": 12.0, "page": 1}
            ))
            assert zorder_overlap_count(frame) == (
                zorder_overlap_count_matrix(frame)
            )

    def test_zorder_overlap(self):
        words = _frame(
            [("a", 100, 140, 100, 112, 12.0),
             ("b", 110, 150, 100, 112, 12.0),   # 75% overlap
             ("c", 300, 340, 100, 112, 12.0)]
        )
        assert zorder_overlap_count(words) == 1

    def test_hallucination_scan_and_removal(self):
        text = "# Heading\nreal **bold** content ```\n<div>x</div>"
        names = hallucination_scan(text)
        assert {"markdown_heading", "markdown_bold", "markdown_fence",
                "html_tag"} <= set(names)
        cleaned = remove_suspicious(text)
        assert cleaned == "Heading\nreal bold content \nx"

    def test_clean_text_scans_empty(self):
        assert hallucination_scan("ordinary extracted text") == []


# ------------------------------------------------- z-order candidates J5

def _boxes(x0, x1, top, bottom):
    n = len(x0)
    return Words.from_frame(pd.DataFrame(
        {"text": ["w"] * n, "x0": x0, "x1": x1, "top": top,
         "bottom": bottom, "size": 12.0, "page": 1}
    ))


def _line_page(n_lines, words_per_line, width, gap, y_step=14.0):
    """Full-width lines of touching-but-not-overlapping words, with
    every fifth word duplicated 2 pt to the right (a real overlap)."""
    x0, x1, top, bottom = [], [], [], []
    for line in range(n_lines):
        t = 60.0 + y_step * line
        for k in range(words_per_line):
            a = 72.0 + k * (width + gap)
            for dx in ((0.0, 2.0) if k % 5 == 0 else (0.0,)):
                x0.append(a + dx)
                x1.append(a + dx + width)
                top.append(t)
                bottom.append(t + 10.0)
    return _boxes(x0, x1, top, bottom)


class TestZorderCandidatePairs:
    """``zorder_overlap_count`` against the O(n²) matrix oracle on the
    shapes its candidate enumeration has to get right."""

    def _check(self, frame):
        from pdf_extractor_spark.operators.inventory import (
            zorder_overlap_count_matrix,
        )

        got = zorder_overlap_count(frame)
        assert got == zorder_overlap_count_matrix(frame)
        return got

    def test_degenerate_duplicate_and_tied_boxes_match_matrix(self):
        import numpy as np

        rng = np.random.RandomState(11)
        nonzero = 0
        for _ in range(200):
            n = rng.randint(2, 50)
            # coarse grids make ties on x0 and top, and duplicates
            x0 = rng.randint(0, 12, n) * 5.0
            top = rng.randint(0, 12, n) * 5.0
            w = rng.choice([-8.0, -1.0, 0.0, 3.0, 5.0, 7.5, 20.0], n)
            h = rng.choice([-4.0, 0.0, 2.0, 5.0, 10.0], n)
            dup = rng.randint(0, n, n // 3)
            x0 = np.concatenate([x0, x0[dup]])
            top = np.concatenate([top, top[dup]])
            w = np.concatenate([w, w[dup]])
            h = np.concatenate([h, h[dup]])
            nonzero += self._check(_boxes(x0, x0 + w, top, top + h)) > 0
        assert nonzero > 100  # the oracle is not compared on empties only

    def test_negative_extent_boxes_never_count(self):
        # x1 < x0 and bottom < top: a positive "area" that is not a box
        frame = _boxes([10.0, 10.0, 12.0], [0.0, 0.0, 2.0],
                       [10.0, 10.0, 11.0], [0.0, 0.0, 1.0])
        assert self._check(frame) == 0

    def test_identical_boxes_count_every_pair(self):
        frame = _boxes([5.0] * 6, [9.0] * 6, [1.0] * 6, [3.0] * 6)
        assert self._check(frame) == 15

    def test_page_of_full_width_lines(self):
        assert self._check(_line_page(40, 12, 36.0, 4.0)) == 40 * 3

    def test_single_long_line(self):
        frame = _line_page(1, 1250, 5.0, 1.0)
        assert len(frame) == 1500
        assert self._check(frame) == 250

    def test_block_boundaries(self, monkeypatch):
        import numpy as np

        from pdf_extractor_spark.operators import inventory

        monkeypatch.setattr(inventory, "_ZORDER_PAIRS_PER_BLOCK", 7)
        assert self._check(_line_page(6, 9, 30.0, 2.0)) == 6 * 2
        rng = np.random.RandomState(5)
        for _ in range(40):
            n = rng.randint(2, 60)
            x0 = rng.uniform(0, 100, n).round(1)
            top = rng.uniform(0, 100, n).round(1)
            frame = _boxes(x0, x0 + rng.uniform(0, 30, n), top,
                           top + rng.uniform(0, 12, n))
            self._check(frame)
