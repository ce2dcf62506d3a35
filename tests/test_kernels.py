"""Unit tests for the pure per-document kernels (SURVEY.md §5.2 item 2)."""

from __future__ import annotations

import pandas as pd
import pytest

from pdf_extractor_spark.config import DEFAULT_CONFIG as CFG
from pdf_extractor_spark.operators.charclass import (
    char_advance,
    is_japanese_char,
    text_advance,
)
from pdf_extractor_spark.operators.filters import (
    FOOTNOTE_MARKER_RE,
    SECTION_NUMBER_RE,
    detect_repeating_elements,
    filter_metadata,
    is_page_number,
)
from pdf_extractor_spark.operators.html_extract import (
    classify_blocks,
    segment_blocks,
    sniff_charset,
    sniff_decode,
)
from pdf_extractor_spark.operators.layout import (
    detect_columns,
    gap_cluster,
    group_lines,
)
from pdf_extractor_spark.operators.spacing import (
    cleanup_text,
    join_lines,
    join_tokens,
)
from pdf_extractor_spark.operators.words import WORD_COLUMNS, Words


def _frame(rows):
    """A pandas frame, for the pandas oracles in ``layout``/``spacing``."""
    return pd.DataFrame(rows, columns=WORD_COLUMNS)


def _words(rows):
    """The page operators' input."""
    return Words.from_frame(_frame(rows))


# ---------------------------------------------------------- charclass

def test_char_widths():
    assert char_advance("a", 12) == 6.0
    assert char_advance("あ", 12) == 12.0
    assert text_advance("ab", 10) == 10.0
    assert text_advance("日本", 10) == 20.0


def test_japanese_charclass():
    assert is_japanese_char("あ") and is_japanese_char("漢")
    assert is_japanese_char("。") and is_japanese_char("Ａ")
    assert not is_japanese_char("a") and not is_japanese_char("5")


# ------------------------------------------------------------- layout

def test_gap_cluster_sessionization():
    vals = pd.Series([0.0, 5.0, 8.0, 40.0, 42.0, 100.0])
    ids = gap_cluster(vals, 15.0)
    assert ids.tolist() == [0, 0, 0, 1, 1, 2]


def test_detect_columns_two_col():
    w = _frame(
        [
            ("L1", 72, 100, 100, 112, 12, 1),
            ("L2", 72, 100, 120, 132, 12, 1),
            ("R1", 330, 360, 100, 112, 12, 1),
            ("R2", 330, 360, 120, 132, 12, 1),
        ]
    )
    out = detect_columns(w, CFG.column_gap_threshold)
    by_col = out.groupby("col_id")["text"].apply(set)
    assert len(by_col) == 2
    assert by_col[0] == {"L1", "L2"} and by_col[1] == {"R1", "R2"}


def test_group_lines_threshold():
    w = _frame(
        [
            ("b", 100, 120, 100, 112, 12, 1),
            ("a", 72, 95, 100.5, 112, 12, 1),   # same line (|d|<15)
            ("c", 72, 95, 130, 142, 12, 1),     # new line
        ]
    )
    out = group_lines(w, CFG.line_height_threshold)
    lines = out.groupby("line_id")["text"].apply(list)
    assert lines[0] == ["a", "b"]  # x-sorted within line
    assert lines[1] == ["c"]


# ------------------------------------------------------------ spacing

@pytest.mark.parametrize(
    "gap,a,b,expect",
    [
        (1.0, "word", "next", "wordnext"),      # gap < 2 → no space
        (3.0, "word", "next", "wordnext"),      # EN needs gap > 3
        (5.0, "word", "next", "word next"),
        (5.0, "日本", "語句", "日本語句"),          # JP↔JP needs gap > 10
        (12.0, "日本", "語句", "日本 語句"),
        (5.0, "語句", "。", "語句。"),             # punct → never a space
    ],
)
def test_spacing_decision_table(gap, a, b, expect):
    x1a = 100.0
    w = _frame(
        [
            (a, 50, x1a, 100, 112, 12, 1),
            (b, x1a + gap, x1a + gap + 20, 100, 112, 12, 1),
        ]
    )
    assert join_tokens(
        w["text"].to_numpy(), w["x0"].to_numpy(), w["x1"].to_numpy(), CFG
    ) == expect


def test_join_lines_particle_and_comma():
    assert join_lines("この文は助詞の\n続きです。") == "この文は助詞の続きです。"
    assert join_lines("ends with comma,\nso it joins.") == (
        "ends with comma, so it joins."
    )
    assert join_lines("Terminated line.\nNext line.") == (
        "Terminated line.\nNext line."
    )
    assert join_lines("ends with comma,\n- bullet stays") == (
        "ends with comma,\n- bullet stays"
    )


def test_cleanup_chain():
    assert cleanup_text("あ いう") == "あいう"
    assert cleanup_text("終わり 。") == "終わり。"
    assert cleanup_text("x。。。y") == "x。y"
    assert cleanup_text("a....b") == "a…b"
    assert cleanup_text("a\n\n\n\n\n\nb") == "a\n\n\nb"


# ------------------------------------------------------------ filters

@pytest.mark.parametrize(
    "text,expect",
    [
        ("1.2", True), ("1.2.3.", True), ("(1)", True), ("3)", True),
        ("①", True), ("第2章", True), ("一、", True),
        ("1", False), ("word", False), ("1.2x", False),
    ],
)
def test_section_number_predicate(text, expect):
    assert bool(SECTION_NUMBER_RE.match(text)) is expect


@pytest.mark.parametrize(
    "text,expect",
    [
        ("Page 5", True), ("ページ 3", True), ("- 5 -", True),
        ("5 / 100", True), ("p. 5", True),
        ("5 items", False), ("Page", False),
    ],
)
def test_page_number_predicate(text, expect):
    assert is_page_number(text) is expect


@pytest.mark.parametrize(
    "text,expect",
    [
        ("*1", True), ("※", True), ("注3", True), ("†", True),
        ("[2]", True), ("(*1)", True), ("*1:", True),
        ("*", False), ("note", False),
    ],
)
def test_footnote_marker_predicate(text, expect):
    assert bool(FOOTNOTE_MARKER_RE.match(text)) is expect


def test_repeating_header_detection_needs_three_pages():
    h = 792.0
    page = _words([("HEADER", 200, 260, 20, 30, 10, 1),
                   ("body", 72, 110, 400, 412, 12, 1)])
    # two pages → below min_pages → nothing detected
    hs, fs = detect_repeating_elements([page, page], [h, h], CFG)
    assert hs == set() and fs == set()
    hs, fs = detect_repeating_elements([page] * 4, [h] * 4, CFG)
    assert "HEADER" in hs and fs == set()


def test_filter_metadata_keeps_section_numbers_in_margin():
    h = 792.0
    w = _words(
        [
            ("1.2", 72, 90, 20, 32, 12, 1),      # margin but section → keep
            ("Page 3", 290, 330, 20, 30, 10, 1),  # strict page number → drop
            ("body", 72, 110, 400, 412, 12, 1),
        ]
    )
    out = filter_metadata(w, h, set(), set(), CFG)
    assert set(out["text"]) == {"1.2", "body"}


def test_filter_isolated_margin_digit_dropped():
    h = 792.0
    w = _words(
        [
            ("7", 300, 306, 20, 30, 10, 1),       # isolated digit in margin
            ("body", 72, 110, 400, 412, 12, 1),
        ]
    )
    out = filter_metadata(w, h, set(), set(), CFG)
    assert set(out["text"]) == {"body"}


# ------------------------------------------------ page-kernel imports

# Every module a page's word boxes pass through between the tokenizer
# and the layout serializer: one container type (``words.Words``), so
# none of them may import pandas.
PAGE_KERNEL_MODULES = [
    "document", "inventory", "filters", "footnotes", "tables",
    "textboxes", "scripts", "words", "pdf_tokenizer",
]


@pytest.mark.parametrize("module", PAGE_KERNEL_MODULES)
def test_page_kernel_module_does_not_import_pandas(module):
    import ast
    from pathlib import Path

    import pdf_extractor_spark.operators as ops

    path = Path(ops.__file__).parent / f"{module}.py"
    imported = set()
    for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
        if isinstance(node, ast.Import):
            imported.update(a.name.split(".")[0] for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module:
            imported.add(node.module.split(".")[0])
    assert "pandas" not in imported, module


# --------------------------------------------------------------- html

def test_html_segmentation_and_density():
    html = (
        b"<html><body><nav><a href='/'>Home</a> <a href='/b'>B</a></nav>"
        b"<p>A long paragraph of genuine content that easily exceeds the "
        b"short-block threshold and has zero links.</p></body></html>"
    )
    blocks = segment_blocks(html)
    keep = classify_blocks(blocks, CFG)
    kept = [b.text for b, k in zip(blocks, keep) if k]
    assert len(kept) == 1 and kept[0].startswith("A long paragraph")


class TestCharsetSniffing:
    """WHATWG encoding sniffing: BOM > meta charset > utf-8."""

    PARA = ("A long paragraph of genuine content that easily exceeds "
            "the short-block threshold and has zero links.")

    def test_utf8_bom_stripped(self):
        text, codec = sniff_decode("﻿hello".encode("utf-8"))
        assert (text, codec) == ("hello", "utf-8-sig")

    def test_utf16_bom_both_endians(self):
        for enc in ("utf-16-le", "utf-16-be"):
            bom = b"\xff\xfe" if enc.endswith("le") else b"\xfe\xff"
            payload = bom + f"<p>{self.PARA}</p>".encode(enc)
            assert sniff_charset(payload) == "utf-16"
            blocks = segment_blocks(payload)
            assert blocks and blocks[0].text == self.PARA

    def test_meta_charset_shift_jis(self):
        body = "日本語の本文です。"
        payload = (
            '<html><head><meta charset="Shift_JIS"></head><body>'
            f"<p>{body}</p></body></html>"
        ).encode("cp932")
        assert sniff_charset(payload) == "cp932"
        blocks = segment_blocks(payload)
        assert blocks[0].text == body

    def test_http_equiv_windows_1252(self):
        # 0x93/0x94 are curly quotes in cp1252, C1 controls in latin-1
        payload = (
            b"<html><head><meta http-equiv='Content-Type' "
            b"content='text/html; charset=iso-8859-1'></head><body>"
            b"<p>He said \x93hi\x94 and left.</p></body></html>"
        )
        assert sniff_charset(payload) == "windows-1252"
        blocks = segment_blocks(payload)
        assert blocks[0].text == "He said “hi” and left."

    def test_meta_utf16_label_decodes_as_utf8(self):
        # an ASCII-readable <meta> proves the page is not utf-16
        payload = b'<meta charset="utf-16"><p>plain ascii body</p>'
        assert sniff_charset(payload) == "utf-8"

    def test_unknown_label_falls_back_utf8(self):
        payload = b'<meta charset="klingon-8"><p>body</p>'
        assert sniff_charset(payload) == "utf-8"

    def test_meta_beyond_1024_bytes_ignored(self):
        payload = b"<!--" + b"x" * 1100 + b'--><meta charset="cp1251">'
        assert sniff_charset(payload) == "utf-8"

    def test_bom_beats_meta(self):
        payload = b"\xef\xbb\xbf" + b'<meta charset="cp1251"><p>a</p>'
        assert sniff_charset(payload) == "utf-8-sig"


class TestClassIdBoilerplateHints:
    """div-soup boilerplate: class/id tokens mark bad context the way
    semantic tags do on modern markup."""

    PARA = ("A long paragraph of genuine content that easily exceeds "
            "the short-block threshold and has zero links.")

    def _kept(self, html: bytes) -> list[str]:
        blocks = segment_blocks(html)
        keep = classify_blocks(blocks, CFG)
        return [b.text for b, k in zip(blocks, keep) if k]

    def test_navbar_class_dropped(self):
        html = (
            "<div class='navbar'><div>Home Products About Contact "
            "Careers Blog Support Legal Privacy</div></div>"
            f"<div class='content'><p>{self.PARA}</p></div>"
        ).encode()
        kept = self._kept(html)
        assert kept == [self.PARA]

    def test_token_boundaries(self):
        # "article-nav-next" hits (token nav); "navigate-story" and
        # "menuitem" must NOT (substring, not a token)
        html = (
            f"<div class='navigate-story'><p>{self.PARA}</p></div>"
            "<div class='article-nav-next'><div>Next Prev Index Top "
            "Bottom More Links Here Again</div></div>"
        ).encode()
        kept = self._kept(html)
        assert kept == [self.PARA]

    def test_id_and_role_checked(self):
        html = (
            "<div id='page-footer'><div>Copyright Terms Privacy "
            "Imprint Contact Careers Press Media</div></div>"
            "<section role='navigation'><div>One Two Three Four Five "
            "Six Seven Eight Nine</div></section>"
            f"<div id='main-text'><p>{self.PARA}</p></div>"
        ).encode()
        kept = self._kept(html)
        assert kept == [self.PARA]

    def test_interleaved_good_and_bad_divs(self):
        html = (
            f"<div class='cookie-banner'><div>We use cookies to "
            "improve your browsing experience on this site okay"
            "</div></div>"
            f"<div><p>{self.PARA}</p></div>"
            "<div class='ad-container'><div>Sponsored offer buy now "
            "great deal limited time only act fast</div></div>"
            f"<div><p>{self.PARA} Second.</p></div>"
        ).encode()
        kept = self._kept(html)
        assert kept == [self.PARA, self.PARA + " Second."]

    def test_stray_endtag_harmless(self):
        html = (
            f"</div><div><p>{self.PARA}</p></div></div></div>"
        ).encode()
        assert self._kept(html) == [self.PARA]


def test_html_short_block_neighbor_smoothing():
    html = (
        b"<p>A long paragraph of genuine content that easily exceeds the "
        b"short-block threshold and anchors its neighbors firmly.</p>"
        b"<p>Short one.</p>"
        b"<p>Another long paragraph of genuine content that exceeds the "
        b"threshold and anchors the short block from the other side.</p>"
    )
    blocks = segment_blocks(html)
    keep = classify_blocks(blocks, CFG)
    assert keep == [True, True, True]


def test_form_controls_and_embeds_skipped():
    para = ("A long paragraph of genuine content that easily exceeds "
            "the short-block threshold and has zero links.")
    html = (
        "<select><option>Alabama</option><option>Alaska</option>"
        "<option>Arizona</option></select>"
        "<button>Subscribe now</button>"
        "<svg><text>chart label text here</text></svg>"
        "<textarea>type your comment here folks</textarea>"
        f"<p>{para}</p>"
    ).encode()
    blocks = segment_blocks(html)
    keep = classify_blocks(blocks, CFG)
    kept = [b.text for b, k in zip(blocks, keep) if k]
    assert kept == [para]


class TestImpliedEndTags:
    """Counter hygiene on real-world (unclosed) markup: implied end
    tags must not leak skip/bad/link state over later content."""

    PARA = ("A long paragraph of genuine content that easily exceeds "
            "the short-block threshold and has zero links.")

    def _kept(self, html: bytes) -> list[str]:
        blocks = segment_blocks(html)
        keep = classify_blocks(blocks, CFG)
        return [b.text for b, k in zip(blocks, keep) if k]

    def test_unclosed_options_do_not_eat_the_page(self):
        html = (
            "<select><option>one<option>two<option>three</select>"
            f"<p>{self.PARA}</p>"
        ).encode()
        assert self._kept(html) == [self.PARA]

    def test_unclosed_option_without_select_end(self):
        html = (
            f"<select><option>one<option>two<p>{self.PARA}</p>"
        ).encode()
        assert self._kept(html) == [self.PARA]

    def test_implicitly_closed_hinted_p_does_not_leak(self):
        html = (
            "<p class='comments'>leave a comment below now folks"
            f"<p>{self.PARA}"
        ).encode()
        blocks = segment_blocks(html)
        assert [b.bad_context for b in blocks] == [True, False]
        assert self._kept(html) == [self.PARA]

    def test_unclosed_li_chain(self):
        html = (
            "<ul class='menu'><li>Home<li>Shop<li>Blog</ul>"
            f"<p>{self.PARA}</p>"
        ).encode()
        assert self._kept(html) == [self.PARA]

    def test_unclosed_anchor_does_not_inflate_link_density(self):
        html = (
            "<div><a href='/a'>one<a href='/b'>two</a></div>"
            f"<p>{self.PARA}</p>"
        ).encode()
        blocks = segment_blocks(html)
        para = [b for b in blocks if b.text == self.PARA][0]
        assert para.link_chars == 0
        assert self._kept(html) == [self.PARA]

    def test_new_heading_closes_open_heading(self):
        # h1 left unclosed; the h2 start implies its end, so the
        # explicit </h2> brings heading depth back to ZERO
        html = (
            f"<h1>Title One<h2>Title Two</h2><p>{self.PARA}"
        ).encode()
        blocks = segment_blocks(html)
        para = [b for b in blocks if b.text == self.PARA][0]
        assert not para.heading
        assert [b.heading for b in blocks[:2]] == [True, True]
