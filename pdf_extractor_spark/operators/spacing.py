"""Serialization kernels: language-aware spacing, line joining, cleanup.

W1/W2 (reference ``extractor.py:539-627``), W4 (``extractor.py:929-982``),
F1-F3 (``extractor.py:876-994``) — the most byte-stability-sensitive code
in the engine (SURVEY.md §4.2). The pairwise spacing decision is
vectorized: shift + boolean masks + ``numpy.select``; the regex cleanup
battery is a fixed, ordered chain.
"""

from __future__ import annotations

import re

from ..config import ExtractConfig
from . import bidi as _bidi
from .charclass import JP_PARTICLES, JP_PUNCT, LINE_TERMINATORS, is_japanese_char

_JP_RANGE_RE = (
    "　-〿぀-ゟ゠-ヿ一-鿿"
    "㐀-䶿＀-￯"
)
_RE_JP_JP_SPACE = re.compile(f"(?<=[{_JP_RANGE_RE}]) +(?=[{_JP_RANGE_RE}])")
_RE_SPACE_BEFORE_JP_PUNCT = re.compile(r" +(?=[。、・」』）〕】：；！？])")
_RE_PUNCT_DEDUP = re.compile("。{2,}")
_RE_ELLIPSIS_DOTS = re.compile(r"\.{3,}")
_RE_ELLIPSIS_KATA = re.compile("・{3,}")
_RE_BLANKS = re.compile(r"\n{4,}")

_BULLET_PREFIXES = ("-", "•", "・", "*", "◦", "‣")
_SECTION_LINE_RE = re.compile(
    r"^(?:\d+(?:\.\d+)*\.?|\(\d+\)|\d+\)|[①-⑳]|第\d+[章条項節款目]|[一二三四五六七八九十]+、)"
)


def join_tokens(texts, x0s, x1s, cfg: ExtractConfig) -> str:
    """W2 (reference ``extractor.py:539-610``): join an x-sorted line of
    word boxes, deciding per adjacent pair whether to insert a space.

    Decision table (first match wins):
      1. gap < no_space_gap              → no space
      2. boundary touches JP punctuation → no space
      3. JP ↔ JP                         → space iff gap > jp_jp_space_gap
      4. otherwise (EN involved)         → space iff gap > en_space_gap
    """
    n = len(texts)
    if n == 0:
        return ""
    if n == 1:
        t = str(texts[0])
        if _bidi.has_rtl(t):
            return _bidi.visual_to_logical_token(t)
        return t
    if any(_bidi.has_rtl(str(t)) for t in texts):
        # RTL line: visual x-order → logical order first (run
        # reflection keeps every intra-run gap width, so the spacing
        # table below is direction-blind)
        texts, x0s, x1s = _bidi.reorder_visual_line(texts, x0s, x1s)
        n = len(texts)
    # scalar loop, same first-match-wins table: typical lines are a
    # handful of words, where numpy array setup + select costs more
    # than the decisions themselves (profile-verified ~3x)
    no_gap = cfg.no_space_gap
    jp_gap = cfg.jp_jp_space_gap
    en_gap = cfg.en_space_gap
    prev = str(texts[0])
    parts = [prev]
    for i in range(1, n):
        cur = str(texts[i])
        gap = x0s[i] - x1s[i - 1]
        if gap < no_gap:
            space = False
        else:
            p = prev[-1]
            c = cur[0]
            if p in JP_PUNCT or c in JP_PUNCT:
                space = False
            elif is_japanese_char(p) and is_japanese_char(c):
                space = gap > jp_gap
            else:
                space = gap > en_gap
        if space:
            parts.append(" ")
        parts.append(cur)
        prev = cur
    return "".join(parts)


def _should_join(line: str, nxt: str) -> bool:
    """W4 predicate (reference ``extractor.py:957-982``): join a line with
    the next when the sentence visibly continues."""
    if not line or not nxt:
        return False
    if line[-1] in LINE_TERMINATORS:
        return False
    if nxt.startswith(_BULLET_PREFIXES):
        return False
    if _SECTION_LINE_RE.match(nxt):
        return False
    return line[-1] in JP_PARTICLES or line[-1] in {",", "、"}


def join_lines(text: str) -> str:
    """W4 (reference ``extractor.py:929-955``): merge continuation lines.
    JP boundaries join with no space; others with a single space."""
    lines = text.split("\n")
    out: list[str] = []
    for ln in lines:
        if out and _should_join(out[-1], ln):
            sep = "" if is_japanese_char(out[-1][-1]) else " "
            out[-1] = out[-1] + sep + ln
        else:
            out.append(ln)
    return "\n".join(out)


def cleanup_text(text: str) -> str:
    """F1-F3 ordered cleanup chain (reference ``extractor.py:876-994``):
    W4 line joining, JP spacing fixes, punctuation normalization,
    blank-line squeeze. At dataset level these are the native
    ``regexp_replace`` chain (no UDF needed); kept here for the fused
    per-document kernel."""
    text = join_lines(text)
    text = _RE_JP_JP_SPACE.sub("", text)
    text = _RE_SPACE_BEFORE_JP_PUNCT.sub("", text)
    text = _RE_PUNCT_DEDUP.sub("。", text)
    text = _RE_ELLIPSIS_DOTS.sub("…", text)
    text = _RE_ELLIPSIS_KATA.sub("…", text)
    text = _RE_BLANKS.sub("\n\n\n", text)
    return text
