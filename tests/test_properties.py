"""Property-based tests (hypothesis) for the byte-stability-critical
kernels (SURVEY.md §7.2 stage 1 risk note).

The fused array path in ``layout.column_texts`` replaced the
detect_columns → group_lines → join_tokens pandas chain in
the document kernel; the headline property here is byte-identity of the
two implementations over arbitrary word geometries.
"""

from __future__ import annotations

import pandas as pd
from hypothesis import given, settings, strategies as st

from pdf_extractor_spark.config import DEFAULT_CONFIG
from pdf_extractor_spark.operators.layout import (
    column_texts,
    detect_columns,
    gap_cluster,
    group_lines,
)
from pdf_extractor_spark.operators.spacing import (
    cleanup_text,
    join_tokens,
)
from pdf_extractor_spark.operators.words import Words

CFG = DEFAULT_CONFIG

# token alphabet: ASCII, digits, JP kana/kanji/punct — no spaces/newlines
_ALPHABET = (
    "abcdefgXYZ0123456789"
    "あいうかきくサシスneko猫犬言語処理"
    "。、・」（！？.,;:-"
)

_token = st.text(alphabet=_ALPHABET, min_size=1, max_size=8)


@st.composite
def word_frames(draw, max_words: int = 40):
    """Random word-box frame: monotone-ish x layout with random gaps
    (some exceeding the column threshold) and tops drawn from a few
    discrete lines (some exceeding the line threshold)."""
    n = draw(st.integers(min_value=1, max_value=max_words))
    texts = draw(
        st.lists(_token, min_size=n, max_size=n)
    )
    # x-geometry: cumulative (gap, width) pairs; gaps occasionally huge
    gaps = draw(
        st.lists(
            st.one_of(
                st.floats(0.0, 12.0),
                st.floats(45.0, 120.0),   # straddles column threshold 50
            ),
            min_size=n, max_size=n,
        )
    )
    widths = draw(
        st.lists(st.floats(1.0, 60.0), min_size=n, max_size=n)
    )
    tops = draw(
        st.lists(
            st.sampled_from([100.0, 104.0, 118.0, 140.0, 400.0]),
            min_size=n, max_size=n,
        )
    )
    x0s, x1s = [], []
    x = 0.0
    for g, w in zip(gaps, widths):
        x += g
        x0s.append(round(x, 1))
        x += w
        x1s.append(round(x, 1))
    return pd.DataFrame(
        {
            "text": texts,
            "x0": x0s,
            "x1": x1s,
            "top": tops,
            "bottom": [t + 10.0 for t in tops],
            "size": 12.0,
            "page": 1,
        }
    )


def _unfused_column_texts(words: pd.DataFrame) -> list[str]:
    """The original pandas chain column_texts replaced (document.py
    pre-fusion body), kept as the oracle; each line goes to
    ``join_tokens`` as the pandas line wrapper passed it."""
    cols = detect_columns(words, CFG.column_gap_threshold)
    out = []
    for _cid, cw in cols.groupby("col_id", sort=True):
        lines = group_lines(cw, CFG.line_height_threshold)
        line_strs = [
            join_tokens(lw["text"].to_numpy(), lw["x0"].to_numpy(),
                        lw["x1"].to_numpy(), CFG)
            for _lid, lw in lines.groupby("line_id", sort=True)
        ]
        out.append("\n".join(line_strs))
    return out


@settings(max_examples=150, deadline=None)
@given(word_frames())
def test_fused_column_texts_matches_pandas_chain(words):
    assert column_texts(Words.from_frame(words), CFG) == (
        _unfused_column_texts(words)
    )


@settings(max_examples=150, deadline=None)
@given(word_frames())
def test_join_tokens_extract_only_never_transform(words):
    """W2 may only insert single spaces between tokens — every input
    character survives in order (the EXTRACT ONLY product rule)."""
    w = words.sort_values("x0", kind="mergesort")
    out = join_tokens(
        w["text"].to_numpy(), w["x0"].to_numpy(), w["x1"].to_numpy(), CFG
    )
    assert out.replace(" ", "") == "".join(w["text"]).replace(" ", "")


@settings(max_examples=50, deadline=None)
@given(st.lists(_token, min_size=2, max_size=10))
def test_join_tokens_tight_gaps_concatenate(texts):
    """All gaps below no_space_gap ⇒ pure concatenation."""
    import numpy as np

    x0 = np.arange(len(texts)) * 10.0
    x1 = x0 + 10.0 - CFG.no_space_gap / 2  # gap = no_space_gap/2
    assert join_tokens(np.array(texts), x0, x1, CFG) == "".join(texts)


@settings(max_examples=50, deadline=None)
@given(
    st.lists(
        st.text(alphabet="abcdefXYZ09", min_size=1, max_size=6),
        min_size=2,
        max_size=10,
    )
)
def test_join_tokens_wide_ascii_gaps_single_space(texts):
    """ASCII tokens with gaps above en_space_gap ⇒ exactly one space."""
    import numpy as np

    gap = CFG.en_space_gap + 2.0
    x0 = np.arange(len(texts)) * (10.0 + gap)
    x1 = x0 + 10.0
    assert join_tokens(np.array(texts), x0, x1, CFG) == " ".join(texts)


@settings(max_examples=100, deadline=None)
@given(
    st.lists(st.floats(0, 1000), min_size=1, max_size=50),
    st.floats(1.0, 50.0),
)
def test_gap_cluster_boundaries(vals, threshold):
    s = pd.Series(sorted(vals))
    ids = gap_cluster(s, threshold)
    assert ids.is_monotonic_increasing
    diffs = s.diff().iloc[1:]
    changed = ids.diff().iloc[1:].astype(bool)
    # cluster changes exactly where the gap meets the threshold
    assert ((diffs >= threshold) == changed).all()


@settings(max_examples=100, deadline=None)
@given(
    st.text(
        alphabet="abcdefgh XYZ0123456789,;:",
        min_size=0,
        max_size=120,
    )
)
def test_cleanup_plain_ascii_single_line_stable(text):
    """Cleanup touches nothing on single-line ASCII prose without
    continuation-comma endings, repeat punctuation, or ellipses."""
    line = text.replace("\n", " ").rstrip(",")
    if "..." in line:
        line = line.replace("...", ".")
    assert cleanup_text(line) == line


@settings(max_examples=60, deadline=None)
@given(word_frames(max_words=25))
def test_column_texts_two_run_determinism(words):
    assert column_texts(Words.from_frame(words), CFG) == column_texts(
        Words.from_frame(words.copy()), CFG
    )


@settings(max_examples=200, deadline=None)
@given(st.binary(min_size=0, max_size=2048))
def test_parse_pdf_never_raises_on_garbage(data):
    """U3 contract at the tokenizer boundary: arbitrary bytes must come
    back as a PdfDoc with errors recorded — never an exception."""
    from pdf_extractor_spark.operators.pdf_tokenizer import parse_pdf

    doc = parse_pdf(data)
    assert isinstance(doc.pages, list)
    assert isinstance(doc.errors, list)


@settings(max_examples=100, deadline=None)
@given(st.binary(min_size=0, max_size=4096))
def test_extract_document_never_raises_on_garbage(data):
    """Same contract end-to-end: extract_document on arbitrary bytes
    (optionally with a %PDF- magic prefix forced) returns a record."""
    from pdf_extractor_spark.operators.document import extract_document

    for payload in (data, b"%PDF-1.4\n" + data):
        rec = extract_document(payload)
        assert isinstance(rec["extracted_text"], str)
        assert isinstance(rec["errors"], list)


# ------------------------------------------------- chunking (C8/W6/D3)

@given(
    st.text(alphabet=_ALPHABET + " \n", min_size=0, max_size=800),
    st.integers(min_value=2, max_value=200),
    st.integers(min_value=0, max_value=60),
)
@settings(max_examples=60, deadline=None)
def test_kernel_window_math_roundtrips_any_text(text, chunk_size, overlap):
    """The sliding-window chunk/reassemble algebra (pure-Python mirror
    of functions/chunking.py) must be an exact inverse for ANY text,
    chunk size, and overlap < size."""
    if overlap >= chunk_size:
        return
    stride = chunk_size - overlap
    n = max(1, -(-max(len(text) - overlap, 1) // stride))
    chunks = [text[i * stride : i * stride + chunk_size] for i in range(n)]
    # coverage: every char appears in some chunk
    reassembled = chunks[0] + "".join(c[overlap:] for c in chunks[1:])
    assert reassembled == text
    # every non-first chunk begins with the previous chunk's tail
    for prev, cur in zip(chunks, chunks[1:]):
        assert cur[: min(overlap, len(cur))] == prev[
            stride : stride + min(overlap, len(cur))
        ]


@given(
    st.lists(
        st.text(alphabet=_ALPHABET + " ", min_size=1, max_size=120),
        min_size=1,
        max_size=12,
    ),
    st.integers(min_value=50, max_value=400),
    st.integers(min_value=10, max_value=100),
)
@settings(max_examples=40, deadline=None)
def test_chunk_pages_covers_everything_in_order(pages, max_size, min_size):
    from pdf_extractor_spark.operators.chunking import (
        ChunkingStrategy,
        chunk_pages,
        reassemble_chunks,
    )

    strat = ChunkingStrategy(
        max_chunk_size=max_size,
        min_chunk_size=min(min_size, max_size),
        overlap_size=20,
    )
    chunks = chunk_pages(pages, strat)
    # dense ids, page ranges cover 1..n contiguously
    assert [c.chunk_id for c in chunks] == list(range(len(chunks)))
    assert chunks[0].page_start == 1
    assert chunks[-1].page_end == len(pages)
    for a, b in zip(chunks, chunks[1:]):
        assert b.page_start == a.page_end + 1
    # characters-strategy cuts land on page boundaries -> exact inverse
    full, _ = reassemble_chunks(chunks)
    assert full == "\n\n".join(pages)


# ------------------------------------------- round-3 codec properties

@settings(max_examples=150, deadline=None)
@given(st.binary(min_size=0, max_size=6000))
def test_lzw_roundtrip_property(data):
    from pdf_extractor_spark.operators.pdf_generator import lzw_encode
    from pdf_extractor_spark.operators.pdf_tokenizer import _lzw_decode

    assert _lzw_decode(lzw_encode(data)) == data


@settings(max_examples=150, deadline=None)
@given(st.binary(min_size=0, max_size=6000))
def test_rle_roundtrip_property(data):
    from pdf_extractor_spark.operators.pdf_generator import rle_encode
    from pdf_extractor_spark.operators.pdf_tokenizer import _rle_decode

    assert _rle_decode(rle_encode(data)) == data


@settings(max_examples=100, deadline=None)
@given(st.binary(min_size=0, max_size=2048))
def test_lzw_decode_never_raises_uncontrolled(data):
    """Arbitrary bytes into the LZW decoder either decode or raise
    ValueError (which page recovery catches) — never anything else."""
    from pdf_extractor_spark.operators.pdf_tokenizer import _lzw_decode

    try:
        out = _lzw_decode(data)
        assert isinstance(out, bytes)
    except ValueError:
        pass


@settings(max_examples=100, deadline=None)
@given(st.binary(min_size=0, max_size=2048))
def test_sniff_decode_never_raises(data):
    from pdf_extractor_spark.operators.html_extract import sniff_decode

    text, codec = sniff_decode(data)
    assert isinstance(text, str) and isinstance(codec, str)


@settings(max_examples=60, deadline=None)
@given(st.integers(min_value=0, max_value=1))
def test_truncation_yields_word_prefix_everywhere(compress_flag):
    """For EVERY cut point of a real document, parse_pdf returns a
    word list that is a strict prefix of the full document's words —
    never an exception, never out-of-order salvage."""
    from pdf_extractor_spark.operators.pdf_generator import (
        PageSpec,
        build_pdf,
    )
    from pdf_extractor_spark.operators.pdf_tokenizer import parse_pdf

    pages = []
    for pno in range(2):
        p = PageSpec()
        p.put_words(72, 100, 12,
                    [f"p{pno}w{w}" for w in range(6)])
        pages.append(p)
    data = build_pdf(pages, compress=bool(compress_flag))
    full = [
        w for pg in parse_pdf(data).pages for w in pg.words["text"]
    ]
    for n in range(0, len(data), 97):  # stride keeps runtime bounded
        doc = parse_pdf(data[:n])
        got = [w for pg in doc.pages for w in pg.words["text"]]
        assert got == full[: len(got)], n


def test_mutation_fuzz_never_raises():
    """U3 at full strength: REAL payloads with seeded byte corruption
    (bit flips, truncations, splices) must always come back as a
    record with errors — never an exception. Catches parser paths
    that garbage-only fuzz (above) cannot reach, because mutations of
    valid documents exercise deep structure with near-valid data."""
    import random

    from pdf_extractor_spark.fixtures.corpus import fixture_cases
    from pdf_extractor_spark.operators.document import extract_document

    rng = random.Random(0xC0FFEE)
    payloads = [p for _c, _b, _l, p in fixture_cases()]
    for payload in payloads:
        n = len(payload)
        for _ in range(6):
            mode = rng.randrange(3)
            buf = bytearray(payload)
            if mode == 0:  # flip a handful of bytes
                for _k in range(rng.randrange(1, 8)):
                    buf[rng.randrange(n)] = rng.randrange(256)
            elif mode == 1:  # truncate at a random point
                buf = buf[: rng.randrange(n)]
            else:  # splice a chunk from elsewhere in the file
                if n > 64:
                    src = rng.randrange(n - 32)
                    dst = rng.randrange(n - 32)
                    buf[dst : dst + 32] = payload[src : src + 32]
            rec = extract_document(bytes(buf))
            assert isinstance(rec["extracted_text"], str)
            assert isinstance(rec["errors"], list)


def test_mutation_fuzz_crawl_readers_never_raise():
    """The round-4 crawl readers (revisit captures, recrawl/304
    processing) under seeded byte corruption of REAL archives: rows
    may be lost past the damage point, but the readers must never
    raise, hang, or invent rows with malformed ids."""
    import random

    from pdf_extractor_spark.sources.warc import (
        build_crawl_archive,
        build_recrawl_archive,
        extract_captures,
        extract_recrawl,
    )

    rng = random.Random(0xBEEF)
    pages = [
        (i, f"fuzz body text number {i} with several words")
        for i in range(12)
    ]
    for build, read in (
        (build_crawl_archive, extract_captures),
        (build_recrawl_archive, extract_recrawl),
    ):
        for gz in (False, True):
            payload = build(pages, gzip_members=gz)
            n = len(payload)
            for _ in range(8):
                mode = rng.randrange(3)
                buf = bytearray(payload)
                if mode == 0:
                    for _k in range(rng.randrange(1, 8)):
                        buf[rng.randrange(n)] = rng.randrange(256)
                elif mode == 1:
                    buf = buf[: rng.randrange(n)]
                else:
                    if n > 64:
                        src = rng.randrange(n - 32)
                        dst = rng.randrange(n - 32)
                        buf[dst : dst + 32] = payload[src : src + 32]
                rows = read(bytes(buf))
                assert isinstance(rows, list)
                for r in rows:
                    assert isinstance(r["doc_id"], int)


def test_v5_encryption_dict_corruption_degrades_typed():
    """Targeted V5 fuzz: corruption INSIDE the AES-256 encryption
    dictionary (truncated /UE, tampered /U validation hash, unknown
    /R, garbage /Perms) must surface the typed 'encryption' error
    row with no extracted garbage — never an exception. Generic
    mutation fuzz rarely lands inside these specific fields."""
    import re as _re

    from pdf_extractor_spark.operators.pdf_generator import (
        PageSpec,
        build_pdf,
    )
    from pdf_extractor_spark.operators.pdf_tokenizer import parse_pdf

    p = PageSpec()
    p.put_words(72, 100, 12, ["secret", "body", "words"])
    data = build_pdf([p], compress=True, encrypt="aes-256")

    def mutate(pattern: bytes, repl) -> bytes:
        out = _re.sub(pattern, repl, data, count=1)
        assert out != data, pattern
        return out

    cases = [
        # /UE truncated to one block (file key can't unwrap)
        mutate(rb"/UE\s*<([0-9A-Fa-f]{32})[0-9A-Fa-f]+>",
               rb"/UE <\1>"),
        # /U validation hash tampered (password check must fail)
        mutate(rb"/U\s*<[0-9A-Fa-f]{8}",
               b"/U <DEADBEEF"),
        # unknown revision
        mutate(rb"/R 6", b"/R 9"),
        # /Perms garbage (integrity check must reject the key)
        mutate(rb"/Perms\s*<[0-9A-Fa-f]+>",
               b"/Perms <" + b"00" * 16 + b">"),
    ]
    for i, buf in enumerate(cases):
        doc = parse_pdf(buf)
        kinds = {e["type"] for e in doc.errors}
        assert "encryption" in kinds, (i, doc.errors)
        words = [w for pg in doc.pages for w in pg.words["text"]]
        assert "secret" not in words, (i, "ciphertext leaked")
