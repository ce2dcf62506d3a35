"""PDF generator ↔ tokenizer roundtrip tests (SURVEY.md §7.2 stage 2)."""

from __future__ import annotations

from pdf_extractor_spark.operators.pdf_generator import (
    PageSpec,
    build_pdf,
)
from pdf_extractor_spark.operators.pdf_tokenizer import parse_pdf


def test_roundtrip_word_boxes():
    p = PageSpec()
    p.put_words(72, 100, 12, ["Alpha", "Beta"])
    doc = parse_pdf(build_pdf([p]))
    assert not doc.errors
    assert len(doc.pages) == 1
    w = doc.pages[0].words
    assert w["text"].tolist() == ["Alpha", "Beta"]
    # known-by-construction geometry: Alpha = 5 ASCII chars * 6pt
    assert w["x0"][0] == 72.0 and w["x1"][0] == 102.0
    assert w["top"][0] == 100.0  # put() places the top edge
    assert w["bottom"][0] == 112.0


def test_roundtrip_cjk_hex_strings():
    p = PageSpec()
    p.put(72, 100, 12, "日本語テキスト")
    doc = parse_pdf(build_pdf([p]))
    w = doc.pages[0].words
    assert w["text"].tolist() == ["日本語テキスト"]
    assert w["x1"][0] - w["x0"][0] == 7 * 12.0  # wide glyphs


def test_space_splitting_inside_one_tj():
    p = PageSpec()
    p.put(72, 100, 12, "one two")
    doc = parse_pdf(build_pdf([p]))
    w = doc.pages[0].words
    assert w["text"].tolist() == ["one", "two"]
    # "one" 3 chars -> x1=90; space 6pt; "two" starts at 96
    assert w["x0"][1] == 96.0


def test_escaped_parentheses_literal():
    p = PageSpec()
    p.put(72, 100, 12, "f(x)=y")
    doc = parse_pdf(build_pdf([p]))
    assert doc.pages[0].words["text"].tolist() == ["f(x)=y"]


def test_multi_page_and_rotation():
    p1, p2 = PageSpec(), PageSpec(rotate=90)
    p1.put(72, 100, 12, "one")
    p2.put(72, 100, 12, "two")
    doc = parse_pdf(build_pdf([p1, p2]))
    assert [pg.page_number for pg in doc.pages] == [1, 2]
    assert doc.pages[1].rotation == 90
    assert any(e["type"] == "rotation" for e in doc.errors)


def test_empty_page_yields_empty_frame():
    doc = parse_pdf(build_pdf([PageSpec()]))
    assert len(doc.pages) == 1
    assert len(doc.pages[0].words) == 0


def test_broken_xref_falls_back_to_scan():
    data = build_pdf([_page_with("recovered")])
    # corrupt the startxref pointer
    broken = data.replace(b"startxref", b"startxrEF")
    doc = parse_pdf(broken)
    assert doc.pages and doc.pages[0].words["text"].tolist() == ["recovered"]
    assert any(e["type"] == "malformed" for e in doc.errors)


def test_total_garbage_never_raises():
    doc = parse_pdf(b"%PDF-1.4 garbage" + bytes(range(256)))
    assert doc.pages == [] or doc.pages is not None
    assert any(e["severity"] in ("critical", "warning") for e in doc.errors)


def _page_with(text: str) -> PageSpec:
    p = PageSpec()
    p.put(72, 100, 12, text)
    return p


def test_flate_compressed_stream_identical():
    """FlateDecode path: a compressed PDF must tokenize to the exact
    same word frames as its uncompressed twin (and the fixture corpus
    goldens must hold through compression end-to-end)."""
    from pdf_extractor_spark.operators.document import extract_document

    pages = []
    for i in range(3):
        p = PageSpec()
        p.put(72, 72, 12, f"compressed stream roundtrip {i} 日本語も含む")
        p.put(72, 100, 10, "second line here with more words")
        p.put(300, 300, 12, "1.2 Section heading kept always")
        pages.append(p)
    plain_bytes = build_pdf(pages)
    flate_bytes = build_pdf(pages, compress=True)
    assert b"/FlateDecode" in flate_bytes

    plain = parse_pdf(plain_bytes)
    flate = parse_pdf(flate_bytes)
    assert not flate.errors
    for a, b in zip(plain.pages, flate.pages):
        assert a.words.equals(b.words)

    # end-to-end through the full kernel (filters/layout/spacing/etc.)
    ra = extract_document(plain_bytes)
    rb = extract_document(flate_bytes)
    assert ra["extracted_text"] == rb["extracted_text"] != ""
    assert ra["spans"] == rb["spans"]


def test_unknown_filter_recorded_not_raised():
    p = PageSpec()
    p.put(72, 72, 12, "some words here")
    pdf = build_pdf([p], compress=True)
    # same-length name: xref offsets stay valid, so the failure path
    # exercised is the filter check itself, not xref recovery
    bad = pdf.replace(b"/FlateDecode", b"/LZWWDecodee", 1)
    assert len(bad) == len(pdf)
    doc = parse_pdf(bad)
    assert any(e["type"] == "corruption" for e in doc.errors)


def test_indirect_length_ref_not_misparsed():
    """'/Length 27 0 R' (indirect ref) must fall back to the
    endstream heuristic, not slice 2 bytes via a backtracked match."""
    from pdf_extractor_spark.operators.pdf_tokenizer import _stream_bytes

    body = (b"<< /Length 27 0 R >>\nstream\n"
            b"BT (hello world) Tj ET xx\nendstream")
    assert _stream_bytes(body) == b"BT (hello world) Tj ET xx"


def test_filter_chain_decoded_in_order():
    """'/Filter [/ASCII85Decode /FlateDecode]' is a chain — decoded
    left to right (outer encoding first); a one-element array is
    sole-Flate; raster codecs raise (→ U3 corruption)."""
    import base64
    import zlib

    import pytest as _pytest

    from pdf_extractor_spark.operators.pdf_tokenizer import _stream_bytes

    inner = zlib.compress(b"BT (chained) Tj ET", 9)
    outer = base64.a85encode(inner) + b"~>"
    body = (b"<< /Length " + str(len(outer)).encode()
            + b" /Filter [/ASCII85Decode /FlateDecode] >>\nstream\n"
            + outer + b"\nendstream")
    assert _stream_bytes(body) == b"BT (chained) Tj ET"

    hexed = zlib.compress(b"BT ET", 9).hex().upper().encode() + b">"
    body_hex = (b"<< /Length " + str(len(hexed)).encode()
                + b" /Filter [/ASCIIHexDecode /FlateDecode] >>\nstream\n"
                + hexed + b"\nendstream")
    assert _stream_bytes(body_hex) == b"BT ET"

    data = zlib.compress(b"BT ET", 9)
    body2 = (b"<< /Length " + str(len(data)).encode()
             + b" /Filter [ /FlateDecode ] >>\nstream\n" + data
             + b"\nendstream")
    assert _stream_bytes(body2) == b"BT ET"

    body3 = b"<< /Length 3 /Filter /DCTDecode >>\nstream\nabc\nendstream"
    with _pytest.raises(ValueError):
        _stream_bytes(body3)


def test_png_predictors_roundtrip():
    """Flate + /DecodeParms PNG predictors (all five filter types) and
    TIFF predictor 2 decode correctly."""
    import zlib

    from pdf_extractor_spark.operators.pdf_tokenizer import _stream_bytes

    cols = 7
    rows = [bytes((r * 31 + c * 7) & 0xFF for c in range(cols))
            for r in range(6)]
    plain = b"".join(rows)

    def body_for(encoded: bytes, pred: int) -> bytes:
        z = zlib.compress(encoded, 9)
        return (b"<< /Length " + str(len(z)).encode()
                + b" /Filter /FlateDecode /DecodeParms << /Predictor "
                + str(pred).encode() + b" /Columns 7 >> >>\nstream\n"
                + z + b"\nendstream")

    # PNG: encode each row with one filter type, decode must invert
    for ft in range(5):
        enc = bytearray()
        prev = bytes(cols)
        for row in rows:
            enc.append(ft)
            if ft == 0:
                enc += row
            elif ft == 1:
                enc += bytes(
                    (row[i] - (row[i - 1] if i else 0)) & 0xFF
                    for i in range(cols)
                )
            elif ft == 2:
                enc += bytes((row[i] - prev[i]) & 0xFF for i in range(cols))
            elif ft == 3:
                enc += bytes(
                    (row[i] - ((row[i - 1] if i else 0) + prev[i]) // 2)
                    & 0xFF
                    for i in range(cols)
                )
            else:  # paeth: with a=left, b=up, c=up-left
                out_row = bytearray()
                for i in range(cols):
                    a = row[i - 1] if i else 0
                    b = prev[i]
                    c = prev[i - 1] if i else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pr = a if (pa <= pb and pa <= pc) else (
                        b if pb <= pc else c
                    )
                    out_row.append((row[i] - pr) & 0xFF)
                enc += out_row
            prev = row
        assert _stream_bytes(body_for(bytes(enc), 10 + ft)) == plain, ft

    # TIFF predictor 2: horizontal differencing, no row-type bytes
    enc2 = bytearray()
    for row in rows:
        enc2 += bytes(
            (row[i] - (row[i - 1] if i else 0)) & 0xFF
            for i in range(cols)
        )
    assert _stream_bytes(body_for(bytes(enc2), 2)) == plain


def test_xref_stream_pdf_parses_identically():
    """PDF 1.5 layout (ObjStm + binary /XRef stream, Flate + PNG Up
    predictor) must extract the same words as the classic layout."""
    from pdf_extractor_spark.operators.pdf_generator import (
        PageSpec,
        build_pdf,
    )
    from pdf_extractor_spark.operators.pdf_tokenizer import parse_pdf

    p = PageSpec()
    p.put_words(72, 100, 12, ["modern", "layout", "parses", "the",
                              "same", "words", "as", "classic", "ok",
                              "fine"])
    p.put(72, 130, 12, "日本語テキスト行")
    classic = parse_pdf(build_pdf([p]))
    for kw in (dict(xref_stream=True),
               dict(xref_stream=True, compress=True)):
        modern = parse_pdf(build_pdf([p], **kw))
        assert not modern.errors, (kw, modern.errors)
        assert modern.pages[0].words.equals(classic.pages[0].words), kw


def test_objstm_recovered_by_scan_when_xref_broken():
    """A modern PDF with a corrupted startxref must still recover via
    the object scan, which now expands /ObjStm containers."""
    import re as _re

    from pdf_extractor_spark.operators.pdf_generator import (
        PageSpec,
        build_pdf,
    )
    from pdf_extractor_spark.operators.pdf_tokenizer import parse_pdf

    p = PageSpec()
    p.put_words(72, 100, 12, ["recovered", "from", "scan", "path",
                              "with", "objstm", "members", "intact",
                              "all", "good"])
    pdf = build_pdf([p], xref_stream=True)
    broken = _re.sub(rb"startxref\s+\d+", b"startxref\n999999999", pdf)
    doc = parse_pdf(broken)
    assert any(e["type"] == "malformed" for e in doc.errors)
    assert list(doc.pages[0].words["text"])[:3] == [
        "recovered", "from", "scan"
    ]


def test_leading_line_operators():
    """TL / T* / ' / TD-sets-leading (ISO 32000 9.4.2): line advances
    driven by the text leading must place words on distinct lines."""
    from pdf_extractor_spark.operators.pdf_tokenizer import _parse_content

    stream = (
        b"BT /F1 12 Tf 14 TL 72 700 Td (first line) Tj "
        b"T* (second line) Tj "
        b"(third line) ' "
        b"2 0 (quoted form) \" "
        b"72 -20 TD (after TD) Tj "
        b"T* (leading from TD) Tj ET"
    )
    words = _parse_content(stream, 792.0, 1)
    by_word = {t: round(r, 1) for t, r in zip(words["text"], words["top"])}
    # successive lines move DOWN the page (top increases)
    assert by_word["first"] < by_word["second"] < by_word["third"] \
        < by_word["quoted"]
    # T* after TD uses the TD-set leading (20), not the TL value (14)
    assert round(by_word["leading"] - by_word["after"], 1) == 20.0
    # the two T*-after-TL steps are 14pt each
    assert round(by_word["second"] - by_word["first"], 1) == 14.0
    assert round(by_word["third"] - by_word["second"], 1) == 14.0


def test_encrypted_pdf_diagnosed_not_crashed():
    """A /Encrypt trailer entry must surface a clear 'encryption'
    error (instead of only downstream per-page corruption noise) and
    never raise (U3)."""
    p = PageSpec()
    p.put_words(72, 100, 12, ["Secret", "Words"])
    payload = build_pdf([p])
    assert b"trailer" in payload
    doctored = payload.replace(
        b"/Root", b"/Encrypt 9 0 R /Root", 1
    )
    doc = parse_pdf(doctored)
    kinds = {e["type"] for e in doc.errors}
    assert "encryption" in kinds
    # clean documents never carry the marker
    assert "encryption" not in {
        e["type"] for e in parse_pdf(payload).errors
    }

    # xref-stream flavor: /Encrypt lives in the xref stream's dict,
    # not a classic trailer — must still be diagnosed
    xs = build_pdf([p], xref_stream=True)
    assert b"trailer" not in xs
    doctored_xs = xs.replace(b"/Type /XRef", b"/Encrypt 9 0 R /Type /XRef", 1)
    kinds_xs = {e["type"] for e in parse_pdf(doctored_xs).errors}
    assert "encryption" in kinds_xs, kinds_xs
    assert "encryption" not in {e["type"] for e in parse_pdf(xs).errors}


# ------------------------------------------------- standard security

class TestDecryption:
    """Round-2 verdict item #3: RC4-40/128 + AES-128 standard
    security with empty user password must decrypt transparently."""

    def _page(self):
        p = PageSpec()
        p.put_words(72, 100, 12, ["Encrypted", "fixture", "words"])
        p.put(72, 130, 12, "日本語行")
        return [p]

    def _boxes(self, doc):
        return [
            (t, x, y)
            for pg in doc.pages
            for t, x, y in zip(
                pg.words["text"], pg.words["x0"], pg.words["top"]
            )
        ]

    def test_all_modes_match_unencrypted_twin(self):
        pages = self._page()
        base = self._boxes(parse_pdf(build_pdf(pages, compress=True)))
        assert base
        for mode in ("rc4-40", "rc4-128", "aes-128", "aes-256",
                     "aes-256-r5"):
            doc = parse_pdf(build_pdf(pages, compress=True, encrypt=mode))
            assert self._boxes(doc) == base, mode
            sev = {e["severity"] for e in doc.errors}
            assert sev == {"info"}, (mode, doc.errors)
            assert doc.errors[0]["type"] == "encryption"

    def test_uncompressed_streams_also_decrypt(self):
        pages = self._page()
        base = self._boxes(parse_pdf(build_pdf(pages)))
        doc = parse_pdf(build_pdf(pages, encrypt="rc4-128"))
        assert self._boxes(doc) == base

    def test_unsigned_p_value_decrypts(self):
        """Writers that spell /P as unsigned decimal (4294967252 ==
        -44) must decrypt identically — struct.error on the signed
        pack previously misfiled these as critical corruption."""
        pages = self._page()
        base = self._boxes(parse_pdf(build_pdf(pages, compress=True)))
        for mode in ("rc4-128", "aes-128"):
            data = build_pdf(
                pages, compress=True, encrypt=mode,
                encrypt_p_unsigned=True,
            )
            assert b"/P 4294967252" in data
            doc = parse_pdf(data)
            assert self._boxes(doc) == base, mode
            assert {e["severity"] for e in doc.errors} == {"info"}

    def test_literal_string_file_id_decrypts(self):
        """/ID [(...) (...)] literal-string spelling must verify the
        file key the same as the hex spelling."""
        pages = self._page()
        base = self._boxes(parse_pdf(build_pdf(pages, compress=True)))
        data = build_pdf(
            pages, compress=True, encrypt="rc4-128", id_literal=True,
        )
        assert b"/ID [(" in data
        doc = parse_pdf(data)
        assert self._boxes(doc) == base
        assert {e["severity"] for e in doc.errors} == {"info"}

    def test_wrong_password_keeps_explicit_error(self):
        """Tampered /U (≙ non-empty user password) must surface the
        encryption error and extract nothing — never garbage text."""
        data = build_pdf(self._page(), compress=True, encrypt="rc4-128")
        bad = data.replace(b"/U <", b"/U <FF", 1)
        doc = parse_pdf(bad)
        assert "encryption" in {
            e["type"] for e in doc.errors if e["severity"] == "error"
        }
        assert sum(len(pg.words["text"]) for pg in doc.pages) == 0

    def test_unsupported_revision_keeps_error(self):
        data = build_pdf(self._page(), compress=True, encrypt="rc4-128")
        bad = data.replace(b"/V 2 /R 3", b"/V 5 /R 6", 1)
        doc = parse_pdf(bad)
        assert "encryption" in {
            e["type"] for e in doc.errors if e["severity"] == "error"
        }

    def test_crypt_primitives_known_vectors(self):
        """FIPS-197 Appendix B block vector + the canonical RC4 test
        vector pin the from-scratch primitives."""
        from pdf_extractor_spark.operators.pdf_crypt import (
            _decrypt_block,
            _encrypt_block,
            _key_expansion,
            rc4,
        )

        key = bytes.fromhex("2b7e151628aed2a6abf7158809cf4f3c")
        pt = bytes.fromhex("3243f6a8885a308d313198a2e0370734")
        ct = _encrypt_block(pt, _key_expansion(key))
        assert ct.hex() == "3925841d02dc09fbdc118597196a0b32"
        assert _decrypt_block(ct, _key_expansion(key)) == pt
        assert rc4(b"Key", b"Plaintext").hex().upper() == \
            "BBF316E8D940AF0AD3"

    def test_aes_192_and_256_fips_vectors(self):
        """FIPS-197 Appendix C.2/C.3: the generalized key schedule
        (Nk=6/8 — the extra SubWord column for Nk>6) pins AES-192 and
        AES-256 against the published vectors."""
        from pdf_extractor_spark.operators.pdf_crypt import (
            _decrypt_block,
            _encrypt_block,
            _key_expansion,
        )

        pt = bytes.fromhex("00112233445566778899aabbccddeeff")
        cases = {
            "000102030405060708090a0b0c0d0e0f1011121314151617":
                "dda97ca4864cdfe06eaf70a0ec0d7191",
            "000102030405060708090a0b0c0d0e0f"
            "101112131415161718191a1b1c1d1e1f":
                "8ea2b7ca516745bfeafc49904b496089",
        }
        for khex, expect in cases.items():
            rks = _key_expansion(bytes.fromhex(khex))
            ct = _encrypt_block(pt, rks)
            assert ct.hex() == expect, khex
            assert _decrypt_block(ct, rks) == pt

    def test_v5_wrong_password_and_tampered_perms_rejected(self):
        """Algorithm 11 must reject a non-empty candidate password,
        and a /Perms block that does not decrypt to 'adb'/P must
        invalidate the key (Algorithm 13)."""
        import dataclasses

        from pdf_extractor_spark.operators import pdf_crypt
        from pdf_extractor_spark.operators.pdf_generator import (
            _FIXTURE_ID,
            _encrypt_setup,
        )

        _key, _aes, enc_dict = _encrypt_setup("aes-256")
        sec = pdf_crypt.parse_encrypt_dict(enc_dict, _FIXTURE_ID)
        assert sec is not None and sec.v == 5 and sec.r == 6
        assert pdf_crypt.verify_user_password_v5(sec, b"")
        assert not pdf_crypt.verify_user_password_v5(sec, b"wrong")
        key = pdf_crypt.retrieve_file_key_v5(sec, b"")
        assert key == _key
        assert pdf_crypt.check_perms_v5(sec, key)
        bad = dataclasses.replace(sec, perms=bytes(16))
        assert not pdf_crypt.check_perms_v5(bad, key)

    def test_invisible_text_extracted_and_flagged(self):
        """Tr 3 (invisible — the OCR layer of scanned PDFs, §9.3.6):
        text must still extract (pdfminer-family behavior; it is the
        only text such pages have) with an ``invisible_text`` warning
        naming the page; Tr is text state, so the writer's explicit
        per-block reset keeps the following visible block visible."""
        p = PageSpec()
        p.put(72, 100, 12, "ocr words recovered", render_mode=3)
        p.put(72, 130, 12, "visible caption", render_mode=0)
        doc = parse_pdf(build_pdf([p], compress=True))
        words = list(doc.pages[0].words["text"])
        assert "ocr" in words and "caption" in words
        inv = [e for e in doc.errors if e["type"] == "invisible_text"]
        assert len(inv) == 1 and inv[0]["page"] == 1
        assert "Tr 3" in inv[0]["message"]
        # stroke/fill/clip modes 0-2 and 4-7 are NOT flagged
        p2 = PageSpec()
        p2.put(72, 100, 12, "stroked text", render_mode=1)
        p2.put(72, 130, 12, "clip-added text", render_mode=7)
        d2 = parse_pdf(build_pdf([p2]))
        assert not [e for e in d2.errors
                    if e["type"] == "invisible_text"]
        assert list(d2.pages[0].words["text"]) == \
            ["stroked", "text", "clip-added", "text"]

    def test_encrypted_xmp_all_three_storage_modes(self):
        """The XMP packet inside an encrypted document has three
        real-world storage forms: encrypted like any stream,
        plaintext under /EncryptMetadata false (V4+ only — affects
        R4 key derivation via the ffffffff salt), and plaintext
        tagged with an explicit /Crypt /Identity filter (§7.4.10).
        All three must surface the identical parsed XMP dict."""
        import pytest

        p = PageSpec()
        p.put_words(72, 100, 12, ["body", "text", "stays", "readable"])
        xmp = {"title": "Crypt & Meta <Test>", "creator": "Author",
               "create_date": "2026-01-02T03:04:05Z"}
        plain = parse_pdf(build_pdf([p], xmp=xmp))
        assert plain.xmp["title"] == "Crypt & Meta <Test>"
        words = list(plain.pages[0].words["text"])
        for mode in ("rc4-128", "aes-128", "aes-256"):
            variants = [
                build_pdf([p], compress=True, encrypt=mode, xmp=xmp),
                build_pdf([p], compress=True, encrypt=mode, xmp=xmp,
                          xmp_crypt_identity=True),
            ]
            if mode != "rc4-128":
                variants.append(
                    build_pdf([p], compress=True, encrypt=mode,
                              xmp=xmp, encrypt_metadata=False)
                )
            for data in variants:
                doc = parse_pdf(data)
                assert doc.xmp == plain.xmp, mode
                assert list(doc.pages[0].words["text"]) == words
                assert {e["severity"] for e in doc.errors} == {"info"}
        # V1/V2 has no serialized /EncryptMetadata — writer refuses
        with pytest.raises(ValueError):
            build_pdf([p], encrypt="rc4-128", xmp=xmp,
                      encrypt_metadata=False)

    def test_widths_table_drives_word_geometry(self):
        """A simple font's declared /FirstChar + /Widths metrics
        (§9.6.2.1) must drive word-box geometry — 900-unit glyphs and
        a 250-unit space — while fonts without a table keep the
        deterministic width model; both survive compression and
        encryption unchanged."""
        first = 0x20
        ws = [250.0] + [900.0] * (0x7F - 0x21)
        p = PageSpec()
        p.put_codes(72, 100, 12, b"ab cd", font="F8")
        p.put(72, 130, 12, "ab cd")
        doc = parse_pdf(build_pdf([p], widths_font=(first, ws)))
        rows = list(zip(doc.pages[0].words["text"],
                        doc.pages[0].words["x0"],
                        doc.pages[0].words["x1"]))
        (f8_ab, m_ab) = [r for r in rows if r[0] == "ab"]
        assert abs((f8_ab[2] - f8_ab[1]) - 2 * 0.9 * 12) < 1e-6
        assert abs((m_ab[2] - m_ab[1]) - 2 * 0.5 * 12) < 1e-6
        f8_cd = [r for r in rows if r[0] == "cd"][0]
        # cd starts after ab (21.6) + the 250/1000 em space (3.0)
        assert abs(f8_cd[1] - (72 + 21.6 + 3.0)) < 1e-6
        assert not doc.errors
        enc = parse_pdf(build_pdf([p], compress=True,
                                  encrypt="aes-256",
                                  widths_font=(first, ws)))
        rows2 = list(zip(enc.pages[0].words["text"],
                         enc.pages[0].words["x0"],
                         enc.pages[0].words["x1"]))
        assert rows2 == rows

    def test_utf8_bom_text_string(self):
        """PDF 2.0 (ISO 32000-2 §7.9.2.2) adds BOM'd UTF-8 as a third
        text-string form; /Info values in that spelling must decode
        (spliced into a classic file — the stale offsets also
        exercise the object-scan salvage)."""
        p = PageSpec()
        p.put_words(72, 100, 12, ["body"])
        data = build_pdf([p], info={"Title": "placeholder"})
        bom = b"\xef\xbb\xbf" + "Unicode 日本 Title".encode("utf-8")
        esc = b"".join(
            b"\\%03o" % c if c < 32 or c > 126 or c in b"()\\"
            else bytes([c]) for c in bom
        )
        data = data.replace(b"(placeholder)", b"(" + esc + b")")
        doc = parse_pdf(data)
        assert doc.info.get("Title") == "Unicode 日本 Title"

    def test_mac_roman_encoding_decodes_high_range(self):
        """Name-form /Encoding /MacRomanEncoding (legacy Mac
        writers): high bytes decode through MacRoman — 0x8E is é
        there, not the WinAnsi/latin-1 Ž — while WinAnsi fonts keep
        the default path. Survives encryption."""
        p = PageSpec()
        codes = "caf\x8e r\x8esum\x8e \xa5point".encode("latin-1")
        p.put_codes(72, 100, 12, codes, font="F9")
        p.put(72, 130, 12, "plain ascii line")
        doc = parse_pdf(build_pdf([p], mac_roman_font=True))
        words = list(doc.pages[0].words["text"])
        assert "café" in words and "résumé" in words
        assert "•point" in words          # 0xA5 → bullet, not ¥
        p2 = PageSpec()
        p2.put_codes(72, 100, 12, codes, font="F1")
        w2 = list(parse_pdf(build_pdf([p2])).pages[0].words["text"])
        assert "café" not in w2           # latin-1 control differs
        d3 = parse_pdf(build_pdf([p], compress=True,
                                 encrypt="rc4-128",
                                 mac_roman_font=True))
        assert list(d3.pages[0].words["text"]) == words

    def test_cid_w_array_drives_advances(self):
        """A Type0 font's descendant /DW + /W exceptions (§9.7.4.3)
        drive CID advances under Identity-H: proportional kana at
        500 units against the 1000 default, both /W spellings
        (range and consecutive-list), surviving encryption."""
        cid_w = (1000.0, [(0x3041, 0x3093, 500.0),
                          (0x4E00, [800.0, 900.0])])
        p = PageSpec()
        p.put(72, 100, 12, "かな文字")
        doc = parse_pdf(build_pdf([p], cid_widths=cid_w))
        w = doc.pages[0].words
        assert list(w["text"]) == ["かな文字"]
        # か(0.5)+な(0.5)+文(1.0)+字(1.0) em at 12pt
        assert abs((w["x1"][0] - w["x0"][0]) - 36.0) < 1e-6
        p2 = PageSpec()
        p2.put(72, 100, 12, "一丁")  # consecutive form: 800, 900
        d2 = parse_pdf(build_pdf([p2], cid_widths=cid_w))
        w2 = d2.pages[0].words
        assert abs((w2["x1"][0] - w2["x0"][0]) - (0.8 + 0.9) * 12) \
            < 1e-6
        d3 = parse_pdf(build_pdf([p], compress=True,
                                 encrypt="aes-256", cid_widths=cid_w))
        w3 = d3.pages[0].words
        assert list(w3["text"]) == ["かな文字"]
        assert abs((w3["x1"][0] - w3["x0"][0]) - 36.0) < 1e-6

    def test_encrypted_strings_all_metadata_surfaces(self):
        """Strings in encrypted documents are encrypted exactly like
        streams (§7.6.2): /Info values, outline titles, annotation
        contents/author, link URIs (inline AND indirect-action),
        AcroForm names/values, filespec + name-tree strings, and
        embedded-file stream payloads must all decrypt to the
        unencrypted twin across every supported handler."""
        p = PageSpec()
        p.put_words(72, 100, 12, ["body", "words"])
        p.put_link("https://example.com/a", form="inline")
        p.put_link("https://example.com/b", form="indirect")
        p.put_annot("Text", "Sticky — contents", "Reviewer Ünïcode")
        kw = dict(
            info={"Title": "Encrypted Título", "Author": "A. W."},
            outline=[(0, "Chapter — One"), (1, "Sect 1.1")],
            form_fields=[("name", "José"), ("agree", True)],
            attachments=[("data.txt", b"payload-one"),
                         ("z.bin", b"\x00\x01" * 40)],
        )
        plain = parse_pdf(build_pdf([p], **kw))
        base = (plain.info, plain.outline, plain.form_fields,
                plain.attachments, plain.pages[0].links,
                plain.annotations)
        assert plain.info["Title"] == "Encrypted Título"
        for mode in ("rc4-128", "aes-128", "aes-256"):
            d = parse_pdf(
                build_pdf([p], compress=True, encrypt=mode, **kw)
            )
            got = (d.info, d.outline, d.form_fields, d.attachments,
                   d.pages[0].links, d.annotations)
            assert got == base, mode
            assert {e["severity"] for e in d.errors} == {"info"}

    def test_fast_cbc_path_equals_reference_blocks(self):
        """The compiled-AES fast path (cryptography wheel, used for
        the ~8k-block R6 hash loop) must agree byte-for-byte with the
        from-scratch FIPS-197 reference on multi-block CBC at both
        key sizes — whichever implementation _cbc_encrypt_raw bound
        to at import."""
        from pdf_extractor_spark.operators import pdf_crypt as pc

        for klen in (16, 32):
            key = bytes(range(klen))
            iv = bytes(range(16, 32))
            data = bytes((i * 7) % 256 for i in range(160))
            fast = pc._cbc_encrypt_raw(key, iv, data)
            rks = pc._key_expansion(key)
            out, prev = bytearray(), iv
            for off in range(0, len(data), 16):
                blk = bytes(
                    a ^ b for a, b in zip(data[off:off + 16], prev)
                )
                prev = pc._encrypt_block(blk, rks)
                out += prev
            assert fast == bytes(out), klen
            assert pc._cbc_decrypt_raw(key, iv, fast) == data

    def test_v5_hash_2b_frozen_and_nopad_inverse(self):
        """Regression-pin the R6 hardened hash (so a refactor cannot
        silently change key derivation and break every V5 fixture)
        and check the no-pad CBC pair is an exact inverse."""
        from pdf_extractor_spark.operators.pdf_crypt import (
            aes_cbc_decrypt_nopad,
            aes_cbc_encrypt_nopad,
            hash_2b,
        )
        import hashlib

        # R5 is a bare SHA-256 — verifiable against hashlib directly
        assert hash_2b(b"pw", b"salt8888", b"", 5) == hashlib.sha256(
            b"pw" + b"salt8888"
        ).digest()
        k6 = hash_2b(b"pw", b"salt8888", b"", 6)
        assert len(k6) == 32 and k6 != hash_2b(b"pw", b"salt0000", b"", 6)
        assert k6 == hash_2b(b"pw", b"salt8888", b"", 6)  # deterministic
        key, iv = bytes(range(32)), bytes(16)
        msg = bytes(range(48))
        assert aes_cbc_decrypt_nopad(
            key, iv, aes_cbc_encrypt_nopad(key, iv, msg)
        ) == msg


# ---------------------------------------------------- /ToUnicode CMaps

class TestToUnicode:
    """Round-2 verdict item #4: bfchar/bfrange CMaps for simple and
    CID fonts."""

    def _pdf(self, **kw):
        p = PageSpec()
        p.put_words(72, 100, 12, ["plain", "words"])
        p.put_codes(72, 130, 12, b"ABC")
        p.put_codes(140, 130, 12, b"D")
        p.put_codes(200, 130, 12, b"abcz")
        p.put_codes(
            72, 160, 12, b"\x00\x01\x00\x02", font="F4", hex_show=True
        )
        return build_pdf(
            [p],
            tounicode_chars={0x41: "M", 0x42: "a", 0x43: "p", 0x44: "fi"},
            tounicode_ranges=[(0x61, 0x7A, "A")],
            cid_tounicode_chars={0x0001: "日", 0x0002: "本"},
            **kw,
        )

    def test_bfchar_bfrange_and_cid(self):
        doc = parse_pdf(self._pdf())
        assert not doc.errors
        words = list(doc.pages[0].words["text"])
        assert words == ["plain", "words", "Map", "fi", "ABCZ", "日本"]

    def test_cmap_survives_compress_and_encrypt(self):
        base = list(parse_pdf(self._pdf()).pages[0].words["text"])
        for kw in ({"compress": True},
                   {"compress": True, "encrypt": "aes-128"}):
            doc = parse_pdf(self._pdf(**kw))
            assert list(doc.pages[0].words["text"]) == base, kw

    def test_unmapped_codes_fall_back_to_identity(self):
        p = PageSpec()
        p.put_codes(72, 100, 12, b"AZZ")  # only 0x41 mapped
        data = build_pdf([p], tounicode_chars={0x41: "Q"})
        doc = parse_pdf(data)
        assert list(doc.pages[0].words["text"]) == ["QZZ"]

    def test_array_form_bfrange_parsed(self):
        from pdf_extractor_spark.operators.pdf_tokenizer import (
            _parse_cmap_stream,
        )

        payload = (
            b"begincmap\n1 beginbfrange\n"
            b"<01> <03> [<0058> <0059005A> <005A>]\n"
            b"endbfrange\nendcmap"
        )
        m = _parse_cmap_stream(payload)
        assert m == {1: "X", 2: "YZ", 3: "Z"}

    def test_fonts_without_cmap_keep_fast_path_output(self):
        """A page with no ToUnicode font must decode byte-identically
        to the pre-CMap tokenizer (fast path still eligible)."""
        p = PageSpec()
        p.put_words(72, 100, 12, ["hello", "world"])
        p.put(72, 130, 12, "日本語")
        doc = parse_pdf(build_pdf([p]))
        assert list(doc.pages[0].words["text"]) == [
            "hello", "world", "日本語"
        ]


class TestTruncatedDocuments:
    """Crawl-truncation salvage: a cut-off payload must yield the
    decodable prefix plus warnings — never a dead document."""

    def _full(self):
        pages = []
        for pno in range(3):
            p = PageSpec()
            for row in range(6):
                p.put_words(
                    72, 100 + 30 * row, 12,
                    [f"p{pno}r{row}w{w}" for w in range(8)],
                )
            pages.append(p)
        return build_pdf(pages, compress=True)

    def test_truncated_flate_stream_salvages_prefix(self):
        from pdf_extractor_spark.operators.pdf_tokenizer import (
            _stream_bytes,
        )
        import zlib
        payload = b"BT /F1 12 Tf 72 700 Td (hello world again) Tj ET\n" * 40
        z = zlib.compress(payload, 9)
        body = (
            f"<< /Length {len(z)} /Filter /FlateDecode >>\nstream\n".encode()
            + z + b"\nendstream"
        )
        cut = body[: len(body) - len(z) // 2]
        warn: list[str] = []
        out = _stream_bytes(cut, warn=warn)
        assert out and payload.startswith(out)
        assert warn and "salvaged" in warn[0]

    def test_truncated_document_keeps_prefix_pages(self):
        data = self._full()
        full = parse_pdf(data)
        full_words = [
            w for pg in full.pages for w in pg.words["text"]
        ]
        n_cuts_with_text = 0
        for frac in (0.35, 0.55, 0.75, 0.9):
            doc = parse_pdf(data[: int(len(data) * frac)])
            got = [w for pg in doc.pages for w in pg.words["text"]]
            # words recovered must be a prefix-set of the full doc's
            assert got == full_words[: len(got)], frac
            assert doc.errors, frac  # truncation is never silent
            if got:
                n_cuts_with_text += 1
        assert n_cuts_with_text >= 3  # salvage actually recovers text

    def test_tiny_prefix_never_raises(self):
        data = self._full()
        for n in (0, 1, 7, 64, 300):
            doc = parse_pdf(data[:n])
            assert doc.errors or not doc.pages


class TestEncryptedXrefStreamLayout:
    """Modern encrypted layout: xref stream + ObjStm + standard
    security combined — what current writers actually emit."""

    def _pages(self):
        pages = []
        for pno in range(2):
            p = PageSpec()
            p.put_words(72, 100, 12,
                        ["modern", "secure", f"page{pno}", "words"])
            p.put(72, 130, 12, "日本語行")
            pages.append(p)
        return pages

    def _boxes(self, doc):
        return [
            (pg.page_number, tuple(pg.words["text"]),
             tuple(pg.words["x0"]))
            for pg in doc.pages
        ]

    def test_rc4_and_aes_roundtrip(self):
        pages = self._pages()
        base = self._boxes(parse_pdf(build_pdf(pages)))
        for mode in ("rc4-128", "aes-128", "aes-256"):
            doc = parse_pdf(
                build_pdf(pages, compress=True, xref_stream=True,
                          encrypt=mode)
            )
            assert self._boxes(doc) == base, mode
            sev = {e["severity"] for e in doc.errors}
            assert sev == {"info"}, (mode, doc.errors)

    def test_unencrypted_xref_stream_unchanged(self):
        pages = self._pages()
        base = self._boxes(parse_pdf(build_pdf(pages)))
        doc = parse_pdf(build_pdf(pages, compress=True, xref_stream=True))
        assert self._boxes(doc) == base
        assert not doc.errors


class TestReviewRegressionFixes:
    """Edge cases surfaced by the round-3 review pass."""

    def test_octal_escape_overflow_truncates(self):
        from pdf_extractor_spark.operators.pdf_tokenizer import (
            _decode_literal,
            _string_token_bytes,
        )
        # §7.3.4.2: \777 keeps the low byte (511 % 256 = 255)
        assert _decode_literal(b"(\\777)") == "\xff"
        assert _string_token_bytes(b"(\\777\\101)") == b"\xffA"

    def test_last_startxref_wins_in_tail(self):
        from pdf_extractor_spark.operators.pdf_tokenizer import (
            _parse_xref_offsets,
        )
        # two startxref/%%EOF pairs inside the last 256 bytes (a tiny
        # final incremental update) — the NEWEST must resolve
        old_xref = 0
        old = (
            b"xref\n3 1\n0000000300 00000 n \n"
            b"trailer\n<< /Size 4 >>\nstartxref\n0\n%%EOF\n"
        )
        new_xref = len(old)
        data = old + (
            b"xref\n3 1\n0000000900 00000 n \n"
            b"trailer\n<< /Size 4 /Prev "
            + str(old_xref).encode()
            + b" >>\nstartxref\n"
            + str(new_xref).encode()
            + b"\n%%EOF\n"
        )
        assert _parse_xref_offsets(data)[0][3] == 900

    def test_odd_hex_file_id_degrades_gracefully(self):
        from pdf_extractor_spark.operators.pdf_tokenizer import (
            _ID_RE, _decoded_id,
        )

        def via_regex(payload: bytes) -> bytes:
            m = _ID_RE.search(b"/ID [" + payload + b"]")
            assert m is not None
            return _decoded_id(m)

        assert via_regex(b"<0123456789ABCDE>") == bytes.fromhex(
            "0123456789ABCDE0"
        )
        # garbage hex degrades to b"" — never a raised parse failure
        assert _ID_RE.search(b"/ID [<zznothex>]") is None

    def test_literal_string_file_id_accepted(self):
        # many writers emit /ID [(...) (...)] literal strings; the hex
        # capture alone left id0 empty and broke file-key verification
        from pdf_extractor_spark.operators.pdf_tokenizer import (
            _ID_RE, _decoded_id,
        )
        raw = rb"/ID [(ab\(cd\)ef01) (ignored-second)]"
        m = _ID_RE.search(raw)
        assert m is not None
        assert _decoded_id(m) == b"ab(cd)ef01"

    def test_lengthless_encrypted_stream_keeps_trailing_byte(self):
        from pdf_extractor_spark.operators.pdf_tokenizer import (
            _stream_bytes,
        )
        ct = b"\x01\x02\x03\n"  # ciphertext legitimately ends in 0x0A
        body = b"<< >>\nstream\n" + ct + b"\nendstream"
        seen = {}
        def transform(raw):
            seen["raw"] = raw
            return raw
        _stream_bytes(body, transform)
        assert seen["raw"] == ct + b"\n"  # nothing stripped pre-decrypt
        # plaintext path still strips the generator's newline
        assert _stream_bytes(body) == ct  # one trailing \n removed


class TestGraphicsAndTextState:
    """cm translation (q/Q stack) and Tc/Tw/Tz spacing — the
    graphics/text state real writers position content with."""

    def _words(self, stream, xobjects=None):
        from pdf_extractor_spark.operators.pdf_tokenizer import (
            _parse_content,
        )
        w = _parse_content(stream, 792.0, 1, None, xobjects or {})
        return list(
            zip(w["text"], w["x0"], w["x1"], w["top"])
        )

    def test_cm_translation_and_q_restore(self):
        got = self._words(
            b"q 1 0 0 1 100 50 cm "
            b"BT /F1 12 Tf 0 0 Td (moved) Tj ET Q\n"
            b"BT /F1 12 Tf 10 20 Td (base) Tj ET"
        )
        base = self._words(
            b"BT /F1 12 Tf 100 50 Td (moved) Tj ET\n"
            b"BT /F1 12 Tf 10 20 Td (base) Tj ET"
        )
        assert got == base

    def test_nested_q_stack(self):
        got = self._words(
            b"q 1 0 0 1 100 0 cm q 1 0 0 1 0 200 cm "
            b"BT /F1 12 Tf 0 0 Td (inner) Tj ET Q "
            b"BT /F1 12 Tf 0 0 Td (outer) Tj ET Q"
        )
        base = self._words(
            b"BT /F1 12 Tf 100 200 Td (inner) Tj ET\n"
            b"BT /F1 12 Tf 100 0 Td (outer) Tj ET"
        )
        assert got == base

    def test_cm_positions_invoked_form(self):
        form = (b"BT /F1 12 Tf 0 700 Td (formtext) Tj ET", None, {})
        got = self._words(
            b"q 1 0 0 1 200 -300 cm /X1 Do Q",
            xobjects={"X1": form},
        )
        base = self._words(b"BT /F1 12 Tf 200 400 Td (formtext) Tj ET")
        assert got == base

    def test_tc_widens_boxes_and_gaps(self):
        plain = self._words(b"BT /F1 10 Tf 0 0 Td (ab cd) Tj ET")
        spaced = self._words(b"BT /F1 10 Tf 2 Tc 0 0 Td (ab cd) Tj ET")
        # box width grows by tc per char
        assert spaced[0][2] - spaced[0][1] == (
            plain[0][2] - plain[0][1] + 2 * 2
        )
        # second word shifts by 3 chars' tc (2 in "ab" + the space)
        assert spaced[1][1] == plain[1][1] + 3 * 2

    def test_tw_shifts_following_words_only(self):
        plain = self._words(b"BT /F1 10 Tf 0 0 Td (ab cd) Tj ET")
        spaced = self._words(b"BT /F1 10 Tf 4 Tw 0 0 Td (ab cd) Tj ET")
        assert spaced[0][1:3] == plain[0][1:3]  # first word unmoved
        assert spaced[1][1] == plain[1][1] + 4

    def test_tz_scales_advance(self):
        plain = self._words(b"BT /F1 10 Tf 0 0 Td (abcd) Tj ET")
        half = self._words(b"BT /F1 10 Tf 50 Tz 0 0 Td (abcd) Tj ET")
        assert half[0][2] - half[0][1] == (
            plain[0][2] - plain[0][1]
        ) / 2

    def test_quote_operator_sets_spacing(self):
        got = self._words(
            b'BT /F1 10 Tf 0 TL 0 50 Td 4 2 (ab cd) " ET'
        )
        explicit = self._words(
            b"BT /F1 10 Tf 4 Tw 2 Tc 0 50 Td (ab cd) Tj ET"
        )
        assert got == explicit


class TestIncrementalUpdates:
    """Classic-xref /Prev chains (ISO 32000 §7.5.6): appended
    revisions shadow old objects; free entries tombstone ids."""

    def _base(self):
        p = PageSpec()
        p.put_words(72, 100, 12, ["original", "first", "page"])
        return build_pdf([p])

    def test_added_page_and_shadowed_pages_node(self):
        from pdf_extractor_spark.operators.pdf_generator import (
            incremental_add_page,
        )
        p2 = PageSpec()
        p2.put_words(72, 100, 12, ["appended", "second", "page"])
        doc = parse_pdf(incremental_add_page(self._base(), p2))
        assert not doc.errors
        assert len(doc.pages) == 2
        assert list(doc.pages[0].words["text"]) == [
            "original", "first", "page"
        ]
        assert list(doc.pages[1].words["text"]) == [
            "appended", "second", "page"
        ]

    def test_chain_of_two_updates(self):
        from pdf_extractor_spark.operators.pdf_generator import (
            incremental_add_page,
        )
        data = self._base()
        for n in (2, 3):
            p = PageSpec()
            p.put_words(72, 100, 12, [f"rev{n}", "content"])
            data = incremental_add_page(data, p, compress=(n == 3))
        doc = parse_pdf(data)
        assert len(doc.pages) == 3
        assert list(doc.pages[2].words["text"]) == ["rev3", "content"]

    def test_free_entry_tombstones_object(self):
        from pdf_extractor_spark.operators.pdf_tokenizer import (
            _parse_xref_offsets,
        )
        # hand-built: old section lists object 5 at offset 100; the
        # newer section marks 5 free — 5 must NOT resurrect
        old = b"X" * 50
        old_xref_pos = len(old)
        old_full = old + (
            b"xref\n0 1\n0000000000 65535 f \n"
            b"5 1\n0000000100 00000 n \n"
            b"trailer\n<< /Size 6 /Root 1 0 R >>\n"
        )
        new_xref_pos = len(old_full)
        data = old_full + (
            b"xref\n5 1\n0000000000 00001 f \n"
            b"6 1\n0000000200 00000 n \n"
            b"trailer\n<< /Size 7 /Root 1 0 R /Prev "
            + str(old_xref_pos).encode()
            + b" >>\nstartxref\n"
            + str(new_xref_pos).encode()
            + b"\n%%EOF\n"
        )
        offsets, _stm = _parse_xref_offsets(data)
        assert 5 not in offsets
        assert offsets[6] == 200

    def test_prev_cycle_terminates(self):
        from pdf_extractor_spark.operators.pdf_tokenizer import (
            _parse_xref_offsets,
        )
        xref_pos = 0
        data = (
            b"xref\n3 1\n0000000300 00000 n \n"
            b"trailer\n<< /Size 4 /Prev 0 >>\n"  # /Prev → itself
            b"startxref\n0\n%%EOF\n"
        )
        offsets, _stm = _parse_xref_offsets(data)
        assert offsets == {3: 300}


class TestInlineImagesAndFormXObjects:
    """BI..EI payload skipping (§8.9.7) and /Form XObject text via
    Do (§8.10) — both ubiquitous in real writer output."""

    def test_inline_image_payload_not_hallucinated(self):
        p = PageSpec(inline_image=True)
        p.put_words(72, 100, 12, ["real", "words", "after", "image"])
        doc = parse_pdf(build_pdf([p]))
        texts = list(doc.pages[0].words["text"])
        assert texts == ["real", "words", "after", "image"]
        assert "fake" not in texts  # the blob contains "(fake) Tj"

    def test_inline_image_with_compression(self):
        p = PageSpec(inline_image=True)
        p.put_words(72, 100, 12, ["compressed", "case"])
        doc = parse_pdf(build_pdf([p], compress=True))
        assert list(doc.pages[0].words["text"]) == [
            "compressed", "case"
        ]

    def test_bi_inside_string_not_stripped(self):
        p = PageSpec()
        p.put_words(72, 100, 12, ["BI", "and", "EI", "are", "words"])
        doc = parse_pdf(build_pdf([p]))
        assert list(doc.pages[0].words["text"]) == [
            "BI", "and", "EI", "are", "words"
        ]

    def test_space_delimited_bi_ei_in_strings_survive(self):
        # " BI " inside one string and " EI " in a later one must not
        # pair up and delete the real text between them (the span
        # carries no ID operator)
        from pdf_extractor_spark.operators.pdf_tokenizer import (
            _parse_content,
        )
        stream = (
            b"BT /F1 12 Tf 72 700 Td (alpha BI beta) Tj ET\n"
            b"BT /F1 12 Tf 72 650 Td (keep this middle text) Tj ET\n"
            b"BT /F1 12 Tf 72 600 Td (gamma EI delta) Tj ET"
        )
        words = list(_parse_content(stream, 792.0, 1, None, {})["text"])
        assert words == [
            "alpha", "BI", "beta", "keep", "this", "middle", "text",
            "gamma", "EI", "delta",
        ]

    def test_prose_bi_id_ei_triple_not_stripped(self):
        # "BI .. ID .. EI" all appearing as WORDS across shown strings
        # must not match the inline-image span: the BI..ID stretch is
        # prose, not the /Key value dict pairs the spec mandates
        from pdf_extractor_spark.operators.pdf_tokenizer import (
            _parse_content,
        )
        stream = (
            b"BT /F1 12 Tf 72 700 Td (modern BI tools) Tj ET\n"
            b"BT /F1 12 Tf 72 650 Td (user ID field) Tj ET\n"
            b"BT /F1 12 Tf 72 600 Td (EI benefits) Tj ET"
        )
        words = list(_parse_content(stream, 792.0, 1, None, {})["text"])
        assert words == [
            "modern", "BI", "tools", "user", "ID", "field",
            "EI", "benefits",
        ]

    def test_real_inline_image_still_stripped(self):
        # the dict-shape guard must not break the actual skip
        p = PageSpec(inline_image=True)
        p.put_words(72, 100, 12, ["real", "words"])
        doc = parse_pdf(build_pdf([p]))
        assert list(doc.pages[0].words["text"]) == ["real", "words"]

    def test_incremental_on_encrypted_base_rejected(self):
        import pytest

        from pdf_extractor_spark.operators.pdf_generator import (
            incremental_add_page,
        )
        p = PageSpec()
        p.put_words(72, 100, 12, ["secret", "base"])
        base = build_pdf([p], encrypt="rc4-128")
        with pytest.raises(ValueError, match="encrypted"):
            incremental_add_page(base, PageSpec())

    def test_form_xobject_text_extracted_every_page(self):
        pages = []
        for pno in range(2):
            p = PageSpec()
            p.put_words(72, 100, 12, ["body", f"page{pno}"])
            pages.append(p)
        doc = parse_pdf(
            build_pdf(pages, header_xobject=["ACME", "letterhead"])
        )
        assert not doc.errors
        for pg in doc.pages:
            texts = list(pg.words["text"])
            assert "ACME" in texts and "letterhead" in texts
            assert "body" in texts

    def test_form_xobject_with_compress_and_encrypt(self):
        p = PageSpec()
        p.put_words(72, 100, 12, ["secured", "body"])
        doc = parse_pdf(
            build_pdf([p], compress=True, encrypt="aes-128",
                      header_xobject=["stamp", "text"])
        )
        texts = list(doc.pages[0].words["text"])
        assert "stamp" in texts and "secured" in texts

    def test_form_xobject_under_inherited_resources(self):
        # /XObject lives in the INHERITED /Resources dict on the
        # /Pages node — resolution must go through the same owner
        # the fonts use
        pages = []
        for pno in range(2):
            p = PageSpec()
            p.put_words(72, 100, 12, ["inherited", f"body{pno}"])
            pages.append(p)
        doc = parse_pdf(
            build_pdf(pages, inherit_attrs=True, content_parts=2,
                      header_xobject=["Stamp", "Here"])
        )
        assert not doc.errors
        for pg in doc.pages:
            texts = list(pg.words["text"])
            assert "Stamp" in texts and "inherited" in texts

    def test_missing_xobject_ref_harmless(self):
        # a Do naming no resolvable XObject: page text still lands
        from pdf_extractor_spark.operators.pdf_tokenizer import (
            _parse_content,
        )
        stream = b"q /Zz Do Q\nBT /F1 12 Tf 72 700 Td (survives) Tj ET"
        for xobjs in (None, {}):
            words = _parse_content(stream, 792.0, 1, None, xobjs)
            assert list(words["text"]) == ["survives"], xobjs


class TestHttpTransport:
    """WARC-response-style payloads: HTTP status line + headers ahead
    of the body, Content-Type charset as the transport hint."""

    def _extract(self, payload):
        from pdf_extractor_spark.operators.document import (
            extract_document,
        )
        return extract_document(payload)

    HTML = (b"<html><body><p>A long paragraph of genuine content "
            b"that easily exceeds the short-block threshold and "
            b"has zero links.</p></body></html>")

    def test_headers_stripped_before_routing(self):
        base = self._extract(self.HTML)
        rec = self._extract(
            b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
            b"Server: x\r\n\r\n" + self.HTML
        )
        assert rec["extracted_text"] == base["extracted_text"]
        assert any(
            "headers stripped" in e["message"] for e in rec["errors"]
        )

    def test_transport_charset_beats_meta(self):
        body = (
            "<html><head><meta charset='utf-8'></head><body>"
            "<p>He said \x93hi\x94 and the paragraph keeps going long "
            "enough to clear the short-block threshold fine.</p>"
            "</body></html>"
        ).encode("latin-1")  # cp1252 bytes
        rec = self._extract(
            b"HTTP/1.1 200 OK\r\n"
            b"Content-Type: text/html; charset=windows-1252\r\n\r\n"
            + body
        )
        assert "“hi”" in rec["extracted_text"]

    def test_bom_beats_transport_charset(self):
        body = b"\xef\xbb\xbf" + self.HTML
        rec = self._extract(
            b"HTTP/1.1 200 OK\r\n"
            b"Content-Type: text/html; charset=shift_jis\r\n\r\n"
            + body
        )
        assert "long paragraph" in rec["extracted_text"]

    def test_headers_then_gzip_body(self):
        import gzip
        rec = self._extract(
            b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n\r\n"
            + gzip.compress(self.HTML, mtime=0)
        )
        assert "long paragraph" in rec["extracted_text"]

    def test_headers_then_pdf_body(self):
        p = PageSpec()
        for row in range(5):
            p.put_words(
                72, 100 + 30 * row, 12,
                ["served", "pdf", "body", f"row{row}", "with",
                 "plenty", "of", "words"],
            )
        rec = self._extract(
            b"HTTP/1.1 200 OK\r\nContent-Type: application/pdf\r\n\r\n"
            + build_pdf([p])
        )
        assert rec["branch"] == "pdf"
        assert "served" in rec["extracted_text"]

    def test_headerless_body_unchanged(self):
        rec = self._extract(self.HTML)
        assert not any(
            "headers stripped" in e["message"] for e in rec["errors"]
        )


class TestGzipTransport:
    """gzip-wrapped payloads (WARC bodies / mis-served
    Content-Encoding) are stripped before branch routing."""

    def _extract(self, payload):
        from pdf_extractor_spark.operators.document import (
            extract_document,
        )
        return extract_document(payload)

    def test_gzipped_pdf_routes_to_pdf_branch(self):
        import gzip
        p = PageSpec()
        p.put_words(72, 100, 12, ["gzip", "wrapped", "pdf", "body"])
        raw = build_pdf([p])
        base = self._extract(raw)
        rec = self._extract(gzip.compress(raw, mtime=0))
        assert rec["branch"] == "pdf"
        assert rec["extracted_text"] == base["extracted_text"]
        assert any("gzip" in e["message"] for e in rec["errors"])

    def test_gzipped_html_routes_to_html_branch(self):
        import gzip
        html = (b"<html><body><p>A long paragraph of genuine content "
                b"that easily exceeds the short-block threshold and "
                b"has zero links.</p></body></html>")
        base = self._extract(html)
        rec = self._extract(gzip.compress(html, mtime=0))
        assert rec["branch"] == "html"
        assert rec["extracted_text"] == base["extracted_text"]

    def test_truncated_gzip_salvages_prefix(self):
        import gzip
        html = (b"<html><body>" + b"<p>A long paragraph of genuine "
                b"content that easily exceeds the threshold.</p>" * 30
                + b"</body></html>")
        z = gzip.compress(html, mtime=0)
        rec = self._extract(z[: len(z) * 2 // 3])
        assert rec["extracted_text"]  # prefix recovered
        assert any("salvaged" in e["message"] for e in rec["errors"])

    def test_fake_gzip_magic_graded_raw(self):
        rec = self._extract(b"\x1f\x8bnot actually gzip at all")
        assert rec["branch"] == "html"  # fell through, never raised


class TestDifferencesEncoding:
    """Simple-font /Encoding /Differences arrays (ISO 32000
    §9.6.6.3): custom code assignments resolved through the AGL."""

    def test_differences_remap_decodes(self):
        p = PageSpec()
        # codes 0x41 0x42 0x43 remapped: A→é, B→“, C→Euro sign
        p.put_codes(72, 100, 12, b"ABC", font="F5")
        data = build_pdf(
            [p],
            differences={0x41: "eacute", 0x42: "quotedblleft",
                         0x43: "Euro"},
        )
        doc = parse_pdf(data)
        assert list(doc.pages[0].words["text"]) == ["é“€"]

    def test_uniXXXX_and_suffixed_names(self):
        p = PageSpec()
        p.put_codes(72, 100, 12, b"\x80\x81\x82", font="F5")
        data = build_pdf(
            [p],
            differences={0x80: "uni65E5", 0x81: "a.sc",
                         0x82: "u1F600"},
        )
        doc = parse_pdf(data)
        assert list(doc.pages[0].words["text"]) == ["日a😀"]

    def test_unmapped_name_keeps_identity(self):
        p = PageSpec()
        p.put_codes(72, 100, 12, b"xy", font="F5")
        data = build_pdf([p], differences={ord("x"): "glyph99x"})
        doc = parse_pdf(data)
        # unknown glyph name → identity code point; y untouched
        assert list(doc.pages[0].words["text"]) == ["xy"]

    def test_number_resets_code_counter(self):
        from pdf_extractor_spark.operators.pdf_tokenizer import (
            _parse_differences,
        )
        enc = b"<< /Differences [ 65 /eacute /egrave 97 /Euro ] >>"
        assert _parse_differences(enc) == {
            65: "é", 66: "è", 97: "€"
        }

    def test_tounicode_wins_over_differences(self):
        # F3 carries a ToUnicode map; its decode must not change when
        # an (unrelated) differences font is also present
        p = PageSpec()
        p.put_codes(72, 100, 12, b"AB", font="F3")
        data = build_pdf(
            [p],
            tounicode_chars={0x41: "X", 0x42: "Y"},
            differences={0x41: "eacute"},
        )
        doc = parse_pdf(data)
        assert list(doc.pages[0].words["text"]) == ["XY"]

    def test_default_fonts_unaffected(self):
        p = PageSpec()
        p.put_words(72, 100, 12, ["plain", "words"])
        base = parse_pdf(build_pdf([p]))
        with_diff = parse_pdf(
            build_pdf([p], differences={0x41: "eacute"})
        )
        assert list(with_diff.pages[0].words["text"]) == list(
            base.pages[0].words["text"]
        )


class TestLzwAndRleFilters:
    """LZWDecode / RunLengthDecode (ISO 32000 §7.4.4-§7.4.5)."""

    def _pack9(self, codes):
        """MSB-first fixed-9-bit packer for hand-built short streams."""
        acc = nbits = 0
        out = bytearray()
        for c in codes:
            acc = (acc << 9) | c
            nbits += 9
            while nbits >= 8:
                nbits -= 8
                out.append((acc >> nbits) & 0xFF)
        if nbits:
            out.append((acc << (8 - nbits)) & 0xFF)
        return bytes(out)

    def test_spec_example_decodes(self):
        # ISO 32000-1 §7.4.4.2 worked example: 45×5 65 45×3 66
        from pdf_extractor_spark.operators.pdf_tokenizer import _lzw_decode
        codes = [256, 45, 258, 258, 65, 259, 66, 257]
        assert _lzw_decode(self._pack9(codes)) == bytes(
            [45, 45, 45, 45, 45, 65, 45, 45, 45, 66]
        )

    def test_kwkwk_code_not_yet_in_table(self):
        from pdf_extractor_spark.operators.pdf_tokenizer import _lzw_decode
        # 'a' then code 258 (= 'aa', assigned by this very step)
        codes = [256, ord("a"), 258, 257]
        assert _lzw_decode(self._pack9(codes)) == b"aaa"

    def test_roundtrip_crosses_width_boundaries(self):
        from pdf_extractor_spark.operators.pdf_generator import lzw_encode
        from pdf_extractor_spark.operators.pdf_tokenizer import _lzw_decode
        # deterministic pseudo-random bytes force thousands of distinct
        # dictionary entries → 9→10→11→12-bit transitions
        data = bytes((i * 131 + (i >> 3) * 17) & 0xFF for i in range(20000))
        assert _lzw_decode(lzw_encode(data)) == data
        # highly repetitive input exercises long matches + KwKwK
        rep = b"abcabcabcab" * 400 + b"x" * 500
        assert _lzw_decode(lzw_encode(rep)) == rep

    def test_roundtrip_table_overflow_clears(self):
        from pdf_extractor_spark.operators.pdf_generator import lzw_encode
        from pdf_extractor_spark.operators.pdf_tokenizer import _lzw_decode
        # > 4096 distinct entries → encoder must emit a mid-stream clear
        data = bytes(
            ((i * 7919) ^ (i >> 2)) & 0xFF for i in range(60000)
        )
        encoded = lzw_encode(data)
        assert _lzw_decode(encoded) == data

    def test_rle_roundtrip_and_edges(self):
        from pdf_extractor_spark.operators.pdf_generator import rle_encode
        from pdf_extractor_spark.operators.pdf_tokenizer import _rle_decode
        cases = [
            b"",
            b"a",
            b"ab",
            b"a" * 3,
            b"a" * 127,
            b"a" * 128,
            b"a" * 129,
            b"x" * 200 + b"literal tail",
            bytes(range(256)) * 3,
            b"ab" * 100 + b"c" * 50 + b"de",
        ]
        for data in cases:
            assert _rle_decode(rle_encode(data)) == data, data[:16]

    def test_rle_decode_eod_and_truncation(self):
        from pdf_extractor_spark.operators.pdf_tokenizer import _rle_decode
        assert _rle_decode(b"\x02abc\x80trailing") == b"abc"
        assert _rle_decode(b"\xfeZ\x80") == b"ZZZ"
        assert _rle_decode(b"\x05ab") == b"ab"  # truncated literal

    def _doc_pages(self):
        p = PageSpec()
        p.put_words(72, 100, 12, ["lzw", "filter", "roundtrip", "words"])
        p.put(72, 130, 12, "日本語の行")
        return [p]

    def test_pdf_with_lzw_content_stream(self):
        pages = self._doc_pages()
        base = parse_pdf(build_pdf(pages))
        doc = parse_pdf(build_pdf(pages, compress="lzw"))
        assert not doc.errors
        assert list(doc.pages[0].words["text"]) == list(
            base.pages[0].words["text"]
        )

    def test_pdf_with_rle_content_stream(self):
        pages = self._doc_pages()
        base = parse_pdf(build_pdf(pages))
        doc = parse_pdf(build_pdf(pages, compress="rle"))
        assert not doc.errors
        assert list(doc.pages[0].words["text"]) == list(
            base.pages[0].words["text"]
        )


class TestInheritanceAndContentArrays:
    """ISO 32000 §7.7.3.4 attribute inheritance + /Contents arrays —
    the layout quirks real writers emit."""

    def _pages(self):
        pages = []
        for pno in range(2):
            p = PageSpec()
            p.put_words(72, 100, 12, ["page", f"n{pno}", "words", "here"])
            p.put(72, 130, 12, "日本語行")
            p.put_words(72, 160, 12, ["more", "content", "below"])
            pages.append(p)
        return pages

    def _boxes(self, doc):
        return [
            (pg.page_number, pg.width, pg.height,
             tuple(pg.words["text"]), tuple(pg.words["x0"]))
            for pg in doc.pages
        ]

    def test_inherited_mediabox_and_resources(self):
        pages = self._pages()
        base = self._boxes(parse_pdf(build_pdf(pages)))
        doc = parse_pdf(build_pdf(pages, inherit_attrs=True))
        assert not doc.errors
        assert self._boxes(doc) == base

    def test_contents_array_concatenates(self):
        pages = self._pages()
        base = self._boxes(parse_pdf(build_pdf(pages)))
        for parts in (2, 3, 8):
            doc = parse_pdf(build_pdf(pages, content_parts=parts))
            assert self._boxes(doc) == base, parts

    def test_combined_with_compress_and_encrypt(self):
        pages = self._pages()
        base = self._boxes(parse_pdf(build_pdf(pages)))
        doc = parse_pdf(
            build_pdf(pages, compress=True, inherit_attrs=True,
                      content_parts=3, encrypt="rc4-128")
        )
        assert self._boxes(doc) == base
        assert {e["severity"] for e in doc.errors} == {"info"}

    def test_inherited_tounicode_resources(self):
        """Fonts resolved through an INHERITED /Resources dict must
        still route codes through their CMaps."""
        p = PageSpec()
        p.put_codes(72, 100, 12, b"AB")
        data = build_pdf(
            [p], inherit_attrs=True, tounicode_chars={0x41: "X", 0x42: "Y"}
        )
        doc = parse_pdf(data)
        assert list(doc.pages[0].words["text"]) == ["XY"]


class TestPredefinedCMaps:
    JP = "日本語の文章です"

    def _extract(self, data):
        doc = parse_pdf(data)
        return [t for pg in doc.pages for t in pg.words["text"]], doc

    def test_unijis_ucs2_h_decodes_without_tounicode(self):
        p = PageSpec()
        p.put_codes(
            72, 100, 12, self.JP.encode("utf-16-be"),
            font="F6", hex_show=True,
        )
        words, doc = self._extract(
            build_pdf([p], predefined_cmap="UniJIS-UCS2-H")
        )
        assert words == [self.JP]
        assert doc.errors == []

    def test_rksj_variable_width_codes(self):
        # Shift-JIS mixes 1-byte (ASCII) and 2-byte (kanji) codes in
        # one string — whole-string codec decode must resolve both
        mixed = "AB日本語CD"
        p = PageSpec()
        p.put_codes(
            72, 100, 12, mixed.encode("shift_jis"),
            font="F6", hex_show=True,
        )
        words, _doc = self._extract(
            build_pdf([p], predefined_cmap="90ms-RKSJ-H")
        )
        assert words == [mixed]

    def test_euc_h_decodes(self):
        p = PageSpec()
        p.put_codes(
            72, 100, 12, self.JP.encode("euc_jp"), font="F6",
            hex_show=True,
        )
        words, _doc = self._extract(
            build_pdf([p], predefined_cmap="EUC-H")
        )
        assert words == [self.JP]

    def test_literal_string_codes_also_decode(self):
        # RKSJ codes arrive as literal strings in many writers
        p = PageSpec()
        p.put_codes(
            72, 100, 12, self.JP.encode("shift_jis"), font="F6",
            hex_show=False,
        )
        words, _doc = self._extract(
            build_pdf([p], predefined_cmap="90ms-RKSJ-H")
        )
        assert words == [self.JP]

    def test_unknown_predefined_name_degrades_to_default(self):
        # an unsupported predefined CMap must not crash — the default
        # UTF-16BE hex path applies (correct for UCS2-style codes)
        p = PageSpec()
        p.put_codes(
            72, 100, 12, self.JP.encode("utf-16-be"), font="F6",
            hex_show=True,
        )
        words, doc = self._extract(
            build_pdf([p], predefined_cmap="Ext-RKSJ-NotShipped")
        )
        assert words == [self.JP]

    def test_tounicode_wins_over_predefined(self):
        # resolution order §9.10.2: an embedded /ToUnicode beats the
        # predefined /Encoding — F4 carries both in this layout
        p = PageSpec()
        p.put_codes(
            72, 100, 12, b"\x00\x01\x00\x02", font="F4", hex_show=True,
        )
        data = build_pdf(
            [p], cid_tounicode_chars={1: "あ", 2: "ん"},
        )
        words, _doc = self._extract(data)
        assert words == ["あん"]

    def test_golden_type0_predefined_roundtrip(self):
        import pathlib

        from pdf_extractor_spark.fixtures.corpus import (
            _pdf_type0_predefined,
        )
        from pdf_extractor_spark.operators.document import (
            extract_document,
        )
        rec = extract_document(_pdf_type0_predefined())
        golden = pathlib.Path(
            "tests/golden/pdf-type0-predefined.txt"
        ).read_bytes()
        assert rec["extracted_text"].encode() == golden
        assert "日本語の本文はこの行に含まれており抽出結果は常に同一です" in rec["extracted_text"]


class TestQuoteRepair:
    def test_orphan_quote_dropped_tag_closes(self):
        from pdf_extractor_spark.operators.html_extract import (
            repair_unterminated_quotes,
        )
        s = '<p class="broken>text</p>'
        assert repair_unterminated_quotes(s) == "<p class=broken>text</p>"

    def test_wellformed_markup_is_identity(self):
        from pdf_extractor_spark.operators.html_extract import (
            repair_unterminated_quotes,
        )
        cases = [
            '<p class="ok" data-x=\'y\'>text</p>',
            "<a href='/x?a=1&b=2'>link</a> plain 'quoted prose' stays",
            "<!-- comment with \" odd quote --><p>body</p>",
            '<script>var s = "a < b";</script>',
            "<p data-note='it said >hello<'>angle in quotes</p>",
            "no tags at all, just text with a lone \" quote",
        ]
        for s in cases:
            assert repair_unterminated_quotes(s) == s, s

    def test_two_broken_tags_both_repaired(self):
        from pdf_extractor_spark.operators.html_extract import (
            repair_unterminated_quotes,
        )
        s = "<p a=\"x>one</p><p b='y>two</p>"
        assert repair_unterminated_quotes(s) == (
            "<p a=x>one</p><p b=y>two</p>"
        )


class TestReviewRegressionsR4:
    def test_inline_image_with_dict_and_string_values_stripped(self):
        # /DP << /Predictor 15 .. >> (the Flate-predictor layout) and
        # literal-string values are legal BI-dict values; without the
        # dict/string alternatives the span fails the dict-shape test
        # and the binary payload leaks into the token scan
        from pdf_extractor_spark.operators.pdf_tokenizer import (
            _parse_content,
        )
        stream = (
            b"BT /F1 12 Tf 72 700 Td (alpha) Tj ET\n"
            b"BI /W 4 /H 4 /BPC 8 /CS /G /F /Fl"
            b" /DP << /Predictor 15 /Columns 4 >>"
            b" /Name (lead image) ID \x00\x01(fake) Tj\x02 EI\n"
            b"BT /F1 12 Tf 72 600 Td (omega) Tj ET"
        )
        words = list(_parse_content(stream, 792.0, 1, None, {})["text"])
        assert words == ["alpha", "omega"]

    def test_quote_repair_long_attribute_value_untouched(self):
        # a well-formed quoted value longer than any fixed small
        # lookahead (srcset / data-URI scale) must stay protected —
        # including '>' characters inside the value
        from pdf_extractor_spark.operators.html_extract import (
            repair_unterminated_quotes,
        )
        long_val = "x" * 300 + " description > more"
        s = f'<img alt="{long_val}"><p>Real body text.</p>'
        assert repair_unterminated_quotes(s) == s

    def test_quote_repair_adjacent_same_char_orphans(self):
        # two unterminated quotes of the SAME char in nearby tags must
        # not pair with each other (that re-creates the browser
        # swallow this pass exists to undo) — both are orphans because
        # a tag start intervenes before the candidate close
        from pdf_extractor_spark.operators.html_extract import (
            repair_unterminated_quotes,
        )
        s = '<p a="x>one prose</p><p b="y>two</p>'
        assert repair_unterminated_quotes(s) == (
            "<p a=x>one prose</p><p b=y>two</p>"
        )

    def test_quote_repair_data_uri_identity(self):
        from pdf_extractor_spark.operators.html_extract import (
            repair_unterminated_quotes,
        )
        uri = "data:image/png;base64," + "ABCD" * 500
        s = f'<img src="{uri}" alt="tiny"><p>Body.</p>'
        assert repair_unterminated_quotes(s) == s

    def test_quote_repair_value_beyond_any_window(self):
        # a well-formed value of ANY length is protected: the close
        # search is bounded by the next tag start, not a fixed window
        from pdf_extractor_spark.operators.html_extract import (
            repair_unterminated_quotes,
        )
        uri = "data:image/png;base64," + "A" * 5200
        s = f'<img src="{uri}" alt="tiny"><p>Important prose.</p>'
        assert repair_unterminated_quotes(s) == s

    def test_quote_repair_tag_after_break_is_scanned(self):
        # the '<' that ends a broken tag's scan starts the NEXT tag —
        # skipping it left the following tag's orphan quote unrepaired
        from pdf_extractor_spark.operators.html_extract import (
            repair_unterminated_quotes,
        )
        s = '<p a="x<p b="y>prose that should survive</p>'
        assert repair_unterminated_quotes(s) == (
            "<p a=x<p b=y>prose that should survive</p>"
        )

    def test_inline_image_nested_paren_string_value(self):
        # literal strings legally nest balanced parens (§7.3.4.2)
        from pdf_extractor_spark.operators.pdf_tokenizer import (
            _parse_content,
        )
        stream = (
            b"BT /F1 12 Tf 72 700 Td (alpha) Tj ET\n"
            b"BI /W 4 /H 4 /BPC 8 /Name (lead (sub) image)"
            b" ID \x00(fake) Tj\x02 EI\n"
            b"BT /F1 12 Tf 72 600 Td (omega) Tj ET"
        )
        words = list(_parse_content(stream, 792.0, 1, None, {})["text"])
        assert words == ["alpha", "omega"]


class TestVerticalWriting:
    """Tategaki (WMode 1, -V CMaps): downward advance, right-to-left
    column order via the rotated virtual frame, vertical TJ kerning."""

    def _vert_pdf(self, chunks, cmap="UniJIS-UCS2-V"):
        from pdf_extractor_spark.operators.pdf_generator import (
            PageSpec,
            build_pdf,
        )

        p = PageSpec()
        for x, y_top, text in chunks:
            p.put_codes(
                x, y_top, 12, text.encode("utf-16-be"),
                font="F6", hex_show=True,
            )
        return build_pdf([p], predefined_cmap=cmap)

    def test_vertical_font_flag_and_word_boxes(self):
        from pdf_extractor_spark.operators.pdf_tokenizer import parse_pdf

        doc = parse_pdf(self._vert_pdf([(400, 100, "縦書きです")]))
        assert any(e["type"] == "vertical" for e in doc.errors)
        w = doc.pages[0].words
        assert len(w) == 1
        # downward run: virtual x-extent = 5 wide chars * 12pt = 60
        assert float(w["x1"][0]) - float(w["x0"][0]) == 60.0

    def test_columns_read_right_to_left(self):
        from pdf_extractor_spark.operators.pdf_tokenizer import parse_pdf

        doc = parse_pdf(
            self._vert_pdf([(400, 100, "右の列"), (360, 100, "左の列")])
        )
        w = doc.pages[0].words
        # rightmost column (x=400) must carry the SMALLER virtual top
        by_text = {w["text"][i]: w["top"][i] for i in range(len(w))}
        assert by_text["右の列"] < by_text["左の列"]

    def test_horizontal_fonts_unaffected(self):
        from pdf_extractor_spark.operators.pdf_tokenizer import parse_pdf

        doc = parse_pdf(
            self._vert_pdf(
                [(400, 100, "横書きのまま")], cmap="UniJIS-UCS2-H"
            )
        )
        assert not any(e["type"] == "vertical" for e in doc.errors)
        w = doc.pages[0].words
        # horizontal: 6 wide chars * 12pt advance along x
        assert float(w["x1"][0]) - float(w["x0"][0]) == 72.0

    def _mixed_pdf(self, h_y_top: float, v_y_top: float) -> bytes:
        from pdf_extractor_spark.operators.pdf_generator import (
            PageSpec,
            build_pdf,
        )

        p = PageSpec()
        p.put_words(
            72, h_y_top, 12,
            ["alpha", "beta", "gamma", "delta", "epsilon", "zeta",
             "eta", "theta"],
        )
        for i, c in enumerate(["右の列はこちら", "左の列はこちら"]):
            p.put_codes(
                480 - 24 * i, v_y_top, 12, c.encode("utf-16-be"),
                font="F6", hex_show=True,
            )
        return build_pdf([p], predefined_cmap="UniJIS-UCS2-V")

    def test_mixed_modes_horizontal_headline_reads_first(self):
        """A horizontal headline ABOVE a tategaki body: the two
        coordinate systems must not interleave — headline words,
        then vertical columns right-to-left."""
        from pdf_extractor_spark.operators.document import (
            extract_document,
        )

        rec = extract_document(self._mixed_pdf(h_y_top=40, v_y_top=100))
        t = rec["extracted_text"]
        assert t.index("alpha") < t.index("beta") < t.index("右の列")
        assert t.index("右の列") < t.index("左の列")

    def test_mixed_modes_vertical_body_above_horizontal_footer(self):
        """Vertical body at the top of the page, horizontal line far
        below it: the vertical group reads FIRST."""
        from pdf_extractor_spark.operators.document import (
            extract_document,
        )

        rec = extract_document(self._mixed_pdf(h_y_top=600, v_y_top=60))
        t = rec["extracted_text"]
        assert t.index("右の列") < t.index("左の列") < t.index("alpha")


class TestLiteralStringSyntax:
    """ISO 32000 §7.3.4.2 literal-string forms the canonical writer
    never emits: nested balanced parens, \\<EOL> continuations, raw
    EOL normalization, astral /ToUnicode destinations."""

    def _page(self, shown: str) -> str:
        from pdf_extractor_spark.operators.document import (
            extract_document,
        )
        from pdf_extractor_spark.operators.pdf_generator import (
            PageSpec,
            build_pdf,
        )

        p = PageSpec()
        p.put_words(
            72, 100, 12,
            "filler words keep the page from the scanned class".split(),
        )
        p.put_raw_shown(72, 130, 12, shown)
        p.put_words(72, 160, 12, "closing filler words on this page".split())
        return extract_document(build_pdf([p]))["extracted_text"]

    def test_nested_balanced_parens_are_one_string(self):
        t = self._page("(see section (ii) and (iii) below)")
        assert "see section (ii) and (iii) below" in t
        # the inner tokens must NOT leak as standalone operators/words
        assert "\nii\n" not in t

    def test_backslash_eol_continuation_contributes_no_bytes(self):
        t = self._page("(wrapped \\\nacross three \\\r\nphysical lines)")
        assert "wrapped across three physical lines" in t

    def test_raw_eol_in_literal_is_one_0a_byte(self):
        t = self._page("(raw\r\nbreak)")
        assert "raw\nbreak" in t
        assert "\r" not in t

    def test_unknown_escape_drops_backslash_keeps_char(self):
        t = self._page("(a\\qb)")
        assert "aqb" in t


class TestAstralToUnicode:
    def test_surrogate_pair_bfchar_and_bfrange(self):
        from pdf_extractor_spark.operators.document import (
            extract_document,
        )
        from pdf_extractor_spark.operators.pdf_generator import (
            PageSpec,
            build_pdf,
        )

        p = PageSpec()
        p.put_words(
            72, 100, 12,
            "filler words keep the page from the scanned class".split(),
        )
        p.put_codes(
            72, 130, 12, b"\x00\x01\x00\x02", font="F4", hex_show=True
        )
        p.put_codes(72, 145, 12, b"abc")
        p.put_words(72, 175, 12, "closing filler words line".split())
        pdf = build_pdf(
            [p],
            tounicode_ranges=[(0x61, 0x63, "😀")],
            cid_tounicode_chars={0x0001: "🚀", 0x0002: "𠮟"},
        )
        t = extract_document(pdf)["extracted_text"]
        assert "🚀𠮟" in t      # bfchar surrogate pairs
        assert "😀😁😂" in t    # bfrange increments the LOW surrogate
        assert "�" not in t


class TestMixedModeSandwich:
    def test_horizontal_above_and_below_vertical_body(self):
        """The real mixed-JP layout: headline ABOVE the tategaki body
        AND a folio/caption BELOW it — three reading groups, in page
        order, never interleaved."""
        from pdf_extractor_spark.operators.document import (
            extract_document,
        )
        from pdf_extractor_spark.operators.pdf_generator import (
            PageSpec,
            build_pdf,
        )

        p = PageSpec()
        p.put_words(
            72, 40, 14,
            ["headline", "words", "come", "first", "always", "here"],
        )
        for i, c in enumerate(["右の列はこちら", "左の列はこちら"]):
            p.put_codes(
                480 - 24 * i, 110, 12, c.encode("utf-16-be"),
                font="F6", hex_show=True,
            )
        p.put_words(
            72, 700, 10,
            ["footer", "caption", "reads", "last", "on", "page"],
        )
        pdf = build_pdf([p], predefined_cmap="UniJIS-UCS2-V")
        t = extract_document(pdf)["extracted_text"]
        assert (
            t.index("headline")
            < t.index("右の列")
            < t.index("左の列")
            < t.index("footer")
        ), t


class TestUnbalancedParenSalvage:
    def _extract(self, shown: str) -> str:
        from pdf_extractor_spark.operators.document import (
            extract_document,
        )
        from pdf_extractor_spark.operators.pdf_generator import (
            PageSpec,
            build_pdf,
        )

        p = PageSpec()
        p.put_words(
            72, 100, 12,
            "filler words keep the page from the scanned class".split(),
        )
        p.put_raw_shown(72, 130, 12, shown)
        p.put_words(
            72, 160, 12, "trailing text still extracts fine".split()
        )
        return extract_document(build_pdf([p]))["extracted_text"]

    def test_unbalanced_open_paren_does_not_eat_the_page(self):
        # one stray unbalanced '(' with a later ')': flat salvage —
        # everything after the first close still emits
        t = self._extract("(50% off (was $99) Tj")
        assert "trailing text still extracts fine" in t

    def test_unbalanced_open_paren_without_close_stays_on_line(self):
        t = self._extract("(totally unterminated garbage")
        assert "trailing text still extracts fine" in t


class TestHybridReference:
    """Hybrid-reference files (ISO 32000 §7.5.8.4): classic table +
    trailer /XRefStm, stream entries read BEFORE the table."""

    def _build(self):
        from pdf_extractor_spark.operators.pdf_generator import (
            PageSpec, build_pdf_hybrid,
        )
        pages = []
        for pno in range(2):
            p = PageSpec()
            p.put_words(
                72, 700, 12, ["hybrid", "words", f"p{pno}", "stay"]
            )
            pages.append(p)
        return build_pdf_hybrid(pages, compress=True)

    def test_roundtrip_both_pages(self):
        from pdf_extractor_spark.operators.pdf_tokenizer import parse_pdf
        doc = parse_pdf(self._build())
        assert len(doc.pages) == 2 and not doc.errors
        assert list(doc.pages[0].words["text"]) == [
            "hybrid", "words", "p0", "stay"
        ]

    def test_free_entries_do_not_tombstone_stream_claims(self):
        from pdf_extractor_spark.operators.pdf_tokenizer import (
            _parse_xref_offsets,
        )
        data = self._build()
        offsets, in_objstm = _parse_xref_offsets(data)
        # page dicts (5, 7) are FREE in the classic table but claimed
        # as ObjStm members by the /XRefStm stream read first
        assert set(in_objstm) == {5, 7}
        assert 5 not in offsets and 7 not in offsets

    def test_stream_wins_over_table_within_section(self):
        from pdf_extractor_spark.operators.pdf_tokenizer import (
            _parse_xref_offsets,
        )
        # hand-built: object 3 listed at CONFLICTING offsets — the
        # /XRefStm stream says 300, the classic table says 999; the
        # stream is read first and must win (§7.5.8.4)
        import zlib
        entry = b"\x01" + (300).to_bytes(4, "big") + (0).to_bytes(2, "big")
        xdata = zlib.compress(entry, 9)
        head = b"%PDF-1.4\n"
        stm_pos = len(head)
        stm = (
            b"90 0 obj\n<< /Type /XRef /Size 91 /W [1 4 2] "
            b"/Index [3 1] /Root 1 0 R /Filter /FlateDecode "
            b"/Length " + str(len(xdata)).encode() + b" >>\nstream\n"
            + xdata + b"\nendstream\nendobj\n"
        )
        table_pos = len(head) + len(stm)
        data = head + stm + (
            b"xref\n3 1\n0000000999 00000 n \n"
            b"trailer\n<< /Size 91 /Root 1 0 R /XRefStm "
            + str(stm_pos).encode() + b" >>\nstartxref\n"
            + str(table_pos).encode() + b"\n%%EOF\n"
        )
        offsets, _stm = _parse_xref_offsets(data)
        assert offsets[3] == 300

    def test_header_stays_14(self):
        assert self._build().startswith(b"%PDF-1.4")


class TestArtifactMarkedContent:
    """/Artifact marked-content suppression (ISO 32000 §14.8.2.2):
    pagination furniture is dropped at the content-stream level;
    structure tags and artifact-lookalike prose pass through; the pen
    keeps advancing through suppressed shows (sink swap, not skip)."""

    def _texts(self, stream: bytes, xobjects=None):
        from pdf_extractor_spark.operators.pdf_tokenizer import (
            _parse_content,
        )
        w = _parse_content(stream, 792.0, 1, xobjects=xobjects)
        return list(w["text"])

    def test_bdc_and_bmc_forms_suppressed_via_writer(self):
        p = PageSpec()
        p.put(200, 20, 10, "Running Head Unique", artifact="Pagination")
        p.put(72, 100, 12, "Body text stays")
        p.put(72, 130, 12, "Tagged kept", mc_tag="P")
        p.put(250, 760, 10, "folio 1", artifact="")
        doc = parse_pdf(build_pdf([p]))
        assert not doc.errors
        texts = doc.pages[0].words["text"].tolist()
        assert "Running" not in texts and "folio" not in texts
        assert "Body" in texts and "Tagged" in texts

    def test_advance_continues_through_suppressed_show(self):
        from pdf_extractor_spark.operators.pdf_tokenizer import (
            _parse_content,
        )
        marked = (b"BT /F1 12 Tf 10 700 Td (AA) Tj "
                  b"/Artifact BMC (HIDDEN) Tj EMC (BB) Tj ET")
        plain = (b"BT /F1 12 Tf 10 700 Td (AA) Tj "
                 b"(HIDDEN) Tj (BB) Tj ET")
        wm = _parse_content(marked, 792.0, 1)
        wp = _parse_content(plain, 792.0, 1)
        assert list(wm["text"]) == ["AA", "BB"]
        assert list(wp["text"]) == ["AA", "HIDDEN", "BB"]
        # BB starts where it would have had HIDDEN been shown
        assert wm["x0"][1] == wp["x0"][2]

    def test_nested_structure_tag_inside_artifact_stays_hidden(self):
        s = (b"/Artifact <</Type /Pagination>> BDC "
             b"BT /F1 10 Tf 72 720 Td (Head) Tj "
             b"/P <</MCID 0>> BDC (InnerTagged) Tj EMC "
             b"(StillHead) Tj ET EMC "
             b"BT /F1 12 Tf 72 100 Td (After) Tj ET")
        assert self._texts(s) == ["After"]

    def test_stray_emc_is_harmless(self):
        s = (b"EMC BT /F1 12 Tf 72 100 Td (Kept) Tj ET EMC "
             b"BT /F1 12 Tf 72 120 Td (AlsoKept) Tj ET")
        assert self._texts(s) == ["Kept", "AlsoKept"]

    def test_bdc_property_with_boolean_value_keeps_tag(self):
        # `true` inside the property dict must act as an OPERAND —
        # a stack clear there would lose the /Artifact tag
        s = (b"BT /F1 12 Tf 72 100 Td "
             b"/Artifact <</Attached true>> BDC (Hid) Tj EMC "
             b"(Seen) Tj ET")
        assert self._texts(s) == ["Seen"]

    def test_non_artifact_bmc_passes_through(self):
        s = (b"/ReversedChars BMC "
             b"BT /F1 12 Tf 72 100 Td (Visible) Tj ET EMC")
        assert self._texts(s) == ["Visible"]

    def test_artifact_wrapping_form_xobject_suppresses_form_text(self):
        form = b"BT /F1 12 Tf 0 0 Td (FormText) Tj ET"
        xobjs = {"Fm1": (form, None, None)}
        s = (b"/Artifact BMC /Fm1 Do EMC "
             b"BT /F1 12 Tf 72 100 Td (Kept) Tj ET")
        assert self._texts(s, xobjects=xobjs) == ["Kept"]
        # control: same form outside the artifact span IS extracted
        s2 = b"/Fm1 Do BT /F1 12 Tf 72 100 Td (Kept) Tj ET"
        assert sorted(self._texts(s2, xobjects=xobjs)) == [
            "FormText", "Kept"]


class TestActualText:
    """/ActualText replacement (ISO 32000 §14.9.4): the property list
    carries the TRUE text for the enclosed shows — ligature codes,
    end-of-line hyphenation — emitted once at the first enclosed
    show's position; outermost span wins; artifact context wins over
    replacement."""

    def _texts(self, stream: bytes):
        from pdf_extractor_spark.operators.pdf_tokenizer import (
            _parse_content,
        )
        return list(_parse_content(stream, 792.0, 1)["text"])

    def test_writer_roundtrip_ligature_repair(self):
        p = PageSpec()
        p.put(72, 100, 12, "an ef")
        p.put(110, 100, 12, "Ücient", actual_text="efficient")
        p.put(180, 100, 12, "engine")
        doc = parse_pdf(build_pdf([p]))
        texts = doc.pages[0].words["text"].tolist()
        assert texts == ["an", "ef", "efficient", "engine"]

    def test_hyphenation_span_replaced_once(self):
        s = (b"BT /F1 12 Tf 72 700 Td (We must) Tj "
             b"/Span <</ActualText (understand)>> BDC "
             b"(under-) Tj 0 -14 Td (stand) Tj EMC "
             b"( the rest) Tj ET")
        assert self._texts(s) == ["We", "must", "understand",
                                  "the", "rest"]

    def test_nested_outermost_span_wins(self):
        s = (b"/Span <</ActualText (outer)>> BDC "
             b"BT /F1 12 Tf 72 700 Td (shownA) Tj "
             b"/Span <</ActualText (inner)>> BDC (shownB) Tj EMC "
             b"ET EMC")
        assert self._texts(s) == ["outer"]

    def test_artifact_context_suppresses_replacement(self):
        s = (b"/Artifact BMC /Span <</ActualText (ghost)>> BDC "
             b"BT /F1 12 Tf 72 700 Td (shown) Tj ET EMC EMC "
             b"BT /F1 12 Tf 72 600 Td (kept) Tj ET")
        assert self._texts(s) == ["kept"]

    def test_utf16_actual_text_decodes(self):
        s = (b"/Span <</ActualText <FEFF65E5672C8A9E>>> BDC "
             b"BT /F1 12 Tf 72 700 Td (nihongo) Tj ET EMC")
        assert self._texts(s) == ["日本語"]

    def test_empty_span_emits_nothing_shown(self):
        # a span that shows nothing: replacement still emitted at the
        # span-open pen position
        s = (b"BT /F1 12 Tf 72 700 Td "
             b"/Span <</ActualText (soft)>> BDC EMC (after) Tj ET")
        assert self._texts(s) == ["soft", "after"]


class TestType3Font:
    """Type3 glyph-procedure fonts (ISO 32000 §9.6.5): text is
    recoverable ONLY through the required /Encoding /Differences
    names (inline-dict spelling) + AGL — codes are scrambled vs
    ASCII, glyph procs are drawings with no text."""

    def test_scrambled_codes_decode_through_names(self):
        g = {1: "T", 2: "y", 3: "p", 4: "e", 5: "three", 8: "space"}
        p = PageSpec()
        p.put_codes(72, 100, 12, bytes([1, 2, 3, 4, 8, 5]), font="F7")
        doc = parse_pdf(build_pdf([p], type3_glyphs=g))
        assert not doc.errors
        assert doc.pages[0].words["text"].tolist() == ["Type", "3"]

    def test_inline_encoding_dict_not_indirect(self):
        # F5 pins the indirect /Encoding object; F7 must exercise the
        # INLINE dict spelling of §9.6.6.3
        pdf = build_pdf([PageSpec()], type3_glyphs={1: "a"})
        assert b"/Subtype /Type3" in pdf
        assert b"/Encoding << /Type /Encoding /Differences" in pdf

    def test_coexists_with_standard_fonts(self):
        g = {1: "o", 2: "k"}
        p = PageSpec()
        p.put(72, 100, 12, "plain")
        p.put_codes(120, 100, 12, bytes([1, 2]), font="F7")
        p.put(160, 100, 12, "日本語")
        doc = parse_pdf(build_pdf([p], type3_glyphs=g))
        assert doc.pages[0].words["text"].tolist() == [
            "plain", "ok", "日本語"]


class TestOptionalContent:
    """Optional-content layers (§8.11): default-OFF OCGs' /OC spans
    are suppressed; default-ON and unknown layers keep their text
    (fail-keep); no /OCProperties means nothing hides."""

    def test_off_layer_hidden_on_layer_kept(self):
        p = PageSpec()
        p.put(72, 100, 12, "base")
        p.put(72, 130, 12, "shown layer", oc="On")
        p.put(72, 160, 12, "hidden layer", oc="Off")
        doc = parse_pdf(
            build_pdf([p], ocg_layers={"On": True, "Off": False})
        )
        texts = doc.pages[0].words["text"].tolist()
        assert texts == ["base", "shown", "layer"]

    def test_unknown_layer_name_fails_keep(self):
        from pdf_extractor_spark.operators.pdf_tokenizer import (
            _parse_content,
        )
        # an /OC citing a name not in /Properties (or not OFF) keeps
        s = (b"/OC /ghost BDC BT /F1 12 Tf 72 700 Td (kept) Tj ET EMC")
        w = _parse_content(s, 792.0, 1, hidden_ocs=frozenset({"oc9"}))
        assert list(w["text"]) == ["kept"]

    def test_no_ocproperties_nothing_hides(self):
        p = PageSpec()
        p.put(72, 100, 12, "plain")
        doc = parse_pdf(build_pdf([p]))
        assert doc.pages[0].words["text"].tolist() == ["plain"]

    def test_off_layer_inside_artifact_and_vice_versa(self):
        from pdf_extractor_spark.operators.pdf_tokenizer import (
            _parse_content,
        )
        s = (b"/OC /oc0 BDC BT /F1 12 Tf 72 700 Td (h1) Tj ET EMC "
             b"/Artifact BMC /OC /oc0 BDC "
             b"BT /F1 12 Tf 72 650 Td (h2) Tj ET EMC EMC "
             b"BT /F1 12 Tf 72 600 Td (kept) Tj ET")
        w = _parse_content(s, 792.0, 1, hidden_ocs=frozenset({"oc0"}))
        assert list(w["text"]) == ["kept"]


def _word_columns(words) -> dict:
    """Every column of a word frame, floats as raw bytes (NaN- and
    signed-zero-exact)."""
    from pdf_extractor_spark.operators.pdf_tokenizer import WORD_COLUMNS

    return {c: (words[c].tolist(), None if c == "text"
                else words[c].tobytes()) for c in WORD_COLUMNS}


class TestBlockRuns:
    """Runs of canonical ``BT /F n Tf x y Td (s) Tj ET`` blocks are
    shown by ``_BlockRuns`` inside the token loop. The oracle is the
    same ``_parse_content`` with the block pattern patched to match
    nothing, so that every block walks the per-token loop: the two
    must give the same frame, bit for bit, and the same flags."""

    BLOCKS = [
        b"BT /F1 12 Tf 72 700 Td (alpha beta gamma) Tj ET",
        b"BT /F1 12 Tf 150 700 Td (runs   of  spaces) Tj ET",
        b"BT /F1 12 Tf 300 700 Td ( leading and trailing ) Tj ET",
        b"BT /F2 12.0 Tf 400 700 Td <48656C6C6F20776F726C64> Tj ET",
        b"BT /F2 11 Tf 72 700 Td <65E5 672C 8A9E> Tj ET",
        b"BT /F1 9.5 Tf -3.25 680.75 Td (esc \\(paren\\) \\\\ \\101\\102"
        b" \\n tab\\t) Tj ET",
        b"BT /F1 9.5 Tf 200 680.75 Td (split\\\nword con\\\r\ntinued) Tj ET",
        b"BT /F1 10 Tf 72 -20.5 Td (below the page) Tj ET",
        b"BT /F1 -8 Tf 72 640 Td (negative size) Tj ET",
        b"BT /F1 -0 Tf -0 620 Td (zero size) Tj ET",
        b"BT /F1 -0 Tf 5 -0 Td (negative zero y) Tj ET",
        b"BT /F1 .5 Tf -.25 610. Td (reals without digits) Tj ET",
        b"BT /F1 12 Tf 72 600 Td () Tj ET",
        b"BT /F1 12 Tf 72 600 Td (   ) Tj ET",
        b"BT /F1 12 Tf 90 600 Td <> Tj ET",
    ]

    @staticmethod
    def _parse(stream: bytes, height: float = 792.0, **kw):
        from pdf_extractor_spark.operators.pdf_tokenizer import (
            _parse_content,
        )

        flags: dict = {}
        words = _parse_content(stream, height, 3, flags=flags, **kw)
        return _word_columns(words), flags

    def _assert_same(self, monkeypatch, stream: bytes,
                     height: float = 792.0, **kw) -> int:
        """Assert the run path matches the oracle on ``stream``; return
        how many runs of blocks it showed."""
        import re

        from pdf_extractor_spark.operators import pdf_tokenizer as pt

        shown = []
        emit = pt._BlockRuns.emit

        def counting_emit(self, *args):
            run = emit(self, *args)
            if run is not None:
                shown.append(run)
            return run

        with monkeypatch.context() as m:
            m.setattr(pt._BlockRuns, "emit", counting_emit)
            fast = self._parse(stream, height, **kw)
        with monkeypatch.context() as m:
            m.setattr(pt, "_BLOCK_RE", re.compile(rb"(?!)"))
            oracle = self._parse(stream, height, **kw)
        assert fast == oracle, stream
        return len(shown)

    def test_each_block_alone(self, monkeypatch):
        for block in self.BLOCKS:
            assert self._assert_same(monkeypatch, block) == 1, block

    def test_all_blocks_with_whitespace_separators(self, monkeypatch):
        seps = [b" ", b"\n", b"\r\n", b"\t \x0c", b"\x0b", b"  \n  "]
        stream = b"\n".join(self.BLOCKS)
        assert self._assert_same(monkeypatch, stream, 612.5) == 1
        mixed = b"".join(
            block + seps[i % len(seps)] for i, block in enumerate(self.BLOCKS)
        )
        assert self._assert_same(monkeypatch, b"  \r\n" + mixed) == 1

    def test_runs_on_one_line_and_line_changes(self, monkeypatch):
        # consecutive blocks sharing (size, y), then a size change on
        # the same y, then the same size on a new y
        stream = b" ".join([
            b"BT /F1 12 Tf 72 700 Td (one) Tj ET",
            b"BT /F1 12 Tf 100 700 Td (two) Tj ET",
            b"BT /F1 12 Tf 130 700 Td (three four) Tj ET",
            b"BT /F1 14 Tf 200 700 Td (bigger) Tj ET",
            b"BT /F1 12 Tf 72 680 Td (next line) Tj ET",
            b"BT /F1 12.0 Tf 140 680 Td (same size, other spelling) Tj ET",
        ])
        self._assert_same(monkeypatch, stream)
        cols, _ = self._parse(stream)
        assert cols["text"][0][:5] == ["one", "two", "three", "four",
                                       "bigger"]
        from pdf_extractor_spark.operators.pdf_tokenizer import (
            _parse_content,
        )

        tops = _parse_content(stream, 792.0, 1)["top"].tolist()
        assert tops[:5] == [82.4] * 4 + [80.8]

    def test_blocks_mixed_with_other_content(self, monkeypatch):
        a = b"BT /F1 12 Tf 72 700 Td (a) Tj ET"
        b = b"BT /F1 12 Tf 90 700 Td (b) Tj ET"
        for stream, runs in (
            (a + b" q " + b, 2),          # operator between blocks
            (a + b" " + b + b" Q", 1),    # after the last block
            (a + b"\x00" + b, 2),         # non-whitespace byte
            (b"0 g " + a, 1),             # before the first block
            (a + b" BT /F1 12 Tf 1 2 Td (c) Tj", 1),  # truncated block
            (a + b, 0),                   # "ETBT": one unknown operator
            (a + b"q " + b, 1),           # "ETq": one unknown operator
            (a + b"\n" + b + b"Q", 1),    # "ETQ" ends no block
            (b"", 0),
            (b"  \n ", 0),
            (b"q Q", 0),
        ):
            assert self._assert_same(monkeypatch, stream) == runs, stream

    def test_blocks_in_and_around_marked_content(self, monkeypatch):
        blk = b"BT /F1 12 Tf %d 700 Td (w%d) Tj ET\n"

        def blocks(*xs):
            return b"".join(blk % (x, x) for x in xs)

        for stream in (
            blocks(72, 90) + b"/Artifact <</Type /Pagination>> BDC "
            + blocks(200, 220) + b"EMC\n" + blocks(300),
            b"/Artifact BMC " + blocks(72) + b"EMC " + blocks(90, 110),
            blocks(72) + b"/OC /oc0 BDC " + blocks(90, 100) + b"EMC "
            + blocks(110),
            b"/OC /oc1 BDC " + blocks(72, 90) + b"EMC",  # visible layer
            b"/Span <</ActualText (first)>> BDC " + blocks(72, 90)
            + b"EMC\n" + blocks(120, 140),
            b"/P <</MCID 0>> BDC " + blocks(72, 90) + b"EMC",
            b"/Artifact BMC /Span <</ActualText (x)>> BDC " + blocks(72)
            + b"EMC EMC " + blocks(90),
        ):
            assert self._assert_same(
                monkeypatch, stream, hidden_ocs=frozenset({"oc0"})
            ) >= 1, stream

    def test_blocks_after_text_and_graphics_state(self, monkeypatch):
        blk = b"BT /F1 12 Tf 72 700 Td (two words) Tj ET "
        for state, reset in (
            (b"2 Tc ", b"0 Tc "),
            (b"-0 Tc ", b"0 Tc "),
            (b"1.5 Tw ", b"0 Tw "),
            (b"-0 Tw ", b"0 Tw "),
            (b"50 Tz ", b"100 Tz "),
            (b"3 Tr ", b"0 Tr "),
            (b"1 Tr ", b"0 Tr "),
            (b"1 0 0 1 30 -40 cm ", b"1 0 0 1 -30 40 cm "),
            (b"q 1 0 0 1 -0 0 cm ", b"Q "),
            (b"1 0 0 1 0 0 cm ", b""),
            (b"14 TL ", b""),
        ):
            self._assert_same(monkeypatch, blk + state + blk + reset + blk)
            self._assert_same(monkeypatch, b"q " + state + blk + b"Q " + blk)

    def test_blocks_inside_forms(self, monkeypatch):
        form = (b"BT /F1 10 Tf 10 20 Td (in form) Tj ET\n"
                b"BT /F1 10 Tf 60 20 Td (too) Tj ET")
        xobjects = {"Fm0": (form, None, None)}
        blk = b"BT /F1 12 Tf 72 700 Td (page) Tj ET\n"
        for stream in (
            blk + b"/Fm0 Do\n" + blk,
            b"q 1 0 0 1 100 200 cm /Fm0 Do Q " + blk,
            b"/Artifact BMC /Fm0 Do EMC " + blk,
            b"/Fm0 Do /Fm0 Do",
        ):
            assert self._assert_same(
                monkeypatch, stream, xobjects=xobjects
            ) >= 1, stream

    def test_token_soup_fuzz(self, monkeypatch):
        import random

        rng = random.Random(1212)
        nums = [b"0", b"-0", b"12", b"9.5", b"-3.25", b".5", b"-.5", b"4.",
                b"700", b"680.75"]
        strs = [b"(a b)", b"(word)", b"()", b"( x )", b"(e\\)s\\\\c)",
                b"(l\\\ni)", b"<48 69>", b"<>", b"(n(es)t)"]

        def block():
            return b"BT /F%d %s Tf %s %s Td %s Tj ET" % (
                rng.randint(1, 2), rng.choice(nums), rng.choice(nums),
                rng.choice(nums), rng.choice(strs),
            )

        other = [
            b"q", b"Q", b"1 0 0 1 5 -3 cm", b"1 0 0 1 0 0 cm", b"2 Tc",
            b"0 Tc", b"-0 Tc", b"1 Tw", b"0 Tw", b"50 Tz", b"100 Tz",
            b"3 Tr", b"0 Tr", b"/Artifact BMC", b"EMC", b"/OC /oc0 BDC",
            b"/Span <</ActualText (x)>> BDC", b"BT", b"ET", b"(s t) Tj",
            b"[(a) -20 (b)] TJ", b"5 TL", b"T*", b"0 g", b"10 20 Td",
            b"/F1 8 Tf", b"/Fm0 Do", b"(q) '", b"[", b"]",
        ]
        form = b"BT /F1 10 Tf 10 20 Td (f) Tj ET 2 Tc " + block()
        xobjects = {"Fm0": (form, None, None)}
        runs = 0
        for _ in range(400):
            toks = [block() if rng.random() < 0.5 else rng.choice(other)
                    for _ in range(rng.randint(1, 14))]
            seps = [rng.choice([b" ", b"\n", b"", b"  \r\n"])
                    for _ in toks]
            stream = b"".join(t + s for t, s in zip(toks, seps))
            runs += self._assert_same(
                monkeypatch, stream, hidden_ocs=frozenset({"oc0"}),
                xobjects=xobjects,
            )
        assert runs > 400

    def test_alternating_blocks_scan_in_linear_time(self):
        import time

        from pdf_extractor_spark.operators.pdf_tokenizer import (
            _parse_content,
        )

        blk = b"BT /F1 12 Tf 72 700 Td (x) Tj ET"
        for other in (b" q ", b"0 g "):
            stream = (blk + other) * 20_000
            t0 = time.perf_counter()
            words = _parse_content(stream, 792.0, 1)
            assert time.perf_counter() - t0 < 1.0, other
            assert len(words) == 20_000


class TestRealsWithoutLeadingDigit:
    """§7.3.3 reals may omit the digits before the point: ``.5`` is
    0.5 and ``-.5`` is -0.5, in a canonical block and in the general
    loop alike."""

    @staticmethod
    def _words(stream: bytes):
        from pdf_extractor_spark.operators.pdf_tokenizer import (
            _parse_content,
        )

        return _parse_content(stream, 792.0, 1)

    def test_td(self):
        for head in (b"", b"2 Tc "):  # block path, then general loop
            w = self._words(head + b"BT /F1 10 Tf .5 700 Td (a) Tj ET")
            assert w["x0"].tolist() == [0.5]
            w = self._words(head + b"BT /F1 10 Tf -.5 -.25 Td (a) Tj ET")
            assert w["x0"].tolist() == [-0.5]
            assert w["top"].tolist() == [792.25 - 8.0]

    def test_tc(self):
        w = self._words(b"BT /F1 10 Tf .5 Tc 72 700 Td (ab) Tj ET")
        assert w["x1"].tolist() == [72 + 10.0 + 1.0]
        w = self._words(b"BT /F1 10 Tf -.5 Tc 72 700 Td (ab) Tj ET")
        assert w["x1"].tolist() == [72 + 10.0 - 1.0]

    def test_tj_kerning(self):
        w = self._words(b"BT /F1 10 Tf 0 700 Td [(a) -.5 (b)] TJ ET")
        assert w["x0"].tolist() == [0.0, 5.005]
        w = self._words(b"BT /F1 10 Tf 0 700 Td [(a) .5 (b)] TJ ET")
        assert w["x0"].tolist() == [0.0, 4.995]


class TestMalformedOperand:
    """An operator whose operand is not a number is skipped on its
    own: the page keeps every other word, exactly as if the operator
    were absent, and the page records how many were skipped."""

    CONTEXT = (b"BT /F1 10 Tf 2 Tc 1 Tw 50 Tz 7 TL 10 20 Td (a b) Tj "
               b"%s (c d) Tj T* (e) Tj ET "
               b"BT /F1 10 Tf 10 60 Td (f) Tj ET")
    # operator: (malformed, well-formed) — the well-formed one changes
    # the frame, so a skipped operator is told apart from an applied one
    CASES = {
        "Tf": (b"/F1 /X Tf", b"/F1 20 Tf"),
        "Td": (b"5 /X Td", b"5 7 Td"),
        "TD": (b"/X 5 TD", b"5 -7 TD"),
        "TL": (b"/X TL", b"9 TL"),
        "Tc": (b"/X Tc", b"3 Tc"),
        "Tw": (b"/X Tw", b"4 Tw"),
        "Tz": (b"/X Tz", b"80 Tz"),
        "cm": (b"1 0 0 1 /X 50 cm", b"1 0 0 1 10 50 cm"),
        "Tm": (b"1 0 0 1 /X 20 Tm", b"1 0 0 1 30 20 Tm"),
        '"': (b"/X 3 (quoted) \"", b"2 3 (quoted) \""),
        "TJ": (b"[(shown) 10 (then) /X (kern)] TJ",
               b"[(shown) 10 (then) 20 (kern)] TJ"),
    }

    def test_each_operator_is_skipped_alone(self):
        from pdf_extractor_spark.operators.pdf_tokenizer import (
            _parse_content,
        )

        def columns(fragment: bytes, flags: dict | None = None) -> dict:
            return _word_columns(_parse_content(
                self.CONTEXT % fragment, 792.0, 1, flags=flags
            ))

        without = columns(b"")
        for op, (bad, good) in self.CASES.items():
            assert columns(good) != without, op
            flags: dict = {}
            assert columns(bad, flags) == without, op
            assert flags == {"skipped_operators": 1}, op

    def test_huge_tr_operand_reads_as_mode_0(self):
        from pdf_extractor_spark.operators.pdf_tokenizer import (
            _parse_content,
        )

        # 400 digits parse to inf, which int() cannot take
        stream = b"BT /F1 10 Tf %s Tr 10 20 Td (a) Tj ET" % (b"9" * 400)
        flags: dict = {}
        words = _parse_content(stream, 792.0, 1, flags=flags)
        assert words["text"].tolist() == ["a"]
        assert flags == {}

    def test_bad_size_keeps_the_page(self):
        p = PageSpec()
        p.put_words(72, 100, 12, ["one", "two", "three", "four"])
        payload = build_pdf([p])
        assert payload.count(b"/F1 12 Tf") == 4
        payload = payload.replace(b"/F1 12 Tf", b"/F1 /X Tf", 1)
        doc = parse_pdf(payload)
        assert doc.pages[0].words["text"].tolist() == [
            "one", "two", "three", "four"]
        assert [e for e in doc.errors if e["type"] == "corruption"] == [
            {"type": "corruption", "severity": "warning", "page": 1,
             "message": "1 content operators skipped: malformed operand"}
        ]


def _scan_nested_literal_oracle(stream: bytes, start: int) -> int:
    """The former per-``(`` walk, kept as the oracle: it walks to the
    end of the stream for every unbalanced ``(``."""
    depth = 0
    i, n = start, len(stream)
    first_close = -1
    while i < n:
        c = stream[i]
        if c == 0x5C:  # backslash: the next byte is never a delimiter
            i += 2
            continue
        if c == 0x28:
            depth += 1
        elif c == 0x29:
            if first_close < 0:
                first_close = i
            depth -= 1
            if depth == 0:
                return i + 1
        i += 1
    ends = [e + 1 for e in (first_close, stream.find(b"\n", start))
            if e >= 0]
    return min(ends) if ends else n


class TestNestedLiteralEnds:
    """``_LiteralEnds.end`` gives the end offset the per-``(`` walk
    gave, for every ``(`` of a stream, in linear time per stream."""

    def test_matches_walk_on_paren_soup(self):
        import random

        from pdf_extractor_spark.operators.pdf_tokenizer import _LiteralEnds

        rng = random.Random(20)
        alphabet = [b"(", b")", b"\\", b"\n", b"x"]
        checked = 0
        for _ in range(600):
            weights = [rng.random() for _ in alphabet]
            stream = b"".join(rng.choices(
                alphabet, weights, k=rng.randint(1, 60)
            ))
            ends = _LiteralEnds(stream)
            for start in range(len(stream)):
                if stream[start] == 0x28:
                    assert ends.end(start) == _scan_nested_literal_oracle(
                        stream, start
                    ), (stream, start)
                    checked += 1
        assert checked > 3000

    def test_many_unbalanced_lines_scan_in_linear_time(self):
        import time

        from pdf_extractor_spark.operators.pdf_tokenizer import (
            _scan_stream,
            _WordSink,
        )

        stream = b"BT /F1 12 Tf 72 700 Td\n" + b"(x\n" * 8000 + b"ET"
        rows = _WordSink()
        t0 = time.perf_counter()
        _scan_stream(stream, 792.0, None, None, rows, 0)
        assert time.perf_counter() - t0 < 1.0
