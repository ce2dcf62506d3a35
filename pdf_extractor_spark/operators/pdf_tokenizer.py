"""PDF byte-stream tokenizer: bytes → per-page word-box frames.

From-scratch replacement for the reference's pdfplumber dependency
(S2/P1 in SURVEY.md §2.1-2.2; reference call sites
``extractor.py:101,164-169``): xref/trailer parse → object resolution →
standard-security decryption (RC4-40/128 + AES-128, empty user
password — :mod:`.pdf_crypt`) → page-tree walk (attribute
inheritance, /Contents arrays, /Prev-chained incremental updates) →
content-stream token scan (``BT/ET Tf Td TD Tm TL T* Tc Tw Tz Tj TJ
' "``, ``q/Q/cm`` CTM translation, ``Do`` form-XObject recursion,
``BI..EI`` inline-image skip) → glyph-to-Unicode decode
(``/ToUnicode`` bfchar/bfrange CMaps when a font carries one, else
``/Encoding /Differences`` via the AGL subset, else literal≈WinAnsi,
hex=UTF-16BE/Identity-H) → word boxes with coordinates + font size.
Truncated files degrade to their decodable prefix with warnings.

Coordinates follow the reader convention the reference's word boxes use
(pdfplumber-style): ``top``/``bottom`` measured from the page TOP edge,
``top = H - baseline - 0.8*size``, ``bottom = H - baseline + 0.2*size``
with the deterministic width model in :mod:`.charclass`.

Word splitting: each shown string is split on ASCII spaces; each word
advances x by its glyph widths (a space advances 0.5 em). One shown
string thus yields ≥1 word boxes — the doc→words flatMap stays inside
the Arrow batch (SURVEY.md §2.2 P1).

Robustness: a malformed xref falls back to a full-file object scan;
per-page failures are recorded in the errors list, never raised
(mirrors the reference's recovery cascade ``error_handler.py:418-479``).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from functools import lru_cache

import numpy as np

from .charclass import is_wide_char
from .words import WORD_COLUMNS, Words, empty_words  # noqa: F401

_OBJ_RE = re.compile(rb"(\d+)\s+\d+\s+obj\b")
_ASCENT = 0.8
_DESCENT = 0.2


@dataclass
class PdfPage:
    page_number: int          # 1-based
    width: float
    height: float
    rotation: int
    words: Words              # WORD_COLUMNS (columnar struct)
    # URI targets of /Link annotations (document outlinks) — the
    # PDF branch's counterpart of the HTML anchor harvest
    links: list[str] = field(default_factory=list)


@dataclass
class PdfDoc:
    pages: list[PdfPage] = field(default_factory=list)
    errors: list[dict] = field(default_factory=list)
    # document-information dictionary (ISO 32000 §14.3.3): decoded
    # /Info text strings, e.g. {"Title": .., "Author": ..}
    info: dict[str, str] = field(default_factory=dict)
    # document outline (§12.3.3) flattened depth-first:
    # (depth, title) with depth 0 = top level
    outline: list[tuple[int, str]] = field(default_factory=list)
    # AcroForm field values (§12.7): (fully qualified name, value)
    form_fields: list[tuple[str, str]] = field(default_factory=list)
    # embedded files (§7.11): (filename, decoded payload bytes)
    attachments: list[tuple[str, bytes]] = field(default_factory=list)
    # XMP metadata (§14.3.2): {"title": .., "creator": ..,
    # "create_date": ..} — the modern channel beside legacy /Info
    xmp: dict[str, str] = field(default_factory=dict)
    # markup-annotation text (§12.5.6): (page, subtype, contents,
    # author) — review comments / sticky notes / highlight remarks
    annotations: list[tuple[int, str, str, str]] = \
        field(default_factory=list)
    # image XObjects (§8.9.5): (page, name, width, height,
    # colorspace, bits-per-component, filter, n_draws, payload) —
    # payload is the DECODED sample data for Flate images and the
    # raw (decrypted) JPEG byte stream for /DCTDecode, ready for
    # the jpeg_codec decoder. Draw counts come from a light
    # ``/Name Do`` scan of the page content stream (top level;
    # form-nested draws are out of scope by design).
    images: list[tuple] = field(default_factory=list)


# ----------------------------------------------------------------- xref

def _parse_xref_offsets(
    data: bytes,
) -> tuple[dict[int, int], dict[int, tuple[int, int]]]:
    """Parse the classic xref table(s) named by startxref; return
    (obj_id → byte offset, obj_id → (ObjStm id, index)). Follows the
    trailer ``/Prev`` chain (incremental updates, ISO 32000 §7.5.6 —
    every desktop "Save" appends one): the NEWEST section is visited
    first and wins, and a free ("f") entry in a newer section
    tombstones the id so an older revision cannot resurrect a deleted
    object.  HYBRID-REFERENCE files (§7.5.8.4, the layout Acrobat
    emits for 1.5-compatibility) carry ``/XRefStm`` in the trailer: a
    cross-reference STREAM holding the entries (typically ObjStm
    members) the classic table lists as free so old readers degrade
    gracefully — the stream is read BEFORE its section's table, which
    is exactly why those free entries must not tombstone the ids the
    stream just claimed.  Raises on any structural surprise (caller
    falls back to a scan)."""
    tail = data[-256:]
    # LAST startxref in the tail: a small final incremental update can
    # leave TWO startxref/%%EOF pairs within 256 bytes, and taking the
    # first would silently resolve the previous revision
    ms = list(re.finditer(rb"startxref\s+(\d+)\s+%%EOF", tail))
    if not ms:
        raise ValueError("no startxref")
    pos: int | None = int(ms[-1].group(1))
    offsets: dict[int, int] = {}
    in_objstm: dict[int, tuple[int, int]] = {}
    dead: set[int] = set()
    seen_sections: set[int] = set()
    while pos is not None and pos not in seen_sections:
        seen_sections.add(pos)
        if not data[pos : pos + 4] == b"xref":
            raise ValueError("startxref does not point at xref")
        cursor = pos + 4
        # collect this section's table entries; they apply AFTER the
        # section's /XRefStm stream (if any), per §7.5.8.4
        section: list[tuple[int, int | None]] = []  # (oid, off|free)
        while True:
            m = re.match(
                rb"\s*(\d+)\s+(\d+)\s*\n", data[cursor : cursor + 64]
            )
            if not m:
                break
            start, count = int(m.group(1)), int(m.group(2))
            cursor += m.end()
            for i in range(count):
                entry = data[cursor : cursor + 20]
                off, _gen, kind = entry[:10], entry[11:16], entry[17:18]
                section.append(
                    (start + i, int(off) if kind == b"n" else None)
                )
                cursor += 20
        pos = None
        tm = re.search(rb"trailer", data[cursor : cursor + 64])
        if tm:
            tdict = data[cursor + tm.end() : cursor + tm.end() + 512]
            xm = re.search(rb"/XRefStm\s+(\d+)", tdict)
            if xm:
                for oid, etype, f2, f3 in _read_xref_stream_section(
                    data, int(xm.group(1))
                )[0]:
                    if oid in offsets or oid in in_objstm or \
                            oid in dead:
                        continue
                    if etype == 1:
                        offsets[oid] = f2
                    elif etype == 2:
                        in_objstm[oid] = (f2, f3)
            pm = re.search(rb"/Prev\s+(\d+)", tdict)
            if pm:
                pos = int(pm.group(1))
        for oid, off in section:
            if oid in offsets or oid in in_objstm or oid in dead:
                continue
            if off is not None:
                offsets[oid] = off
            elif oid != 0:
                dead.add(oid)
    if not offsets:
        raise ValueError("empty xref")
    return offsets, in_objstm


def _scan_objects(data: bytes) -> dict[int, int]:
    """Fallback: locate every ``N g obj`` in the file by scanning."""
    return {int(m.group(1)): m.start() for m in _OBJ_RE.finditer(data)}


def _parse_xref_stream_chain(
    data: bytes,
) -> tuple[dict[int, int], dict[int, tuple[int, int]]]:
    """Cross-reference STREAMS (PDF 1.5+, ``/Type /XRef`` — ISO 32000
    §7.5.8): startxref points at a stream object whose decoded payload
    holds binary entries of widths ``/W [w1 w2 w3]`` over the ranges
    in ``/Index``. Follows the ``/Prev`` chain (incremental updates;
    first-seen entry wins, since the newest section is visited first).

    Returns (direct offsets, {obj_id: (container ObjStm id, index)})
    for type-1 and type-2 entries respectively."""
    tail = data[-256:]
    ms = list(re.finditer(rb"startxref\s+(\d+)\s+%%EOF", tail))
    if not ms:
        raise ValueError("no startxref")
    pos: int | None = int(ms[-1].group(1))
    offsets: dict[int, int] = {}
    in_objstm: dict[int, tuple[int, int]] = {}
    seen: set[int] = set()
    while pos is not None and pos not in seen:
        seen.add(pos)
        entries, pos = _read_xref_stream_section(data, pos)
        for oid, etype, f2, f3 in entries:
            if oid in offsets or oid in in_objstm:
                continue
            if etype == 1:
                offsets[oid] = f2
            elif etype == 2:
                in_objstm[oid] = (f2, f3)
            # type 0 = free: skip
    if not offsets and not in_objstm:
        raise ValueError("empty xref stream")
    return offsets, in_objstm


def _read_xref_stream_section(
    data: bytes, pos: int
) -> tuple[list[tuple[int, int, int, int]], int | None]:
    """Decode ONE cross-reference stream object at ``pos`` into
    ``([(oid, type, field2, field3)], /Prev)`` — shared by the
    xref-stream chain walk and the hybrid-file ``/XRefStm`` merge."""
    body = _object_body(data, pos)
    if b"/XRef" not in body:
        raise ValueError("startxref does not point at an xref stream")
    ws = [int(x) for x in (_dict_numarray(body, b"W") or [])]
    if len(ws) != 3:
        raise ValueError("bad /W")
    size = _dict_int(body, b"Size") or 0
    idx = _dict_numarray(body, b"Index")
    index = [int(x) for x in idx] if idx else [0, size]
    raw = _stream_bytes(body)
    entry_len = sum(ws)
    cursor = 0
    entries: list[tuple[int, int, int, int]] = []
    for k in range(0, len(index) - 1, 2):
        start, count = index[k], index[k + 1]
        for n in range(count):
            if cursor + entry_len > len(raw):
                raise ValueError("xref stream truncated")
            fields: list[int] = []
            for wlen in ws:
                if wlen == 0:
                    # omitted field: type defaults to 1, others to 0
                    fields.append(1 if not fields else 0)
                else:
                    fields.append(
                        int.from_bytes(
                            raw[cursor : cursor + wlen], "big"
                        )
                    )
                    cursor += wlen
            entries.append((start + n, fields[0], fields[1], fields[2]))
    return entries, _dict_int(body, b"Prev")


def _objstm_members(body: bytes, transform=None) -> dict[int, bytes]:
    """Extract the member objects of an OBJECT STREAM (``/Type
    /ObjStm`` — ISO 32000 §7.5.7): the decoded payload starts with
    ``/N`` (obj-id, offset) integer pairs; offsets are relative to
    ``/First``. Members are bare object bodies (no ``N 0 obj``
    header). ``transform`` decrypts the raw stream payload (members
    themselves are never individually encrypted — §7.6.1)."""
    n = _dict_int(body, b"N")
    first = _dict_int(body, b"First")
    if n is None or first is None:
        raise ValueError("ObjStm missing /N or /First")
    payload = _stream_bytes(body, transform)
    header = payload[:first].split()
    pairs = [
        (int(header[2 * i]), int(header[2 * i + 1])) for i in range(n)
    ]
    members: dict[int, bytes] = {}
    body_len = len(payload) - first
    for i, (oid, off) in enumerate(pairs):
        end = pairs[i + 1][1] if i + 1 < n else body_len
        members[oid] = payload[first + off : first + end]
    return members


def _object_body(data: bytes, offset: int) -> bytes:
    m = _OBJ_RE.match(data, offset)
    if not m:
        # offset may point slightly before the header (whitespace)
        m = _OBJ_RE.search(data, offset, offset + 64)
        if not m:
            raise ValueError(f"no obj header at {offset}")
    end = data.find(b"endobj", m.end())
    if end < 0:
        raise ValueError("unterminated object")
    return data[m.end() : end]


# ------------------------------------------------------- dict helpers

def _dict_int(body: bytes, key: bytes) -> int | None:
    m = re.search(rb"/" + key + rb"\s+(-?\d+)", body)
    return int(m.group(1)) if m else None


def _dict_ref(body: bytes, key: bytes) -> int | None:
    m = re.search(rb"/" + key + rb"\s+(\d+)\s+\d+\s+R", body)
    return int(m.group(1)) if m else None


def _dict_numarray(body: bytes, key: bytes) -> list[float] | None:
    m = re.search(rb"/" + key + rb"\s*\[([^\]]*)\]", body)
    if not m:
        return None
    return [float(x) for x in m.group(1).split()]


def _dict_refarray(body: bytes, key: bytes) -> list[int]:
    m = re.search(rb"/" + key + rb"\s*\[([^\]]*)\]", body)
    if not m:
        return []
    return [int(r) for r in re.findall(rb"(\d+)\s+\d+\s+R", m.group(1))]


# (?!\d) stops backtracking from matching a digit PREFIX of an
# indirect ref ("/Length 27 0 R" must not match "2"); the second
# lookahead then rejects the full indirect-ref form.
_LENGTH_RE = re.compile(rb"/Length\s+(\d+)(?!\d)(?!\s+\d+\s+R)")

# decode filters supported by the pipeline; anything else (DCTDecode,
# JBIG2, CCITT — raster codecs) raises, which page-level recovery
# records as a corruption error (U3)
_SUPPORTED_FILTERS = {
    b"FlateDecode", b"ASCIIHexDecode", b"ASCII85Decode",
    b"LZWDecode", b"RunLengthDecode", b"Crypt",
}

_CRYPT_NAME_RE = re.compile(rb"/Name\s*/([A-Za-z0-9]+)")


def _crypt_filter_identity(head: bytes) -> bool:
    """True when the stream carries an explicit ``/Crypt`` filter
    naming the ``/Identity`` crypt filter (ISO 32000 §7.4.10) — the
    way real writers keep individual streams (typically the XMP
    packet) readable inside an otherwise-encrypted document. /Name
    defaults to /Identity when absent."""
    if not any(n == b"Crypt" for n, _ in _parse_filter_chain(head)):
        return False
    pm = _PARMS_VALUE_RE.search(head)
    if not pm:
        return True
    nm = _CRYPT_NAME_RE.search(pm.group(1))
    return nm is None or nm.group(1) == b"Identity"

_FILTER_VALUE_RE = re.compile(
    rb"/Filter\s*(/[A-Za-z0-9]+|\[[^\]]*\])"
)
_PARMS_VALUE_RE = re.compile(
    rb"/DecodeParms\s*(<<[^>]*(?:>(?!>)[^>]*)*>>|\[.*?\]|null)", re.DOTALL
)


def _parse_filter_chain(
    head: bytes,
) -> list[tuple[bytes, dict[bytes, int]]]:
    """``/Filter`` + ``/DecodeParms`` → ordered [(name, parms)] pairs.
    Parms dicts are reduced to the integer keys the predictors need."""
    m = _FILTER_VALUE_RE.search(head)
    if not m:
        return []
    names = re.findall(rb"/([A-Za-z0-9]+)", m.group(1))
    parms: list[dict[bytes, int]] = [{} for _ in names]
    pm = _PARMS_VALUE_RE.search(head)
    if pm:
        v = pm.group(1)
        dicts = re.findall(rb"<<(.*?)>>|(null)", v, re.DOTALL)
        vals = [d[0] for d in dicts] if dicts else []
        if v.startswith(b"<<"):
            vals = [v[2:-2]]
        for i, dv in enumerate(vals[: len(names)]):
            if not dv:
                continue
            for key in (b"Predictor", b"Columns", b"Colors",
                        b"BitsPerComponent", b"EarlyChange"):
                km = re.search(rb"/" + key + rb"\s+(\d+)", dv)
                if km:
                    parms[i][key] = int(km.group(1))
    return list(zip(names, parms))


def _apply_predictor(data: bytes, parms: dict[bytes, int]) -> bytes:
    """Undo TIFF (2) / PNG (10-15) predictors after inflation
    (ISO 32000 §7.4.4.4). 8-bit components only — the case that
    occurs in xref streams and text-PDF content."""
    pred = parms.get(b"Predictor", 1)
    if pred <= 1:
        return data
    columns = parms.get(b"Columns", 1)
    colors = parms.get(b"Colors", 1)
    bpc = parms.get(b"BitsPerComponent", 8)
    if bpc != 8:
        raise ValueError(f"unsupported predictor bpc {bpc}")
    bpp = colors
    rowlen = columns * colors
    if pred == 2:  # TIFF horizontal differencing
        out = bytearray(data)
        for r in range(0, len(out) - rowlen + 1, rowlen):
            for i in range(bpp, rowlen):
                out[r + i] = (out[r + i] + out[r + i - bpp]) & 0xFF
        return bytes(out)
    # PNG predictors: per-row filter-type byte
    stride = rowlen + 1
    out = bytearray()
    prev = bytearray(rowlen)
    for r in range(0, len(data), stride):
        ft = data[r]
        row = bytearray(data[r + 1 : r + 1 + rowlen])
        if ft == 1:    # Sub
            for i in range(bpp, rowlen):
                row[i] = (row[i] + row[i - bpp]) & 0xFF
        elif ft == 2:  # Up
            for i in range(rowlen):
                row[i] = (row[i] + prev[i]) & 0xFF
        elif ft == 3:  # Average
            for i in range(rowlen):
                left = row[i - bpp] if i >= bpp else 0
                row[i] = (row[i] + (left + prev[i]) // 2) & 0xFF
        elif ft == 4:  # Paeth
            for i in range(rowlen):
                a = row[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (
                    b if pb <= pc else c
                )
                row[i] = (row[i] + pr) & 0xFF
        elif ft != 0:
            raise ValueError(f"unknown PNG filter type {ft}")
        out += row
        prev = row
    return bytes(out)


def _lzw_decode(data: bytes, early_change: int = 1) -> bytes:
    """LZWDecode (ISO 32000 §7.4.4): variable-width 9→12-bit codes
    packed MSB-first; 256 = clear-table, 257 = EOD. ``early_change``
    (default 1 per spec) bumps the code width one code early — the
    TIFF convention virtually every writer uses. The code width grows
    when the NEXT code to be assigned reaches ``2^width −
    early_change`` (mirrored by the generator's encoder, so roundtrips
    cross the 9→10→11-bit boundaries in tests). Old crawled PDFs
    (pre-Flate tooling) use LZW routinely."""
    initial: list[bytes | None] = [bytes([i]) for i in range(256)]
    initial += [None, None]  # 256 clear / 257 EOD
    table = list(initial)
    width = 9
    out = bytearray()
    prev: bytes | None = None
    acc = nbits = 0
    pos = 0
    n = len(data)
    while True:
        while nbits < width:
            if pos >= n:
                return bytes(out)  # missing EOD: accept what decoded
            acc = (acc << 8) | data[pos]
            pos += 1
            nbits += 8
        nbits -= width
        code = (acc >> nbits) & ((1 << width) - 1)
        if code == 257:
            return bytes(out)
        if code == 256:
            table = list(initial)
            width = 9
            prev = None
            continue
        if prev is None:
            if code >= 256:
                raise ValueError(f"LZW: invalid first code {code}")
            entry = table[code]
        elif code < len(table) and table[code] is not None:
            entry = table[code]
        elif code == len(table):  # KwKwK: code not yet in the table
            entry = prev + prev[:1]
        else:
            raise ValueError(f"LZW: code {code} out of range")
        out += entry  # type: ignore[arg-type]
        if prev is not None:
            table.append(prev + entry[:1])  # type: ignore[index]
            if len(table) >= (1 << width) - early_change and width < 12:
                width += 1
        prev = entry
    return bytes(out)


def _rle_decode(data: bytes) -> bytes:
    """RunLengthDecode (ISO 32000 §7.4.5): length byte L — L ≤ 127
    copies the next L+1 bytes literally; L ≥ 129 repeats the next
    byte 257−L times; 128 is EOD."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        ln = data[i]
        i += 1
        if ln == 128:
            break
        if ln <= 127:
            out += data[i : i + ln + 1]
            i += ln + 1
        else:
            if i < n:
                out += bytes([data[i]]) * (257 - ln)
            i += 1
    return bytes(out)


def _stream_bytes(
    body: bytes, transform=None, warn: list[str] | None = None
) -> bytes:
    """Extract (and decode) a stream.

    ``warn`` (when given) collects non-fatal salvage notes — currently
    truncated-Flate partial recovery — instead of failing the page;
    callers that pass None keep strict semantics (xref/ObjStm/CMap
    streams, where partial data would corrupt structure silently).

    When the stream dict carries a direct ``/Length``, slice exactly
    that many bytes — binary (Flate) data may legitimately end in 0x0A,
    so the trailing-newline heuristic is only used as the fallback for
    length-less dicts. ``transform`` (per-object decryption, ISO 32000
    §7.6.2) applies to the raw slice BEFORE filters — encryption wraps
    the encoded bytes. The decode pipeline applies ``/Filter`` chains
    (Flate / ASCIIHex / ASCII85 / LZW / RunLength) with per-filter
    ``/DecodeParms`` TIFF/PNG predictors and LZW ``/EarlyChange``;
    raster codecs raise (→ U3 corruption error).
    """
    i = body.find(b"stream")
    if i < 0:
        return b""
    head = body[:i]
    j = i + len(b"stream")
    if body[j : j + 2] == b"\r\n":
        j += 2
    elif body[j : j + 1] == b"\n":
        j += 1
    m = _LENGTH_RE.search(head)
    if m:
        out = body[j : j + int(m.group(1))]
    else:
        k = body.rfind(b"endstream")
        end = k if k >= 0 else len(body)
        out = body[j:end]
        # the generator writes ...stream\n<data>\nendstream — but the
        # heuristic may only touch PLAINTEXT: ciphertext bytes are
        # uniform, so a legitimate trailing 0x0A of an encrypted
        # length-less stream must reach the decryptor intact
        if transform is None and out.endswith(b"\n"):
            out = out[:-1]
    if transform is not None and _crypt_filter_identity(head):
        # explicit /Crypt /Identity: this stream is stored in the
        # clear inside an encrypted document — decrypting it would
        # produce garbage (§7.4.10)
        transform = None
    if transform is not None:
        out = transform(out)
    for name, parms in _parse_filter_chain(head):
        if name not in _SUPPORTED_FILTERS:
            raise ValueError(f"unsupported stream filter {name!r}")
        if name == b"Crypt":
            # decryption (or its Identity skip) already happened via
            # ``transform`` above — the chain entry itself is a no-op
            continue
        if name == b"FlateDecode":
            import zlib

            try:
                out = zlib.decompress(out)
            except zlib.error:
                # crawl truncation: decode the prefix that IS there
                # (decompressobj consumes up to the cut), surface a
                # warning via `warn`, and only fail when nothing at
                # all decodes (genuinely corrupt data)
                d = zlib.decompressobj()
                try:
                    partial = d.decompress(out)
                except zlib.error:
                    raise ValueError("flate data unreadable") from None
                if not partial:
                    raise ValueError("flate data unreadable") from None
                out = partial
                if warn is not None:
                    warn.append(
                        "truncated flate stream: "
                        f"{len(partial)} bytes salvaged"
                    )
        elif name == b"ASCIIHexDecode":
            hexpart = out.split(b">")[0]
            hexpart = re.sub(rb"\s+", b"", hexpart)
            if len(hexpart) % 2:
                hexpart += b"0"
            out = bytes.fromhex(hexpart.decode("ascii"))
        elif name == b"ASCII85Decode":
            import base64

            payload = out.split(b"~>")[0]
            out = base64.a85decode(
                payload, foldspaces=True,
                ignorechars=b" \t\n\r\x0b\x0c",
            )
        elif name == b"LZWDecode":
            out = _lzw_decode(out, parms.get(b"EarlyChange", 1))
        elif name == b"RunLengthDecode":
            out = _rle_decode(out)
        out = _apply_predictor(out, parms)
    return out


# ------------------------------------------------- content stream scan

# Group index IS the token class (m.lastindex) — classification falls
# out of the match instead of costing a fullmatch + prefix probes per
# token in the hot loop.
#
# Alternative 7 matches a bare ``(`` only where alternative 1 failed
# there (alternatives are tried in order, and 2-6 never start with
# ``(``): a literal the flat grammar cannot close — nested balanced
# parens, or an unbalanced one. No alternative matches between the
# scan position and that ``(``, so the search stops at the first
# ``(`` before the next flat token — the one
# ``stream.find(b"(", pos, m.start())`` would return — and
# ``_LiteralEnds`` finds where that literal ends. A ``(`` after the
# last flat token is scanned and pushed as an operand too, but no
# operator follows to use it, so the words are the same.
#
# Numbers follow §7.3.3: a real may omit the digits before or after
# its point (``.5``, ``-.002``, ``4.``).
_NUM = rb"-?(?:\.\d+|\d+(?:\.\d*)?)"
_LITERAL = rb"\([^()\\]*(?:\\.[^()\\]*)*\)"  # (?:[^()\\]|\\.)*, unrolled
_HEX = rb"<[0-9A-Fa-f\s]*>"
_TOKEN_RE = re.compile(
    rb"(" + _LITERAL + rb")"      # 1: literal string (non-nested)
    rb"|(" + _HEX + rb")"         # 2: hex string
    rb"|(/[A-Za-z0-9_.]+)"       # 3: name
    rb"|([\[\]])"                # 4: array delims
    rb"|(" + _NUM + rb")"         # 5: number
    rb"|([A-Za-z'\"*]+)"         # 6: operator
    rb"|(\()"                    # 7: '(' that 1 cannot close
    , re.DOTALL,  # \\. must span \<EOL> line continuations (§7.3.4.2)
)


class _LiteralEnds:
    """End offsets of the literal strings opening at the ``(`` bytes of
    one content stream — the literals the token regex above cannot
    span, because they nest BALANCED unescaped parentheses (legal
    without escapes per §7.3.4.2 and emitted by real writers).

    ``end(start)`` is the end index (exclusive) of the literal opening
    at ``start``: just past the ``)`` that brings the nesting depth
    back to zero. An UNBALANCED ``(`` (malformed writer) must not
    swallow the rest of the page: salvage by ending at the first
    unescaped ``)`` after it (flat-string semantics) or at the end of
    the physical line, whichever comes first — the damage stays local
    and every later show operator still emits.

    A backslash escapes the byte after it, so a byte is escaped exactly
    when the run of backslashes before it has odd length; a walk from
    any ``(`` sees the same escapes as a walk from the stream's start
    from the next byte on. So one vectorised pass finds the unescaped
    parentheses and the running depth after each, and a literal closes
    at the first later one where the depth drops below its value at
    ``start``. Each ``end`` is a few binary searches, so a stream of
    many unbalanced ``(`` costs linear time, not a walk to the end of
    the stream per ``(``."""

    def __init__(self, stream: bytes) -> None:
        b = np.frombuffer(stream, dtype=np.uint8)
        self._n = len(b)
        par = np.flatnonzero((b == 0x28) | (b == 0x29))
        bs = np.flatnonzero(b == 0x5C)
        if len(bs):
            run_no = np.arange(len(bs))
            new_run = np.ones(len(bs), dtype=bool)
            new_run[1:] = np.diff(bs) != 1
            run_len = run_no - np.maximum.accumulate(
                np.where(new_run, run_no, 0)
            ) + 1  # length of the backslash run ending at bs[i]
            k = np.minimum(np.searchsorted(bs, par - 1), len(bs) - 1)
            escaped = (bs[k] == par - 1) & (run_len[k] % 2 == 1)
            par = par[~escaped]
        opens = b[par] == 0x28
        self._par = par
        self._depth = np.cumsum(np.where(opens, 1, -1))
        # (depth, paren number) pairs as one sorted key, so "the first
        # paren at or after number j at depth d" is one binary search
        self._stride = len(par) + 1
        self._keys = np.sort(
            self._depth * self._stride + np.arange(len(par))
        )
        self._closes = par[~opens]
        self._newlines = np.flatnonzero(b == 0x0A)

    def end(self, start: int) -> int:
        j = int(np.searchsorted(self._par, start, "right"))
        target = (int(self._depth[j - 1]) if j else 0) - 1
        k = int(np.searchsorted(self._keys, target * self._stride + j))
        if k < len(self._keys) and self._keys[k] // self._stride == target:
            return int(self._par[self._keys[k] - target * self._stride]) + 1
        ends = []
        c = int(np.searchsorted(self._closes, start, "right"))
        if c < len(self._closes):
            ends.append(int(self._closes[c]) + 1)
        nl = int(np.searchsorted(self._newlines, start))
        if nl < len(self._newlines):
            ends.append(int(self._newlines[nl]) + 1)
        return min(ends) if ends else self._n


_T_STR, _T_HEX, _T_NAME, _T_ARR, _T_NUM, _T_OP, _T_OPEN = range(1, 8)

_LIT_ESCAPES = {b"n": "\n", b"r": "\r", b"t": "\t", b"b": "\b", b"f": "\f",
                b"(": "(", b")": ")", b"\\": "\\"}


def _decode_literal(tok: bytes) -> str:
    body = tok[1:-1]
    # fast path: no escapes, no CR to normalize (the common case);
    # a bare LF already decodes to the §7.3.4.2-mandated 0x0A
    if b"\\" not in body and b"\r" not in body:
        return body.decode("latin-1")
    out: list[str] = []
    i = 0
    while i < len(body):
        c = body[i : i + 1]
        if c == b"\\" and i + 1 < len(body):
            nxt = body[i + 1 : i + 2]
            if nxt in _LIT_ESCAPES:
                out.append(_LIT_ESCAPES[nxt])
                i += 2
                continue
            if nxt.isdigit():  # octal \ddd
                j = i + 1
                while j < len(body) and j < i + 4 and body[j : j + 1].isdigit():
                    j += 1
                # §7.3.4.2: overflowing \ddd keeps the low-order byte
                out.append(chr(int(body[i + 1 : j], 8) % 256))
                i = j
                continue
            if nxt in (b"\n", b"\r"):
                # §7.3.4.2 line continuation: \EOL contributes NO
                # bytes (writers wrap long strings this way); \r\n
                # counts as one EOL
                i += 2
                if nxt == b"\r" and body[i : i + 1] == b"\n":
                    i += 1
                continue
            i += 1
            continue
        if c == b"\r":
            # §7.3.4.2: an unescaped EOL in a literal string is the
            # single byte 0x0A regardless of its on-disk form
            out.append("\n")
            i += 1
            if body[i : i + 1] == b"\n":
                i += 1
            continue
        out.append(c.decode("latin-1"))
        i += 1
    return "".join(out)


def _decode_hex(tok: bytes) -> str:
    raw = _string_token_bytes(tok)
    # Identity-H 2-byte code path (our /F2)
    if len(raw) % 2 == 0:
        try:
            return raw.decode("utf-16-be")
        except UnicodeDecodeError:
            pass
    return raw.decode("latin-1")


# -------------------------------------------------- /ToUnicode CMaps

def _string_token_bytes(tok: bytes) -> bytes:
    """Raw code bytes of a shown-string token (literal or hex) —
    the input to a font's code→Unicode map."""
    if tok[:1] == b"(":
        # _decode_literal resolves escapes to chars ≤ 0xFF; latin-1
        # encodes back to the exact code bytes
        return _decode_literal(tok).encode("latin-1")
    hexs = re.sub(rb"\s", b"", tok[1:-1])
    if len(hexs) % 2:
        hexs += b"0"
    return bytes.fromhex(hexs.decode("ascii"))


_BFCHAR_RE = re.compile(rb"beginbfchar(.*?)endbfchar", re.DOTALL)
_BFRANGE_RE = re.compile(rb"beginbfrange(.*?)endbfrange", re.DOTALL)
_HEXPAIR_RE = re.compile(rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>")
_RANGE_RE = re.compile(
    rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*"
    rb"(<[0-9A-Fa-f]+>|\[[^\]]*\])"
)


def _utf16be_hex_to_str(h: bytes) -> str:
    if len(h) % 4:
        h = h.ljust((len(h) + 3) // 4 * 4, b"0")
    return bytes.fromhex(h.decode("ascii")).decode(
        "utf-16-be", errors="replace"
    )


def _parse_cmap_stream(payload: bytes) -> dict[int, str]:
    """Parse ``beginbfchar``/``beginbfrange`` sections of a
    ``/ToUnicode`` CMap (ISO 32000 §9.10.3; round-2 verdict item #4)
    into a code→Unicode map. Destination values are UTF-16BE; the
    array form of bfrange enumerates per-code destinations, the
    scalar form increments the LAST code unit (Adobe CMap spec
    semantics, valid within a 256-code block)."""
    mapping: dict[int, str] = {}
    for sec in _BFCHAR_RE.finditer(payload):
        for m in _HEXPAIR_RE.finditer(sec.group(1)):
            mapping[int(m.group(1), 16)] = _utf16be_hex_to_str(m.group(2))
    for sec in _BFRANGE_RE.finditer(payload):
        for m in _RANGE_RE.finditer(sec.group(1)):
            lo, hi = int(m.group(1), 16), int(m.group(2), 16)
            dst = m.group(3)
            if dst[:1] == b"[":
                dsts = re.findall(rb"<([0-9A-Fa-f]+)>", dst)
                for i, d in enumerate(dsts[: hi - lo + 1]):
                    mapping[lo + i] = _utf16be_hex_to_str(d)
            else:
                h = dst[1:-1]
                if len(h) % 4:
                    h = h.ljust((len(h) + 3) // 4 * 4, b"0")
                base = bytes.fromhex(h.decode("ascii"))
                prefix, last = base[:-2], int.from_bytes(base[-2:], "big")
                for c in range(lo, hi + 1):
                    mapping[c] = (prefix + (last + c - lo).to_bytes(
                        2, "big"
                    )).decode("utf-16-be", errors="replace")
    return mapping


# ------------------------------------- simple-font /Differences arrays

# Adobe Glyph List subset: the names non-embedded simple fonts use in
# practice (Latin letters/digits resolve programmatically below).
# Source: public AGL (github.com/adobe-type-tools/agl-aglfn).
_AGL: dict[str, str] = {
    "space": " ", "exclam": "!", "quotedbl": '"', "numbersign": "#",
    "dollar": "$", "percent": "%", "ampersand": "&", "quotesingle": "'",
    "parenleft": "(", "parenright": ")", "asterisk": "*", "plus": "+",
    "comma": ",", "hyphen": "-", "period": ".", "slash": "/",
    "colon": ":", "semicolon": ";", "less": "<", "equal": "=",
    "greater": ">", "question": "?", "at": "@", "bracketleft": "[",
    "backslash": "\\", "bracketright": "]", "asciicircum": "^",
    "underscore": "_", "grave": "`", "braceleft": "{", "bar": "|",
    "braceright": "}", "asciitilde": "~",
    # Latin-1 supplement
    "exclamdown": "¡", "cent": "¢", "sterling": "£", "currency": "¤",
    "yen": "¥", "brokenbar": "¦", "section": "§", "dieresis": "¨",
    "copyright": "©", "ordfeminine": "ª", "guillemotleft": "«",
    "logicalnot": "¬", "registered": "®", "macron": "¯", "degree": "°",
    "plusminus": "±", "acute": "´", "mu": "µ", "paragraph": "¶",
    "periodcentered": "·", "cedilla": "¸", "ordmasculine": "º",
    "guillemotright": "»", "onequarter": "¼", "onehalf": "½",
    "threequarters": "¾", "questiondown": "¿",
    "Agrave": "À", "Aacute": "Á", "Acircumflex": "Â", "Atilde": "Ã",
    "Adieresis": "Ä", "Aring": "Å", "AE": "Æ", "Ccedilla": "Ç",
    "Egrave": "È", "Eacute": "É", "Ecircumflex": "Ê", "Edieresis": "Ë",
    "Igrave": "Ì", "Iacute": "Í", "Icircumflex": "Î", "Idieresis": "Ï",
    "Eth": "Ð", "Ntilde": "Ñ", "Ograve": "Ò", "Oacute": "Ó",
    "Ocircumflex": "Ô", "Otilde": "Õ", "Odieresis": "Ö",
    "multiply": "×", "Oslash": "Ø", "Ugrave": "Ù", "Uacute": "Ú",
    "Ucircumflex": "Û", "Udieresis": "Ü", "Yacute": "Ý", "Thorn": "Þ",
    "germandbls": "ß", "agrave": "à", "aacute": "á", "acircumflex":
    "â", "atilde": "ã", "adieresis": "ä", "aring": "å", "ae": "æ",
    "ccedilla": "ç", "egrave": "è", "eacute": "é", "ecircumflex": "ê",
    "edieresis": "ë", "igrave": "ì", "iacute": "í", "icircumflex": "î",
    "idieresis": "ï", "eth": "ð", "ntilde": "ñ", "ograve": "ò",
    "oacute": "ó", "ocircumflex": "ô", "otilde": "õ", "odieresis": "ö",
    "divide": "÷", "oslash": "ø", "ugrave": "ù", "uacute": "ú",
    "ucircumflex": "û", "udieresis": "ü", "yacute": "ý", "thorn": "þ",
    "ydieresis": "ÿ",
    # typographic / WinAnsi 0x80-0x9F block
    "Euro": "€", "quotesinglbase": "‚", "florin": "ƒ",
    "quotedblbase": "„", "ellipsis": "…", "dagger": "†",
    "daggerdbl": "‡", "circumflex": "ˆ", "perthousand": "‰",
    "Scaron": "Š", "guilsinglleft": "‹", "OE": "Œ", "Zcaron": "Ž",
    "quoteleft": "‘", "quoteright": "’", "quotedblleft": "“",
    "quotedblright": "”", "bullet": "•", "endash": "–", "emdash": "—",
    "tilde": "˜", "trademark": "™", "scaron": "š",
    "guilsinglright": "›", "oe": "œ", "zcaron": "ž", "Ydieresis": "Ÿ",
    "fi": "ﬁ", "fl": "ﬂ", "fraction": "⁄", "minus": "−",
    "dotlessi": "ı", "Lslash": "Ł", "lslash": "ł", "nbspace": "\xa0",
}
for _ch in "abcdefghijklmnopqrstuvwxyz":
    _AGL[_ch] = _ch
    _AGL[_ch.upper()] = _ch.upper()
for _dg, _nm in enumerate(
    ("zero", "one", "two", "three", "four", "five", "six", "seven",
     "eight", "nine")
):
    _AGL[_nm] = str(_dg)
_UNI_NAME_RE = re.compile(r"^uni([0-9A-Fa-f]{4})$|^u([0-9A-Fa-f]{4,6})$")


def _glyph_to_unicode(name: str) -> str | None:
    """AGL name → text (AGL spec resolution order: exact table hit,
    then ``uniXXXX`` / ``uXXXXXX`` forms, then the pre-dot base name
    for suffixed variants like ``a.sc``)."""
    hit = _AGL.get(name)
    if hit is not None:
        return hit
    m = _UNI_NAME_RE.match(name)
    if m:
        try:
            return chr(int(m.group(1) or m.group(2), 16))
        except ValueError:
            return None
    if "." in name:
        return _glyph_to_unicode(name.split(".", 1)[0])
    return None


_DIFF_TOKEN_RE = re.compile(rb"(\d+)|/([A-Za-z0-9_.]+)")


def _parse_differences(enc_body: bytes) -> dict[int, str]:
    """``/Encoding << /Differences [ n /name /name ... ] >>`` →
    code→text map (ISO 32000 §9.6.6.3: a number sets the next code,
    each following name consumes one code). Names the AGL subset
    cannot resolve keep their identity code point (the same fallback
    the default decode path uses)."""
    m = re.search(rb"/Differences\s*\[(.*?)\]", enc_body, re.DOTALL)
    if not m:
        return {}
    mapping: dict[int, str] = {}
    code = 0
    for num, nm in _DIFF_TOKEN_RE.findall(m.group(1)):
        if num:
            code = int(num)
            continue
        uni = _glyph_to_unicode(nm.decode("latin-1"))
        if uni is not None:
            mapping[code] = uni
        code += 1
    return mapping


_FONT_ENTRY_RE = re.compile(rb"/([A-Za-z0-9_.]+)\s+(\d+)\s+\d+\s+R")

# Predefined CJK CMaps (Adobe CMap resources, ISO 32000 §9.7.5.2) →
# the stdlib codec that recovers TEXT from the code bytes. The
# UniJIS/UniGB/UniCNS/UniKS "UCS2"/"UTF16" families define the font
# CODE as the UCS-2/UTF-16BE value itself, so extraction is a
# UTF-16BE decode; the RKSJ families take Shift-JIS bytes as codes,
# the EUC families EUC-JP — Python ships both codecs. Real Japanese
# PDFs (the reference's own domain, README.md:1-13) frequently use
# these with NO /ToUnicode — round-3 verdict "Next round" #5.
_PREDEFINED_CMAPS: dict[bytes, str] = {
    b"UniJIS-UCS2-H": "utf-16-be", b"UniJIS-UCS2-V": "utf-16-be",
    b"UniJIS-UCS2-HW-H": "utf-16-be", b"UniJIS-UCS2-HW-V": "utf-16-be",
    b"UniJIS-UTF16-H": "utf-16-be", b"UniJIS-UTF16-V": "utf-16-be",
    b"UniGB-UCS2-H": "utf-16-be", b"UniGB-UCS2-V": "utf-16-be",
    b"UniCNS-UCS2-H": "utf-16-be", b"UniCNS-UCS2-V": "utf-16-be",
    b"UniKS-UCS2-H": "utf-16-be", b"UniKS-UCS2-V": "utf-16-be",
    b"90ms-RKSJ-H": "shift_jis", b"90ms-RKSJ-V": "shift_jis",
    b"90msp-RKSJ-H": "shift_jis", b"90msp-RKSJ-V": "shift_jis",
    b"EUC-H": "euc_jp", b"EUC-V": "euc_jp",
}
_ENC_NAME_RE = re.compile(rb"/Encoding\s*/([A-Za-z0-9\-]+)")


_FIRSTCHAR_RE = re.compile(rb"/FirstChar\s+(\d+)")
_WIDTHS_ARR_RE = re.compile(rb"/Widths\s*\[([-0-9.\s]*)\]")
_WIDTHS_REF_RE = re.compile(rb"/Widths\s+(\d+)\s+\d+\s+R")


def _font_metrics(
    fbody: bytes, bodies: dict[int, bytes]
) -> tuple | None:
    """A simple font's /FirstChar + /Widths table (ISO 32000 §9.6.2.1,
    glyph-space 1/1000 units; the array may be direct or an indirect
    object). None when the font declares no widths — the deterministic
    width model stays the fallback."""
    fc = _FIRSTCHAR_RE.search(fbody)
    wm = _WIDTHS_ARR_RE.search(fbody)
    arr = wm.group(1) if wm else None
    if arr is None:
        wr = _WIDTHS_REF_RE.search(fbody)
        if wr is not None:
            ab = bodies.get(int(wr.group(1)), b"")
            am = re.search(rb"\[([-0-9.\s]*)\]", ab)
            if am:
                arr = am.group(1)
    if fc is None or arr is None:
        return None
    try:
        ws = tuple(float(t) for t in arr.split())
    except ValueError:
        return None
    if not ws:
        return None
    return ("w", int(fc.group(1)), ws)


_DESCFONT_RE = re.compile(rb"/DescendantFonts\s*\[\s*(\d+)\s+\d+\s+R")
_DW_RE = re.compile(rb"/DW\s+([0-9.]+)")


def _parse_w_array(body: bytes) -> tuple:
    """A CIDFont's /W array (ISO 32000 §9.7.4.3): alternating
    ``c [w…]`` (consecutive CIDs from c) and ``cfirst clast w``
    (range) groups → ((lo, hi, widths-tuple | w), …). Bracket-matched
    by hand — the array nests, which a regex cannot scope."""
    i = body.find(b"/W")
    while i != -1 and body[i + 2 : i + 3].isalnum():
        i = body.find(b"/W", i + 2)  # skip /Widths, /WMode, /W2…
    if i == -1:
        return ()
    j = body.find(b"[", i)
    if j == -1:
        return ()
    depth, k = 0, j
    while k < len(body):
        ch = body[k : k + 1]
        if ch == b"[":
            depth += 1
        elif ch == b"]":
            depth -= 1
            if depth == 0:
                break
        k += 1
    toks = re.findall(rb"\[([^\]]*)\]|(-?[0-9.]+)", body[j + 1 : k])
    items: list = []
    for arr, num in toks:
        if num:
            items.append(float(num))
        else:
            items.append([float(t) for t in arr.split()])
    ranges: list[tuple] = []
    idx = 0
    while idx < len(items):
        if idx + 1 < len(items) and isinstance(items[idx + 1], list):
            c = int(items[idx])
            ws = items[idx + 1]
            if ws:
                ranges.append((c, c + len(ws) - 1, tuple(ws)))
            idx += 2
        elif idx + 2 < len(items) and \
                not isinstance(items[idx + 1], list) and \
                not isinstance(items[idx + 2], list):
            ranges.append(
                (int(items[idx]), int(items[idx + 1]),
                 float(items[idx + 2]))
            )
            idx += 3
        else:
            break  # malformed tail: keep what parsed
    return tuple(ranges)


def _cid_metrics(
    fbody: bytes, bodies: dict[int, bytes]
) -> tuple | None:
    """Type0 horizontal metrics from the descendant CIDFont: /DW
    default width (1000 when absent — exactly the 1.0-em model, so
    declaring it changes nothing) + the /W exception array. Returned
    tagged ("cid", dw, ranges); None without a /W (the model already
    IS the /DW default)."""
    dm = _DESCFONT_RE.search(fbody)
    if dm is None:
        return None
    desc = bodies.get(int(dm.group(1)))
    if desc is None:
        return None
    ranges = _parse_w_array(desc)
    if not ranges:
        return None
    dwm = _DW_RE.search(desc)
    dw = float(dwm.group(1)) if dwm else 1000.0
    return ("cid", dw, ranges)


def _page_fonts(
    body: bytes, bodies: dict[int, bytes], dec
) -> dict[str, tuple]:
    """Resolve a page's ``/Resources /Font`` dict into
    ``{name: (decode_info | None, code_width, vertical, metrics)}`` —
    code width 2 for ``/Type0`` (CID) fonts, 1 for simple fonts;
    ``metrics`` is the (/FirstChar, /Widths) table of a simple font
    or None (see :func:`_font_metrics`). Widths index by CHARACTER
    CODE; the advance path applies them through the latin-1 ord of
    the decoded char, which coincides with the code for the WinAnsi
    range real latin-script fonts cover — codes outside the table
    keep the deterministic width model.
    ``decode_info`` is an embedded-ToUnicode code→str dict, a
    predefined-CMap CODEC NAME (str — see ``_PREDEFINED_CMAPS``), or
    None (WinAnsi≈latin-1 / UTF-16BE default paths, byte-identical to
    the pre-CMap tokenizer). ``vertical`` is True for Type0 fonts
    whose /Encoding names a ``-V`` CMap (Identity-V or the predefined
    vertical families) — tategaki writing mode (ISO 32000 §9.7.5,
    WMode 1), the dominant layout of Japanese books/magazines."""
    fonts: dict[str, tuple] = {}
    res = _resources_of(body, bodies)
    fm = re.search(rb"/Font\s*<<(.*?)>>", res, re.DOTALL)
    if not fm:
        return fonts
    for m in _FONT_ENTRY_RE.finditer(fm.group(1)):
        name, fid = m.group(1).decode("latin-1"), int(m.group(2))
        fbody = bodies.get(fid)
        if fbody is None:
            continue
        width = 2 if b"/Type0" in fbody else 1
        em = _ENC_NAME_RE.search(fbody)
        vert = bool(
            width == 2 and em and em.group(1).endswith(b"-V")
        )
        cmap = None
        tu = _dict_ref(fbody, b"ToUnicode")
        if tu is not None and tu in bodies:
            try:
                cmap = _parse_cmap_stream(
                    _stream_bytes(bodies[tu], dec(tu) if dec else None)
                )
            except Exception:
                cmap = None  # unreadable CMap → default decode paths
        if cmap is None and width == 2:
            # Type0 font without a ToUnicode map: a predefined CJK
            # CMap named by /Encoding is the remaining decode signal
            # (§9.10.2 resolution order — ToUnicode wins when present;
            # Identity-H/-V keep the default UTF-16BE hex path)
            if em and em.group(1) in _PREDEFINED_CMAPS:
                cmap = _PREDEFINED_CMAPS[em.group(1)]
        if cmap is None and width == 1:
            # simple font without a ToUnicode map: an /Encoding
            # /Differences array is the remaining text-extraction
            # signal (ISO 32000 §9.6.6.3 + §9.10.2 resolution order —
            # ToUnicode, when present, wins)
            em = re.search(rb"/Encoding\s+(\d+)\s+\d+\s+R", fbody)
            enc_body = (
                bodies.get(int(em.group(1)), b"") if em else fbody
            )
            diffs = _parse_differences(enc_body)
            if diffs:
                cmap = diffs
            elif em is None:
                # name-form /Encoding: MacRomanEncoding routes the
                # high range through the mac_roman codec (legacy Mac
                # writers; 0xA5 is '•' there, '¥' in WinAnsi≈latin-1).
                # WinAnsi/Standard keep the default latin-1 path.
                nm = _ENC_NAME_RE.search(fbody)
                if nm and nm.group(1) == b"MacRomanEncoding":
                    cmap = "mac_roman"
        if width == 1:
            metrics = _font_metrics(fbody, bodies)
        elif cmap is None and not vert:
            # Identity-H without ToUnicode: decoded UTF-16 units ARE
            # the CIDs, so the descendant's /DW + /W can drive
            # advances; any other decode path detaches chars from
            # CIDs and keeps the model
            metrics = _cid_metrics(fbody, bodies)
        else:
            metrics = None
        fonts[name] = (cmap, width, vert, metrics)
    return fonts


_OC_OFF_RE = re.compile(rb"/OFF\s*\[((?:\s*\d+\s+\d+\s+R)*)\s*\]")
_OC_REF_RE = re.compile(rb"(\d+)\s+\d+\s+R")
_OC_PROP_RE = re.compile(rb"/([A-Za-z0-9_.]+)\s+(\d+)\s+\d+\s+R")


def _oc_off_ids(
    root: bytes, bodies: dict[int, bytes]
) -> frozenset[int]:
    """Object ids of optional-content groups the catalog's default
    configuration turns OFF (ISO 32000 §8.11.4.3 /OCProperties /D
    /OFF): content marked with them is not drawn by a conforming
    reader, so an extractor must not read it either. No
    /OCProperties (or no /OFF) → nothing hidden: layers default ON,
    and an unknown layer keeps its text (fail-keep)."""
    src = root
    if b"/OCProperties" not in src:
        return frozenset()
    m = re.search(rb"/OCProperties\s+(\d+)\s+\d+\s+R", src)
    if m is not None:
        src = bodies.get(int(m.group(1)), b"")
    else:
        src = src[src.find(b"/OCProperties"):]
    m = _OC_OFF_RE.search(src)
    if m is None:
        return frozenset()
    return frozenset(
        int(r.group(1)) for r in _OC_REF_RE.finditer(m.group(1))
    )


def _hidden_oc_names(
    res: bytes, off_ids: frozenset[int]
) -> frozenset[str]:
    """Resource names under /Properties whose OCG is default-OFF —
    the names a ``/OC /name BDC`` span may cite (§14.6.2)."""
    if not off_ids:
        return frozenset()
    m = re.search(rb"/Properties\s*<<(.*?)>>", res, re.DOTALL)
    if m is None:
        return frozenset()
    return frozenset(
        pm.group(1).decode("latin-1")
        for pm in _OC_PROP_RE.finditer(m.group(1))
        if int(pm.group(2)) in off_ids
    )


def _resources_of(body: bytes, bodies: dict[int, bytes]) -> bytes:
    """The bytes holding a page/form's resource entries: an indirect
    ``/Resources N 0 R`` object's body, else the inline tail from
    ``/Resources``, else b""."""
    rm = re.search(rb"/Resources\s+(\d+)\s+\d+\s+R", body)
    if rm:
        return bodies.get(int(rm.group(1)), b"")
    i = body.find(b"/Resources")
    return body[i:] if i >= 0 else b""


def _page_xobjects(
    body: bytes, bodies: dict[int, bytes], dec, depth: int = 0
) -> dict[str, tuple]:
    """Resolve ``/Resources /XObject`` into
    ``{name: (content bytes, fonts | None, nested xobjects)}`` for
    FORM XObjects (ISO 32000 §8.10 — headers, stamps, letterheads
    real writers paint via ``Do``). Image XObjects are skipped (no
    text). Nested forms resolve up to ``_XOBJ_MAX_DEPTH`` — also the
    cycle guard, since a loop just burns the remaining depth."""
    out: dict[str, tuple] = {}
    if depth >= _XOBJ_MAX_DEPTH:
        return out
    res = _resources_of(body, bodies)
    xm = re.search(rb"/XObject\s*<<(.*?)>>", res, re.DOTALL)
    if not xm:
        return out
    for m in _FONT_ENTRY_RE.finditer(xm.group(1)):
        name, xid = m.group(1).decode("latin-1"), int(m.group(2))
        xb = bodies.get(xid)
        if xb is None or b"/Form" not in xb.split(b"stream", 1)[0]:
            continue
        try:
            xs = _stream_bytes(xb, dec(xid) if dec else None)
        except Exception:
            continue  # undecodable form: skip, page text still lands
        xfonts = _page_fonts(xb, bodies, dec)
        out[name] = (
            xs, xfonts or None,
            _page_xobjects(xb, bodies, dec, depth + 1),
        )
    return out


def _raw_stream_slice(body: bytes, transform=None) -> bytes:
    """The stream's stored bytes after per-object decryption but
    BEFORE any /Filter decode — what a raster codec (DCTDecode)
    consumes directly."""
    i = body.find(b"stream")
    if i < 0:
        return b""
    head = body[:i]
    j = i + len(b"stream")
    if body[j:j + 2] == b"\r\n":
        j += 2
    elif body[j:j + 1] == b"\n":
        j += 1
    m = _LENGTH_RE.search(head)
    if m:
        out = body[j:j + int(m.group(1))]
    else:
        k = body.rfind(b"endstream")
        out = body[j:k if k >= 0 else len(body)]
        if transform is None and out.endswith(b"\n"):
            out = out[:-1]
    if transform is not None and not _crypt_filter_identity(head):
        out = transform(out)
    return out


def _page_images(
    body: bytes, bodies: dict[int, bytes], dec
) -> list[tuple]:
    """Resolve ``/Resources /XObject`` entries with ``/Subtype
    /Image`` (ISO 32000 §8.9.5) into
    ``(name, width, height, colorspace, bpc, filter, payload)``.
    DCTDecode payloads stay as raw JPEG bytes (decrypted when the
    document is encrypted — §7.6.2 wraps the encoded stream);
    Flate/LZW/RLE images decode to their sample bytes. The form-
    XObject resolver (:func:`_page_xobjects`) deliberately skips
    these — text and raster harvests are separate passes over the
    same resource dictionaries."""
    out: list[tuple] = []
    res = _resources_of(body, bodies)
    xm = re.search(rb"/XObject\s*<<(.*?)>>", res, re.DOTALL)
    if not xm:
        return out
    for m in _FONT_ENTRY_RE.finditer(xm.group(1)):
        name, xid = m.group(1).decode("latin-1"), int(m.group(2))
        xb = bodies.get(xid)
        if xb is None:
            continue
        head = xb.split(b"stream", 1)[0]
        if b"/Image" not in head:
            continue
        w = _dict_int(xb, b"Width") or 0
        h = _dict_int(xb, b"Height") or 0
        bpc = _dict_int(xb, b"BitsPerComponent") or 8
        if b"/DeviceRGB" in head:
            cs = "DeviceRGB"
        elif b"/DeviceGray" in head:
            cs = "DeviceGray"
        else:
            cs = "other"
        try:
            filters = [f for f, _p in _parse_filter_chain(head)]
        except Exception:
            filters = []
        transform = dec(xid) if dec else None
        if b"DCTDecode" in filters:
            filt = "DCTDecode"
            payload = _raw_stream_slice(xb, transform)
        elif filters:
            try:
                payload = _stream_bytes(xb, transform)
                filt = filters[0].decode("latin-1")
            except Exception:
                payload = b""
                filt = "unreadable"
        else:
            payload = _raw_stream_slice(xb, transform)
            filt = "raw"
        out.append((name, w, h, cs, bpc, filt, payload))
    return out


def _decode_with_cmap(tok: bytes, cmap: dict[int, str], width: int) -> str:
    """Decode a shown string through a font's ToUnicode map; unmapped
    codes fall back to their identity code point (deterministic)."""
    raw = _string_token_bytes(tok)
    if width == 2 and len(raw) % 2:
        raw += b"\x00"
    out: list[str] = []
    for i in range(0, len(raw), width):
        code = int.from_bytes(raw[i : i + width], "big")
        s = cmap.get(code)
        out.append(chr(code) if s is None else s)
    return "".join(out)


@lru_cache(maxsize=1 << 16)
def _advance_units(piece: str) -> float:
    """Σ per-char advance in em units (0.5 narrow / 1.0 wide). Vocabulary
    repeats heavily across documents, so the cache turns the per-char
    walk into a dict hit. Units are dyadic (halves), so ``units × size``
    is bit-identical to the per-char ``char_advance`` sum for the sizes
    our grammar emits."""
    return sum(1.0 if is_wide_char(c) else 0.5 for c in piece)


@lru_cache(maxsize=1 << 16)
def _cid_units(piece: str, dw: float, ranges: tuple) -> float:
    """Σ advance in em units under a CIDFont's /DW + /W exceptions
    (§9.7.4.3; Identity-H so CID == UTF-16 unit == ord for BMP
    chars). Astral chars keep the wide-model fallback — their
    surrogate pairs are not single CIDs."""
    total = 0.0
    for c in piece:
        cid = ord(c)
        if cid > 0xFFFF:
            total += 1.0
            continue
        w = dw
        for lo, hi, ws in ranges:
            if lo <= cid <= hi:
                w = ws[cid - lo] if isinstance(ws, tuple) else ws
                break
        total += w / 1000.0
    return total


@lru_cache(maxsize=1 << 16)
def _advance_units_metrics(
    piece: str, first: int, ws: tuple[float, ...]
) -> float:
    """Σ advance in em units under a font's /Widths table (ISO 32000
    §9.6.2.1, glyph-space 1/1000): real fonts' declared metrics drive
    word-box geometry and therefore gap-based segmentation. Codes
    outside the table keep the width-model fallback."""
    total = 0.0
    last = first + len(ws)
    for c in piece:
        i = ord(c)
        if first <= i < last:
            total += ws[i - first] / 1000.0
        else:
            total += 1.0 if is_wide_char(c) else 0.5
    return total


def _emit_words(
    text: str, x: float, y: float, size: float, height: float,
    sink: "_WordSink",
    tc: float = 0.0, tw: float = 0.0, tz: float = 1.0,
    metrics: tuple | None = None,
) -> float:
    """Split shown text on spaces; append columns to the sink; return
    advanced x. ``tc``/``tw``/``tz`` are the Tc char-spacing, Tw
    word-spacing and Tz horizontal-scale text state (ISO 32000
    §9.3.2-§9.3.4); the defaults reproduce the plain advance model
    bit-for-bit (+0.0 and ×1.0 are exact in IEEE 754)."""
    # coordinates rounded to 3 decimals: keeps boxes byte-stable across
    # float formatting roundtrips (the reference similarly keys dedup on
    # rounded positions, error_handler.py:542-574)
    top = round(height - y - _ASCENT * size, 3)
    bottom = round(height - y + _DESCENT * size, 3)
    cx = x
    space_units = 0.5
    if metrics is not None and metrics[0] == "w":
        _tag, first, ws = metrics
        if first <= 0x20 < first + len(ws):
            space_units = ws[0x20 - first] / 1000.0
    elif metrics is not None:  # ("cid", dw, ranges)
        space_units = _cid_units(" ", metrics[1], metrics[2])
    space_adv = (space_units * size + tc + tw) * tz
    t_app = sink.texts.append
    x0_app = sink.x0s.append
    x1_app = sink.x1s.append
    top_app = sink.tops.append
    bot_app = sink.bottoms.append
    size_app = sink.sizes.append
    for piece in text.split(" "):
        if piece == "":
            cx += space_adv  # bare space advance
            continue
        if metrics is None:
            units = _advance_units(piece)
        elif metrics[0] == "w":
            units = _advance_units_metrics(
                piece, metrics[1], metrics[2]
            )
        else:
            units = _cid_units(piece, metrics[1], metrics[2])
        w = (units * size + tc * len(piece)) * tz
        t_app(piece)
        x0_app(round(cx, 3))
        x1_app(round(cx + w, 3))
        top_app(top)
        bot_app(bottom)
        size_app(size)
        cx += w + space_adv  # the splitting space's advance
    # we over-advance by one trailing space; harmless for layout, but
    # keep exact: remove it
    return cx - space_adv


def _emit_words_vertical(
    text: str, x: float, y: float, size: float, height: float,
    page_width: float, sink: "_WordSink",
    tc: float = 0.0, tw: float = 0.0,
) -> float:
    """Tategaki show: glyphs stack DOWNWARD from the origin, columns
    read right-to-left (ISO 32000 §9.7.5 WMode 1 — the dominant
    Japanese book/magazine layout; the reference's own domain).

    Word boxes are emitted in a rotated VIRTUAL frame so the entire
    existing horizontal layout stack (C1 columns → C2 lines → W2/W4
    spacing, O1/O2 ordering) produces tategaki reading order with no
    special cases — the same axis swap pdfminer applies to vertical
    text lines:

    - virtual x = downward position (chars in a column read in
      increasing virtual x, like a horizontal line left-to-right);
    - virtual top = ``page_width - x - size`` (columns further RIGHT
      get SMALLER virtual top, so line ordering yields
      right-to-left).

    Advance model mirrors the horizontal one (dyadic per-char units ×
    size + Tc; Tw on splitting spaces; Tz is horizontal-only per
    §9.3.4). Returns the updated PDF-space y after the run."""
    vt = round(page_width - x - size, 3)
    vb = round(page_width - x, 3)
    d0 = height - y          # downward position of the run start
    d = d0
    space_adv = 0.5 * size + tc + tw
    for piece in text.split(" "):
        if piece == "":
            d += space_adv
            continue
        adv = _advance_units(piece) * size + tc * len(piece)
        sink.verts.append(len(sink.texts))
        sink.texts.append(piece)
        sink.x0s.append(round(d, 3))
        sink.x1s.append(round(d + adv, 3))
        sink.tops.append(vt)
        sink.bottoms.append(vb)
        sink.sizes.append(size)
        d += adv + space_adv
    d -= space_adv  # remove the trailing-space over-advance
    return y - (d - d0)


class _WordSink:
    """Columnar accumulator: parallel typed lists instead of a list of
    row tuples — frame construction becomes column-wise (one typed
    array per column) rather than a row-by-row object scan, which both
    speeds construction and halves transient memory traffic (the DRAM
    budget is the scaling ceiling at wide configs, BASELINE.md)."""

    __slots__ = ("texts", "x0s", "x1s", "tops", "bottoms", "sizes",
                 "verts", "invisible_shows")

    def __init__(self) -> None:
        self.texts: list[str] = []
        self.x0s: list[float] = []
        self.x1s: list[float] = []
        self.tops: list[float] = []
        self.bottoms: list[float] = []
        self.sizes: list[float] = []
        # row numbers of the words the vertical path emitted in the
        # rotated virtual frame — only consulted when a page mixes
        # writing modes
        self.verts: list[int] = []
        # show operations executed under text rendering mode 3
        # (invisible — §9.3.6): the OCR text layer of scanned PDFs.
        # The text IS extracted (pdfminer-family behavior: that layer
        # is the only text a scanned page has) but the page is
        # flagged so quality scoring can treat OCR text differently.
        self.invisible_shows: int = 0

    def truncate(self, n: int) -> None:
        """Drop every word from row ``n`` on."""
        for col in (self.texts, self.x0s, self.x1s, self.tops,
                    self.bottoms, self.sizes):
            del col[n:]
        while self.verts and self.verts[-1] >= n:
            self.verts.pop()

    def frame(self, page_no: int) -> Words:
        n = len(self.texts)
        x0 = np.asarray(self.x0s, dtype=float)
        x1 = np.asarray(self.x1s, dtype=float)
        if 0 < len(self.verts) < n:
            # Mixed writing modes: horizontal words carry real page
            # coordinates, vertical words the rotated virtual frame —
            # the two x-ranges overlap, so a single C1 pass would
            # interleave their columns and scramble reading order
            # (e.g. a horizontal headline over a tategaki body). Keep
            # each group's internal frame intact and shift each later
            # -reading group past the previous one's x-extent, so C1
            # yields the groups' columns in reading order. Real mixed
            # JP pages routinely carry horizontal text BOTH above
            # (headline) and below (folio, caption) the vertical
            # body, so horizontal words split into above-body /
            # below-body groups by their real distance-from-top vs
            # the body's start: a vertical word's distance-from-top
            # is its virtual x0 (d = height - y); a horizontal
            # word's is its top.
            v = np.zeros(n, dtype=bool)
            v[self.verts] = True
            tops = np.asarray(self.tops, dtype=float)
            v_start = x0[v].min()
            group = np.where(v, 1, np.where(tops <= v_start, 0, 2))
            off = float(x1.max()) + 10_000.0
            x0 = x0 + group * off
            x1 = x1 + group * off
        return Words(
            text=np.array(self.texts, dtype=object),
            x0=x0,
            x1=x1,
            top=np.asarray(self.tops, dtype=float),
            bottom=np.asarray(self.bottoms, dtype=float),
            size=np.asarray(self.sizes, dtype=float),
            page=np.full(n, page_no, dtype=np.int64),
        )


# Canonical single-show text block, the form word-processor-style PDF
# writers emit one per word or run: BT <font> <size> Tf <tx> <ty> Td
# (text|hex) Tj ET, in the general grammar's tokens, ending only where
# the byte after ET cannot extend the operator (``ETBT`` and ``ETq``
# are one operator each). Group 1 is the block and the whitespace
# after it, so a split leaves empty gaps inside a run of blocks.
_BLOCK_RE = re.compile(
    rb"(BT\s+/[A-Za-z0-9_.]+\s+(" + _NUM + rb")\s+Tf"
    rb"\s+(" + _NUM + rb")\s+(" + _NUM + rb")\s+Td"
    rb"\s+(" + _LITERAL + rb"|" + _HEX + rb")\s+Tj\s+ET"
    rb"(?![A-Za-z'\"*])\s*)",
    re.DOTALL,  # \\. must span \<EOL> line continuations (§7.3.4.2)
)


class _BlockRuns:
    """The canonical blocks of one content stream, split out once and
    shown a run at a time: ``_scan_stream`` calls ``emit`` at each
    ``BT`` it reads under the default text state. Blocks the loop went
    past (inside a string, behind ``ETBT``, under another text state)
    are stepped over on the way, so each block is looked at once.

    The arithmetic is the general loop's, written out so that it stays
    bit-identical: BT zeroes the line matrix, Td adds its operands to
    it and ``_emit_words`` runs with ``tc = tw = 0`` and ``tz = 1``, so
    each ``+ 0.0`` turns a ``-0.0`` into ``0.0``. Top and bottom are
    computed once per run of blocks on one line."""

    def __init__(self, stream: bytes) -> None:
        parts = _BLOCK_RE.split(stream)
        it = iter(parts)
        self._start = len(next(it))  # next block's offset, or the end
        # (block, size, x, y, string, gap after the block) per block
        self._blocks = zip(it, it, it, it, it, it)

    def emit(self, pos: int, height: float, sink: _WordSink):
        """Show the run of blocks at offset ``pos``; return the loop's
        state after it, ``(end, size, lx, ly, x, y)``, or None if none."""
        start = self._start
        while start < pos:
            block, _size, _x, _y, _s, gap = next(self._blocks)
            start += len(block) + len(gap)
        self._start = start
        if start != pos:
            return None
        t_app = sink.texts.append
        x0_app = sink.x0s.append
        x1_app = sink.x1s.append
        top_app = sink.tops.append
        bot_app = sink.bottoms.append
        size_app = sink.sizes.append
        line = None
        for block, size_b, x_b, y_b, s, gap in self._blocks:
            if (size_b, y_b) != line:
                line = (size_b, y_b)
                size = float(size_b)
                ly = float(y_b) + 0.0
                top = round(height - ly - _ASCENT * size, 3)
                bottom = round(height - ly + _DESCENT * size, 3)
                space_adv = (0.5 * size + 0.0 + 0.0) * 1.0
            lx = cx = float(x_b) + 0.0
            if s[:1] != b"(":
                text = _decode_hex(s)
            elif b"\\" in s or b"\r" in s:
                text = _decode_literal(s)
            else:  # _decode_literal's common case, without the call
                text = s[1:-1].decode("latin-1")
            for piece in text.split(" "):
                if piece == "":
                    cx += space_adv  # bare space advance
                    continue
                w = (_advance_units(piece) * size + 0.0 * len(piece)) * 1.0
                t_app(piece)
                x0_app(round(cx, 3))
                x1_app(round(cx + w, 3))
                top_app(top)
                bot_app(bottom)
                size_app(size)
                cx += w + space_adv
            pos += len(block)
            if gap:
                break
        self._start = pos + len(gap)
        return pos, size, lx, ly, cx - space_adv, ly


# inline images (ISO 32000 §8.9.7): BI <dict> ID <binary> EI — the
# binary payload is NOT token syntax and can synthesize phantom
# "(words) Tj" matches, so the whole span is stripped before the
# token scan. Delimiter guards keep a BI/EI inside a shown string
# from matching (standalone-token heuristic — the same one real
# parsers use, since the spec gives EI no length prefix).
# the BI..ID span must LOOK LIKE the inline-image dict the spec
# mandates — one or more `/Key value` pairs (every real inline image
# carries at least /W /H /BPC) — not merely contain the three magic
# tokens. Free text like "(modern BI tools) .. (user ID field) ..
# (EI benefits)" has prose, parens and no /keys between BI and ID,
# so it cannot match and delete the real strings between them.
# values may also be dictionaries (/DP << /Predictor 15 .. >> — the
# standard Flate-predictor layout) or literal strings; without those
# alternatives a predictor-bearing inline image fails the dict-shape
# test and its binary payload leaks into the token scan. Literal
# strings accept \-escapes and one level of balanced nested parens
# ("(lead (sub) image)" — legal per ISO 32000 §7.3.4.2)
_IIMG_VAL = (
    rb"(?:/[A-Za-z0-9.+\-]+|[0-9.+\-]+|true|false|\[[^\[\]]*\]"
    rb"|<<[\s\S]*?>>|\((?:[^()\\]|\\.|\([^()]*\))*\)|<[0-9A-Fa-f\s]*>)"
)
_INLINE_IMG_RE = re.compile(
    rb"(?:^|(?<=[\s]))BI"
    rb"(?:\s*/[A-Za-z0-9.+\-]+\s*" + _IIMG_VAL + rb")+"
    rb"\s+ID[\s\S]*?(?:^|[\s])EI(?=[\s]|$)"
)

_XOBJ_MAX_DEPTH = 4  # form-XObject recursion cap (cycle guard)


def _parse_content(
    stream: bytes, height: float, page_no: int,
    fonts: dict[str, tuple] | None = None,
    xobjects: dict | None = None,
    width: float = 612.0,
    hidden_ocs: frozenset[str] | None = None,
    flags: dict | None = None,
) -> Words:
    """One page's content stream as word boxes. ``flags`` (when given)
    receives ``invisible_shows`` and ``skipped_operators``, the counts
    of Tr 3 shows and of operators dropped for a malformed operand."""
    rows = _WordSink()
    skipped = _scan_stream(stream, height, fonts, xobjects, rows, 0,
                           page_width=width, hidden_ocs=hidden_ocs)
    if flags is not None:
        if rows.invisible_shows:
            flags["invisible_shows"] = rows.invisible_shows
        if skipped:
            flags["skipped_operators"] = skipped
    if not rows.texts:
        return empty_words()
    return rows.frame(page_no)


def _scan_stream(
    stream: bytes, height: float,
    fonts: dict[str, tuple] | None,
    xobjects: dict | None,
    rows: "_WordSink", depth: int,
    ctm_tx: float = 0.0, ctm_ty: float = 0.0,
    page_width: float = 612.0,
    hidden_ocs: frozenset[str] | None = None,
) -> int:
    """Token-scan one content stream into the shared sink; ``Do``
    recurses into form XObjects (their own resources, same sink) up
    to ``_XOBJ_MAX_DEPTH``. Text state is per-stream — our grammar's
    forms open with their own BT/Tf, so inheriting the caller's text
    state (which ISO 32000 §8.10.1 technically prescribes) would be
    indistinguishable here and is deliberately not carried.

    A run of canonical blocks at a ``BT`` read under the default text
    state is shown in one go (``_BlockRuns``). An operator with a
    malformed operand (a name where a number belongs) is skipped on
    its own; returns how many were, forms included."""
    if b"BI" in stream:
        stream = _INLINE_IMG_RE.sub(b" ", stream)
    # font tracking is needed when any font decodes through a CMap OR
    # writes vertically (Identity-V carries no CMap but must still
    # flip the advance axis)
    track_fonts = fonts is not None and any(
        c is not None or v or m is not None
        for c, _w, v, m in fonts.values()
    )
    cur_cmap: dict[int, str] | None = None
    cur_width = 1
    cur_vert = False
    cur_metrics: tuple[int, tuple[float, ...]] | None = None

    def decode_tok(s: bytes) -> str:
        if isinstance(cur_cmap, str):
            # predefined CJK CMap: code bytes ARE the named encoding
            # (UCS-2 / Shift-JIS / EUC-JP) — decode whole strings so
            # variable-width codes (RKSJ) resolve correctly
            return _string_token_bytes(s).decode(
                cur_cmap, errors="replace"
            )
        if cur_cmap is not None:
            return _decode_with_cmap(s, cur_cmap, cur_width)
        return _decode_literal(s) if s[:1] == b"(" else _decode_hex(s)

    size = 12.0
    leading = 0.0          # TL / TD-set text leading (for T*, ', ")
    tc = tw = 0.0          # Tc char / Tw word spacing (§9.3.2-3)
    tz = 1.0               # Tz horizontal scale (§9.3.4)
    tr_mode = 0            # Tr text rendering mode (§9.3.6; 3 = none)
    x = y = 0.0
    lx = ly = 0.0          # line-start (Td is relative to line matrix)
    # marked content (§14.6): /Artifact spans (§14.8.2.2) mark
    # pagination furniture — running heads, folios, rules — that is
    # real page content but NOT logical content; tagged-PDF writers
    # (Word, LaTeX+tagpdf, InDesign) wrap headers/footers in them.
    # Suppression is a SINK SWAP: while any enclosing span is an
    # artifact, shows emit into a throwaway sink, so x/y advances stay
    # bit-exact (suppressed text still moves the pen) and Do-invoked
    # forms inherit suppression for free through the `rows` argument.
    # Non-artifact tags (/P, /Span, AF structure tags) pass through.
    mc_stack: list[bool] = []  # one bool per open BMC/BDC: artifact?
    hide_depth = 0
    live_rows = rows
    trash_rows: "_WordSink | None" = None
    # /ActualText replacement (§14.9.4): the property list carries the
    # TRUE text for the enclosed shows — ligature codes, end-of-line
    # hyphenation ("under- stand" shown, "understand" meant). While a
    # replacement span is open the shown glyphs are suppressed (same
    # sink swap — the pen still advances physically) and at its EMC
    # the replacement is emitted ONCE at the first enclosed show's
    # position/size. The OUTERMOST span wins for nesting (§14.9.4:
    # the replacement covers all enclosed content); an /Artifact
    # enclosing the span keeps everything suppressed.
    at_level = -1          # mc_stack depth of the open span, -1=none
    at_text = ""           # decoded replacement
    at_pos: tuple[float, float, float] | None = None  # x, y, size
    # CTM TRANSLATION component + q/Q stack (§8.4.4): real writers
    # place content — especially invoked forms — via `q a b c d e f
    # cm`; the translation (e, f) is tracked and composed, scale/
    # rotation are ignored (flag-only, like /Rotate)
    gstack: list[tuple[float, float]] = []
    stack: list[bytes] = []  # pending operands
    in_array: list = []
    array_mode = False
    literal_ends: _LiteralEnds | None = None  # built at the first nested one
    runs: _BlockRuns | None = None  # built at the first default-state BT
    skipped = 0
    pos = 0
    while True:
        m = _TOKEN_RE.search(stream, pos)
        if m is None:
            break
        kind = m.lastindex
        if kind == _T_OPEN:
            # a literal string the flat grammar could not span —
            # nested balanced parens — so find its balanced close
            kind = _T_STR
            p = m.start()
            if literal_ends is None:
                literal_ends = _LiteralEnds(stream)
            pos = literal_ends.end(p)
            tok = stream[p:pos]
        else:
            tok = m.group(0)
            pos = m.end()
        if kind == _T_ARR:
            if tok == b"[":
                array_mode, in_array = True, []
            else:
                array_mode = False
                stack.append(b"]")  # marker; TJ consumes in_array
            continue
        if array_mode:
            in_array.append(tok)
            continue
        if kind != _T_OP:   # string / hex / name / number → operand
            stack.append(tok)
            continue
        # operator
        try:
            if tok == b"BT":
                x = y = lx = ly = 0.0
                stack.clear()
                # the state _BlockRuns writes out: plain fonts, nothing
                # to capture for /ActualText or Tr 3, no spacing, no CTM
                if (not track_fonts and at_level < 0 and tr_mode != 3
                        and tc == 0.0 and tw == 0.0 and tz == 1.0
                        and ctm_tx == 0.0 and ctm_ty == 0.0):
                    if runs is None:
                        runs = _BlockRuns(stream)
                    run = runs.emit(m.start(), height, rows)
                    if run is not None:
                        pos, size, lx, ly, x, y = run
            elif tok == b"ET":
                stack.clear()
            elif tok == b"Tf" and len(stack) >= 2:
                size = float(stack[-1])
                if track_fonts and stack[-2][:1] == b"/":
                    cur_cmap, cur_width, cur_vert, cur_metrics = (
                        fonts or {}
                    ).get(
                        stack[-2][1:].decode("latin-1"),
                        (None, 1, False, None),
                    )
                stack.clear()
            elif tok in (b"Td", b"TD") and len(stack) >= 2:
                tx, ty = float(stack[-2]), float(stack[-1])
                if tok == b"TD":      # TD also SETS leading = -ty (ISO
                    leading = -ty     # 32000 §9.4.2)
                lx += tx
                ly += ty
                x, y = lx, ly
                stack.clear()
            elif tok == b"TL" and stack:
                leading = float(stack[-1])
                stack.clear()
            elif tok == b"Tc" and stack:
                tc = float(stack[-1])
                stack.clear()
            elif tok == b"Tw" and stack:
                tw = float(stack[-1])
                stack.clear()
            elif tok == b"Tz" and stack:
                tz = float(stack[-1]) / 100.0
                stack.clear()
            elif tok == b"Tr" and stack:
                try:
                    tr_mode = int(float(stack[-1]))
                except (ValueError, OverflowError):
                    tr_mode = 0
                stack.clear()
            elif tok == b"q":
                gstack.append((ctm_tx, ctm_ty))
                stack.clear()
            elif tok == b"Q":
                if gstack:
                    ctm_tx, ctm_ty = gstack.pop()
                stack.clear()
            elif tok == b"cm" and len(stack) >= 6:
                e, f = float(stack[-2]), float(stack[-1])
                ctm_tx += e
                ctm_ty += f
                stack.clear()
            elif tok == b"T*":
                ly -= leading
                x, y = lx, ly
                stack.clear()
            elif tok == b"Tm" and len(stack) >= 6:
                lx, ly = float(stack[-2]), float(stack[-1])
                x, y = lx, ly
                stack.clear()
            elif tok == b"Tj" and stack:
                s = stack[-1]
                if tr_mode == 3:
                    rows.invisible_shows += 1
                if at_level >= 0 and at_pos is None:
                    at_pos = (x + ctm_tx, y + ctm_ty, size)
                if cur_vert:
                    y = _emit_words_vertical(
                        decode_tok(s), x + ctm_tx, y + ctm_ty, size,
                        height, page_width, rows, tc, tw,
                    ) - ctm_ty
                else:
                    x = _emit_words(
                        decode_tok(s), x + ctm_tx, y + ctm_ty, size,
                        height, rows, tc, tw, tz, cur_metrics,
                    ) - ctm_tx
                stack.clear()
            elif tok in (b"'", b'"') and stack:
                # move-to-next-line-and-show; the " form's aw/ac operands
                # SET the word/char spacing state (§9.4.3)
                s = stack[-1]
                if s[:1] in (b"(", b"<"):
                    if tok == b'"' and len(stack) >= 3:
                        tw, tc = float(stack[-3]), float(stack[-2])
                    if tr_mode == 3:
                        rows.invisible_shows += 1
                    ly -= leading
                    x, y = lx, ly
                    if at_level >= 0 and at_pos is None:
                        at_pos = (x + ctm_tx, y + ctm_ty, size)
                    if cur_vert:
                        y = _emit_words_vertical(
                            decode_tok(s), x + ctm_tx, y + ctm_ty, size,
                            height, page_width, rows, tc, tw,
                        ) - ctm_ty
                    else:
                        x = _emit_words(
                            decode_tok(s), x + ctm_tx, y + ctm_ty, size,
                            height, rows, tc, tw, tz, cur_metrics,
                        ) - ctm_tx
                stack.clear()
            elif tok == b"TJ":
                # a malformed kerning item drops the whole TJ: take
                # back what its earlier strings showed
                x_0, y_0, n_0 = x, y, len(rows.texts)
                try:
                    for item in in_array:
                        if item[:1] in (b"(", b"<"):
                            if cur_vert:
                                y = _emit_words_vertical(
                                    decode_tok(item), x + ctm_tx,
                                    y + ctm_ty, size, height, page_width,
                                    rows, tc, tw,
                                ) - ctm_ty
                            else:
                                x = _emit_words(
                                    decode_tok(item), x + ctm_tx,
                                    y + ctm_ty, size, height, rows, tc,
                                    tw, tz, cur_metrics,
                                ) - ctm_tx
                        elif cur_vert:
                            # vertical kerning: positive values shorten
                            # the DOWNWARD advance (§9.4.3; Tz is
                            # horizontal-only)
                            y += float(item) / 1000.0 * size
                        else:  # kerning adjustment, thousandths of em
                            x -= float(item) / 1000.0 * size * tz
                except ValueError:
                    rows.truncate(n_0)
                    x, y, in_array = x_0, y_0, []
                    raise
                if tr_mode == 3 and in_array:
                    rows.invisible_shows += 1
                if at_level >= 0 and at_pos is None and in_array:
                    at_pos = (x_0 + ctm_tx, y_0 + ctm_ty, size)
                in_array = []
                stack.clear()
            elif tok == b"Do" and stack:
                nm = stack[-1]
                if nm[:1] == b"/" and xobjects and depth < _XOBJ_MAX_DEPTH:
                    ent = xobjects.get(nm[1:].decode("latin-1"))
                    if ent is not None:
                        xstream, xfonts, xxobjs = ent
                        skipped += _scan_stream(
                            xstream, height, xfonts or fonts, xxobjs,
                            rows, depth + 1, ctm_tx, ctm_ty, page_width,
                            hidden_ocs,
                        )
                stack.clear()
            elif tok in (b"BMC", b"BDC"):
                # operand order (§14.6): tag name first, then (BDC only)
                # the property list — stack[0] IS the tag
                hide = bool(stack) and stack[0] == b"/Artifact"
                if (not hide and hidden_ocs and tok == b"BDC"
                        and len(stack) >= 2 and stack[0] == b"/OC"
                        and stack[1][:1] == b"/"
                        and stack[1][1:].decode("latin-1") in hidden_ocs):
                    # optional content on a default-OFF layer (§8.11): a
                    # conforming reader does not draw it — same sink swap
                    hide = True
                if (not hide and at_level < 0 and hide_depth == 0
                        and tok == b"BDC" and b"/ActualText" in stack):
                    i = stack.index(b"/ActualText")
                    if i + 1 < len(stack) and stack[i + 1][:1] in (b"(", b"<"):
                        at_level = len(mc_stack)
                        at_text = _text_string(stack[i + 1])
                        at_pos = None
                        hide = True  # suppress the shown glyphs
                mc_stack.append(hide)
                if hide:
                    hide_depth += 1
                    if trash_rows is None:
                        trash_rows = _WordSink()
                    rows = trash_rows
                stack.clear()
            elif tok == b"EMC":
                # stray EMC (unbalanced writer) pops nothing and never
                # un-hides — damage stays local to the malformed span
                if mc_stack and mc_stack.pop():
                    hide_depth -= 1
                    if hide_depth == 0:
                        rows = live_rows
                    if at_level == len(mc_stack):
                        # replacement span closed: emit the TRUE text at
                        # the first enclosed show's position (span-open
                        # pen if the span showed nothing)
                        ax, ay, asz = at_pos or (
                            x + ctm_tx, y + ctm_ty, size
                        )
                        if at_text and hide_depth == 0:
                            _emit_words(at_text, ax, ay, asz, height,
                                        live_rows, tc, tw, tz)
                        at_level = -1
                        at_pos = None
                stack.clear()
            else:
                if tok in (b"true", b"false", b"null"):
                    # keyword VALUES inside a BDC property list — operands,
                    # not operators; clearing here would drop the BDC tag
                    stack.append(tok)
                else:
                    stack.clear()
        except ValueError:
            # a malformed operand costs its operator, not the page
            skipped += 1
            stack.clear()
    return skipped


# --------------------------------------------------------------- parse

_ENCRYPT_REF = re.compile(rb"/Encrypt\s+(\d+)\s+\d+\s+R")
# /ID entries come as hex strings <...> OR literal strings (...) —
# many writers emit the literal form; accepting only hex made the
# file key never verify and misreported empty-user-password docs as
# undecryptable. The alternation mirrors pdf_crypt._STR_RE.
_ID_RE = re.compile(
    rb"/ID\s*\[\s*(?:<([0-9A-Fa-f\s]*)>|\(((?:[^()\\]|\\.)*)\))"
)


_URI_STR_RE = re.compile(
    rb"/URI\s*(\((?:[^()\\]|\\.)*\)|<[0-9A-Fa-f\s]*>)"
)

# annotation dict fields (§12.5.2): /Contents and /T are *text
# strings* — literal or hex; the /T pattern requires the next
# non-space char to open a string, so /Type and /TU never match
_ANNOT_SUBTYPE_RE = re.compile(rb"/Subtype\s*/([A-Za-z0-9]+)")
_ANNOT_CONTENTS_RE = re.compile(
    rb"/Contents\s*(\((?:[^()\\]|\\.)*\)|<[0-9A-Fa-f\s]*>)"
)
_ANNOT_T_RE = re.compile(
    rb"/T\s*(\((?:[^()\\]|\\.)*\)|<[0-9A-Fa-f\s]*>)"
)


def _page_annotations(
    page_no: int, body: bytes, bodies: dict[int, bytes], dec=None,
) -> list[tuple[int, str, str, str]]:
    """Markup-annotation text (ISO 32000 §12.5.6): the ``/Contents``
    of every page annotation EXCEPT ``/Link`` (navigation — its
    payload is the URI, harvested by ``_page_links``) and ``/Popup``
    (§12.5.6.14 — its /Contents mirrors the parent markup annot, so
    harvesting both would double every sticky note). Review comments
    live here, OUTSIDE content streams — invisible to text
    extraction, which is why a corpus pipeline harvests them as their
    own pass. Returns (page, subtype, contents, author) — ``/T`` is
    the author for markup annotations (§12.5.6.2 Table 170)."""
    out: list[tuple[int, str, str, str]] = []
    for aid in _dict_refarray(body, b"Annots"):
        ab = bodies.get(aid)
        if ab is None:
            continue
        m = _ANNOT_SUBTYPE_RE.search(ab)
        if m is None:
            continue
        subtype = m.group(1).decode("latin-1")
        if subtype in ("Link", "Popup"):
            continue
        mc = _ANNOT_CONTENTS_RE.search(ab)
        if mc is None:
            continue  # geometry-only markup (bare highlight/square)
        mt = _ANNOT_T_RE.search(ab)
        t = dec(aid) if dec is not None else None
        out.append((
            page_no, subtype, _text_string(mc.group(1), t),
            _text_string(mt.group(1), t) if mt else "",
        ))
    return out


def _page_links(
    body: bytes, bodies: dict[int, bytes], dec=None
) -> list[str]:
    """URI targets of the page's ``/Link`` annotations (ISO 32000
    §12.5.6.5 link annotations, §12.6.4.7 URI actions): ``/Annots``
    refs resolved, the ``/A`` action inline OR an indirect object,
    the URI a literal or hex string.  Non-link annotations (Square,
    …) and non-URI actions (GoTo — document-internal) yield nothing;
    an annot ref beyond a crawl truncation is skipped."""
    out: list[str] = []
    for aid in _dict_refarray(body, b"Annots"):
        ab = bodies.get(aid)
        if ab is None or b"/Link" not in ab:
            continue
        src, src_oid = ab, aid
        if b"/URI" not in src:
            act = _dict_ref(ab, b"A")
            src = bodies.get(act, b"") if act is not None else b""
            src_oid = act
        m = _URI_STR_RE.search(src)
        if m is None:
            continue
        raw = _string_token_bytes(m.group(1))
        if dec is not None and src_oid is not None:
            try:
                raw = dec(src_oid)(raw)
            except Exception:
                continue
        out.append(raw.decode("utf-8", "replace"))
    return out


# text strings (ISO 32000 §7.9.2.2) come as literal OR hex strings;
# same alternation as _URI_STR_RE / _ID_RE
_INFO_KEY_RE = re.compile(
    rb"/([A-Za-z][A-Za-z0-9]*)\s*"
    rb"(\((?:[^()\\]|\\.)*\)|<[0-9A-Fa-f\s]*>)"
)
_TITLE_RE = re.compile(
    rb"/Title\s*(\((?:[^()\\]|\\.)*\)|<[0-9A-Fa-f\s]*>)"
)
_INFO_REF_RE = re.compile(rb"/Info\s+(\d+)\s+\d+\s+R")
# backstops for the outline walk: real-writer outlines are small, and
# a malformed ring (the /Next-cycle trap) must terminate loudly
_OUTLINE_MAX_ITEMS = 4096
_OUTLINE_MAX_DEPTH = 32


def _text_string(tok: bytes, transform=None) -> str:
    """PDF *text string* (ISO 32000 §7.9.2.2): UTF-16BE when the
    decoded bytes open with the FE FF BOM, else PDFDocEncoding —
    which agrees with Latin-1 over the printable range real /Info
    writers use.

    ``transform`` is the owning OBJECT's decryptor: strings in
    encrypted documents are encrypted exactly like streams (§7.6.2),
    so every metadata harvest passes ``dec(oid)`` here — without it
    an owner-locked PDF's outline titles and annotation text come
    out as ciphertext garbage. Undecryptable bytes yield "" rather
    than failing the harvest."""
    raw = _string_token_bytes(tok)
    if transform is not None:
        try:
            raw = transform(raw)
        except Exception:
            return ""
    if raw[:2] == b"\xfe\xff":
        return raw[2:].decode("utf-16-be", "replace")
    if raw[:3] == b"\xef\xbb\xbf":
        # PDF 2.0 (ISO 32000-2 §7.9.2.2) adds BOM'd UTF-8 as a third
        # text-string form next to UTF-16BE and PDFDocEncoding
        return raw[3:].decode("utf-8", "replace")
    return raw.decode("latin-1")


def _doc_info(
    data: bytes, bodies: dict[int, bytes], dec=None
) -> dict[str, str]:
    """Decoded entries of the document-information dictionary (ISO
    32000 §14.3.3): the trailer's ``/Info`` ref (classic layout, last
    trailer wins) or an xref-stream object's dict; {} when absent."""
    oid: int | None = None
    t = data.rfind(b"trailer")
    if t != -1:
        m = _INFO_REF_RE.search(data[t : t + 1024])
        if m:
            oid = int(m.group(1))
    if oid is None:
        for body in bodies.values():
            head = body.split(b"stream", 1)[0]
            if b"/XRef" in head:
                m = _INFO_REF_RE.search(head)
                if m:
                    oid = int(m.group(1))
                    break
    body = bodies.get(oid) if oid is not None else None
    if body is None:
        return {}
    t = dec(oid) if dec is not None else None
    return {
        m.group(1).decode("ascii"): _text_string(m.group(2), t)
        for m in _INFO_KEY_RE.finditer(body)
    }


def _doc_outline(
    catalog: bytes, bodies: dict[int, bytes], errors: list[dict],
    dec=None,
) -> list[tuple[int, str]]:
    """Document outline (ISO 32000 §12.3.3) flattened depth-first to
    (depth, title) rows: follow /First into children and /Next along
    siblings from the catalog's /Outlines root.  A VISITED guard stops
    malformed rings (a last item whose /Next points back at the first
    — real broken writers emit this) with a warning instead of
    spinning; item/depth caps bound adversarial trees."""
    root = _dict_ref(catalog, b"Outlines")
    if root is None:
        return []
    root_body = bodies.get(root)
    if root_body is None:
        return []
    out: list[tuple[int, str]] = []
    visited: set[int] = set()

    def walk(oid: int | None, depth: int) -> None:
        while oid is not None:
            if oid in visited:
                errors.append(
                    {"type": "malformed", "severity": "warning",
                     "page": 0,
                     "message": f"outline item {oid} revisited "
                                "(sibling ring); walk stopped"}
                )
                return
            visited.add(oid)
            if len(out) >= _OUTLINE_MAX_ITEMS or \
                    depth > _OUTLINE_MAX_DEPTH:
                errors.append(
                    {"type": "malformed", "severity": "warning",
                     "page": 0,
                     "message": "outline item/depth cap reached; "
                                "walk stopped"}
                )
                return
            b = bodies.get(oid)
            if b is None:  # item beyond a crawl truncation
                return
            m = _TITLE_RE.search(b)
            t = dec(oid) if dec is not None else None
            out.append(
                (depth, _text_string(m.group(1), t) if m else "")
            )
            first = _dict_ref(b, b"First")
            if first is not None:
                walk(first, depth + 1)
            oid = _dict_ref(b, b"Next")

    walk(_dict_ref(root_body, b"First"), 0)
    return out


_XMP_TITLE_RE = re.compile(
    rb"<dc:title>.*?<rdf:li[^>]*>(.*?)</rdf:li>", re.DOTALL
)
_XMP_CREATOR_RE = re.compile(
    rb"<dc:creator>.*?<rdf:li[^>]*>(.*?)</rdf:li>", re.DOTALL
)
# xmp:CreateDate travels in ATTRIBUTE form (compact writers) or
# ELEMENT form — both are legal XMP serializations
_XMP_DATE_ATTR_RE = re.compile(rb'xmp:CreateDate="([^"]*)"')
_XMP_DATE_EL_RE = re.compile(
    rb"<xmp:CreateDate>(.*?)</xmp:CreateDate>", re.DOTALL
)


def _xml_unescape(raw: bytes) -> str:
    s = raw.decode("utf-8", "replace")
    for ent, ch in (("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
                    ("&apos;", "'"), ("&amp;", "&")):
        s = s.replace(ent, ch)
    return s


def _doc_xmp(
    catalog: bytes, bodies: dict[int, bytes], dec=None,
    encrypt_metadata: bool = True,
) -> dict[str, str]:
    """XMP metadata (ISO 32000 §14.3.2, XMP Part 1): the catalog's
    /Metadata stream decoded and mined for the Dublin-Core title
    (rdf:Alt), creator (rdf:Seq) and xmp:CreateDate in either its
    attribute or element serialization.  XMP is the MODERN metadata
    channel — real writers keep it alongside a legacy /Info dict,
    and the two routinely disagree (the consumer's audit surface).

    Encrypted documents: the packet decrypts with ``dec`` like any
    stream, EXCEPT when the document declares ``/EncryptMetadata
    false`` (the metadata stream is then stored in the clear — §7.6.2)
    or the stream carries an explicit ``/Crypt /Identity`` filter
    (handled inside :func:`_stream_bytes`)."""
    meta = _dict_ref(catalog, b"Metadata")
    if meta is None:
        return {}
    body = bodies.get(meta)
    if body is None:
        return {}
    transform = dec(meta) if dec is not None and encrypt_metadata \
        else None
    try:
        packet = _stream_bytes(body, transform)
    except Exception:
        return {}
    out: dict[str, str] = {}
    m = _XMP_TITLE_RE.search(packet)
    if m:
        out["title"] = _xml_unescape(m.group(1))
    m = _XMP_CREATOR_RE.search(packet)
    if m:
        out["creator"] = _xml_unescape(m.group(1))
    m = _XMP_DATE_ATTR_RE.search(packet) or \
        _XMP_DATE_EL_RE.search(packet)
    if m:
        out["create_date"] = _xml_unescape(m.group(1))
    return out


_NAME_PAIR_RE = re.compile(
    rb"(\((?:[^()\\]|\\.)*\)|<[0-9A-Fa-f\s]*>)\s+(\d+)\s+\d+\s+R"
)
_NAMETREE_MAX_DEPTH = 16


def _doc_attachments(
    catalog: bytes, bodies: dict[int, bytes], dec=None
) -> list[tuple[str, bytes]]:
    """Embedded files (ISO 32000 §7.11) via the catalog's
    ``/Names /EmbeddedFiles`` NAME TREE (§7.9.6): leaf nodes carry
    sorted (name string, filespec ref) pairs in /Names arrays,
    intermediate nodes route through /Kids (with /Limits — ignored
    here, every leaf is read); each /Filespec's /EF /F is an
    /EmbeddedFile stream decoded through the same filter machinery
    as content streams.  Attachments are how e-invoice XML
    (Factur-X-class) and source data travel inside PDFs — payload a
    text extractor never sees."""
    names = _dict_ref(catalog, b"Names")
    if names is None:
        return []
    nbody = bodies.get(names)
    if nbody is None:
        return []
    tree = _dict_ref(nbody, b"EmbeddedFiles")
    if tree is None:
        return []
    out: list[tuple[str, bytes]] = []
    visited: set[int] = set()

    def walk(oid: int, depth: int) -> None:
        if oid in visited or depth > _NAMETREE_MAX_DEPTH:
            return
        visited.add(oid)
        b = bodies.get(oid)
        if b is None:
            return
        kids = _dict_refarray(b, b"Kids")
        if kids:
            for kid in kids:
                walk(kid, depth + 1)
            return
        # leaf: /Limits (if present) shares the string grammar with
        # the /Names pairs, so scope the pair scan to the array
        lb = b.find(b"/Names")
        arr = b[lb:] if lb >= 0 else b
        node_t = dec(oid) if dec is not None else None
        for m in _NAME_PAIR_RE.finditer(arr):
            fname = _text_string(m.group(1), node_t)
            fs = bodies.get(int(m.group(2)))
            if fs is None:
                continue
            # /EF is usually an inline dict (<< /F N 0 R >>) — the
            # only ref after a /F key either way; fall back to an
            # indirect /EF object
            stream_id = _dict_ref(fs, b"F")
            if stream_id is None:
                ef = _dict_ref(fs, b"EF")
                if ef is not None:
                    stream_id = _dict_ref(bodies.get(ef, b""), b"F")
            sb = bodies.get(stream_id) if stream_id is not None \
                else None
            if sb is None:
                continue
            try:
                out.append((fname, _stream_bytes(
                    sb, dec(stream_id) if dec is not None else None
                )))
            except Exception:
                continue  # undecodable attachment never costs others

    walk(tree, 0)
    return out


_T_RE = re.compile(
    rb"/T\s*(\((?:[^()\\]|\\.)*\)|<[0-9A-Fa-f\s]*>)"
)
_V_STR_RE = re.compile(
    rb"/V\s*(\((?:[^()\\]|\\.)*\)|<[0-9A-Fa-f\s]*>)"
)
_V_NAME_RE = re.compile(rb"/V\s*/([A-Za-z0-9.#_-]+)")
_FORM_MAX_FIELDS = 4096
_FORM_MAX_DEPTH = 16


def _doc_form_fields(
    catalog: bytes, bodies: dict[int, bytes], dec=None
) -> list[tuple[str, str]]:
    """Interactive-form field values (AcroForm, ISO 32000 §12.7):
    the catalog's /AcroForm → /Fields tree flattened to (fully
    qualified name, value) rows — §12.7.3.2 dotted names through
    /Kids.  A text field's /V is a text string; a button's /V is a
    NAME (/Yes, /Off — not a string, the trap readers that assume
    strings trip on).  Form data lives OUTSIDE content streams —
    invisible to text extraction, which is exactly why a corpus
    pipeline must harvest it separately."""
    acro = _dict_ref(catalog, b"AcroForm")
    if acro is None:
        return []
    body = bodies.get(acro)
    if body is None:
        return []
    out: list[tuple[str, str]] = []
    visited: set[int] = set()

    def walk(oid: int, prefix: str, depth: int) -> None:
        if oid in visited or depth > _FORM_MAX_DEPTH or \
                len(out) >= _FORM_MAX_FIELDS:
            return
        visited.add(oid)
        b = bodies.get(oid)
        if b is None:  # field beyond a crawl truncation
            return
        t = dec(oid) if dec is not None else None
        tm = _T_RE.search(b)
        name = _text_string(tm.group(1), t) if tm else ""
        full = f"{prefix}.{name}" if prefix else name
        kids = _dict_refarray(b, b"Kids")
        if kids:
            for kid in kids:
                walk(kid, full, depth + 1)
            return
        vm = _V_STR_RE.search(b)
        if vm is not None:
            out.append((full, _text_string(vm.group(1), t)))
            return
        nm = _V_NAME_RE.search(b)
        if nm is not None:
            out.append((full, nm.group(1).decode("latin-1")))
            return
        out.append((full, ""))  # field with no value set

    for fid in _dict_refarray(body, b"Fields"):
        walk(fid, "", 0)
    return out


def _find_encrypt_ref(data: bytes, bodies: dict[int, bytes]) -> int | None:
    """Object id of the ``/Encrypt`` dictionary, from the classic
    ``trailer`` dict (last occurrence) or an xref-stream object's
    dict; None when the document is unencrypted."""
    t = data.rfind(b"trailer")
    if t != -1:
        m = _ENCRYPT_REF.search(data[t : t + 1024])
        if m:
            return int(m.group(1))
    for body in bodies.values():
        head = body.split(b"stream", 1)[0]
        if b"/XRef" in head:
            m = _ENCRYPT_REF.search(head)
            if m:
                return int(m.group(1))
    return None


def _decoded_id(m: "re.Match[bytes]") -> bytes:
    """/ID match (hex or literal capture) → bytes; malformed input
    yields b"" (a bad /ID must degrade to the explicit
    encrypted-document diagnosis, not a critical parse failure)."""
    from .pdf_crypt import _decode_pdfstr

    try:
        return _decode_pdfstr(m.group(1), m.group(2))
    except ValueError:
        return b""


def _find_file_id(data: bytes, bodies: dict[int, bytes]) -> bytes:
    """First ``/ID`` identifier string (trailer or xref-stream dict);
    empty when absent (tolerated — some writers omit it)."""
    t = data.rfind(b"trailer")
    if t != -1:
        m = _ID_RE.search(data[t : t + 1024])
        if m:
            return _decoded_id(m)
    for body in bodies.values():
        head = body.split(b"stream", 1)[0]
        if b"/XRef" in head:
            m = _ID_RE.search(head)
            if m:
                return _decoded_id(m)
    return b""


def _build_decryptor(data: bytes, bodies: dict[int, bytes], doc: "PdfDoc"):
    """Resolve the document's encryption state (round-2 verdict item
    #3). Returns a per-object transform factory
    ``dec(oid) -> (raw -> plain)`` or None, appending the appropriate
    error/info row:

    - unencrypted → None, no row;
    - standard security handler, RC4-40/128, AES-128 or AES-256
      (V5/R5/R6), EMPTY user password verifying against /U → working
      decryptor + info row (the overwhelming web case:
      owner-restricted but readable);
    - anything else (real user password, custom handler)
      → None + the explicit ``encryption`` error row round 2 emitted.
    """
    enc_id = _find_encrypt_ref(data, bodies)
    if enc_id is None:
        return None
    from . import pdf_crypt

    sec = key = None
    if enc_id in bodies:
        sec = pdf_crypt.parse_encrypt_dict(
            bodies[enc_id], _find_file_id(data, bodies)
        )
    if sec is not None and sec.v == 5:
        key = pdf_crypt.retrieve_file_key_v5(sec, b"")
        if key is not None and not pdf_crypt.check_perms_v5(sec, key):
            key = None
    elif sec is not None:
        key = pdf_crypt.compute_file_key(sec, b"")
        if not pdf_crypt.verify_user_password(sec, key):
            key = None
    if sec is None or key is None:
        doc.errors.append(
            {"type": "encryption", "severity": "error", "page": 0,
             "message": "document is encrypted; streams unreadable"}
        )
        return None
    doc.errors.append(
        {"type": "encryption", "severity": "info", "page": 0,
         "message": (
             "standard security handler "
             f"({('AESV3' if sec.v == 5 else 'AESV2') if sec.aes else 'RC4'}"
             f"-{sec.length}); decrypted with empty user password"
         )}
    )
    file_key = key

    def dec(oid: int):
        # generation numbers are 0 throughout this tokenizer's object
        # model (the writer emits gen 0; incremental-update gens are
        # not tracked), matching the xref paths above
        return lambda raw: pdf_crypt.decrypt_object_bytes(
            sec, file_key, oid, 0, raw
        )

    # /EncryptMetadata false stores the XMP packet in the clear —
    # the metadata reader consults this flag (§7.6.2)
    dec.encrypt_metadata = sec.encrypt_metadata
    return dec


def parse_pdf(data: bytes) -> PdfDoc:
    """Full pipeline: bytes → PdfDoc(pages=[PdfPage(words=frame)])."""
    doc = PdfDoc()
    try:
        in_objstm: dict[int, tuple[int, int]] = {}
        try:
            offsets, in_objstm = _parse_xref_offsets(data)
        except Exception:
            try:
                offsets, in_objstm = _parse_xref_stream_chain(data)
            except Exception:
                offsets = _scan_objects(data)
                doc.errors.append(
                    {"type": "malformed", "severity": "warning",
                     "page": 0,
                     "message": "xref unusable; recovered via object scan"}
                )
        bodies: dict[int, bytes] = {}
        for oid, off in offsets.items():
            try:
                bodies[oid] = _object_body(data, off)
            except ValueError:
                # crawl truncation: an unterminated tail object keeps
                # its partial body (stream salvage recovers the text
                # prefix); an offset pointing at garbage is skipped —
                # neither may kill the remaining readable objects
                m = _OBJ_RE.match(data, off) or _OBJ_RE.search(
                    data, off, off + 64
                )
                if m is not None:
                    bodies[oid] = data[m.end():]
                    doc.errors.append(
                        {"type": "malformed", "severity": "warning",
                         "page": 0,
                         "message": f"object {oid} unterminated "
                                    "(truncated file); partial body kept"}
                    )
        # Encrypted documents: streams are RC4/AES payloads. The
        # standard-security empty-user-password case (the overwhelming
        # web case: owner-restricted but readable) is decrypted
        # in-line; anything else keeps the explicit diagnosis so the
        # error rollup names the cause instead of a cascade of
        # per-page corruption errors (the reference only diagnoses —
        # its recovery cascade catches the library failure). /Encrypt
        # lives in the classic trailer dict OR, for xref-stream PDFs,
        # in the xref stream's own dict — both anchored locations are
        # checked (never a blind byte scan, which stream content could
        # false-positive).
        dec = _build_decryptor(data, bodies, doc)
        # expand object streams: containers named by xref type-2
        # entries, plus any /ObjStm found by the scan path (so modern
        # PDFs with a broken xref still recover fully). The ObjStm
        # payload is decrypted as the CONTAINER object; members are
        # never individually encrypted (ISO 32000 §7.6.1).
        stm_ids = {sid for sid, _idx in in_objstm.values()} | {
            oid for oid, b in bodies.items() if b"/ObjStm" in b
        }
        for sid in sorted(stm_ids):
            if sid not in bodies:
                continue
            members = _objstm_members(
                bodies[sid], dec(sid) if dec else None
            )
            for oid, member in members.items():
                bodies.setdefault(oid, member)

        # find catalog → pages root → kids (one level; our grammar is flat,
        # but walk nested /Kids defensively)
        root_id = None
        tail = data[-512:]
        m = re.search(rb"/Root\s+(\d+)\s+\d+\s+R", tail)
        if m:
            root_id = int(m.group(1))
        if root_id is None or root_id not in bodies:
            for oid, b in bodies.items():
                if b"/Type" in b and b"/Catalog" in b:
                    root_id = oid
                    break
        # metadata harvest rides the same resolved-object pass as the
        # text; malformed metadata never costs the text
        try:
            doc.info = _doc_info(data, bodies, dec)
        except Exception:
            doc.info = {}
        try:
            doc.outline = _doc_outline(
                bodies[root_id], bodies, doc.errors, dec
            )
        except Exception:
            doc.outline = []
        try:
            doc.form_fields = _doc_form_fields(
                bodies[root_id], bodies, dec
            )
        except Exception:
            doc.form_fields = []
        try:
            doc.attachments = _doc_attachments(
                bodies[root_id], bodies, dec
            )
        except Exception:
            doc.attachments = []
        try:
            doc.xmp = _doc_xmp(
                bodies[root_id], bodies, dec,
                getattr(dec, "encrypt_metadata", True),
            )
        except Exception:
            doc.xmp = {}
        try:
            oc_off = _oc_off_ids(bodies.get(root_id, b""), bodies)
        except Exception:
            oc_off = frozenset()  # malformed OCProperties: fail-keep
        pages_root = _dict_ref(bodies[root_id], b"Pages")
        # Page-tree walk with ATTRIBUTE INHERITANCE (ISO 32000
        # §7.7.3.4): /MediaBox, /Rotate and /Resources may live on any
        # ancestor /Pages node; the nearest definition wins. Each leaf
        # records (page id, inherited attrs) so leaves lacking their
        # own values fall back correctly — real writers routinely put
        # one MediaBox/Resources on the root node only.
        page_ids: list[tuple[int, list[float] | None, int | None,
                             bytes | None]] = []
        # cycle guard + depth cap: a /Kids array naming an ancestor
        # (or itself) would otherwise recurse to the Python limit and
        # the RecursionError-to-backstop path destroys the WHOLE
        # document — every legitimate sibling page lost to one bad
        # reference. Revisited nodes are skipped with a warning and
        # the rest of the tree still extracts.
        tree_seen: set[int] = set()
        _TREE_MAX_DEPTH = 64  # real trees are ~balanced: depth ≤ ~10

        def walk(
            oid: int,
            mb: list[float] | None,
            rot: int | None,
            res_owner: bytes | None,
            depth: int = 0,
        ) -> None:
            if oid in tree_seen or depth > _TREE_MAX_DEPTH:
                doc.errors.append(
                    {"type": "malformed", "severity": "warning",
                     "page": 0,
                     "message": f"page tree cycle or over-deep chain "
                                f"at object {oid} (skipped)"}
                )
                return
            tree_seen.add(oid)
            b = bodies.get(oid)
            if b is None:  # kid object beyond a crawl truncation
                doc.errors.append(
                    {"type": "malformed", "severity": "warning",
                     "page": 0,
                     "message": f"page tree references missing object "
                                f"{oid} (truncated file)"}
                )
                return
            mb = _dict_numarray(b, b"MediaBox") or mb
            r = _dict_int(b, b"Rotate")
            rot = r if r is not None else rot
            if b"/Resources" in b:
                res_owner = b
            if b"/Kids" in b:
                for kid in _dict_refarray(b, b"Kids"):
                    walk(kid, mb, rot, res_owner, depth + 1)
            elif b"/Page" in b:
                page_ids.append((oid, mb, rot, res_owner))

        walk(pages_root, None, None, None)

        # fonts/forms are immutable within a document and pages
        # routinely share one /Resources owner (the inherited layout):
        # resolve each owner ONCE, not per page — a 500-page document
        # must not re-inflate and re-parse the same CMap 500 times
        res_cache: dict[bytes, tuple] = {}
        for idx, (pid, inh_mb, inh_rot, res_owner) in enumerate(
            page_ids, start=1
        ):
            body = bodies[pid]
            mb = (
                _dict_numarray(body, b"MediaBox") or inh_mb
                or [0, 0, 612.0, 792.0]
            )
            width, height = mb[2] - mb[0], mb[3] - mb[1]
            own_rot = _dict_int(body, b"Rotate")
            rotation = own_rot if own_rot is not None else (inh_rot or 0)
            # /Contents may be one stream ref or an ARRAY of refs whose
            # decoded streams concatenate (with whitespace — tokens
            # may not span parts, ISO 32000 §7.8.2 note)
            content_ids = _dict_refarray(body, b"Contents")
            if not content_ids:
                single = _dict_ref(body, b"Contents")
                content_ids = [single] if single is not None else []
            try:
                font_src = (
                    body if b"/Resources" in body
                    else (res_owner or body)
                )
                cached = res_cache.get(font_src)
                if cached is None:
                    try:
                        page_imgs = _page_images(font_src, bodies, dec)
                    except Exception:
                        page_imgs = []  # raster damage never costs text
                    cached = (
                        _page_fonts(font_src, bodies, dec),
                        _page_xobjects(font_src, bodies, dec),
                        _hidden_oc_names(
                            _resources_of(font_src, bodies)
                            or font_src,
                            oc_off,
                        ),
                        page_imgs,
                    )
                    res_cache[font_src] = cached
                fonts, xobjs, hidden_ocs, page_imgs = cached
                salvage: list[str] = []
                stream = b"\n".join(
                    _stream_bytes(
                        bodies[c], dec(c) if dec else None, warn=salvage
                    )
                    for c in content_ids
                    if c in bodies
                )
                for note in salvage:
                    doc.errors.append(
                        {"type": "malformed", "severity": "warning",
                         "page": idx, "message": note}
                    )
                for nm, iw, ih, cs_, bpc_, filt_, pay_ in page_imgs:
                    n_draws = len(re.findall(
                        rb"/" + re.escape(nm.encode("latin-1"))
                        + rb"\s+Do(?![A-Za-z])", stream
                    ))
                    doc.images.append((
                        idx, nm, iw, ih, cs_, bpc_, filt_,
                        n_draws, pay_,
                    ))
                page_flags: dict = {}
                words = _parse_content(
                    stream, height, idx, fonts, xobjs, width,
                    hidden_ocs or None, flags=page_flags,
                )
                if page_flags.get("invisible_shows"):
                    doc.errors.append(
                        {"type": "invisible_text", "severity": "warning",
                         "page": idx,
                         "message": (
                             "text rendered invisible (Tr 3) — "
                             f"{page_flags['invisible_shows']} show ops; "
                             "likely OCR text layer of a scanned page"
                         )}
                    )
                if page_flags.get("skipped_operators"):
                    doc.errors.append(
                        {"type": "corruption", "severity": "warning",
                         "page": idx,
                         "message": (
                             f"{page_flags['skipped_operators']} content "
                             "operators skipped: malformed operand"
                         )}
                    )
                if any(v for _c, _w, v, _m in fonts.values()):
                    doc.errors.append(
                        {"type": "vertical", "severity": "warning",
                         "page": idx,
                         "message": "vertical writing mode (-V CMap)"}
                    )
            except Exception as exc:  # page-level recovery (U3)
                doc.errors.append(
                    {"type": "corruption", "severity": "error", "page": idx,
                     "message": f"content parse failed: {exc}"}
                )
                words = empty_words()
            if rotation:
                doc.errors.append(
                    {"type": "rotation", "severity": "warning", "page": idx,
                     "message": f"page rotated {rotation}"}
                )
            try:
                links = _page_links(body, bodies, dec)
            except Exception:
                links = []  # malformed annots never cost the text
            try:
                doc.annotations.extend(
                    _page_annotations(idx, body, bodies, dec)
                )
            except Exception:
                pass  # malformed annots never cost the text
            doc.pages.append(
                PdfPage(
                    page_number=idx, width=width, height=height,
                    rotation=rotation, words=words, links=links,
                )
            )
    except Exception as exc:
        doc.errors.append(
            {"type": "corruption", "severity": "critical", "page": 0,
             "message": f"document parse failed: {exc}"}
        )
    return doc
