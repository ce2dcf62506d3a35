"""Transport decoding: the layers a crawled payload arrives wrapped in.

A page payload can carry, outside its PDF or HTML document, any stack
of: a WARC capture (ISO 28500 records, usually one gzip member per
record), a captured HTTP response (status line and header block),
chunked transfer coding (RFC 9112 §7.1), and a gzip or deflate content
coding.  This module owns those formats for both readers — the
extraction kernel (:func:`unwrap`) and the WARC reader
(``sources/warc.py``, through :func:`parse_warc`) — so each is decoded
by one routine and bounded in one place.
"""

from __future__ import annotations

import re
import zlib

#: Most transport layers one payload may be wrapped in.  A real capture
#: has at most five (HTTP, gzip, WARC, HTTP, gzip); the bound stops a
#: nesting bomb, and a gzip quine, which would otherwise never end.
MAX_LAYERS = 8
#: An HTTP header block must end within this many bytes.
_HEAD_LIMIT = 16384
_GZIP_MAGIC = b"\x1f\x8b"
_CRLF = b"\r\n"
# last ``charset=`` parameter of a Content-Type value
_CHARSET_RE = re.compile(r".*charset=[\"']?([A-Za-z0-9._:-]+)", re.I)


class ResourceLimitError(ValueError):
    """A payload needs more work than the kernel allows one document;
    the kernel records it as a ``resource_limit`` error."""


def header_end(data: bytes, pos: int = 0,
               end: int | None = None) -> tuple[int, int]:
    """(offset, separator width) of the EARLIEST blank line ending a
    header block — CRLF-CRLF or bare LF-LF, whichever comes first —
    searched in ``data[pos:end]``; ``(-1, 0)`` when there is none.
    Checking CRLF first without comparing offsets would let an
    LF-terminated header block followed by a CRLF payload split at a
    blank line INSIDE the payload, absorbing the payload's first part
    (a WARC record's HTTP headers, an HTTP body's first block) into
    the header block."""
    crlf = data.find(b"\r\n\r\n", pos, end)
    lf = data.find(b"\n\n", pos, end)
    if crlf >= 0 and (lf < 0 or crlf < lf):
        return crlf, 4
    if lf >= 0:
        return lf, 2
    return -1, 0


def parse_headers(block: bytes) -> dict[str, str]:
    """CRLF (or bare-LF) header block → lowercased-key dict, folding
    obs-fold continuation lines into the previous value."""
    headers: dict[str, str] = {}
    last = None
    for raw in block.split(b"\n"):
        line = raw.rstrip(b"\r")
        if not line:
            continue
        if line[:1] in (b" ", b"\t") and last is not None:
            headers[last] += " " + line.strip().decode(
                "latin-1")
            continue
        k, sep, v = line.partition(b":")
        if not sep:
            continue
        last = k.strip().decode("latin-1").lower()
        headers[last] = v.strip().decode("latin-1")
    return headers


def dechunk(body: bytes) -> bytes:
    """Undo chunked transfer coding (RFC 9112 §7.1); malformed
    framing degrades to the raw remainder from the failure point
    (never raises)."""
    out = bytearray()
    pos = 0
    while True:
        nl = body.find(b"\n", pos)
        if nl < 0:
            out += body[pos:]
            break
        size_tok = body[pos:nl].strip().split(b";")[0]
        try:
            n = int(size_tok, 16)
        except ValueError:
            out += body[pos:]
            break
        if n == 0:
            break
        chunk = body[nl + 1:nl + 1 + n]
        out += chunk
        pos = nl + 1 + n
        if body[pos:pos + 2] == b"\r\n":
            pos += 2
        elif body[pos:pos + 1] == b"\n":
            pos += 1
    return bytes(out)


def gunzip(data: bytes) -> tuple[bytes, bool]:
    """Concatenate every gzip member (one WARC record per member in the
    Common-Crawl convention; a whole file as one member also lands
    here).  Returns ``(bytes, cut)``: a truncated or corrupt member
    contributes its decodable prefix and sets ``cut``; bytes after the
    last complete member that do not open another member are
    dropped."""
    out = bytearray()
    rest = data
    while rest[:2] == _GZIP_MAGIC:
        d = zlib.decompressobj(wbits=31)
        try:
            out += d.decompress(rest)
        except zlib.error:
            return bytes(out), True
        if not d.eof:
            return bytes(out), True
        rest = d.unused_data
    return bytes(out), False


def inflate(body: bytes) -> tuple[bytes | None, str]:
    """Undo a ``Content-Encoding: deflate`` body: RFC 9110 means the
    zlib-wrapped stream, but legacy servers (old IIS) mis-serve the
    bare DEFLATE stream under the same header.  No magic tells them
    apart, so, like browsers, try zlib framing first, then raw.
    Returns ``(None, "")`` when neither decodes."""
    for wbits, note in (
        (15, "deflate content coding stripped"),
        (-15, "raw-deflate content coding stripped "
              "(non-conformant server)"),
    ):
        try:
            return zlib.decompress(body, wbits), note
        except zlib.error:
            continue
    return None, ""


def parse_warc(data: bytes) -> list[dict]:
    """Archive bytes (plain or per-record-gzip) → list of records:
    ``{"type", "url", "date", "headers", "payload"}``.  Records are
    self-delimiting via ``Content-Length``; a record with a missing or
    unparseable length ends the scan (nothing downstream is
    trustworthy once framing is lost)."""
    if data[:2] == _GZIP_MAGIC:
        data = gunzip(data)[0]
    records: list[dict] = []
    pos = 0
    n = len(data)
    while pos < n:
        while data[pos:pos + 2] == _CRLF or data[pos:pos + 1] == b"\n":
            pos += 2 if data[pos:pos + 2] == _CRLF else 1
        if not data[pos:pos + 5] == b"WARC/":
            break
        head_end, sep = header_end(data, pos)
        if head_end < 0:
            break
        headers = parse_headers(data[pos:head_end])
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            break
        payload = data[head_end + sep:head_end + sep + length]
        records.append({
            "type": headers.get("warc-type", ""),
            "url": headers.get("warc-target-uri", ""),
            "date": headers.get("warc-date", ""),
            "headers": headers,
            "payload": payload,
        })
        pos = head_end + sep + length
    return records


def unwrap(payload: bytes) -> tuple[bytes, str | None, list[str]]:
    """Peel every transport layer off ``payload``, one per step, and
    return ``(body, transport_charset, notes)``.

    - an HTTP response loses its header block (then its chunked
      transfer coding); its Content-Type charset becomes the transport
      hint (it outranks ``<meta>`` and loses to a BOM — WHATWG) and its
      Content-Encoding is remembered for the next step;
    - gzip (by magic, whatever the headers say) loses every member; a
      cut member keeps its decodable prefix;
    - a body the HTTP layer declared ``deflate`` is inflated;
    - a WARC capture (crawl dumps land whole as page payloads) gives
      way to its first ``response`` record; the charset hint starts
      over.

    A layer that does not decode is left for the extraction branch to
    grade.  ``notes`` are in record order: the innermost capture's
    first, each enclosing capture's after its "warc response record
    unwrapped".  More than :data:`MAX_LAYERS` layers raise
    :class:`ResourceLimitError`."""
    charset = None
    coding = ""
    outer: list[str] = []   # notes of the enclosing captures
    notes: list[str] = []   # notes of the capture being peeled
    peeled = 0
    while True:
        deflated, coding = coding == "deflate", ""
        if payload[:5] == b"HTTP/":
            head_end, sep = header_end(payload, 0, _HEAD_LIMIT)
            if head_end < 0:
                break
            headers = parse_headers(payload[:head_end])
            payload = payload[head_end + sep:]
            if "chunked" in headers.get("transfer-encoding", "").lower():
                # a TRANSFER coding: undone before the content coding,
                # or the hex size tokens leak into the text
                payload = dechunk(payload)
            m = _CHARSET_RE.match(headers.get("content-type", ""))
            charset = m.group(1) if m else None
            coding = headers.get("content-encoding", "").split(",")[0]
            coding = coding.strip().lower()
            notes.append("http response headers stripped" + (
                f" (charset={charset})" if charset else ""))
        elif payload[:2] == _GZIP_MAGIC:
            body, cut = gunzip(payload)
            if cut and not body:  # not really gzip: grade the raw bytes
                break
            payload = body
            notes.append(
                f"truncated gzip transport wrapper: {len(body)} bytes "
                "salvaged" if cut else "gzip transport wrapper stripped")
        elif deflated:
            body, note = inflate(payload)
            if body is None:
                continue
            payload = body
            notes.append(note)
        elif payload[:5] == b"WARC/":
            body = next((r["payload"] for r in parse_warc(payload)
                         if r["type"] == "response"), None)
            if body is None:
                break
            payload = body
            charset = None
            outer[:0] = ["warc response record unwrapped", *notes]
            notes = []
        else:
            break
        peeled += 1
        if peeled > MAX_LAYERS:
            raise ResourceLimitError(
                f"more than {MAX_LAYERS} transport layers")
    return payload, charset, notes + outer
