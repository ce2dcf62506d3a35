"""From-scratch WARC/1.0 archive reader + writer (ISO 28500 layout,
Common-Crawl conventions) feeding the extraction kernel.

Web-scale corpora arrive as WARC archives: a stream of self-delimiting
records (``warcinfo``, ``request``, ``response``, ``metadata``), each a
CRLF-terminated header block plus a ``Content-Length``-sized payload,
usually one gzip member per record so readers can split archives on
member boundaries.  A ``response`` payload is a captured HTTP response
— status line, headers, body — which may itself be chunked
(``Transfer-Encoding: chunked``) and/or compressed
(``Content-Encoding: gzip``).

This module owns the archive WRITERS and the Spark stages.  Reading —
record framing, gzip members, the HTTP header block, dechunking and
the content codings — is the one transport decoder in
``operators/transport.py``: :func:`parse_warc` splits an archive into
records, and each ``response`` record's captured HTTP payload goes to
``extract_document`` as it is, which peels its layers with
``transport.unwrap`` (the Content-Type charset flows on as the
transport hint).

The Spark stage is one Arrow ``mapInPandas`` pass, same shape as the
HTML/PDF roundtrips in ``docwrap.py``: synthesize archives from the
``documents`` table (deterministic per ``doc_id``), parse them back,
extract, so the driver's DuckDB oracle is closed-form —
``text`` roundtrips byte-identically and ``WARC-Date`` reproduces
``2024-01-01T00:00:00Z + doc_id seconds``.
"""

from __future__ import annotations

import gzip
import re
from datetime import datetime, timedelta
from hashlib import md5

from pyspark.sql import DataFrame

from ..config import DEFAULT_CONFIG
from ..operators.document import extract_document
from ..operators.transport import header_end, parse_headers, parse_warc
from ..plans.pipeline import map_groups, spread
from .docwrap import wrap_html

WARC_EPOCH = datetime(2024, 1, 1)
_CRLF = b"\r\n"
_URL_FMT = "https://corpus.example/doc/{}"
_URL_RE = re.compile(r"/doc/(\d+)$")
_DOCS_PER_ARCHIVE = 8


# ============================================================== writer

def _warc_date(doc_id: int) -> str:
    t = WARC_EPOCH + timedelta(seconds=int(doc_id))
    return t.strftime("%Y-%m-%dT%H:%M:%SZ")


def _record_id(kind: str, url: str) -> str:
    """Deterministic urn:uuid from the record kind + target URI (no
    randomness anywhere in the fixture path)."""
    h = md5(f"{kind}:{url}".encode()).hexdigest()
    return (f"<urn:uuid:{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-"
            f"{h[20:32]}>")


def _chunk(body: bytes, size: int = 100) -> bytes:
    """RFC 9112 §7.1 chunked framing: hex-size line, chunk, CRLF,
    terminated by a zero-size chunk."""
    out = bytearray()
    for i in range(0, len(body), size):
        piece = body[i:i + size]
        out += f"{len(piece):x}".encode() + _CRLF + piece + _CRLF
    out += b"0" + _CRLF + _CRLF
    return bytes(out)


def http_response(body: bytes, *, chunked: bool = False,
                  gzip_body: bool = False,
                  deflate_body: str | None = None,
                  content_type: str = "text/html; charset=utf-8") -> bytes:
    """Captured-HTTP-response bytes as a crawler would store them.
    When both apply, gzip is the CONTENT coding and chunking the
    TRANSFER coding, so the body is gzipped first, then chunked.

    ``deflate_body``: ``"zlib"`` emits the RFC 9110 deflate coding
    (zlib-wrapped, the spec's meaning); ``"raw"`` emits the bare
    DEFLATE stream countless legacy servers (old IIS) mis-serve
    under the same header — readers must accept both, like
    browsers do."""
    headers = [b"HTTP/1.1 200 OK",
               b"Content-Type: " + content_type.encode()]
    if deflate_body is not None:
        import zlib as _zlib

        if deflate_body == "raw":
            c = _zlib.compressobj(9, _zlib.DEFLATED, -15)
            body = c.compress(body) + c.flush()
        else:
            body = _zlib.compress(body, 9)
        headers.append(b"Content-Encoding: deflate")
    if gzip_body:
        body = gzip.compress(body, mtime=0)
        headers.append(b"Content-Encoding: gzip")
    if chunked:
        headers.append(b"Transfer-Encoding: chunked")
        body = _chunk(body)
    else:
        headers.append(b"Content-Length: " + str(len(body)).encode())
    return _CRLF.join(headers) + _CRLF + _CRLF + body


def warc_record(rtype: str, headers: dict[str, str],
                payload: bytes) -> bytes:
    lines = [b"WARC/1.0", b"WARC-Type: " + rtype.encode()]
    for k, v in headers.items():
        lines.append(f"{k}: {v}".encode())
    lines.append(b"Content-Length: " + str(len(payload)).encode())
    return _CRLF.join(lines) + _CRLF + _CRLF + payload + _CRLF + _CRLF


def build_archive(pages: list[tuple[int, str]],
                  gzip_members: bool = True) -> bytes:
    """``pages`` = [(doc_id, text)] → WARC archive bytes: a leading
    ``warcinfo``, then per page a ``request`` record (readers must
    skip it), the ``response``, and for ``doc_id % 7 == 0`` a trailing
    ``metadata`` record.  Transfer variations keyed off ``doc_id``:
    ``% 3 == 0`` chunked, ``% 5 == 0`` Content-Encoding gzip."""
    records: list[bytes] = []
    info = b"software: pdf-extractor-spark warc writer\r\n"
    records.append(warc_record("warcinfo", {
        "WARC-Record-ID": _record_id("info", "archive"),
        "WARC-Date": _warc_date(0),
        "Content-Type": "application/warc-fields",
    }, info))
    for doc_id, text in pages:
        url = _URL_FMT.format(doc_id)
        date = _warc_date(doc_id)
        req = (b"GET /doc/" + str(doc_id).encode() + b" HTTP/1.1\r\n"
               b"Host: corpus.example\r\n\r\n")
        records.append(warc_record("request", {
            "WARC-Record-ID": _record_id("req", url),
            "WARC-Date": date,
            "WARC-Target-URI": url,
            "Content-Type": "application/http; msgtype=request",
        }, req))
        payload = http_response(
            wrap_html(text),
            chunked=(doc_id % 3 == 0),
            gzip_body=(doc_id % 5 == 0),
        )
        records.append(warc_record("response", {
            "WARC-Record-ID": _record_id("resp", url),
            "WARC-Date": date,
            "WARC-Target-URI": url,
            "Content-Type": "application/http; msgtype=response",
        }, payload))
        if doc_id % 7 == 0:
            records.append(warc_record("metadata", {
                "WARC-Record-ID": _record_id("meta", url),
                "WARC-Date": date,
                "WARC-Target-URI": url,
                "Content-Type": "application/warc-fields",
            }, b"fetchTimeMs: 12\r\n"))
    if gzip_members:
        return b"".join(gzip.compress(r, mtime=0) for r in records)
    return b"".join(records)


# ============================================================== reader

def extract_responses(archive: bytes) -> list[dict]:
    """Parse an archive and run extraction over every ``response``
    record (warcinfo/request/metadata records are skipped), returning
    ``{"doc_id", "warc_ts", "extracted_text"}`` rows."""
    rows = []
    for rec in parse_warc(archive):
        if rec["type"] != "response":
            continue
        m = _URL_RE.search(rec["url"])
        if not m:
            continue
        result = extract_document(rec["payload"], DEFAULT_CONFIG)
        rows.append({
            "doc_id": int(m.group(1)),
            "warc_ts": rec["date"],
            "extracted_text": result["extracted_text"],
        })
    return rows


# =========================================================== spark stage

WARC_ROUNDTRIP_SCHEMA = "doc_id long, warc_ts string, extracted_text string"


def _warc_rows(gid: int, pages: list) -> list[dict]:
    return extract_responses(build_archive(pages, gzip_members=(gid % 2 == 0)))


def build_wet(converted: list[tuple[int, str, str]],
              gzip_members: bool = True) -> bytes:
    """[(doc_id, warc_date, text)] → WET archive bytes — the format
    Common Crawl distributes extracted text in (ISO 28500
    ``conversion`` records): a leading ``warcinfo`` describing the
    conversion, then per document one ``conversion`` record carrying
    ``WARC-Refers-To`` (the source response record id),
    ``Content-Type: text/plain`` and the UTF-8 text payload.  WET is
    the natural SINK for this pipeline: the reference's per-document
    text output, serialized in the interchange format downstream
    corpus consumers already read."""
    records: list[bytes] = []
    info = (b"software: pdf-extractor-spark wet writer\r\n"
            b"format: WARC File Format 1.0\r\n"
            b"conformsTo: conversion of response records\r\n")
    records.append(warc_record("warcinfo", {
        "WARC-Record-ID": _record_id("wetinfo", "archive"),
        "WARC-Date": _warc_date(0),
        "Content-Type": "application/warc-fields",
    }, info))
    for doc_id, date, text in converted:
        url = _URL_FMT.format(doc_id)
        records.append(warc_record("conversion", {
            "WARC-Record-ID": _record_id("conv", url),
            "WARC-Refers-To": _record_id("resp", url),
            "WARC-Date": date,
            "WARC-Target-URI": url,
            "Content-Type": "text/plain",
        }, text.encode("utf-8")))
    if gzip_members:
        return b"".join(gzip.compress(r, mtime=0) for r in records)
    return b"".join(records)


def parse_wet(data: bytes) -> list[dict]:
    """WET archive bytes → [{"doc_id", "warc_ts", "extracted_text"}]
    from the ``conversion`` records (warcinfo and any foreign record
    types are skipped, like the response reader skips requests)."""
    rows: list[dict] = []
    for rec in parse_warc(data):
        if rec["type"] != "conversion":
            continue
        m = _URL_RE.search(rec["url"])
        if not m:
            continue
        rows.append({
            "doc_id": int(m.group(1)),
            "warc_ts": rec["date"],
            "extracted_text": rec["payload"].decode("utf-8"),
        })
    return rows


def warc_roundtrip(docs: DataFrame,
                   num_partitions: int | None = None) -> DataFrame:
    """documents → multi-record WARC archives (gzip members, request/
    metadata records interleaved, chunked + Content-Encoding variants)
    → parse → extract.  One Arrow stage after the doc-id spread, no
    shuffle beyond it; per-row output is independent of how rows fall
    into Arrow batches, because an archive is a pure function of the
    rows grouped into it and extraction is per-record."""
    return map_groups(
        spread(docs, ["doc_id", "text"], num_partitions),
        _DOCS_PER_ARCHIVE, _warc_rows, WARC_ROUNDTRIP_SCHEMA,
    )


def _wet_rows(gid: int, pages: list) -> list[dict]:
    # the FULL loop: WARC write → record parse → HTTP unwrap → kernel
    # extraction → WET write → WET parse. Equality with the documents
    # oracle gates every hop.
    extracted = _warc_rows(gid, pages)
    return parse_wet(build_wet(
        [(r["doc_id"], r["warc_ts"], r["extracted_text"])
         for r in extracted],
        gzip_members=(gid % 2 == 1),
    ))


def wet_roundtrip(docs: DataFrame,
                  num_partitions: int | None = None) -> DataFrame:
    """documents → WARC archives → parse+extract → WET ``conversion``
    archives → WET parse.  Same one-Arrow-stage shape as
    warc_roundtrip with the WET serialization loop added on top; the
    gzip-member variant flips parity vs the WARC leg so both framings
    are exercised on each side."""
    return map_groups(
        spread(docs, ["doc_id", "text"], num_partitions),
        _DOCS_PER_ARCHIVE, _wet_rows, WARC_ROUNDTRIP_SCHEMA,
    )


# ====================================================== revisit records

# Common Crawl stores a recrawl whose content is unchanged as a
# ``revisit`` record (WARC 1.1 §6.7.2, identical-payload-digest
# profile): no body is re-stored — only ``WARC-Payload-Digest`` and a
# ``WARC-Refers-To`` pointer at a capture from a PREVIOUS crawl, which
# is in a different archive, so resolution is inherently a corpus-wide
# join on digest, not an in-archive lookup.  The fixture schedule:
# every doc gets a primary ``response`` (digest stamped in the
# header); ``doc_id % 6 == 3`` adds a MIRROR capture of the same
# content at another URL dated two hours EARLIER (so earliest-capture-
# wins resolution is observable, not a self-identity); ``doc_id % 4
# == 1`` adds a revisit dated a day later whose digest is the doc's
# own content digest — except ``doc_id % 20 == 13``, which carries a
# digest from a crawl not present in the corpus and MUST surface as
# 'unresolved', never be dropped.

_REVISIT_PROFILE = (
    "http://netpreserve.org/warc/1.1/revisit/identical-payload-digest"
)
_MIRROR_URL_FMT = "https://mirror.example/doc/{}"
_MIRROR_URL_RE = re.compile(r"//mirror\.example/doc/(\d+)$")
_MIRROR_CAPTURE_OFFSET = 1_000_000


def _content_digest(text: str) -> str:
    """Deterministic payload digest of the logical body (the entity
    bytes before transfer/content codings), in the labeled-algorithm
    spelling WARC headers use."""
    return "md5:" + md5(wrap_html(text)).hexdigest()


def _warc_date_at(seconds: int) -> str:
    t = WARC_EPOCH + timedelta(seconds=seconds)
    return t.strftime("%Y-%m-%dT%H:%M:%SZ")


def build_crawl_archive(pages: list[tuple[int, str]],
                        gzip_members: bool = True) -> bytes:
    """``pages`` = [(doc_id, text)] → two-crawl WARC bytes with the
    revisit schedule above.  Separate from :func:`build_archive` so
    the frozen roundtrip contract (one response per doc) is untouched."""
    records: list[bytes] = []
    records.append(warc_record("warcinfo", {
        "WARC-Record-ID": _record_id("info", "crawl-archive"),
        "WARC-Date": _warc_date(0),
        "Content-Type": "application/warc-fields",
    }, b"software: pdf-extractor-spark warc writer\r\n"))
    for doc_id, text in pages:
        url = _URL_FMT.format(doc_id)
        digest = _content_digest(text)
        body = wrap_html(text)
        if doc_id % 6 == 3:
            # mirror capture, two hours before the primary
            murl = _MIRROR_URL_FMT.format(doc_id)
            records.append(warc_record("response", {
                "WARC-Record-ID": _record_id("mresp", murl),
                "WARC-Date": _warc_date_at(doc_id - 7200),
                "WARC-Target-URI": murl,
                "WARC-Payload-Digest": digest,
                "Content-Type": "application/http; msgtype=response",
            }, http_response(body)))
        records.append(warc_record("response", {
            "WARC-Record-ID": _record_id("resp", url),
            "WARC-Date": _warc_date(doc_id),
            "WARC-Target-URI": url,
            "WARC-Payload-Digest": digest,
            "Content-Type": "application/http; msgtype=response",
        }, http_response(body, chunked=(doc_id % 3 == 0),
                         gzip_body=(doc_id % 5 == 0))))
        if doc_id % 4 == 1:
            rev_digest = (
                "md5:" + md5(f"prev-crawl:{doc_id}".encode()).hexdigest()
                if doc_id % 20 == 13 else digest
            )
            # identical-payload-digest profile: the record re-stores
            # only the HTTP response HEADERS, never the body
            records.append(warc_record("revisit", {
                "WARC-Record-ID": _record_id("rev", url),
                "WARC-Date": _warc_date_at(doc_id + 86400),
                "WARC-Target-URI": url,
                "WARC-Profile": _REVISIT_PROFILE,
                "WARC-Refers-To": _record_id("resp", url),
                "WARC-Payload-Digest": rev_digest,
                "Content-Type": "application/http; msgtype=response",
            }, b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"))
    if gzip_members:
        return b"".join(gzip.compress(r, mtime=0) for r in records)
    return b"".join(records)


def extract_captures(archive: bytes) -> list[dict]:
    """Parse a two-crawl archive into typed capture rows: ``response``
    records run through the extraction kernel (mirror captures get
    ``capture_id = doc_id + 1_000_000``); ``revisit`` records surface
    with their header digest and NO text — resolving them requires
    the corpus-wide digest join, which is Spark's job, not the
    reader's (the referred capture is in another archive at scale)."""
    rows: list[dict] = []
    for rec in parse_warc(archive):
        digest = rec["headers"].get("warc-payload-digest", "")
        if rec["type"] == "response":
            m = _MIRROR_URL_RE.search(rec["url"])
            if m is not None:
                capture_id = int(m.group(1)) + _MIRROR_CAPTURE_OFFSET
                doc_id = int(m.group(1))
            else:
                m = _URL_RE.search(rec["url"])
                if not m:
                    continue
                capture_id = doc_id = int(m.group(1))
            result = extract_document(rec["payload"], DEFAULT_CONFIG)
            rows.append({
                "capture_id": capture_id, "doc_id": doc_id,
                "kind": "response", "warc_ts": rec["date"],
                "digest": digest,
                "extracted_text": result["extracted_text"],
            })
        elif rec["type"] == "revisit":
            m = _URL_RE.search(rec["url"])
            if not m:
                continue
            rows.append({
                "capture_id": None, "doc_id": int(m.group(1)),
                "kind": "revisit", "warc_ts": rec["date"],
                "digest": digest, "extracted_text": None,
            })
    return rows


CAPTURES_SCHEMA = (
    "capture_id long, doc_id long, kind string, warc_ts string, "
    "digest string, extracted_text string"
)


def _captures_rows(gid: int, pages: list) -> list[dict]:
    return extract_captures(
        build_crawl_archive(pages, gzip_members=(gid % 2 == 0))
    )


def resolve_revisits(docs: DataFrame,
                     num_partitions: int | None = None) -> DataFrame:
    """(doc_id, warc_ts, status, src_capture, extracted_text) — every
    revisit resolved against the corpus's response captures by
    payload digest, earliest capture winning (warc_ts is ISO-8601 so
    string order IS time order; capture_id breaks ties); an alien
    digest surfaces status='unresolved' with NULLs, never a dropped
    row.

    Scale shape (100 TB contract): one Arrow parse pass feeds three
    legs (lazy localCheckpoint — Catalyst has no common-subplan
    reuse, and re-running the parse per leg would triple the
    dominant cost); the digest→winner aggregation and the
    revisit⋈digest join exchange only fixed-width (digest,
    capture_id) keys; extracted text moves exactly ONCE, on the
    final capture-id attach that the output itself requires."""
    import pyspark.sql.functions as F

    caps = map_groups(
        spread(docs, ["doc_id", "text"], num_partitions),
        _DOCS_PER_ARCHIVE, _captures_rows, CAPTURES_SCHEMA,
    ).localCheckpoint(eager=False)
    resp = caps.where(F.col("kind") == "response")
    winners = (
        resp.select("digest", "warc_ts", "capture_id")
        .groupBy("digest")
        .agg(F.min(F.struct("warc_ts", "capture_id")).alias("w"))
        .select("digest", F.col("w.capture_id").alias("src_capture"))
    )
    texts = resp.select(
        F.col("capture_id").alias("src_capture"),
        F.col("extracted_text").alias("src_text"),
    )
    rev = caps.where(F.col("kind") == "revisit").select(
        "doc_id", "warc_ts", "digest"
    )
    # sentinels, not NULLs, on the unresolved leg: hash-compare
    # harnesses treat numeric NULL as NaN (never equal to itself),
    # and `status` already carries the semantics
    return (
        rev.join(winners, "digest", "left")
        .join(texts, "src_capture", "left")
        .select(
            "doc_id", "warc_ts",
            F.when(F.col("src_capture").isNull(), F.lit("unresolved"))
            .otherwise(F.lit("resolved")).alias("status"),
            F.coalesce("src_capture", F.lit(-1)).alias("src_capture"),
            F.coalesce(F.col("src_text"), F.lit(""))
            .alias("extracted_text"),
        )
    )


def duck_revisits_sql(source: str = "documents") -> str:
    """Relational twin of the revisit resolution: digest equality is
    text equality (the digest is a pure function of the body), so the
    oracle rebuilds the capture set — every primary, plus a
    two-hours-earlier mirror for ``doc_id % 6 == 3`` — and picks the
    earliest capture per identical text.  This recomputes rather than
    asserts the winner, so it stays correct when the corpus contains
    genuinely duplicate texts (sf0.1 has 8) where the winner is
    another document's capture entirely."""
    return f"""
WITH caps AS (
  SELECT doc_id AS capture_id, text, doc_id AS ts_s FROM {source}
  UNION ALL
  SELECT doc_id + {_MIRROR_CAPTURE_OFFSET}, text, doc_id - 7200
  FROM {source} WHERE doc_id % 6 = 3
), winners AS (
  SELECT text, capture_id,
         row_number() OVER (PARTITION BY text
                            ORDER BY ts_s, capture_id) AS rn
  FROM caps
)
SELECT d.doc_id,
  strftime(TIMESTAMP '2024-01-01 00:00:00'
           + d.doc_id * INTERVAL 1 SECOND + INTERVAL 1 DAY,
           '%Y-%m-%dT%H:%M:%SZ') AS warc_ts,
  CASE WHEN d.doc_id % 20 = 13 THEN 'unresolved'
       ELSE 'resolved' END AS status,
  CASE WHEN d.doc_id % 20 = 13 THEN -1
       ELSE w.capture_id END AS src_capture,
  CASE WHEN d.doc_id % 20 = 13 THEN ''
       ELSE d.text END AS extracted_text
FROM {source} d
JOIN winners w ON w.text = d.text AND w.rn = 1
WHERE d.doc_id % 4 = 1
"""


# ================================================== conditional fetch

# The PRE-fetch twin of revisit records: a crawler that kept the
# previous capture's validators (ETag / Last-Modified) revalidates
# with If-None-Match and the origin answers ``304 Not Modified`` with
# NO body (RFC 9110 §15.4.5) — the capture is stored as a response
# record whose HTTP payload is just the 304 status line + headers
# (Heritrix stores these; the body must come from crawler state).
# Fixture schedule for the second crawl, dated two days after the
# first: ``doc_id % 3 == 0`` revalidates (304, body-less, ETag
# echoed), everything else refetches (200, body = text + " updated").
# Trap: ``doc_id % 21 == 6`` is a 304 for a URL the prior corpus
# never captured (evicted state / crawler bug) — it must surface as
# 'orphan' with no text, never resolve or vanish.

_ORPHAN_URL_OFFSET = 5_000_000


def _etag(text: str) -> str:
    return '"' + md5(wrap_html(text)).hexdigest()[:16] + '"'


def build_recrawl_archive(pages: list[tuple[int, str]],
                          gzip_members: bool = True) -> bytes:
    """``pages`` = [(doc_id, text)] (the PRIOR crawl's rows) → the
    second crawl's WARC bytes under the schedule above."""
    records: list[bytes] = []
    records.append(warc_record("warcinfo", {
        "WARC-Record-ID": _record_id("info", "recrawl-archive"),
        "WARC-Date": _warc_date(0),
        "Content-Type": "application/warc-fields",
    }, b"software: pdf-extractor-spark warc writer\r\n"))
    for doc_id, text in pages:
        date = _warc_date_at(doc_id + 2 * 86400)
        if doc_id % 3 == 0:
            url_id = (doc_id + _ORPHAN_URL_OFFSET
                      if doc_id % 21 == 6 else doc_id)
            payload = (b"HTTP/1.1 304 Not Modified\r\n"
                       b"ETag: " + _etag(text).encode() + _CRLF
                       + b"Date: " + date.encode() + _CRLF + _CRLF)
            records.append(warc_record("response", {
                "WARC-Record-ID": _record_id(
                    "reval", _URL_FMT.format(url_id)
                ),
                "WARC-Date": date,
                "WARC-Target-URI": _URL_FMT.format(url_id),
                "Content-Type": "application/http; msgtype=response",
            }, payload))
        else:
            body = wrap_html(text + " updated")
            headers = (b"HTTP/1.1 200 OK\r\n"
                       b"Content-Type: text/html; charset=utf-8\r\n"
                       b"ETag: " + _etag(text + " updated").encode()
                       + _CRLF
                       + b"Content-Length: "
                       + str(len(body)).encode() + _CRLF + _CRLF)
            records.append(warc_record("response", {
                "WARC-Record-ID": _record_id(
                    "refetch", _URL_FMT.format(doc_id)
                ),
                "WARC-Date": date,
                "WARC-Target-URI": _URL_FMT.format(doc_id),
                "Content-Type": "application/http; msgtype=response",
            }, headers + body))
    if gzip_members:
        return b"".join(gzip.compress(r, mtime=0) for r in records)
    return b"".join(records)


_STATUS_RE = re.compile(rb"^HTTP/\d\.\d\s+(\d{3})")


def extract_recrawl(archive: bytes) -> list[dict]:
    """Second-crawl archive → rows ``{"doc_id", "http_status",
    "warc_ts", "etag", "new_text"}``: a 200 runs the extraction
    kernel; a 304 carries NO text (``new_text`` None) — filling it is
    the corpus join's job, the prior capture lives in crawler state,
    not this archive."""
    rows: list[dict] = []
    for rec in parse_warc(archive):
        if rec["type"] != "response":
            continue
        m = _URL_RE.search(rec["url"])
        if not m:
            continue
        sm = _STATUS_RE.match(rec["payload"])
        status = int(sm.group(1)) if sm else 200
        head_end = header_end(rec["payload"])[0]
        http_headers = parse_headers(
            rec["payload"][:head_end] if head_end >= 0
            else rec["payload"]
        )
        if status == 304:
            text = None
        else:
            text = extract_document(
                rec["payload"], DEFAULT_CONFIG
            )["extracted_text"]
        rows.append({
            "doc_id": int(m.group(1)), "http_status": status,
            "warc_ts": rec["date"],
            "etag": http_headers.get("etag", ""),
            "new_text": text,
        })
    return rows


RECRAWL_SCHEMA = (
    "doc_id long, http_status int, warc_ts string, etag string, "
    "new_text string"
)


def _recrawl_rows(gid: int, pages: list) -> list[dict]:
    return extract_recrawl(
        build_recrawl_archive(pages, gzip_members=(gid % 2 == 0))
    )


def process_recrawl(docs: DataFrame,
                    num_partitions: int | None = None) -> DataFrame:
    """(doc_id, http_status, warc_ts, origin, extracted_text) — the
    second crawl merged with crawler state: a 200 keeps its freshly
    extracted body ('refetched'); a 304 carries the PRIOR capture's
    text forward ('revalidated'); a 304 whose URL has no prior
    capture is 'orphan' with empty text, never dropped.

    Scale shape (100 TB contract): one Arrow parse pass; the state
    attach is a single doc_id equi-join against the prior corpus —
    prior text moves exactly once, and only for rows that need it
    (the join's left side projects 304 rows to fixed-width keys; 200
    rows never touch the state table)."""
    import pyspark.sql.functions as F

    recs = map_groups(
        spread(docs, ["doc_id", "text"], num_partitions),
        _DOCS_PER_ARCHIVE, _recrawl_rows, RECRAWL_SCHEMA,
    )
    fetched = recs.where(F.col("http_status") != 304).select(
        "doc_id", "http_status", "warc_ts",
        F.lit("refetched").alias("origin"),
        F.col("new_text").alias("extracted_text"),
    )
    prior = docs.select(
        "doc_id", F.col("text").alias("prior_text")
    )
    revalidated = (
        recs.where(F.col("http_status") == 304)
        .select("doc_id", "http_status", "warc_ts")
        .join(prior, "doc_id", "left")
        .select(
            "doc_id", "http_status", "warc_ts",
            F.when(F.col("prior_text").isNull(), F.lit("orphan"))
            .otherwise(F.lit("revalidated")).alias("origin"),
            F.coalesce("prior_text", F.lit(""))
            .alias("extracted_text"),
        )
    )
    return fetched.unionByName(revalidated)


def duck_recrawl_sql(source: str = "documents") -> str:
    """Closed-form twin of the recrawl schedule: 304s carry the prior
    text forward, 200s extract ``text || ' updated'``, and the
    orphan-304 trap (a URL the prior corpus never captured) surfaces
    with its shifted id and empty text."""
    return f"""
SELECT doc_id,
  CAST(CASE WHEN doc_id % 3 = 0 THEN 304 ELSE 200 END AS INT)
    AS http_status,
  strftime(TIMESTAMP '2024-01-01 00:00:00'
           + doc_id * INTERVAL 1 SECOND + INTERVAL 2 DAY,
           '%Y-%m-%dT%H:%M:%SZ') AS warc_ts,
  CASE WHEN doc_id % 3 = 0 THEN 'revalidated'
       ELSE 'refetched' END AS origin,
  CASE WHEN doc_id % 3 = 0 THEN text
       ELSE text || ' updated' END AS extracted_text
FROM {source} WHERE doc_id % 21 <> 6
UNION ALL
SELECT doc_id + {_ORPHAN_URL_OFFSET}, 304,
  strftime(TIMESTAMP '2024-01-01 00:00:00'
           + doc_id * INTERVAL 1 SECOND + INTERVAL 2 DAY,
           '%Y-%m-%dT%H:%M:%SZ'),
  'orphan', ''
FROM {source} WHERE doc_id % 21 = 6
"""
