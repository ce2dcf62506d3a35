"""From-scratch RSS 2.0 / Atom feed source feeding the extraction
kernel.

News/blog corpora arrive as syndication feeds: RSS 2.0 (RSS Advisory
Board spec) ``<channel><item>`` documents and Atom (RFC 4287)
``<feed><entry>`` documents, with payload HTML carried either
entity-escaped or inside ``<![CDATA[...]]]]>`` sections.  This module
owns the FEED layer only — item/entry framing, CDATA vs escaped
content recovery, link/date field extraction; the recovered item HTML
goes through ``operators.document.extract_document`` like any other
capture.

Spark stage: one Arrow pass (``plans.pipeline.map_groups``) —
documents synthesize into multi-item feeds (RSS for even doc_ids,
Atom for odd; CDATA vs escaped alternating by ``doc_id % 3``), parse
back, extract; doc_id and timestamp are recovered FROM the feed
(item link / pubDate / updated), so the DuckDB oracle closes over
the whole framing loop.
"""

from __future__ import annotations

import html as _html
import re
from datetime import datetime, timedelta

from pyspark.sql import DataFrame

from ..config import DEFAULT_CONFIG
from ..operators.document import extract_document
from ..plans.pipeline import map_groups, spread
from .docwrap import wrap_html

FEED_EPOCH = datetime(2024, 1, 1)
_URL_RE = re.compile(r"/doc/(\d+)$")
_ITEMS_PER_FEED = 6

# RFC 822 weekday/month names are locale-independent by construction
_WDAYS = ("Mon", "Tue", "Wed", "Thu", "Fri", "Sat", "Sun")
_MONTHS = ("Jan", "Feb", "Mar", "Apr", "May", "Jun",
           "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")


def _ts(doc_id: int) -> datetime:
    return FEED_EPOCH + timedelta(seconds=int(doc_id))


def rfc822_date(doc_id: int) -> str:
    """RSS 2.0 pubDate format (RFC 822 with 4-digit year)."""
    t = _ts(doc_id)
    return (f"{_WDAYS[t.weekday()]}, {t.day:02d} "
            f"{_MONTHS[t.month - 1]} {t.year} "
            f"{t.hour:02d}:{t.minute:02d}:{t.second:02d} GMT")


def rfc3339_date(doc_id: int) -> str:
    """Atom updated format (RFC 3339)."""
    return _ts(doc_id).strftime("%Y-%m-%dT%H:%M:%SZ")


# ============================================================== writer

def _payload_xml(text: str, doc_id: int) -> str:
    """Item HTML as feed content: CDATA for ``doc_id % 3 == 0``
    (splitting any ']]>' in the payload per the XML spec), entity-
    escaped otherwise."""
    page = wrap_html(text).decode("utf-8")
    if doc_id % 3 == 0:
        return "<![CDATA[" + page.replace("]]>", "]]]]><![CDATA[>") + "]]>"
    return _html.escape(page, quote=False)


def build_rss(pages: list[tuple[int, str]]) -> bytes:
    items = []
    for doc_id, text in pages:
        items.append(
            "<item>"
            f"<title>doc {doc_id}</title>"
            f"<link>https://feeds.example/doc/{doc_id}</link>"
            f"<pubDate>{rfc822_date(doc_id)}</pubDate>"
            f"<description>{_payload_xml(text, doc_id)}</description>"
            "</item>"
        )
    doc = ("<?xml version=\"1.0\" encoding=\"UTF-8\"?>"
           "<rss version=\"2.0\"><channel>"
           "<title>fixture feed</title>"
           "<link>https://feeds.example/</link>"
           "<description>synthetic</description>"
           + "".join(items) + "</channel></rss>")
    return doc.encode("utf-8")


def build_atom(pages: list[tuple[int, str]]) -> bytes:
    entries = []
    for doc_id, text in pages:
        cdata = doc_id % 3 == 0
        ctype = "html"  # both variants carry HTML per RFC 4287 §4.1.3
        entries.append(
            "<entry>"
            f"<title>doc {doc_id}</title>"
            f"<link href=\"https://feeds.example/doc/{doc_id}\"/>"
            f"<id>urn:doc:{doc_id}</id>"
            f"<updated>{rfc3339_date(doc_id)}</updated>"
            f"<content type=\"{ctype}\">"
            f"{_payload_xml(text, doc_id)}</content>"
            "</entry>"
        )
    doc = ("<?xml version=\"1.0\" encoding=\"UTF-8\"?>"
           "<feed xmlns=\"http://www.w3.org/2005/Atom\">"
           "<title>fixture feed</title>"
           "<updated>2024-01-01T00:00:00Z</updated>"
           "<id>urn:feed:fixture</id>"
           + "".join(entries) + "</feed>")
    return doc.encode("utf-8")


# ============================================================== reader

_ITEM_RE = re.compile(rb"<(item|entry)[\s>].*?</\1>", re.DOTALL)
_CDATA_RE = re.compile(rb"<!\[CDATA\[(.*?)]]>", re.DOTALL)


def tag_field(block: bytes, tag: str) -> bytes | None:
    """First ``<tag…>…</tag>`` content in ``block`` (shared by the
    feed and sitemap readers — one tag-scanner, one set of edge-case
    fixes)."""
    m = re.search(
        rb"<" + tag.encode() + rb"(?:\s[^>]*)?>(.*?)</"
        + tag.encode() + rb">",
        block, re.DOTALL,
    )
    return m.group(1) if m else None


_field = tag_field


def _attr_link(block: bytes) -> bytes | None:
    m = re.search(rb"<link[^>]*\bhref=[\"']([^\"']+)[\"']", block)
    return m.group(1) if m else None


def _content_html(raw: bytes) -> bytes:
    """Feed content → HTML bytes: CDATA sections are literal (joined
    across the ']]>' split convention); otherwise entity-unescape."""
    cdatas = _CDATA_RE.findall(raw)
    if cdatas:
        return b"".join(cdatas)
    return _html.unescape(
        raw.decode("utf-8", "replace")
    ).encode("utf-8")


def parse_feed(data: bytes) -> list[dict]:
    """Feed bytes → item dicts {"url", "date", "html"}.  Works for
    RSS 2.0 (<item>, pubDate, <link>text</link>, description) and
    Atom (<entry>, updated, <link href=…/>, content)."""
    items = []
    for m in _ITEM_RE.finditer(data):
        block = m.group(0)
        link = _field(block, "link")
        if not link or not link.strip():
            link = _attr_link(block)
        date = _field(block, "pubDate") or _field(block, "updated")
        raw = _field(block, "description")
        if raw is None:
            raw = _field(block, "content")
        if link is None or raw is None:
            continue
        items.append({
            "url": link.strip().decode("utf-8", "replace"),
            "date": (date or b"").strip().decode("utf-8", "replace"),
            "html": _content_html(raw),
        })
    return items


def extract_items(feed: bytes) -> list[dict]:
    rows = []
    for item in parse_feed(feed):
        m = _URL_RE.search(item["url"])
        if not m:
            continue
        doc_id = int(m.group(1))
        result = extract_document(item["html"], DEFAULT_CONFIG)
        rows.append({
            "doc_id": doc_id,
            # normalize both date formats back to the epoch offset so
            # ONE oracle covers RSS and Atom framing
            "ts_offset": _date_offset(item["date"]),
            "extracted_text": result["extracted_text"],
        })
    return rows


_RFC822_RE = re.compile(
    r"^(?:%s), (\d{2}) (%s) (\d{4}) (\d{2}):(\d{2}):(\d{2}) GMT$"
    % ("|".join(_WDAYS), "|".join(_MONTHS))
)


def _date_offset(date: str) -> int:
    """Either date format → seconds since FEED_EPOCH (-1 when
    unparseable, loud in the oracle).  The RFC 822 form is matched
    against the module's own name tables, NOT strptime %a/%b —
    strptime is locale-dependent and would reject English names
    under a non-English LC_TIME set by an embedding application."""
    m = _RFC822_RE.match(date)
    if m:
        day, mon, year, hh, mm, ss = m.groups()
        parsed = datetime(int(year), _MONTHS.index(mon) + 1,
                          int(day), int(hh), int(mm), int(ss))
        return int((parsed - FEED_EPOCH).total_seconds())
    try:
        return int(
            (datetime.strptime(date, "%Y-%m-%dT%H:%M:%SZ")
             - FEED_EPOCH).total_seconds()
        )
    except ValueError:
        return -1


# =========================================================== spark stage

FEED_ROUNDTRIP_SCHEMA = (
    "doc_id long, ts_offset long, extracted_text string"
)


def _feed_rows(gid: int, pages: list) -> list[dict]:
    build = build_rss if gid % 2 == 0 else build_atom
    return extract_items(build(pages))


def feed_roundtrip(docs: DataFrame,
                   num_partitions: int | None = None) -> DataFrame:
    """documents → multi-item RSS/Atom feeds (CDATA and escaped
    content variants) → parse → extract.  One Arrow stage after the
    doc-id spread; per-row output independent of Arrow batching."""
    return map_groups(
        spread(docs, ["doc_id", "text"], num_partitions),
        _ITEMS_PER_FEED, _feed_rows, FEED_ROUNDTRIP_SCHEMA,
    )
