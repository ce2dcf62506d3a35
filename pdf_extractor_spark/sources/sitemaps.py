"""From-scratch XML sitemap source (sitemaps.org protocol 0.9).

Crawl discovery starts at sitemaps: a ``<sitemapindex>`` pointing at
child ``<urlset>`` documents, each ``<url>`` carrying ``<loc>`` (the
entity-escaped URL), optional ``<lastmod>`` (W3C datetime), optional
``<changefreq>`` and ``<priority>`` (default 0.5 per the protocol).
The incremental-crawl decision — "which URLs changed since the last
snapshot?" — is a filter on the PARSED lastmod, so the oracle closes
over the whole two-level framing loop: index parse → child lookup →
urlset parse → entity unescape → datetime parse → cutoff predicate.

Protocol details exercised for real, not assumed:

- ``<loc>`` values are XML-entity-escaped (``&`` → ``&amp;`` — the
  protocol REQUIRES escaping); URLs with query strings roundtrip
  through escape/unescape.
- ``<priority>`` is optional with a spec'd default of 0.5.
- ``<changefreq>`` is optional (reported as ``'unset'`` when absent
  so the column stays non-null for the engine compare).
- whitespace padding inside value tags is insignificant and stripped.
- an index may point only at urlsets — a nested ``<sitemapindex>``
  is a protocol violation and is skipped loudly (counted, not
  silently followed), capping traversal depth at the spec's 2.

Spark stage: one Arrow pass (``plans.pipeline.map_groups``) —
each group of 32 doc_ids synthesizes into one sitemapindex + 4 child
urlsets, the reader walks index → children → url entries, and every
output field is recovered FROM the XML; nothing rides along from the
input row, so a field the parser drops or mangles fails the DuckDB
twin row-for-row.

Scale shape (100 TB contract): sitemap files are bounded by protocol
(≤ 50k URLs / 50 MB per file), so the parse is a narrow bounded-batch
map like the WARC and feed sources; the output rows are fixed-width
(url + three small fields) and the incremental filter runs
scan-local before anything shuffles.

No reference counterpart (the reference is a single-document
extractor; discovery layers are out of its scope) — this extends the
WARC/robots/feeds discovery surface from the task brief's web-scale
axis.
"""

from __future__ import annotations

import html as _html
import re
from datetime import datetime, timedelta

from pyspark.sql import DataFrame

from ..plans.pipeline import map_groups, spread

from .feeds import tag_field

SITEMAP_EPOCH = datetime(2024, 1, 1)
_URLS_PER_MAP = 8
_MAPS_PER_INDEX = 4
DOCS_PER_INDEX = _URLS_PER_MAP * _MAPS_PER_INDEX

# lastmod offset seconds past the epoch — multiplied/wrapped so the
# cutoff predicate depends on the PARSED value, not on doc_id order
LASTMOD_MOD = 100_000
LASTMOD_MULT = 37
NEW_CUTOFF = 50_000  # "changed since last snapshot" ⇔ offset > this

_CHANGEFREQS = ("always", "hourly", "daily", "weekly", "monthly",
                "yearly")
DEFAULT_PRIORITY_X10 = 5  # protocol default priority 0.5

_URL_ID_RE = re.compile(r"/page/(\d+)(?:\?|$)")


def _lastmod_offset(doc_id: int) -> int:
    return (doc_id * LASTMOD_MULT) % LASTMOD_MOD


def w3c_datetime(offset: int) -> str:
    """W3C datetime (the sitemaps.org lastmod format, full form)."""
    return (SITEMAP_EPOCH + timedelta(seconds=offset)).strftime(
        "%Y-%m-%dT%H:%M:%SZ"
    )


def page_url(doc_id: int) -> str:
    """The UNESCAPED url; every fifth doc carries a query string so
    the XML entity escape/unescape loop is actually exercised."""
    base = f"https://h{doc_id % 50}.example/page/{doc_id}"
    if doc_id % 5 == 0:
        base += f"?ref=sm&v={doc_id % 7}"
    return base


# ============================================================== writer

def _xml_escape(url: str) -> str:
    return (url.replace("&", "&amp;").replace("<", "&lt;")
            .replace(">", "&gt;"))


def build_urlset(doc_ids: list[int]) -> bytes:
    entries = []
    for doc_id in doc_ids:
        loc = _xml_escape(page_url(doc_id))
        # every third entry pads the loc with whitespace the parser
        # must strip (insignificant per XML)
        if doc_id % 3 == 0:
            loc = f"\n      {loc}\n    "
        fields = [f"<loc>{loc}</loc>",
                  f"<lastmod>{w3c_datetime(_lastmod_offset(doc_id))}"
                  "</lastmod>"]
        if doc_id % 7 != 6:
            fields.append(
                f"<changefreq>{_CHANGEFREQS[doc_id % 7]}</changefreq>"
            )
        if doc_id % 11 != 10:  # omitted → protocol default 0.5
            fields.append(
                f"<priority>{(doc_id % 11) / 10:.1f}</priority>"
            )
        entries.append("<url>" + "".join(fields) + "</url>")
    doc = ('<?xml version="1.0" encoding="UTF-8"?>'
           '<urlset xmlns="http://www.sitemaps.org/schemas/'
           'sitemap/0.9">' + "".join(entries) + "</urlset>")
    return doc.encode("utf-8")


def build_index(index_id: int,
                doc_ids: list[int]) -> tuple[bytes, dict[str, bytes]]:
    """One sitemapindex + its child urlsets keyed by child loc."""
    children: dict[str, bytes] = {}
    refs = []
    by_map: dict[int, list[int]] = {}
    for doc_id in doc_ids:
        by_map.setdefault(doc_id // _URLS_PER_MAP, []).append(doc_id)
    for map_id, ids in sorted(by_map.items()):
        loc = f"https://h.example/sitemap-{map_id}.xml"
        children[loc] = build_urlset(sorted(ids))
        refs.append(
            "<sitemap>"
            f"<loc>{loc}</loc>"
            f"<lastmod>{w3c_datetime(max(map(_lastmod_offset, ids)))}"
            "</lastmod></sitemap>"
        )
    doc = ('<?xml version="1.0" encoding="UTF-8"?>'
           '<sitemapindex xmlns="http://www.sitemaps.org/schemas/'
           'sitemap/0.9">' + "".join(refs) + "</sitemapindex>")
    return doc.encode("utf-8"), children


# ============================================================== reader

_SITEMAP_REF_RE = re.compile(rb"<sitemap[\s>].*?</sitemap>", re.DOTALL)
_URL_ENTRY_RE = re.compile(rb"<url[\s>].*?</url>", re.DOTALL)


def _field(block: bytes, tag: str) -> str | None:
    """:func:`feeds.tag_field` with sitemap value conventions applied
    (insignificant whitespace stripped, UTF-8 decode)."""
    raw = tag_field(block, tag)
    if raw is None:
        return None
    return raw.strip().decode("utf-8", "replace")


def parse_urlset(data: bytes) -> list[dict]:
    """urlset bytes → entry dicts with protocol defaults applied."""
    out = []
    for m in _URL_ENTRY_RE.finditer(data):
        block = m.group(0)
        loc = _field(block, "loc")
        if not loc:
            continue  # loc is the one REQUIRED field
        lastmod = _field(block, "lastmod")
        prio = _field(block, "priority")
        out.append({
            "url": _html.unescape(loc),
            "lastmod_offset": _parse_w3c(lastmod),
            "priority_x10": (DEFAULT_PRIORITY_X10 if prio is None
                             else round(float(prio) * 10)),
            "changefreq": _field(block, "changefreq") or "unset",
        })
    return out


def _parse_w3c(lastmod: str | None) -> int:
    """W3C datetime → seconds past the epoch (-1 = absent/garbled,
    loud in the oracle)."""
    if lastmod is None:
        return -1
    try:
        return int(
            (datetime.strptime(lastmod, "%Y-%m-%dT%H:%M:%SZ")
             - SITEMAP_EPOCH).total_seconds()
        )
    except ValueError:
        return -1


def parse_index(data: bytes,
                fetch: dict[str, bytes]) -> tuple[list[dict], int]:
    """sitemapindex bytes → (url entries across all children,
    violation count).  ``fetch`` resolves child locs (the fixture's
    stand-in for the HTTP fetch).  A child that is itself an index is
    a protocol violation (depth > 2) — counted and skipped, never
    followed."""
    entries: list[dict] = []
    violations = 0
    for m in _SITEMAP_REF_RE.finditer(data):
        loc = _field(m.group(0), "loc")
        if not loc:
            continue
        child = fetch.get(_html.unescape(loc))
        if child is None:
            violations += 1
            continue
        if b"<sitemapindex" in child[:256]:
            violations += 1
            continue
        entries.extend(parse_urlset(child))
    return entries, violations


# =========================================================== spark stage

SITEMAP_SCHEMA = ("doc_id long, lastmod_offset long, priority_x10 int,"
                  " changefreq string, url string, is_new boolean")


def _sitemap_rows(index_id: int, rows: list[tuple]) -> list[tuple]:
    index_xml, children = build_index(index_id, [d for d, in rows])
    entries, violations = parse_index(index_xml, children)
    if violations:  # fixture indexes are well-formed
        raise ValueError(f"sitemap index {index_id}: "
                         f"{violations} bad child refs")
    out = []
    for ent in entries:
        m = _URL_ID_RE.search(ent["url"])
        if m:
            off = ent["lastmod_offset"]
            out.append((
                int(m.group(1)), off, ent["priority_x10"],
                ent["changefreq"], ent["url"], off > NEW_CUTOFF,
            ))
    return out


def sitemap_roundtrip(docs: DataFrame,
                      num_partitions: int | None = None) -> DataFrame:
    """documents → sitemapindex + child urlsets → two-level parse →
    per-URL rows with the incremental-crawl verdict.  One Arrow stage
    after the doc-id spread; every output field recovered from XML.
    Only ``doc_id`` is spread, so the parquet scan prunes to one
    column."""
    return map_groups(spread(docs, ["doc_id"], num_partitions),
                      DOCS_PER_INDEX, _sitemap_rows, SITEMAP_SCHEMA)


def duck_sitemap_sql(source: str = "documents") -> str:
    """DuckDB twin: the closed form of the writer arithmetic — equal
    output proves the parse recovered every field exactly."""
    return f"""
SELECT doc_id,
       (doc_id * {LASTMOD_MULT}) % {LASTMOD_MOD} AS lastmod_offset,
       CAST(CASE WHEN doc_id % 11 = 10 THEN {DEFAULT_PRIORITY_X10}
                 ELSE doc_id % 11 END AS INT) AS priority_x10,
       CASE WHEN doc_id % 7 = 6 THEN 'unset'
            ELSE (['always','hourly','daily','weekly','monthly',
                   'yearly'])[CAST(doc_id % 7 AS INT) + 1]
       END AS changefreq,
       'https://h' || CAST(doc_id % 50 AS VARCHAR) || '.example/page/'
         || CAST(doc_id AS VARCHAR)
         || CASE WHEN doc_id % 5 = 0
                 THEN '?ref=sm&v=' || CAST(doc_id % 7 AS VARCHAR)
                 ELSE '' END AS url,
       ((doc_id * {LASTMOD_MULT}) % {LASTMOD_MOD}) > {NEW_CUTOFF}
         AS is_new
FROM {source}
"""
