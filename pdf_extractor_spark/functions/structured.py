"""Structured-data harvesting: Open Graph metas + JSON-LD islands.

Real pipelines mine page metadata as hard as page text: Open Graph
``<meta property=…>`` pairs carry titles/types/dates the body often
lacks, and schema.org JSON-LD (``<script type="application/ld+json">``)
is the machine-readable article record most news/product pages embed.
This operator exercises the REAL path end to end: each document wraps
into a page whose head carries both surfaces (plus traps),
``operators.html_extract.harvest_structured`` recovers them through
the same decode + quote-repair + parse pipeline as extraction, and
the JSON-LD bodies go through a strict ``json.loads`` with typed
skip-on-malformed (a truncated island must cost ITS rows only, never
the page or the batch).

Traps the harvester must survive (all exercised by the wrapper):

- ``<script type="application/json">`` — well-formed JSON, wrong MIME
  essence: NOT JSON-LD, never harvested.
- a malformed JSON-LD island (truncated object) next to a valid one:
  the valid island's rows still come out.
- ``<template>``-wrapped Open Graph metas: inert per WHATWG.
- the type attribute with parameters and odd case
  (``APPLICATION/LD+JSON; charset=utf-8``): still JSON-LD — MIME
  essence match, not string equality.
- ``@graph`` envelopes: records live one level down.
- ``\\u``-escaped characters inside JSON strings must decode (the
  oracle pins the decoded literal).

Scale shape (100 TB contract): harvesting rides the extraction pass —
in production these rows come out of the SAME parse that produces the
text, zero extra scans; output rows are narrow (doc_id, src, key,
value) and nothing shuffles until a consumer aggregates.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame

from ..operators.html_extract import harvest_structured
from ..plans.pipeline import map_rows, spread

# JSON-LD keys a training pipeline actually budgets on; author
# flattens one level (dict -> author.name, bare string -> author)
_LD_KEYS = ("@type", "headline", "name", "datePublished", "wordCount")


def _og_type(doc_id: int) -> str:
    return "article" if doc_id % 2 == 0 else "website"


def _published(doc_id: int) -> str:
    return f"2025-{doc_id % 12 + 1:02d}-{doc_id % 28 + 1:02d}"


def wrap_html_structured(text: str, doc_id: int) -> bytes:
    """Deterministic page whose head carries the doc's structured
    data plus the traps listed in the module docstring."""
    import html as _html

    head = [
        "<title>d</title>",
        f'<meta property="og:title" '
        f'content="Doc {doc_id} of site{doc_id % 20}">',
        f'<meta property="og:type" content="{_og_type(doc_id)}">',
    ]
    if doc_id % 3 == 0:
        head.append(
            f'<meta property="article:published_time" '
            f'content="{_published(doc_id)}">'
        )
    if doc_id % 6 == 3:  # template contents are not in the document
        head.append(
            '<template><meta property="og:title" content="trap">'
            "</template>"
        )
    if doc_id % 5 == 0:  # plain JSON, wrong essence: not JSON-LD
        head.append(
            '<script type="application/json">{"not": "ldjson"}</script>'
        )
    if doc_id % 7 == 0:  # malformed island: its rows only are lost
        head.append(
            '<script type="application/ld+json">{"@type": "Broken",'
            "</script>"
        )
    if doc_id % 2 == 0:
        body: dict = {
            "@context": "https://schema.org",
            "@type": "Article",
            "headline": f"Doc — {doc_id}",  # \u-escape in output
            "author": {"@type": "Person", "name": f"Author {doc_id % 50}"},
            "wordCount": doc_id % 1000,
        }
        if doc_id % 8 == 4:  # @graph envelope
            body = {"@context": "https://schema.org", "@graph": [body]}
        stype = (
            "application/ld+json"
            if doc_id % 4 == 0
            else "APPLICATION/LD+JSON; charset=utf-8"
        )
        head.append(
            f'<script type="{stype}">'
            + json.dumps(body, ensure_ascii=True)
            + "</script>"
        )
    body_parts = [f"<p>{_html.escape(text)}</p>"]
    if doc_id % 2 == 1:
        # odd docs carry MICRODATA instead of JSON-LD — real pages
        # typically use one channel or the other; the harvest must
        # recover both. Covers every value rule: @type from
        # itemscope/itemtype, text content (h1/span), meta→content,
        # a→href.
        body_parts.append(
            '<div itemscope itemtype="https://schema.org/Article">'
            f'<h1 itemprop="headline">Doc — {doc_id}</h1>'
            f'<meta itemprop="wordCount" content="{doc_id % 1000}">'
            f'<a itemprop="url" href="/d/{doc_id}">permalink</a>'
            f'<span itemprop="author">Author {doc_id % 50}</span>'
            "</div>"
        )
    if doc_id % 9 == 2:  # template-wrapped microdata: inert
        body_parts.append(
            '<template><span itemprop="trap">never</span></template>'
        )
    return (
        f"<html><head>{''.join(head)}</head><body>"
        f"{''.join(body_parts)}</body></html>"
    ).encode("utf-8")


def ldjson_rows(raw: str) -> list[tuple[str, str]]:
    """One island's raw body -> flat (key, value) rows. Malformed
    JSON or a non-object payload yields [] (typed skip — the page's
    other islands and metas are unaffected)."""
    try:
        obj = json.loads(raw)
    except ValueError:
        return []
    if isinstance(obj, dict) and isinstance(obj.get("@graph"), list):
        records = [r for r in obj["@graph"] if isinstance(r, dict)]
    elif isinstance(obj, list):
        records = [r for r in obj if isinstance(r, dict)]
    elif isinstance(obj, dict):
        records = [obj]
    else:
        return []
    rows: list[tuple[str, str]] = []
    for rec in records:
        for key in _LD_KEYS:
            val = rec.get(key)
            if isinstance(val, str):
                rows.append((key, val))
            elif isinstance(val, (int, float)) and not isinstance(
                val, bool
            ):
                rows.append((key, str(val)))
        author = rec.get("author")
        if isinstance(author, dict) and isinstance(
            author.get("name"), str
        ):
            rows.append(("author.name", author["name"]))
        elif isinstance(author, str):
            rows.append(("author", author))
    return rows


STRUCTURED_SCHEMA = "doc_id long, src string, key string, value string"


def _structured_rows(doc_id: int, text: str) -> list[tuple]:
    metas, islands, micro = harvest_structured(
        wrap_html_structured(text, doc_id)
    )
    rows = [(doc_id, "meta", key, value) for key, value in metas]
    for raw in islands:
        rows.extend((doc_id, "jsonld", k, v) for k, v in ldjson_rows(raw))
    rows.extend((doc_id, "microdata", key, value) for key, value in micro)
    return rows


def structured_data(docs: DataFrame,
                    num_partitions: int | None = None) -> DataFrame:
    """(doc_id, src, key, value) — Open Graph + JSON-LD rows
    recovered from page heads by the real parser."""
    return map_rows(spread(docs, ["doc_id", "text"], num_partitions),
                    _structured_rows, STRUCTURED_SCHEMA)


def duck_structured_sql(source: str = "documents") -> str:
    """Closed-form twin of the wrapper construction. The traps
    contribute nothing; the malformed island costs nothing because it
    never had rows of its own."""
    return f"""
SELECT doc_id, 'meta' AS src, 'og:title' AS key,
       'Doc ' || doc_id || ' of site' || (doc_id % 20) AS value
FROM {source}
UNION ALL
SELECT doc_id, 'meta', 'og:type',
       CASE WHEN doc_id % 2 = 0 THEN 'article' ELSE 'website' END
FROM {source}
UNION ALL
SELECT doc_id, 'meta', 'article:published_time',
       '2025-' || lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0')
       || '-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
FROM {source} WHERE doc_id % 3 = 0
UNION ALL
SELECT doc_id, 'jsonld', '@type', 'Article'
FROM {source} WHERE doc_id % 2 = 0
UNION ALL
SELECT doc_id, 'jsonld', 'headline',
       'Doc ' || chr(8212) || ' ' || doc_id
FROM {source} WHERE doc_id % 2 = 0
UNION ALL
SELECT doc_id, 'jsonld', 'wordCount', CAST(doc_id % 1000 AS VARCHAR)
FROM {source} WHERE doc_id % 2 = 0
UNION ALL
SELECT doc_id, 'jsonld', 'author.name', 'Author ' || (doc_id % 50)
FROM {source} WHERE doc_id % 2 = 0
UNION ALL
SELECT doc_id, 'microdata', '@type', 'https://schema.org/Article'
FROM {source} WHERE doc_id % 2 = 1
UNION ALL
SELECT doc_id, 'microdata', 'headline',
       'Doc ' || chr(8212) || ' ' || doc_id
FROM {source} WHERE doc_id % 2 = 1
UNION ALL
SELECT doc_id, 'microdata', 'wordCount',
       CAST(doc_id % 1000 AS VARCHAR)
FROM {source} WHERE doc_id % 2 = 1
UNION ALL
SELECT doc_id, 'microdata', 'url', '/d/' || doc_id
FROM {source} WHERE doc_id % 2 = 1
UNION ALL
SELECT doc_id, 'microdata', 'author', 'Author ' || (doc_id % 50)
FROM {source} WHERE doc_id % 2 = 1
"""
