"""Page-level REP: ``<meta name="robots">`` + ``X-Robots-Tag`` —
the publisher opt-out signal a training corpus must honor per page.

robots.txt (``functions/robots.py``) governs FETCHING; the robots
meta tag and the ``X-Robots-Tag`` response header govern what may be
done with a fetched page: ``noindex`` pages must be dropped from the
corpus (the per-page opt-out), and ``nofollow`` pages' outlinks must
not feed the frontier or the link graph.  Every serious crawl
pipeline (and the REP as documented publicly by the search engines)
combines BOTH channels, restrictive-wins:

    token grammar: comma-separated, case-insensitive, whitespace
    tolerant; ``none`` ≡ ``noindex, nofollow``; ``all`` / ``index``
    / ``follow`` are affirmative no-ops.

The meta channel goes through the REAL parser
(``operators.html_extract.harvest_directives`` — same decode +
quote-repair + parse pipeline as extraction), which is what makes
template inertness work: a robots meta inside ``<template>`` is not
in the document per WHATWG and must be ignored — a regex scraper
gets that wrong, the parser proves it right (fixture variant 7).
The header channel is parsed NATIVELY from the raw response-header
blob with one regexp per engine (case-insensitive header name, token
scan within the value) — no Python for bytes that never need a DOM.

Effect composition: ``followable`` gates the anchor/link-graph
harvest — a unit test pins that filtering synthesized anchor edges
by this operator's verdicts equals harvesting only the followable
pages, tying page-level REP into the discovery stack the same way
anchors ↔ linkgraph and refresh ↔ redirects are pinned.

Scale shape (100 TB contract): the meta leg rides the extraction
pass (one Arrow stage, zero extra scans in production); the header
leg is a narrow native map; verdict rows are fixed-width booleans.
The catalog query emits per-document verdicts directly — no shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..operators.html_extract import harvest_directives
from ..plans.pipeline import map_rows, spread

#: fixture meta variants, doc_id % 8 (7 = template-wrapped, inert)
META_VARIANTS: dict[int, str | None] = {
    0: None,
    1: "index, follow",
    2: "noindex",
    3: " NoFollow ",
    4: "noindex, nofollow",
    5: "NONE",
    6: "all",
    7: "noindex",  # inside <template> — must be ignored
}


def parse_robots_tokens(content: str) -> tuple[bool, bool]:
    """REP token grammar → (noindex, nofollow)."""
    toks = {t.strip().lower() for t in content.split(",")}
    noindex = "noindex" in toks or "none" in toks
    nofollow = "nofollow" in toks or "none" in toks
    return noindex, nofollow


def wrap_html_robots(text: str, doc_id: int) -> bytes:
    """Page whose head carries the doc's robots-meta variant."""
    import html as _html

    v = doc_id % 8
    content = META_VARIANTS[v]
    head = ["<title>d</title>"]
    if content is not None:
        meta = f"<meta name='robots' content='{content}'>"
        head.append(f"<template>{meta}</template>" if v == 7 else meta)
    return (
        f"<html><head>{''.join(head)}</head><body>"
        f"<p>{_html.escape(text)}</p></body></html>"
    ).encode("utf-8")


def synth_response_headers(docs: DataFrame) -> DataFrame:
    """(doc_id, text, hdrs): every fifth doc's response carries an
    ``X-Robots-Tag: noindex`` header (folded case in half of them)."""
    hdr = (
        F.when(
            (F.col("doc_id") % 5 == 0) & (F.col("doc_id") % 2 == 0),
            F.lit("X-Robots-Tag: noindex\r\n"),
        )
        .when(F.col("doc_id") % 5 == 0, F.lit("x-robots-tag: NONE\r\n"))
        .otherwise(F.lit(""))
    )
    return docs.select(
        "doc_id",
        "text",
        F.concat(
            F.lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"),
            hdr,
            F.lit("Content-Length: 0\r\n"),
        ).alias("hdrs"),
    )


META_SCHEMA = (
    "doc_id long, meta_noindex boolean, meta_nofollow boolean, "
    "hdr_noindex boolean"
)


def _meta_rows(doc_id: int, text: str, hdr_noindex: bool) -> list[tuple]:
    """Parse the page, OR the meta tokens together, and pass the
    natively-computed header verdict through unchanged."""
    noindex = nofollow = False
    for kind, value in harvest_directives(wrap_html_robots(text, doc_id)):
        if kind == "robots":
            ni, nf = parse_robots_tokens(value)
            noindex, nofollow = noindex or ni, nofollow or nf
    return [(doc_id, noindex, nofollow, hdr_noindex)]


#: header-channel extraction (native): header VALUE up to CRLF, then
#: the token scan — Java and RE2 forms are the same source text
_HDR_VALUE_RE = r"(?i)x-robots-tag:([^\r\n]*)"
_HDR_TOKEN_RE = r"(?i)(^|[,\s])(noindex|none)([,\s]|$)"


def meta_robots_verdicts(docs: DataFrame) -> DataFrame:
    """Per-document REP verdicts: meta channel through the real
    parser, header channel native, restrictive-wins combination —
    ONE pass: the native header verdict is computed before the id
    spread and rides through the Arrow stage (no join, the one
    exchange carries (doc_id, text, bool) rows).
    Returns (doc_id, meta_noindex, meta_nofollow, hdr_noindex,
    indexable, followable)."""
    with_flag = synth_response_headers(docs).select(
        "doc_id",
        "text",
        F.regexp_extract(F.col("hdrs"), _HDR_VALUE_RE, 1)
        .rlike(_HDR_TOKEN_RE)
        .alias("hdr_noindex"),
    )
    meta = map_rows(
        spread(with_flag, ["doc_id", "text", "hdr_noindex"]),
        _meta_rows, META_SCHEMA,
    )
    return meta.select(
        "doc_id",
        "meta_noindex",
        "meta_nofollow",
        "hdr_noindex",
        (~(F.col("meta_noindex") | F.col("hdr_noindex"))).alias(
            "indexable"
        ),
        (~F.col("meta_nofollow")).alias("followable"),
    ).orderBy("doc_id")


def duck_meta_robots_sql(source: str = "documents") -> str:
    """Closed-form twin of the variant tables: meta flags from
    ``doc_id % 8`` (variant 7 inert), header flag from
    ``doc_id % 5``, same restrictive-wins combination."""
    return f"""
WITH v AS (
  SELECT doc_id,
         doc_id % 8 IN (2, 4, 5)          AS meta_noindex,
         doc_id % 8 IN (3, 4, 5)          AS meta_nofollow,
         doc_id % 5 = 0                   AS hdr_noindex
  FROM {source}
)
SELECT doc_id, meta_noindex, meta_nofollow, hdr_noindex,
       NOT (meta_noindex OR hdr_noindex) AS indexable,
       NOT meta_nofollow                 AS followable
FROM v ORDER BY doc_id
"""
