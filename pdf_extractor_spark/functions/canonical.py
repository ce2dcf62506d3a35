"""Canonical-link / meta-refresh harvesting through the real parser.

The redirect edges a crawl follows are not given — they are HARVESTED
while parsing: ``<link rel="canonical">`` declares the preferred URL
of duplicate pages, and ``<meta http-equiv="refresh" content="N;
url=…">`` is the in-document redirect legacy sites still use.  This
operator exercises the real path: each document wraps into a page
whose head carries the directives (plus traps — a template-wrapped
refresh that is inert per WHATWG, and a bare-number self-reload with
no target), ``operators.html_extract.harvest_directives`` recovers
them through the same decode + quote-repair + parse pipeline as
extraction, and the WHATWG refresh grammar (quoted/unquoted targets,
``URL=`` in any case, ``;`` or ``,`` separators) is parsed by
``parse_refresh``.

The synthesized refresh targets use the SAME arithmetic as
``redirects.redirect_edges`` — so the harvested refresh graph IS the
redirect resolver's input graph, and a unit test pins the two
together row for row (the anchors ↔ linkgraph pattern).

Scale shape (100 TB contract): harvesting rides the extraction pass
(one Arrow stage — in production directives come out of the same
parse that produces the text, zero extra scans); output rows are
fixed-width (doc_id, kind, target id, delay).  Nothing shuffles —
the catalog query emits the per-document edge rows directly.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

from ..operators.html_extract import harvest_directives, parse_refresh
from ..plans.pipeline import map_rows, spread
from .redirects import _DUCK_NEXT_T, next_hop

_TARGET_ID_RE = re.compile(r"/(?:page|canon)/(\d+)$")


def refresh_content(doc_id: int) -> str:
    """The meta-refresh value, rotating through the grammar variants
    real pages emit (unquoted / single-quoted upper-case URL= /
    comma-separated double-quoted)."""
    t = next_hop(doc_id)
    url = f"https://site{t % 20}.example/page/{t}"
    d = doc_id % 7
    v = (doc_id // 3) % 3
    if v == 0:
        return f"{d}; url={url}"
    if v == 1:
        return f"{d};URL='{url}'"
    return f'{d}, url="{url}"'


def wrap_html_directives(text: str, doc_id: int) -> bytes:
    """Page whose head carries the doc's directives plus inert traps
    the harvester must NOT emit."""
    import html as _html

    head = ["<title>d</title>"]
    if doc_id % 4 == 0:
        rel = "alternate canonical" if doc_id % 8 == 0 else "canonical"
        head.append(
            f"<link rel='{rel}' "
            f"href='https://site{doc_id % 20}.example/canon/{doc_id}'>"
        )
    if doc_id % 3 == 1:
        content = refresh_content(doc_id)
        # the content itself may carry either quote style — pick the
        # attribute quote that doesn't collide
        q = '"' if "'" in content else "'"
        head.append(
            f"<meta http-equiv={q}Refresh{q} content={q}{content}{q}>"
        )
    if doc_id % 12 == 6:  # self-reload: parses, but yields no edge
        head.append("<meta http-equiv='refresh' content='30'>")
    if doc_id % 6 == 2:   # template contents are not in the document
        head.append(
            "<template><meta http-equiv='refresh' "
            "content='0; url=https://evil.example/trap'></template>"
        )
    return (
        f"<html><head>{''.join(head)}</head><body>"
        f"<p>{_html.escape(text)}</p></body></html>"
    ).encode("utf-8")


REDIRECT_EDGE_SCHEMA = ("doc_id long, kind string, target_id long,"
                        " delay_s int")


def _directive_rows(doc_id: int, text: str) -> list[tuple]:
    out = []
    for kind, value in harvest_directives(
        wrap_html_directives(text, doc_id)
    ):
        if kind == "canonical":
            url, delay = value, -1
        elif kind == "refresh":
            parsed = parse_refresh(value)
            if parsed is None or parsed[1] is None:
                continue  # self-reload / garbage: no edge
            delay, url = parsed
        else:
            continue  # other directive kinds (e.g. robots)
        m = _TARGET_ID_RE.search(url)
        if m:
            out.append((doc_id, kind, int(m.group(1)), delay))
    return out


def html_redirect_edges(docs: DataFrame,
                        num_partitions: int | None = None) -> DataFrame:
    """(doc_id, kind, target_id, delay_s) — canonical/refresh edges
    recovered from page heads by the real parser."""
    return map_rows(spread(docs, ["doc_id", "text"], num_partitions),
                    _directive_rows, REDIRECT_EDGE_SCHEMA)


def duck_canonical_sql(source: str = "documents") -> str:
    """Closed-form twin of the wrapper construction: canonical rows
    for every fourth doc (self-canonical), refresh rows re-deriving
    the redirect-edge arithmetic; traps contribute nothing."""
    nxt = _DUCK_NEXT_T.format(s="doc_id")
    return f"""
SELECT doc_id, 'canonical' AS kind, doc_id AS target_id,
       CAST(-1 AS INT) AS delay_s
FROM {source} WHERE doc_id % 4 = 0
UNION ALL
SELECT doc_id, 'refresh' AS kind, {nxt} AS target_id,
       CAST(doc_id % 7 AS INT) AS delay_s
FROM {source} WHERE doc_id % 3 = 1
"""
