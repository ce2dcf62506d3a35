"""RFC 3986 reference resolution + <base href> for the link harvest.

Real pages link relatively — ``../x/p``, ``/rooted``, ``?q=1``,
``//cdn.example/p`` — and a ``<base href>`` in the head retargets
every one of them (WHATWG: the FIRST base with an href wins;
anything inside ``<template>`` is inert).  A crawler that skips
relative references loses most of the intra-site graph, and one that
resolves them without the dot-segment algorithm (§5.2.4) builds
``/a/b/../c`` duplicates that DUST detection then has to clean up.
This module implements strict resolution per RFC 3986 §5.2 from the
public spec — parse via the appendix-B regex, merge paths, remove
dot segments — and the operator applies it to anchors harvested
through the REAL parser, against the page's harvested base (or its
own URL when no base is declared).

Scale shape (100 TB contract): resolution rides the harvest's Arrow
pass (string-local, no state); the output edge carries a resolved
fixed-grammar URL whose target id is extracted before any exchange.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

from ..operators.html_extract import harvest_anchors, harvest_directives
from ..plans.pipeline import map_rows, spread

# RFC 3986 appendix B
_URI_RE = re.compile(
    r"^(?:([^:/?#]+):)?(?://([^/?#]*))?([^?#]*)(?:\?([^#]*))?"
    r"(?:#(.*))?$"
)


def _split(uri: str) -> tuple[str | None, str | None, str,
                              str | None, str | None]:
    m = _URI_RE.match(uri)
    assert m is not None  # the regex matches any string
    return m.group(1), m.group(2), m.group(3), m.group(4), m.group(5)


def remove_dot_segments(inp: str) -> str:
    """§5.2.4, the spec's buffer algorithm verbatim."""
    output: list[str] = []
    while inp:
        if inp.startswith("../"):
            inp = inp[3:]
        elif inp.startswith("./"):
            inp = inp[2:]
        elif inp.startswith("/./"):
            inp = "/" + inp[3:]
        elif inp == "/.":
            inp = "/"
        elif inp.startswith("/../"):
            inp = "/" + inp[4:]
            if output:
                output.pop()
        elif inp == "/..":
            inp = "/"
            if output:
                output.pop()
        elif inp in (".", ".."):
            inp = ""
        else:
            i = inp.find("/", 1)
            if i == -1:
                output.append(inp)
                inp = ""
            else:
                output.append(inp[:i])
                inp = inp[i:]
    return "".join(output)


def _merge(base_auth: str | None, base_path: str, ref_path: str) -> str:
    """§5.2.3: a defined authority with an empty path merges as root;
    else the reference replaces the base path's last segment."""
    if base_auth is not None and base_path == "":
        return "/" + ref_path
    i = base_path.rfind("/")
    if i == -1:
        return ref_path
    return base_path[: i + 1] + ref_path


def resolve_ref(base: str, ref: str) -> str:
    """Strict transform-references algorithm (§5.2.2): returns the
    target URI composed per §5.3.  The fragment is preserved here;
    harvest-side callers drop it (a fragment names a secondary
    resource inside the same representation — never a fetch)."""
    b_scheme, b_auth, b_path, b_query, _b_frag = _split(base)
    r_scheme, r_auth, r_path, r_query, r_frag = _split(ref)
    if r_scheme is not None:
        t = (r_scheme, r_auth, remove_dot_segments(r_path), r_query)
    elif r_auth is not None:
        t = (b_scheme, r_auth, remove_dot_segments(r_path), r_query)
    elif r_path == "":
        t = (b_scheme, b_auth, b_path,
             r_query if r_query is not None else b_query)
    elif r_path.startswith("/"):
        t = (b_scheme, b_auth, remove_dot_segments(r_path), r_query)
    else:
        t = (b_scheme, b_auth,
             remove_dot_segments(_merge(b_auth, b_path, r_path)),
             r_query)
    scheme, auth, path, query = t
    out = ""
    if scheme is not None:
        out += scheme + ":"
    if auth is not None:
        out += "//" + auth
    out += path
    if query is not None:
        out += "?" + query
    if r_frag is not None:
        out += "#" + r_frag
    return out


# ------------------------------------------------------------ operator

_N_TARGETS = 100000


def wrap_html_rel_links(text: str, doc_id: int) -> bytes:
    """Page whose outlinks are RELATIVE in the grammars real pages
    use — dotted ancestor paths, rooted paths, bare query refs,
    scheme-relative authorities — plus one absolute link; every third
    doc declares a <base href> that retargets them (a second base and
    a template-buried base must be ignored), and every doc carries a
    fragment-only ref that must never become an edge."""
    import html as _html

    t = (doc_id * 37 + 11) % _N_TARGETS
    head = ["<title>d</title>"]
    if doc_id % 3 == 1:
        head.append(
            f"<base href='https://cdn{doc_id % 7}.example/a/b/'>"
        )
        head.append("<base href='https://wrong.example/'>")  # 2nd: ignored
    if doc_id % 6 == 2:
        head.append(
            "<template><base href='https://evil.example/'>"
            "</template>"
        )
    links = [
        f"<a href='../up/page/{t}'>rel dotted</a>",
        f"<a href='leaf/page/{(t + 1) % _N_TARGETS}'>rel plain</a>",
        f"<a href='/rooted/page/{(t + 2) % _N_TARGETS}'>rooted</a>",
        f"<a href='//alt{doc_id % 5}.example/page/"
        f"{(t + 3) % _N_TARGETS}'>scheme-rel</a>",
        f"<a href='https://abs{doc_id % 5}.example/page/"
        f"{(t + 4) % _N_TARGETS}'>absolute</a>",
        "<a href='#frag'>fragment only</a>",
    ]
    return (
        f"<html><head>{''.join(head)}</head><body>"
        f"<p>{_html.escape(text)}</p>"
        f"<p>{' '.join(links)}</p></body></html>"
    ).encode("utf-8")


REL_EDGE_SCHEMA = "doc_id long, kind string, url string"
_PAGE_URL_FMT = "https://host{}.example/dir/sub/index.html"


_REL_KINDS = ["dotted", "plain", "rooted", "scheme_rel", "absolute"]


def _rel_rows(doc_id: int, text: str) -> list[tuple]:
    payload = wrap_html_rel_links(text, doc_id)
    page_url = _PAGE_URL_FMT.format(doc_id % 9)
    base = page_url
    for k, v in harvest_directives(payload):
        if k == "base":
            # the harvester already kept only the FIRST base
            base = resolve_ref(page_url, v)
            break
    rows = []
    for href, _text in harvest_anchors(payload):
        if href.startswith("#"):
            # same-document reference: never a fetch edge
            continue
        resolved = resolve_ref(base, href).split("#", 1)[0]
        if resolved:
            idx = len(rows)
            kind = _REL_KINDS[idx] if idx < len(_REL_KINDS) else "extra"
            rows.append((doc_id, kind, resolved))
    return rows


def resolved_links(docs: DataFrame,
                   num_partitions: int | None = None) -> DataFrame:
    """(doc_id, kind, url) — every harvested anchor resolved per RFC
    3986 against the page's harvested <base href> (or its own URL);
    fragment-only references never become edges."""
    return map_rows(spread(docs, ["doc_id", "text"], num_partitions),
                    _rel_rows, REL_EDGE_SCHEMA)


def duck_resolved_links_sql(source: str = "documents") -> str:
    """Closed-form twin: the wrapper's five link grammars resolved by
    hand against the effective base — the doc's own
    /dir/sub/index.html URL, or the declared cdn base for every
    third doc (second base and template base ignored); the
    fragment-only ref contributes nothing."""
    return f"""
WITH p AS (
  SELECT doc_id, (doc_id * 37 + 11) % {_N_TARGETS} AS t,
         doc_id % 3 = 1 AS has_base,
         'https://cdn' || (doc_id % 7) || '.example' AS cdn,
         'https://host' || (doc_id % 9) || '.example' AS own
  FROM {source}
)
SELECT doc_id, 'dotted' AS kind,
  CASE WHEN has_base THEN cdn || '/a/up/page/' || t
       ELSE own || '/dir/up/page/' || t END AS url
FROM p
UNION ALL
SELECT doc_id, 'plain',
  CASE WHEN has_base THEN cdn || '/a/b/leaf/page/'
         || (t + 1) % {_N_TARGETS}
       ELSE own || '/dir/sub/leaf/page/' || (t + 1) % {_N_TARGETS}
  END
FROM p
UNION ALL
SELECT doc_id, 'rooted',
  CASE WHEN has_base THEN cdn ELSE own END
    || '/rooted/page/' || (t + 2) % {_N_TARGETS}
FROM p
UNION ALL
SELECT doc_id, 'scheme_rel',
  'https://alt' || (doc_id % 5) || '.example/page/'
    || (t + 3) % {_N_TARGETS}
FROM p
UNION ALL
SELECT doc_id, 'absolute',
  'https://abs' || (doc_id % 5) || '.example/page/'
    || (t + 4) % {_N_TARGETS}
FROM p
"""
