"""Content-license harvesting + normalization — the compliance gate
every openly-licensed training corpus runs before anything else
(C4-licensed, LAION, CommonPool all subset on declared licenses).

Three declaration surfaces, harvested in ONE parse by
``operators.html_extract.harvest_license``:

- ``<link rel="license" href=…>`` — the head declaration;
- ``<a rel="license" href=…>`` — the classic CC badge anchor
  (``rel`` is a token list per WHATWG §4.6.6.12: ``"nofollow
  license"`` still declares);
- the schema.org ``license`` field of JSON-LD islands (a URL string
  or a ``{"@id": url}`` node reference).

Normalization recognizes the Creative Commons URL grammar —
``/licenses/<code>/<version>/`` and ``/publicdomain/(zero|mark)/`` —
into (family, version, allows_commercial, allows_derivatives).
Anything unrecognized is ``unknown`` with BOTH permissions False:
the conservative default is the only defensible pipeline behavior
(an unparseable license is NOT a permissive one).

Traps the wrapper plants: a template-wrapped ``<link rel=license>``
(inert per WHATWG), an href-less badge anchor (declares nothing),
and a mixed ``rel="nofollow license"`` value (still declares).
"""

from __future__ import annotations

import html as _html
import json
import re

from pyspark.sql import DataFrame

from ..operators.html_extract import harvest_license
from ..plans.pipeline import map_rows, spread

_CC_RE = re.compile(
    r"creativecommons\.org/licenses/([a-z][a-z-]*)/(\d+\.\d+)"
)
_PD_RE = re.compile(
    r"creativecommons\.org/publicdomain/(zero|mark)/(\d+\.\d+)"
)


def normalize_license(url: str) -> tuple[str, str, bool, bool]:
    """(family, version, allows_commercial, allows_derivatives) for a
    license URL; unknown URLs get the conservative (False, False)."""
    m = _CC_RE.search(url)
    if m:
        fam = m.group(1)
        toks = fam.split("-")
        return fam, m.group(2), "nc" not in toks, "nd" not in toks
    m = _PD_RE.search(url)
    if m:
        fam = "cc0" if m.group(1) == "zero" else "publicdomain-mark"
        return fam, m.group(2), True, True
    return "unknown", "", False, False


def ldjson_license_urls(raw: str) -> list[str]:
    """schema.org ``license`` values of one island: URL strings and
    ``{"@id": url}`` node references, across top-level / list /
    ``@graph`` envelopes. Malformed JSON yields [] (typed skip)."""
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
    out: list[str] = []
    for rec in records:
        val = rec.get("license")
        if isinstance(val, str):
            out.append(val)
        elif isinstance(val, dict) and isinstance(val.get("@id"), str):
            out.append(val["@id"])
    return out


_CC_BASE = "https://creativecommons.org/licenses"


def wrap_html_license(text: str, doc_id: int) -> bytes:
    """Page carrying the doc's text plus a deterministic license
    schedule on ``doc_id % 6``:

    - 0: no license signal at all (most of the web);
    - 1: ``<link rel="license">`` CC BY 4.0 — plus the template trap;
    - 2: badge anchor CC BY-NC-SA 3.0 with ``rel="nofollow license"``
         — plus an href-less badge trap;
    - 3: JSON-LD ``license`` = CC0 (the ``{"@id": …}`` node form for
         every second such doc);
    - 4: CONFLICT — link says BY 4.0, JSON-LD says BY-ND 4.0 (both
         surface; resolution is the consumer's policy decision);
    - 5: custom terms URL → unknown family, permissions False.
    """
    k = doc_id % 6
    head: list[str] = []
    body: list[str] = [f"<p>{_html.escape(text)}</p>"]
    if k == 1:
        head.append(f'<link rel="license" href="{_CC_BASE}/by/4.0/">')
        head.append(
            '<template><link rel="license" '
            f'href="{_CC_BASE}/by-nd/3.0/"></template>'
        )
    elif k == 2:
        body.append(
            f'<a rel="nofollow license" href="{_CC_BASE}/by-nc-sa/3.0/">'
            "Some rights reserved</a>"
        )
        body.append('<a rel="license">badge with no target</a>')
    elif k == 3:
        url = "https://creativecommons.org/publicdomain/zero/1.0/"
        lic = {"@id": url} if (doc_id // 6) % 2 == 1 else url
        island = {"@context": "https://schema.org",
                  "@type": "Dataset", "license": lic}
        head.append(
            '<script type="application/ld+json">'
            + json.dumps(island, ensure_ascii=True) + "</script>"
        )
    elif k == 4:
        head.append(f'<link rel="license" href="{_CC_BASE}/by/4.0/">')
        island = {"@context": "https://schema.org",
                  "@type": "Article",
                  "license": f"{_CC_BASE}/by-nd/4.0/"}
        head.append(
            '<script type="application/ld+json">'
            + json.dumps(island, ensure_ascii=True) + "</script>"
        )
    elif k == 5:
        head.append(
            '<link rel="license" '
            f'href="https://example.test/terms-{doc_id}">'
        )
    return (
        f"<html><head>{''.join(head)}</head>"
        f"<body>{''.join(body)}</body></html>"
    ).encode("utf-8")


LICENSE_SCHEMA = (
    "doc_id long, source string, url string, family string, "
    "version string, allows_commercial boolean, "
    "allows_derivatives boolean"
)


def _license_rows(doc_id: int, text: str) -> list[tuple]:
    decls, islands = harvest_license(wrap_html_license(text, doc_id))
    urls = [(src, u) for src, u in decls]
    for raw in islands:
        urls.extend(("jsonld", u) for u in ldjson_license_urls(raw))
    return [(doc_id, src, url, *normalize_license(url))
            for src, url in urls]


def license_signals(docs: DataFrame,
                    num_partitions: int | None = None) -> DataFrame:
    """(doc_id, source, url, family, version, allows_commercial,
    allows_derivatives) — one row per license declaration found by
    the real parser. Pure narrow map after the doc-id spread; the
    strictest-wins resolution is a trivial downstream aggregate and
    deliberately NOT baked in (conflicts must stay visible to an
    auditor)."""
    return map_rows(spread(docs, ["doc_id", "text"], num_partitions),
                    _license_rows, LICENSE_SCHEMA)


def duck_license_sql(source: str = "documents") -> str:
    """Closed-form twin of the wrapper schedule."""
    cc = "https://creativecommons.org/licenses"
    return f"""
SELECT doc_id, 'link' AS source, '{cc}/by/4.0/' AS url,
       'by' AS family, '4.0' AS version,
       TRUE AS allows_commercial, TRUE AS allows_derivatives
FROM {source} WHERE doc_id % 6 = 1
UNION ALL
SELECT doc_id, 'a', '{cc}/by-nc-sa/3.0/', 'by-nc-sa', '3.0',
       FALSE, TRUE
FROM {source} WHERE doc_id % 6 = 2
UNION ALL
SELECT doc_id, 'jsonld',
       'https://creativecommons.org/publicdomain/zero/1.0/',
       'cc0', '1.0', TRUE, TRUE
FROM {source} WHERE doc_id % 6 = 3
UNION ALL
SELECT doc_id, 'link', '{cc}/by/4.0/', 'by', '4.0', TRUE, TRUE
FROM {source} WHERE doc_id % 6 = 4
UNION ALL
SELECT doc_id, 'jsonld', '{cc}/by-nd/4.0/', 'by-nd', '4.0',
       TRUE, FALSE
FROM {source} WHERE doc_id % 6 = 4
UNION ALL
SELECT doc_id, 'link', 'https://example.test/terms-' || doc_id,
       'unknown', '', FALSE, FALSE
FROM {source} WHERE doc_id % 6 = 5
"""
