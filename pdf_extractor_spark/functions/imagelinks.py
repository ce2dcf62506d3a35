"""(image URL, alt text) harvesting — the multimodal corpus seed.

LAION-class image-text datasets start exactly here: walk crawled
pages, collect every image candidate with its alt text, resolve the
URLs, and hand the (url, caption) pairs to the fetch/filter stages.
This operator exercises the REAL path: ``<img src>`` (including the
lazy-loading ``data-src`` dance real galleries do — src parked on a
``data:`` stub), ``srcset`` candidate lists with density
descriptors, ``<picture><source srcset>`` variants with the ``<img>``
fallback, decorative images with empty alt, and a ``<template>``
trap that must stay inert; every harvested reference then resolves
through the RFC 3986 engine against the page URL.

Scale shape (100 TB contract): harvesting and resolution ride the
extraction pass's Arrow stage (string-local, no state); output rows
are (doc_id, kind, url, alt) — the downstream image-fetch frontier
groups by url host, shuffling only these fixed-shape rows, never
page bytes."""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..operators.html_extract import harvest_images
from ..plans.pipeline import map_rows, spread
from .urlresolve import resolve_ref

_N = 100000
_PAGE_URL_FMT = "https://gal{}.example/a/b/page.html"


def wrap_html_images(text: str, doc_id: int) -> bytes:
    """Gallery-shaped page per the schedule in the module docstring."""
    import html as _html

    t = (doc_id * 41 + 3) % _N
    parts = [
        f"<img src='/media/img/{t}.jpg' alt='photo {t}'>",
    ]
    if doc_id % 2 == 0:
        parts.append(
            f"<img srcset='/media/img/{(t + 1) % _N}-1x.jpg 1x, "
            f"/media/img/{(t + 1) % _N}-2x.jpg 2x' alt='gallery view {t}'>"
        )
    if doc_id % 3 == 1:
        parts.append(
            "<img src='data:image/gif;base64,R0lGOD' "
            f"data-src='/lazy/{(t + 2) % _N}.jpg' alt='lazy'>"
        )
    if doc_id % 5 == 2:
        parts.append(
            f"<picture><source srcset='/pic/{(t + 3) % _N}.webp'>"
            f"<img src='/pic/{(t + 3) % _N}.jpg' alt='art'>"
            "</picture>"
        )
    if doc_id % 11 == 3:
        parts.append(f"<img src='/deco/{(t + 4) % _N}.png'>")
    if doc_id % 9 == 7:
        # the lazy-load fallback real galleries wrap in <noscript>
        parts.append(
            f"<noscript><img src='/ns/{(t + 5) % _N}.jpg' "
            "alt='fallback'></noscript>"
        )
    if doc_id % 7 == 5:
        parts.append(
            "<template><img src='/evil/trap.jpg' alt='x'>"
            "</template>"
        )
    return (
        "<html><head><title>g</title></head><body>"
        f"<p>{_html.escape(text)}</p>"
        f"<div>{''.join(parts)}</div></body></html>"
    ).encode("utf-8")


IMAGE_ROWS_SCHEMA = "doc_id long, kind string, url string, alt string"


def _srcset_urls(srcset: str) -> list[str]:
    """Candidate URLs of a srcset attribute: comma-separated
    candidates, each a URL optionally followed by a width/density
    descriptor (HTML §4.8.4.3)."""
    out = []
    for cand in srcset.split(","):
        cand = cand.strip()
        if cand:
            out.append(cand.split()[0])
    return out


def _image_rows(doc_id: int, text: str) -> list[tuple]:
    out = []
    page_url = _PAGE_URL_FMT.format(doc_id % 8)
    for tag, src, srcset, alt in harvest_images(
        wrap_html_images(text, doc_id)
    ):
        if srcset:
            kind = "srcset" if tag == "img" else "source"
            out.extend((doc_id, kind, resolve_ref(page_url, u), alt)
                       for u in _srcset_urls(srcset))
        if src:
            out.append((doc_id, tag, resolve_ref(page_url, src), alt))
    return out


def image_links(docs: DataFrame,
                num_partitions: int | None = None) -> DataFrame:
    """(doc_id, kind, url, alt) — image candidates recovered by the
    real parser and resolved per RFC 3986."""
    return map_rows(spread(docs, ["doc_id", "text"], num_partitions),
                    _image_rows, IMAGE_ROWS_SCHEMA)


def duck_image_links_sql(source: str = "documents") -> str:
    """Closed-form twin of the wrapper schedule; the template trap
    contributes nothing and the lazy image surfaces its data-src."""
    return f"""
WITH p AS (
  SELECT doc_id, (doc_id * 41 + 3) % {_N} AS t,
         'https://gal' || (doc_id % 8) || '.example' AS h
  FROM {source}
)
SELECT doc_id, 'img' AS kind,
  h || '/media/img/' || t || '.jpg' AS url,
  'photo ' || t AS alt
FROM p
UNION ALL
SELECT doc_id, 'srcset',
  h || '/media/img/' || (t + 1) % {_N} || '-1x.jpg',
  'gallery view ' || t
FROM p WHERE doc_id % 2 = 0
UNION ALL
SELECT doc_id, 'srcset',
  h || '/media/img/' || (t + 1) % {_N} || '-2x.jpg',
  'gallery view ' || t
FROM p WHERE doc_id % 2 = 0
UNION ALL
SELECT doc_id, 'img', h || '/lazy/' || (t + 2) % {_N} || '.jpg',
  'lazy'
FROM p WHERE doc_id % 3 = 1
UNION ALL
SELECT doc_id, 'source', h || '/pic/' || (t + 3) % {_N} || '.webp',
  ''
FROM p WHERE doc_id % 5 = 2
UNION ALL
SELECT doc_id, 'img', h || '/pic/' || (t + 3) % {_N} || '.jpg',
  'art'
FROM p WHERE doc_id % 5 = 2
UNION ALL
SELECT doc_id, 'img', h || '/deco/' || (t + 4) % {_N} || '.png', ''
FROM p WHERE doc_id % 11 = 3
UNION ALL
SELECT doc_id, 'img', h || '/ns/' || (t + 5) % {_N} || '.jpg',
  'fallback'
FROM p WHERE doc_id % 9 = 7
"""


# --------------------------------------------------- caption filtering

_PLACEHOLDER_RE = (
    "^(image|img|photo|picture|logo|icon|banner|thumbnail|lazy|"
    "fallback|art|spacer)[0-9_-]*$"
)


def caption_filter_report(docs: DataFrame) -> DataFrame:
    """(doc_id, n_candidates, n_kept) — the LAION-class caption gate
    applied to the harvested (url, alt) pairs: keep a pair iff the
    alt has ≥ 2 whitespace tokens, ≥ 5 characters, and is not a
    single placeholder word (image/logo/icon/…-style).  Pure native
    expressions over the harvest's output; the per-doc rollup is one
    map-side-combinable aggregate on doc_id."""
    from pyspark.sql import functions as F

    rows = image_links(docs)
    kept = (
        (F.size(F.split(F.trim(F.col("alt")), " +")) >= 2)
        & (F.length("alt") >= 5)
        & (~F.lower("alt").rlike(_PLACEHOLDER_RE))
    )
    return (
        rows.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_candidates"),
            F.sum(kept.cast("long")).alias("n_kept"),
        )
        .orderBy("doc_id")
    )


def duck_caption_filter_sql(source: str = "documents") -> str:
    """Closed-form twin: the only multi-token alts are 'photo t'
    (every doc, 1 row) and 'gallery view t' (even docs, 2 srcset
    rows); every other alt is a single placeholder word or empty."""
    return f"""
SELECT doc_id,
  CAST(1 + CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 0 END
         + CASE WHEN doc_id % 3 = 1 THEN 1 ELSE 0 END
         + CASE WHEN doc_id % 5 = 2 THEN 2 ELSE 0 END
         + CASE WHEN doc_id % 11 = 3 THEN 1 ELSE 0 END
         + CASE WHEN doc_id % 9 = 7 THEN 1 ELSE 0 END
       AS BIGINT) AS n_candidates,
  CAST(1 + CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 0 END
       AS BIGINT) AS n_kept
FROM {source}
ORDER BY doc_id
"""
