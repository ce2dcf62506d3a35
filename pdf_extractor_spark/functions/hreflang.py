"""hreflang translation clusters: rel=alternate declarations → the
multilingual document-alignment graph.

A page that exists in several languages declares its translations
with ``<link rel="alternate" hreflang="xx" href=…>`` entries (one per
variant, self included, plus an ``x-default``) — the signal
multilingual corpus pipelines use to align documents across languages
(parallel-corpus mining starts from exactly these clusters).  This
operator exercises the REAL path: each document wraps into a page
whose head declares its translation group through
``operators.html_extract.harvest_directives`` (same decode +
quote-repair + parse pipeline as extraction), and cluster membership
is then DERIVED FROM THE HARVESTED EDGES, never from arithmetic.

Fixture schedule: translation groups of five (one per corpus
language); every member declares all five variants,
the group leader adds an ``x-default`` pointing at itself; traps —
``doc_id % 7 == 6`` declares nothing (a broken page: the cluster must
still form from its siblings' declarations), ``doc_id % 11 == 10``
adds a malformed hreflang code (``zz-inva!id`` — BCP 47 forbids
``!``) that must be surfaced in ``n_invalid``, never silently
dropped or counted as a translation, every doc carries a feed link
(``rel=alternate`` with ``type=``, NO hreflang — not a translation)
and ``doc_id % 6 == 2`` hides a declaration inside ``<template>``
(inert per WHATWG).

Scale shape (100 TB contract): harvesting rides one Arrow pass; the
per-document rollup and the cluster aggregation are two map-side-
combinable aggregates over fixed-width (src, cluster) keys — no URL
string ever reaches an exchange (the target id is extracted before
any shuffle)."""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.html_extract import harvest_directives
from ..plans.pipeline import map_rows, spread

LANGS = ("en", "zh", "es", "de", "fr")
_GROUP = len(LANGS)

_TARGET_ID_RE = re.compile(r"/page/(\d+)$")
# BCP 47 shape check (language, optional subtags) or the x-default
# sentinel — same subset Google's hreflang validator enforces
_VALID_CODE_RE = re.compile(
    r"^(?:[A-Za-z]{2,3}(?:-[A-Za-z0-9]{2,8})*|x-default)$"
)


def wrap_html_hreflang(text: str, doc_id: int) -> bytes:
    """Page whose head declares the doc's translation group (see
    module docstring for the trap schedule)."""
    import html as _html

    head = ["<title>d</title>",
            "<link rel='alternate' type='application/rss+xml' "
            "href='/feed.xml'>"]
    leader = (doc_id // _GROUP) * _GROUP
    if doc_id % 7 != 6:
        for k in range(_GROUP):
            member = leader + k
            head.append(
                f"<link rel='alternate' hreflang='{LANGS[k]}' "
                f"href='https://{LANGS[k]}.example/page/{member}'>"
            )
        if doc_id % _GROUP == 0:
            head.append(
                "<link rel='alternate' hreflang='x-default' "
                f"href='https://www.example/page/{leader}'>"
            )
        if doc_id % 11 == 10:
            head.append(
                "<link rel='alternate' hreflang='zz-inva!id' "
                f"href='https://zz.example/page/{leader}'>"
            )
    if doc_id % 6 == 2:
        head.append(
            "<template><link rel='alternate' hreflang='xx' "
            "href='https://evil.example/page/0'></template>"
        )
    return (
        f"<html><head>{''.join(head)}</head><body>"
        f"<p>{_html.escape(text)}</p></body></html>"
    ).encode("utf-8")


HREFLANG_EDGE_SCHEMA = (
    "src long, hreflang string, target_id long, is_default boolean, "
    "valid boolean"
)


def _hreflang_rows(doc_id: int, text: str) -> list[tuple]:
    out = []
    for kind, value in harvest_directives(wrap_html_hreflang(text, doc_id)):
        if kind != "hreflang":
            continue
        code, _sp, url = value.partition(" ")
        m = _TARGET_ID_RE.search(url)
        if m:
            out.append((
                doc_id, code, int(m.group(1)), code == "x-default",
                bool(_VALID_CODE_RE.match(code)),
            ))
    return out


def hreflang_edges(docs: DataFrame,
                   num_partitions: int | None = None) -> DataFrame:
    """(src, hreflang, target_id, is_default, valid) — translation
    declarations recovered from page heads by the real parser."""
    return map_rows(spread(docs, ["doc_id", "text"], num_partitions),
                    _hreflang_rows, HREFLANG_EDGE_SCHEMA)


def hreflang_clusters(docs: DataFrame,
                      num_partitions: int | None = None) -> DataFrame:
    """(cluster_id, n_declaring, n_edges, has_default, n_invalid) —
    translation clusters derived from the harvested edges: a doc's
    cluster is the SMALLEST target it declares (the group leader),
    so a member whose own page is broken still lands in the cluster
    through its siblings' declarations — of which this summary counts
    only the declarers."""
    per_src = (
        hreflang_edges(docs, num_partitions)
        .groupBy("src")
        .agg(
            F.min(F.when(F.col("valid"), F.col("target_id")))
            .alias("cluster_id"),
            F.sum(F.col("valid").cast("long")).alias("n_valid"),
            F.max("is_default").alias("declared_default"),
            F.sum((~F.col("valid")).cast("long")).alias("n_bad"),
        )
    )
    return (
        per_src.groupBy("cluster_id")
        .agg(
            F.count("*").alias("n_declaring"),
            F.sum("n_valid").alias("n_edges"),
            F.max("declared_default").alias("has_default"),
            F.sum("n_bad").alias("n_invalid"),
        )
    )


def duck_hreflang_sql(source: str = "documents") -> str:
    """Closed-form twin of the wrapper schedule: every declarer emits
    five valid variant edges, the leader one x-default more, the
    malformed-code residue one invalid entry; silent docs (% 7 == 6)
    contribute nothing, and a cluster whose leader is silent simply
    lacks its default."""
    return f"""
SELECT (doc_id // {_GROUP}) * {_GROUP} AS cluster_id,
  count(*) AS n_declaring,
  CAST(sum({_GROUP} + CASE WHEN doc_id % {_GROUP} = 0 THEN 1 ELSE 0 END)
    AS BIGINT) AS n_edges,
  bool_or(doc_id % {_GROUP} = 0) AS has_default,
  CAST(sum(CASE WHEN doc_id % 11 = 10 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_invalid
FROM {source}
WHERE doc_id % 7 <> 6
GROUP BY cluster_id
"""
