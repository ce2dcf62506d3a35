"""Anchor-text corpus construction over the real HTML parser.

Web pipelines harvest ``(target, anchor text)`` pairs while parsing —
anchor text is the classic query-like supervision signal and the
edge list doubles as the link graph that :mod:`.linkgraph` ranks.
This operator exercises the REAL path: each document is wrapped into
HTML carrying three absolute outlinks, the links are recovered by
``operators.html_extract.harvest_anchors`` (the same decode +
quote-repair + parse pipeline as extraction), and the pairs roll up
into a per-target-host anchor profile.

The synthesized outlink targets use the SAME arithmetic as
``linkgraph.synth_outlink_edges`` (`(src+1+((doc_id*p+j) % (H-1)))
% H`, primes 131/197/277) — so the harvested anchor graph is, by
construction, the PageRank input graph, and a unit test pins the two
together: parse-derived edges == synthesized edges, row for row.

Scale shape (100 TB contract): harvesting is the extraction pass
itself (one Arrow stage; in production anchors ride along with the
text extraction, paying zero extra scans).  The rollup groups by
destination host: the exchange carries small fixed-shape
``(dst_host, doc_id, anchor_text)`` rows — never page bytes — and
count/min aggregate partially.  Distinct counts are per-host exact;
at 10^8 hosts the group count stays bounded by the host space, not
the corpus.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, functions as F

from ..operators.html_extract import harvest_anchors
from ..plans.pipeline import map_rows, spread
from .linkgraph import _LINK_PRIMES, N_HOSTS

_ABS_HOST_RE = re.compile(r"^https?://([^/]+)/")


def _dst(doc_id: int, j: int) -> int:
    p = _LINK_PRIMES[j]
    return ((doc_id % N_HOSTS) + 1
            + ((doc_id * p + j) % (N_HOSTS - 1))) % N_HOSTS


def wrap_html_anchors(text: str, doc_id: int) -> bytes:
    """Article page carrying three deterministic absolute outlinks
    (same targets as linkgraph's synthesized edges) plus relative
    boilerplate links the host rollup must ignore."""
    links = " ".join(
        "<a href='https://site{d}.example/p{j}'>term{t} site{d}</a>"
        .format(d=_dst(doc_id, j), j=j, t=(doc_id + j) % 13)
        for j in range(3)
    )
    import html as _html

    return (
        "<html><head><title>d</title></head><body>"
        "<nav><a href='/'>Home</a> <a href='/idx'>Index</a></nav>"
        f"<p>{_html.escape(text)}</p>"
        f"<p>See also: {links}</p>"
        "<footer><a href='/t'>Terms</a></footer>"
        "</body></html>"
    ).encode("utf-8")


ANCHOR_ROWS_SCHEMA = "doc_id long, dst_host string, anchor_text string"


def _anchor_rows(doc_id: int, text: str) -> list[tuple]:
    out = []
    for href, atext in harvest_anchors(wrap_html_anchors(text, doc_id)):
        m = _ABS_HOST_RE.match(href)
        if m:
            out.append((doc_id, m.group(1), atext))
    return out


def anchor_rows(docs: DataFrame,
                num_partitions: int | None = None) -> DataFrame:
    """(doc_id, dst_host, anchor_text) via the real parser."""
    return map_rows(spread(docs, ["doc_id", "text"], num_partitions),
                    _anchor_rows, ANCHOR_ROWS_SCHEMA)


def anchor_text_report(docs: DataFrame,
                       num_partitions: int | None = None) -> DataFrame:
    """Per-target-host anchor profile: (dst_host, n_anchors, n_docs,
    n_texts, sample_text)."""
    return (
        anchor_rows(docs, num_partitions)
        .groupBy("dst_host")
        .agg(
            F.count("*").alias("n_anchors"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.countDistinct("anchor_text").alias("n_texts"),
            F.min("anchor_text").alias("sample_text"),
        )
    )


def duck_anchor_sql(source: str = "documents") -> str:
    """DuckDB twin: the closed form of the wrapper construction —
    three outlinks per doc with linkgraph's target arithmetic and
    ``term{(doc_id+j)%13} site{dst}`` anchor text."""
    h = N_HOSTS
    arms = " UNION ALL ".join(
        f"SELECT doc_id, {j} AS j, {p} AS p FROM {source}"
        for j, p in enumerate(_LINK_PRIMES)
    )
    return f"""
WITH l AS (
  SELECT doc_id, j,
         ((doc_id % {h}) + 1 + ((doc_id * p + j) % {h - 1})) % {h}
           AS dst
  FROM ({arms})
), a AS (
  SELECT doc_id,
         'site' || CAST(dst AS VARCHAR) || '.example' AS dst_host,
         'term' || CAST((doc_id + j) % 13 AS VARCHAR)
           || ' site' || CAST(dst AS VARCHAR) AS anchor_text
  FROM l
)
SELECT dst_host,
       count(*) AS n_anchors,
       count(DISTINCT doc_id) AS n_docs,
       count(DISTINCT anchor_text) AS n_texts,
       min(anchor_text) AS sample_text
FROM a
GROUP BY dst_host
"""
