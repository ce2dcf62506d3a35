"""PDF outlink harvesting: /Link URI annotations → crawl edges.

The HTML branch harvests anchors; the PDF branch's counterpart is the
``/Annots`` array — URI actions on Link annotations are how PDFs
reference the web (ISO 32000 §12.5.6.5 / §12.6.4.7), and a crawl that
ignores them loses every citation graph that routes through papers,
reports and government documents.  This operator exercises the REAL
path: each document wraps into a PDF whose page carries link
annotations in the layout variety real writers emit (inline ``/A``
dictionaries, indirect action objects, hex-string URIs) plus traps
(a ``/Square`` annotation that is not a link; a ``/GoTo`` action that
is document-internal), ``operators.pdf_tokenizer.parse_pdf`` recovers
them through the same xref/object machinery as text extraction, and
the harvested targets become fixed-width edge rows.

Scale shape (100 TB contract): harvesting rides the extraction pass —
``parse_pdf`` already resolves every object body, so links come out
of the SAME parse that produces the words, zero extra scans; output
rows are (doc_id, target_id, form) — no URL strings need to shuffle
when a consumer aggregates (the id is extracted before any exchange).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

from ..operators.pdf_generator import PageSpec, build_pdf
from ..operators.pdf_tokenizer import parse_pdf
from ..plans.pipeline import map_rows, spread

_TARGET_ID_RE = re.compile(r"/page/(\d+)$")

_MOD = 100000


def link_targets(doc_id: int) -> tuple[int, int]:
    """Closed-form link targets (primary, secondary)."""
    return (doc_id * 31 + 7) % _MOD, (doc_id * 17 + 3) % _MOD


def wrap_pdf_links(text: str, doc_id: int) -> bytes:
    """One-page PDF carrying the doc's words plus deterministic link
    annotations and the traps listed in the module docstring."""
    t1, t2 = link_targets(doc_id)
    page = PageSpec(width=60000.0, height=792.0)
    page.put_words(72.0, 400.0, 12.0, text.split(" ")[:8], gap=6.0)
    page.put_link(
        f"https://site{t1 % 20}.example/page/{t1}",
        form="indirect" if doc_id % 2 == 0 else "inline",
    )
    if doc_id % 3 == 0:
        page.put_link(
            f"https://site{t2 % 20}.example/page/{t2}", form="hex"
        )
    if doc_id % 4 == 1:  # not a Link annotation at all
        page.put_link("ignored", form="square")
    if doc_id % 5 == 2:  # Link, but document-internal (no URI)
        page.put_link("ignored", form="goto")
    return build_pdf([page])


PDF_LINKS_SCHEMA = "doc_id long, target_id long"


def _links_rows(doc_id: int, text: str) -> list[tuple]:
    doc = parse_pdf(wrap_pdf_links(text, doc_id))
    return [
        (doc_id, int(m.group(1)))
        for page in doc.pages for url in page.links
        if (m := _TARGET_ID_RE.search(url))
    ]


def pdf_links(docs: DataFrame,
              num_partitions: int | None = None) -> DataFrame:
    """(doc_id, target_id) — URI-annotation edges recovered from PDF
    pages by the real tokenizer."""
    return map_rows(spread(docs, ["doc_id", "text"], num_partitions),
                    _links_rows, PDF_LINKS_SCHEMA)


def duck_pdf_links_sql(source: str = "documents") -> str:
    """Closed-form twin of the wrapper construction: one primary edge
    per document, a secondary hex-URI edge for every third document;
    the Square/GoTo traps contribute nothing."""
    return f"""
SELECT doc_id, (doc_id * 31 + 7) % {_MOD} AS target_id
FROM {source}
UNION ALL
SELECT doc_id, (doc_id * 17 + 3) % {_MOD}
FROM {source} WHERE doc_id % 3 = 0
"""
