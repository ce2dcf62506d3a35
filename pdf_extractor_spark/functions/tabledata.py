"""Web-table extraction to structured rows: the catalog surface.

The body-text extractor strips tables as layout noise; this operator
recovers them as DATA — (doc_id, table_idx, row_idx, col_idx,
is_header, cell) rows through :mod:`..operators.html_tables`' real
streaming parse.  Each document wraps into a page whose table is
written in the markup variety real pages emit:

- even doc_ids close every ``</td>``/``</tr>``; odd doc_ids OMIT them
  (optional per WHATWG — the implied-end path must produce the
  identical grid),
- every third document wraps the header row in ``<thead>`` and the
  data rows in ``<tbody>``,
- every fifth document's cells carry an entity (``&amp;``) that must
  decode,
- every seventh (mod 7 == 4) document nests a 1×1 table inside a data
  cell — the nested table is its own table_idx and its content must
  not leak into the parent cell,
- every sixth (mod 6 == 5) document hides a ``<style>`` block inside
  a cell whose payload must not leak into the cell text.

Scale shape (100 TB contract): rides the extraction pass (one Arrow
stage, same parse family as text/anchors/structured-data); output
rows are narrow and fixed-width per cell; nothing shuffles here.
"""

from __future__ import annotations

import html as _html

from pyspark.sql import DataFrame

from ..operators.html_tables import extract_tables
from ..plans.pipeline import map_rows, spread


def _dims(doc_id: int) -> tuple[int, int]:
    """(n_data_rows, n_cols) — data rows 1..3, cols 2..3."""
    return 1 + doc_id % 3, 2 + doc_id % 2


def _cell_value(doc_id: int, r: int, c: int) -> str:
    v = f"v{(doc_id + r * 7 + c) % 10}"
    if doc_id % 5 == 0:
        v += "&"
    return v


def wrap_html_table(text: str, doc_id: int) -> bytes:
    ndata, ncols = _dims(doc_id)
    closers = doc_id % 2 == 0
    td_end = "</td>" if closers else ""
    th_end = "</th>" if closers else ""
    tr_end = "</tr>" if closers else ""
    parts = ["<table>"]
    head = "".join(f"<th>h{c}{th_end}" for c in range(ncols))
    if doc_id % 3 == 0:
        parts.append(f"<thead><tr>{head}{tr_end}</thead><tbody>")
    else:
        parts.append(f"<tr>{head}{tr_end}")
    for r in range(1, ndata + 1):
        cells = []
        for c in range(ncols):
            val = _html.escape(_cell_value(doc_id, r, c))
            extra = ""
            if r == 1 and c == 0 and doc_id % 7 == 4:
                extra = (
                    f"<table><tr><td>n{doc_id % 10}</td></tr></table>"
                )
            if r == 1 and c == 0 and doc_id % 6 == 5:
                extra += "<style>td{color:red}</style>"
            cells.append(f"<td>{val}{extra}{td_end}")
        parts.append(f"<tr>{''.join(cells)}{tr_end}")
    if doc_id % 3 == 0:
        parts.append("</tbody>")
    parts.append("</table>")
    return (
        f"<html><head><title>d</title></head><body>"
        f"{''.join(parts)}<p>{_html.escape(text)}</p></body></html>"
    ).encode("utf-8")


TABLE_SCHEMA = ("doc_id long, table_idx int, row_idx int, col_idx int,"
                " is_header boolean, cell string")


def _tables_rows(doc_id: int, text: str) -> list[tuple]:
    return [(doc_id, *cell)
            for cell in extract_tables(wrap_html_table(text, doc_id))]


def html_tables(docs: DataFrame,
                num_partitions: int | None = None) -> DataFrame:
    """(doc_id, table_idx, row_idx, col_idx, is_header, cell) — table
    grids recovered from pages by the real streaming parse."""
    return map_rows(spread(docs, ["doc_id", "text"], num_partitions),
                    _tables_rows, TABLE_SCHEMA)


def duck_tables_sql(source: str = "documents") -> str:
    """Closed-form twin: header row 0 + data rows 1..(1+doc_id%3) ×
    cols 0..(1+doc_id%2), entity decoded, plus the nested 1×1 table
    for mod-7==4 documents.  Style payloads contribute nothing."""
    return f"""
SELECT d.doc_id, CAST(0 AS INT) AS table_idx,
       CAST(0 AS INT) AS row_idx, CAST(gc.c AS INT) AS col_idx,
       TRUE AS is_header, 'h' || gc.c AS cell
FROM {source} d, generate_series(0, 2) AS gc(c)
WHERE gc.c <= 1 + d.doc_id % 2
UNION ALL
SELECT d.doc_id, CAST(0 AS INT), CAST(gr.r AS INT), CAST(gc.c AS INT),
       FALSE,
       'v' || ((d.doc_id + gr.r * 7 + gc.c) % 10)
       || CASE WHEN d.doc_id % 5 = 0 THEN '&' ELSE '' END
FROM {source} d, generate_series(1, 3) AS gr(r),
     generate_series(0, 2) AS gc(c)
WHERE gr.r <= 1 + d.doc_id % 3 AND gc.c <= 1 + d.doc_id % 2
UNION ALL
SELECT doc_id, CAST(1 AS INT), CAST(0 AS INT), CAST(0 AS INT), FALSE,
       'n' || (doc_id % 10)
FROM {source} WHERE doc_id % 7 = 4
"""
