"""PDF document-metadata harvesting: /Info + /Outlines → typed rows.

The HTML branch harvests <title>/Open-Graph metas; the PDF branch's
counterpart is the document-information dictionary (ISO 32000
§14.3.3) and the document outline (§12.3.3) — title/author/producer
and the bookmark tree are the only structure-level metadata most
crawled PDFs carry, and a corpus pipeline wants them for dedup keys,
provenance and section-aware chunking.  This operator exercises the
REAL path: each document wraps into a PDF whose trailer references an
/Info dict (ASCII literals AND UTF-16BE-with-BOM hex strings — the
two text-string spellings real writers emit, §7.9.2.2) and whose
catalog references an outline tree linked /First /Last /Next /Prev
/Parent; ``operators.pdf_tokenizer.parse_pdf`` recovers both through
the same xref/object machinery as text extraction.  Traps: every
11th document's outline is a malformed SIBLING RING (the last
top-level item's /Next points back at the first — real broken
writers emit this), which the tokenizer's visited guard must
terminate loudly without losing or double-counting items; every 13th
document has no outline at all.

Scale shape (100 TB contract): harvesting rides the extraction pass —
``parse_pdf`` already resolves every object body, so metadata comes
out of the SAME parse that produces the words, zero extra scans; the
output is one fixed-width row per document (strings bounded by the
/Info dict, never page text), so downstream grouping shuffles only
metadata bytes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..operators.pdf_generator import PageSpec, build_pdf
from ..operators.pdf_tokenizer import parse_pdf
from ..plans.pipeline import map_rows, spread


def wrap_pdf_meta(text: str, doc_id: int) -> bytes:
    """One-page PDF carrying the doc's words plus a deterministic
    /Info dict and outline tree (see module docstring for the trap
    schedule)."""
    page = PageSpec(width=60000.0, height=792.0)
    page.put_words(72.0, 400.0, 12.0, text.split(" ")[:8], gap=6.0)
    author_stem = "Authör" if doc_id % 7 == 3 else "Author"
    info = {
        "Title": f"Document {doc_id}",
        "Author": f"{author_stem} {doc_id % 50}",
        "Producer": f"writer/{doc_id % 5}",
    }
    outline: list[tuple[int, str]] = []
    if doc_id % 13 != 7:
        n_top = doc_id % 3 + 1
        n_children = doc_id % 2
        for j in range(1, n_top + 1):
            outline.append((0, f"S{j}"))
            for k in range(1, n_children + 1):
                outline.append((1, f"S{j}.{k}"))
    # every fifth doc is ENCRYPTED (standard security, empty user
    # password): /Info values and outline titles are then stored as
    # per-object ciphertext and the harvest must decrypt them —
    # invisible in this query's output by construction
    encrypt = None
    if doc_id % 5 == 0:
        encrypt = ("rc4-128", "aes-128", "aes-256")[(doc_id // 5) % 3]
    return build_pdf(
        [page], info=info, outline=outline or None,
        outline_cycle=(doc_id % 11 == 5),
        encrypt=encrypt,
    )


PDF_META_SCHEMA = (
    "doc_id long, title string, author string, producer string, "
    "n_outline long, max_depth long, has_cycle boolean"
)

def _meta_rows(doc_id: int, text: str) -> list[tuple]:
    doc = parse_pdf(wrap_pdf_meta(text, doc_id))
    depths = [d for d, _t in doc.outline]
    return [(
        doc_id, doc.info.get("Title", ""), doc.info.get("Author", ""),
        doc.info.get("Producer", ""), len(doc.outline),
        max(depths) if depths else -1,
        any("sibling ring" in e["message"] for e in doc.errors),
    )]


def pdf_metadata(docs: DataFrame,
                 num_partitions: int | None = None) -> DataFrame:
    """(doc_id, title, author, producer, n_outline, max_depth,
    has_cycle) — /Info + outline metadata recovered from PDF
    documents by the real tokenizer."""
    return map_rows(spread(docs, ["doc_id", "text"], num_partitions),
                    _meta_rows, PDF_META_SCHEMA)


def duck_pdf_meta_sql(source: str = "documents") -> str:
    """Closed-form twin of the wrapper construction: the outline has
    (doc_id % 3 + 1) top sections of (doc_id % 2) children each,
    absent for every 13th document; the sibling-ring trap (every
    11th) changes NOTHING about the harvested rows — the visited
    guard walks the ring exactly once — only the has_cycle flag."""
    return f"""
SELECT doc_id,
  'Document ' || doc_id AS title,
  (CASE WHEN doc_id % 7 = 3 THEN 'Authör ' ELSE 'Author ' END)
    || (doc_id % 50) AS author,
  'writer/' || (doc_id % 5) AS producer,
  CAST(CASE WHEN doc_id % 13 = 7 THEN 0
       ELSE (doc_id % 3 + 1) * (1 + doc_id % 2) END AS BIGINT)
    AS n_outline,
  CAST(CASE WHEN doc_id % 13 = 7 THEN -1
       ELSE doc_id % 2 END AS BIGINT) AS max_depth,
  (doc_id % 11 = 5 AND doc_id % 13 <> 7) AS has_cycle
FROM {source}
"""


# ==================================================== section chunking

# Outline-aware chunking: the composition a RAG / training pipeline
# actually wants from document metadata — chunk boundaries anchored
# at the HARVESTED section headings, each chunk carrying its heading
# as provenance.  The wrapper writes a PDF whose page text interleaves
# section headings with the doc's tokens AND whose /Outlines tree
# declares exactly those headings; the operator re-derives the chunks
# from the two real parses (text extraction + outline harvest), never
# from the synthesis arithmetic.

_SEC_GROUPS = 3  # n_sections = doc_id % _SEC_GROUPS + 1


def wrap_pdf_sections(text: str, doc_id: int) -> bytes:
    """One wide page whose text is the doc's tokens split into
    ``doc_id % 3 + 1`` contiguous sections, each prefixed with an
    uppercase ``SEC{k}`` heading token (the corpus is lowercase, so
    headings cannot collide with content), and an outline declaring
    exactly those headings."""
    toks = text.split(" ")
    n = doc_id % _SEC_GROUPS + 1
    lth = len(toks)
    parts: list[str] = []
    outline: list[tuple[int, str]] = []
    for k in range(n):
        lo, hi = lth * k // n, lth * (k + 1) // n
        outline.append((0, f"SEC{k + 1}"))
        parts.append(f"SEC{k + 1} " + " ".join(toks[lo:hi]))
    page = PageSpec(width=120000.0, height=792.0)
    page.put_words(72.0, 400.0, 12.0, " ".join(parts).split(" "),
                   gap=6.0)
    return build_pdf([page], outline=outline)


SECTION_DOC_SCHEMA = (
    "doc_id long, extracted_text string, titles array<string>"
)


def _sections_rows(doc_id: int, text: str) -> list[tuple]:
    from ..operators.document import extract_document

    payload = wrap_pdf_sections(text, doc_id)
    rec = extract_document(payload)
    doc = parse_pdf(payload)
    return [(doc_id, rec["extracted_text"], [t for _d, t in doc.outline])]


def section_chunks(docs: DataFrame,
                   num_partitions: int | None = None) -> DataFrame:
    """(doc_id, section_idx, title, chunk) — extracted text split at
    the first occurrence of each HARVESTED outline heading; a chunk
    runs to the next harvested heading (not to arithmetic the
    synthesis used).

    Scale shape (100 TB contract): one Arrow pass produces (text,
    titles); the explode + boundary math (locate / substring) is a
    pure narrow map — the next section's start comes from
    ``element_at(titles, idx + 2)``, NOT a window, so there is no
    exchange after the doc-id spread at all."""
    from pyspark.sql import functions as F

    base = map_rows(spread(docs, ["doc_id", "text"], num_partitions),
                    _sections_rows, SECTION_DOC_SCHEMA)
    ex = base.select(
        "doc_id", "extracted_text", "titles",
        F.posexplode("titles").alias("section_idx", "title"),
    )
    # boundary math: a chunk starts at ITS harvested heading and runs
    # to the NEXT harvested heading (or end+1, so the final rtrim is
    # uniform) — "heading" means "title followed by a space", which
    # cannot occur inside the lowercase corpus text
    start = "locate(concat(title, ' '), extracted_text)"
    nxt = (
        "(CASE WHEN section_idx + 2 <= size(titles) THEN "
        "locate(concat(element_at(titles, section_idx + 2), ' '), "
        "extracted_text) ELSE length(extracted_text) + 2 END)"
    )
    return ex.select(
        "doc_id",
        F.col("section_idx").cast("long").alias("section_idx"),
        "title",
        F.expr(
            f"rtrim(substring(extracted_text, {start}, "
            f"{nxt} - {start}))"
        ).alias("chunk"),
    )


def duck_section_chunks_sql(source: str = "documents") -> str:
    """Closed-form twin of the synthesis: section k of a doc is
    tokens [floor(L*k/n), floor(L*(k+1)/n)) prefixed with its
    heading."""
    return f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks,
         doc_id % {_SEC_GROUPS} + 1 AS n
  FROM {source}
)
SELECT doc_id, u.k AS section_idx,
  'SEC' || CAST(u.k + 1 AS VARCHAR) AS title,
  'SEC' || CAST(u.k + 1 AS VARCHAR) || ' ' || array_to_string(
    toks[CAST(floor(len(toks) * u.k / n) AS INT) + 1
         : CAST(floor(len(toks) * (u.k + 1) / n) AS INT)], ' ')
    AS chunk
FROM t, UNNEST(generate_series(0, CAST(n - 1 AS BIGINT))) AS u(k)
"""


# ====================================================== form fields

def wrap_pdf_form(text: str, doc_id: int) -> bytes:
    """One-page PDF carrying the doc's words plus a deterministic
    AcroForm: two text fields always, a checkbox for every fourth
    doc (/V is a NAME, not a string), a hierarchical address field
    with dotted fully-qualified names for every fifth, a UTF-16BE
    value for every ninth — and every seventh doc has no form at
    all."""
    page = PageSpec(width=60000.0, height=792.0)
    page.put_words(72.0, 400.0, 12.0, text.split(" ")[:8], gap=6.0)
    if doc_id % 7 == 6:
        return build_pdf([page])
    owner_stem = "Ōwner" if doc_id % 9 == 4 else "Owner"
    fields: list = [
        ("title", f"Form {doc_id}"),
        ("owner", f"{owner_stem} {doc_id % 50}"),
    ]
    if doc_id % 4 == 2:
        fields.append(("agree", doc_id % 8 == 2))
    if doc_id % 5 == 1:
        fields.append(("address", [
            ("line1", f"{doc_id} Main St"),
            ("city", f"City{doc_id % 10}"),
        ]))
    return build_pdf([page], form_fields=fields)


PDF_FORM_SCHEMA = "doc_id long, field_name string, field_value string"


def _form_rows(doc_id: int, text: str) -> list[tuple]:
    doc = parse_pdf(wrap_pdf_form(text, doc_id))
    return [(doc_id, name, value) for name, value in doc.form_fields]


def pdf_form_fields(docs: DataFrame,
                    num_partitions: int | None = None) -> DataFrame:
    """(doc_id, field_name, field_value) — AcroForm values recovered
    by the real tokenizer.  Form data lives OUTSIDE content streams
    (ISO 32000 §12.7) — invisible to text extraction, which is why a
    corpus pipeline harvests it as its own pass over the same
    resolved objects."""
    return map_rows(spread(docs, ["doc_id", "text"], num_partitions),
                    _form_rows, PDF_FORM_SCHEMA)


def duck_pdf_form_sql(source: str = "documents") -> str:
    """Closed-form twin of the wrapper schedule."""
    return f"""
SELECT doc_id, 'title' AS field_name,
       'Form ' || doc_id AS field_value
FROM {source} WHERE doc_id % 7 <> 6
UNION ALL
SELECT doc_id, 'owner',
  (CASE WHEN doc_id % 9 = 4 THEN 'Ōwner ' ELSE 'Owner ' END)
    || (doc_id % 50)
FROM {source} WHERE doc_id % 7 <> 6
UNION ALL
SELECT doc_id, 'agree',
  CASE WHEN doc_id % 8 = 2 THEN 'Yes' ELSE 'Off' END
FROM {source} WHERE doc_id % 7 <> 6 AND doc_id % 4 = 2
UNION ALL
SELECT doc_id, 'address.line1', doc_id || ' Main St'
FROM {source} WHERE doc_id % 7 <> 6 AND doc_id % 5 = 1
UNION ALL
SELECT doc_id, 'address.city', 'City' || (doc_id % 10)
FROM {source} WHERE doc_id % 7 <> 6 AND doc_id % 5 = 1
"""


# ====================================================== attachments

def wrap_pdf_attachments(text: str, doc_id: int) -> bytes:
    """One-page PDF carrying the doc's words plus ``doc_id % 4``
    embedded files (so form-less docs exist) through the /Names
    /EmbeddedFiles name tree — flat leaf for most, the two-level
    /Kids + /Limits layout for every fifth doc with ≥ 2 entries;
    odd-index payloads travel Flate-compressed."""
    page = PageSpec(width=60000.0, height=792.0)
    page.put_words(72.0, 400.0, 12.0, text.split(" ")[:8], gap=6.0)
    n = doc_id % 4
    if n == 0:
        return build_pdf([page])
    atts = [
        (f"att{k}.txt", f"attachment {doc_id}-{k}".encode("ascii"))
        for k in range(n)
    ]
    return build_pdf(
        [page], attachments=atts,
        attachments_kids_tree=(doc_id % 5 == 0 and n >= 2),
    )


PDF_ATTACH_SCHEMA = "doc_id long, filename string, content string"


def _attach_rows(doc_id: int, text: str) -> list[tuple]:
    doc = parse_pdf(wrap_pdf_attachments(text, doc_id))
    return [(doc_id, fname, content.decode("utf-8", "replace"))
            for fname, content in doc.attachments]


def pdf_attachments(docs: DataFrame,
                    num_partitions: int | None = None) -> DataFrame:
    """(doc_id, filename, content) — embedded files recovered from
    the /EmbeddedFiles name tree by the real tokenizer.  Attachments
    are how e-invoice XML and source data travel inside PDFs —
    payload text extraction never sees."""
    return map_rows(spread(docs, ["doc_id", "text"], num_partitions),
                    _attach_rows, PDF_ATTACH_SCHEMA)


def duck_pdf_attach_sql(source: str = "documents") -> str:
    """Closed-form twin of the wrapper schedule: doc_id % 4 files per
    doc, deterministic names and payloads; tree shape and compression
    change NOTHING about the recovered rows."""
    return f"""
SELECT doc_id, 'att' || u.k || '.txt' AS filename,
       'attachment ' || doc_id || '-' || u.k AS content
FROM {source},
     UNNEST(generate_series(0, CAST(doc_id % 4 - 1 AS BIGINT)))
       AS u(k)
WHERE doc_id % 4 > 0
"""


# ================================================== unified harvest

def wrap_pdf_everything(text: str, doc_id: int) -> bytes:
    """One-page PDF combining EVERY metadata surface under the same
    schedules as the dedicated wrappers: /Info + outline
    (wrap_pdf_meta), AcroForm (wrap_pdf_form), embedded files
    (wrap_pdf_attachments), plus one URI link annotation."""
    page = PageSpec(width=60000.0, height=792.0)
    page.put_words(72.0, 400.0, 12.0, text.split(" ")[:8], gap=6.0)
    t1 = (doc_id * 31 + 7) % 100000
    page.put_link(f"https://site{t1 % 20}.example/page/{t1}")
    author_stem = "Authör" if doc_id % 7 == 3 else "Author"
    info = {
        "Title": f"Document {doc_id}",
        "Author": f"{author_stem} {doc_id % 50}",
        "Producer": f"writer/{doc_id % 5}",
    }
    outline: list[tuple[int, str]] = []
    if doc_id % 13 != 7:
        for j in range(1, doc_id % 3 + 2):
            outline.append((0, f"S{j}"))
            for k in range(1, doc_id % 2 + 1):
                outline.append((1, f"S{j}.{k}"))
    fields: list | None = None
    if doc_id % 7 != 6:
        fields = [
            ("title", f"Form {doc_id}"),
            ("owner", f"Owner {doc_id % 50}"),
        ]
        if doc_id % 4 == 2:
            fields.append(("agree", doc_id % 8 == 2))
        if doc_id % 5 == 1:
            fields.append(("address", [
                ("line1", f"{doc_id} Main St"),
                ("city", f"City{doc_id % 10}"),
            ]))
    atts = [
        (f"att{k}.txt", f"attachment {doc_id}-{k}".encode("ascii"))
        for k in range(doc_id % 4)
    ] or None
    return build_pdf(
        [page], info=info, outline=outline or None,
        outline_cycle=(doc_id % 11 == 5),
        form_fields=fields, attachments=atts,
    )


PDF_FULL_META_SCHEMA = (
    "doc_id long, title string, n_outline long, has_cycle boolean, "
    "n_form_fields long, n_attachments long, n_links long"
)


def _full_meta_rows(doc_id: int, text: str) -> list[tuple]:
    doc = parse_pdf(wrap_pdf_everything(text, doc_id))  # ONE parse
    return [(
        doc_id, doc.info.get("Title", ""), len(doc.outline),
        any("sibling ring" in e["message"] for e in doc.errors),
        len(doc.form_fields), len(doc.attachments),
        sum(len(p.links) for p in doc.pages),
    )]


def pdf_full_metadata(docs: DataFrame,
                      num_partitions: int | None = None) -> DataFrame:
    """Every metadata surface from ONE parse — the scale claim the
    per-surface operators each make ("harvesting rides the
    extraction pass, zero extra scans"), demonstrated as a single
    Arrow stage whose output row carries /Info, outline, AcroForm,
    attachment and link-annotation results simultaneously."""
    return map_rows(spread(docs, ["doc_id", "text"], num_partitions),
                    _full_meta_rows, PDF_FULL_META_SCHEMA)


def duck_pdf_full_meta_sql(source: str = "documents") -> str:
    """Composed closed form of the combined schedules."""
    return f"""
SELECT doc_id,
  'Document ' || doc_id AS title,
  CAST(CASE WHEN doc_id % 13 = 7 THEN 0
       ELSE (doc_id % 3 + 1) * (1 + doc_id % 2) END AS BIGINT)
    AS n_outline,
  (doc_id % 11 = 5 AND doc_id % 13 <> 7) AS has_cycle,
  CAST(CASE WHEN doc_id % 7 = 6 THEN 0
       ELSE 2 + CASE WHEN doc_id % 4 = 2 THEN 1 ELSE 0 END
              + CASE WHEN doc_id % 5 = 1 THEN 2 ELSE 0 END
       END AS BIGINT) AS n_form_fields,
  CAST(doc_id % 4 AS BIGINT) AS n_attachments,
  CAST(1 AS BIGINT) AS n_links
FROM {source}
"""


# =========================================================== XMP

def wrap_pdf_xmp(text: str, doc_id: int) -> bytes:
    """One-page PDF carrying BOTH metadata channels: a legacy /Info
    dict and an XMP packet.  Every sixth doc's XMP title DISAGREES
    with /Info (the stale-Info layout real writers leave behind when
    only the XMP side gets updated); every eighth carries XML-entity
    material (& < >) that must unescape exactly; every tenth has no
    XMP at all (legacy-only writer)."""
    page = PageSpec(width=60000.0, height=792.0)
    page.put_words(72.0, 400.0, 12.0, text.split(" ")[:8], gap=6.0)
    info = {"Title": f"Document {doc_id}"}
    if doc_id % 10 == 9:
        return build_pdf([page], info=info)
    if doc_id % 8 == 3:
        title = f"R&D <report> {doc_id}"
    elif doc_id % 6 == 1:
        title = f"Document {doc_id} rev2"
    else:
        title = f"Document {doc_id}"
    return build_pdf([page], info=info, xmp={
        "title": title,
        "creator": f"Creator {doc_id % 20}",
        "create_date": f"2024-01-{doc_id % 28 + 1:02d}T00:00:00Z",
    })


PDF_XMP_SCHEMA = (
    "doc_id long, xmp_title string, creator string, "
    "create_date string, has_xmp boolean, agrees_info boolean"
)


def _xmp_rows(doc_id: int, text: str) -> list[tuple]:
    doc = parse_pdf(wrap_pdf_xmp(text, doc_id))
    x = doc.xmp
    return [(
        doc_id, x.get("title", ""), x.get("creator", ""),
        x.get("create_date", ""), bool(x),
        x.get("title") == doc.info.get("Title") if x else False,
    )]


def pdf_xmp_metadata(docs: DataFrame,
                     num_partitions: int | None = None) -> DataFrame:
    """(doc_id, xmp_title, creator, create_date, has_xmp,
    agrees_info) — the modern metadata channel beside legacy /Info,
    with the stale-Info disagreement surfaced as an audit flag."""
    return map_rows(spread(docs, ["doc_id", "text"], num_partitions),
                    _xmp_rows, PDF_XMP_SCHEMA)


def duck_pdf_xmp_sql(source: str = "documents") -> str:
    """Closed-form twin of the XMP schedule (trap precedence: no-XMP
    beats entity beats rev2)."""
    return f"""
SELECT doc_id,
  CASE WHEN doc_id % 10 = 9 THEN ''
       WHEN doc_id % 8 = 3 THEN 'R&D <report> ' || doc_id
       WHEN doc_id % 6 = 1 THEN 'Document ' || doc_id || ' rev2'
       ELSE 'Document ' || doc_id END AS xmp_title,
  CASE WHEN doc_id % 10 = 9 THEN ''
       ELSE 'Creator ' || (doc_id % 20) END AS creator,
  CASE WHEN doc_id % 10 = 9 THEN ''
       ELSE '2024-01-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR),
                               2, '0') || 'T00:00:00Z'
  END AS create_date,
  doc_id % 10 <> 9 AS has_xmp,
  (doc_id % 10 <> 9 AND doc_id % 8 <> 3 AND doc_id % 6 <> 1)
    AS agrees_info
FROM {source}
"""


# ====================================================== annotations

def wrap_pdf_annots(text: str, doc_id: int) -> bytes:
    """One-page (two when the FreeText fires) PDF carrying the doc's
    words plus a deterministic review-comment schedule (ISO 32000
    §12.5.6): every fifth doc carries NO annotations at all;
    otherwise page 1 holds a Text sticky note with an author, every
    fourth doc adds an author-less Highlight remark, and every third
    doc adds a page-2 FreeText callout (UTF-16BE author for every
    ninth). Every annotated doc ALSO carries the three payloads the
    harvest must skip: a /Popup mirroring the note's /Contents
    (§12.5.6.14 — harvesting it would double the note), a
    geometry-only Highlight with no /Contents, and a /Link."""
    page = PageSpec(width=60000.0, height=792.0)
    page.put_words(72.0, 400.0, 12.0, text.split(" ")[:8], gap=6.0)
    pages = [page]
    if doc_id % 5 == 0:
        return build_pdf(pages)
    page.put_annot("Text", f"note {doc_id}", f"rev{doc_id % 7}")
    page.put_annot("Popup", f"note {doc_id}", None)
    page.put_annot("Highlight", None, "ghost")
    page.put_link("https://annot.test/skip")
    if doc_id % 4 == 2:
        page.put_annot("Highlight", f"hl {doc_id % 10}", None)
    if doc_id % 3 == 1:
        p2 = PageSpec(width=60000.0, height=792.0)
        p2.put_words(72.0, 400.0, 12.0, text.split(" ")[:4], gap=6.0)
        author = "Révïewer" if doc_id % 9 == 4 else "Reviewer"
        p2.put_annot("FreeText", f"callout {doc_id % 100}", author)
        pages.append(p2)
    return build_pdf(pages)


PDF_ANNOT_SCHEMA = (
    "doc_id long, page int, subtype string, contents string, "
    "author string"
)


def _annot_rows(doc_id: int, text: str) -> list[tuple]:
    doc = parse_pdf(wrap_pdf_annots(text, doc_id))
    return [(doc_id, *a) for a in doc.annotations]


def pdf_annotations(docs: DataFrame,
                    num_partitions: int | None = None) -> DataFrame:
    """(doc_id, page, subtype, contents, author) — markup-annotation
    text recovered by the real tokenizer. Review comments live in
    annotation dicts OUTSIDE content streams (ISO 32000 §12.5.6) —
    invisible to text extraction — and carry reviewer names and
    remarks a corpus pipeline either harvests deliberately or scrubs
    as PII; either way it must SEE them first."""
    return map_rows(spread(docs, ["doc_id", "text"], num_partitions),
                    _annot_rows, PDF_ANNOT_SCHEMA)


def duck_pdf_annot_sql(source: str = "documents") -> str:
    """Closed-form twin of the wrapper schedule."""
    return f"""
SELECT doc_id, 1 AS page, 'Text' AS subtype,
       'note ' || doc_id AS contents,
       'rev' || (doc_id % 7) AS author
FROM {source} WHERE doc_id % 5 <> 0
UNION ALL
SELECT doc_id, 1, 'Highlight', 'hl ' || (doc_id % 10), ''
FROM {source} WHERE doc_id % 5 <> 0 AND doc_id % 4 = 2
UNION ALL
SELECT doc_id, 2, 'FreeText', 'callout ' || (doc_id % 100),
  CASE WHEN doc_id % 9 = 4 THEN 'Révïewer' ELSE 'Reviewer' END
FROM {source} WHERE doc_id % 5 <> 0 AND doc_id % 3 = 1
"""
