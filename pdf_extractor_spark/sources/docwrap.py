"""Deterministic payload synthesis from the ``documents`` test table.

Wraps each document's text into a real HTML page (with nav/footer
boilerplate) or a real PDF byte stream, then runs the extraction
kernel — all fused inside one ``mapInPandas`` stage. Because the
wrappers add ONLY boilerplate that the engine must strip, the correct
extraction output equals the original ``text`` column byte-for-byte,
which gives the driver a DuckDB-checkable oracle for the whole
extraction path: ``SELECT doc_id, text AS extracted_text FROM
documents``.
"""

from __future__ import annotations

import html as _html

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG
from ..operators.document import extract_document
from ..operators.pdf_generator import PageSpec, build_pdf, text_advance
from ..plans.pipeline import _FAIL_SEVERITIES, map_rows, spread

ROUNDTRIP_SCHEMA = "doc_id long, extracted_text string"


def _page_html(
    text: str, meta_charset: str | None = None, hidden: int = 0,
    doc_id: int = 0,
) -> str:
    meta = (
        f"<meta charset='{meta_charset}'>" if meta_charset else ""
    )
    # CSS-suppressed junk the extractor must drop (variant > 0):
    # display:none stuffing before the content, a hidden-attribute
    # panel plus a visibility:hidden span after it — page-unique
    # payloads so a leak can never hash-collide into a pass
    pre = post = ""
    if hidden == 1:
        pre = (
            "<div style='display:none'><p>hidden stuffing "
            f"{doc_id} that must never extract</p></div>"
        )
    elif hidden == 2:
        post = (
            f"<p hidden>collapsed panel {doc_id} text a scriptless "
            "consumer never renders</p>"
            f"<span style='visibility:hidden'>invisible tail "
            f"{doc_id}</span>"
        )
    return (
        f"<html><head>{meta}<title>doc</title></head><body>"
        "<nav><a href='/'>Home</a> <a href='/idx'>Index</a> "
        "<a href='/c'>Contact</a></nav>"
        f"{pre}<p>{_html.escape(text)}</p>{post}"
        "<footer><a href='/p'>Privacy</a> <a href='/t'>Terms</a></footer>"
        "</body></html>"
    )


def wrap_html(text: str) -> bytes:
    return _page_html(text).encode("utf-8")


def wrap_html_transport(text: str, doc_id: int) -> bytes:
    """Same page, rotating the TRANSPORT containers crawled payloads
    actually arrive in — byte-identity must hold regardless: plain
    UTF-8, a captured HTTP response with a gzip content coding, a
    chunked HTTP response, UTF-16LE with a BOM plus a LYING in-
    document meta (the BOM must win, per WHATWG), a bare gzip
    transport wrapper (the mis-served Content-Encoding layout), an
    HTTP response with the RFC 9110 deflate coding (zlib-wrapped),
    and one with the bare-DEFLATE stream legacy servers mis-serve
    under the same ``Content-Encoding: deflate`` header.

    A second, ORTHOGONAL rotation (``doc_id % 3``; all 21 combos
    recur with period 21) plants CSS-suppressed junk the extractor
    must drop — ``display:none`` stuffing, a ``hidden``-attribute
    panel, a ``visibility:hidden`` span — keeping the oracle the
    identity: hidden content never renders, so it never extracts."""
    import gzip as _gzip

    page = _page_html(text, hidden=doc_id % 3, doc_id=doc_id)
    variant = doc_id % 7
    if variant == 1 or variant == 2:
        from .warc import http_response

        return http_response(
            page.encode("utf-8"),
            gzip_body=(variant == 1),
            chunked=(variant == 2),
        )
    if variant == 5 or variant == 6:
        from .warc import http_response

        return http_response(
            page.encode("utf-8"),
            deflate_body=("zlib" if variant == 5 else "raw"),
            chunked=(variant == 6),
        )
    if variant == 3:
        import codecs

        return codecs.BOM_UTF16_LE + _page_html(
            text, meta_charset="iso-8859-1", hidden=doc_id % 3,
            doc_id=doc_id,
        ).encode("utf-16-le")
    if variant == 4:
        return _gzip.compress(page.encode("utf-8"), mtime=0)
    return page.encode("utf-8")


def wrap_pdf(text: str) -> bytes:
    """One wide page, one baseline: extraction reads the words back in
    x-order and W2 re-inserts the single spaces — text roundtrips
    byte-exactly."""
    page = PageSpec(width=60000.0, height=792.0)
    page.put_words(72.0, 400.0, 12.0, text.split(" "), gap=6.0)
    return build_pdf([page])


def wrap_pdf_layout(text: str, doc_id: int) -> bytes:
    """Same page, rotating WRITER LAYOUTS — byte-identity must hold
    regardless of the container a real writer chose: classic xref
    table, PDF-1.5 xref stream + ObjStm, or the hybrid-reference
    /XRefStm layout (ISO 32000 §7.5.8.4), with compression flipped
    on half of each.

    A second, ORTHOGONAL rotation (``doc_id % 4``) exercises the
    marked-content channels, every one of which must leave the
    extracted text IDENTICAL to the input (the oracle stays the
    identity):

    - 1: a page-unique /Artifact running head — furniture, dropped
      at the scanner (§14.8.2.2);
    - 2: the first word shown as GARBAGE wrapped in /Span
      <</ActualText …>> — the replacement, not the garbage, must
      extract (§14.9.4);
    - 3: a default-OFF optional-content layer carrying junk — never
      drawn, never extracted (§8.11; classic container only — the
      xref-stream writer doesn't emit /OCProperties — other
      containers fall back to the artifact variant).

    A third rotation (``doc_id % 5 == 0``) ENCRYPTS the document
    (standard security, empty user password — the owner-restricted
    web case), cycling RC4-128 / AES-128 / AES-256(R6): decryption
    must be invisible in the extracted text on both the classic and
    xref-stream containers (the hybrid writer takes no encryption —
    those docs stay plaintext)."""
    from ..operators.pdf_generator import build_pdf_hybrid

    words = text.split(" ")
    page = PageSpec(width=60000.0, height=792.0)
    compress = doc_id % 2 == 0
    variant = doc_id % 3
    mc = doc_id % 4
    encrypt = None
    if doc_id % 5 == 0 and variant != 2:
        encrypt = ("rc4-128", "aes-128", "aes-256")[(doc_id // 5) % 3]
    ocg_layers = None
    if mc == 3 and variant != 0:
        mc = 1
    if mc == 2 and words and words[0]:
        page.put(72.0, 400.0, 12.0, "~@#~", actual_text=words[0])
        cx = 72.0 + text_advance(words[0], 12.0) + 6.0
        page.put_words(cx, 400.0, 12.0, words[1:], gap=6.0)
    else:
        page.put_words(72.0, 400.0, 12.0, words, gap=6.0)
    if mc == 1:
        page.put(200.0, 20.0, 10.0, f"crawl shard {doc_id} folio",
                 artifact="Pagination")
    elif mc == 3:
        page.put(72.0, 300.0, 12.0,
                 f"hidden layer payload {doc_id} must never extract",
                 oc="AltContent")
        ocg_layers = {"AltContent": False}
    if variant == 1:
        return build_pdf([page], compress=compress, xref_stream=True,
                         encrypt=encrypt)
    if variant == 2:
        return build_pdf_hybrid([page], compress=compress)
    return build_pdf([page], compress=compress,
                     ocg_layers=ocg_layers, encrypt=encrypt)


def _extracted_text(payload: bytes) -> str:
    return extract_document(payload, DEFAULT_CONFIG)["extracted_text"]


def _roundtrip(docs: DataFrame, num_partitions: int | None,
               text_of) -> DataFrame:
    """``text_of(doc_id, text)`` per document → (doc_id,
    extracted_text)."""
    return map_rows(
        spread(docs, ["doc_id", "text"], num_partitions),
        lambda d, t: [(d, text_of(d, t))], ROUNDTRIP_SCHEMA,
    )


def html_roundtrip(docs: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """documents → synth HTML (transport container rotating plain /
    HTTP+gzip / HTTP+chunked / BOM'd UTF-16LE with a lying meta /
    bare-gzip by doc_id) → extract → (doc_id, extracted_text)."""
    return _roundtrip(
        docs, num_partitions,
        lambda d, t: _extracted_text(wrap_html_transport(t, d)),
    )


def pdf_roundtrip(docs: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """documents → synth PDF (writer layout rotating classic /
    xref-stream / hybrid-reference by doc_id) → extract →
    (doc_id, extracted_text)."""
    return _roundtrip(
        docs, num_partitions,
        lambda d, t: _extracted_text(wrap_pdf_layout(t, d)),
    )


GARBAGE_PAYLOAD = b"\x80\x81\x82\x83garbage\x9f\x9e"


def _error_rows(doc_id: int, text: str) -> list[tuple]:
    """One (doc_id, error_type, severity) row per kernel error."""
    if doc_id % 10 == 3:
        payload = b""
    elif doc_id % 10 == 7:
        payload = GARBAGE_PAYLOAD
    else:
        payload = wrap_html(text)
    r = extract_document(payload, DEFAULT_CONFIG)
    return [(doc_id, e["type"], e["severity"]) for e in r["errors"]]


def error_rollup(docs: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """A11 error-report rollup (reference ``error_handler.py:354-416``:
    counts by type × severity). Deterministic error taxonomy exercise:
    ``doc_id % 10 == 3`` docs get an EMPTY payload (→ empty_page),
    ``doc_id % 10 == 7`` get undecodable binary garbage (→ encoding),
    the rest wrap cleanly (→ no errors) — so the DuckDB oracle can
    predict every row from doc_id arithmetic while the counts flow
    through the real kernel + explode + hash-aggregate path."""
    recs = map_rows(
        spread(docs, ["doc_id", "text"], num_partitions), _error_rows,
        "doc_id long, error_type string, severity string",
    )
    return (
        recs.groupBy("error_type", "severity")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy("error_type", "severity")
    )


FULL_RECORD_SCHEMA = (
    "doc_id long, branch string, ok boolean, score double, grade string, "
    "coverage double, status string, n_spans int, n_errors int, "
    "inv_total long"
)


def _full_record_rows(doc_id: int, text: str) -> list[tuple]:
    """Full extraction record per document: even doc ids wrap as PDF,
    odd as HTML — both branches exercised in one stage."""
    wrapper = wrap_pdf if doc_id % 2 == 0 else wrap_html
    r = extract_document(wrapper(text), DEFAULT_CONFIG)
    q = r["quality"]
    ok = not any(e["severity"] in _FAIL_SEVERITIES for e in r["errors"])
    return [(
        doc_id, r["branch"], ok, q["score"], q["grade"], q["coverage"],
        q["status"], len(r["spans"]), len(r["errors"]),
        r["inventory"]["total"],
    )]


def full_extract_stats(docs: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """Per-branch rollup of the FULL extraction record (quality score,
    coverage status, inventory, error counts) — the surfaces beyond
    ``extracted_text`` that the roundtrip queries don't reach."""
    recs = map_rows(
        spread(docs, ["doc_id", "text"], num_partitions),
        _full_record_rows, FULL_RECORD_SCHEMA,
    )
    return (
        recs.groupBy("branch", "grade", "status")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("score"), 4).alias("avg_score"),
            F.round(F.avg("coverage"), 6).alias("avg_coverage"),
            F.sum(F.col("ok").cast("long")).alias("n_ok"),
            F.sum("inv_total").alias("inv_total"),
        )
        .orderBy("branch", "grade", "status")
    )


def svg_roundtrip(docs: DataFrame,
                  num_partitions: int | None = None) -> DataFrame:
    """documents → synth SVG (words on a coordinate grid EMITTED
    OUT OF ORDER, tspan-inheritance dialect on odd docs, entity
    escaping, defs/title/comment/CDATA decoys) → coordinate-sorted
    extraction (operators/svg_extract.py) → (doc_id,
    extracted_text): the shown text must reassemble byte-identical
    from geometry, not document order."""
    from ..operators.svg_extract import build_svg, svg_extract_text

    return _roundtrip(
        docs, num_partitions, lambda d, t: svg_extract_text(build_svg(t, d))
    )
