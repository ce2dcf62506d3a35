"""AI-training opt-out signals: ``noai`` robots tokens + the W3C TDM
Reservation Protocol (TDMRep) — the modern compliance layer a
training-corpus pipeline must evaluate beside classic REP.

Two signal families, each on two channels (meta tag + response
header), restrictive-wins like every REP composition:

- ``noai`` / ``noimageai`` tokens in ``<meta name="robots">`` or
  ``X-Robots-Tag`` — the de-facto opt-out that spread from art
  platforms; same comma-separated case-insensitive token grammar as
  classic REP, and composes with it (a ``noimageai, noindex`` value
  carries both verdicts).
- TDMRep (W3C CG report): ``<meta name="tdm-reservation"
  content="1">`` reserves text-and-data-mining rights; ``0`` is an
  EXPLICIT non-reservation; ``tdm-policy`` names a machine-readable
  policy URL (only meaningful when reserved). Header spelling:
  ``TDM-Reservation: 1``.

The meta channel goes through the REAL parser (template-wrapped
declarations are inert per WHATWG — fixture variant pins it); the
header channel is parsed natively from the response-header blob —
no Python for bytes that never need a DOM.

Output is one verdict row per document: ``noai`` / ``noimageai`` /
``tdm_reserved`` booleans (OR across channels) + ``tdm_policy`` URL
(reserved docs only, '' otherwise). Like the license harvest, the
drop decision is a downstream policy aggregate — this operator makes
the signals visible and exact.
"""

from __future__ import annotations

import html as _html

from pyspark.sql import DataFrame, functions as F

from ..operators.html_extract import harvest_directives
from ..plans.pipeline import map_rows, spread


def parse_ai_tokens(content: str) -> tuple[bool, bool]:
    """robots token grammar → (noai, noimageai)."""
    toks = {t.strip().lower() for t in content.split(",")}
    return "noai" in toks, "noimageai" in toks


def wrap_html_aioptout(text: str, doc_id: int) -> bytes:
    """Page whose head carries the doc's opt-out variant
    (``doc_id % 9``):

    - 0: no signal;
    - 1: robots meta ``noai``;
    - 2: robots meta ``noimageai, noindex`` (composes with REP);
    - 3: tdm-reservation 1 + tdm-policy URL;
    - 4: tdm-reservation 0 (EXPLICIT non-reservation);
    - 5/6: header-channel docs (meta silent — see
      ``synth_aioptout_headers``);
    - 7: template-wrapped tdm-reservation (inert per WHATWG);
    - 8: robots meta `` NoAI ``-style folded case/space.
    """
    v = doc_id % 9
    head = ["<title>d</title>"]
    if v == 1:
        head.append("<meta name='robots' content='noai'>")
    elif v == 2:
        head.append("<meta name='robots' content='noimageai, noindex'>")
    elif v == 3:
        head.append("<meta name='tdm-reservation' content='1'>")
        head.append(
            "<meta name='tdm-policy' "
            f"content='https://example.test/tdm-{doc_id % 10}.json'>"
        )
    elif v == 4:
        head.append("<meta name='tdm-reservation' content='0'>")
    elif v == 7:
        head.append(
            "<template>"
            "<meta name='tdm-reservation' content='1'>"
            "</template>"
        )
    elif v == 8:
        head.append("<meta name='ROBOTS' content=' NoAI , nofollow'>")
    return (
        f"<html><head>{''.join(head)}</head><body>"
        f"<p>{_html.escape(text)}</p></body></html>"
    ).encode("utf-8")


def synth_aioptout_headers(docs: DataFrame) -> DataFrame:
    """(doc_id, text, hdr_noai, hdr_tdm): variant-5 docs carry
    ``X-Robots-Tag: noai`` (folded case for every second), variant-6
    docs ``TDM-Reservation: 1`` — both parsed NATIVELY from the
    synthesized raw header blob, never in Python."""
    hdrs = F.concat(
        F.lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"),
        F.when(
            (F.col("doc_id") % 9 == 5) & (F.col("doc_id") % 2 == 0),
            F.lit("X-Robots-Tag: noai\r\n"),
        ).when(
            F.col("doc_id") % 9 == 5, F.lit("x-robots-tag: NOAI\r\n")
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 9 == 6, F.lit("TDM-Reservation: 1\r\n")
        ).otherwise(F.lit("")),
        F.lit("Content-Length: 0\r\n"),
    )
    # one regexp per verdict over the raw blob: header NAME folded,
    # token list scanned within the value
    noai = F.regexp_like(
        hdrs, F.lit(r"(?im)^x-robots-tag:[^\r\n]*\bnoai\b")
    )
    tdm = F.regexp_like(
        hdrs, F.lit(r"(?im)^tdm-reservation:\s*1\s*$")
    )
    return docs.select(
        "doc_id", "text",
        noai.alias("hdr_noai"), tdm.alias("hdr_tdm"),
    )


AIOPTOUT_SCHEMA = (
    "doc_id long, noai boolean, noimageai boolean, "
    "tdm_reserved boolean, tdm_policy string"
)


def _aioptout_rows(doc_id: int, text: str, hdr_noai: bool,
                   hdr_tdm: bool) -> list[tuple]:
    noai = noimg = tdm = False
    policy = ""
    for kind, value in harvest_directives(wrap_html_aioptout(text, doc_id)):
        if kind == "robots":
            a, i = parse_ai_tokens(value)
            noai, noimg = noai or a, noimg or i
        elif kind == "tdm-reservation":
            tdm = tdm or value.strip() == "1"
        elif kind == "tdm-policy":
            policy = value
    tdm = tdm or hdr_tdm
    # a policy URL is only meaningful under a reservation
    return [(doc_id, noai or hdr_noai, noimg, tdm, policy if tdm else "")]


def ai_optout_signals(docs: DataFrame,
                      num_partitions: int | None = None) -> DataFrame:
    """(doc_id, noai, noimageai, tdm_reserved, tdm_policy) — one
    verdict row per document, meta OR header, restrictive-wins.
    Meta leg rides the extraction pass (one Arrow stage); header leg
    is a native narrow map computed BEFORE the spread so the Python
    stage never sees raw headers — only its boolean verdicts."""
    return map_rows(
        spread(synth_aioptout_headers(docs),
               ["doc_id", "text", "hdr_noai", "hdr_tdm"], num_partitions),
        _aioptout_rows, AIOPTOUT_SCHEMA,
    )


def duck_aioptout_sql(source: str = "documents") -> str:
    """Closed-form twin of the two-channel schedule."""
    return f"""
SELECT doc_id,
  (doc_id % 9 = 1 OR doc_id % 9 = 8 OR doc_id % 9 = 5) AS noai,
  (doc_id % 9 = 2) AS noimageai,
  (doc_id % 9 = 3 OR doc_id % 9 = 6) AS tdm_reserved,
  CASE WHEN doc_id % 9 = 3
       THEN 'https://example.test/tdm-' || (doc_id % 10) || '.json'
       ELSE '' END AS tdm_policy
FROM {source}
"""
