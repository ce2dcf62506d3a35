"""Inline ``data:`` URI image decode — the HTML twin of the PDF
embedded-image harvest: crawled pages carry small images (logos,
thumbnails, tracking art) base64-inlined in ``<img src>``; decoding
them needs no second fetch, so a multimodal pipeline harvests them
in the same pass that extracts text.

Pipeline: the REAL html machinery (``harvest_images`` — charset
sniff, quote repair, lazy-load ``data-src`` resolution, template
inertness) surfaces the src candidates; ``data:image/*;base64``
payloads decode through stdlib base64 and the from-scratch JPEG
codec. External URLs and lazy-load stubs fall out naturally (they
are not data URIs after harvesting); damaged base64 or broken JPEG
bytes skip the image, never the page.

Fixture schedule (deterministic in doc_id):

    n_imgs = 1 + doc_id % 2            (alt "fig0", "fig1")
    per image j:
      gray        = (doc_id + 3*j) % 3 == 1
      width       = 16 + 8 * ((doc_id + j) % 3)
      height      = 16 + 8 * ((doc_id * 2 + j) % 2)
      quality     = 55 + 10 * ((doc_id + j) % 3)
      progressive = (doc_id + j) % 4 == 3
      4:2:0       = color and (doc_id + j) % 2 == 1
      Y cell(bx,by) = (doc_id*9 + 5*j + 13*bx + 29*by) % 256
    every 11th doc (doc_id % 11 == 10): image 0's base64 payload is
      garbage — harvested but undecodable, excluded from output
    every 7th doc (doc_id % 7 == 3): an extra lazy-load stub
      (src="data:," + data-src=https URL) — the harvester swaps in
      the external URL, so it never reaches the decoder
    every doc: one plain external <img> (ignored by this leg)

Same closed-form luma oracle as the other JPEG legs.
"""

from __future__ import annotations

import base64

import numpy as np
from pyspark.sql import DataFrame

from ..operators.html_extract import harvest_images
from ..operators.jpeg_codec import (
    JpegError,
    jpeg_decode,
    jpeg_encode,
    jpeg_encode_progressive,
)
from ..plans.pipeline import map_rows, spread


def _fixture_jpeg(doc_id: int, j: int) -> tuple[bytes, int, int, bool]:
    gray = (doc_id + 3 * j) % 3 == 1
    w = 16 + 8 * ((doc_id + j) % 3)
    h = 16 + 8 * ((doc_id * 2 + j) % 2)
    bx = np.arange((w + 15) // 16, dtype=np.int64)
    by = np.arange((h + 15) // 16, dtype=np.int64)

    def cells(a: int, b: int, c: int, d: int) -> np.ndarray:
        cell = (doc_id * a + b * j + c * bx[None, :]
                + d * by[:, None]) % 256
        return np.repeat(
            np.repeat(cell, 16, axis=0), 16, axis=1
        )[:h, :w].astype(np.uint8)

    planes = [cells(9, 5, 13, 29)]
    if not gray:
        planes.append(cells(4, 9, 17, 5))
        planes.append(cells(6, 7, 23, 11))
    enc = (
        jpeg_encode_progressive
        if (doc_id + j) % 4 == 3 else jpeg_encode
    )
    payload = enc(
        planes,
        quality=55 + 10 * ((doc_id + j) % 3),
        subsample=(not gray) and (doc_id + j) % 2 == 1,
    )
    return payload, w, h, gray


def wrap_html_inline_images(text: str, doc_id: int) -> bytes:
    """Article page with the inline-image schedule above."""
    words = " ".join(text.split(" ")[:10])
    parts = [
        "<!doctype html><html><head><meta charset='utf-8'>",
        f"<title>doc {doc_id}</title></head><body>",
        f"<article><p>{words}</p>",
    ]
    for j in range(1 + doc_id % 2):
        if j == 0 and doc_id % 11 == 10:
            b64 = "QkFEQkFE" * 8  # decodes, but not to a JPEG
        else:
            payload, _w, _h, _g = _fixture_jpeg(doc_id, j)
            b64 = base64.b64encode(payload).decode("ascii")
        parts.append(
            f'<img src="data:image/jpeg;base64,{b64}" alt="fig{j}">'
        )
    if doc_id % 7 == 3:
        parts.append(
            '<img src="data:," data-src="https://cdn.example/l.jpg"'
            ' alt="lazy">'
        )
    parts.append(
        f'<img src="https://img.example/{doc_id}.jpg" alt="ext">'
    )
    parts.append("</article></body></html>")
    return "".join(parts).encode("utf-8")


INLINE_IMAGES_SCHEMA = (
    "doc_id long, alt string, width int, height int, "
    "gray boolean, y_sum long"
)


def _inline_rows(doc_id: int, text: str) -> list[tuple]:
    out = []
    page = wrap_html_inline_images(text, doc_id)
    for _tag, src, _srcset, alt in harvest_images(page):
        if not src.startswith("data:image/"):
            continue
        head, sep, body = src.partition(";base64,")
        if not sep:
            continue
        try:
            payload = base64.b64decode(body, validate=True)
            planes, meta = jpeg_decode(payload)
        except (ValueError, JpegError):
            continue  # damaged inline image: skip, not crash
        out.append((
            doc_id, alt, meta["width"], meta["height"],
            meta["n_components"] == 1,
            int(planes[0].astype(np.int64).sum()),
        ))
    return out


def inline_images(docs: DataFrame,
                  num_partitions: int | None = None) -> DataFrame:
    """(doc_id, alt, width, height, gray, y_sum) for every
    decodable inline data-URI image. Page bytes stay partition-
    local; only these fixed-shape rows flow on."""
    return map_rows(spread(docs, ["doc_id", "text"], num_partitions),
                    _inline_rows, INLINE_IMAGES_SCHEMA)


def duck_inline_images_sql(source: str = "documents") -> str:
    """Closed-form twin (luma only; the corrupt every-11th image 0
    is excluded the way the harvester skips it)."""
    return f"""
WITH img AS (
  SELECT doc_id, gj.j,
         16 + 8 * ((doc_id + gj.j) % 3)      AS w,
         16 + 8 * ((doc_id * 2 + gj.j) % 2)  AS h,
         (doc_id + 3 * gj.j) % 3 = 1         AS gray,
         55 + 10 * ((doc_id + gj.j) % 3)     AS qf
  FROM {source},
       LATERAL (
         SELECT unnest(range(0, 1 + doc_id % 2)) AS j
       ) gj
  WHERE NOT (doc_id % 11 = 10 AND gj.j = 0)
), q AS (
  SELECT *,
         greatest(1, least(255, (16 * (200 - 2 * qf) + 50) // 100))
           AS qy00
  FROM img
), cell AS (
  SELECT q.*, gx.bx, gy.by,
         least(16, w - 16 * gx.bx) AS nx,
         least(16, h - 16 * gy.by) AS ny
  FROM q,
       LATERAL (SELECT unnest(range(0, (w + 15) // 16)) AS bx) gx,
       LATERAL (SELECT unnest(range(0, (h + 15) // 16)) AS by) gy
)
SELECT doc_id,
       'fig' || j                 AS alt,
       CAST(w AS INT)             AS width,
       CAST(h AS INT)             AS height,
       gray,
       CAST(sum(nx * ny * least(greatest(floor(
           floor(8.0 * ((doc_id * 9 + 5 * j + 13 * bx + 29 * by)
                        % 256 - 128) / qy00 + 0.5)
           * qy00 / 8.0 + 0.5) + 128, 0), 255)) AS BIGINT) AS y_sum
FROM cell
GROUP BY doc_id, j, w, h, gray
"""
