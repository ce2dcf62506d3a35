"""Embedded-image harvest from PDF documents: the two from-scratch
machines meeting end to end — ``pdf_tokenizer`` resolves image
XObjects out of page resources (xref/ObjStm walk, per-object
decryption, /DCTDecode raw-slice passthrough) and ``jpeg_codec``
entropy-decodes the recovered JPEG streams to pixels.

Real crawls are full of image-bearing PDFs (scans, figures, logos);
a training-data pipeline wants their inventory (count, dimensions,
placement frequency) and decoded statistics without a second fetch
or an external library. Reference scope: pdf-extractor skips images
entirely (extractor.py works on text objects only) — this is an
engine extension, not a parity kernel.

Fixture schedule (deterministic in doc_id; every value below is
closed-form for the SQL twin):

    n_images     = 1 + doc_id % 3          (names Im0..Im2)
    per image j:
      gray       = (doc_id + j) % 4 == 1
      width      = 16 + 8 * ((doc_id + j) % 3)
      height     = 16 + 8 * ((doc_id + 2*j) % 2)
      quality    = 50 + 10 * ((doc_id + j) % 4)
      progressive= (doc_id + j) % 5 == 2
      4:2:0      = color and (doc_id + j) % 2 == 0
      n_draws    = 1 + (doc_id + j) % 2
      Y cell(bx,by) = (doc_id*5 + 11*j + 13*bx + 29*by) % 256
    document-level: every 5th doc ENCRYPTED (rc4-128 / aes-128
    alternating — the harvest must decrypt the JPEG stream before
    entropy decode), every 3rd doc Flate-compresses its content
    streams (exercises draw-count scans over decoded content).

The pixel grid is constant per MCU-aligned 16x16 cell, so the
decoded luma sum has the same closed form as the standalone JPEG
leg (see ``multimodal.duck_jpeg_decode_sql``) — chroma planes are
decoded but not reported, keeping the oracle to one quant constant.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from ..operators.jpeg_codec import (
    JpegError,
    jpeg_decode,
    jpeg_encode,
    jpeg_encode_progressive,
)
from ..operators.pdf_generator import PageSpec, build_pdf
from ..operators.pdf_tokenizer import parse_pdf
from ..plans.pipeline import map_rows, spread


def _fixture_image(doc_id: int, j: int) -> tuple:
    """(name, width, height, gray, jpeg bytes, n_draws) for image
    ``j`` of document ``doc_id``."""
    gray = (doc_id + j) % 4 == 1
    w = 16 + 8 * ((doc_id + j) % 3)
    h = 16 + 8 * ((doc_id + 2 * j) % 2)
    bx = np.arange((w + 15) // 16, dtype=np.int64)
    by = np.arange((h + 15) // 16, dtype=np.int64)

    def cells(a: int, b: int, c: int, d: int) -> np.ndarray:
        cell = (doc_id * a + b * j + c * bx[None, :]
                + d * by[:, None]) % 256
        return np.repeat(
            np.repeat(cell, 16, axis=0), 16, axis=1
        )[:h, :w].astype(np.uint8)

    planes = [cells(5, 11, 13, 29)]
    if not gray:
        planes.append(cells(7, 3, 17, 5))
        planes.append(cells(3, 7, 23, 11))
    enc = (
        jpeg_encode_progressive
        if (doc_id + j) % 5 == 2 else jpeg_encode
    )
    payload = enc(
        planes,
        quality=50 + 10 * ((doc_id + j) % 4),
        subsample=(not gray) and (doc_id + j) % 2 == 0,
    )
    return (f"Im{j}", w, h, gray, payload, 1 + (doc_id + j) % 2)


def wrap_pdf_images(text: str, doc_id: int) -> bytes:
    """One-page PDF carrying the doc's words plus the image
    schedule above as /DCTDecode XObjects."""
    page = PageSpec(width=60000.0, height=792.0)
    page.put_words(72.0, 400.0, 12.0, text.split(" ")[:8], gap=6.0)
    images = [
        _fixture_image(doc_id, j) for j in range(1 + doc_id % 3)
    ]
    encrypt = None
    if doc_id % 5 == 0:
        encrypt = ("rc4-128", "aes-128")[(doc_id // 5) % 2]
    return build_pdf(
        [page],
        compress=doc_id % 3 == 0,
        encrypt=encrypt,
        images=images,
    )


PDF_IMAGES_SCHEMA = (
    "doc_id long, name string, width int, height int, "
    "gray boolean, n_draws int, y_sum long"
)


def _images_rows(doc_id: int, text: str) -> list[tuple]:
    out = []
    doc = parse_pdf(wrap_pdf_images(text, doc_id))
    for _page, name, _dw, _dh, cs, _bpc, filt, n_draws, data in doc.images:
        if filt != "DCTDecode":
            continue
        try:
            planes, meta = jpeg_decode(bytes(data))
        except JpegError:
            # crawl-damaged raster: skip the image, never the task
            # (text already survived upstream)
            continue
        # decoded-frame dims, not the dict's claim: the oracle match
        # proves the entropy decode ran
        out.append((
            doc_id, name, meta["width"], meta["height"],
            cs == "DeviceGray", n_draws,
            int(planes[0].astype(np.int64).sum()),
        ))
    return out


def pdf_images(docs: DataFrame,
               num_partitions: int | None = None) -> DataFrame:
    """(doc_id, name, width, height, gray, n_draws, y_sum) — every
    embedded image of every document, dimensions and luma sum
    measured from the DECODED pixels. Same layout rule as the
    extraction pipeline: documents hash-spread before the Arrow
    stage, media bytes never cross an exchange."""
    return map_rows(spread(docs, ["doc_id", "text"], num_partitions),
                    _images_rows, PDF_IMAGES_SCHEMA)


def duck_pdf_images_sql(source: str = "documents") -> str:
    """Closed-form twin of the fixture schedule (DC-only
    quantization roundtrip per 16x16 cell, luma only)."""
    return f"""
WITH img AS (
  SELECT doc_id, gj.j,
         16 + 8 * ((doc_id + gj.j) % 3)      AS w,
         16 + 8 * ((doc_id + 2 * gj.j) % 2)  AS h,
         (doc_id + gj.j) % 4 = 1             AS gray,
         50 + 10 * ((doc_id + gj.j) % 4)     AS qf,
         1 + (doc_id + gj.j) % 2             AS n_draws
  FROM {source},
       LATERAL (
         SELECT unnest(range(0, 1 + doc_id % 3)) AS j
       ) gj
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
       'Im' || j                  AS name,
       CAST(w AS INT)             AS width,
       CAST(h AS INT)             AS height,
       gray,
       CAST(n_draws AS INT)       AS n_draws,
       CAST(sum(nx * ny * least(greatest(floor(
           floor(8.0 * ((doc_id * 5 + 11 * j + 13 * bx + 29 * by)
                        % 256 - 128) / qy00 + 0.5)
           * qy00 / 8.0 + 0.5) + 128, 0), 255)) AS BIGINT) AS y_sum
FROM cell
GROUP BY doc_id, j, w, h, gray, n_draws
"""
