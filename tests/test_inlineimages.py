"""Inline data-URI image decode: html_extract x jpeg_codec."""

from __future__ import annotations

import base64

import numpy as np
import pandas as pd

from pdf_extractor_spark.functions.inlineimages import (
    _fixture_jpeg,
    _inline_rows,
    wrap_html_inline_images,
)
from pdf_extractor_spark.operators.html_extract import harvest_images
from pdf_extractor_spark.operators.jpeg_codec import jpeg_decode


def _rows(doc_ids):
    return pd.DataFrame(
        [row for d in doc_ids
         for row in _inline_rows(d, "lorem ipsum dolor")],
        columns=["doc_id", "alt", "width", "height", "gray", "y_sum"],
    )


def test_decodes_scheduled_images_and_ignores_externals():
    out = _rows([0, 1, 4])
    # doc 0: 1 image, doc 1: 2 images, doc 4: 1 image
    assert sorted(out["doc_id"].tolist()) == [0, 1, 1, 4]
    assert set(out["alt"]) <= {"fig0", "fig1"}
    for _i, r in out.iterrows():
        payload, w, h, gray = _fixture_jpeg(
            int(r["doc_id"]), int(r["alt"][-1])
        )
        assert (r["width"], r["height"], r["gray"]) == (w, h, gray)
        planes, _m = jpeg_decode(payload)
        assert int(r["y_sum"]) == int(
            planes[0].astype(np.int64).sum()
        )


def test_corrupt_inline_payload_skipped_not_fatal():
    """doc 10 (10 % 11 == 10): image 0 is valid base64 that is not
    a JPEG — the page yields zero rows (n_imgs == 1) but survives."""
    out = _rows([10, 21])
    assert 10 not in set(out["doc_id"])
    # doc 21 (% 11 == 10 too, n_imgs == 2): fig0 skipped, fig1 kept
    assert out[out["doc_id"] == 21]["alt"].tolist() == ["fig1"]


def test_lazy_stub_swaps_to_external_and_drops_out():
    """doc 3 (% 7 == 3) carries src='data:,' + data-src=https://…:
    the harvester replaces the stub, so no data: URI remains for
    the lazy entry and it never reaches the decoder."""
    page = wrap_html_inline_images("x", 3)
    srcs = [s for _t, s, _ss, a in harvest_images(page)
            if a == "lazy"]
    assert srcs == ["https://cdn.example/l.jpg"]
    out = _rows([3])
    assert set(out["alt"]) == {"fig0", "fig1"}


def test_progressive_subset_present():
    """(doc_id + j) % 4 == 3 images are SOF2 after the base64
    roundtrip."""
    page = wrap_html_inline_images("x", 3)  # j=0: (3+0)%4 == 3
    src = next(s for _t, s, _ss, a in harvest_images(page)
               if a == "fig0")
    payload = base64.b64decode(src.partition(";base64,")[2])
    _planes, meta = jpeg_decode(payload)
    assert meta["progressive"]
