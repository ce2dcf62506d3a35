"""From-scratch PNG codec: roundtrips, an independently hand-assembled
decode vector (so the decoder is checked against the FORMAT, not just
our own encoder), and malformed-input rejection."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pdf_extractor_spark.operators.png_codec import (
    SIGNATURE,
    PngError,
    png_decode,
    png_encode,
)


def _grad(h: int, w: int, c: int, seed: int = 0) -> np.ndarray:
    x = np.arange(w, dtype=np.int64)[None, :, None]
    y = np.arange(h, dtype=np.int64)[:, None, None]
    ch = np.arange(c, dtype=np.int64)[None, None, :]
    return ((x * 3 + y * 7 + ch * 11 + seed) % 256).astype(np.uint8)


class TestRoundtrip:
    @pytest.mark.parametrize("c", [1, 3, 4])
    @pytest.mark.parametrize("ftype", [0, 1, 2, 3, 4])
    def test_every_filter_and_color_type(self, c, ftype):
        px = _grad(9, 13, c, seed=ftype)
        data = png_encode(px, row_filters=[ftype] * 9)
        out = png_decode(data)
        assert out.shape == (9, 13, c)
        assert np.array_equal(out, px)

    def test_mixed_filters_per_row(self):
        px = _grad(10, 8, 3, seed=42)
        data = png_encode(px, row_filters=[y % 5 for y in range(10)])
        assert np.array_equal(png_decode(data), px)

    def test_2d_input_is_grayscale(self):
        px = _grad(4, 5, 1)[:, :, 0]
        out = png_decode(png_encode(px))
        assert out.shape == (4, 5, 1)
        assert np.array_equal(out[:, :, 0], px)

    def test_1x1(self):
        px = np.array([[[200]]], dtype=np.uint8)
        assert np.array_equal(png_decode(png_encode(px)), px)

    @settings(max_examples=25, deadline=None)
    @given(
        h=st.integers(1, 12),
        w=st.integers(1, 12),
        c=st.sampled_from([1, 3, 4]),
        seed=st.integers(0, 2**32 - 1),
    )
    def test_random_pixels_roundtrip(self, h, w, c, seed):
        rng = np.random.default_rng(seed)
        px = rng.integers(0, 256, size=(h, w, c), dtype=np.uint8)
        filters = [int(f) for f in rng.integers(0, 5, size=h)]
        assert np.array_equal(
            png_decode(png_encode(px, row_filters=filters)), px
        )


def _chunk(tag: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def png_encode_palette(indices: np.ndarray, palette: np.ndarray) -> bytes:
    """(H, W) uint8 index array + (N, 3) uint8 palette → color-type-3
    PNG with a PLTE chunk, every row unfiltered: the decoder's palette
    input."""
    h, w = indices.shape
    rows = b"".join(b"\x00" + row.tobytes() for row in indices)
    return (
        SIGNATURE
        + _chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 0))
        + _chunk(b"PLTE", palette.tobytes())
        + _chunk(b"IDAT", zlib.compress(rows))
        + _chunk(b"IEND", b"")
    )


class TestIndependentVector:
    def test_hand_assembled_png_decodes(self):
        """2x2 RGB image built chunk-by-chunk here (filters 0 and 2 by
        hand per the spec) — validates the decoder against ISO 15948,
        not against png_encode."""
        # pixels: row0 = (1,2,3) (4,5,6); row1 = (7,8,9) (10,11,12)
        row0 = bytes([0, 1, 2, 3, 4, 5, 6])  # filter 0: raw
        # filter 2 (Up): filt = raw - prev (mod 256)
        raw1 = [7, 8, 9, 10, 11, 12]
        prev = [1, 2, 3, 4, 5, 6]
        row1 = bytes([2] + [(a - b) % 256 for a, b in zip(raw1, prev)])
        ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0)
        data = (
            SIGNATURE
            + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(row0 + row1))
            + _chunk(b"IEND", b"")
        )
        out = png_decode(data)
        expect = np.array(
            [[[1, 2, 3], [4, 5, 6]], [[7, 8, 9], [10, 11, 12]]],
            dtype=np.uint8,
        )
        assert np.array_equal(out, expect)

    def test_multiple_idat_chunks_concatenate(self):
        ihdr = struct.pack(">IIBBBBB", 2, 1, 8, 0, 0, 0, 0)
        idat = zlib.compress(bytes([0, 50, 60]))
        half = len(idat) // 2
        data = (
            SIGNATURE
            + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", idat[:half])
            + _chunk(b"IDAT", idat[half:])
            + _chunk(b"IEND", b"")
        )
        assert png_decode(data).tolist() == [[[50], [60]]]

    def test_ancillary_chunks_skipped(self):
        ihdr = struct.pack(">IIBBBBB", 1, 1, 8, 0, 0, 0, 0)
        data = (
            SIGNATURE
            + _chunk(b"IHDR", ihdr)
            + _chunk(b"tEXt", b"Comment\x00fixture")
            + _chunk(b"IDAT", zlib.compress(bytes([0, 77])))
            + _chunk(b"IEND", b"")
        )
        assert png_decode(data).tolist() == [[[77]]]


class TestRejection:
    def _valid(self) -> bytes:
        return png_encode(_grad(3, 3, 3))

    def test_bad_signature(self):
        with pytest.raises(PngError, match="signature"):
            png_decode(b"not a png at all")

    def test_crc_corruption_detected(self):
        data = bytearray(self._valid())
        # flip a byte inside the IDAT body
        i = data.index(b"IDAT") + 6
        data[i] ^= 0xFF
        with pytest.raises(PngError, match="CRC"):
            png_decode(bytes(data))

    def test_truncation_detected(self):
        data = self._valid()
        with pytest.raises(PngError):
            png_decode(data[: len(data) // 2])

    def test_interlaced_roundtrip_and_truncated_pass(self):
        # Adam7 is SUPPORTED now: roundtrip, plus a truncated pass
        # block must fail loudly, not scatter garbage
        import numpy as np

        from pdf_extractor_spark.operators.png_codec import png_encode

        px = np.arange(9 * 10 * 3, dtype=np.uint8).reshape(9, 10, 3)
        data = png_encode(px, interlace=True)
        assert (png_decode(data) == px).all()
        # unknown interlace method still rejected
        ihdr = struct.pack(">IIBBBBB", 1, 1, 8, 0, 0, 0, 2)
        bad = (
            SIGNATURE
            + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(bytes([0, 1])))
            + _chunk(b"IEND", b"")
        )
        with pytest.raises(PngError, match="interlace"):
            png_decode(bad)

    def test_16bit_rejected(self):
        ihdr = struct.pack(">IIBBBBB", 1, 1, 16, 0, 0, 0, 0)
        data = (
            SIGNATURE
            + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(bytes([0, 1, 2])))
            + _chunk(b"IEND", b"")
        )
        with pytest.raises(PngError, match="bit depth"):
            png_decode(data)

    def test_palette_roundtrip_and_missing_plte(self):
        # palette images are SUPPORTED now, resolved to RGB; a
        # color-type-3 stream WITHOUT its PLTE must fail loudly
        import numpy as np

        pal = np.arange(48, dtype=np.uint8).reshape(16, 3)
        idx = (np.arange(30, dtype=np.uint8) % 16).reshape(5, 6)
        assert (png_decode(png_encode_palette(idx, pal))
                == pal[idx]).all()
        ihdr = struct.pack(">IIBBBBB", 1, 1, 8, 3, 0, 0, 0)
        data = (
            SIGNATURE
            + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(bytes([0, 0])))
            + _chunk(b"IEND", b"")
        )
        with pytest.raises(PngError, match="PLTE"):
            png_decode(data)

    def test_palette_index_out_of_range_rejected(self):
        import numpy as np

        pal = np.zeros((4, 3), dtype=np.uint8)
        idx = np.zeros((2, 2), dtype=np.uint8)
        good = png_encode_palette(idx, pal)
        # a 2-entry palette with a spliced index of 3 must reject
        ihdr = struct.pack(">IIBBBBB", 1, 1, 8, 3, 0, 0, 0)
        data = (
            SIGNATURE
            + _chunk(b"IHDR", ihdr)
            + _chunk(b"PLTE", bytes(6))  # 2 entries
            + _chunk(b"IDAT", zlib.compress(bytes([0, 3])))
            + _chunk(b"IEND", b"")
        )
        with pytest.raises(PngError, match="index"):
            png_decode(data)
        assert good  # the well-formed stream above still decodes

    def test_wrong_payload_length_detected(self):
        ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0)
        data = (
            SIGNATURE
            + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(bytes([0, 1])))  # 1 row short
            + _chunk(b"IEND", b"")
        )
        with pytest.raises(PngError, match="length"):
            png_decode(data)

    def test_missing_iend_detected(self):
        data = self._valid()
        with pytest.raises(PngError, match="IEND"):
            png_decode(data[:-12])
