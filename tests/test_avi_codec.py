"""RIFF/AVI MJPEG container: roundtrip, header fidelity, index
cross-check, malformed-payload diagnosis, and a Hypothesis property
sweep across random frame counts and shapes."""

from __future__ import annotations

import struct

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pdf_extractor_spark.operators.avi_codec import (
    AviError,
    avi_decode_luma_frames,
    avi_decode_mjpeg,
    avi_encode_mjpeg,
)
from pdf_extractor_spark.operators.jpeg_codec import (
    jpeg_decode,
    jpeg_encode,
)


def _flat_jpegs(n, w, h, q=75):
    return [
        jpeg_encode(
            [np.full((h, w), (40 + 13 * i) % 256, dtype=np.uint8)],
            quality=q,
        )
        for i in range(n)
    ]


def test_container_roundtrip_preserves_frames_and_meta():
    frames = _flat_jpegs(4, 32, 24)
    avi = avi_encode_mjpeg(frames, 32, 24, fps=(30, 1))
    raw, meta = avi_decode_mjpeg(avi)
    assert raw == frames  # byte-exact payload recovery
    assert (meta["width"], meta["height"]) == (32, 24)
    assert (meta["fps_num"], meta["fps_den"]) == (30, 1)
    assert meta["n_frames"] == 4 and meta["handler"] == "MJPG"


def test_full_decode_matches_direct_jpeg_decode():
    frames = _flat_jpegs(3, 40, 20)
    avi = avi_encode_mjpeg(frames, 40, 20, fps=(12, 1))
    planes, _ = avi_decode_luma_frames(avi)
    for got, fr in zip(planes, frames):
        assert np.array_equal(got, jpeg_decode(fr)[0][0])


def test_odd_sized_frames_pad_to_even_chunks():
    # a JPEG of odd byte length forces the RIFF pad-byte path
    frames = _flat_jpegs(5, 24, 20)
    sizes = {len(f) % 2 for f in frames}
    avi = avi_encode_mjpeg(frames, 24, 20)
    raw, meta = avi_decode_mjpeg(avi)
    assert raw == frames and meta["n_frames"] == 5
    assert sizes  # schedule produced at least one parity class


@pytest.mark.parametrize(
    "mutate,msg",
    [
        (lambda b: b"JUNK" + b[4:], "not a RIFF"),
        (lambda b: b[:8] + b"WAVE" + b[12:], "not AVI"),
        (lambda b: b[:60], "overruns"),
        (
            lambda b: b.replace(b"vids" + b"MJPG", b"vids" + b"H264", 1),
            "unsupported codec",
        ),
    ],
)
def test_malformed_payloads_diagnose(mutate, msg):
    avi = avi_encode_mjpeg(_flat_jpegs(2, 24, 20), 24, 20)
    with pytest.raises(AviError):
        avi_decode_mjpeg(mutate(avi))


def test_frame_count_lies_are_caught():
    avi = bytearray(avi_encode_mjpeg(_flat_jpegs(3, 24, 20), 24, 20))
    pos = bytes(avi).find(b"strh")
    # dwLength sits 32 bytes into the strh payload
    struct.pack_into("<I", avi, pos + 8 + 32, 99)
    with pytest.raises(AviError, match="declares 99"):
        avi_decode_mjpeg(bytes(avi))


def test_container_vs_codec_dimension_mismatch_is_caught():
    frames = _flat_jpegs(2, 24, 20)
    avi = avi_encode_mjpeg(frames, 48, 20)  # container lies
    with pytest.raises(AviError, match="container says"):
        avi_decode_luma_frames(avi)


@settings(max_examples=25, deadline=None)
@given(
    n=st.integers(1, 8),
    wcells=st.integers(1, 4),
    hcells=st.integers(1, 4),
    q=st.integers(50, 90),
    fps=st.integers(1, 120),
    seed=st.integers(0, 10**6),
)
def test_property_random_shapes_roundtrip(n, wcells, hcells, q, fps, seed):
    # constant-per-8x8-cell frames: DC-only, so the lossy decode is
    # closed-form and the container walk is checked at every shape
    rng = np.random.RandomState(seed)
    w, h = 8 * wcells, 8 * hcells
    frames, expect = [], []
    for _ in range(n):
        cells = rng.randint(0, 256, size=(hcells, wcells))
        plane = np.repeat(
            np.repeat(cells, 8, axis=0), 8, axis=1
        ).astype(np.uint8)
        frames.append(jpeg_encode([plane], quality=q))
        expect.append(jpeg_decode(frames[-1])[0][0])
    avi = avi_encode_mjpeg(frames, w, h, fps=(fps, 1))
    planes, meta = avi_decode_luma_frames(avi)
    assert meta["n_frames"] == n
    assert (meta["width"], meta["height"], meta["fps_num"]) == (w, h, fps)
    for got, want in zip(planes, expect):
        assert np.array_equal(got, want)


def test_rec_grouped_movi_and_junk_chunks_decode():
    # interleave muxers wrap each frame-time in LIST 'rec ' and pad
    # with JUNK chunks; rebuild such a file by hand from a clean one
    frames = _flat_jpegs(3, 24, 20)
    clean = avi_encode_mjpeg(frames, 24, 20, fps=(15, 1))
    movi_at = clean.find(b"movi")

    def chunk(fourcc, payload):
        pad = b"\x00" if len(payload) % 2 else b""
        return fourcc + struct.pack("<I", len(payload)) + payload + pad

    recs = []
    for fr in frames:
        recs.append(
            chunk(b"LIST", b"rec " + chunk(b"00dc", fr))
        )
        recs.append(chunk(b"JUNK", b"\x00" * 7))
    movi = chunk(b"LIST", b"movi" + b"".join(recs))
    # keep hdrl, swap in the rec-grouped movi, drop idx1 (optional
    # per spec), and let chunk() restate the RIFF size
    rebuilt = chunk(b"RIFF", b"AVI " + clean[12 : movi_at - 8] + movi)
    raw, meta = avi_decode_mjpeg(rebuilt)
    assert raw == frames
    assert meta["n_frames"] == 3 and meta["fps_num"] == 15


def test_non_jpeg_video_chunk_is_diagnosed():
    frames = _flat_jpegs(2, 24, 20)
    avi = bytearray(avi_encode_mjpeg(frames, 24, 20))
    # corrupt the first frame's SOI inside its 00dc chunk
    pos = bytes(avi).find(b"00dc") + 8
    avi[pos : pos + 2] = b"\x00\x00"
    with pytest.raises(AviError, match="not a JPEG"):
        avi_decode_mjpeg(bytes(avi))


def test_fixture_schedule_sweep_decodes_all_variants():
    # every (doc_id % 4, % 5, % 8, // 3 % 3) combination class the
    # catalog fixture can produce: decode + frame count + dims
    from pdf_extractor_spark.functions.multimodal import (
        fixture_video_mjpeg,
    )

    for d in range(2, 2 + 3 * 40, 3):  # 40 doc_ids of the % 3 == 2 class
        payload = fixture_video_mjpeg(d)
        planes, meta = avi_decode_luma_frames(payload)
        assert meta["width"] == 24 + 8 * (d % 4)
        assert meta["height"] == 20 + 6 * ((d // 3) % 3)
        assert meta["fps_num"] == 10 + d % 7
        assert len(planes) == 2 + d % 5
        for p in planes:
            assert p.shape == (meta["height"], meta["width"])


def test_idx1_count_mismatch_is_caught():
    frames = _flat_jpegs(3, 24, 20)
    avi = avi_encode_mjpeg(frames, 24, 20)
    # drop the last 16-byte idx1 entry and shrink the chunk size so
    # the index advertises 2 frames while movi carries 3
    pos = avi.find(b"idx1")
    (size,) = struct.unpack_from("<I", avi, pos + 4)
    trimmed = bytearray(avi[: pos + 8 + size - 16])
    struct.pack_into("<I", trimmed, pos + 4, size - 16)
    struct.pack_into("<I", trimmed, 4, len(trimmed) - 8)
    with pytest.raises(AviError, match="idx1 indexes 2"):
        avi_decode_mjpeg(bytes(trimmed))


def test_fixture_color_half_is_420_and_luma_is_unchanged():
    # the (doc_id // 3) % 2 == 1 half carries 3-component 4:2:0
    # frames; the luma plane (full-res in 4:2:0) must still decode
    # to the same DC-only closed form the gray half uses
    import numpy as np

    from pdf_extractor_spark.functions.multimodal import (
        fixture_video_mjpeg,
    )

    gray_d, color_d = 2, 5  # (2//3)%2=0 gray, (5//3)%2=1 color
    for d, want_comp in ((gray_d, 1), (color_d, 3)):
        raw, _ = avi_decode_mjpeg(fixture_video_mjpeg(d))
        planes, meta = jpeg_decode(raw[0])
        assert meta["n_components"] == want_comp, d
        assert meta["subsampled"] == (want_comp == 3)
        # every 16x16 cell of the luma plane is constant (DC-only)
        y = planes[0]
        cell = y[:16, :16]
        assert (cell == cell[0, 0]).all()


class TestAudioStream:
    """Interleaved auds stream: mux one frame-time of audio per
    video chunk, demux to the joined stream, expand G.711/PCM16."""

    def _av(self, tag, n=4, rate=8000):
        import numpy as np

        from pdf_extractor_spark.operators.wav_codec import (
            alaw_encode,
            ulaw_encode,
        )

        s = ((np.arange(997) * 277) % 60001 - 30000).astype(np.int16)
        if tag == 7:
            data, ref = ulaw_encode(s).tobytes(), None
        elif tag == 6:
            data, ref = alaw_encode(s).tobytes(), None
        else:
            data, ref = s.astype("<i2").tobytes(), s
        frames = _flat_jpegs(n, 24, 20)
        avi = avi_encode_mjpeg(
            frames, 24, 20, fps=(10, 1), audio=(data, tag, rate)
        )
        return avi, frames, data, s, ref

    @pytest.mark.parametrize("tag", [1, 6, 7])
    def test_mux_demux_roundtrip(self, tag):
        import numpy as np

        from pdf_extractor_spark.operators.avi_codec import (
            avi_decode_audio_samples,
            avi_demux,
        )
        from pdf_extractor_spark.operators.wav_codec import (
            alaw_decode,
            alaw_encode,
            ulaw_decode,
            ulaw_encode,
        )

        avi, frames, data, s, ref = self._av(tag)
        vid, audio, meta = avi_demux(avi)
        assert vid == frames              # video unaffected by muxing
        assert audio == data              # byte-exact reassembly
        assert meta["audio_format"] == tag
        assert meta["audio_channels"] == 1
        assert meta["audio_rate"] == 8000
        pcm, _ = avi_decode_audio_samples(avi)
        if tag == 1:
            assert np.array_equal(pcm, s)
        elif tag == 7:
            want = ulaw_decode(ulaw_encode(s))
            assert np.array_equal(pcm, want)
        else:
            want = alaw_decode(alaw_encode(s))
            assert np.array_equal(pcm, want)

    def test_video_only_decode_skips_audio(self):
        avi, frames, _, _, _ = self._av(7)
        raw, meta = avi_decode_mjpeg(avi)
        assert raw == frames
        assert meta["n_frames"] == len(frames)
        assert meta["audio_format"] == 7  # surfaced, not decoded

    def test_audio_without_header_is_diagnosed(self):
        from pdf_extractor_spark.operators.avi_codec import avi_demux

        # video-only file, then a forged 01wb chunk appended to movi
        frames = _flat_jpegs(2, 24, 20)
        avi = avi_encode_mjpeg(frames, 24, 20)
        movi_at = avi.find(b"movi")
        forged = b"01wb" + struct.pack("<I", 4) + b"\x01\x02\x03\x04"
        # LIST header: fourcc at movi_at-8, size at movi_at-4; the
        # list payload (starting at 'movi') spans exactly lsize bytes
        (lsize,) = struct.unpack_from("<I", avi, movi_at - 4)
        rebuilt = bytearray(avi[: movi_at + lsize])
        rebuilt += forged
        struct.pack_into("<I", rebuilt, movi_at - 4, lsize + len(forged))
        rebuilt += avi[movi_at + lsize :]
        struct.pack_into("<I", rebuilt, 4, len(rebuilt) - 8)
        with pytest.raises(AviError, match="without an auds"):
            avi_demux(bytes(rebuilt))

    @staticmethod
    def _audio_listed_first(avi: bytes) -> bytes:
        """Re-mux a video-first A/V file with its auds strl listed
        first: the two strl lists swap places in hdrl, and the chunk
        ids follow their streams (00dc → 01dc, 01wb → 00wb) in movi
        and idx1."""
        from pdf_extractor_spark.operators.avi_codec import _iter_chunks

        out = bytearray(avi)
        hdrl = avi.find(b"hdrl")
        (hsize,) = struct.unpack_from("<I", avi, hdrl - 4)
        (v_lo, v_hi), (a_lo, a_hi) = [
            (body - 8, body + size + (size & 1))
            for fourcc, body, size in _iter_chunks(avi, hdrl + 4, hdrl + hsize)
            if fourcc == b"LIST"
        ]
        assert v_hi == a_lo  # adjacent, so the swap keeps every offset
        out[v_lo:a_hi] = avi[a_lo:a_hi] + avi[v_lo:v_hi]
        rename = {b"00dc": b"01dc", b"01wb": b"00wb"}
        movi = avi.find(b"movi")
        (msize,) = struct.unpack_from("<I", avi, movi - 4)
        for fourcc, body, _size in _iter_chunks(avi, movi + 4, movi + msize):
            out[body - 8 : body - 4] = rename[fourcc]
        idx1 = avi.find(b"idx1", movi + msize)
        (isize,) = struct.unpack_from("<I", avi, idx1 + 4)
        for off in range(idx1 + 8, idx1 + 8 + isize, 16):
            out[off : off + 4] = rename[avi[off : off + 4]]
        return bytes(out)

    @pytest.mark.parametrize("tag", [1, 7])
    def test_audio_stream_listed_first_decodes_the_same(self, tag):
        # the video stream's chunk ids come from its strl position,
        # not a hard-coded 00dc: an auds-first file demuxes alike
        from pdf_extractor_spark.operators.avi_codec import (
            avi_decode_audio_samples,
            avi_demux,
        )

        avi, frames, data, _, _ = self._av(tag)
        swapped = self._audio_listed_first(avi)
        assert swapped != avi and b"01dc" in swapped
        vid, audio, meta = avi_demux(swapped)
        assert (vid, audio, meta) == avi_demux(avi)
        assert vid == frames and audio == data
        pcm, _ = avi_decode_audio_samples(swapped)
        assert np.array_equal(pcm, avi_decode_audio_samples(avi)[0])
        planes, _ = avi_decode_luma_frames(swapped)
        assert len(planes) == len(frames)

    def test_misaligned_audio_rejected_at_mux(self):
        frames = _flat_jpegs(1, 24, 20)
        with pytest.raises(AviError, match="block-aligned"):
            avi_encode_mjpeg(
                frames, 24, 20, audio=(b"\x00" * 7, 1, 8000)
            )
        with pytest.raises(AviError, match="format tag"):
            avi_encode_mjpeg(
                frames, 24, 20, audio=(b"\x00" * 8, 99, 8000)
            )


@settings(max_examples=120, deadline=None)
@given(
    seed=st.integers(0, 10**9),
    n_flips=st.integers(1, 24),
)
def test_mutation_fuzz_never_escapes_typed_errors(seed, n_flips):
    # random byte corruption must either still decode or raise the
    # codec's typed error — never IndexError/struct.error/etc.
    import numpy as np

    rng = np.random.RandomState(seed)
    frames = _flat_jpegs(2, 24, 20)
    base = bytearray(
        avi_encode_mjpeg(
            frames, 24, 20,
            audio=(b"\x42" * 64, 7, 8000),
        )
    )
    for _ in range(n_flips):
        base[rng.randint(len(base))] = rng.randint(256)
    try:
        avi_decode_mjpeg(bytes(base))
    except AviError:
        pass


@settings(max_examples=40, deadline=None)
@given(
    n=st.integers(1, 6),
    alen=st.integers(0, 700),
    tag=st.sampled_from([1, 6, 7]),
    seed=st.integers(0, 10**6),
)
def test_property_audio_interleave_reassembles_exactly(
    n, alen, tag, seed
):
    # any audio length (block-aligned) across any frame count must
    # slice into the interleave and reassemble byte-exactly
    from pdf_extractor_spark.operators.avi_codec import avi_demux

    rng = np.random.RandomState(seed)
    block = 2 if tag == 1 else 1
    data = rng.randint(0, 256, size=alen * block, dtype=np.uint8) \
        .astype(np.uint8).tobytes()
    frames = _flat_jpegs(n, 24, 20)
    avi = avi_encode_mjpeg(frames, 24, 20, audio=(data, tag, 8000))
    vid, audio, meta = avi_demux(avi)
    assert vid == frames
    assert audio == data
    assert meta["audio_format"] == tag
