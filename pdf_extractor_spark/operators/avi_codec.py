"""From-scratch RIFF/AVI container codec for MJPEG streams — the
COMPRESSED video leg of the multimodal battery, next to the
uncompressed YUV4MPEG2 leg (``y4m_codec.py``).  Per-frame pixel
decode is delegated to the repo's own baseline JPEG machine
(``jpeg_codec.py``); this module owns only the public container
layout (msdn AVI RIFF form: ``RIFF('AVI ' LIST('hdrl' avih
LIST('strl' strh strf)) LIST('movi' 00dc...) idx1)``).

Reference behavior replicated: pdf-extractor treats every media
payload as an opaque binary column and extracts typed metadata +
content deterministically; the Spark-side contract (payloads born on
the decoding partition, never crossing an exchange) is shared with
every other codec leg.

Strict where a crawl needs diagnosis (bad fourccs, truncated chunks,
stream-count/frame-count lies, non-MJPG compression all raise
:class:`AviError`); lenient where real muxers wander (missing idx1,
unknown junk chunks, extra streams after the video one are skipped).
"""

from __future__ import annotations

import struct

import numpy as np

AVIIF_KEYFRAME = 0x10


class AviError(ValueError):
    """Malformed or unsupported AVI payload."""


def _chunk(fourcc: bytes, payload: bytes) -> bytes:
    """One RIFF chunk, padded to an even byte boundary (pad byte is
    NOT counted in the stored size — the classic RIFF quirk)."""
    pad = b"\x00" if len(payload) % 2 else b""
    return fourcc + struct.pack("<I", len(payload)) + payload + pad


def _list(listtype: bytes, payload: bytes) -> bytes:
    return _chunk(b"LIST", listtype + payload)


def avi_encode_mjpeg(
    jpeg_frames: list[bytes],
    width: int,
    height: int,
    fps: tuple[int, int] = (25, 1),
    audio: tuple[bytes, int, int] | None = None,
) -> bytes:
    """Serialize pre-encoded JPEG frame bytestreams into an AVI with
    a single ``vids/MJPG`` stream and an idx1 index.  ``audio``, when
    given, is ``(data, format_tag, sample_rate)`` — tag 1 (PCM16
    mono), 6 (A-law) or 7 (µ-law) — muxed as a second ``auds`` stream
    whose ``01wb`` chunks interleave one video-frame-time of samples
    after each ``00dc`` chunk, the standard interleave layout."""
    if not jpeg_frames:
        raise AviError("no frames")
    if width <= 0 or height <= 0:
        raise AviError("invalid dimensions")
    rate, scale = fps
    if rate <= 0 or scale <= 0:
        raise AviError("invalid frame rate")
    n = len(jpeg_frames)
    maxbuf = max(len(f) for f in jpeg_frames)
    usec = (1_000_000 * scale) // rate
    avih = struct.pack(
        "<14I",
        usec, 0, 0, 0x10,  # dwFlags: AVIF_HASINDEX
        n, 0, 1 + (audio is not None), maxbuf,
        width, height, 0, 0, 0, 0,
    )
    strh = (
        b"vids" + b"MJPG"
        + struct.pack("<I2H8I", 0, 0, 0, 0, scale, rate, 0, n,
                      maxbuf, 0xFFFFFFFF, 0)
        + struct.pack("<4h", 0, 0, width, height)
    )
    strf = struct.pack(
        "<I2i2H2I2i2I",
        40, width, height, 1, 24,
        struct.unpack("<I", b"MJPG")[0],
        width * height * 3, 0, 0, 0, 0,
    )
    strls = _list(
        b"strl", _chunk(b"strh", strh) + _chunk(b"strf", strf)
    )
    slices: list[bytes] = []
    if audio is not None:
        adata, tag, srate = audio
        if tag not in (1, 6, 7):
            raise AviError(f"unsupported audio format tag {tag}")
        if srate <= 0:
            raise AviError("invalid audio sample rate")
        block = 2 if tag == 1 else 1  # mono: PCM16 vs 8-bit G.711
        if len(adata) % block:
            raise AviError("audio data not block-aligned")
        bps = srate * block
        astrh = (
            b"auds" + b"\x00\x00\x00\x00"
            + struct.pack("<I2H8I", 0, 0, 0, 0, block, bps, 0,
                          len(adata) // block, bps, 0xFFFFFFFF, block)
            + struct.pack("<4h", 0, 0, 0, 0)
        )
        astrf = struct.pack(  # WAVEFORMATEX, cbSize = 0
            "<2H2I2H", tag, 1, srate, bps, block, 8 * block
        )
        strls += _list(
            b"strl",
            _chunk(b"strh", astrh) + _chunk(b"strf", astrf),
        )
        # one video-frame-time of audio per interleave slice, block-
        # aligned, remainder riding with the final slice
        per = max(block, (len(adata) // max(n, 1)) // block * block)
        for i in range(n):
            lo = i * per
            hi = (i + 1) * per if i < n - 1 else len(adata)
            slices.append(adata[lo:hi])
    hdrl = _list(b"hdrl", _chunk(b"avih", avih) + strls)
    movi_payload = [b"movi"]
    idx = []
    offset = 4  # idx1 offsets are relative to the movi list data start
    for i, fr in enumerate(jpeg_frames):
        for fourcc, payload in (
            [(b"00dc", fr)]
            + ([(b"01wb", slices[i])] if audio is not None else [])
        ):
            ck = _chunk(fourcc, payload)
            idx.append(
                fourcc
                + struct.pack("<3I", AVIIF_KEYFRAME, offset, len(payload))
            )
            movi_payload.append(ck)
            offset += len(ck)
    movi = _chunk(b"LIST", b"".join(movi_payload))
    idx1 = _chunk(b"idx1", b"".join(idx))
    return _chunk(b"RIFF", b"AVI " + hdrl + movi + idx1)


def _iter_chunks(data: bytes, pos: int, end: int):
    """Yield (fourcc, payload_start, payload_size) walking pad bytes."""
    while pos + 8 <= end:
        fourcc = data[pos : pos + 4]
        (size,) = struct.unpack_from("<I", data, pos + 4)
        body = pos + 8
        if body + size > end:
            raise AviError(
                f"chunk {fourcc!r} overruns its parent by "
                f"{body + size - end} bytes"
            )
        yield fourcc, body, size
        pos = body + size + (size & 1)


def _collect_frames(
    data: bytes,
    pos: int,
    end: int,
    video: tuple[bytes, bytes],
    frames: list[bytes],
    audio: list[bytes] | None = None,
) -> None:
    """Video (and, when requested, audio) chunks from a movi body,
    descending into ``LIST 'rec '`` groups (interleave muxers batch
    one frame-time of chunks per rec list); JUNK/other chunks are
    skipped. ``video`` holds the video stream's chunk ids."""
    for fourcc, body, size in _iter_chunks(data, pos, end):
        if fourcc in video:
            frames.append(data[body : body + size])
        elif audio is not None and fourcc[2:4] == b"wb":
            audio.append(data[body : body + size])
        elif fourcc == b"LIST" and data[body : body + 4] == b"rec ":
            _collect_frames(
                data, body + 4, body + size, video, frames, audio
            )


def _demux(
    payload: bytes,
) -> tuple[list[bytes], list[bytes], dict]:
    """Shared container walk → (video chunks, audio chunks, meta).

    Frames come from the ``NNdc``/``NNdb`` chunks of the movi list in
    stream order, NN being the position of the ``vids`` strl in hdrl
    (muxers may list an ``auds`` stream first). The idx1 index, when
    present, is cross-checked but the movi walk is authoritative (real
    files ship broken indexes; broken MOVI data is unrecoverable
    either way)."""
    if len(payload) < 12 or payload[:4] != b"RIFF":
        raise AviError("not a RIFF file")
    (riff_size,) = struct.unpack_from("<I", payload, 4)
    if payload[8:12] != b"AVI ":
        raise AviError(f"RIFF form is {payload[8:12]!r}, not AVI")
    end = min(len(payload), 8 + riff_size)
    width = height = 0
    rate, scale, declared = 0, 0, -1
    handler = b""
    a_tag = a_chan = a_rate = 0
    frames: list[bytes] = []
    audio: list[bytes] = []
    v_stream = -1
    movis: list[tuple[int, int]] = []
    idx1 = None
    for fourcc, body, size in _iter_chunks(payload, 12, end):
        if fourcc == b"LIST":
            ltype = payload[body : body + 4]
            if ltype == b"hdrl":
                n_strl = -1
                for f2, b2, s2 in _iter_chunks(
                    payload, body + 4, body + size
                ):
                    if f2 == b"avih":
                        if s2 < 40:
                            raise AviError("short avih")
                        width, height = struct.unpack_from(
                            "<2I", payload, b2 + 32
                        )
                    elif f2 == b"LIST" and payload[
                        b2 : b2 + 4
                    ] == b"strl":
                        n_strl += 1
                        s_type = b""
                        for f3, b3, s3 in _iter_chunks(
                            payload, b2 + 4, b2 + s2
                        ):
                            if f3 == b"strh":
                                if s3 < 40:
                                    raise AviError("short strh")
                                s_type = payload[b3 : b3 + 4]
                                if s_type == b"vids" and not handler:
                                    v_stream = n_strl
                                    handler = payload[b3 + 4 : b3 + 8]
                                    scale, rate = struct.unpack_from(
                                        "<2I", payload, b3 + 20
                                    )
                                    (declared,) = struct.unpack_from(
                                        "<I", payload, b3 + 32
                                    )
                            elif (
                                f3 == b"strf"
                                and s_type == b"auds"
                                and not a_tag
                            ):
                                if s3 < 14:
                                    raise AviError("short WAVEFORMAT")
                                a_tag, a_chan, a_rate = (
                                    struct.unpack_from(
                                        "<2HI", payload, b3
                                    )
                                )
            elif ltype == b"movi":
                movis.append((body + 4, body + size))
        elif fourcc == b"idx1":
            idx1 = (body, size)
    if not handler:
        raise AviError("no vids stream header")
    # chunk ids name their stream (NNdc/NNdb, NN = the vids strl's
    # position), so the movi/idx1 scans wait until hdrl has been read
    video = (b"%02ddc" % v_stream, b"%02ddb" % v_stream)
    for lo, hi in movis:
        _collect_frames(payload, lo, hi, video, frames, audio)
    n_indexed = -1
    if idx1 is not None:
        body, size = idx1
        n_indexed = sum(
            1
            for off in range(body, body + size - 15, 16)
            if payload[off : off + 4] in video
        )
    if handler not in (b"MJPG", b"mjpg"):
        raise AviError(f"unsupported codec {handler!r}")
    if width <= 0 or height <= 0:
        raise AviError("missing avih dimensions")
    if rate <= 0 or scale <= 0:
        raise AviError("invalid strh frame rate")
    if not frames:
        raise AviError("movi list carries no video chunks")
    if declared >= 0 and declared != len(frames):
        raise AviError(
            f"strh declares {declared} frames, movi carries "
            f"{len(frames)}"
        )
    if n_indexed >= 0 and n_indexed != len(frames):
        raise AviError(
            f"idx1 indexes {n_indexed} frames, movi carries "
            f"{len(frames)}"
        )
    if audio and not a_tag:
        raise AviError("audio chunks without an auds stream header")
    for i, fr in enumerate(frames):
        if fr[:2] != b"\xff\xd8":
            raise AviError(f"frame {i} is not a JPEG (no SOI)")
    meta = {
        "width": width,
        "height": height,
        "fps_num": rate,
        "fps_den": scale,
        "n_frames": len(frames),
        "handler": handler.decode("ascii"),
    }
    if a_tag:
        meta.update(
            audio_format=a_tag,
            audio_channels=a_chan,
            audio_rate=a_rate,
        )
    return frames, audio, meta


def avi_decode_mjpeg(payload: bytes) -> tuple[list[bytes], dict]:
    """Parse an AVI payload → ``(jpeg frame bytestreams, meta)``.

    ``meta`` carries width, height, fps_num, fps_den, n_frames (as
    declared by strh.dwLength) and handler, plus
    audio_format/channels/rate when an ``auds`` stream is muxed in.
    Audio payload bytes are skipped — :func:`avi_demux` returns
    them."""
    frames, _audio, meta = _demux(payload)
    return frames, meta


def avi_demux(
    payload: bytes,
) -> tuple[list[bytes], bytes, dict]:
    """Full A/V demux → (jpeg frames, concatenated audio bytes,
    meta).  Audio chunk boundaries are an interleave artifact, not
    sample boundaries — downstream decode wants the joined stream."""
    frames, audio, meta = _demux(payload)
    return frames, b"".join(audio), meta


def avi_decode_audio_samples(payload: bytes) -> tuple[np.ndarray, dict]:
    """Demux + expand the audio stream to int16 samples via the
    G.711 expanders (tags 6/7, ``wav_codec``) or raw PCM16 (tag 1)."""
    from .wav_codec import alaw_decode, ulaw_decode

    _frames, chunks, meta = _demux(payload)
    audio = b"".join(chunks)
    tag = meta.get("audio_format")
    if not tag:
        raise AviError("no auds stream in this file")
    if tag == 7:
        pcm = ulaw_decode(np.frombuffer(audio, dtype=np.uint8))
    elif tag == 6:
        pcm = alaw_decode(np.frombuffer(audio, dtype=np.uint8))
    elif tag == 1:
        pcm = np.frombuffer(audio, dtype="<i2")
    else:
        raise AviError(f"unsupported audio format tag {tag}")
    return pcm, meta


def avi_decode_luma_frames(
    payload: bytes,
) -> tuple[list[np.ndarray], dict]:
    """Full decode: container walk + per-frame baseline JPEG decode
    to luma planes ``(h, w) uint8``.  Frame dimensions are validated
    against the container header (muxers and codecs can disagree —
    that is a diagnosable corruption, not a tolerable quirk)."""
    from .jpeg_codec import jpeg_decode

    raw, meta = avi_decode_mjpeg(payload)
    out: list[np.ndarray] = []
    for i, fr in enumerate(raw):
        planes, jmeta = jpeg_decode(fr)
        if (jmeta["width"], jmeta["height"]) != (
            meta["width"], meta["height"]
        ):
            raise AviError(
                f"frame {i} is {jmeta['width']}x{jmeta['height']}, "
                f"container says {meta['width']}x{meta['height']}"
            )
        out.append(planes[0])
    return out, meta
