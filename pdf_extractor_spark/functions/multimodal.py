"""Multimodal column plumbing: opaque ``binary`` payloads + typed
metadata, decoded/feature-extracted through Arrow-batched stages.

Design (task brief "multimodal columns"): image/audio/video payloads
ride as ``binary`` columns with a typed metadata struct. The Spark-side
plumbing — schema, partitioning, ``mapInPandas`` signature, Arrow batch
shape — and, since round 4, the codec itself are REAL: payloads are
genuine PNG files decoded by the from-scratch codec in
:mod:`..operators.png_codec` (stdlib zlib + NumPy, all five scanline
filters, CRC-verified chunks). No stub remains.

Fixture construction is deterministic in ``doc_id`` so a plain-SQL
oracle can verify the whole distributed decode value-for-value from
the generation parameters (closed-form pixel oracle):

    width     = 16 + (doc_id * 7)  % 48
    height    = 16 + (doc_id * 13) % 48
    channels  = [1, 3, 4][doc_id % 3]     (gray / RGB / RGBA)
    k         = doc_id % 32
    pixel[y, x, c] = x + 2*y + 3*c + k    (max 229 — never wraps)
    row y filter type = (doc_id + y) % 5  (exercises every filter)

so the decoded ``pixel_sum`` has the closed form
    H*C*W*(W-1)/2 + W*C*H*(H-1) + 3*W*H*C*(C-1)/2 + W*H*C*k
and any codec defect (wrong filter reconstruction, channel mixup,
row-order bug) breaks the value hash against the DuckDB oracle.

``resize_plan`` and ``frame_sample_plan`` are pure column math (native,
codegen'd) — at 100 TB only the decode itself is Python, and it is
Arrow-batched with the same doc-hash partitioning as the extraction
pipeline.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.image_sniff import (
    build_gif_header,
    build_webp_header,
    sniff_image,
)
from ..operators.jpeg_markers import build_jpeg_header, jpeg_dimensions
from ..operators.png_codec import PngError, png_decode, png_encode
from ..plans.pipeline import map_rows, spread

DECODE_SCHEMA = (
    "doc_id long, width int, height int, channels int, "
    "n_pixels long, pixel_sum long"
)

MAX_DIM = 64  # resize target (longest edge)

_CHANNEL_CYCLE = (1, 3, 4)


def fixture_image(doc_id: int) -> bytes:
    """Deterministic real PNG for one document (parameters above)."""
    w = 16 + (doc_id * 7) % 48
    h = 16 + (doc_id * 13) % 48
    c = _CHANNEL_CYCLE[doc_id % 3]
    k = doc_id % 32
    x = np.arange(w, dtype=np.int32)[None, :, None]
    y = np.arange(h, dtype=np.int32)[:, None, None]
    ch = np.arange(c, dtype=np.int32)[None, None, :]
    pixels = (x + 2 * y + 3 * ch + k).astype(np.uint8)
    if doc_id % 5 == 4:
        # every fifth image ships Adam7-interlaced — same pixel
        # values, so every measured-stat oracle is untouched while
        # the de-interlace path runs under the driver gate
        return png_encode(pixels, interlace=True)
    filters = [(doc_id + row) % 5 for row in range(h)]
    return png_encode(pixels, row_filters=filters)


PAYLOAD_SCHEMA = "doc_id long, payload binary"


def attach_binary_payload(docs: DataFrame) -> DataFrame:
    """documents → (doc_id, payload binary): a real PNG per row. In
    production this column IS the crawl's raw image bytes; the fixture
    builds a real PNG per document (no external data)."""
    return map_rows(docs.select("doc_id"),
                    lambda d: [(d, fixture_image(d))], PAYLOAD_SCHEMA)


def _decode_leg(docs: DataFrame, synth_fn, rows_of, schema: str,
                num_partitions: int | None) -> DataFrame:
    """THE layout rule for every decode leg, stated once: doc_ids
    hash-repartition BEFORE payload synthesis (``synth_fn``: doc_id →
    bytes), so the exchange carries 8-byte ids and the payload bytes
    are born on the partition that decodes them — media bytes never
    cross an exchange. (Against real stored blobs the same holds via
    parquet bucketing / AQE split sizing on the scan.) Then
    ``rows_of(doc_id, payload)`` decodes, one Python hop per Arrow
    batch, never per row."""
    payloads = map_rows(spread(docs, ["doc_id"], num_partitions),
                        lambda d: [(d, synth_fn(d))], PAYLOAD_SCHEMA)
    return map_rows(payloads, rows_of, schema)


def _decode_image_rows(doc_id: int, payload: bytes) -> list[tuple]:
    """The emitted values are MEASURED from the decoded pixel array —
    the oracle predicts them from the generation parameters, so the
    two meet only if the codec is correct."""
    px = png_decode(payload)
    h, w, c = px.shape
    return [(doc_id, w, h, c, w * h, int(px.astype(np.int64).sum()))]


def decode_image_meta(docs: DataFrame,
                      num_partitions: int | None = None) -> DataFrame:
    """Distributed decode: hash-repartition by doc_id (same layout rule
    as the extraction pipeline — a small parquet arrives as one split
    otherwise), then the Arrow-batched decode stage.

    Layout rule (repartition before synthesis, payloads never cross
    an exchange) lives in :func:`_decode_leg`."""
    return _decode_leg(docs, fixture_image, _decode_image_rows,
                       DECODE_SCHEMA, num_partitions)


def decode_error_report(
    payloads: DataFrame, num_partitions: int | None = None
) -> DataFrame:
    """Crash-proof decode over UNTRUSTED payloads: per-doc ok flag +
    error text instead of a task failure (the crawl regime — a corrupt
    image must never kill the batch)."""

    def rows(doc_id: int, payload: bytes) -> list[tuple]:
        try:
            png_decode(payload)
        except PngError as exc:
            return [(doc_id, False, str(exc))]
        return [(doc_id, True, None)]

    return map_rows(
        spread(payloads, ["doc_id", "payload"], num_partitions), rows,
        "doc_id long, ok boolean, error string",
    )


def resize_plan(decoded: DataFrame, max_dim: int = MAX_DIM) -> DataFrame:
    """Pure column math: scale so the longest edge == ``max_dim``
    (integer floor, aspect preserved). Native expressions — the actual
    pixel resample lives next to the decoder."""
    longest = F.greatest("width", "height")
    return decoded.select(
        "doc_id", "width", "height",
        F.floor(F.col("width") * max_dim / longest).cast("int")
        .alias("new_width"),
        F.floor(F.col("height") * max_dim / longest).cast("int")
        .alias("new_height"),
    )


def frame_sample_plan(decoded: DataFrame, every: int = 10) -> DataFrame:
    """Video-style frame sampling plan: frame count from pixel count,
    sample indices 0, every, 2·every, … as a native ``sequence``
    column (no Python)."""
    n_frames = (F.col("n_pixels") % 91 + 1).cast("int")
    return decoded.select(
        "doc_id",
        n_frames.alias("n_frames"),
        F.expr(
            f"sequence(0, cast(n_pixels % 91 as int), {every})"
        ).alias("sampled_frames"),
    )


FEATURES_SCHEMA = (
    "doc_id long, channel int, ch_sum long, ch_min int, ch_max int"
)


def _image_features_rows(doc_id: int, payload: bytes) -> list[tuple]:
    """One row per channel with per-channel sum/min/max MEASURED from
    the decoded pixel array. The oracle predicts all three
    closed-form from the generation parameters (exact integers — no
    float in the compared output), so a channel mixup, plane
    transposition, or filter defect that happens to preserve the
    global pixel_sum still breaks the hash."""
    px = png_decode(payload).astype(np.int64)
    return [
        (doc_id, c, int(px[:, :, c].sum()), int(px[:, :, c].min()),
         int(px[:, :, c].max()))
        for c in range(px.shape[2])
    ]


def image_features(docs: DataFrame,
                   num_partitions: int | None = None) -> DataFrame:
    """Distributed per-channel feature extraction (the feature-extract
    verb of the multimodal battery, next to decode / resize /
    frame-sample). Layout rule shared via
    :func:`_decode_leg`."""
    return _decode_leg(docs, fixture_image, _image_features_rows,
                       FEATURES_SCHEMA, num_partitions)


# ---------------------------------------------------------------- audio

AUDIO_DECODE_SCHEMA = (
    "doc_id long, sample_rate int, n_samples long, channels int, "
    "sample_sum long"
)

_AUDIO_CYCLE = 251  # prime cycle for the sample ramp (see oracle)


def fixture_audio(doc_id: int) -> bytes:
    """Deterministic real PCM WAV for one document:

        n_samples = 1000 + (doc_id * 17) % 3000
        channels  = 1 + doc_id % 2        (mono / stereo)
        rate      = 8000 * (1 + doc_id % 2)
        sample[i, ch] = (i % 251) * (ch + 1) + k,   k = doc_id % 32

    max value 250*2 + 31 = 531 — comfortably int16, so the decoded
    sample sum has the closed form the SQL oracle computes (251 prime
    keeps the ramp phase from ever aligning with the frame count)."""
    from ..operators.wav_codec import wav_encode

    n = 1000 + (doc_id * 17) % 3000
    channels = 1 + doc_id % 2
    rate = 8000 * (1 + doc_id % 2)
    k = doc_id % 32
    i = np.arange(n, dtype=np.int64)[:, None]
    ch = np.arange(channels, dtype=np.int64)[None, :]
    samples = ((i % _AUDIO_CYCLE) * (ch + 1) + k).astype(np.int16)
    return wav_encode(samples, sample_rate=rate)


def audio_decode_meta(
    docs: DataFrame, num_partitions: int | None = None
) -> DataFrame:
    """Distributed WAV decode (the audio leg of the multimodal
    battery): rate/frames/channels plus the MEASURED sample sum from
    the decoded int16 array; the oracle predicts the sum closed-form.
    Layout rule shared via :func:`_decode_leg`."""
    from ..operators.wav_codec import wav_decode

    def rows(doc_id: int, payload: bytes) -> list[tuple]:
        samples, rate = wav_decode(payload)
        n, c = samples.shape
        return [(doc_id, rate, n, c, int(samples.astype(np.int64).sum()))]

    return _decode_leg(docs, fixture_audio, rows, AUDIO_DECODE_SCHEMA,
                       num_partitions)


# ================================================= JPEG dimension sniff

def fixture_jpeg(doc_id: int) -> bytes:
    """Structurally-valid JPEG header bytes with schedule-determined
    frame dimensions (operators/jpeg_markers.py): every seventh doc
    grayscale, every fourth progressive (SOF2), every ninth TRUNCATED
    before the SOF (crawl-cut image); all carry the APP1 Exif trap
    whose payload embeds a fake 16x16 thumbnail SOF."""
    return build_jpeg_header(
        width=160 + (doc_id % 40) * 8,
        height=90 + (doc_id % 25) * 6,
        components=1 if doc_id % 7 == 0 else 3,
        progressive=doc_id % 4 == 1,
        truncate=doc_id % 9 == 8,
    )


JPEG_DIMS_SCHEMA = (
    "doc_id long, width int, height int, components int, "
    "progressive boolean, readable boolean"
)


def _jpeg_dims_rows(doc_id: int, payload: bytes) -> list[tuple]:
    return [(doc_id, *jpeg_dimensions(payload))]


def jpeg_dims(
    docs: DataFrame, num_partitions: int | None = None
) -> DataFrame:
    """(doc_id, width, height, components, progressive, readable) —
    the size-filter pass an image pipeline runs BEFORE paying for
    fetch+full-decode: marker-length walk only (ITU-T T.81 §B), no
    entropy decode; an Exif payload embedding a thumbnail's own SOF
    cannot fool it (a byte-pattern scan would report 16x16)."""
    return _decode_leg(docs, fixture_jpeg, _jpeg_dims_rows,
                       JPEG_DIMS_SCHEMA, num_partitions)


def duck_jpeg_dims_sql(source: str = "documents") -> str:
    """Closed-form twin of the synthesis schedule."""
    return f"""
SELECT doc_id,
  CASE WHEN doc_id % 9 = 8 THEN -1
       ELSE 160 + (doc_id % 40) * 8 END AS width,
  CASE WHEN doc_id % 9 = 8 THEN -1
       ELSE 90 + (doc_id % 25) * 6 END AS height,
  CASE WHEN doc_id % 9 = 8 THEN -1
       WHEN doc_id % 7 = 0 THEN 1 ELSE 3 END AS components,
  (doc_id % 9 <> 8 AND doc_id % 4 = 1) AS progressive,
  doc_id % 9 <> 8 AS readable
FROM {source}
"""


# ============================================== mixed-format sniffing

def fixture_mixed_image(doc_id: int) -> bytes:
    """Schedule-rotated mixed image payloads: jpeg / png / gif /
    webp-vp8 / webp-vp8l / webp-vp8x / unknown bytes, dims from the
    doc_id so the oracle is closed-form."""
    w = 100 + (doc_id % 50) * 4
    h = 60 + (doc_id % 30) * 5
    k = doc_id % 7
    if k == 0:
        return build_jpeg_header(w, h)
    if k == 1:
        px = np.zeros((2, 2), dtype=np.uint8)
        data = png_encode(px)
        # real IHDR, fixture-size pixels would be wasteful: patch the
        # header dims (the sniffer reads IHDR only, never the IDAT)
        import struct as _struct
        patched = bytearray(data)
        patched[16:24] = _struct.pack(">II", w, h)
        import zlib as _zlib
        crc = _zlib.crc32(bytes(patched[12:29])) & 0xFFFFFFFF
        patched[29:33] = _struct.pack(">I", crc)
        return bytes(patched)
    if k == 2:
        return build_gif_header(w, h)
    if k == 3:
        return build_webp_header(w, h, "vp8")
    if k == 4:
        return build_webp_header(w, h, "vp8l")
    if k == 5:
        return build_webp_header(w, h, "vp8x")
    return b"BM\x00garbage-not-an-image" + bytes([doc_id % 251])


SNIFF_SCHEMA = "doc_id long, format string, width int, height int"


def _image_sniff_rows(doc_id: int, payload: bytes) -> list[tuple]:
    return [(doc_id, *sniff_image(payload))]


def image_sniff(
    docs: DataFrame, num_partitions: int | None = None
) -> DataFrame:
    """(doc_id, format, width, height) — magic-number routing + per-
    format header dims over a MIXED payload column: the first pass an
    image pipeline runs to size-filter and format-route a crawl
    before any decode. Unknown bytes come back ('unknown', -1, -1)."""
    return _decode_leg(docs, fixture_mixed_image, _image_sniff_rows,
                       SNIFF_SCHEMA, num_partitions)


def duck_image_sniff_sql(source: str = "documents") -> str:
    """Closed-form twin of the rotation schedule."""
    return f"""
SELECT doc_id,
  CASE doc_id % 7 WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png'
       WHEN 2 THEN 'gif' WHEN 3 THEN 'webp' WHEN 4 THEN 'webp'
       WHEN 5 THEN 'webp' ELSE 'unknown' END AS format,
  CASE WHEN doc_id % 7 = 6 THEN -1
       ELSE 100 + (doc_id % 50) * 4 END AS width,
  CASE WHEN doc_id % 7 = 6 THEN -1
       ELSE 60 + (doc_id % 30) * 5 END AS height
FROM {source}
"""


# ============================================= video (y4m + mjpeg) leg

_VID_BASE_MOD = 200  # luma base cycle; max pixel 199 + 31 < 256


def fixture_video_mjpeg(doc_id: int) -> bytes:
    """Deterministic COMPRESSED video: an AVI/MJPEG container whose
    frames are real baseline JPEGs from the repo's own encoder
    (``jpeg_codec.py``), for the doc_id % 3 == 2 third of the corpus:

        width    = 24 + 8 * (doc_id % 4)          (24-48, partial MCUs)
        height   = 20 + 6 * ((doc_id // 3) % 3)   (20 / 26 / 32)
        quality  = 50 + 5 * (doc_id % 8)
        fps      = (10 + doc_id % 7) : 1
        n_frames = 2 + doc_id % 5

    Frame f's luma is CONSTANT per 16x16 cell,
    Y(f, bx, by) = (doc_id*7 + 19*f + 13*bx + 29*by) % 256, so every
    8x8 block is DC-only and the lossy roundtrip has the same closed
    form as the still-JPEG legs — yet decoding runs the full Huffman
    + dequant + IDCT machine per frame inside the RIFF walk.  The
    (doc_id // 3) % 2 == 1 half of the class is COLOR 4:2:0 (chroma
    cells on the 11/17/5 and 3/23/7 schedules, like the still leg):
    the Y plane is full-resolution either way, so the luma oracle is
    identical while the per-frame decode additionally runs the
    subsampled-chroma MCU machinery."""
    from ..operators.avi_codec import avi_encode_mjpeg
    from ..operators.jpeg_codec import jpeg_encode

    w = 24 + 8 * (doc_id % 4)
    h = 20 + 6 * ((doc_id // 3) % 3)
    q = 50 + 5 * (doc_id % 8)
    n_frames = 2 + doc_id % 5
    color = (doc_id // 3) % 2 == 1
    bx = np.arange((w + 15) // 16, dtype=np.int64)
    by = np.arange((h + 15) // 16, dtype=np.int64)

    def cells(a: int, b: int, c: int, f: int) -> np.ndarray:
        cell = (doc_id * a + 19 * f + b * bx[None, :]
                + c * by[:, None]) % 256
        return np.repeat(
            np.repeat(cell, 16, axis=0), 16, axis=1
        )[:h, :w].astype(np.uint8)

    frames = []
    for f in range(n_frames):
        planes = [cells(7, 13, 29, f)]
        if color:
            planes.append(cells(11, 17, 5, f))
            planes.append(cells(3, 23, 7, f))
        frames.append(
            jpeg_encode(planes, quality=q, subsample=color)
        )
    # the color half also carries an interleaved G.711 auds stream
    # (same ramp family as the audio leg, law by parity): the luma
    # outputs — and so the oracle — are unchanged, but the catalog
    # decode now walks REAL A/V interleave, skipping 01wb chunks
    audio = None
    if color:
        from ..operators.wav_codec import alaw_encode, ulaw_encode

        i = np.arange(160 + doc_id % 80, dtype=np.int64)
        s = ((doc_id * 131 + i * 277) % 60001 - 30000).astype(np.int16)
        law = ulaw_encode if doc_id % 2 == 0 else alaw_encode
        audio = (law(s).tobytes(), 7 if doc_id % 2 == 0 else 6, 8000)
    return avi_encode_mjpeg(
        frames, w, h, fps=(10 + doc_id % 7, 1), audio=audio
    )


def fixture_video(doc_id: int) -> bytes:
    """Deterministic real video stream for one document: the
    doc_id % 3 == 2 third is AVI/MJPEG (compressed — see
    :func:`fixture_video_mjpeg`), the rest YUV4MPEG2:

        width      = 16 * (1 + doc_id % 2)            (16 / 32)
        height     = 12 + 4 * (doc_id % 3)            (12 / 16 / 20)
        fps        = (24 + doc_id % 7) : 1
        colorspace = C420jpeg (even doc_id) / C444 (odd)
        n_frames   = 3 + doc_id % 4
        luma[f][y][x] = base_f + x,  base_f = (doc_id*31 + f*7) % 200

    Every row of frame f is the same x-ramp, so the frame's luma sum
    is the closed form H*(W*base_f + W*(W-1)/2) the SQL oracle
    computes — but only a stride- and plane-size-correct decoder
    recovers it, because the 4:2:0 vs 4:4:4 chroma skip shifts every
    subsequent frame offset."""
    from ..operators.y4m_codec import y4m_encode

    if doc_id % 3 == 2:
        return fixture_video_mjpeg(doc_id)
    w = 16 * (1 + doc_id % 2)
    h = 12 + 4 * (doc_id % 3)
    fps = (24 + doc_id % 7, 1)
    cs = "420jpeg" if doc_id % 2 == 0 else "444"
    n_frames = 3 + doc_id % 4
    x = np.arange(w, dtype=np.int64)[None, :]
    frames = [
        np.broadcast_to(
            ((doc_id * 31 + f * 7) % _VID_BASE_MOD + x) % 256, (h, w)
        ).astype(np.uint8)
        for f in range(n_frames)
    ]
    return y4m_encode(frames, fps=fps, colorspace=cs)


VIDEO_STATS_SCHEMA = (
    "doc_id long, width int, height int, fps_num int, fps_den int, "
    "colorspace string, n_frames int, n_sampled int, luma_sum long"
)


def video_frame_stats(
    docs: DataFrame, every: int = 2, num_partitions: int | None = None
) -> DataFrame:
    """Distributed video decode + frame sampling (the video leg of
    the multimodal battery): parse the container, keep every
    ``every``-th frame — the standard decimation ahead of per-frame
    feature extraction — and report the MEASURED luma sum over the
    sampled frames from the decoded planes. Same layout rule as every
    decode leg (`_decode_leg`): ids shuffle, media bytes
    are born on the partition that decodes them and never cross an
    exchange. At 100 TB frame sampling is the step that divides all
    downstream per-frame cost by ``every`` — it belongs INSIDE the
    decode task, before anything is materialized.

    Containers are SNIFFED, not schedule-routed: RIFF magic →
    AVI/MJPEG (full per-frame Huffman+IDCT via the repo's JPEG
    decoder), YUV4MPEG2 magic → raw-plane walk."""
    from ..operators.avi_codec import avi_decode_luma_frames
    from ..operators.y4m_codec import y4m_decode

    def rows(doc_id: int, payload: bytes) -> list[tuple]:
        if payload[:4] == b"RIFF":
            frames, meta = avi_decode_luma_frames(payload)
            cs = "mjpg"
        else:
            frames, meta = y4m_decode(payload)
            cs = meta["colorspace"]
        sampled = frames[::every]
        return [(
            doc_id, meta["width"], meta["height"], meta["fps_num"],
            meta["fps_den"], cs, len(frames), len(sampled),
            int(sum(fr.astype(np.int64).sum() for fr in sampled)),
        )]

    return _decode_leg(docs, fixture_video, rows, VIDEO_STATS_SCHEMA,
                       num_partitions)


def duck_video_stats_sql(source: str = "documents", every: int = 2) -> str:
    """Closed-form twin of :func:`video_frame_stats` over the fixture
    parameters.  Y4M third-pairs: luma_sum = Σ over sampled f of
    H*(W*base_f + W*(W-1)/2).  MJPEG third: the DC-only quantization
    roundtrip per 16x16 cell (same form as the still-JPEG legs),
    weighted by the crop-partial cell pixel counts and summed over
    the sampled frames."""
    return f"""
WITH p AS (
  SELECT doc_id,
         16 * (1 + doc_id % 2)  AS w,
         12 + 4 * (doc_id % 3)  AS h,
         24 + doc_id % 7        AS fps_num,
         CASE WHEN doc_id % 2 = 0 THEN '420jpeg' ELSE '444' END AS cs,
         3 + doc_id % 4         AS n_frames
  FROM {source}
  WHERE doc_id % 3 <> 2
), sampled AS (
  SELECT doc_id, w, h, fps_num, cs, n_frames,
         unnest(range(0, n_frames, {every})) AS f
  FROM p
), y4m AS (
  SELECT doc_id,
         CAST(w AS INT)                    AS width,
         CAST(h AS INT)                    AS height,
         CAST(fps_num AS INT)              AS fps_num,
         CAST(1 AS INT)                    AS fps_den,
         cs                                AS colorspace,
         CAST(n_frames AS INT)             AS n_frames,
         CAST(count(*) AS INT)             AS n_sampled,
         CAST(sum(h * (w * ((doc_id * 31 + f * 7) % {_VID_BASE_MOD})
                       + w * (w - 1) // 2)) AS BIGINT) AS luma_sum
  FROM sampled
  GROUP BY doc_id, w, h, fps_num, cs, n_frames
), pm AS (
  SELECT doc_id,
         24 + 8 * (doc_id % 4)          AS w,
         20 + 6 * ((doc_id // 3) % 3)   AS h,
         50 + 5 * (doc_id % 8)          AS qf,
         10 + doc_id % 7                AS fps_num,
         2 + doc_id % 5                 AS n_frames
  FROM {source}
  WHERE doc_id % 3 = 2
), qm AS (
  SELECT *,
         greatest(1, least(255, (16 * (200 - 2 * qf) + 50) // 100))
           AS qy00
  FROM pm
), cm AS (
  SELECT qm.*, fs.f, gx.bx, gy.by,
         least(16, w - 16 * gx.bx) AS nx,
         least(16, h - 16 * gy.by) AS ny
  FROM qm,
       LATERAL (SELECT unnest(range(0, n_frames, {every})) AS f) fs,
       LATERAL (SELECT unnest(range(0, (w + 15) // 16)) AS bx) gx,
       LATERAL (SELECT unnest(range(0, (h + 15) // 16)) AS by) gy
), dm AS (
  SELECT doc_id, w, h, fps_num, n_frames, f, nx * ny AS npix,
    least(greatest(floor(
        floor(8.0 * ((doc_id * 7 + 19 * f + 13 * bx + 29 * by) % 256
                     - 128) / qy00 + 0.5) * qy00 / 8.0 + 0.5) + 128,
      0), 255) AS ydec
  FROM cm
), mjpeg AS (
  SELECT doc_id,
         CAST(w AS INT)                     AS width,
         CAST(h AS INT)                     AS height,
         CAST(fps_num AS INT)               AS fps_num,
         CAST(1 AS INT)                     AS fps_den,
         'mjpg'                             AS colorspace,
         CAST(n_frames AS INT)              AS n_frames,
         CAST(count(DISTINCT f) AS INT)     AS n_sampled,
         CAST(sum(npix * ydec) AS BIGINT)   AS luma_sum
  FROM dm
  GROUP BY doc_id, w, h, fps_num, n_frames
)
SELECT * FROM y4m UNION ALL SELECT * FROM mjpeg
"""


# ===================================================== Exif harvest leg

def fixture_exif_jpeg(doc_id: int) -> bytes:
    """Structurally-valid JPEG whose APP1 carries REAL Exif/TIFF
    bytes with schedule-determined fields:

        byte order  = II (even doc_id) / MM (odd)
        orientation = 1 + doc_id % 8
        make        = 'Maker' + str(doc_id % 10)
        datetime    = '2026:08:<1+d%28> <d%24>:00:00'
        x_res       = (72 + doc_id % 4) / (1 + doc_id % 2)

    Every 11th doc (d%11==10) omits the Exif segment entirely; every
    13th (d%13==12, unless exif-less) plants an out-of-bounds value
    offset — the truncated-crawl shape that must fail loudly, not
    return garbage. ALL docs carry a COM segment containing the
    bytes 'Exif\\x00\\x00' — a byte-pattern scanner finds that trap,
    the marker-length walk never sees it."""
    from ..operators.exif_tiff import build_exif_app1, build_exif_tiff
    from ..operators.jpeg_markers import _seg

    out = [b"\xff\xd8"]
    out.append(_seg(0xE0, b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00"))
    no_exif = doc_id % 11 == 10
    corrupt = (not no_exif) and doc_id % 13 == 12
    if not no_exif:
        tiff = build_exif_tiff(
            byte_order="II" if doc_id % 2 == 0 else "MM",
            orientation=1 + doc_id % 8,
            make=f"Maker{doc_id % 10}",
            datetime=f"2026:08:{1 + doc_id % 28:02d} {doc_id % 24:02d}:00:00",
            x_res=(72 + doc_id % 4, 1 + doc_id % 2),
            corrupt_offset=corrupt,
        )
        out.append(_seg(0xE1, build_exif_app1(tiff)))
    out.append(_seg(0xFE, b"comment trap: Exif\x00\x00 not a segment"))
    out.append(_seg(0xDB, b"\x00" + bytes(64)))
    out.append(_seg(0xC0, b"\x08\x00\x40\x00\x40\x01\x01\x11\x00"))
    out.append(_seg(0xDA, b"\x01\x01\x00\x00\x3f\x00"))
    out.append(b"\xff\xd9")
    return b"".join(out)


EXIF_SCHEMA = (
    "doc_id long, has_exif boolean, ok boolean, byte_order string, "
    "orientation int, make string, taken_at string, "
    "x_res_num long, x_res_den long"
)


def exif_harvest(
    docs: DataFrame, num_partitions: int | None = None
) -> DataFrame:
    """Per-image Exif harvest: orientation (the field a perceptual-
    hash stage must apply BEFORE hashing, or rotated duplicates split
    into distinct hashes), capture timestamp, camera make, and the
    resolution rational — parsed from real TIFF IFDs in either byte
    order. Structural damage → ok=false with sentinel fields ('' /
    -1; the cross-engine value compare treats NaN != NaN, so NULLs
    never appear in numeric output columns) (crash-proof per
    document); images without Exif → has_exif=false."""
    from ..operators.exif_tiff import (
        ExifError,
        exif_from_jpeg,
        parse_exif_tiff,
    )

    def rows(doc_id: int, payload: bytes) -> list[tuple]:
        tiff = exif_from_jpeg(payload)
        vals: dict = {}
        ok = True
        if tiff is not None:
            try:
                vals = parse_exif_tiff(tiff)
            except ExifError:
                ok = False
        # sentinels, not NULLs: the cross-engine value compare (and
        # the driver's value hash) treats NaN != NaN
        return [(
            doc_id, tiff is not None, ok, vals.get("byte_order") or "",
            vals.get("orientation") or -1, vals.get("make") or "",
            vals.get("datetime") or "", vals.get("x_res_num") or -1,
            vals.get("x_res_den") or -1,
        )]

    return _decode_leg(docs, fixture_exif_jpeg, rows, EXIF_SCHEMA,
                       num_partitions)


def duck_exif_harvest_sql(source: str = "documents") -> str:
    """Closed-form twin of the Exif fixture schedule."""
    return f"""
WITH p AS (
  SELECT doc_id,
         doc_id % 11 = 10                                   AS no_exif,
         doc_id % 11 <> 10 AND doc_id % 13 = 12             AS corrupt
  FROM {source}
)
SELECT doc_id,
  NOT no_exif                                               AS has_exif,
  NOT corrupt                                               AS ok,
  CASE WHEN no_exif OR corrupt THEN ''
       WHEN doc_id % 2 = 0 THEN 'II' ELSE 'MM' END          AS byte_order,
  CASE WHEN no_exif OR corrupt THEN -1
       ELSE CAST(1 + doc_id % 8 AS INT) END                 AS orientation,
  CASE WHEN no_exif OR corrupt THEN ''
       ELSE 'Maker' || CAST(doc_id % 10 AS VARCHAR) END     AS make,
  CASE WHEN no_exif OR corrupt THEN ''
       ELSE '2026:08:' || lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0')
            || ' ' || lpad(CAST(doc_id % 24 AS VARCHAR), 2, '0')
            || ':00:00' END                                 AS taken_at,
  CASE WHEN no_exif OR corrupt THEN -1
       ELSE CAST(72 + doc_id % 4 AS BIGINT) END             AS x_res_num,
  CASE WHEN no_exif OR corrupt THEN -1
       ELSE CAST(1 + doc_id % 2 AS BIGINT) END              AS x_res_den
FROM p
"""


# ===================================================== GIF decode leg

def fixture_gif(doc_id: int) -> bytes:
    """Deterministic real GIF89a (animated, grayscale palette) for
    one document:

        width      = 20 + 4 * (doc_id % 3)    (20 / 24 / 28)
        height     = 10 + 2 * (doc_id % 2)    (10 / 12)
        n_frames   = 1 + doc_id % 3
        interlaced = (doc_id % 4 == 1)        (4-pass row order)
        luma[f][y][x] = base_f + x, base_f = (doc_id*17 + f*11) % 200

    Encoded with real LZW (literal-root codes + CLEAR discipline) and
    a NETSCAPE looping extension, so the decoder must run the full
    sub-block + variable-width bit machine, skip 89a extensions by
    length, and undo the interlace row shuffle to recover the
    closed-form row ramps."""
    from ..operators.gif_codec import gif_encode

    w = 20 + 4 * (doc_id % 3)
    h = 10 + 2 * (doc_id % 2)
    n_frames = 1 + doc_id % 3
    x = np.arange(w, dtype=np.int64)[None, :]
    frames = [
        np.broadcast_to(
            ((doc_id * 17 + f * 11) % 200 + x) % 256, (h, w)
        ).astype(np.uint8)
        for f in range(n_frames)
    ]
    return gif_encode(frames, interlaced=doc_id % 4 == 1)


GIF_DECODE_SCHEMA = (
    "doc_id long, width int, height int, n_frames int, "
    "interlaced boolean, luma_sum long"
)


def gif_decode_meta(
    docs: DataFrame, num_partitions: int | None = None
) -> DataFrame:
    """Distributed GIF decode: full LZW + interlace + animation
    frames, measured luma sums vs the closed-form oracle. Same
    layout rule as every decode leg (media bytes never cross an
    exchange)."""
    from ..operators.gif_codec import gif_decode

    def rows(doc_id: int, payload: bytes) -> list[tuple]:
        frames, meta = gif_decode(payload)
        return [(
            doc_id, meta["width"], meta["height"], meta["n_frames"],
            meta["interlaced"],
            int(sum(fr.astype(np.int64).sum() for fr in frames)),
        )]

    return _decode_leg(docs, fixture_gif, rows, GIF_DECODE_SCHEMA,
                       num_partitions)


def duck_gif_decode_sql(source: str = "documents") -> str:
    """Closed-form twin of the GIF fixture schedule."""
    return f"""
WITH p AS (
  SELECT doc_id,
         20 + 4 * (doc_id % 3) AS w,
         10 + 2 * (doc_id % 2) AS h,
         1 + doc_id % 3        AS n_frames,
         doc_id % 4 = 1        AS interlaced
  FROM {source}
), per_frame AS (
  SELECT doc_id, w, h, n_frames, interlaced,
         unnest(range(0, n_frames)) AS f
  FROM p
)
SELECT doc_id,
       CAST(w AS INT)        AS width,
       CAST(h AS INT)        AS height,
       CAST(n_frames AS INT) AS n_frames,
       interlaced,
       CAST(sum(h * (w * ((doc_id * 17 + f * 11) % 200)
                     + w * (w - 1) // 2)) AS BIGINT) AS luma_sum
FROM per_frame
GROUP BY doc_id, w, h, n_frames, interlaced
"""


# ===================================================== TIFF decode leg

def fixture_tiff(doc_id: int) -> bytes:
    """Deterministic baseline TIFF per document:

        width      = 24 + 8 * (doc_id % 3)    (24 / 32 / 40)
        height     = 15 + doc_id % 4          (15-18: last strip short)
        byte order = II (even) / MM (odd)
        compression= PackBits (doc_id % 3 == 1) else none
        rows/strip = 4
        pixel[y][x] = base + y,  base = (doc_id * 13) % 200

    Constant-valued rows make PackBits strips real repeat runs and
    give the luma sum the closed form W*(H*base + H*(H-1)/2); the
    short last strip and the offset/count ARRAYS (stored out-of-line
    once n_strips > 1) are the structural traps."""
    from ..operators.tiff_codec import COMP_PACKBITS, tiff_encode

    w = 24 + 8 * (doc_id % 3)
    h = 15 + doc_id % 4
    base = (doc_id * 13) % 200
    y = np.arange(h, dtype=np.int64)[:, None]
    img = np.broadcast_to((base + y) % 256, (h, w)).astype(np.uint8)
    return tiff_encode(
        img,
        byte_order="II" if doc_id % 2 == 0 else "MM",
        compression=COMP_PACKBITS if doc_id % 3 == 1 else 1,
        rows_per_strip=4,
    )


TIFF_DECODE_SCHEMA = (
    "doc_id long, width int, height int, byte_order string, "
    "compression int, n_strips int, luma_sum long"
)


def tiff_decode_meta(
    docs: DataFrame, num_partitions: int | None = None
) -> DataFrame:
    """Distributed TIFF decode: strip reassembly (short last strip,
    out-of-line offset arrays, both byte orders, PackBits), measured
    luma sums vs a closed-form oracle. Strips are TIFF's parallel-
    decode unit — at scale one task decodes a strip RANGE without
    touching the rest of the file, the same random-access property
    the layout here exercises."""
    from ..operators.tiff_codec import tiff_decode

    def rows(doc_id: int, payload: bytes) -> list[tuple]:
        img, meta = tiff_decode(payload)
        return [(
            doc_id, meta["width"], meta["height"], meta["byte_order"],
            meta["compression"], meta["n_strips"],
            int(img.astype(np.int64).sum()),
        )]

    return _decode_leg(docs, fixture_tiff, rows, TIFF_DECODE_SCHEMA,
                       num_partitions)


def duck_tiff_decode_sql(source: str = "documents") -> str:
    """Closed-form twin of the TIFF fixture schedule."""
    return f"""
WITH p AS (
  SELECT doc_id,
         24 + 8 * (doc_id % 3)  AS w,
         15 + doc_id % 4        AS h,
         (doc_id * 13) % 200    AS base
  FROM {source}
)
SELECT doc_id,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       CASE WHEN doc_id % 2 = 0 THEN 'II' ELSE 'MM' END AS byte_order,
       CAST(CASE WHEN doc_id % 3 = 1 THEN 32773 ELSE 1 END AS INT)
         AS compression,
       CAST((h + 3) // 4 AS INT) AS n_strips,
       CAST(w * (h * base + h * (h - 1) // 2) AS BIGINT) AS luma_sum
FROM p
"""


# ====================================================== BMP decode leg

def fixture_bmp(doc_id: int) -> bytes:
    """Deterministic BMP per document:

        width    = 13 + doc_id % 8   (odd widths: the stride trap)
        height   = 6 + doc_id % 5
        bits     = 8 (even doc_id, grayscale palette) / 24 (odd, BGR)
        top_down = (doc_id % 3 == 1)  (negative-height variant)
        pixel[y][x] = base + x,  base = (doc_id * 7) % 200

    The 24-bit rows are gray (B=G=R=v) so the BT.601 integer luma is
    exactly v and BOTH depths share the closed form
    H*(W*base + W*(W-1)/2); a wrong stride, row order, or channel
    order breaks the sum."""
    from ..operators.bmp_codec import bmp_encode

    w = 13 + doc_id % 8
    h = 6 + doc_id % 5
    base = (doc_id * 7) % 200
    x = np.arange(w, dtype=np.int64)[None, :]
    gray = np.broadcast_to((base + x) % 256, (h, w)).astype(np.uint8)
    if doc_id % 2 == 0:
        img, bits = gray, 8
    else:
        img, bits = np.repeat(gray[:, :, None], 3, axis=2), 24
    return bmp_encode(img, bits=bits, top_down=doc_id % 3 == 1)


BMP_DECODE_SCHEMA = (
    "doc_id long, width int, height int, bits int, "
    "top_down boolean, luma_sum long"
)


def bmp_decode_meta(
    docs: DataFrame, num_partitions: int | None = None
) -> DataFrame:
    """Distributed BMP decode: bottom-up vs top-down row order,
    4-byte row strides on odd widths, palette and true-color depths;
    measured luma sums vs a closed-form oracle."""
    from ..operators.bmp_codec import bmp_decode

    def rows(doc_id: int, payload: bytes) -> list[tuple]:
        img, meta = bmp_decode(payload)
        return [(
            doc_id, meta["width"], meta["height"], meta["bits"],
            meta["top_down"], int(img.astype(np.int64).sum()),
        )]

    return _decode_leg(docs, fixture_bmp, rows, BMP_DECODE_SCHEMA,
                       num_partitions)


def duck_bmp_decode_sql(source: str = "documents") -> str:
    """Closed-form twin of the BMP fixture schedule."""
    return f"""
WITH p AS (
  SELECT doc_id,
         13 + doc_id % 8   AS w,
         6 + doc_id % 5    AS h,
         (doc_id * 7) % 200 AS base
  FROM {source}
)
SELECT doc_id,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 8 ELSE 24 END AS INT)
         AS bits,
       doc_id % 3 = 1 AS top_down,
       CAST(h * (w * base + w * (w - 1) // 2) AS BIGINT) AS luma_sum
FROM p
"""


# ============================================= full JPEG decode leg

def fixture_jpeg_full(doc_id: int) -> bytes:
    """Deterministic REAL baseline JPEG per document (not the
    header-only sniff fixture — full entropy-coded scan):

        width     = 24 + 8 * (doc_id % 4)   (24-48: partial MCUs)
        height    = 20 + 6 * (doc_id % 3)   (20/26/32)
        quality   = 50 + 5 * (doc_id % 8)   (50-85)
        grayscale = doc_id % 5 == 4
        4:2:0     = color and doc_id % 2 == 0   (else 4:4:4)
        restart   = every 2 MCUs when doc_id % 3 == 0
        progressive (SOF2, 10-scan script) when doc_id % 4 == 1

    Pixels are CONSTANT per 16x16 (MCU-aligned) cell:

        Y (bx,by) = (doc_id *  7 + 13*bx + 29*by) % 256
        Cb(bx,by) = (doc_id * 11 + 17*bx +  5*by) % 256
        Cr(bx,by) = (doc_id *  3 + 23*bx +  7*by) % 256

    so every 8x8 block is DC-only and the lossy roundtrip has the
    closed form  dec(v) = clamp(rnd(rnd(8(v-128)/Q00)*Q00/8)+128)
    with rnd = floor(x+0.5), exactly computable in SQL — yet the
    decoder still runs the full machine: Huffman DC prediction,
    EOB/stuffing, restart resync, chroma subsampling, partial-MCU
    crop — and for the progressive quarter of the corpus the whole
    spectral-selection + successive-approximation scan machinery,
    whose final coefficients are identical by construction (pinned
    against baseline in tests/test_jpeg_codec.py). AC-coefficient
    paths are pinned separately by the naive-DCT reference tests
    (tests/test_jpeg_codec.py)."""
    from ..operators.jpeg_codec import (
        jpeg_encode,
        jpeg_encode_progressive,
    )

    w = 24 + 8 * (doc_id % 4)
    h = 20 + 6 * (doc_id % 3)
    gray = doc_id % 5 == 4
    bx = np.arange((w + 15) // 16, dtype=np.int64)
    by = np.arange((h + 15) // 16, dtype=np.int64)

    def cells(a: int, b: int, c: int) -> np.ndarray:
        cell = (doc_id * a + b * bx[None, :] + c * by[:, None]) % 256
        return np.repeat(
            np.repeat(cell, 16, axis=0), 16, axis=1
        )[:h, :w].astype(np.uint8)

    planes = [cells(7, 13, 29)]
    if not gray:
        planes.append(cells(11, 17, 5))
        planes.append(cells(3, 23, 7))
    enc = jpeg_encode_progressive if doc_id % 4 == 1 else jpeg_encode
    return enc(
        planes,
        quality=50 + 5 * (doc_id % 8),
        subsample=(not gray) and doc_id % 2 == 0,
        restart_interval=2 if doc_id % 3 == 0 else 0,
    )


JPEG_DECODE_SCHEMA = (
    "doc_id long, width int, height int, n_components int, "
    "subsampled boolean, progressive boolean, "
    "y_sum long, cb_sum long, cr_sum long"
)


def jpeg_decode_meta(
    docs: DataFrame, num_partitions: int | None = None
) -> DataFrame:
    """Distributed baseline-JPEG decode (5th full image codec):
    Huffman entropy decode + dequant + IDCT per payload, plane sums
    measured from the decoded arrays. Same layout rule as every
    decode leg (media bytes never cross an exchange)."""
    from ..operators.jpeg_codec import jpeg_decode

    def rows(doc_id: int, payload: bytes) -> list[tuple]:
        planes, meta = jpeg_decode(payload)
        sums = [int(p.astype(np.int64).sum()) for p in planes]
        if len(sums) != 3:
            sums = [sums[0], 0, 0]
        return [(
            doc_id, meta["width"], meta["height"], meta["n_components"],
            meta["subsampled"], meta["progressive"], *sums,
        )]

    return _decode_leg(docs, fixture_jpeg_full, rows, JPEG_DECODE_SCHEMA,
                       num_partitions)


def duck_jpeg_decode_sql(source: str = "documents") -> str:
    """Closed-form twin of the JPEG fixture schedule: the DC-only
    quantization roundtrip per 16x16 cell, cell pixel counts from
    the crop geometry, chroma counted in the subsampled plane."""
    return f"""
WITH p AS (
  SELECT doc_id,
         24 + 8 * (doc_id % 4)  AS w,
         20 + 6 * (doc_id % 3)  AS h,
         50 + 5 * (doc_id % 8)  AS qf,
         doc_id % 5 = 4         AS gray,
         doc_id % 5 <> 4 AND doc_id % 2 = 0 AS sub,
         doc_id % 4 = 1         AS prog
  FROM {source}
), q AS (
  SELECT *,
         greatest(1, least(255, (16 * (200 - 2 * qf) + 50) // 100))
           AS qy00,
         greatest(1, least(255, (17 * (200 - 2 * qf) + 50) // 100))
           AS qc00,
         CASE WHEN sub THEN (w + 1) // 2 ELSE w END AS cw,
         CASE WHEN sub THEN (h + 1) // 2 ELSE h END AS ch,
         CASE WHEN sub THEN 8 ELSE 16 END           AS cstep
  FROM p
), cell AS (
  SELECT q.*, gx.bx, gy.by,
         least(16, w - 16 * gx.bx)               AS nx,
         least(16, h - 16 * gy.by)               AS ny,
         least(cstep, cw - cstep * gx.bx)        AS nxc,
         least(cstep, ch - cstep * gy.by)        AS nyc
  FROM q,
       LATERAL (SELECT unnest(range(0, (w + 15) // 16)) AS bx) gx,
       LATERAL (SELECT unnest(range(0, (h + 15) // 16)) AS by) gy
), dec AS (
  SELECT doc_id, gray, sub, prog, w, h, nx, ny, nxc, nyc,
    least(greatest(floor(
        floor(8.0 * ((doc_id * 7 + 13 * bx + 29 * by) % 256 - 128)
              / qy00 + 0.5) * qy00 / 8.0 + 0.5) + 128, 0), 255)
      AS ydec,
    least(greatest(floor(
        floor(8.0 * ((doc_id * 11 + 17 * bx + 5 * by) % 256 - 128)
              / qc00 + 0.5) * qc00 / 8.0 + 0.5) + 128, 0), 255)
      AS cbdec,
    least(greatest(floor(
        floor(8.0 * ((doc_id * 3 + 23 * bx + 7 * by) % 256 - 128)
              / qc00 + 0.5) * qc00 / 8.0 + 0.5) + 128, 0), 255)
      AS crdec
  FROM cell
)
SELECT doc_id,
       CAST(w AS INT)                         AS width,
       CAST(h AS INT)                         AS height,
       CAST(CASE WHEN gray THEN 1 ELSE 3 END AS INT)
                                              AS n_components,
       sub                                    AS subsampled,
       prog                                   AS progressive,
       CAST(sum(nx * ny * ydec) AS BIGINT)    AS y_sum,
       CAST(CASE WHEN gray THEN 0
            ELSE sum(nxc * nyc * cbdec) END AS BIGINT) AS cb_sum,
       CAST(CASE WHEN gray THEN 0
            ELSE sum(nxc * nyc * crdec) END AS BIGINT) AS cr_sum
FROM dec
GROUP BY doc_id, w, h, gray, sub, prog
"""


# ========================================= JPEG thumbnail (re-encode)

THUMB_SCHEMA = (
    "doc_id long, thumb_width int, thumb_height int, y_sum long"
)


def jpeg_thumbnail_meta(
    docs: DataFrame, num_partitions: int | None = None
) -> DataFrame:
    """Thumbnail WRITE path: decode the fixture JPEG, 2:1
    area-average the luma plane (edge-replicated for odd dims, the
    codec rounder), re-encode as a grayscale baseline JPEG at
    quality 60, decode THAT and report the result — the encoder is
    now a gated production surface, not just fixture tooling.

    Oracle closed form: the source is constant per 16x16 cell, so
    the half-scale luma is constant per 8x8 cell and the re-encode
    is DC-only again — the thumbnail pixel is the DOUBLE
    quantization dec(dec(v, Q1), Q2) with Q2 = Q00(quality 60) = 13,
    exactly computable in SQL. At 100 TB this stage is the standard
    preview-generation pass: pure map, media bytes never cross an
    exchange, output rows are fixed-shape."""
    from ..operators.jpeg_codec import jpeg_decode, jpeg_encode

    def rows(doc_id: int, payload: bytes) -> list[tuple]:
        planes, _meta = jpeg_decode(payload)
        y = planes[0].astype(np.float64)
        if y.shape[0] % 2:
            y = np.vstack([y, y[-1:]])
        if y.shape[1] % 2:
            y = np.hstack([y, y[:, -1:]])
        small = np.floor(
            (y[0::2, 0::2] + y[0::2, 1::2]
             + y[1::2, 0::2] + y[1::2, 1::2]) / 4.0
            + (0.5 + 1e-9)
        ).astype(np.uint8)
        tplanes, tmeta = jpeg_decode(jpeg_encode([small], quality=60))
        return [(doc_id, tmeta["width"], tmeta["height"],
                 int(tplanes[0].astype(np.int64).sum()))]

    return _decode_leg(docs, fixture_jpeg_full, rows, THUMB_SCHEMA,
                       num_partitions)


def duck_jpeg_thumbnail_sql(source: str = "documents") -> str:
    """Closed-form twin: double quantization per cell; Q2 is the
    quality-60 luma DC step, (16 * (200 - 120) + 50) // 100 = 13."""
    return f"""
WITH p AS (
  SELECT doc_id,
         24 + 8 * (doc_id % 4)  AS w,
         20 + 6 * (doc_id % 3)  AS h,
         50 + 5 * (doc_id % 8)  AS qf
  FROM {source}
), q AS (
  SELECT *,
         greatest(1, least(255, (16 * (200 - 2 * qf) + 50) // 100))
           AS q1,
         (w + 1) // 2 AS w2,
         (h + 1) // 2 AS h2
  FROM p
), cell AS (
  SELECT q.*, gx.bx, gy.by,
         least(8, w2 - 8 * gx.bx) AS nx,
         least(8, h2 - 8 * gy.by) AS ny,
         least(greatest(floor(
             floor(8.0 * ((doc_id * 7 + 13 * gx.bx + 29 * gy.by)
                          % 256 - 128) / q1 + 0.5)
             * q1 / 8.0 + 0.5) + 128, 0), 255) AS d1
  FROM q,
       LATERAL (SELECT unnest(range(0, (w + 15) // 16)) AS bx) gx,
       LATERAL (SELECT unnest(range(0, (h + 15) // 16)) AS by) gy
)
SELECT doc_id,
       CAST(w2 AS INT) AS thumb_width,
       CAST(h2 AS INT) AS thumb_height,
       CAST(sum(nx * ny * least(greatest(floor(
           floor(8.0 * (d1 - 128) / 13 + 0.5)
           * 13 / 8.0 + 0.5) + 128, 0), 255)) AS BIGINT) AS y_sum
FROM cell
GROUP BY doc_id, w2, h2
"""


# ============================================ Exif/GPS privacy strip

def fixture_jpeg_private(doc_id: int) -> bytes:
    """The decodable JPEG of :func:`fixture_jpeg_full` with privacy
    metadata planted after SOI:

        APP1 Exif      unless doc_id % 9 == 8
          byte order   II (even) / MM (odd)
          GPS sub-IFD  when doc_id % 3 == 0 (lat rationals — the
                       location leak the scrub exists for)
        COM            always ('private comment <d%10>', 17 bytes)

    Segment sizes are closed-form (fixed-length make/datetime
    strings), so ``bytes_removed`` is SQL-computable:
    APP1 total = 173 with GPS, 107 without; COM total = 21."""
    from ..operators.exif_tiff import build_exif_app1, build_exif_tiff
    from ..operators.jpeg_markers import _seg

    base = fixture_jpeg_full(doc_id)
    inject = []
    if doc_id % 9 != 8:
        tiff = build_exif_tiff(
            byte_order="II" if doc_id % 2 == 0 else "MM",
            orientation=1 + doc_id % 8,
            make=f"Maker{doc_id % 10}",
            datetime=f"2026:08:{1 + doc_id % 28:02d} "
                     f"{doc_id % 24:02d}:00:00",
            x_res=(72, 1),
            gps=(
                (10 + doc_id % 80, doc_id % 60, doc_id % 60)
                if doc_id % 3 == 0 else None
            ),
        )
        inject.append(_seg(0xE1, build_exif_app1(tiff)))
    inject.append(_seg(0xFE, f"private comment {doc_id % 10}".encode()))
    return base[:2] + b"".join(inject) + base[2:]


EXIF_STRIP_SCHEMA = (
    "doc_id long, had_exif boolean, had_gps boolean, "
    "bytes_removed int, y_sum long"
)


def exif_strip_report(
    docs: DataFrame, num_partitions: int | None = None
) -> DataFrame:
    """Privacy scrub as a gated surface: read the metadata that IS
    there (Exif harvest incl. the GPS sub-IFD flag), strip every
    APPn/COM segment, then DECODE THE STRIPPED BYTES — the y_sum
    matching the same closed form as the unstripped decode proves
    the scrub removed metadata and nothing else."""
    from ..operators.exif_tiff import parse_exif_tiff
    from ..operators.jpeg_codec import jpeg_decode, jpeg_strip_metadata
    from ..operators.exif_tiff import ExifError

    def _exif_of(payload: bytes):
        from ..operators.jpeg_codec import _STANDALONE
        import struct as _struct
        i = 2
        while i + 4 <= len(payload):
            if payload[i] != 0xFF:
                break
            marker = payload[i + 1]
            if marker in _STANDALONE:
                i += 2
                continue
            seglen = _struct.unpack(">H", payload[i + 2:i + 4])[0]
            if marker == 0xE1 and payload[i + 4:i + 10] == b"Exif\x00\x00":
                return payload[i + 10:i + 2 + seglen]
            if marker == 0xDA:
                break
            i += 2 + seglen
        return None

    def rows(doc_id: int, payload: bytes) -> list[tuple]:
        tiff = _exif_of(payload)
        had_gps = False
        if tiff is not None:
            try:
                had_gps = parse_exif_tiff(tiff)["has_gps"]
            except ExifError:
                pass
        stripped, removed = jpeg_strip_metadata(payload)
        planes, _meta = jpeg_decode(stripped)
        return [(doc_id, tiff is not None, bool(had_gps), removed,
                 int(planes[0].astype(np.int64).sum()))]

    return _decode_leg(docs, fixture_jpeg_private, rows, EXIF_STRIP_SCHEMA,
                       num_partitions)


def duck_exif_strip_sql(source: str = "documents") -> str:
    """Closed-form twin: segment-size arithmetic for bytes_removed,
    the standard cell closed form for the post-strip luma sum."""
    return f"""
WITH p AS (
  SELECT doc_id,
         24 + 8 * (doc_id % 4)  AS w,
         20 + 6 * (doc_id % 3)  AS h,
         50 + 5 * (doc_id % 8)  AS qf,
         doc_id % 9 <> 8        AS had_exif,
         doc_id % 9 <> 8 AND doc_id % 3 = 0 AS had_gps
  FROM {source}
), q AS (
  SELECT *,
         greatest(1, least(255, (16 * (200 - 2 * qf) + 50) // 100))
           AS qy00,
         CASE WHEN NOT had_exif THEN 21
              WHEN had_gps THEN 173 + 21
              ELSE 107 + 21 END AS bytes_removed
  FROM p
), cell AS (
  SELECT q.*, gx.bx, gy.by,
         least(16, w - 16 * gx.bx) AS nx,
         least(16, h - 16 * gy.by) AS ny
  FROM q,
       LATERAL (SELECT unnest(range(0, (w + 15) // 16)) AS bx) gx,
       LATERAL (SELECT unnest(range(0, (h + 15) // 16)) AS by) gy
)
SELECT doc_id, had_exif, had_gps,
       CAST(bytes_removed AS INT) AS bytes_removed,
       CAST(sum(nx * ny * least(greatest(floor(
           floor(8.0 * ((doc_id * 7 + 13 * bx + 29 * by) % 256 - 128)
                 / qy00 + 0.5) * qy00 / 8.0 + 0.5) + 128, 0), 255))
         AS BIGINT) AS y_sum
FROM cell
GROUP BY doc_id, had_exif, had_gps, bytes_removed
"""


# ============================================== G.711 telephony audio

def fixture_g711_wav(doc_id: int) -> bytes:
    """Mono G.711 WAV per document: n = 200 + doc_id % 100 samples
    of the closed-form ramp s_i = ((doc_id*131 + i*277) % 60001) -
    30000, companded µ-law (even doc_id, format tag 7) or A-law
    (odd, tag 6)."""
    from ..operators.wav_codec import wav_encode_g711

    n = 200 + doc_id % 100
    i = np.arange(n, dtype=np.int64)
    s = ((doc_id * 131 + i * 277) % 60001 - 30000).astype(np.int16)
    return wav_encode_g711(
        s[:, None], "ulaw" if doc_id % 2 == 0 else "alaw"
    )


G711_SCHEMA = (
    "doc_id long, law string, n_samples int, pcm_sum long, "
    "max_err int"
)


def g711_decode_meta(
    docs: DataFrame, num_partitions: int | None = None
) -> DataFrame:
    """Distributed G.711 decode: the WAV container routes tag 6/7
    8-bit streams through the from-scratch companding expanders;
    the decoded-sample sum and the max roundtrip error against the
    known ramp are both closed-form (the oracle replays the exact
    integer encode+decode arithmetic in SQL)."""
    from ..operators.wav_codec import wav_decode

    def rows(doc_id: int, payload: bytes) -> list[tuple]:
        pcm, _rate = wav_decode(payload)
        n = pcm.shape[0]
        i = np.arange(n, dtype=np.int64)
        orig = (doc_id * 131 + i * 277) % 60001 - 30000
        err = np.abs(pcm[:, 0].astype(np.int64) - orig).max()
        return [(doc_id, "ulaw" if doc_id % 2 == 0 else "alaw", n,
                 int(pcm[:, 0].astype(np.int64).sum()), int(err))]

    return _decode_leg(docs, fixture_g711_wav, rows, G711_SCHEMA,
                       num_partitions)


def duck_g711_sql(source: str = "documents") -> str:
    """Closed-form twin: the exact G.711 integer arithmetic (µ-law
    threshold-sum exponent + mantissa truncation; A-law 13-bit
    segment-midpoint reconstruction, ITU-T table 2) replayed per
    sample."""
    return f"""
WITH p AS (
  SELECT doc_id, 200 + doc_id % 100 AS n,
         doc_id % 2 = 0 AS is_ulaw
  FROM {source}
), samp AS (
  SELECT doc_id, n, is_ulaw, gi.i,
         (doc_id * 131 + gi.i * 277) % 60001 - 30000 AS s
  FROM p, LATERAL (SELECT unnest(range(0, n)) AS i) gi
), enc AS (
  SELECT doc_id, n, is_ulaw, s,
         least(abs(s), 32635) + 132 AS umag,
         least(abs(s), 32767) // 8  AS amag
  FROM samp
), seg AS (
  SELECT *,
    (CASE WHEN umag >= 256 THEN 1 ELSE 0 END)
    + (CASE WHEN umag >= 512 THEN 1 ELSE 0 END)
    + (CASE WHEN umag >= 1024 THEN 1 ELSE 0 END)
    + (CASE WHEN umag >= 2048 THEN 1 ELSE 0 END)
    + (CASE WHEN umag >= 4096 THEN 1 ELSE 0 END)
    + (CASE WHEN umag >= 8192 THEN 1 ELSE 0 END)
    + (CASE WHEN umag >= 16384 THEN 1 ELSE 0 END) AS uexp,
    (CASE WHEN amag >= 32 THEN 1 ELSE 0 END)
    + (CASE WHEN amag >= 64 THEN 1 ELSE 0 END)
    + (CASE WHEN amag >= 128 THEN 1 ELSE 0 END)
    + (CASE WHEN amag >= 256 THEN 1 ELSE 0 END)
    + (CASE WHEN amag >= 512 THEN 1 ELSE 0 END)
    + (CASE WHEN amag >= 1024 THEN 1 ELSE 0 END)
    + (CASE WHEN amag >= 2048 THEN 1 ELSE 0 END) AS aexp
  FROM enc
), dec AS (
  SELECT doc_id, n, is_ulaw, s,
    CASE WHEN is_ulaw THEN
      (CASE WHEN s < 0 THEN -1 ELSE 1 END)
      * (((((umag >> (uexp + 3)) & 15) * 8 + 132) << uexp) - 132)
    ELSE
      (CASE WHEN s < 0 THEN -1 ELSE 1 END)
      * ((CASE WHEN aexp = 0
            THEN ((amag // 2) & 15) * 2 + 1
            ELSE ((((amag >> aexp) & 15) * 2 + 1 + 32)
                  << (aexp - 1)) END) * 8)
    END AS d
  FROM seg
)
SELECT doc_id,
       CASE WHEN is_ulaw THEN 'ulaw' ELSE 'alaw' END AS law,
       CAST(n AS INT) AS n_samples,
       CAST(sum(d) AS BIGINT) AS pcm_sum,
       CAST(max(abs(d - s)) AS INT) AS max_err
FROM dec
GROUP BY doc_id, is_ulaw, n
"""


# ===================================== progressive salvage decode leg

def fixture_jpeg_truncated(doc_id: int) -> bytes:
    """Grayscale PROGRESSIVE JPEG (6-scan script) truncated before
    SOS #(k+1), k = 1 + doc_id % 6 (k = 6 keeps the full file):
    same dims/quality/cell schedule as :func:`fixture_jpeg_full`
    but always gray, so the salvage closed form needs only the DC
    precision ladder — scans 1-4 hold DC at Al=1 (coefficient
    q - (q & 1)), scan 5 refines DC to full q (AC scans contribute
    nothing on DC-only content, but their EOB-run machinery still
    runs)."""
    from ..operators.jpeg_codec import jpeg_encode_progressive

    w = 24 + 8 * (doc_id % 4)
    h = 20 + 6 * (doc_id % 3)
    bx = np.arange((w + 15) // 16, dtype=np.int64)
    by = np.arange((h + 15) // 16, dtype=np.int64)
    cell = (doc_id * 7 + 13 * bx[None, :] + 29 * by[:, None]) % 256
    img = np.repeat(
        np.repeat(cell, 16, axis=0), 16, axis=1
    )[:h, :w].astype(np.uint8)
    data = jpeg_encode_progressive(
        [img], quality=50 + 5 * (doc_id % 8)
    )
    k = 1 + doc_id % 6
    if k >= 6:
        return data
    offs = []
    i = 0
    while True:
        i = data.find(b"\xff\xda", i + 1)
        if i < 0:
            break
        offs.append(i)
    return data[:offs[k]]


JPEG_SALVAGE_SCHEMA = (
    "doc_id long, scans_done int, salvaged boolean, y_sum long"
)


def jpeg_salvage_meta(
    docs: DataFrame, num_partitions: int | None = None
) -> DataFrame:
    """Browser-style decode of crawl-truncated progressive JPEGs:
    reconstruct from the complete scans, report how many landed.
    The y_sum oracle is the DC precision ladder in closed form —
    a decoder that silently used the rolled-back partial scan, or
    mis-ran the refinement bit machine, lands on different pixels."""
    from ..operators.jpeg_codec import jpeg_decode_salvage

    def rows(doc_id: int, payload: bytes) -> list[tuple]:
        planes, meta = jpeg_decode_salvage(payload)
        return [(doc_id, meta["n_scans"], meta["salvaged"],
                 int(planes[0].astype(np.int64).sum()))]

    return _decode_leg(docs, fixture_jpeg_truncated, rows, JPEG_SALVAGE_SCHEMA,
                       num_partitions)


def duck_jpeg_salvage_sql(source: str = "documents") -> str:
    """Closed-form twin: the DC precision ladder — coefficient
    q - (q & 1) while only the Al=1 DC scan landed (k < 5), full q
    after the DC refinement scan."""
    return f"""
WITH p AS (
  SELECT doc_id,
         24 + 8 * (doc_id % 4)  AS w,
         20 + 6 * (doc_id % 3)  AS h,
         50 + 5 * (doc_id % 8)  AS qf,
         1 + doc_id % 6         AS k
  FROM {source}
), q AS (
  SELECT *,
         greatest(1, least(255, (16 * (200 - 2 * qf) + 50) // 100))
           AS qy00
  FROM p
), cell AS (
  SELECT q.*, gx.bx, gy.by,
         least(16, w - 16 * gx.bx) AS nx,
         least(16, h - 16 * gy.by) AS ny,
         floor(8.0 * ((doc_id * 7 + 13 * gx.bx + 29 * gy.by) % 256
               - 128) / qy00 + 0.5) AS qdc
  FROM q,
       LATERAL (SELECT unnest(range(0, (w + 15) // 16)) AS bx) gx,
       LATERAL (SELECT unnest(range(0, (h + 15) // 16)) AS by) gy
), coefs AS (
  SELECT *,
         CASE WHEN k >= 5 THEN CAST(qdc AS BIGINT)
              ELSE CAST(qdc AS BIGINT) - (CAST(qdc AS BIGINT) & 1)
         END AS coef
  FROM cell
)
SELECT doc_id,
       CAST(k AS INT) AS scans_done,
       k < 6          AS salvaged,
       CAST(sum(nx * ny * least(greatest(floor(
           coef * qy00 / 8.0 + 0.5) + 128, 0), 255)) AS BIGINT)
         AS y_sum
FROM coefs
GROUP BY doc_id, k
"""


# ================================================= ICO (favicon) leg

def fixture_ico(doc_id: int) -> bytes:
    """Deterministic favicon: 1 + doc_id % 2 entries; entry j is
    PNG when (doc_id + j) is even else the legacy doubled-height
    DIB; square size 16 or 32 (16 << ((doc_id + 3j) % 2)); pixel
    rows are the ramp (doc_id*3 + j*7 + y) % 256; DIB AND masks
    mark (doc_id + j) % w leftmost columns transparent."""
    from ..operators.ico_codec import ico_encode

    entries = []
    for j in range(1 + doc_id % 2):
        w = 16 << ((doc_id + 3 * j) % 2)
        y = np.arange(w, dtype=np.int64)[:, None]
        px = np.broadcast_to(
            (doc_id * 3 + j * 7 + y) % 256, (w, w)
        ).astype(np.uint8)
        kind = "png" if (doc_id + j) % 2 == 0 else "dib"
        entries.append((kind, px, (doc_id + j) % w))
    return ico_encode(entries)


ICO_SCHEMA = (
    "doc_id long, idx int, kind string, width int, height int, "
    "luma_sum long, transparent_px long"
)


def ico_decode_meta(
    docs: DataFrame, num_partitions: int | None = None
) -> DataFrame:
    """Distributed favicon decode: ICONDIR walk, PNG entries
    through the PNG codec, legacy DIB entries through the
    doubled-height XOR+AND parse — per-entry luma sums and
    transparency counts vs the closed-form oracle."""
    from ..operators.ico_codec import ico_decode

    def rows(doc_id: int, payload: bytes) -> list[tuple]:
        return [
            (doc_id, idx, ent["kind"], ent["width"], ent["height"],
             int(ent["luma"].astype(np.int64).sum()),
             ent["transparent_px"])
            for idx, ent in enumerate(ico_decode(payload))
        ]

    return _decode_leg(docs, fixture_ico, rows, ICO_SCHEMA,
                       num_partitions)


def duck_ico_sql(source: str = "documents") -> str:
    """Closed-form twin of the favicon schedule."""
    return f"""
WITH ent AS (
  SELECT doc_id, gj.j,
         CASE WHEN (doc_id + gj.j) % 2 = 0
              THEN 'png' ELSE 'dib' END AS kind,
         16 << ((doc_id + 3 * gj.j) % 2) AS w
  FROM {source},
       LATERAL (
         SELECT unnest(range(0, 1 + doc_id % 2)) AS j
       ) gj
), rowsum AS (
  SELECT doc_id, j, kind, w,
         sum((doc_id * 3 + j * 7 + gy.y) % 256) AS row_total
  FROM ent,
       LATERAL (SELECT unnest(range(0, w)) AS y) gy
  GROUP BY doc_id, j, kind, w
)
SELECT doc_id,
       CAST(j AS INT)            AS idx,
       kind,
       CAST(w AS INT)            AS width,
       CAST(w AS INT)            AS height,
       CAST(w * row_total AS BIGINT) AS luma_sum,
       CAST(CASE WHEN kind = 'dib'
            THEN w * ((doc_id + j) % w) ELSE 0 END AS BIGINT)
         AS transparent_px
FROM rowsum
"""


# =============================================== APNG animation leg

def fixture_apng(doc_id: int) -> bytes:
    """Deterministic APNG: 24x24 gray canvas with row ramp
    (doc_id*5 + y) % 256, then n_frames - 1 = 1 + doc_id % 3 - 1 …
    i.e. n_frames = 2 + doc_id % 3 total frames; patch i (8x8,
    value (doc_id*11 + i*17) % 256) lands at (8*(i-1), 0) —
    non-overlapping, so composited sums are closed-form.
    num_plays = doc_id % 4."""
    from ..operators.apng_codec import apng_encode

    y = np.arange(24, dtype=np.int64)[:, None]
    base = np.broadcast_to(
        (doc_id * 5 + y) % 256, (24, 24)
    ).astype(np.uint8)
    frames: list[tuple[np.ndarray, int, int]] = [(base, 0, 0)]
    for i in range(1, 2 + doc_id % 3):
        patch = np.full(
            (8, 8), (doc_id * 11 + i * 17) % 256, dtype=np.uint8
        )
        frames.append((patch, 8 * (i - 1), 0))
    return apng_encode(frames, num_plays=doc_id % 4)


APNG_SCHEMA = (
    "doc_id long, frame int, n_frames int, num_plays int, "
    "luma_sum long"
)


def apng_decode_meta(
    docs: DataFrame, num_partitions: int | None = None
) -> DataFrame:
    """Distributed APNG decode: acTL/fcTL/fdAT walk, per-frame zlib
    streams, sub-region compositing — every composited frame's luma
    sum vs the closed-form oracle. The plain-PNG-compatibility
    invariant (an ordinary PNG decoder sees frame 0) is pinned by
    unit test."""
    from ..operators.apng_codec import apng_decode

    def rows(doc_id: int, payload: bytes) -> list[tuple]:
        frames, meta = apng_decode(payload)
        return [
            (doc_id, k, meta["n_frames"], meta["num_plays"],
             int(fr[:, :, 0].astype(np.int64).sum()))
            for k, fr in enumerate(frames)
        ]

    return _decode_leg(docs, fixture_apng, rows, APNG_SCHEMA,
                       num_partitions)


def duck_apng_sql(source: str = "documents") -> str:
    """Closed-form twin of the APNG fixture schedule."""
    return f"""
WITH p AS (
  SELECT doc_id, 2 + doc_id % 3 AS nf, doc_id % 4 AS plays
  FROM {source}
), sums AS (
  SELECT doc_id, nf, plays,
         24 * sum((doc_id * 5 + gy.y) % 256)                AS base_sum,
         8 * sum(CASE WHEN gy.y < 8
                 THEN (doc_id * 5 + gy.y) % 256 ELSE 0 END) AS head8
  FROM p, LATERAL (SELECT unnest(range(0, 24)) AS y) gy
  GROUP BY doc_id, nf, plays
), fr AS (
  SELECT doc_id, nf, plays, gk.k AS frame,
         base_sum, head8
  FROM sums, LATERAL (SELECT unnest(range(0, nf)) AS k) gk
), patched AS (
  SELECT f.doc_id, f.nf, f.plays, f.frame,
         f.base_sum + coalesce(sum(
           64 * ((f.doc_id * 11 + gi.i * 17) % 256) - f.head8
         ), 0) AS luma_sum
  FROM fr f
  LEFT JOIN LATERAL (
    SELECT unnest(range(1, f.frame + 1)) AS i
  ) gi ON true
  GROUP BY f.doc_id, f.nf, f.plays, f.frame, f.base_sum, f.head8
)
SELECT doc_id,
       CAST(frame AS INT)    AS frame,
       CAST(nf AS INT)       AS n_frames,
       CAST(plays AS INT)    AS num_plays,
       CAST(luma_sum AS BIGINT) AS luma_sum
FROM patched
"""
