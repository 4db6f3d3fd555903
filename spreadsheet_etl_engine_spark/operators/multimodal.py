"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

Decode / resize / feature-extract are REAL for 24-bit BMP, binary PPM,
PCM16 WAV, the full static PNG spec surface (stdlib zlib + numpy
unfiltering; every legal bit-depth/color-type combination — 1/2/4/8/16
gray, 8/16 RGB/gray+alpha/RGBA, 1/2/4/8 palette with optional tRNS —
plus Adam7 interlacing, since r12), both JPEG DCT frame types
(baseline AND progressive since r12; pure-numpy DCT + Huffman,
4:4:4/4:2:0, restart markers), animated GIF (87a/89a full LZW,
local palettes, interlace, transparency, disposal — since r12 the VIDEO
kind is real: frame counts, per-frame sampling decode), and baseline
TIFF (strips, none/LZW+predictor/PackBits, bilevel/gray/RGB/palette,
multi-page — scanned-document pages sample like video frames) via the
codecs in ``functions.media_codecs`` — no media libs.
The remaining compressed formats (MP3, H.264)
genuinely require PIL/cv2/ffmpeg, which this
container lacks: those route through the marked import-try extension
points and otherwise fall back to the deterministic fake header format,
so the Arrow plumbing is exercised for every kind.

Scale design: media bytes stay in a ``binary`` column co-located with
metadata; decode/feature-extract run as Arrow-batched ``mapInPandas``
(one Python worker per partition, vectorized batches — never a
row-at-a-time UDF); oversized media should be pointered (path + byte
range) rather than inlined, which is a storage-layout decision orthogonal
to these operators.

Fake formats (deterministic, self-describing):
``IMG:{w}x{h}:<payload>`` / ``AUD:{n_samples}@{rate}:<payload>`` /
``VID:{n_frames}x{w}x{h}:<payload>``.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, BinaryType, FloatType, IntegerType, LongType, StringType,
    StructField, StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),       # image | audio | video
        StructField("data", BinaryType()),
        StructField("source_doc", LongType()),   # provenance link
    ]
)

DECODED_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("n_bytes", IntegerType()),
        StructField("payload_hash", StringType()),
    ]
)


def synth_media(spark: SparkSession, n: int = 96, *, real: bool = False) -> DataFrame:
    """Deterministic synthetic media table (the driver testdata has no
    media column — this feeds the plumbing tests and the registry query).

    ``real=True`` emits genuine containers cycling per image row —
    24-bit BMP / binary PPM / zlib-stored truecolor PNG / 16-entry
    palette PNG / 16-bit grayscale PNG / Adam7-interlaced RGB PNG /
    4-bit (sub-byte) palette PNG gradients / baseline JPEG /
    progressive JPEG (r13) — audio rows cycle every audio container
    and sample format the codecs speak (WAV PCM16 / PCM8 / PCM24 /
    PCM32 / IEEE float32, G.711 a-law / mu-law (r13), stereo IMA /
    MS ADPCM blocks, Sun AU mu-law, stereo big-endian AIFF (r14),
    stereo WAVE_FORMAT_EXTENSIBLE PCM16 (r15)),
    and video rows cycle fake header / animated GIF / multi-page TIFF /
    AVI-DIB / AVI-MJPEG (r13 TIFF rows sub-cycle G4-bilevel,
    LZW-RGB-with-predictor, and the tiled organization, so the
    scanned-document compressions all sit under the driver hash; the
    r15 AVI rows put the RIFF video mux/demux there too — DIB with its
    closed-form size, MJPEG via per-frame JFIF streams).  PNG rows use ``level=0`` (stored
    deflate blocks) and WAV bodies are even-length, so their byte sizes
    stay closed formulas the generative oracle can recompute (the Adam7
    row's formula sums the seven per-pass scanline blocks); the
    entropy-coded containers (JPEG/GIF/TIFF) have no closed-form size
    and are pinned through decoded dims / frame and page counts /
    resize + feature kernels instead."""
    import numpy as np

    from spreadsheet_etl_engine_spark.functions import media_codecs as MC

    def make(i: int) -> tuple:
        kind = ("image", "audio", "video")[i % 3]
        if kind == "image":
            if real:
                w, h = 8 + i % 16, 6 + i % 8
                img = ((np.arange(h * w * 3).reshape(h, w, 3) * (i + 1)) % 256
                       ).astype(np.uint8)
                container = (i // 3) % 9
                if container in (3, 6):
                    # Palette (color-type 3) PNG — fixed 16-entry
                    # palette; container 3 at depth 8 (level-0 size
                    # 80 + 3*16 + h*(1+w)), container 6 at depth 4
                    # (r12: sub-byte scanlines — size
                    # 80 + 3*16 + h*(1+ceil(w/2))).
                    idx = ((np.arange(h * w).reshape(h, w) * (i + 1)) % 16
                           ).astype(np.uint8)
                    pal = ((np.arange(48).reshape(16, 3) * 7 + i) % 256
                           ).astype(np.uint8)
                    payload = MC.encode_png_palette(
                        idx, pal, level=0, depth=8 if container == 3 else 4)
                elif container == 4:
                    # 16-bit grayscale PNG (r12): level-0 size
                    # 68 + h*(1+2w).
                    g16 = ((np.arange(h * w).reshape(h, w) * (i + 1) * 257)
                           % 65536).astype(np.uint16)
                    payload = MC.encode_png(g16, level=0)
                elif container == 5:
                    # Adam7-interlaced RGB PNG (r12): level-0 size
                    # 68 + sum over the 7 passes of hp*(1+3*wp).
                    payload = MC.encode_png(img, level=0, interlace=True)
                elif container in (7, 8):
                    # Both JPEG DCT frame types (r13): entropy-coded, so
                    # no size formula — the oracle pins these rows via
                    # the SOF-probe dims and the resize/feature kernels.
                    # Subsampling alternates so 4:2:0 sits under the
                    # driver hash too.
                    sub = "420" if (i // 27) % 2 else "444"
                    payload = (MC.encode_jpeg(img, subsampling=sub)
                               if container == 7
                               else MC.encode_jpeg_progressive(
                                   img, subsampling=sub))
                else:
                    payload = (MC.encode_bmp(img) if container == 0
                               else MC.encode_ppm(img) if container == 1
                               else MC.encode_png(img, level=0))
            else:
                payload = (f"IMG:{32 + i % 64}x{16 + i % 32}:" + "p" * (i % 17 + 1)).encode()
        elif kind == "audio":
            if real:
                ns = 256 + i % 64
                t = np.arange(ns)
                sine = np.sin(t * ((i % 7) + 1) * 0.1)
                fmt = (i // 3) % 12
                if fmt == 0:                       # PCM16 (the r12 row)
                    wave = (1000 * sine).astype(np.int16)
                elif fmt == 1:                     # PCM8 (unsigned)
                    wave = (sine * 100 + 128).astype(np.uint8)
                elif fmt in (2, 3):                # PCM24 / PCM32
                    wave = (sine * (2 ** 30)).astype(np.int32)
                elif fmt == 4:                     # IEEE float32
                    wave = sine.astype(np.float32)
                elif fmt in (7, 8, 10, 11):
                    # IMA / MS ADPCM and AIFF (r14), EXTENSIBLE PCM16
                    # (r15) — STEREO, with distinct per-channel
                    # signals, so the interleaved layouts and
                    # per-channel predictor state sit under the
                    # driver's height=2 pin (a channel swap or
                    # shared-state bug would still decode *something*
                    # mono-shaped from a mono fixture).
                    wave = np.stack(
                        [sine * 20000,
                         np.cos(t * ((i % 5) + 1) * 0.13) * 15000],
                        axis=1).astype(np.int16)
                else:          # G.711 a-law / mu-law, AU mu-law
                    wave = (sine * 20000).astype(np.int16)
                # The oracle's closed size formulas: PCM/G.711 bodies
                # are 44 + bytes_per_sample * ns + the RIFF pad byte on
                # odd bodies (ns here is even, but the formula carries
                # the pad term so the contract is explicit); the ADPCM
                # block codecs (r14) are fixed-header + whole 64-byte
                # stereo blocks — 60 + 64*ceil(ns/57) for IMA,
                # 90 + 64*ceil(ns/52) for MS — with the fact chunk
                # truncating the padded final block, so decoded width
                # stays exactly ns (and height exactly 2).  The r14
                # non-RIFF audio containers: Sun AU mu-law (24 + ns)
                # and stereo AIFF PCM16 big-endian (54 + 4*ns).  The
                # r15 row: stereo WAVE_FORMAT_EXTENSIBLE PCM16 —
                # 40-byte fmt chunk, 68 + 4*ns total — putting the
                # fmt-0xFFFE/KSDATAFORMAT parse under the driver hash.
                if fmt == 9:
                    payload = MC.encode_au(wave, 16000, codec="mulaw")
                elif fmt == 10:
                    payload = MC.encode_aiff(wave, 16000)
                else:
                    payload = MC.encode_wav(
                        wave, 16000, bits=24 if fmt == 2 else None,
                        codec={5: "alaw", 6: "mulaw", 7: "ima_adpcm",
                               8: "ms_adpcm"}.get(fmt),
                        block_align=64 if fmt in (7, 8) else None,
                        extensible=fmt == 11)
            else:
                payload = (f"AUD:{1000 + i}@16000:" + "p" * (i % 17 + 1)).encode()
        else:
            nf = 4 + i % 8
            vcontainer = (i // 3) % 5 if real else 0
            if vcontainer in (3, 4):
                # AVI (r15): the real RIFF video container.  Row 3 is
                # uncompressed DIB — the one video container with a
                # CLOSED-FORM byte size (232 + nf*(24 + h*4-aligned
                # rows)), so the generative oracle pins its exact
                # bytes like BMP/PNG/WAV; row 4 is Motion-JPEG (one
                # complete baseline JFIF stream per frame), pinned
                # via probe dims + the movi chunk-walk frame count.
                w, h = 8 + i % 16, 6 + i % 8
                frames = ((np.arange(nf * h * w * 3)
                           .reshape(nf, h, w, 3) * (i + 1)) % 256
                          ).astype(np.uint8)
                payload = MC.encode_avi(
                    frames, codec="dib" if vcontainer == 3 else "mjpeg")
            elif vcontainer == 1:
                # Animated GIF (r13): nf full frames of deterministic
                # 16-color index gradients — count_gif_frames must walk
                # the real block structure to nf, and decode_sampled_
                # frames/resize run the full LZW path.
                w, h = 8 + i % 16, 6 + i % 8
                frames = ((np.arange(nf * h * w).reshape(nf, h, w)
                           * (i + 1)) % 16).astype(np.uint8)
                pal = ((np.arange(48).reshape(16, 3) * 11 + i) % 256
                       ).astype(np.uint8)
                payload = MC.encode_gif(frames, pal)
            elif vcontainer == 2:
                # Multi-page TIFF (r13): scanned-document pages count
                # like video frames; the sub-cycle covers the scan
                # layouts (G4 fax, LZW+predictor, tiled, planar-2,
                # G3 1D-with-EOLs, strip JPEG-in-TIFF, G3 2D,
                # bilevel-tiled G4, tiled JPEG — the COG layout) —
                # invisible to the generative oracle (dims and page
                # counts don't depend on it), so each variant's REAL
                # IFD walk sits under the driver hash for free.
                w, h = 8 + i % 16, 6 + i % 8
                npages = 2 + i % 3
                sub = (i // 9) % 9
                if sub in (0, 4, 6, 7):
                    pages = [(((np.arange(h * w).reshape(h, w)
                                * (i + p + 1)) % 256) >= 128)
                             .astype(np.uint8) * 255
                             for p in range(npages)]
                    payload = MC.encode_tiff(
                        pages, bilevel=True,
                        compression={0: "g4", 4: "g3", 6: "g3_2d",
                                     7: "g4"}[sub],
                        tile=(8, 8) if sub == 7 else None)
                else:
                    pages = [((np.arange(h * w * 3).reshape(h, w, 3)
                               * (i + p + 1)) % 256).astype(np.uint8)
                             for p in range(npages)]
                    payload = (MC.encode_tiff(pages, compression="lzw",
                                              predictor=True)
                               if sub == 1
                               else MC.encode_tiff(pages, tile=(8, 8))
                               if sub == 2
                               else MC.encode_tiff(pages, planar=True,
                                                   compression="packbits")
                               if sub == 3
                               else MC.encode_tiff(pages,
                                                   compression="jpeg")
                               if sub == 5
                               else MC.encode_tiff(pages,
                                                   compression="jpeg",
                                                   tile=(8, 8)))
            else:
                payload = (f"VID:{nf}x{64}x{48}:" + "p" * (i % 17 + 1)).encode()
        return (i, kind, payload, i % 7)

    return spark.createDataFrame([make(i) for i in range(n)], MEDIA_SCHEMA)


def _decode_fake(data: bytes) -> tuple[int, int, int]:
    """Parse the self-describing fake header → (width, height, n_frames)."""
    text = bytes(data).split(b":", 2)
    tag = text[0].decode()
    dims = text[1].decode()
    if tag == "IMG":
        w, h = dims.split("x")
        return int(w), int(h), 1
    if tag == "AUD":
        n, _rate = dims.split("@")
        return int(n), 1, 1
    if tag == "VID":
        nf, w, h = dims.split("x")
        return int(w), int(h), int(nf)
    return 0, 0, 0


def _decode_any(data: bytes) -> tuple[int, int, int]:
    """(width, height, n_frames) for any supported container.  For audio,
    width = n_samples, height = n_channels (mirroring the fake format's
    convention).  TOTAL by contract: corrupt/unsupported bytes (truncated
    BMP, unsupported bpp, non-WAVE RIFF) decode to (0, 0, 0) instead of
    raising — one bad row must never kill a 100 TB job.

    Compressed containers (PNG/JPEG) are probed from their headers alone
    (``probe_png_dims`` / ``probe_jpeg_dims``) — O(header), never
    O(pixels).  That is the production split: the metadata sweep
    validates container structure cheaply; full pixel decode (which
    would catch a corrupt entropy stream) belongs to the feature-extract
    stage, which is the first stage that actually needs the pixels.
    BMP/PPM/WAV "decode" is already a header parse + buffer view, so
    those keep the full path."""
    from spreadsheet_etl_engine_spark.functions import media_codecs as MC

    # NULL media cells are legal (BinaryType is nullable) and must hit the
    # totality contract like any other undecodable row — bytes(None)
    # would raise OUTSIDE the try below and kill the job.
    raw = b"" if data is None else bytes(data)
    kind = MC.sniff(raw)
    try:
        if kind == "bmp":
            img = MC.decode_bmp(raw)
            return img.shape[1], img.shape[0], 1
        if kind == "ppm":
            img = MC.decode_ppm(raw)
            return img.shape[1], img.shape[0], 1
        if kind == "png":
            w, h = MC.probe_png_dims(raw)
            return w, h, 1
        if kind == "jpeg":
            w, h = MC.probe_jpeg_dims(raw)
            return w, h, 1
        if kind == "gif":
            # Animated GIF is a real VIDEO container (r12): dims from
            # the O(1) logical-screen probe, frame count from the
            # O(blocks) structure walk — LZW never decompressed here.
            w, h = MC.probe_gif_dims(raw)
            return w, h, MC.count_gif_frames(raw)
        if kind == "tiff":
            # Multi-page TIFF (r12): scanned-document pages count like
            # video frames — O(IFD chain), strips never touched.
            w, h = MC.probe_tiff_dims(raw)
            return w, h, MC.count_tiff_pages(raw)
        if kind == "avi":
            # Real video container (r15): dims from the hdrl
            # BITMAPINFOHEADER probe, frame count from the O(chunk
            # headers) movi structure walk — frame payloads never read.
            w, h = MC.probe_avi_dims(raw)
            return w, h, MC.count_avi_frames(raw)
        if kind == "wav":
            samples, _rate = MC.decode_wav(raw)
            return samples.shape[0], samples.shape[1], 1
        if kind == "au":
            samples, _rate = MC.decode_au(raw)
            return samples.shape[0], samples.shape[1], 1
        if kind == "aiff":
            samples, _rate = MC.decode_aiff(raw)
            return samples.shape[0], samples.shape[1], 1
        return _decode_fake(raw)
    except (ValueError, IndexError, struct.error, zlib.error):
        return 0, 0, 0


def decode_media(df: DataFrame) -> DataFrame:
    """Decode metadata from the binary column via Arrow-batched
    ``mapInPandas``.  Batch shape: the iterator yields pandas DataFrames of
    whole Arrow record batches; output conforms to DECODED_SCHEMA."""
    import hashlib

    import pandas as pd

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            decoded = [_decode_any(d) for d in pdf["data"]]
            raws = [b"" if d is None else bytes(d) for d in pdf["data"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "width": [d[0] for d in decoded],
                    "height": [d[1] for d in decoded],
                    "n_frames": [d[2] for d in decoded],
                    "n_bytes": [len(r) for r in raws],
                    "payload_hash": [hashlib.md5(r).hexdigest() for r in raws],
                }
            )

    return df.mapInPandas(decode_batches, DECODED_SCHEMA)


FEATURE_DIM = 8

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("feature", ArrayType(FloatType())),
    ]
)


def extract_features(df: DataFrame) -> DataFrame:
    """Feature extraction over the binary column via ``mapInPandas``.

    REAL statistical features for decodable media (per-channel mean/std +
    normalized dims for images; amplitude stats + rate for audio) — a
    production encoder (CLIP/wav2vec) swaps in at exactly this point with
    the identical batch shape (one kernel call per Arrow batch, output an
    ``array<float>`` column).  Undecodable bytes get a deterministic
    md5-seeded pseudo-embedding so the pipeline stays total.
    """
    import hashlib

    import numpy as np
    import pandas as pd

    from spreadsheet_etl_engine_spark.functions import media_codecs as MC

    def _one(data: bytes) -> list[float]:
        raw = b"" if data is None else bytes(data)
        container = MC.sniff(raw)
        try:
            if container in ("bmp", "ppm", "png", "jpeg", "gif", "tiff",
                             "avi"):
                decoded = (MC.decode_bmp(raw) if container == "bmp"
                           # P5/P4 decode single-channel (r12): same
                           # gray-replication as PNG/TIFF
                           else MC.to_rgb(MC.decode_ppm(raw)) if container == "ppm"
                           else MC.to_rgb(MC.decode_png(raw)) if container == "png"
                           else MC.decode_gif(raw)[0] if container == "gif"
                           # GIF/TIFF/AVI: first frame/page embedding —
                           # the per-frame fan-out is
                           # decode_sampled_frames (AVI decodes ONLY
                           # frame 0: independent keyframes, r15)
                           else MC.to_rgb(MC.decode_tiff(raw)) if container == "tiff"
                           else MC.decode_avi(raw, indices=[0])[0] if container == "avi"
                           else MC.to_rgb(MC.decode_jpeg(raw)))
                # 16-bit PNG decodes to uint16: normalize by the sample
                # dtype's max so an image carries the same embedding at
                # either depth.
                scale = 65535.0 if decoded.dtype == np.uint16 else 255.0
                img = decoded.astype(np.float32) / scale
                h, w = img.shape[:2]
                return [*img.mean(axis=(0, 1)).tolist(),
                        *img.std(axis=(0, 1)).tolist(),
                        w / 4096.0, h / 4096.0]
            if container in ("wav", "au", "aiff"):
                samples, rate = (
                    MC.decode_wav(raw) if container == "wav"
                    else MC.decode_au(raw) if container == "au"
                    else MC.decode_aiff(raw))
                # Full-scale-to-[-1, 1] per sample format (r12: PCM8/
                # 24/32 + IEEE float joined PCM16; r14: AU int8 arrives
                # as int16<<8, AU/AIFF PCM16/mu-law as int16): uint8 is
                # unsigned mid-128, PCM24 arrives left-justified in
                # int32.
                if samples.dtype == np.uint8:
                    x = (samples.astype(np.float32) - 128.0) / 128.0
                elif samples.dtype == np.int16:
                    x = samples.astype(np.float32) / 32768.0
                elif samples.dtype == np.int32:
                    x = (samples / 2147483648.0).astype(np.float32)
                else:
                    x = samples.astype(np.float32)
                return [float(x.mean()), float(x.std()),
                        float(np.abs(x).mean()), float(x.max()), float(x.min()),
                        float(np.sqrt((x ** 2).mean())),
                        x.shape[0] / 1e6, rate / 1e5]
        except (ValueError, IndexError, struct.error, zlib.error):
            pass  # undecodable despite the magic bytes: md5 fallback below
        digest = hashlib.md5(raw).digest()
        vec = np.frombuffer(digest[: FEATURE_DIM * 2], dtype=np.uint16)
        return (vec.astype(np.float32) / 65535.0).tolist()

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "feature": [_one(d) for d in pdf["data"]],
            })

    return df.mapInPandas(encode, FEATURE_SCHEMA)


def resize_images(df: DataFrame, *, width: int, height: int) -> DataFrame:
    """Image resize via Arrow-batched ``mapInPandas``.

    REAL nearest-neighbor resize (pure numpy index arithmetic) for
    BMP/PPM/PNG/JPEG bytes, re-encoded in the same container; fake-format
    rows get their header rewritten (payload untouched); the remaining
    compressed formats would route through the PIL extension point.
    Non-image kinds pass through unchanged."""
    import pandas as pd

    from spreadsheet_etl_engine_spark.functions import media_codecs as MC

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for data in pdf["data"]:
                raw = b"" if data is None else bytes(data)
                container = MC.sniff(raw)
                try:
                    if container == "bmp":
                        raw = MC.encode_bmp(MC.resize_nearest(MC.decode_bmp(raw), width, height))
                    elif container == "ppm":
                        raw = MC.encode_ppm(MC.resize_nearest(MC.decode_ppm(raw), width, height))
                    elif container == "png":
                        # color type survives the round trip (RGBA stays RGBA)
                        raw = MC.encode_png(MC.resize_nearest(MC.decode_png(raw), width, height))
                    elif container == "jpeg":
                        # gray stays single-component ((h, w, 1) squeezes
                        # back through encode_jpeg); color re-encodes 4:4:4
                        raw = MC.encode_jpeg(
                            MC.resize_nearest(MC.decode_jpeg(raw), width, height))
                    elif container == "gif":
                        # Every frame resizes; nearest-neighbor introduces
                        # no new colors, so the composited frames re-index
                        # exactly onto their own unique-color palette (no
                        # quantization).  >256 unique colors (multi-local-
                        # palette animations) raise into the passthrough.
                        import numpy as np
                        frames = MC.decode_gif(raw)
                        small = np.stack([MC.resize_nearest(f, width, height)
                                          for f in frames])
                        colors, inverse = np.unique(
                            small.reshape(-1, 3), axis=0, return_inverse=True)
                        if colors.shape[0] > 256:
                            raise ValueError(
                                "resized GIF exceeds one 256-color table")
                        if colors.shape[0] < 2:
                            # A solid-color animation resizes to ONE
                            # unique color; the GIF minimum LZW code
                            # size needs a 2-entry palette, so pad with
                            # an unreferenced duplicate (r13 — found by
                            # the degenerate fixture row).
                            colors = np.vstack([colors, colors])
                        raw = MC.encode_gif(
                            inverse.reshape(small.shape[:3]).astype(np.uint8),
                            colors.astype(np.uint8))
                    elif container == "tiff":
                        # Every page resizes; pages re-encode 8-bit
                        # chunky (LZW) — bilevel/palette sources become
                        # gray/RGB, which is what a resampled scan is.
                        raw = MC.encode_tiff(
                            [MC.resize_nearest(p, width, height)
                             for p in MC.decode_tiff_pages(raw)],
                            compression="lzw")
                    elif container == "avi":
                        # Every frame resizes, re-encoded in the SAME
                        # stream flavor (DIB stays closed-form
                        # uncompressed, MJPG re-entropy-codes) so the
                        # container round-trips its codec (r15).
                        frames = MC.decode_avi(raw)
                        raw = MC.encode_avi(
                            [MC.resize_nearest(f, width, height)
                             for f in frames],
                            codec=MC.probe_avi_codec(raw))
                    elif raw[:4] == b"IMG:":
                        _tag, _dims, payload = raw.split(b":", 2)
                        raw = b"IMG:%dx%d:" % (width, height) + payload
                except (ValueError, IndexError, struct.error, zlib.error):
                    pass  # corrupt bytes pass through unchanged
                out.append(raw)
            pdf = pdf.copy()
            pdf["data"] = out
            yield pdf

    return df.mapInPandas(resize, df.schema)


def frame_sample(df: DataFrame, *, every_k: int = 2) -> DataFrame:
    """Video frame sampling plan: one output row per kept frame index.
    Pure Spark (posexplode over a frame-index sequence) — the decode of
    each sampled frame is :func:`decode_sampled_frames`, the second
    ``mapInPandas`` stage over (media_id, frame_idx)."""
    decoded = decode_media(df.filter(F.col("kind") == "video"))
    # n_frames = 0 is the totality contract's corrupt-row value; sequence
    # (0, -1) would throw "illegal sequence boundaries" and kill the job,
    # so zero-frame rows simply produce no sampled frames.
    return (
        decoded.filter(F.col("n_frames") > 0).select(
            "media_id",
            F.explode(
                F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(every_k))
            ).alias("frame_idx"),
        )
    )


SAMPLED_FRAME_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("frame_png", BinaryType()),
    ]
)


def decode_sampled_frames(df: DataFrame, *, every_k: int = 2) -> DataFrame:
    """The second ``mapInPandas`` stage behind :func:`frame_sample` —
    REAL since r12 for animated GIF and multi-page TIFF (scanned-
    document pages sample exactly like video frames): each video's
    sampled frame indexes are gathered per media (``collect_list``
    bounded by the frame count), joined back to the bytes, and the kept
    frames decode + re-encode as lossless PNG — one output row per
    sampled frame.

    Fake VID headers carry no pixels and corrupt streams decode to
    nothing, so both contribute zero rows (the totality contract:
    filtering, never failing).  MP3/H.264 would slot in at exactly this
    kernel via the PIL/ffmpeg extension point with the identical Arrow
    batch shape.  Scale design: one decode per video regardless of how
    many frames are kept; frame bytes never shuffle (the join moves only
    (media_id, frame index list) onto the binary column's partitions).
    """
    import pandas as pd

    from spreadsheet_etl_engine_spark.functions import media_codecs as MC

    sampled = (
        frame_sample(df, every_k=every_k)
        .groupBy("media_id")
        .agg(F.collect_list("frame_idx").alias("frame_idxs"))
    )
    joined = df.join(sampled, "media_id").select(
        "media_id", "data", "frame_idxs")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["media_id", "frame_idx", "width", "height", "frame_png"]
        for pdf in batches:
            out: list[tuple] = []
            for media_id, data, idxs in zip(
                    pdf["media_id"], pdf["data"], pdf["frame_idxs"]):
                raw = b"" if data is None else bytes(data)
                container = MC.sniff(raw)
                kept = sorted({int(i) for i in idxs if int(i) >= 0})
                try:
                    if container == "gif":
                        frames = list(MC.decode_gif(raw))
                        pairs = [(i, frames[i]) for i in kept
                                 if i < len(frames)]
                    elif container == "tiff":
                        # Pages may differ in size — kept as a list.
                        frames = [MC.to_rgb(p) if p.shape[2] != 3 else p
                                  for p in MC.decode_tiff_pages(raw)]
                        pairs = [(i, frames[i]) for i in kept
                                 if i < len(frames)]
                    elif container == "avi":
                        # AVI frames are independent keyframes (r15):
                        # only the KEPT frames entropy-decode; the
                        # others are seeked over by chunk size.  The
                        # decoder returns requested-and-present frames
                        # in ascending order, so any out-of-range tail
                        # indexes simply pair with nothing.
                        frames = MC.decode_avi(raw, indices=kept)
                        pairs = list(zip(kept, frames))
                    else:
                        continue
                except (ValueError, IndexError, struct.error):
                    continue
                for i, f in pairs:
                    out.append((media_id, i, f.shape[1], f.shape[0],
                                MC.encode_png(f)))
            yield pd.DataFrame(out, columns=cols)

    return joined.mapInPandas(gen, SAMPLED_FRAME_SCHEMA)
