"""AVI (RIFF) video container: pure-numpy mux/demux of the two codecs
this sandbox can express end-to-end — uncompressed bottom-up DIB frames
(``biCompression=0``, the BMP pixel-array layout) and Motion-JPEG
(``biCompression='MJPG'``, one complete baseline JFIF stream per frame,
decoded by :mod:`jpeg_codec`).

Layout follows the public AVI RIFF spec (Microsoft "AVI RIFF File
Reference" / msdn dd318189; OpenDML AVI extensions are not needed at
fixture sizes): ``RIFF('AVI ' LIST('hdrl' avih LIST('strl' strh strf))
LIST('movi' 00db|00dc...) idx1)``.  The muxer writes a single video
stream; the demuxer tolerates the structures real muxers emit — JUNK
padding chunks, ``rec `` grouping LISTs inside ``movi``, extra non-video
streams (skipped by stream number), and the RIFF odd-size pad byte.

Everything is O(the part touched): ``probe_avi_dims`` stops at the first
video ``strf``; ``count_avi_frames`` walks ``movi`` chunk HEADERS only
(payloads are seeked over, never read); ``decode_avi(indices=...)``
entropy-decodes only the requested frames — AVI frames are independent
(every fixture frame is a keyframe), unlike GIF whose LZW frames must
composite sequentially.  A bigger file is more chunk headers, not more
Python work per byte.

Like every codec here the decode surface is TOTAL-by-name: structurally
corrupt bytes raise ``ValueError`` with the reason named, which the
multimodal layer's totality contract maps to (0, 0, 0) — one bad row
must never kill a 100 TB job.  Compressed fourccs beyond MJPG (XVID,
H264, ...) raise the named unsupported error, not silently wrong
output.
"""

from __future__ import annotations

import struct

import numpy as np

from spreadsheet_etl_engine_spark.functions import jpeg_codec as JC

_AVIF_HASINDEX = 0x10
_AVIIF_KEYFRAME = 0x10


def _dib_encode_frame(img: np.ndarray) -> bytes:
    """(h, w, 3) RGB -> the BMP pixel-array layout AVI '00db' chunks
    carry: bottom-up BGR rows, 4-byte aligned (so the chunk size is
    always even — no RIFF pad byte, which keeps the whole DIB-AVI byte
    size a closed formula the generative oracle recomputes)."""
    h, w, _ = img.shape
    stride = (w * 3 + 3) & ~3
    body = np.zeros((h, stride), dtype=np.uint8)
    body[:, : w * 3] = img[::-1, :, ::-1].reshape(h, w * 3)
    return body.tobytes()


def _dib_decode_frame(payload: bytes, w: int, h: int,
                      bottom_up: bool = True) -> np.ndarray:
    """``bottom_up`` follows the BITMAPINFOHEADER biHeight sign
    convention (positive = bottom-up, the overwhelmingly common case;
    negative = top-down — same rule ``decode_bmp`` honors, so a
    top-down stream must not come back vertically flipped)."""
    stride = (w * 3 + 3) & ~3
    need = h * stride
    if len(payload) < need:
        raise ValueError(
            f"AVI DIB frame truncated: {len(payload)} bytes < {need}")
    raw = np.frombuffer(payload, dtype=np.uint8, count=need)
    rows = raw.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
    if bottom_up:
        rows = rows[::-1]
    return rows[:, :, ::-1].copy()             # BGR -> RGB


def encode_avi(frames, *, fps: int = 10, codec: str = "dib",
               quality: int = 85, audio=None,
               audio_rate: int = 16000) -> bytes:
    """Frames ((nf, h, w, 3) uint8 array or list of (h, w, 3)) -> AVI
    bytes with one 'vids' stream, an optional interleaved PCM16 'auds'
    stream, and an idx1 index.

    ``codec="dib"`` writes uncompressed '00db' chunks; with no audio
    the total file size is the closed formula
    ``232 + nf*(24 + h*((3w+3)//4*4))`` (232 = 12 RIFF + 200 hdrl +
    12 movi LIST header/fourcc + 8 idx1 header; per frame: 8 chunk
    header + 4-aligned pixel rows + 16 idx1 entry).  ``codec="mjpeg"``
    writes one complete baseline JFIF stream per '00dc' chunk (tables
    included, so every frame decodes standalone), entropy-coded — no
    closed size form.

    ``audio`` is an int16 array ((ns,) or (ns, channels)); the samples
    split across nf '01wb' chunks interleaved after each frame's video
    chunk — the standard one-chunk-per-frame-period interleave real
    muxers produce, so seeking stays local.  PCM16 only (the WAV/AU/
    AIFF codecs own the compressed audio formats)."""
    if codec not in ("dib", "mjpeg"):
        raise ValueError(f"AVI codec must be 'dib' or 'mjpeg'; got {codec!r}")
    frames = [np.asarray(f, dtype=np.uint8) for f in frames]
    if not frames:
        raise ValueError("AVI needs at least one frame")
    h, w = frames[0].shape[:2]
    for f in frames:
        if f.shape != (h, w, 3):
            raise ValueError(
                f"AVI frames must all be (h, w, 3) with one size; got "
                f"{f.shape} vs ({h}, {w}, 3)")
    if fps <= 0:
        raise ValueError(f"AVI frame rate must be positive; got {fps}")

    if codec == "dib":
        payloads = [_dib_encode_frame(f) for f in frames]
        handler, ckid = b"DIB ", b"00db"
        compression, size_image = 0, h * ((w * 3 + 3) & ~3)
    else:
        payloads = [JC.encode_jpeg(f, quality=quality) for f in frames]
        handler, ckid = b"MJPG", b"00dc"
        compression = struct.unpack("<I", b"MJPG")[0]
        size_image = 0
    nf = len(payloads)
    bufsize = max(len(p) for p in payloads)

    audio_chunks: list[bytes] = []
    audio_strl = b""
    n_streams = 1
    if audio is not None:
        A = np.asarray(audio)
        if A.dtype != np.int16:
            raise ValueError(
                f"AVI audio must be int16 PCM; got dtype {A.dtype} — "
                "use the WAV/AU/AIFF codecs for other sample formats")
        if A.ndim == 1:
            A = A[:, None]
        if A.ndim != 2 or A.shape[0] == 0:
            raise ValueError("AVI audio must be a non-empty (ns,) or "
                             "(ns, channels) array")
        if audio_rate <= 0:
            raise ValueError(
                f"AVI audio rate must be positive; got {audio_rate}")
        ns, ch = A.shape
        block = 2 * ch
        # One audio chunk per frame period: whole samples, remainder
        # rides the last chunk (chunk sizes stay block-aligned → even,
        # so the audio chunks never need RIFF pads).
        per = ns // nf
        bounds = [min(ns, per * i) for i in range(1, nf)] + [ns]
        start = 0
        interleaved = A.astype("<i2").tobytes()
        for b_end in bounds:
            audio_chunks.append(interleaved[start * block:b_end * block])
            start = b_end
        strh_a = struct.pack(
            "<4s4sIHHIIIIIIiI4H", b"auds", b"\x00" * 4, 0, 0, 0, 0,
            1, audio_rate, 0, ns, max(len(c) for c in audio_chunks),
            -1, block, 0, 0, 0, 0)
        strf_a = struct.pack(                              # WAVEFORMATEX,
            "<HHIIHH", 1, ch, audio_rate, audio_rate * block, block, 16)
        audio_strl = (b"LIST"
                      + struct.pack("<I", 4 + 8 + 56 + 8 + len(strf_a))
                      + b"strl" + b"strh" + struct.pack("<I", 56) + strh_a
                      + b"strf" + struct.pack("<I", len(strf_a)) + strf_a)
        n_streams = 2

    avih = struct.pack(
        "<10I", 1_000_000 // fps, 0, 0, _AVIF_HASINDEX, nf, 0,
        n_streams, bufsize, w, h) + b"\x00" * 16           # dwReserved[4]
    strh = struct.pack(
        "<4s4sIHHIIIIIIiI4H", b"vids", handler, 0, 0, 0, 0,
        1, fps, 0, nf, bufsize, -1, 0, 0, 0, w, h)
    strf = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, compression, size_image,
        0, 0, 0, 0)
    strl = b"strl" + b"strh" + struct.pack("<I", 56) + strh \
        + b"strf" + struct.pack("<I", 40) + strf
    hdrl = b"hdrl" + b"avih" + struct.pack("<I", 56) + avih \
        + b"LIST" + struct.pack("<I", len(strl)) + strl + audio_strl

    movi = bytearray(b"movi")
    idx = bytearray()

    def put(cc: bytes, payload: bytes) -> None:
        # idx1 offsets are relative to the 'movi' fourcc (the common
        # muxer convention; the demuxer below never needs idx1, it
        # walks the chunks).
        idx.extend(cc + struct.pack("<III", _AVIIF_KEYFRAME,
                                    len(movi), len(payload)))
        movi.extend(cc + struct.pack("<I", len(payload)) + payload)
        if len(payload) % 2:
            movi.extend(b"\x00")                           # RIFF pad

    for fi, payload in enumerate(payloads):
        put(ckid, payload)
        if audio_chunks and audio_chunks[fi]:
            put(b"01wb", audio_chunks[fi])

    body = (b"LIST" + struct.pack("<I", len(hdrl)) + hdrl
            + b"LIST" + struct.pack("<I", len(movi)) + movi
            + b"idx1" + struct.pack("<I", len(idx)) + idx)
    return b"RIFF" + struct.pack("<I", len(body) + 4) + b"AVI " + body


def _chunks(data: bytes, start: int, end: int):
    """Yield (fourcc, payload_start, payload_size) walking a RIFF chunk
    span; payloads are never sliced — O(chunk headers)."""
    pos = start
    while pos + 8 <= end:
        cc = data[pos:pos + 4]
        (size,) = struct.unpack_from("<I", data, pos + 4)
        if pos + 8 + size > end:
            raise ValueError(
                f"AVI chunk {cc!r} overruns its parent "
                f"({pos + 8 + size} > {end})")
        yield cc, pos + 8, size
        pos += 8 + size + (size % 2)                       # RIFF pad


def _riff_span(data: bytes) -> int:
    raw = bytes(data)
    if raw[:4] != b"RIFF" or raw[8:12] != b"AVI ":
        raise ValueError("not an AVI file (RIFF/'AVI ' fourcc missing)")
    if len(raw) < 12:
        raise ValueError("AVI header truncated")
    (size,) = struct.unpack_from("<I", raw, 4)
    return min(8 + size, len(raw))


def _video_stream(data: bytes):
    """-> (stream_no, w, h, compression fourcc int) of the FIRST 'vids'
    stream, from the hdrl headers only."""
    raw = bytes(data)
    end = _riff_span(raw)
    for cc, p, size in _chunks(raw, 12, end):
        if cc != b"LIST" or raw[p:p + 4] != b"hdrl":
            continue
        stream_no = -1
        for scc, sp, ssize in _chunks(raw, p + 4, p + size):
            if scc != b"LIST" or raw[sp:sp + 4] != b"strl":
                continue
            stream_no += 1
            fcc_type, want = None, False
            for tcc, tp, tsize in _chunks(raw, sp + 4, sp + ssize):
                if tcc == b"strh" and tsize >= 8:
                    fcc_type = raw[tp:tp + 4]
                    want = fcc_type == b"vids"
                elif tcc == b"strf" and want:
                    if tsize < 40:
                        raise ValueError(
                            f"AVI video strf is {tsize} bytes; "
                            "BITMAPINFOHEADER needs 40")
                    (_bsz, bw, bh, _planes, bits, comp) = struct.unpack_from(
                        "<IiiHHI", raw, tp)
                    # bh keeps its SIGN: negative = top-down DIB rows
                    # (the BITMAPINFOHEADER convention decode_bmp also
                    # honors); callers that only need dims abs() it.
                    return stream_no, bw, bh, comp, bits
        raise ValueError("AVI has no video ('vids') stream")
    raise ValueError("AVI has no hdrl header list")


def probe_avi_dims(data: bytes) -> tuple[int, int]:
    """(width, height) from the video stream's BITMAPINFOHEADER —
    O(header walk), movi never touched."""
    _no, w, h, _comp, _bits = _video_stream(data)
    return w, abs(h)


def _audio_stream(data: bytes):
    """-> (stream_no, channels, rate, bits, format_tag) of the FIRST
    'auds' stream, from the hdrl headers only; None if the file has no
    audio stream."""
    raw = bytes(data)
    end = _riff_span(raw)
    for cc, p, size in _chunks(raw, 12, end):
        if cc != b"LIST" or raw[p:p + 4] != b"hdrl":
            continue
        stream_no = -1
        for scc, sp, ssize in _chunks(raw, p + 4, p + size):
            if scc != b"LIST" or raw[sp:sp + 4] != b"strl":
                continue
            stream_no += 1
            want = False
            for tcc, tp, tsize in _chunks(raw, sp + 4, sp + ssize):
                if tcc == b"strh" and tsize >= 4:
                    want = raw[tp:tp + 4] == b"auds"
                elif tcc == b"strf" and want:
                    if tsize < 16:
                        raise ValueError(
                            f"AVI audio strf is {tsize} bytes; "
                            "WAVEFORMATEX needs at least 16")
                    tag, ch, rate, _avg, _blk, bits = struct.unpack_from(
                        "<HHIIHH", raw, tp)
                    return stream_no, ch, rate, bits, tag
        return None
    raise ValueError("AVI has no hdrl header list")


def decode_avi_audio(data: bytes):
    """Decode the audio stream -> ((ns, channels) int16 array, rate).

    Concatenates the stream's '%02dwb' movi chunks in file order (the
    interleave is storage layout, not sample order).  PCM16
    (``wFormatTag=1, 16 bit``) only — compressed audio-in-AVI is a
    named error pointing at the formats the WAV codec owns; a file
    with no audio stream is a named error too (probe with
    ``has_avi_audio`` first)."""
    raw = bytes(data)
    info = _audio_stream(raw)
    if info is None:
        raise ValueError("AVI has no audio ('auds') stream")
    no, ch, rate, bits, tag = info
    if tag != 1 or bits != 16:
        raise ValueError(
            f"AVI audio format tag={tag} bits={bits} not supported "
            "(PCM16 only; G.711/ADPCM belong to the WAV codec)")
    if ch < 1:
        raise ValueError("AVI audio stream declares zero channels")
    want = (b"%02dwb" % no,)
    end = _riff_span(raw)
    parts = []
    for cc, p, size in _chunks(raw, 12, end):
        if cc == b"LIST" and raw[p:p + 4] == b"movi":
            for scc, sp, ssize in _chunks(raw, p + 4, p + size):
                if scc == b"LIST" and raw[sp:sp + 4] == b"rec ":
                    for tcc, tp, tsize in _chunks(raw, sp + 4, sp + ssize):
                        if tcc in want:
                            parts.append(raw[tp:tp + tsize])
                elif scc in want:
                    parts.append(raw[sp:sp + ssize])
    body = b"".join(parts)
    block = 2 * ch
    if len(body) % block:
        raise ValueError(
            f"AVI audio bytes ({len(body)}) are not whole "
            f"{block}-byte sample frames")
    samples = np.frombuffer(body, dtype="<i2")
    return samples.reshape(-1, ch).copy(), rate


def has_avi_audio(data: bytes) -> bool:
    """True when the file declares an 'auds' stream — O(header walk)."""
    return _audio_stream(data) is not None


def probe_avi_codec(data: bytes) -> str:
    """'dib' | 'mjpeg' | the raw fourcc for anything else — from the
    strf compression field, O(header walk)."""
    _no, _w, _h, comp, _bits = _video_stream(data)
    if comp == 0:
        return "dib"
    fourcc = struct.pack("<I", comp).decode("latin-1")
    return "mjpeg" if fourcc == "MJPG" else fourcc


def _movi_video_chunks(data: bytes, stream_no: int):
    """Yield (payload_start, size) for the video stream's frame chunks
    in every 'movi' LIST, in file order — chunk headers only.  'rec '
    grouping LISTs (interleave units some muxers write) are entered."""
    raw = bytes(data)
    end = _riff_span(raw)
    want = (b"%02ddb" % stream_no, b"%02ddc" % stream_no)

    def walk(start, stop):
        for cc, p, size in _chunks(raw, start, stop):
            if cc == b"LIST" and raw[p:p + 4] == b"rec ":
                yield from walk(p + 4, p + size)
            elif cc in want:
                yield p, size

    for cc, p, size in _chunks(raw, 12, end):
        if cc == b"LIST" and raw[p:p + 4] == b"movi":
            yield from walk(p + 4, p + size)


def count_avi_frames(data: bytes) -> int:
    """Frame count by the REAL movi structure walk (like the GIF block
    walk: a wrong chunk size chain breaks the count) — not the avih
    dwTotalFrames declaration, which a corrupt muxer can leave stale."""
    no, _w, _h, _comp, _bits = _video_stream(data)
    return sum(1 for _ in _movi_video_chunks(data, no))


def decode_avi(data: bytes, indices=None) -> list[np.ndarray]:
    """Decode frames -> list of (h, w, 3) uint8 RGB arrays.

    ``indices`` (an iterable of frame numbers) decodes ONLY those
    frames — the sampled-frame path: non-requested MJPEG chunks are
    seeked over without entropy decode.  Unsupported compression
    fourccs and DIB bit depths are named errors."""
    raw = bytes(data)
    no, w, h, comp, bits = _video_stream(raw)
    bottom_up, h = h >= 0, abs(h)
    if comp not in (0, struct.unpack("<I", b"MJPG")[0]):
        fourcc = struct.pack("<I", comp).decode("latin-1")
        raise ValueError(
            f"AVI compression {fourcc!r} not supported; DIB "
            "(uncompressed) and MJPG decode — H.264-class codecs are "
            "the ffmpeg extension point")
    if comp == 0 and bits != 24:
        raise ValueError(f"AVI DIB depth {bits} not supported (24 only)")
    keep = None if indices is None else {int(i) for i in indices}
    out = []
    for i, (p, size) in enumerate(_movi_video_chunks(raw, no)):
        if keep is not None and i not in keep:
            continue
        payload = raw[p:p + size]
        if comp == 0:
            out.append(_dib_decode_frame(payload, w, h, bottom_up))
        else:
            img = JC.decode_jpeg(payload)
            if img.ndim == 2:
                img = np.repeat(img[:, :, None], 3, axis=2)
            out.append(img)
    return out
