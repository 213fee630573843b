"""Pure-stdlib AVI (RIFF) MJPEG demuxer/muxer — the real VIDEO
container behind ``multimodal.frame_sample``, built on the codec set
this repo already carries: an AVI file is a RIFF tree (the same chunk
grammar as WAV) whose ``movi`` list holds one JPEG per ``00dc`` video
chunk, and the JPEG codec here decodes every Huffman layout — so
Motion-JPEG videos decode end to end with zero dependencies.

Demuxer: RIFF walk (``LIST``/plain chunks, word alignment), ``avih``
main header (dims, total frames), ``00dc``/``00db`` frame chunks in
stream order. When the file carries an AVI 1.0 ``idx1`` index the
chunk table comes from the index instead of a linear ``movi`` walk,
so ``sample_video_frames(every_n)`` seeks straight to the kept frames
— skipped frames are never read, let alone JPEG-decoded (the
every-Nth sampling pattern a 100 TB video corpus needs: decode cost
drops by the sampling factor, not just output size). Interleaved
``..wb`` PCM audio chunks demux by re-wrapping the stream's
WAVEFORMATEX ``strf`` (bit-identical to a WAV ``fmt `` body) plus the
concatenated chunk data as a RIFF/WAVE payload routed through
``wav_codec.decode_wav`` — one container, two modalities, each decoded
by its own codec.

Muxer (the in-test generator): single-video-stream MJPEG AVI, with
optional interleaved 16-bit PCM audio (frame-period ``01wb`` chunks)
and an ``idx1`` index (offsets relative to the ``movi`` fourcc, the
common writer convention; the reader also accepts absolute offsets).

Scale note: like every codec here, decode runs inside Arrow-batched
``mapInArrow`` workers; per-video cost stays executor-local and each
frame is an independent JPEG decode.
"""

from __future__ import annotations

import struct

import numpy as np

AVI_MAGIC = b"RIFF"

_AVIF_HASINDEX = 0x10
_AVIIF_KEYFRAME = 0x10


def _chunks(data: bytes, pos: int, end: int):
    """Iterate (fourcc, body_start, body_size) through a RIFF region,
    honoring word alignment."""
    while pos + 8 <= end:
        fourcc = data[pos:pos + 4]
        (size,) = struct.unpack("<I", data[pos + 4:pos + 8])
        yield fourcc, pos + 8, size
        pos += 8 + size + (size & 1)  # chunks are word-aligned


def _require_avi(payload: bytes) -> None:
    if payload[:4] != AVI_MAGIC or payload[8:12] != b"AVI ":
        raise ValueError("not an AVI payload")


def _find_list(payload: bytes, list_type: bytes):
    """(fourcc_pos, body_end) of the first LIST of ``list_type``, where
    fourcc_pos points at the list-type fourcc itself. None if absent."""

    def walk(pos: int, end: int):
        for fourcc, body, size in _chunks(payload, pos, end):
            if fourcc == b"LIST":
                if payload[body:body + 4] == list_type:
                    return body, body + size
                got = walk(body + 4, body + size)
                if got is not None:
                    return got
        return None

    return walk(12, len(payload))


def _find_chunk(payload: bytes, fourcc_want: bytes, pos: int = 12,
                end: int | None = None):
    """(body_start, size) of the first plain chunk named ``fourcc_want``
    anywhere in the tree. None if absent."""
    if end is None:
        end = len(payload)
    for fourcc, body, size in _chunks(payload, pos, end):
        if fourcc == fourcc_want:
            return body, size
        if fourcc == b"LIST":
            got = _find_chunk(payload, fourcc_want, body + 4, body + size)
            if got is not None:
                return got
    return None


def _stream_types(payload: bytes) -> list[tuple[bytes, bytes]]:
    """[(fcc_type, strf_body)] in strl order — stream N's chunks are
    named ``{N:02d}..``, so this list maps chunk ids to media types."""
    hdrl = _find_list(payload, b"hdrl")
    if hdrl is None:
        return []
    streams: list[tuple[bytes, bytes]] = []
    pos, end = hdrl[0] + 4, hdrl[1]
    for fourcc, body, size in _chunks(payload, pos, end):
        if fourcc == b"LIST" and payload[body:body + 4] == b"strl":
            fcc_type = b""
            strf = b""
            for c2, b2, s2 in _chunks(payload, body + 4, body + size):
                if c2 == b"strh":
                    fcc_type = payload[b2:b2 + 4]
                elif c2 == b"strf":
                    strf = payload[b2:b2 + s2]
            streams.append((fcc_type, strf))
    return streams


def parse_idx1(payload: bytes):
    """AVI 1.0 index → list of (chunk_fourcc, abs_body_pos, size), or
    None when the index is absent OR unusable — empty, truncated,
    OpenDML ``rec``-grouped, or with entries that resolve to neither
    offset convention. None means "fall back to the linear ``movi``
    walk", which is always correct; the index is purely a seek
    optimization and must never make a decodable file fail. Entry
    offsets are resolved against both writer conventions (relative to
    the ``movi`` fourcc, or absolute from file start) by probing which
    lands on the entry's own chunk header."""
    idx = _find_chunk(payload, b"idx1")
    movi = _find_list(payload, b"movi")
    if idx is None or movi is None:
        return None
    body, size = idx
    movi_pos = movi[0]  # position of the "movi" fourcc
    out = []
    for off in range(body, body + size - 15, 16):
        fourcc = payload[off:off + 4]
        if fourcc in (b"rec ", b"LIST"):
            # OpenDML grouped entries wrap frames in rec-lists the
            # flat walk below understands better than this parser
            return None
        _flags, rel, csize = struct.unpack("<III", payload[off + 4:off + 16])
        hdr = movi_pos + rel  # relative convention
        if payload[hdr:hdr + 4] != fourcc:
            hdr = rel  # absolute convention
            if payload[hdr:hdr + 4] != fourcc:
                return None  # corrupt index — the movi walk still works
        out.append((fourcc, hdr + 8, csize))
    return out or None  # an empty index indexes nothing: walk movi


def _chunk_locs(payload: bytes, want) -> list[tuple[bytes, int, int]]:
    """(fourcc, abs_body, size) for movi chunks whose 2-byte type
    suffix passes ``want`` — from idx1 when present (no movi scan),
    else a linear walk of the movi list."""
    _require_avi(payload)
    idx = parse_idx1(payload)
    if idx is not None:
        return [(fcc, body, size) for fcc, body, size in idx
                if want(fcc[2:4])]
    movi = _find_list(payload, b"movi")
    if movi is None:
        return []
    out: list[tuple[bytes, int, int]] = []

    def walk(pos: int, end: int) -> None:
        for fcc, body, size in _chunks(payload, pos, end):
            if fcc == b"LIST":  # OpenDML "rec " grouping
                walk(body + 4, body + size)
            elif want(fcc[2:4]):
                out.append((fcc, body, size))

    walk(movi[0] + 4, movi[1])
    return out


def _to_gray(img: np.ndarray) -> np.ndarray:
    if img.ndim == 3:  # color frame → integer ITU-R 601 luma
        r = img[:, :, 0].astype(np.int64)
        g = img[:, :, 1].astype(np.int64)
        b = img[:, :, 2].astype(np.int64)
        img = ((299 * r + 587 * g + 114 * b + 500) // 1000).astype(np.uint8)
    return img


def sample_video_frames(payload: bytes, every_n: int) -> list[tuple[int, np.ndarray]]:
    """Every Nth video frame as (frame_idx, (H, W) uint8 grayscale).
    With an idx1 index the skipped frames' bytes are never touched;
    decode cost is ceil(n_frames / every_n) JPEG decodes either way."""
    from .jpeg_codec import JPEG_MAGIC, decode_jpeg

    locs = _chunk_locs(payload, lambda sfx: sfx in (b"dc", b"db"))
    if not locs:
        raise ValueError("AVI with no video frames")
    out: list[tuple[int, np.ndarray]] = []
    for i in range(0, len(locs), every_n):
        _fcc, body, size = locs[i]
        blob = payload[body:body + size]
        if blob[:3] != JPEG_MAGIC[:3]:
            raise NotImplementedError(
                "non-MJPEG AVI video stream needs an external decoder")
        out.append((i, _to_gray(decode_jpeg(blob))))
    return out


def decode_avi(payload: bytes) -> list[np.ndarray]:
    """AVI bytes → list of (H, W) uint8 grayscale frames (each ``00dc``
    MJPEG chunk decoded via ``jpeg_codec``; luma for color frames)."""
    return [f for _i, f in sample_video_frames(payload, every_n=1)]


def extract_audio(payload: bytes) -> tuple[int, int, np.ndarray]:
    """Demux the interleaved PCM audio stream → (sample_rate,
    n_channels, int32 samples), by routing through ``wav_codec``: the
    ``auds`` stream's strf IS a WAVEFORMATEX, byte-compatible with a
    WAV ``fmt `` body, so strf + concatenated ``..wb`` chunk data
    re-wrap into a valid RIFF/WAVE payload for ``decode_wav``."""
    from .wav_codec import decode_wav

    _require_avi(payload)
    streams = _stream_types(payload)
    auds = [f"{i:02d}".encode() for i, (t, _) in enumerate(streams)
            if t == b"auds"]
    if not auds:
        raise ValueError("AVI has no audio stream")
    strf = dict(
        (f"{i:02d}".encode(), s) for i, (t, s) in enumerate(streams)
    )[auds[0]]
    data = b"".join(
        payload[body:body + size]
        for fcc, body, size in _chunk_locs(payload,
                                           lambda sfx: sfx == b"wb")
        if fcc[:2] == auds[0])
    wav = (b"RIFF" + struct.pack("<I", 4 + 8 + len(strf) + 8 + len(data))
           + b"WAVE"
           + b"fmt " + struct.pack("<I", len(strf)) + strf
           + b"data" + struct.pack("<I", len(data)) + data)
    return decode_wav(wav)


def _chunk(fourcc: bytes, body: bytes) -> bytes:
    pad = b"\x00" if len(body) & 1 else b""
    return fourcc + struct.pack("<I", len(body)) + body + pad


def _list(list_type: bytes, body: bytes) -> bytes:
    return _chunk(b"LIST", list_type + body)


def encode_avi(frames: list[np.ndarray], fps: int = 10,
               quality: int = 90, audio: np.ndarray | None = None,
               audio_rate: int = 8000, with_index: bool = True) -> bytes:
    """Single-video-stream MJPEG AVI from equal-shaped (H, W) grayscale
    (or (H, W, 3) RGB) uint8 frames. ``audio``: optional mono int16
    PCM samples, interleaved as one ``01wb`` chunk per frame period
    (last chunk carries the remainder — no padding, so total demuxed
    samples == len(audio)). ``with_index`` writes an AVI 1.0 ``idx1``
    covering every movi chunk."""
    from .jpeg_codec import encode_jpeg

    if not frames:
        raise ValueError("need at least one frame")
    h, w = frames[0].shape[:2]
    jpegs = [encode_jpeg(np.asarray(f, dtype=np.uint8), quality=quality)
             for f in frames]
    max_bytes = max(len(j) for j in jpegs)

    n_streams = 1 + (audio is not None)
    flags = _AVIF_HASINDEX if with_index else 0
    avih = struct.pack(
        "<14I", 1_000_000 // fps, max_bytes * fps, 0, flags,
        len(frames), 0, n_streams, max_bytes, w, h, 0, 0, 0, 0)
    strh_v = (b"vids" + b"MJPG" + struct.pack(
        "<IHHIIIIIIII", 0, 0, 0, 0, 1, fps, 0, len(frames), max_bytes,
        0xFFFFFFFF, 0) + struct.pack("<4H", 0, 0, w, h))
    strf_v = struct.pack("<IiiHH4sIiiII", 40, w, h, 1, 24, b"MJPG",
                         w * h * 3, 0, 0, 0, 0)
    strls = _list(b"strl", _chunk(b"strh", strh_v) + _chunk(b"strf", strf_v))

    audio_chunks: list[bytes] = []
    if audio is not None:
        pcm = np.asarray(audio, dtype="<i2")
        spf = -(-len(pcm) // len(frames))  # ceil: spread over frames
        audio_chunks = [pcm[i * spf:(i + 1) * spf].tobytes()
                        for i in range(len(frames))]
        strh_a = (b"auds" + b"\x00\x00\x00\x00" + struct.pack(
            "<IHHIIIIIIII", 0, 0, 0, 0, 1, audio_rate, 0, len(pcm),
            spf * 2, 0xFFFFFFFF, 2) + struct.pack("<4H", 0, 0, 0, 0))
        # WAVEFORMATEX for 16-bit mono PCM — byte-identical layout to a
        # WAV "fmt " body, which is what lets extract_audio re-wrap it
        strf_a = struct.pack("<HHIIHH", 1, 1, audio_rate,
                             audio_rate * 2, 2, 16)
        strls += _list(b"strl",
                       _chunk(b"strh", strh_a) + _chunk(b"strf", strf_a))

    hdrl = _list(b"hdrl", _chunk(b"avih", avih) + strls)

    movi_body = b""
    index_entries: list[tuple[bytes, int, int]] = []
    for i, j in enumerate(jpegs):
        # offsets are relative to the "movi" fourcc; first chunk at 4
        index_entries.append((b"00dc", 4 + len(movi_body), len(j)))
        movi_body += _chunk(b"00dc", j)
        if audio_chunks and audio_chunks[i]:
            index_entries.append(
                (b"01wb", 4 + len(movi_body), len(audio_chunks[i])))
            movi_body += _chunk(b"01wb", audio_chunks[i])
    movi = _list(b"movi", movi_body)

    idx1 = b""
    if with_index:
        idx1 = _chunk(b"idx1", b"".join(
            fcc + struct.pack("<III", _AVIIF_KEYFRAME, off, size)
            for fcc, off, size in index_entries))

    body = b"AVI " + hdrl + movi + idx1
    return b"RIFF" + struct.pack("<I", len(body)) + body
