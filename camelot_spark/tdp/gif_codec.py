"""Pure-stdlib GIF codec (GIF89a, LZW) — the real multi-frame "video"
container behind ``multimodal.frame_sample``, completing the codec set
(PNG ``png_codec``, baseline JPEG ``jpeg_codec``, WAV ``wav_codec``).

Decoder: header + logical screen descriptor, global/local color
tables, graphic-control/application/comment extensions (skipped), and
a full LZW decompressor per image descriptor (variable code width,
clear/EOI codes, dictionary growth to 12 bits) — so real-world
GIFs decode, not just our own — including four-pass INTERLACED frames
(appendix E row scatter). Frames map through their palette to
grayscale via the same integer ITU-R 601 luma as the other codecs.

Encoder (the in-test generator): grayscale frames against a 256-entry
gray global palette. It emits each pixel as a LITERAL LZW code with a
CLEAR before the code width would grow — a valid degenerate LZW stream
any conforming decoder accepts (the spec's dictionary is optional for
writers) — trading compression for ~60 lines of code.

Scale note: like every codec here, decode runs inside Arrow-batched
``mapInArrow`` workers; the LZW inner loop is sequential per frame
(as in any GIF library), the palette mapping is numpy."""

from __future__ import annotations

import struct

import numpy as np

GIF_MAGIC = b"GIF8"
# the encoder's LZW minimum code size: one literal code per 8-bit pixel
_MIN_CODE_SIZE = 8


# ----------------------------------------------------------------- encode

class _LZWWriter:
    """Sub-block packed little-endian bitstream of literal codes."""

    def __init__(self):
        self.clear = 1 << _MIN_CODE_SIZE
        self.eoi = self.clear + 1
        self.width = _MIN_CODE_SIZE + 1
        self.acc = 0
        self.nbits = 0
        self.bytes = bytearray()

    def put(self, code: int):
        self.acc |= code << self.nbits
        self.nbits += self.width
        while self.nbits >= 8:
            self.bytes.append(self.acc & 0xFF)
            self.acc >>= 8
            self.nbits -= 8

    def finish(self) -> bytes:
        if self.nbits:
            self.bytes.append(self.acc & 0xFF)
        out = bytearray()
        data = bytes(self.bytes)
        for i in range(0, len(data), 255):
            chunk = data[i:i + 255]
            out.append(len(chunk))
            out += chunk
        out.append(0)  # block terminator
        return bytes(out)


def _interlace_order(h: int) -> list[int]:
    """Raster row index of each successive stream row (GIF89a
    appendix E four-pass interlace)."""
    return (list(range(0, h, 8)) + list(range(4, h, 8))
            + list(range(2, h, 4)) + list(range(1, h, 2)))


def encode_gif(frames: list[np.ndarray], delay_cs: int = 4,
               interlace: bool = False) -> bytes:
    """GIF89a bytes from equal-shaped (H, W) uint8 grayscale frames.
    ``interlace=True`` stores rows in four-pass interlace order and
    sets the image-descriptor flag — exercises the decoder's
    de-interlacing scatter."""
    if not frames:
        raise ValueError("need at least one frame")
    h, w = frames[0].shape
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0xF7, 0, 0)  # GCT present, 256 entries
    for v in range(256):  # gray global color table
        out += bytes((v, v, v))
    if len(frames) > 1:
        # Netscape looping application extension
        out += b"\x21\xff\x0bNETSCAPE2.0\x03\x01\x00\x00\x00"
    for frame in frames:
        if frame.shape != (h, w):
            raise ValueError("all frames must share one shape")
        out += b"\x21\xf9\x04\x00" + struct.pack("<H", delay_cs) + b"\x00\x00"
        out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h)
        out.append(0x40 if interlace else 0x00)
        out.append(_MIN_CODE_SIZE)
        lzw = _LZWWriter()
        lzw.put(lzw.clear)
        count = 0
        rows = np.asarray(frame, dtype=np.uint8)
        if interlace:
            rows = rows[_interlace_order(h)]
        for px in rows.reshape(-1):
            if count == 253:  # keep literal codes valid at 9 bits
                lzw.put(lzw.clear)
                count = 0
            lzw.put(int(px))
            count += 1
        lzw.put(lzw.eoi)
        out += lzw.finish()
    out += b"\x3b"  # trailer
    return bytes(out)


# ----------------------------------------------------------------- decode

def _lzw_decode(min_code_size: int, data: bytes, n_pixels: int) -> np.ndarray:
    clear = 1 << min_code_size
    eoi = clear + 1
    width = min_code_size + 1
    table: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    out = bytearray()
    acc = 0
    nbits = 0
    prev: bytes | None = None
    for byte in data:
        acc |= byte << nbits
        nbits += 8
        while nbits >= width:
            code = acc & ((1 << width) - 1)
            acc >>= width
            nbits -= width
            if code == clear:
                table = [bytes([i]) for i in range(clear)] + [b"", b""]
                width = min_code_size + 1
                prev = None
                continue
            if code == eoi:
                return np.frombuffer(bytes(out[:n_pixels]), dtype=np.uint8)
            if code < len(table):
                entry = table[code]
            elif code == len(table) and prev is not None:
                entry = prev + prev[:1]
            else:
                raise ValueError("corrupt LZW stream")
            out += entry
            if prev is not None and len(table) < 4096:
                table.append(prev + entry[:1])
                if len(table) == (1 << width) and width < 12:
                    width += 1
            prev = entry
            if len(out) >= n_pixels and nbits < width:
                break
    return np.frombuffer(bytes(out[:n_pixels]), dtype=np.uint8)


def decode_gif(payload: bytes) -> list[np.ndarray]:
    """List of (H, W) uint8 grayscale frames (palette → integer luma)."""
    if payload[:4] != GIF_MAGIC or payload[4:6] not in (b"7a", b"9a"):
        raise ValueError("not a GIF payload")
    w, h, flags, _bg, _ar = struct.unpack("<HHBBB", payload[6:13])
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        gct = np.frombuffer(payload[pos:pos + 3 * n], dtype=np.uint8).reshape(n, 3)
        pos += 3 * n

    def skip_subblocks(p):
        while payload[p] != 0:
            p += 1 + payload[p]
        return p + 1

    frames: list[np.ndarray] = []
    # animation compositing state: frames paint onto a persistent
    # canvas (GIF delta frames cover only their changed sub-rect);
    # disposal + transparency come from the preceding GCE
    canvas = np.zeros((h, w), dtype=np.uint8)
    disposal = 0
    transparent_idx = -1
    while pos < len(payload):
        b0 = payload[pos]
        if b0 == 0x3B:  # trailer
            break
        if b0 == 0x21:  # extension: label + sub-blocks
            if payload[pos + 1] == 0xF9:  # graphic control: packed,
                packed = payload[pos + 3]  # delay(2), transparent idx
                disposal = (packed >> 2) & 0x07
                transparent_idx = payload[pos + 6] if packed & 0x01 else -1
            pos = skip_subblocks(pos + 2)
            continue
        if b0 != 0x2C:
            raise ValueError(f"unexpected GIF block 0x{b0:02x}")
        fx, fy, fw, fh, iflags = struct.unpack("<HHHHB", payload[pos + 1:pos + 10])
        pos += 10
        table = gct
        if iflags & 0x80:
            n = 2 << (iflags & 0x07)
            table = np.frombuffer(payload[pos:pos + 3 * n], dtype=np.uint8).reshape(n, 3)
            pos += 3 * n
        if table is None:
            raise ValueError("GIF frame without a color table")
        min_code = payload[pos]
        pos += 1
        data = bytearray()
        while payload[pos] != 0:
            ln = payload[pos]
            data += payload[pos + 1:pos + 1 + ln]
            pos += 1 + ln
        pos += 1
        idx = _lzw_decode(min_code, bytes(data), fw * fh)
        if idx.size < fw * fh:
            raise ValueError("truncated GIF frame")
        idx2d = idx.reshape(fh, fw)
        if iflags & 0x40:
            # GIF89a interlace: the stream carries rows in 4 passes
            # (every 8th from 0, every 8th from 4, every 4th from 2,
            # every 2nd from 1); scatter them back to raster order
            idx2d = np.empty_like(idx2d)
            idx2d[_interlace_order(fh)] = idx.reshape(fh, fw)
        rgb = table[np.clip(idx2d.reshape(-1), 0, len(table) - 1)].astype(np.int64)
        gray = ((299 * rgb[:, 0] + 587 * rgb[:, 1] + 114 * rgb[:, 2] + 500)
                // 1000).astype(np.uint8).reshape(fh, fw)
        region = canvas[fy:fy + fh, fx:fx + fw]
        if transparent_idx >= 0:
            opaque = idx2d != transparent_idx
            region[opaque] = gray[opaque]  # transparent pixels show through
        else:
            region[:, :] = gray
        frames.append(canvas.copy())
        if disposal == 2:  # restore to background for the next frame
            canvas[fy:fy + fh, fx:fx + fw] = 0
        # disposal 0/1: do not dispose — canvas persists (3, restore-to-
        # previous, is rare; treating it as keep matches most decoders'
        # fallback)
        disposal = 0
        transparent_idx = -1
    if not frames:
        raise ValueError("GIF with no image data")
    return frames
