"""Pure-stdlib JPEG codec (ITU-T.81, numpy): the zero-dependency
real-decode path behind ``multimodal.decode_image`` for JPEG
containers, completing what ``png_codec`` did for PNG.

Decoder: generic marker parse (SOI/APPn/DQT/SOF0/2/DHT/DRI/SOS),
Huffman tables and quant tables read FROM THE FILE (so real-world
JPEGs decode, not just our own), byte-unstuffing, restart-marker
resync, differential DC + run-length AC entropy decode, dequantize,
exact 8x8 IDCT via a precomputed orthonormal DCT matrix, and JFIF
YCbCr→RGB for 3-component 4:4:4 scans. **Progressive (SOF2)** decodes
natively: multi-scan spectral selection + successive approximation per
T.81 Annex G — DC first/refine, AC first with EOB-run accumulation,
and the G.1.2.3 AC-refinement correction-bit walk — accumulating a
per-component coefficient store that is dequantized/IDCT'd at EOI.
**Subsampled (4:2:0 / 4:2:2)** baseline scans decode natively too: the
general MCU geometry (h_i x v_i blocks per component per MCU) with
box-average-encoded chroma replicated back up at reconstruction.
**Non-interleaved baseline** layouts (one SOS per component, A.2.2)
accumulate a coefficient store per scan and reconstruct at EOI.
**Progressive subsampled** streams decode too (interleaved DC scans
over the MCU geometry — full OR component subsets — and
single-component DC/AC scans over native grids), as do any sampling
factors 1-4 (the full T.81 B.2.2 range, incl. 3:1:1) and baseline
subset-interleaved scans — every Huffman layout decodes natively.
Factors outside 1-4 are invalid per T.81 and raise ValueError.

Encoder (the in-test payload generator): grayscale or 4:4:4 YCbCr,
quality-scaled quant table, and — deliberately — canonical Huffman
tables GENERATED programmatically (all DC categories at one code
length, all 162 AC symbols at another). Any table satisfying Kraft is
a valid baseline table and the decoder reads whatever DHT declares, so
this trades a few percent of compression for not embedding the long
Annex-K constant blocks. JPEG is lossy: round-trip tests assert a
pixel tolerance, not equality.

Scale note: like the PNG path, decode runs inside Arrow-batched
``mapInArrow`` workers — per-image cost stays executor-local; the
block DCT/IDCT and dequantization are numpy matrix ops, the entropy
scan is the inherently sequential part (same trade PIL makes in C).
"""

from __future__ import annotations

import struct

import numpy as np

JPEG_MAGIC = b"\xff\xd8\xff"

# orthonormal 8x8 DCT-II matrix: block_coeffs = C @ block @ C.T
_C = np.zeros((8, 8))
for _k in range(8):
    for _n in range(8):
        _C[_k, _n] = np.cos(np.pi * (2 * _n + 1) * _k / 16) * (
            np.sqrt(0.125) if _k == 0 else 0.5)

# zigzag scan order, generated: index z -> (row, col)
_ZIGZAG = sorted(((r, c) for r in range(8) for c in range(8)),
                 key=lambda rc: (rc[0] + rc[1],
                                 rc[1] if (rc[0] + rc[1]) % 2 else rc[0]))
_ZZ_ROWS = np.array([r for r, _ in _ZIGZAG])
_ZZ_COLS = np.array([c for _, c in _ZIGZAG])


def _quant_table(quality: int, chroma: bool) -> np.ndarray:
    """Deterministic frequency-ramp quant table scaled by quality
    (1-100). The decoder reads DQT from the file, so any table works;
    a ramp keeps low frequencies fine and high frequencies coarse."""
    scale = (5000 / quality if quality < 50 else 200 - 2 * quality) / 100.0
    base = 1 + (np.add.outer(np.arange(8), np.arange(8)) *
                (4.0 if chroma else 2.5)) + (8.0 if chroma else 4.0)
    q = np.clip(np.round(base * max(scale, 0.02)), 1, 255)
    return q.astype(np.int32)


# -- canonical Huffman tables (encoder side) ---------------------------

def _canonical_codes(bits: list[int], values: list[int]) -> dict[int, tuple[int, int]]:
    """DHT (bits-per-length, value list) -> {symbol: (code, length)}."""
    out, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[values[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def _flat_table(symbols: list[int], length: int) -> tuple[list[int], list[int]]:
    """All symbols at one code length — valid iff len(symbols) < 2**length
    (strict: keeps the all-ones code unused, as common practice)."""
    assert len(symbols) < (1 << length)
    bits = [0] * 16
    bits[length - 1] = len(symbols)
    return bits, list(symbols)


_DC_SYMBOLS = list(range(12))                       # size categories 0..11
_AC_SYMBOLS = [0x00, 0xF0] + [r * 16 + s for r in range(16)
                              for s in range(1, 11)]  # EOB, ZRL, (run,size)
_DC_BITS, _DC_VALS = _flat_table(_DC_SYMBOLS, 4)
_AC_BITS, _AC_VALS = _flat_table(_AC_SYMBOLS, 9)
_DC_ENC = _canonical_codes(_DC_BITS, _DC_VALS)
_AC_ENC = _canonical_codes(_AC_BITS, _AC_VALS)


class _BitWriter:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, code: int, length: int):
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            b = (self.acc >> (self.n - 8)) & 0xFF
            self.buf.append(b)
            if b == 0xFF:
                self.buf.append(0x00)  # byte stuffing
            self.n -= 8
        self.acc &= (1 << self.n) - 1

    def flush(self):
        if self.n:
            self.put(0x7F, 8 - self.n)  # pad with 1s per spec (use 0111..)

    def restart(self, idx: int):
        """Byte-align and emit RSTn (no stuffing after the marker)."""
        self.flush()
        self.buf.append(0xFF)
        self.buf.append(0xD0 + (idx % 8))


def _category(v: int) -> int:
    return int(abs(v)).bit_length()


def _encode_block(w: _BitWriter, coeffs: np.ndarray, prev_dc: int) -> int:
    """Zigzagged int coeff vector (64,) -> entropy-coded bits."""
    dc = int(coeffs[0])
    diff = dc - prev_dc
    s = _category(diff)
    code, ln = _DC_ENC[s]
    w.put(code, ln)
    if s:
        w.put(diff if diff >= 0 else diff + (1 << s) - 1, s)
    run = 0
    last_nz = int(np.max(np.nonzero(coeffs)[0])) if np.any(coeffs[1:]) else 0
    for k in range(1, 64):
        v = int(coeffs[k])
        if k > last_nz:
            code, ln = _AC_ENC[0x00]  # EOB
            w.put(code, ln)
            break
        if v == 0:
            run += 1
            continue
        while run >= 16:
            code, ln = _AC_ENC[0xF0]  # ZRL
            w.put(code, ln)
            run -= 16
        s = _category(v)
        code, ln = _AC_ENC[run * 16 + s]
        w.put(code, ln)
        w.put(v if v >= 0 else v + (1 << s) - 1, s)
        run = 0
    return dc


def _seg(marker: int, payload: bytes) -> bytes:
    return struct.pack(">BBH", 0xFF, marker, len(payload) + 2) + payload


def _dht_payload(tc_th: int, bits: list[int], vals: list[int]) -> bytes:
    return bytes([tc_th] + bits + vals)


def _native_grid(h, w, hh, vv, hmax, vmax):
    """(bh_i, bw_i): a component's non-interleaved block grid — ceil
    of its native pixel dims (frame dims scaled by its sampling
    factors) over 8. The single home of the A.2.2 geometry."""
    native_h = -(-h * vv // vmax)
    native_w = -(-w * hh // hmax)
    return -(-native_h // 8), -(-native_w // 8)


def _pad_replicate(comp: np.ndarray, ph: int, pw: int) -> np.ndarray:
    h, w = comp.shape
    p = np.empty((ph, pw))
    p[:h, :w] = comp
    p[h:, :w] = comp[h - 1:h, :]  # edge-replicate pad
    p[:, w:] = p[:, w - 1:w]
    return p


def _forward_blocks(arr: np.ndarray, quality: int, factors):
    """uint8 image → per-component quantized zigzag coefficient arrays
    (bh_i, bw_i, 64) plus the quant tables — shared by the baseline and
    progressive encoders so both emit IDENTICAL coefficients.

    ``factors``: per-component (h_i, v_i) sampling factors (None =
    4:4:4). Subsampled components are box-averaged down to their
    native resolution and padded to the MCU-aligned block grid."""
    arr = np.asarray(arr, dtype=np.uint8)
    gray = arr.ndim == 2
    h, w = arr.shape[:2]
    if gray:
        comps = [arr.astype(np.float64)]
    else:
        rgb = arr.astype(np.float64)
        y = 0.299 * rgb[..., 0] + 0.587 * rgb[..., 1] + 0.114 * rgb[..., 2]
        cb = 128 - 0.168736 * rgb[..., 0] - 0.331264 * rgb[..., 1] + 0.5 * rgb[..., 2]
        cr = 128 + 0.5 * rgb[..., 0] - 0.418688 * rgb[..., 1] - 0.081312 * rgb[..., 2]
        comps = [y, cb, cr]
    if factors is None:
        factors = [(1, 1)] * len(comps)
    hmax = max(f[0] for f in factors)
    vmax = max(f[1] for f in factors)
    mx, my = -(-w // (8 * hmax)), -(-h // (8 * vmax))
    ql = _quant_table(quality, chroma=False)
    qc = _quant_table(quality, chroma=True)
    qts = [ql] if gray else [ql, qc]
    zzs = []
    for ci, comp in enumerate(comps):
        hh, vv = factors[ci]
        if hh != hmax or vv != vmax:
            if hmax % hh or vmax % vv:
                # the decoder's nearest-neighbor upsample is general,
                # but this encoder's box average needs integer ratios
                raise NotImplementedError(
                    "encoder requires integer sampling ratios")
            # box-average downsample to the component's native grid
            fy, fx = vmax // vv, hmax // hh
            ch = -(-h * vv // vmax)
            cw = -(-w * hh // hmax)
            full = _pad_replicate(comp, ch * fy, cw * fx)
            comp = full.reshape(ch, fy, cw, fx).mean(axis=(1, 3))
        bh, bw = my * vv, mx * hh
        p = _pad_replicate(comp, bh * 8, bw * 8)
        blocks = (p - 128.0).reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3)
        coef = np.einsum("ij,xyjk,kl->xyil", _C, blocks, _C.T)
        q = qts[0] if ci == 0 else qts[-1]
        zzs.append(np.round(coef / q).astype(np.int64)[:, :, _ZZ_ROWS, _ZZ_COLS])
    return zzs, qts, gray, h, w


def _headers(marker_sof: int, zzs, qts, gray: bool, h: int, w: int,
             ac_bits, ac_vals, factors) -> bytearray:
    out = bytearray(b"\xff\xd8")  # SOI
    out += _seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    for i, q in enumerate(qts):
        out += _seg(0xDB, bytes([i]) + bytes(int(q[_ZZ_ROWS[z], _ZZ_COLS[z]])
                                             for z in range(64)))
    nc = len(zzs)
    sof = struct.pack(">BHHB", 8, h, w, nc)
    for c in range(nc):
        sof += bytes([c + 1, (factors[c][0] << 4) | factors[c][1],
                      0 if c == 0 else (0 if gray else 1)])
    out += _seg(marker_sof, sof)
    out += _seg(0xC4, _dht_payload(0x00, _DC_BITS, _DC_VALS))
    out += _seg(0xC4, _dht_payload(0x10, ac_bits, ac_vals))
    return out


_SUBSAMPLING = {
    "4:4:4": None,
    "4:2:2": [(2, 1), (1, 1), (1, 1)],
    "4:2:0": [(2, 2), (1, 1), (1, 1)],
    "4:1:1": [(4, 1), (1, 1), (1, 1)],
    # non-power-of-two luma factor (T.81 allows 1-4); no J:a:b name
    "3:1:1": [(3, 1), (1, 1), (1, 1)],
    "3:3:1": [(3, 3), (1, 1), (1, 1)],
}


def encode_jpeg(arr: np.ndarray, quality: int = 90,
                restart_interval: int = 0,
                subsampling: str = "4:4:4",
                non_interleaved: bool = False,
                split_scans: bool = False,
                gray_factors=None) -> bytes:
    """Baseline JPEG bytes from a (h, w) grayscale or (h, w, 3) RGB
    uint8 array. ``subsampling`` picks the chroma layout for color
    images ('4:4:4', '4:2:2', '4:2:0' — box-average downsample);
    grayscale is always a single full-resolution component.
    ``restart_interval`` > 0 emits a DRI segment and an RSTn marker
    every that many MCUs (DC predictors reset, stream byte-aligned) —
    exercises the decoder's resync path. ``gray_factors`` declares
    non-trivial SOF sampling factors on a grayscale image (the
    jpegtran -grayscale shape: a color original's luma factors kept on
    the lone component) — the scan is then emitted non-interleaved
    over the native grid, as T.81 A.2 requires for ns==1."""
    arr = np.asarray(arr, dtype=np.uint8)
    if arr.ndim == 2 and gray_factors is not None:
        factors = [tuple(gray_factors)]
    else:
        factors = None if arr.ndim == 2 else _SUBSAMPLING[subsampling]
    zzs, qts, gray, h, w = _forward_blocks(arr, quality, factors=factors)
    nc = len(zzs)
    if factors is None:
        factors = [(1, 1)] * nc
    out = _headers(0xC0, zzs, qts, gray, h, w, _AC_BITS, _AC_VALS,
                   factors=factors)
    if restart_interval:
        out += _seg(0xDD, struct.pack(">H", restart_interval))
    hmax = max(f[0] for f in factors)
    vmax = max(f[1] for f in factors)

    def _comp_grid(ci):
        hh, vv = factors[ci]
        return _native_grid(h, w, hh, vv, hmax, vmax)

    def _noninterleaved_scan(ci):
        """One single-component scan: blocks in native-grid raster
        order; the restart interval counts BLOCKS here (per-scan RSTn
        numbering, DC predictor reset)."""
        bh_i, bw_i = _comp_grid(ci)
        writer = _BitWriter()
        dc = 0
        rst = 0
        blk = 0
        for by in range(bh_i):
            for bx in range(bw_i):
                if restart_interval and blk and blk % restart_interval == 0:
                    writer.restart(rst)
                    rst += 1
                    dc = 0
                blk += 1
                dc = _encode_block(writer, zzs[ci][by, bx], dc)
        writer.flush()
        return _sos_header([(ci + 1, 0x00)], 0, 63, 0, 0) + bytes(writer.buf)

    def _interleaved_scan(group):
        """One interleaved scan over the component subset ``group``:
        MCU walk with each comp's h x v blocks; restart counts MCUs."""
        mx, my = -(-w // (8 * hmax)), -(-h // (8 * vmax))
        writer = _BitWriter()
        prev = [0] * nc
        mcu = 0
        rst = 0
        for myi in range(my):
            for mxi in range(mx):
                if restart_interval and mcu and mcu % restart_interval == 0:
                    writer.restart(rst)
                    rst += 1
                    for ci in group:
                        prev[ci] = 0
                mcu += 1
                for ci in group:
                    hh, vv = factors[ci]
                    for byy in range(vv):
                        for bxx in range(hh):
                            prev[ci] = _encode_block(
                                writer, zzs[ci][myi * vv + byy, mxi * hh + bxx],
                                prev[ci])
        writer.flush()
        return (_sos_header([(ci + 1, 0x00) for ci in group], 0, 63, 0, 0)
                + bytes(writer.buf))

    if split_scans and nc > 1:
        # luma alone (non-interleaved) + chroma subset (interleaved
        # MCU walk) — exercises the decoder's subset-scan path
        out += _noninterleaved_scan(0)
        out += _interleaved_scan(list(range(1, nc)))
        out += b"\xff\xd9"  # EOI
        return bytes(out)
    if non_interleaved and nc > 1:
        # one SOS per component, raster block order over the
        # component's NATIVE grid (T.81 A.2.2) — same coefficients as
        # the interleaved stream, different delivery
        for ci in range(nc):
            out += _noninterleaved_scan(ci)
        out += b"\xff\xd9"  # EOI
        return bytes(out)
    if nc == 1 and factors[0] != (1, 1):
        # a single-component scan is non-interleaved by definition
        # (T.81 A.2): the declared 2x2-ish factors only pad the MCU
        # grid; the scan walks the native ceil(w/8) x ceil(h/8) grid
        out += _noninterleaved_scan(0)
    else:
        out += _interleaved_scan(list(range(nc)))
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# -- decoder -----------------------------------------------------------

class _BitReader:
    """Entropy-segment reader with 0xFF00 unstuffing and RST resync."""

    def __init__(self, data: bytes, start: int):
        self.data = data
        self.pos = start
        self.acc = 0
        self.n = 0

    def _fill(self):
        d = self.data
        while self.n <= 24:
            b = d[self.pos]
            if b == 0xFF:
                nxt = d[self.pos + 1]
                if nxt == 0x00:
                    self.pos += 2
                else:
                    # RSTn, EOI, or next segment: do NOT consume — feed
                    # padding bits only. Consuming an RSTn here (during
                    # bit lookahead at the end of a restart interval)
                    # would make align_restart skip to the NEXT marker
                    # and silently drop a whole interval of MCUs.
                    self.acc = (self.acc << 8) | 0xFF
                    self.n += 8
                    continue
            else:
                self.pos += 1
            self.acc = (self.acc << 8) | b
            self.n += 8

    def bits(self, k: int) -> int:
        if k == 0:
            return 0
        if self.n < k:
            self._fill()
        v = (self.acc >> (self.n - k)) & ((1 << k) - 1)
        self.n -= k
        self.acc &= (1 << self.n) - 1
        return v

    def align_restart(self):
        """Drop to a byte boundary and consume one RSTn marker."""
        self.n = 0
        self.acc = 0
        d = self.data
        while not (d[self.pos] == 0xFF and 0xD0 <= d[self.pos + 1] <= 0xD7):
            self.pos += 1
        self.pos += 2


def _huff_decode(reader: _BitReader, table: dict[tuple[int, int], int]) -> int:
    code, length = 0, 0
    while length < 17:
        code = (code << 1) | reader.bits(1)
        length += 1
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code in entropy stream")


def _extend(v: int, s: int) -> int:
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def decode_jpeg(payload: bytes) -> np.ndarray:
    """(h, w) uint8 for grayscale scans, (h, w, 3) RGB for color."""
    if payload[:3] != JPEG_MAGIC[:3] or payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    pos = 2
    qts: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    frame = None
    restart_interval = 0
    progressive = False
    saw_scan = False
    coefstore: dict[int, np.ndarray] = {}
    while pos < len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("marker expected")
        # 0xFF fill bytes are legal padding between segments (T.81
        # B.1.1.2): a run of 0xFF collapses to one marker prefix
        while pos + 1 < len(payload) and payload[pos + 1] == 0xFF:
            pos += 1
        marker = payload[pos + 1]
        if marker == 0xD9:  # EOI
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            # TEM/RSTn are standalone (length-less) markers
            pos += 2
            continue
        (ln,) = struct.unpack(">H", payload[pos + 2:pos + 4])
        body = payload[pos + 4:pos + 2 + ln]
        pos += 2 + ln
        if marker == 0xDB:  # DQT (possibly several tables)
            o = 0
            while o < len(body):
                pq, tq = body[o] >> 4, body[o] & 0x0F
                if pq != 0:
                    raise NotImplementedError("16-bit quant tables")
                t = np.zeros((8, 8), dtype=np.int32)
                t[_ZZ_ROWS, _ZZ_COLS] = np.frombuffer(
                    body[o + 1:o + 65], dtype=np.uint8)
                qts[tq] = t
                o += 65
        elif marker == 0xC4:  # DHT
            o = 0
            while o < len(body):
                tc, th = body[o] >> 4, body[o] & 0x0F
                bits = list(body[o + 1:o + 17])
                nvals = sum(bits)
                vals = list(body[o + 17:o + 17 + nvals])
                enc = _canonical_codes(bits, vals)
                huff[(tc, th)] = {(ln_, code): sym
                                  for sym, (code, ln_) in enc.items()}
                o += 17 + nvals
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 baseline, SOF2 progressive
            prec, h, w, nc = struct.unpack(">BHHB", body[:6])
            comps = []
            for c in range(nc):
                cid, samp, tq = body[6 + c * 3:9 + c * 3]
                hi, vi = samp >> 4, samp & 0x0F
                if not (1 <= hi <= 4 and 1 <= vi <= 4):
                    # T.81 B.2.2: Hi/Vi are 1-4
                    raise ValueError("sampling factors must be 1-4")
                comps.append((cid, hi, vi, tq))
            frame = (h, w, comps)
            progressive = marker == 0xC2
            if progressive:
                hmax = max(c[1] for c in comps)
                vmax = max(c[2] for c in comps)
                mx, my = -(-w // (8 * hmax)), -(-h // (8 * vmax))
                coefstore = {cid: np.zeros((my * vv, mx * hh, 64),
                                           dtype=np.int64)
                             for cid, hh, vv, _ in comps}
        elif marker == 0xC3 or 0xC5 <= marker <= 0xCF and marker != 0xC8:
            raise NotImplementedError(
                "lossless/arithmetic/hierarchical JPEG needs PIL")
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:  # SOS — entropy data follows
            if frame is None:
                raise ValueError("SOS before SOF")
            ns = body[0]
            scan = [(body[1 + 2 * i], body[2 + 2 * i]) for i in range(ns)]
            if not progressive:
                fcomps = frame[2]
                if (ns == len(fcomps) and not saw_scan
                        and (ns > 1 or fcomps[0][1:3] == (1, 1))):
                    # the common fully-interleaved layout: one scan,
                    # decode straight to pixels. A single-component
                    # scan only qualifies when its declared factors are
                    # 1x1 (then the MCU walk IS the native-grid walk);
                    # per T.81 A.2 an ns==1 scan is otherwise always
                    # non-interleaved over the component's own
                    # ceil(w/8) x ceil(h/8) grid — e.g. jpegtran
                    # -grayscale output keeping 2x2 luma factors.
                    return _decode_scan(payload, pos, frame, scan, qts,
                                        huff, restart_interval)
                # multi-scan layouts (A.2.2): ns==1 scans walk the
                # component's native grid; ns>1 subset scans walk the
                # MCU geometry over just the scan's components —
                # accumulate coefficients, IDCT at EOI
                if not coefstore:
                    h, w, comps = frame
                    hmax = max(c[1] for c in comps)
                    vmax = max(c[2] for c in comps)
                    mx, my = -(-w // (8 * hmax)), -(-h // (8 * vmax))
                    coefstore = {
                        cid: np.zeros((my * vv, mx * hh, 64), dtype=np.int64)
                        for cid, hh, vv, _ in comps}
                if ns == 1:
                    pos = _decode_baseline_noninterleaved_scan(
                        payload, pos, frame, scan, huff, coefstore,
                        restart_interval)
                else:
                    pos = _decode_baseline_interleaved_to_store(
                        payload, pos, frame, scan, huff, coefstore,
                        restart_interval)
                saw_scan = True
                continue
            ss, se = body[1 + 2 * ns], body[2 + 2 * ns]
            ah_al = body[3 + 2 * ns]
            pos = _decode_progressive_scan(
                payload, pos, frame, scan, huff, coefstore,
                ss, se, ah_al >> 4, ah_al & 0x0F, restart_interval)
            saw_scan = True
        # APPn/COM/etc: skipped
    if frame is not None and saw_scan:
        return _reconstruct_frame(frame, coefstore, qts)
    raise ValueError("no SOS segment found")


def _decode_block_zz(reader, dc_tbl, ac_tbl, dc_pred):
    """One sequential-DCT entropy block → (zigzag coeffs, new DC
    predictor)."""
    s = _huff_decode(reader, dc_tbl)
    diff = _extend(reader.bits(s), s) if s else 0
    dc_pred += diff
    zz = np.zeros(64, dtype=np.int64)
    zz[0] = dc_pred
    k = 1
    while k < 64:
        rs = _huff_decode(reader, ac_tbl)
        if rs == 0x00:  # EOB
            break
        if rs == 0xF0:  # ZRL
            k += 16
            continue
        k += rs >> 4
        size = rs & 0x0F
        if k > 63:
            raise ValueError("AC index overrun")
        zz[k] = _extend(reader.bits(size), size)
        k += 1
    return zz, dc_pred


def _decode_scan(payload, pos, frame, scan, qts, huff, restart_interval):
    """Baseline interleaved scan over the general MCU geometry (A.2.3):
    each MCU carries h_i x v_i blocks per component; subsampled chroma
    planes are decoded at their native resolution and replicated back
    up to the frame grid (4:4:4 degenerates to one block per MCU)."""
    h, w, comps = frame
    bycid = {c[0]: c for c in comps}
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mx, my = -(-w // (8 * hmax)), -(-h // (8 * vmax))
    reader = _BitReader(payload, pos)
    scomps = [bycid[cid] for cid, _ in scan]
    planes = [np.zeros((my * vv * 8, mx * hh * 8)) for _, hh, vv, _ in scomps]
    prev_dc = [0] * len(scan)
    mcu = 0
    for myi in range(my):
        for mxi in range(mx):
            if restart_interval and mcu and mcu % restart_interval == 0:
                reader.align_restart()
                prev_dc = [0] * len(scan)
            for ci, (cid, tsel) in enumerate(scan):
                _, hh, vv, tq = scomps[ci]
                dc_tbl = huff[(0, tsel >> 4)]
                ac_tbl = huff[(1, tsel & 0x0F)]
                q = qts[tq]
                for byy in range(vv):
                    for bxx in range(hh):
                        zz, prev_dc[ci] = _decode_block_zz(
                            reader, dc_tbl, ac_tbl, prev_dc[ci])
                        coef = np.zeros((8, 8))
                        coef[_ZZ_ROWS, _ZZ_COLS] = zz
                        block = _C.T @ (coef * q) @ _C + 128.0
                        by = myi * vv + byy
                        bx = mxi * hh + bxx
                        planes[ci][by * 8:by * 8 + 8, bx * 8:bx * 8 + 8] = block
            mcu += 1
    out = []
    for ci, (cid, hh, vv, tq) in enumerate(scomps):
        cw = -(-w * hh // hmax)   # component's native pixel dims
        ch = -(-h * vv // vmax)
        p = _upsample_plane(planes[ci][:ch, :cw], h, w, hh, vv, hmax, vmax)
        out.append(p)
    return _planes_to_image(out)


def _upsample_plane(p, h, w, hh, vv, hmax, vmax):
    """Nearest-neighbor upsample of a component's native-resolution
    plane to the (h, w) frame grid. Handles any factor ratio 1-4
    (frame pixel (y, x) reads component sample (y*vv//vmax,
    x*hh//hmax)); for integer ratios this reduces to block
    replication, the conventional JPEG chroma upsample."""
    if hh == hmax and vv == vmax:
        return p[:h, :w]
    yy = np.minimum(np.arange(h) * vv // vmax, p.shape[0] - 1)
    xx = np.minimum(np.arange(w) * hh // hmax, p.shape[1] - 1)
    return p[yy][:, xx]


def _planes_to_image(planes) -> np.ndarray:
    if len(planes) == 1:
        return np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)
    y, cb, cr = planes
    r = y + 1.402 * (cr - 128)
    g = y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128)
    b = y + 1.772 * (cb - 128)
    rgb = np.stack([r, g, b], axis=-1)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


def _decode_baseline_noninterleaved_scan(payload, pos, frame, scan, huff,
                                         coefstore, restart_interval):
    """One single-component baseline scan (T.81 A.2.2 non-interleaved
    layout) into the coefficient store: blocks in raster order over the
    COMPONENT's native block grid (not MCU-padded); the restart
    interval counts blocks here. Returns the next-marker position."""
    h, w, comps = frame
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    (cid, tsel) = scan[0]
    bh_i, bw_i = _native_block_grid(frame, cid)
    reader = _BitReader(payload, pos)
    dc_tbl = huff[(0, tsel >> 4)]
    ac_tbl = huff[(1, tsel & 0x0F)]
    store = coefstore[cid]
    dc = 0
    blk = 0
    for by in range(bh_i):
        for bx in range(bw_i):
            if restart_interval and blk and blk % restart_interval == 0:
                reader.align_restart()
                dc = 0
            blk += 1
            store[by, bx], dc = _decode_block_zz(reader, dc_tbl, ac_tbl, dc)
    return _next_marker(payload, reader.pos)


def _decode_baseline_interleaved_to_store(payload, pos, frame, scan, huff,
                                          coefstore, restart_interval):
    """One interleaved baseline scan (all components or a subset) into
    the coefficient store: MCU walk over the scan's components with
    h_i x v_i blocks each (A.2.3). Returns the next-marker position."""
    h, w, comps = frame
    bycid = {c[0]: c for c in comps}
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mx, my = -(-w // (8 * hmax)), -(-h // (8 * vmax))
    reader = _BitReader(payload, pos)
    prev_dc = [0] * len(scan)
    mcu = 0
    for myi in range(my):
        for mxi in range(mx):
            if restart_interval and mcu and mcu % restart_interval == 0:
                reader.align_restart()
                prev_dc = [0] * len(scan)
            for ci, (cid, tsel) in enumerate(scan):
                _, hh, vv, _tq = bycid[cid]
                dc_tbl = huff[(0, tsel >> 4)]
                ac_tbl = huff[(1, tsel & 0x0F)]
                store = coefstore[cid]
                for byy in range(vv):
                    for bxx in range(hh):
                        zz, prev_dc[ci] = _decode_block_zz(
                            reader, dc_tbl, ac_tbl, prev_dc[ci])
                        store[myi * vv + byy, mxi * hh + bxx] = zz
            mcu += 1
    return _next_marker(payload, reader.pos)


def _reconstruct_frame(frame, coefstore, qts):
    """Dequantize + batched IDCT of a per-component coefficient store,
    with subsampled components replicated back up — shared tail of the
    progressive and baseline multi-scan paths."""
    h, w, comps = frame
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    planes = []
    for cid, hh, vv, tq in comps:
        zz = coefstore[cid]                     # (bh, bw, 64)
        bh, bw = zz.shape[:2]
        coef = np.zeros((bh, bw, 8, 8))
        coef[:, :, _ZZ_ROWS, _ZZ_COLS] = zz
        coef *= qts[tq]                         # broadcast dequantize
        blocks = np.einsum("ij,xyjk,kl->xyil", _C.T, coef, _C) + 128.0
        p = blocks.transpose(0, 2, 1, 3).reshape(bh * 8, bw * 8)
        cw = -(-w * hh // hmax)
        ch = -(-h * vv // vmax)
        planes.append(_upsample_plane(p[:ch, :cw], h, w, hh, vv, hmax, vmax))
    return _planes_to_image(planes)


# -- progressive mode (T.81 Annex G) -----------------------------------

def _next_marker(payload: bytes, pos: int) -> int:
    """First real marker at/after pos (skips entropy bytes, stuffed
    FF00, fill bytes, and RSTn)."""
    n = len(payload)
    while pos < n - 1:
        if payload[pos] == 0xFF:
            nxt = payload[pos + 1]
            if nxt == 0x00 or 0xD0 <= nxt <= 0xD7:
                pos += 2
                continue
            if nxt == 0xFF:
                pos += 1
                continue
            return pos
        pos += 1
    return n


def _native_block_grid(frame, cid):
    """Frame-level wrapper of ``_native_grid`` for a component id."""
    h, w, comps = frame
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    _, hh, vv, _ = next(c for c in comps if c[0] == cid)
    return _native_grid(h, w, hh, vv, hmax, vmax)


def _decode_progressive_scan(payload, pos, frame, scan, huff, coefstore,
                             ss, se, ah, al, restart_interval):
    """Decode ONE progressive SOS into the coefficient store; returns
    the stream position of the next marker. Scan kinds: DC first/refine
    (interleaved over the MCU geometry, or single-component over the
    native grid), AC first/refine (single component, native grid,
    G.1.2.2/G.1.2.3)."""
    h, w, comps = frame
    bycid = {c[0]: c for c in comps}
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mx, my = -(-w // (8 * hmax)), -(-h // (8 * vmax))
    reader = _BitReader(payload, pos)
    if ss == 0 and se != 0:
        raise ValueError("invalid progressive scan: DC scan requires Se=0")
    if ss == 0 and len(scan) > 1:  # ------- interleaved DC scan (MCUs)
        # a SUBSET of components is legal too (A.2.3): the MCU walk
        # covers just the scan's components with their own factors
        prev_dc = [0] * len(scan)
        mcu = 0
        for myi in range(my):
            for mxi in range(mx):
                if restart_interval and mcu and mcu % restart_interval == 0:
                    reader.align_restart()
                    prev_dc = [0] * len(scan)
                for ci, (cid, tsel) in enumerate(scan):
                    _, hh, vv, _tq = bycid[cid]
                    for byy in range(vv):
                        for bxx in range(hh):
                            blk = coefstore[cid][myi * vv + byy,
                                                 mxi * hh + bxx]
                            prev_dc[ci] = _dc_progressive_one(
                                reader, huff, tsel, blk, ah, al,
                                prev_dc[ci])
                mcu += 1
        return _next_marker(payload, reader.pos)
    # -------- single-component scan (DC or AC) over the native grid
    if len(scan) != 1:
        raise ValueError("progressive AC scan must be single-component")
    cid, tsel = scan[0]
    bh_i, bw_i = _native_block_grid(frame, cid)
    store = coefstore[cid]
    if ss == 0:
        dc = 0
        blkno = 0
        for by in range(bh_i):
            for bx in range(bw_i):
                if restart_interval and blkno and blkno % restart_interval == 0:
                    reader.align_restart()
                    dc = 0
                blkno += 1
                dc = _dc_progressive_one(reader, huff, tsel, store[by, bx],
                                         ah, al, dc)
        return _next_marker(payload, reader.pos)
    ac_tbl = huff[(1, tsel & 0x0F)]
    eobrun = 0
    blkno = 0
    for by in range(bh_i):
        for bx in range(bw_i):
            if restart_interval and blkno and blkno % restart_interval == 0:
                reader.align_restart()
                eobrun = 0
            blkno += 1
            blk = store[by, bx]
            if ah == 0:
                eobrun = _ac_first_block(reader, ac_tbl, blk, ss, se, al,
                                         eobrun)
            else:
                eobrun = _ac_refine_block(reader, ac_tbl, blk, ss, se, al,
                                          eobrun)
    return _next_marker(payload, reader.pos)


def _dc_progressive_one(reader, huff, tsel, blk, ah, al, dc_pred):
    if ah == 0:  # first pass: diff-coded, shifted left al
        s = _huff_decode(reader, huff[(0, tsel >> 4)])
        diff = _extend(reader.bits(s), s) if s else 0
        dc_pred += diff
        blk[0] = dc_pred << al
    else:        # refinement: one bit, OR into bit al
        if reader.bits(1):
            blk[0] |= (1 << al)
    return dc_pred


def _ac_first_block(reader, ac_tbl, blk, ss, se, al, eobrun) -> int:
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = _huff_decode(reader, ac_tbl)
        r, s = rs >> 4, rs & 0x0F
        if s:
            k += r
            if k > se:
                raise ValueError("AC index overrun")
            blk[k] = _extend(reader.bits(s), s) << al
            k += 1
        else:
            if r != 15:  # EOBn: run of 2^r + ext blocks ending here
                eobrun = (1 << r) + (reader.bits(r) if r else 0) - 1
                break
            k += 16      # ZRL
    return eobrun


def _ac_refine_block(reader, ac_tbl, blk, ss, se, al, eobrun) -> int:
    """The G.1.2.3 correction-bit walk (cf. libjpeg decode_mcu_AC_refine
    — independently re-derived from the spec figure)."""
    p1, m1 = 1 << al, -1 << al
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = _huff_decode(reader, ac_tbl)
            r, s = rs >> 4, rs & 0x0F
            if s:
                # newly-significant coefficient: magnitude 1, sign bit
                s = p1 if reader.bits(1) else m1
            elif r != 15:
                eobrun = (1 << r) + (reader.bits(r) if r else 0)
                break  # rest of block handled by the EOB logic below
            # advance past r zero-history positions, refining every
            # nonzero-history coefficient passed on the way
            while k <= se:
                if blk[k] != 0:
                    if reader.bits(1) and not (blk[k] & p1):
                        blk[k] += p1 if blk[k] >= 0 else m1
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if s and k <= se:
                blk[k] = s
            k += 1
    if eobrun > 0:
        # EOB run covers this block: refine remaining nonzero coeffs
        while k <= se:
            if blk[k] != 0:
                if reader.bits(1) and not (blk[k] & p1):
                    blk[k] += p1 if blk[k] >= 0 else m1
            k += 1
        eobrun -= 1
    return eobrun


# progressive reconstruction is the same dequant/IDCT tail (progressive
# frames here are 4:4:4, the general path degenerates to a crop)


# -- progressive encoder (test-payload generator) ----------------------

# progressive AC alphabet adds the EOBn symbols (r<<4, r=0..14) for
# end-of-band run lengths 2^r..2^(r+1)-1 (G.1.2.2)
_ACP_SYMBOLS = [r << 4 for r in range(15)] + [0xF0] + [
    r * 16 + s for r in range(16) for s in range(1, 11)]
_ACP_BITS, _ACP_VALS = _flat_table(_ACP_SYMBOLS, 9)
_ACP_ENC = _canonical_codes(_ACP_BITS, _ACP_VALS)


def _sos_header(comps_sel, ss, se, ah, al) -> bytes:
    body = bytes([len(comps_sel)])
    for cid, tsel in comps_sel:
        body += bytes([cid, tsel])
    return _seg(0xDA, body + bytes([ss, se, (ah << 4) | al]))


def _enc_ac_first(zz, ss: int, se: int, al: int, grid) -> bytes:
    """G.1.2.2: run-length coding of the point-transformed band with
    cross-block EOB-run accumulation. ``grid`` bounds the block raster
    to the component's NATIVE grid (non-interleaved AC scans)."""
    w = _BitWriter()
    bh, bw = grid
    eobrun = 0

    def flush_eobrun():
        nonlocal eobrun
        while eobrun:
            run = min(eobrun, 32767)
            n = run.bit_length() - 1
            code, ln = _ACP_ENC[n << 4]
            w.put(code, ln)
            if n:
                w.put(run - (1 << n), n)
            eobrun -= run

    for by in range(bh):
        for bx in range(bw):
            blk = zz[by, bx]
            r = 0
            any_sym = False
            for k in range(ss, se + 1):
                v = int(blk[k])
                a = abs(v) >> al
                if a == 0:
                    r += 1
                    continue
                flush_eobrun()
                any_sym = True
                while r > 15:
                    code, ln = _ACP_ENC[0xF0]
                    w.put(code, ln)
                    r -= 16
                s = a.bit_length()
                code, ln = _ACP_ENC[(r << 4) | s]
                w.put(code, ln)
                w.put(a if v >= 0 else ((1 << s) - 1 - a), s)
                r = 0
            if r > 0 or not any_sym:
                eobrun += 1
    flush_eobrun()
    w.flush()
    return bytes(w.buf)


def _enc_ac_refine(zz, ss: int, se: int, al: int, grid) -> bytes:
    """G.1.2.3 refinement: newly-significant coefficients coded as
    (run, 1) + sign, already-significant ones contribute buffered
    correction bits associated with the next symbol or EOB run (cf.
    libjpeg encode_mcu_AC_refine — independently re-derived)."""
    w = _BitWriter()
    bh, bw = grid
    eobrun = 0
    bebuf: list[int] = []   # correction bits owed to the pending EOB run

    def flush_eobrun():
        nonlocal eobrun, bebuf
        if eobrun > 0:
            run = eobrun
            n = run.bit_length() - 1
            code, ln = _ACP_ENC[n << 4]
            w.put(code, ln)
            if n:
                w.put(run - (1 << n), n)
            for b in bebuf:
                w.put(b, 1)
            bebuf = []
            eobrun = 0

    for by in range(bh):
        for bx in range(bw):
            blk = zz[by, bx]
            absv = [abs(int(blk[k])) >> al for k in range(ss, se + 1)]
            # index (relative to ss) of the last newly-significant coef
            eob_rel = -1
            for i, a in enumerate(absv):
                if a == 1:
                    eob_rel = i
            r = 0
            br: list[int] = []  # bits buffered since the last symbol
            for i, a in enumerate(absv):
                v = int(blk[ss + i])
                if a == 0:
                    r += 1
                    continue
                while r > 15 and i <= eob_rel:
                    flush_eobrun()
                    code, ln = _ACP_ENC[0xF0]
                    w.put(code, ln)
                    r -= 16
                    for b in br:
                        w.put(b, 1)
                    br = []
                if a > 1:
                    # history coefficient: next magnitude bit
                    br.append(a & 1)
                    continue
                flush_eobrun()
                code, ln = _ACP_ENC[(r << 4) | 1]
                w.put(code, ln)
                w.put(1 if v >= 0 else 0, 1)
                for b in br:
                    w.put(b, 1)
                br = []
                r = 0
            if r > 0 or br:
                eobrun += 1
                bebuf.extend(br)
                if eobrun == 32767:
                    flush_eobrun()
    flush_eobrun()
    w.flush()
    return bytes(w.buf)


def _enc_dc_scan(zzs_sel, factors_sel, grids_sel, al: int,
                 first: bool) -> bytes:
    """Entropy bits for one progressive DC scan over SELECTED
    components: native-grid raster when single-component
    (non-interleaved by definition), MCU walk when several."""
    w = _BitWriter()
    if len(zzs_sel) == 1:
        zz = zzs_sel[0]
        bh, bw = grids_sel[0]
        dc = 0
        for by in range(bh):
            for bx in range(bw):
                v = int(zz[by, bx, 0])
                if first:
                    t = v >> al
                    diff = t - dc
                    dc = t
                    sz = _category(diff)
                    code, ln = _DC_ENC[sz]
                    w.put(code, ln)
                    if sz:
                        w.put(diff if diff >= 0 else diff + (1 << sz) - 1, sz)
                else:
                    w.put((v >> al) & 1, 1)
    else:
        my = zzs_sel[0].shape[0] // factors_sel[0][1]
        mx = zzs_sel[0].shape[1] // factors_sel[0][0]
        prev = [0] * len(zzs_sel)
        for myi in range(my):
            for mxi in range(mx):
                for ci, zz in enumerate(zzs_sel):
                    hh, vv = factors_sel[ci]
                    for byy in range(vv):
                        for bxx in range(hh):
                            v = int(zz[myi * vv + byy, mxi * hh + bxx, 0])
                            if first:
                                t = v >> al
                                diff = t - prev[ci]
                                prev[ci] = t
                                sz = _category(diff)
                                code, ln = _DC_ENC[sz]
                                w.put(code, ln)
                                if sz:
                                    w.put(diff if diff >= 0
                                          else diff + (1 << sz) - 1, sz)
                            else:
                                w.put((v >> al) & 1, 1)
    w.flush()
    return bytes(w.buf)


def encode_jpeg_progressive(arr: np.ndarray, quality: int = 90,
                            subsampling: str = "4:4:4",
                            dc_split: bool = False) -> bytes:
    """Progressive (SOF2) JPEG bytes — same quantized coefficients as
    ``encode_jpeg`` (any ``subsampling``), delivered as a spectral-
    selection + successive-approximation scan script (DC first at Al=1,
    AC bands 1-5 and 6-63 at Al=1, then DC/AC refinement to Al=0), so
    ``decode_jpeg`` must reproduce the baseline decode EXACTLY."""
    arr = np.asarray(arr, dtype=np.uint8)
    factors = None if arr.ndim == 2 else _SUBSAMPLING[subsampling]
    zzs, qts, gray, h, w = _forward_blocks(arr, quality, factors=factors)
    nc = len(zzs)
    if factors is None:
        factors = [(1, 1)] * nc
    hmax = max(f[0] for f in factors)
    vmax = max(f[1] for f in factors)

    def grid(c):
        hh, vv = factors[c]
        return _native_grid(h, w, hh, vv, hmax, vmax)

    out = _headers(0xC2, zzs, qts, gray, h, w, _ACP_BITS, _ACP_VALS,
                   factors=factors)
    bands = ((1, 5), (6, 63))
    if dc_split and nc > 1:
        # luma-alone + chroma-subset DC scans (the common libjpeg
        # "split DC" script shape) — exercises single-component and
        # SUBSET interleaved DC decode paths
        dc_groups = [[0], list(range(1, nc))]
    else:
        dc_groups = [list(range(nc))]

    def dc_scan(group, al, first):
        hdr = _sos_header([(c + 1, 0x00) for c in group], 0, 0,
                          0 if first else 1, al)
        bits = _enc_dc_scan([zzs[c] for c in group],
                            [factors[c] for c in group],
                            [grid(c) for c in group], al, first)
        return hdr + bits

    # first passes at Al=1
    for group in dc_groups:
        out += dc_scan(group, 1, True)
    for c in range(nc):
        for ss, se in bands:
            out += _sos_header([(c + 1, 0x00)], ss, se, 0, 1)
            out += _enc_ac_first(zzs[c], ss, se, 1, grid=grid(c))
    # refinement passes to Al=0
    for group in dc_groups:
        out += dc_scan(group, 0, False)
    for c in range(nc):
        for ss, se in bands:
            out += _sos_header([(c + 1, 0x00)], ss, se, 1, 0)
            out += _enc_ac_refine(zzs[c], ss, se, 0, grid=grid(c))
    out += b"\xff\xd9"  # EOI
    return bytes(out)
