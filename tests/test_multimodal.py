"""Multimodal plumbing: decode-seam routing, resize, frame sampling,
feature extraction — Spark-side schemas/batch shapes are real; the
codec seam wires PIL when installed and falls back to the
deterministic fake here (no PIL/ffmpeg in this environment)."""

import numpy as np
import pytest

from camelot_spark.tdp import multimodal as mm


@pytest.fixture(scope="module")
def docs(spark):
    rows = [(i, "word%d " % i * (10 + i), "en", "web", 0) for i in range(6)]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string, source string, n_chars long")


def test_decode_image_routing():
    # non-image payloads never reach a codec: ValueError routes them to
    # the deterministic fake in the kernels
    with pytest.raises(ValueError):
        mm.decode_image(b"plain text payload")
    # a PNG container with no IHDR/IDAT is corrupt: loud, never faked
    with pytest.raises(ValueError):
        mm.decode_image(b"\x89PNG\r\n\x1a\n" + b"\x00" * 8)
    if mm._PILImage is None:
        # a JPEG container with garbage after SOI is corrupt: loud,
        # never faked (baseline JPEG itself decodes via jpeg_codec)
        with pytest.raises(ValueError):
            mm.decode_image(b"\xff\xd8\xff" + b"\x00" * 16)


def test_decode_image_real_roundtrip():
    """The REAL decode path (was PIL-gated and skipped; now the pure
    zlib PNG codec makes it run in every environment)."""
    from camelot_spark.tdp.png_codec import encode_png

    img = np.full((3, 5), 7, dtype=np.uint8)
    arr = mm.decode_image(encode_png(img))
    assert arr.shape == (3, 5) and (arr == 7).all()


class TestPngCodec:
    """Pure-stdlib PNG codec: every filter type, every color type."""

    def _rng_img(self, h, w, c=None, seed=3):
        rng = np.random.RandomState(seed)
        shape = (h, w) if c is None else (h, w, c)
        return rng.randint(0, 256, size=shape, dtype=np.uint8).astype(np.uint8)

    @pytest.mark.parametrize("filter_type", [0, 1, 2, 3, 4])
    def test_gray_roundtrip_all_filters(self, filter_type):
        from camelot_spark.tdp.png_codec import decode_png, encode_png

        img = self._rng_img(7, 11, seed=filter_type)
        assert (decode_png(encode_png(img, filter_type=filter_type)) == img).all()

    @pytest.mark.parametrize("filter_type", [0, 1, 2, 3, 4])
    def test_rgb_luma_all_filters(self, filter_type):
        from camelot_spark.tdp.png_codec import decode_png, encode_png

        img = self._rng_img(5, 6, c=3, seed=10 + filter_type)
        want = (
            299 * img[:, :, 0].astype(int)
            + 587 * img[:, :, 1].astype(int)
            + 114 * img[:, :, 2].astype(int)
            + 500
        ) // 1000
        got = decode_png(encode_png(img, filter_type=filter_type))
        assert (got == want.astype(np.uint8)).all()

    def test_rgba_and_unsupported(self):
        from camelot_spark.tdp.png_codec import decode_png, encode_png

        img = self._rng_img(4, 4, c=4)
        got = decode_png(encode_png(img))
        assert got.shape == (4, 4)
        with pytest.raises(ValueError):
            decode_png(b"nope")


def test_media_metadata_real_png_payloads(spark):
    """End-to-end real decode through the Spark operator: a documents
    table with an actual PNG `payload` column reports the true decoded
    dimensions, not the fake-decode ones."""
    from camelot_spark.tdp.png_codec import encode_png

    imgs = {
        "a": np.full((12, 34), 9, dtype=np.uint8),
        "b": np.arange(20 * 8, dtype=np.uint8).reshape(8, 20),
    }
    df = spark.createDataFrame(
        [(k, bytearray(encode_png(v))) for k, v in imgs.items()],
        "doc_id string, payload binary",
    )
    out = {r["doc_id"]: r for r in mm.media_metadata(df).collect()}
    assert (out["a"]["fake_width"], out["a"]["fake_height"]) == (34, 12)
    assert out["a"]["header_byte"] == 9
    assert (out["b"]["fake_width"], out["b"]["fake_height"]) == (20, 8)
    # resize consumes the real raster: constant image -> constant pixels
    rs = {r["doc_id"]: r for r in mm.resize_media(df).collect()}
    px = np.frombuffer(rs["a"]["pixels"], dtype=np.uint8)
    assert px.size == 32 * 24 and (px == 9).all()


def test_fake_route_runs_regardless_of_codec(docs):
    """Synthetic payloads are not PNG/JPEG containers, so the fake-decode
    metadata is produced whether or not a codec library is installed —
    installing PIL must not change these values."""
    r = {x["doc_id"]: x for x in mm.media_metadata(docs).collect()}
    n = len("word0 " * 10)
    assert r["0"]["n_bytes"] == n
    assert r["0"]["fake_width"] == (n % 640) + 1
    assert r["0"]["fake_height"] == ((n * 7) % 480) + 1


def test_resize_media_shapes(docs):
    out = mm.resize_media(docs).collect()
    assert len(out) == 6
    for r in out:
        assert (r["width"], r["height"]) == (32, 24)
        px = np.frombuffer(r["pixels"], dtype=np.uint8)
        assert px.size == 32 * 24


def test_resize_deterministic(docs):
    a = {r["doc_id"]: r["pixels"] for r in mm.resize_media(docs).collect()}
    b = {r["doc_id"]: r["pixels"] for r in mm.resize_media(docs).collect()}
    assert a == b


def test_frame_sample_fanout(docs, monkeypatch):
    # the product's 64-byte frames leave doc 0 (60 bytes) frameless
    monkeypatch.setattr(mm, "_FRAME_BYTES", 16)
    monkeypatch.setattr(mm, "_EVERY_N", 2)
    out = mm.frame_sample(docs).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
        assert len(r["frame"]) == 16
    # doc 0: text len = 6*10=60 bytes -> 3 frames -> idx 0, 2 kept
    assert sorted(r["frame_idx"] for r in by_doc["0"]) == [0, 2]


def test_frame_sample_no_frames_when_payloads_shorter_than_frame(docs, monkeypatch):
    """Every payload (at most 90 bytes) is shorter than one frame, so
    every batch is empty: the stage still returns FRAME_SCHEMA, 0 rows."""
    monkeypatch.setattr(mm, "_FRAME_BYTES", 1000)
    out = mm.frame_sample(docs)
    assert out.schema == mm.FRAME_SCHEMA
    assert out.collect() == []


def test_media_features_histogram(docs, spark):
    out = {}
    for r in mm.media_features_hist(docs).collect():
        out.setdefault(r["doc_id"], {})[r["bucket"]] = r["cnt"]
    assert len(out) == 6
    assert all(sorted(v) == list(range(8)) for v in out.values())
    # histogram sums to the character count of the text
    row = docs.where("doc_id = 1").collect()[0]
    assert sum(out[1].values()) == len(row["text"])


class TestWavCodec:
    def test_roundtrip_16bit(self):
        from camelot_spark.tdp.wav_codec import decode_wav, encode_wav

        rng = np.random.RandomState(4)
        samples = rng.randint(-32768, 32768, size=777).astype("<i2")
        sr, ch, got = decode_wav(encode_wav(samples, sample_rate=16000))
        assert (sr, ch) == (16000, 1)
        assert (got == samples.astype(np.int32)).all()

    def test_rejects_non_wav_and_non_pcm(self):
        import struct

        import pytest as _pytest

        from camelot_spark.tdp.wav_codec import decode_wav, encode_wav

        with _pytest.raises(ValueError):
            decode_wav(b"not audio at all")
        # flip the format code to non-PCM
        wav = bytearray(encode_wav(np.zeros(4, dtype="<i2")))
        fmt_at = wav.find(b"fmt ") + 8
        wav[fmt_at:fmt_at + 2] = struct.pack("<H", 3)
        with _pytest.raises(NotImplementedError):
            decode_wav(bytes(wav))


def test_audio_metadata_real_wav_payloads(spark):
    """A real WAV payload column decodes as-is: stats reflect the
    actual PCM, not the synthetic text mapping."""
    from camelot_spark.tdp.wav_codec import encode_wav

    samples = np.array([0, 1000, -2000, 3000], dtype="<i2")
    df = spark.createDataFrame(
        [(5, bytearray(encode_wav(samples, sample_rate=4000)))],
        "doc_id long, payload binary",
    )
    r = mm.audio_metadata(df).collect()[0]
    assert (r["sample_rate"], r["n_samples"]) == (4000, 4)
    assert r["duration_ms"] == 1 and r["peak_abs"] == 3000
    assert r["energy"] == 1000**2 + 2000**2 + 3000**2


class TestJpegCodec:
    """Pure-stdlib baseline JPEG codec: lossy round trips within a
    tolerance, gray + RGB, non-multiple-of-8 sizes, and loud failures
    on the variants only PIL covers."""

    def _smooth(self, h, w, color=False):
        yy, xx = np.mgrid[0:h, 0:w]
        if not color:
            return (128 + 60 * np.sin(xx / 9) + 50 * np.cos(yy / 7)) \
                .clip(0, 255).astype(np.uint8)
        return np.stack(
            [(128 + 100 * np.sin(xx / 8 + c)).clip(0, 255) for c in range(3)],
            axis=-1).astype(np.uint8)

    @pytest.mark.parametrize("h,w", [(8, 8), (37, 51), (16, 9)])
    def test_gray_roundtrip(self, h, w):
        from camelot_spark.tdp.jpeg_codec import decode_jpeg, encode_jpeg

        img = self._smooth(h, w)
        dec = decode_jpeg(encode_jpeg(img, quality=92))
        assert dec.shape == (h, w)
        assert np.abs(dec.astype(int) - img.astype(int)).max() <= 4

    def test_rgb_roundtrip(self):
        from camelot_spark.tdp.jpeg_codec import decode_jpeg, encode_jpeg

        img = self._smooth(24, 31, color=True)
        dec = decode_jpeg(encode_jpeg(img, quality=92))
        assert dec.shape == (24, 31, 3)
        assert np.abs(dec.astype(int) - img.astype(int)).max() <= 6

    def test_noise_high_quality_near_lossless(self):
        from camelot_spark.tdp.jpeg_codec import decode_jpeg, encode_jpeg

        rng = np.random.RandomState(11)
        img = rng.randint(0, 256, (16, 24), dtype=np.int64).astype(np.uint8)
        dec = decode_jpeg(encode_jpeg(img, quality=100))
        assert np.abs(dec.astype(int) - img.astype(int)).max() <= 2

    def test_sof2_with_baseline_scan_params_rejected(self):
        """Progressive now decodes natively; a baseline stream merely
        relabeled SOF2 is MALFORMED (its SOS says Ss=0, Se=63, but a
        progressive DC scan requires Se=0) and must be rejected, not
        silently misparsed."""
        from camelot_spark.tdp.jpeg_codec import decode_jpeg, encode_jpeg

        enc = bytearray(encode_jpeg(self._smooth(8, 8)))
        sof = enc.index(b"\xff\xc0")
        enc[sof + 1] = 0xC2  # flip SOF0 -> SOF2 (progressive)
        with pytest.raises(ValueError, match="progressive"):
            decode_jpeg(bytes(enc))

    def test_out_of_range_sampling_factor_rejected(self):
        """Any factor 1-4 decodes natively (T.81 B.2.2's full range);
        a factor of 5 is invalid per the spec and must be rejected
        loudly, not decoded as garbage."""
        from camelot_spark.tdp.jpeg_codec import decode_jpeg, encode_jpeg

        enc = bytearray(encode_jpeg(self._smooth(8, 8, color=True)))
        sof = enc.index(b"\xff\xc0")
        # component 0 sampling byte: marker(2) + len(2) + prec/h/w/nc(6)
        # + cid(1) -> sampling at sof+11; set 5x1
        enc[sof + 11] = 0x51
        with pytest.raises(ValueError, match="1-4"):
            decode_jpeg(bytes(enc))

    def test_subsampled_roundtrips(self):
        """4:2:0 and 4:2:2: gray-valued RGB (constant chroma) decodes
        EXACTLY like 4:4:4; smooth color stays within the chroma
        box-average tolerance; restart markers + odd sizes compose."""
        from camelot_spark.tdp.jpeg_codec import decode_jpeg, encode_jpeg

        rng = np.random.RandomState(3)
        g = rng.randint(0, 256, (24, 40)).astype(np.uint8)
        grgb = np.stack([g, g, g], axis=-1)
        d444 = decode_jpeg(encode_jpeg(grgb, quality=90))
        for ss in ("4:2:0", "4:2:2"):
            got = decode_jpeg(encode_jpeg(grgb, quality=90, subsampling=ss))
            assert np.array_equal(got, d444), ss

        x = np.linspace(0, 255, 33)
        y = np.linspace(0, 255, 29)
        smooth = np.stack(
            [np.add.outer(y, x) / 2, np.tile(x, (29, 1)),
             np.tile(y[:, None], (1, 33))], axis=-1).astype(np.uint8)
        for ss in ("4:2:0", "4:2:2"):
            dec = decode_jpeg(encode_jpeg(smooth, quality=95, subsampling=ss))
            assert dec.shape == smooth.shape
            assert np.abs(dec.astype(int) - smooth.astype(int)).max() <= 12, ss
        dec = decode_jpeg(encode_jpeg(smooth, quality=90,
                                      subsampling="4:2:0", restart_interval=2))
        assert np.abs(dec.astype(int) - smooth.astype(int)).max() <= 12
        odd = rng.randint(0, 256, (9, 11, 3)).astype(np.uint8)
        assert decode_jpeg(encode_jpeg(odd, subsampling="4:2:0")).shape == (9, 11, 3)

    def test_decode_image_routes_jpeg(self):
        from camelot_spark.tdp.jpeg_codec import encode_jpeg

        img = self._smooth(9, 13)
        arr = mm.decode_image(encode_jpeg(img, quality=95))
        assert arr.shape == (9, 13)
        assert np.abs(arr.astype(int) - img.astype(int)).max() <= 4
        # color payloads come back as ITU-R 601 luma, same as PNG
        rgb = self._smooth(9, 13, color=True)
        luma = mm.decode_image(encode_jpeg(rgb, quality=95))
        assert luma.shape == (9, 13) and luma.dtype == np.uint8


def test_media_metadata_real_jpeg_payloads(spark):
    """media_metadata over genuine JPEG containers: real decode
    (jpeg_codec or PIL) feeds width/height, not the fake."""
    from camelot_spark.tdp.jpeg_codec import encode_jpeg

    yy, xx = np.mgrid[0:12, 0:30]
    img = (96 + 80 * np.sin(xx / 5)).clip(0, 255).astype(np.uint8)
    payload = encode_jpeg(img, quality=90)
    docs = spark.createDataFrame(
        [(1, bytearray(payload))], "doc_id long, payload binary")
    row = mm.media_metadata(docs).collect()[0]
    assert (row["fake_width"], row["fake_height"]) == (30, 12)


def _image_descriptor_offset(gif: bytearray) -> int:
    """Walk header + GCT + extension blocks to the first 0x2C image
    descriptor (a naive index() can land inside the palette bytes)."""
    pos = 13 + 3 * 256  # header + logical screen + 256-entry GCT
    while gif[pos] == 0x21:
        pos += 2
        while gif[pos] != 0:
            pos += 1 + gif[pos]
        pos += 1
    assert gif[pos] == 0x2C
    return pos


class TestGifCodec:
    """Pure-stdlib GIF codec: lossless gray round trips, real LZW
    dictionary streams, and the frame_sample real-decode route."""

    def _frames(self, n, h=9, w=14, seed=5):
        rng = np.random.RandomState(seed)
        return [rng.randint(0, 256, (h, w), dtype=np.int64).astype(np.uint8)
                for _ in range(n)]

    def test_multiframe_lossless_roundtrip(self):
        from camelot_spark.tdp.gif_codec import decode_gif, encode_gif

        frames = self._frames(6)
        dec = decode_gif(encode_gif(frames))
        assert len(dec) == 6
        for a, b in zip(frames, dec):
            assert (a == b).all()

    def test_decoder_handles_true_lzw_dictionary_stream(self):
        """Our encoder emits literal-only LZW; real GIFs grow the
        dictionary. Compress one frame with a REFERENCE LZW encoder
        (string-table, width growth) and check the decoder reads it."""
        import struct

        from camelot_spark.tdp.gif_codec import decode_gif, encode_gif

        frame = (np.indices((16, 16)).sum(0) % 7 * 36).astype(np.uint8)

        def true_lzw(pixels, min_code=8):
            clear, eoi = 1 << min_code, (1 << min_code) + 1
            table = {bytes([i]): i for i in range(clear)}
            next_code, width = eoi + 1, min_code + 1
            acc = nbits = 0
            out = bytearray()

            def put(code, w=None):
                nonlocal acc, nbits
                acc |= code << nbits
                nbits += (w or width)
                while nbits >= 8:
                    out.append(acc & 0xFF)
                    acc >>= 8
                    nbits -= 8

            put(clear)
            cur = b""
            for px in pixels:
                nxt = cur + bytes([int(px)])
                if nxt in table:
                    cur = nxt
                    continue
                put(table[cur])
                table[nxt] = next_code
                next_code += 1
                if next_code - 1 == (1 << width) - 1 and width < 12:
                    width += 1
                cur = bytes([int(px)])
            put(table[cur])
            put(eoi)
            if nbits:
                out.append(acc & 0xFF)
            return bytes(out)

        # splice the reference stream into an encoded container
        shell = bytearray(encode_gif([frame]))
        img_at = _image_descriptor_offset(shell)
        head = bytes(shell[:img_at + 10 + 1])  # through min-code byte
        data = true_lzw(frame.reshape(-1))
        blocks = bytearray()
        for i in range(0, len(data), 255):
            chunk = data[i:i + 255]
            blocks.append(len(chunk))
            blocks += chunk
        blocks.append(0)
        gif = head + bytes(blocks) + b"\x3b"
        dec = decode_gif(gif)
        assert len(dec) == 1 and (dec[0] == frame).all()

    def test_rejects_non_gif(self):
        from camelot_spark.tdp.gif_codec import decode_gif

        with pytest.raises(ValueError):
            decode_gif(b"not a gif at all....")

    def test_interlaced_roundtrip_exact(self):
        """Four-pass interlace (GIF89a app. E) decodes natively: an
        interlace-encoded stream reproduces the raster exactly, for
        heights exercising every pass boundary."""
        from camelot_spark.tdp.gif_codec import decode_gif, encode_gif

        rng = np.random.RandomState(11)
        for h, w in ((1, 5), (2, 4), (5, 3), (8, 6), (13, 7), (17, 9)):
            frame = rng.randint(0, 256, (h, w), dtype=np.int64).astype(np.uint8)
            dec = decode_gif(encode_gif([frame], interlace=True))
            assert len(dec) == 1 and (dec[0] == frame).all(), (h, w)

    def test_interlace_flag_permutes_rows_deterministically(self):
        """Flipping the interlace flag on raster-ordered data yields the
        pass-permuted image (the de-interlace scatter applied to raster
        rows) — decodes, deterministic, visibly scrambled."""
        from camelot_spark.tdp.gif_codec import (_interlace_order, decode_gif,
                                                 encode_gif)

        frame = np.arange(8 * 3, dtype=np.uint8).reshape(8, 3)
        enc = bytearray(encode_gif([frame]))
        img_at = _image_descriptor_offset(enc)
        enc[img_at + 9] |= 0x40  # claim interlaced over raster data
        got = decode_gif(bytes(enc))[0]
        want = np.empty_like(frame)
        want[_interlace_order(8)] = frame
        assert (got == want).all()


def test_frame_sample_decodes_real_gif(spark, monkeypatch):
    """frame_sample over a genuine multi-frame GIF payload: the emitted
    frames are the DECODED every-Nth rasters, not byte chunks."""
    from camelot_spark.tdp.gif_codec import encode_gif

    rng = np.random.RandomState(9)
    frames = [rng.randint(0, 256, (6, 8), dtype=np.int64).astype(np.uint8)
              for _ in range(7)]
    docs = spark.createDataFrame(
        [(1, bytearray(encode_gif(frames)))], "doc_id long, payload binary")
    monkeypatch.setattr(mm, "_EVERY_N", 3)  # the product's 4 keeps [0, 4]
    out = {r["frame_idx"]: r for r in mm.frame_sample(docs).collect()}
    assert sorted(out) == [0, 3, 6]
    for idx in (0, 3, 6):
        got = np.frombuffer(out[idx]["frame"], dtype=np.uint8).reshape(6, 8)
        assert (got == frames[idx]).all()
    # decode_image routes GIF too: first frame
    first = mm.decode_image(bytes(bytearray(encode_gif(frames))))
    assert (first == frames[0]).all()


def test_gif_delta_frames_composite_onto_canvas():
    """Real-world animated GIFs send delta frames (a changed sub-rect
    with 'do not dispose'): frame 2 must composite onto frame 1's
    canvas, not onto black; transparent pixels show through."""
    import struct

    from camelot_spark.tdp.gif_codec import _LZWWriter, decode_gif, encode_gif

    base = np.arange(8 * 10, dtype=np.uint8).reshape(8, 10)
    shell = bytearray(encode_gif([base]))
    assert shell[-1] == 0x3B
    body = bytearray(shell[:-1])  # strip trailer, append a delta frame

    # delta: 3x4 patch at (fx=2, fy=1); value 200, one transparent px
    patch = np.full((3, 4), 200, dtype=np.uint8)
    tr = 7  # transparent index
    patch_idx = patch.copy()
    patch_idx[1, 1] = tr
    # GCE: disposal=1 (do not dispose), transparency flag set
    body += b"\x21\xf9\x04" + bytes([0x04 | 0x01]) + b"\x00\x00" + bytes([tr]) + b"\x00"
    body += b"\x2c" + struct.pack("<HHHH", 2, 1, 4, 3) + b"\x00"
    body.append(8)
    lzw = _LZWWriter()
    lzw.put(lzw.clear)
    for px in patch_idx.reshape(-1):
        lzw.put(int(px))
    lzw.put(lzw.eoi)
    body += lzw.finish()
    body += b"\x3b"

    frames = decode_gif(bytes(body))
    assert len(frames) == 2
    assert (frames[0] == base).all()
    want = base.copy()
    want[1:4, 2:6] = 200
    want[2, 3] = base[2, 3]  # transparent pixel shows frame 1 through
    assert (frames[1] == want).all()


def test_gif_disposal_background_clears_rect():
    """Disposal 2: after the frame is emitted, its rect restores to
    background before the next frame composites."""
    import struct

    from camelot_spark.tdp.gif_codec import _LZWWriter, decode_gif, encode_gif

    base = np.full((6, 6), 50, dtype=np.uint8)
    shell = bytearray(encode_gif([base]))
    body = bytearray(shell[:-1])

    def add_frame(fx, fy, fw, fh, val, disposal):
        nonlocal body
        body += b"\x21\xf9\x04" + bytes([disposal << 2]) + b"\x00\x00\x00\x00"
        body += b"\x2c" + struct.pack("<HHHH", fx, fy, fw, fh) + b"\x00"
        body.append(8)
        lzw = _LZWWriter()
        lzw.put(lzw.clear)
        for _ in range(fw * fh):
            lzw.put(val)
        lzw.put(lzw.eoi)
        body += lzw.finish()

    add_frame(1, 1, 2, 2, 200, disposal=2)  # restore-to-background after
    add_frame(4, 4, 1, 1, 230, disposal=0)
    body += b"\x3b"
    frames = decode_gif(bytes(body))
    assert len(frames) == 3
    assert frames[1][1, 1] == 200 and frames[1][0, 0] == 50
    # frame 2's rect was cleared to background (0) before frame 3
    assert frames[2][1, 1] == 0 and frames[2][4, 4] == 230


@pytest.mark.parametrize("interval", [1, 3])
def test_jpeg_restart_marker_resync(interval):
    """DRI + RSTn streams: the decoder must not consume a restart
    marker during bit lookahead (that would skip a whole interval);
    round trips stay within tolerance with per-interval DC resets."""
    from camelot_spark.tdp.jpeg_codec import decode_jpeg, encode_jpeg

    yy, xx = np.mgrid[0:33, 0:47]
    img = (128 + 60 * np.sin(xx / 9) + 50 * np.cos(yy / 7)) \
        .clip(0, 255).astype(np.uint8)
    dec = decode_jpeg(encode_jpeg(img, quality=92, restart_interval=interval))
    assert dec.shape == img.shape
    assert np.abs(dec.astype(int) - img.astype(int)).max() <= 4
    rgb = np.stack([(128 + 100 * np.sin(xx / 8 + c)).clip(0, 255)
                    for c in range(3)], axis=-1).astype(np.uint8)
    dec3 = decode_jpeg(encode_jpeg(rgb, quality=92, restart_interval=interval))
    assert np.abs(dec3.astype(int) - rgb.astype(int)).max() <= 6


class TestProgressiveJpeg:
    """SOF2 multi-scan decode (spectral selection + successive
    approximation): the progressive scan script must reproduce the
    baseline decode EXACTLY, since both encoders share one quantized
    coefficient set."""

    def _assert_exact(self, img, quality=85):
        import numpy as np

        from camelot_spark.tdp.jpeg_codec import (decode_jpeg, encode_jpeg,
                                                  encode_jpeg_progressive)

        base = decode_jpeg(encode_jpeg(img, quality=quality))
        prog = decode_jpeg(encode_jpeg_progressive(img, quality=quality))
        assert np.array_equal(prog, base)

    def test_random_gray_and_color_match_baseline(self):
        import numpy as np

        rng = np.random.default_rng(7)
        for shape, color in [((8, 8), False), ((17, 13), False),
                             ((16, 16), True), ((23, 31), True)]:
            full = shape + ((3,) if color else ())
            self._assert_exact(rng.integers(0, 256, size=full, dtype=np.uint8))

    def test_eob_run_and_zrl_paths(self):
        """Constant images stress cross-block EOB runs; checkerboards
        stress ZRL inside refinement scans; an impulse stresses
        high-band coefficients appearing only in the 6-63 band."""
        import numpy as np

        const = np.full((40, 56), 200, np.uint8)
        checker = (np.add.outer(np.arange(32), np.arange(32)) % 2 * 255).astype(np.uint8)
        impulse = np.zeros((16, 16), np.uint8)
        impulse[3, 5] = 255
        for img in (const, checker, impulse, np.full((24, 24, 3), 77, np.uint8)):
            for q in (30, 70, 100):
                self._assert_exact(img, quality=q)

    def test_decode_image_routes_progressive(self):
        import numpy as np

        from camelot_spark.tdp.jpeg_codec import encode_jpeg_progressive
        from camelot_spark.tdp.multimodal import decode_image

        img = np.arange(0, 256, 2, dtype=np.uint8).reshape(8, 16)
        out = decode_image(encode_jpeg_progressive(img))
        assert out.shape == (8, 16)

    def test_smooth_image_close_to_original(self):
        import numpy as np

        from camelot_spark.tdp.jpeg_codec import (decode_jpeg,
                                                  encode_jpeg_progressive)

        x = np.linspace(0, 255, 32)
        img = np.clip(np.add.outer(x, x) / 2, 0, 255).astype(np.uint8)
        dec = decode_jpeg(encode_jpeg_progressive(img, quality=95))
        assert np.abs(dec.astype(int) - img.astype(int)).max() <= 2


def test_audio_features_real_wav_payload(spark):
    """Framed features over a real WAV payload: energy and zero
    crossings computed from the actual decoded PCM per full frame,
    trailing partial frame dropped."""
    from camelot_spark.tdp.wav_codec import encode_wav

    # 900 samples -> 2 full frames of 400, 100 trailing dropped
    s = np.zeros(900, dtype=np.int64)
    s[0:400:2], s[1:400:2] = 1000, -1000      # frame 0: alternating signs
    s[400:800] = 500                          # frame 1: constant positive
    df = spark.createDataFrame(
        [(7, bytearray(encode_wav(s.astype("<i2"), sample_rate=8000)))],
        "doc_id long, payload binary",
    )
    rows = {r["frame_idx"]: r for r in mm.audio_features(df).collect()}
    assert set(rows) == {0, 1}
    assert rows[0]["zero_crossings"] == 399
    assert rows[0]["frame_energy"] == 400 * 1000 * 1000
    assert rows[1]["zero_crossings"] == 0
    assert rows[1]["frame_energy"] == 400 * 500 * 500


def test_progressive_subsampled_and_411_match_baseline():
    """Round-4 closing coverage: progressive scans over SUBSAMPLED
    frames (interleaved DC over MCU geometry, single-component AC over
    native grids) and 4:1:1 sampling decode bit-exactly like their
    baseline twins."""
    from camelot_spark.tdp.jpeg_codec import (decode_jpeg, encode_jpeg,
                                              encode_jpeg_progressive)

    rng = np.random.RandomState(11)
    for shape, ss in [((24, 40, 3), "4:2:0"), ((17, 29, 3), "4:2:2"),
                      ((9, 35, 3), "4:1:1"), ((23, 23, 3), "4:2:0")]:
        img = rng.randint(0, 256, shape).astype(np.uint8)
        base = decode_jpeg(encode_jpeg(img, quality=85, subsampling=ss))
        prog = decode_jpeg(encode_jpeg_progressive(img, quality=85,
                                                   subsampling=ss))
        assert np.array_equal(prog, base), (shape, ss)
    # 4:1:1 baseline: gray-valued RGB matches 4:4:4 exactly
    g = rng.randint(0, 256, (16, 64)).astype(np.uint8)
    grgb = np.stack([g, g, g], axis=-1)
    assert np.array_equal(
        decode_jpeg(encode_jpeg(grgb, quality=90, subsampling="4:1:1")),
        decode_jpeg(encode_jpeg(grgb, quality=90)))


def test_split_dc_and_subset_scan_scripts_match_baseline():
    """Luma-alone + chroma-subset DC scans (the common libjpeg split-DC
    progressive script) decode bit-exactly like the baseline twin —
    covers single-component DC scans and SUBSET interleaved MCU
    walks."""
    from camelot_spark.tdp.jpeg_codec import (decode_jpeg, encode_jpeg,
                                              encode_jpeg_progressive)

    rng = np.random.RandomState(13)
    for shape, ss in [((16, 16, 3), "4:4:4"), ((24, 40, 3), "4:2:0"),
                      ((9, 35, 3), "4:1:1")]:
        img = rng.randint(0, 256, shape).astype(np.uint8)
        base = decode_jpeg(encode_jpeg(img, quality=85, subsampling=ss))
        split = decode_jpeg(encode_jpeg_progressive(
            img, quality=85, subsampling=ss, dc_split=True))
        assert np.array_equal(split, base), (shape, ss)


class TestPngInterlace:
    """Adam7 seven-pass interlace: independently filtered sub-images
    scattered back to the raster — exact round trips for every filter,
    color type, and pass-boundary size."""

    def test_gray_all_filters_and_sizes(self):
        from camelot_spark.tdp.png_codec import decode_png, encode_png

        rng = np.random.RandomState(23)
        for shape in [(1, 1), (3, 5), (7, 11), (8, 8), (9, 17), (16, 16)]:
            img = rng.randint(0, 256, shape).astype(np.uint8)
            for ft in range(5):
                got = decode_png(encode_png(img, filter_type=ft, interlace=True))
                assert np.array_equal(got, img), (shape, ft)

    def test_color_types_match_sequential(self):
        from camelot_spark.tdp.png_codec import decode_png, encode_png

        rng = np.random.RandomState(29)
        for c in (3, 4):
            img = rng.randint(0, 256, (9, 13, c)).astype(np.uint8)
            want = decode_png(encode_png(img))
            got = decode_png(encode_png(img, filter_type=4, interlace=True))
            assert np.array_equal(got, want), c

    def test_decode_image_routes_interlaced(self):
        from camelot_spark.tdp.png_codec import encode_png

        img = np.arange(48, dtype=np.uint8).reshape(6, 8)
        assert np.array_equal(mm.decode_image(encode_png(img, interlace=True)), img)


class TestAviCodec:
    """Pure-stdlib AVI (RIFF) MJPEG demuxer built on the full-coverage
    JPEG codec — the real video container behind frame_sample."""

    def _frames(self, n=5):
        x = np.linspace(0, 255, 24)
        return [np.clip(np.add.outer(x, x) / 2 + 10 * k, 0, 255).astype(np.uint8)
                for k in range(n)]

    def test_gray_roundtrip_within_jpeg_tolerance(self):
        from camelot_spark.tdp.avi_codec import decode_avi, encode_avi

        frames = self._frames()
        dec = decode_avi(encode_avi(frames, fps=5, quality=95))
        assert len(dec) == 5
        for f, d in zip(frames, dec):
            assert d.shape == f.shape
            assert np.abs(d.astype(int) - f.astype(int)).max() <= 3

    def test_color_frames_become_luma(self):
        from camelot_spark.tdp.avi_codec import decode_avi, encode_avi

        rng = np.random.RandomState(31)
        cframes = [rng.randint(0, 256, (16, 16, 3)).astype(np.uint8)
                   for _ in range(3)]
        dec = decode_avi(encode_avi(cframes, quality=90))
        assert len(dec) == 3 and dec[0].shape == (16, 16)

    def test_rejects_non_avi_and_non_mjpeg(self):
        from camelot_spark.tdp.avi_codec import decode_avi, encode_avi

        with pytest.raises(ValueError):
            decode_avi(b"RIFF\x00\x00\x00\x00WAVE....")
        avi = bytearray(encode_avi(self._frames(1)))
        at = bytes(avi).index(b"00dc") + 8
        avi[at:at + 3] = b"\x00\x00\x00"   # corrupt the JPEG magic
        with pytest.raises(NotImplementedError, match="non-MJPEG"):
            decode_avi(bytes(avi))

    def test_frame_sample_routes_avi(self, spark, monkeypatch):
        from camelot_spark.tdp.avi_codec import encode_avi

        frames = self._frames()
        df = spark.createDataFrame(
            [(9, bytearray(encode_avi(frames, quality=95)))],
            "doc_id long, payload binary")
        monkeypatch.setattr(mm, "_EVERY_N", 2)  # the product's 4 keeps [0, 4]
        rows = mm.frame_sample(df).collect()
        assert sorted(r["frame_idx"] for r in rows) == [0, 2, 4]
        f0 = np.frombuffer(
            [r for r in rows if r["frame_idx"] == 0][0]["frame"], np.uint8)
        assert np.abs(f0.reshape(24, 24).astype(int)
                      - frames[0].astype(int)).max() <= 3


class TestAviIndexAndAudio:
    """AVI 1.0 idx1 index (seek-accurate every-Nth sampling, skipped
    frames never decoded) and interleaved PCM audio demux routed
    through wav_codec — the round-5 container completions."""

    def _frames(self, n=7):
        rng = np.random.RandomState(7)
        return [rng.randint(0, 256, (16, 24)).astype(np.uint8)
                for _ in range(n)]

    def _audio(self, n=1234):
        rng = np.random.RandomState(11)
        return rng.randint(-30000, 30000, n).astype("<i2")

    def test_idx1_written_and_parsed(self):
        from camelot_spark.tdp import avi_codec as A

        avi = A.encode_avi(self._frames(), audio=self._audio())
        idx = A.parse_idx1(avi)
        assert idx is not None and len(idx) == 14  # 7 video + 7 audio
        assert sum(1 for f, _, _ in idx if f == b"00dc") == 7
        # index positions must agree with a linear movi walk
        movi = A._find_list(avi, b"movi")
        walked = [(f, b, s) for f, b, s
                  in A._chunks(avi, movi[0] + 4, movi[1])]
        assert idx == walked

    def test_seek_sampling_skips_decodes(self, monkeypatch):
        import camelot_spark.tdp.jpeg_codec as J
        from camelot_spark.tdp import avi_codec as A

        avi = A.encode_avi(self._frames(7))
        calls = []
        orig = J.decode_jpeg
        monkeypatch.setattr(J, "decode_jpeg",
                            lambda b: (calls.append(1), orig(b))[1])
        sampled = A.sample_video_frames(avi, every_n=3)
        assert [i for i, _ in sampled] == [0, 3, 6]
        assert len(calls) == 3  # skipped frames never decoded

    def test_audio_roundtrip_via_wav_codec(self):
        from camelot_spark.tdp import avi_codec as A

        audio = self._audio()
        sr, nch, got = A.extract_audio(
            A.encode_avi(self._frames(3), audio=audio, audio_rate=8000))
        assert (sr, nch) == (8000, 1)
        assert np.array_equal(got, audio)

    def test_no_index_file_still_demuxes_identically(self):
        from camelot_spark.tdp import avi_codec as A

        frames, audio = self._frames(), self._audio()
        with_idx = A.encode_avi(frames, audio=audio)
        without = A.encode_avi(frames, audio=audio, with_index=False)
        assert A.parse_idx1(without) is None
        assert ([f.tobytes() for f in A.decode_avi(with_idx)]
                == [f.tobytes() for f in A.decode_avi(without)])
        assert np.array_equal(A.extract_audio(with_idx)[2],
                              A.extract_audio(without)[2])

    def test_absolute_offset_idx1_accepted(self):
        import struct

        from camelot_spark.tdp import avi_codec as A

        avi = A.encode_avi(self._frames(3), audio=self._audio(100))
        rel_idx = A.parse_idx1(avi)
        movi_pos = A._find_list(avi, b"movi")[0]
        b = bytearray(avi)
        ib, isz = A._find_chunk(avi, b"idx1")
        for off in range(ib, ib + isz, 16):
            (rel,) = struct.unpack("<I", bytes(b[off + 8:off + 12]))
            b[off + 8:off + 12] = struct.pack("<I", movi_pos + rel)
        assert A.parse_idx1(bytes(b)) == rel_idx

    def test_audio_missing_raises(self):
        from camelot_spark.tdp import avi_codec as A

        with pytest.raises(ValueError, match="no audio stream"):
            A.extract_audio(A.encode_avi(self._frames(2)))

    def test_empty_audio_stream(self):
        from camelot_spark.tdp import avi_codec as A

        sr, nch, got = A.extract_audio(
            A.encode_avi(self._frames(2), audio=np.array([], "<i2")))
        assert len(got) == 0

    def test_avi_audio_roundtrip_kernel(self, spark):
        """Spark surface: text→PCM contract muxed into a real AVI and
        demuxed back; counts/checksum equal the text-side arithmetic
        the DuckDB twin uses."""
        df = spark.createDataFrame(
            [(0, "abcz"), (8, ""), (16, "hello world")],
            "doc_id long, text string")
        rows = {r["doc_id"]: r for r in
                mm.avi_audio_roundtrip(df).collect()}
        assert rows[0]["n_samples"] == 4
        assert rows[0]["audio_sum"] == sum(
            min(max((ord(c) - 97) * 256, -32768), 32767) for c in "abcz")
        assert rows[8]["n_samples"] == 0 and rows[8]["audio_sum"] == 0
        assert rows[16]["n_frames"] == 2 + 11 % 3
        assert rows[16]["n_sampled"] == (rows[16]["n_frames"] + 2) // 3
        for r in rows.values():
            assert (r["sample_rate"], r["n_channels"]) == (8000, 1)
            assert r["last_frame_idx"] == (r["n_sampled"] - 1) * 3
