"""Round-5 fixes: single-component JPEG scan routing (T.81 A.2),
factor-3 sampling, and frame_sample best-effort AVI fallback."""
import numpy as np
import pytest


def _gray(h, w, seed=7):
    rng = np.random.RandomState(seed)
    y, x = np.mgrid[0:h, 0:w]
    return ((y * 3 + x * 2) % 251 // 2
            + rng.randint(0, 8, (h, w))).astype(np.uint8)


def _rgb(h, w):
    y, x = np.mgrid[0:h, 0:w]
    r = (y * 255 // max(h - 1, 1)).astype(np.uint8)
    g = (x * 255 // max(w - 1, 1)).astype(np.uint8)
    b = ((y + x) * 255 // max(h + w - 2, 1)).astype(np.uint8)
    return np.stack([r, g, b], -1)


class TestJpegSingleComponentScan:
    """ADVICE r4 (medium): a one-component scan is ALWAYS
    non-interleaved over the component's native ceil(w/8) x ceil(h/8)
    grid (T.81 A.2) — grayscale files keeping a color original's 2x2
    luma factors (jpegtran -grayscale) must not walk the MCU grid."""

    @pytest.mark.parametrize("dims", [(32, 48), (20, 28), (17, 23)])
    @pytest.mark.parametrize("gf", [(2, 2), (2, 1), (4, 2)])
    def test_gray_declared_factors_decode_equals_plain(self, dims, gf):
        from camelot_spark.tdp.jpeg_codec import decode_jpeg, encode_jpeg

        g = _gray(*dims)
        # identical coefficients + q-table + native-grid block walk
        # => bit-identical pixels regardless of the declared factors
        plain = decode_jpeg(encode_jpeg(g, quality=85))
        fancy = decode_jpeg(encode_jpeg(g, quality=85, gray_factors=gf))
        assert np.array_equal(plain, fancy)

    def test_gray_declared_factors_with_restart_markers(self):
        from camelot_spark.tdp.jpeg_codec import decode_jpeg, encode_jpeg

        g = _gray(40, 40)
        a = decode_jpeg(encode_jpeg(g, quality=85, gray_factors=(2, 2)))
        b = decode_jpeg(encode_jpeg(g, quality=85, gray_factors=(2, 2),
                                    restart_interval=3))
        assert np.array_equal(a, b)


class TestJpegFactorThree:
    """Round-5 item 6: non-power-of-two sampling factors decode
    natively (T.81 allows Hi/Vi in 1..4; upsampling is now general
    nearest-neighbor instead of integer-only block replication)."""

    @pytest.mark.parametrize("ss", ["3:1:1", "3:3:1"])
    @pytest.mark.parametrize("dims", [(48, 48), (30, 41)])
    def test_three_to_one_roundtrip_all_scan_layouts(self, ss, dims):
        from camelot_spark.tdp.jpeg_codec import decode_jpeg, encode_jpeg

        img = _rgb(*dims)
        inter = decode_jpeg(encode_jpeg(img, quality=90, subsampling=ss))
        nonint = decode_jpeg(encode_jpeg(img, quality=90, subsampling=ss,
                                         non_interleaved=True))
        split = decode_jpeg(encode_jpeg(img, quality=90, subsampling=ss,
                                        split_scans=True))
        # same coefficients, three deliveries -> identical pixels
        assert np.array_equal(inter, nonint)
        assert np.array_equal(inter, split)
        # and the decode is a faithful reconstruction of the smooth
        # original (chroma is subsampled 3x, luma full-res)
        assert np.abs(inter.astype(int) - img.astype(int)).mean() < 12

    def test_three_to_one_restart_markers(self):
        from camelot_spark.tdp.jpeg_codec import decode_jpeg, encode_jpeg

        img = _rgb(40, 56)
        a = decode_jpeg(encode_jpeg(img, quality=90, subsampling="3:1:1"))
        b = decode_jpeg(encode_jpeg(img, quality=90, subsampling="3:1:1",
                                    restart_interval=2))
        assert np.array_equal(a, b)

    def test_factor_five_still_rejected(self):
        import struct

        from camelot_spark.tdp.jpeg_codec import decode_jpeg, encode_jpeg

        payload = bytearray(encode_jpeg(_gray(16, 16)))
        at = payload.index(b"\xff\xc0")
        # SOF0 body: len(2) prec(1) h(2) w(2) nc(1) then cid samp tq
        samp_at = at + 2 + 2 + 1 + 4 + 1 + 1
        payload[samp_at] = 0x55  # Hi=5, Vi=5 — outside T.81 B.2.2
        with pytest.raises(ValueError):
            decode_jpeg(bytes(payload))
        # sanity: the offset really is the sampling byte
        prec, h, w, nc = struct.unpack(">BHHB", bytes(payload[at + 4:at + 10]))
        assert (h, w, nc) == (16, 16, 1)

    def test_encoder_rejects_non_integer_ratio(self):
        from camelot_spark.tdp.jpeg_codec import _forward_blocks

        with pytest.raises(NotImplementedError):
            _forward_blocks(_rgb(24, 24), 90,
                            factors=[(3, 1), (2, 1), (1, 1)])


def test_frame_sample_degrades_unsupported_avi_per_row(spark, monkeypatch):
    """ADVICE r4: a non-MJPEG AVI payload must degrade THAT ROW to the
    fixed-size-chunk route, not fail the whole Spark task."""
    from camelot_spark.tdp import multimodal
    from camelot_spark.tdp.avi_codec import encode_avi
    from camelot_spark.tdp.multimodal import frame_sample

    frames = [np.full((8, 8), i * 9, dtype=np.uint8) for i in range(4)]
    good = bytearray(encode_avi(frames, quality=95))
    bad = bytearray(encode_avi(frames, quality=95))
    at = bytes(bad).index(b"00dc") + 8
    bad[at:at + 3] = b"\x00\x00\x00"  # not-a-JPEG video chunk
    docs = spark.createDataFrame(
        [("good", bytes(good)), ("bad", bytes(bad))],
        "doc_id string, payload binary")
    monkeypatch.setattr(multimodal, "_EVERY_N", 1)  # the product's 4 keeps 1 of 4
    out = frame_sample(docs)
    rows = {r["doc_id"]: [] for r in out.collect()}
    for r in out.collect():
        rows[r["doc_id"]].append(r)
    assert len(rows["good"]) == 4                   # real demux
    assert len(rows["good"][0]["frame"]) == 64      # 8x8 grayscale
    # the bad row fell back to deterministic 64-byte chunking of the
    # raw container bytes instead of killing the task
    assert len(rows["bad"]) == len(bad) // 64
