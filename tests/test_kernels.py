"""Kernel unit tests against hand-computed micro-cases mirroring the
reference's semantics (SURVEY.md §7.3 'hard parts')."""

import numpy as np
import pandas as pd
import pytest

from camelot_spark.config import LatticeConfig, StreamConfig
from camelot_spark.kernels import cols as colk
from camelot_spark.kernels import lines as lnk
from camelot_spark.kernels import metrics as mtr
from camelot_spark.kernels import rows as rowk
from camelot_spark.kernels import textedges as tek
from camelot_spark.kernels import textlines as tlk
from camelot_spark.kernels import textproc as txp
from camelot_spark.kernels.assign import get_table_index, reduce_index
from camelot_spark.kernels.grid import Grid


# the Camelot tolerances and thresholds the kernels run with
_S, _L = StreamConfig(), LatticeConfig()


def tl_frame(rows):
    """rows: (x0, y0, x1, y1, text)"""
    return tlk.make_textlines(
        [{"x0": a, "y0": b, "x1": c, "y1": d, "t": t} for a, b, c, d, t in rows]
    )


# ---------------------------------------------------------------- rows


def test_group_rows_anchor_gating():
    # anchor stays at first line of group (stream.py:130-133): y0s
    # 100, 98.5, 97.2 with tol 2 → 97.2 compares against 100, not 98.5
    f = tl_frame([(0, 100, 10, 110, "a"), (0, 98.5, 10, 108, "b"), (0, 97.2, 10, 107, "c")])
    groups = rowk.group_rows_indices(f, row_tol=_S.row_tol)
    assert [list(g) for g in groups] == [[0, 1], [2]]


def test_group_rows_blank_skip_and_bootstrap_drop():
    # blank lines skipped; a line within tol of y=0 joins the discarded
    # bootstrap group (stream.py:136 pop)
    f = tl_frame([(0, 1.0, 10, 11, "low"), (0, 100, 10, 110, " "), (0, 50, 10, 60, "x")])
    groups = rowk.group_rows_indices(f, row_tol=_S.row_tol)
    assert [list(g) for g in groups] == [[2]]


def test_join_rows_midpoints():
    f = tl_frame([(0, 100, 10, 110, "a"), (0, 80, 10, 90, "b")])
    import numpy as np

    rows = rowk.join_rows([np.array([0]), np.array([1])], f, text_y_max=110, text_y_min=80)
    # mids 105, 85 → boundary 95
    assert rows == [(110, 95.0), (95.0, 80)]


# ---------------------------------------------------------------- cols


def test_merge_columns_positive_tol():
    merged = colk.merge_columns([(0, 10), (9, 20), (30, 40)], column_tol=0)
    assert merged == [(0, 20), (30, 40)]


def test_merge_columns_negative_tol():
    # higher[0] <= lower[1] and within |tol| → kept separate (stream.py:171-180)
    merged = colk.merge_columns([(0, 10), (9.5, 20)], column_tol=-1)
    assert merged == [(0, 10), (9.5, 20)]
    # overlapping beyond |tol| → merged
    merged = colk.merge_columns([(0, 10), (5, 20)], column_tol=-1)
    assert merged == [(0, 20)]


def test_mode_ncols_retry_without_ones():
    assert colk.mode_ncols([1, 1, 1, 3, 3]) == 3
    assert colk.mode_ncols([1, 1]) is None
    assert colk.mode_ncols([2, 2, 3]) == 2


def test_join_columns():
    cols = colk.join_columns([(10, 20), (30, 40)], 5, 50)
    assert cols == [(5, 25.0), (25.0, 50)]


# ---------------------------------------------------------------- textedges


def test_textedge_validity_threshold():
    # 6 aligned lines → left-edge intersections 5 (> 4 → valid);
    # 5 lines → 4 (invalid). core.py:16,73
    def frame(n):
        return tl_frame([(50, 600 - 14 * i, 80, 610 - 14 * i, "ab") for i in range(n)])

    e6 = tek.generate_textedges(frame(6), _S.edge_tol)["left"]
    assert e6.valid_mask() == [True]
    e5 = tek.generate_textedges(frame(5), _S.edge_tol)["left"]
    assert e5.valid_mask() == [False]


def test_textedge_far_line_lost_not_readded():
    # a line whose x matches but y0 gap > edge_tol neither extends nor
    # re-creates the edge (core.py:116-127 quirk)
    f = tl_frame([(50, 600, 80, 610, "ab"), (50, 500, 80, 510, "cd")])
    e = tek.generate_textedges(f, edge_tol=_S.edge_tol)["left"]
    assert e.intersections == [0]
    assert e.y0 == [600.0]


def test_textedge_running_mean_x():
    f = tl_frame([(50, 600, 80, 610, "ab"), (50.4, 586, 80, 596, "cd")])
    e = tek.generate_textedges(f, _S.edge_tol)["left"]
    assert np.isclose(e.x[0], (0 * 50 + 50.4) / 1.0)  # (n*x + x')/(n+1), n=0


def test_short_text_excluded_from_edges():
    # len(strip) > 1 gate (core.py:134)
    f = tl_frame([(50, 600, 55, 610, "a"), (50, 586, 80, 596, "bc")])
    e = tek.generate_textedges(f, _S.edge_tol)["left"]
    assert e.y0 == [586.0]


# ---------------------------------------------------------------- lines


def test_merge_close_lines_running_mean():
    # sequential running mean: [10, 11, 12] tol 2 → 10→(10+11)/2=10.5→(10.5+12)/2=11.25
    assert lnk.merge_close_lines([10, 11, 12], line_tol=_L.line_tol) == [11.25]
    assert lnk.merge_close_lines([10, 20, 21], line_tol=_L.line_tol) == [10, 20.5]


def test_segment_tables_joint_threshold_and_cap():
    # 2×2 grid of lines → 4 joints → dropped (needs > 4)
    v = [(0, 0, 0, 10), (10, 0, 10, 10)]
    h = [(0, 0, 10, 0), (0, 10, 10, 10)]
    assert lnk.segment_tables(v, h, _L.joint_tol) == {}
    # 3×3 → 9 joints → kept
    v = [(x, 0, x, 10) for x in (0, 5, 10)]
    h = [(0, y, 10, y) for y in (0, 5, 10)]
    t = lnk.segment_tables(v, h, _L.joint_tol)
    assert list(t) == [(0.0, 0.0, 10.0, 10.0)]
    assert len(t[(0.0, 0.0, 10.0, 10.0)]) == 9


def test_segment_tables_top10_cap():
    v, h = [], []
    for k in range(12):
        ox = k * 50
        # grids of increasing size so area ordering is deterministic
        s = 10 + k
        v += [(ox + x, 0, ox + x, s) for x in (0, s / 2, s)]
        h += [(ox, y, ox + s, y) for y in (0, s / 2, s)]
    t = lnk.segment_tables(v, h, _L.joint_tol)
    assert len(t) == lnk.MAX_TABLES_PER_PAGE
    # the two smallest grids (k=0,1) dropped
    assert (0.0, 0.0, 10.0, 10.0) not in t


# ---------------------------------------------------------------- grid


def make_grid3():
    cols = [(0, 10), (10, 20), (20, 30)]
    rows = [(30, 20), (20, 10), (10, 0)]
    return Grid(cols, rows)


def test_set_edges_full_grid():
    g = make_grid3()
    v = [(x, 0, x, 30) for x in (0, 10, 20, 30)]
    h = [(0, y, 30, y) for y in (0, 10, 20, 30)]
    g.set_edges(v, h, _L.joint_tol)
    assert g.left.all() and g.right.all() and g.top.all() and g.bottom.all()


def test_set_edges_partial_and_span():
    g = make_grid3()
    v = [(x, 0, x, 30) for x in (0, 10, 20, 30)]
    # omit the h edge between rows 0 and 1 over column 0
    h = [(0, 0, 30, 0), (10, 20, 30, 20), (0, 10, 30, 10), (0, 30, 30, 30)]
    g.set_edges(v, h, _L.joint_tol)
    g.set_border()
    g.set_span()
    assert not g.top[1, 0] and not g.bottom[0, 0]
    assert g.vspan[1, 0] and g.vspan[0, 0]
    assert not g.hspan.any()


def test_set_span_truth_table():
    g = Grid([(0, 10)], [(10, 0)])
    # bound 0 → both spans (core.py:566-568)
    g.set_span()
    assert g.hspan[0, 0] and g.vspan[0, 0]
    g2 = Grid([(0, 10)], [(10, 0)])
    g2.left[:] = g2.right[:] = True
    g2.set_span()
    assert g2.vspan[0, 0] and not g2.hspan[0, 0]


def test_reduce_index_walks():
    g = make_grid3()
    g.set_all_edges()
    g.left[1, 1] = False
    g.hspan[1, 1] = True
    out = reduce_index(g, [(1, 1, "x")], shift_text=["l", "t"])
    assert out == [(1, 0, "x")]
    out = reduce_index(g, [(1, 1, "x")], shift_text=["r"])
    assert out == [(1, 1, "x")]  # right edge present → no move


# ---------------------------------------------------------------- assign


def test_get_table_index_basic_and_error():
    g = make_grid3()
    t = {"x0": 2.0, "y0": 22.0, "x1": 8.0, "y1": 28.0, "t": "hi\n", "chars": None}
    idx, err = get_table_index(g, t, "horizontal")
    assert idx == [(0, 0, "hi\n")] and err == 0.0
    # overhanging line: x1 beyond the cell → positive error
    t2 = {"x0": 2.0, "y0": 22.0, "x1": 14.0, "y1": 28.0, "t": "hi\n", "chars": None}
    idx2, err2 = get_table_index(g, t2, "horizontal")
    assert idx2[0][:2] == (0, 0) and err2 > 0


def test_get_table_index_no_row_wraps_to_last_cell():
    g = make_grid3()
    t = {"x0": 2.0, "y0": 40.0, "x1": 8.0, "y1": 50.0, "t": "up\n", "chars": None}
    idx, err = get_table_index(g, t, "horizontal")
    assert idx[0][:2] == (-1, -1)  # caller appends to cells[-1][-1]


# ---------------------------------------------------------------- textproc


def test_flag_font_size():
    chars = [
        {"c": "9", "x0": 0, "y0": 0, "x1": 5, "y1": 10},
        {"c": "5", "x0": 5, "y0": 0, "x1": 10, "y1": 10},
        {"c": "*", "x0": 10, "y0": 0, "x1": 15, "y1": 6},
        {"c": "\n"},
    ]
    assert txp.flag_font_size(chars, "horizontal", _S.strip_text) == "95<s>*</s>"
    # uniform size → full text incl. trailing anno newline
    uni = [
        {"c": "a", "x0": 0, "y0": 0, "x1": 5, "y1": 10},
        {"c": "\n"},
    ]
    assert txp.flag_font_size(uni, "horizontal", _S.strip_text) == "a\n"


def test_text_strip():
    assert txp.text_strip("4,100\n", " ,\n") == "4100"
    assert txp.text_strip("abc", "") == "abc"


# ---------------------------------------------------------------- metrics


def test_compute_accuracy():
    assert mtr.compute_accuracy([[100, [0.0, 0.0]]]) == 100.0
    assert mtr.compute_accuracy([[100, []]]) == 0.0
    with pytest.raises(ValueError):
        mtr.compute_accuracy([[50, [0.0]], [20, [0.0]]])


def test_compute_whitespace():
    assert mtr.compute_whitespace([["a", ""], ["", "b"]]) == 50.0


# ---------------------------------------------------------------- geometry


def test_text_in_bbox_midpoint_rule():
    f = tl_frame([(0, 0, 10, 10, "in"), (100, 100, 120, 120, "out")])
    kept = tlk.text_in_bbox((0, 0, 20, 20), f)
    assert kept.text == ["in"]


def test_segments_in_bbox():
    v = np.array([[5, 1, 5, 9], [50, 1, 50, 9]], dtype=float)
    h = np.array([[1, 5, 9, 5]], dtype=float)
    vs, hs = tlk.segments_in_bbox((0, 0, 10, 10), v, h)
    assert len(vs) == 1 and len(hs) == 1


# ---------------------------------------------------------------------------
# raster kernels (L1-L4, `camelot/image_processing.py` parity)
# ---------------------------------------------------------------------------

class TestRasterKernels:
    def _page(self):
        import numpy as np
        img = np.full((200, 300), 255, dtype=np.uint8)
        # 3px-thick grid: v lines at x=50,150,250 (y 40..160),
        # h lines at y=50,100,150 (x 40..260)
        for x in (50, 150, 250):
            img[39:162, x - 1:x + 2] = 0
        for y in (50, 100, 150):
            img[y - 1:y + 2, 39:262] = 0
        return img

    def test_adaptive_threshold_foreground(self):
        from camelot_spark.kernels import raster as rk
        img = self._page()
        thr = rk.adaptive_threshold(img, _L.process_background, _L.threshold_blocksize,
                                     _L.threshold_constant)
        assert thr[50, 150] and thr[100, 50]      # line pixels pass
        assert not thr[10, 10] and not thr[190, 290]  # background drops

    def test_layout_kwargs_regrouping(self):
        """LAParams analogue (`camelot/utils.py:763-814`): char_margin
        splits a run at wide gaps, word_margin inserts spaces, and the
        same encoded document extracts differently under different
        margins (the S4 knob is load-bearing end-to-end)."""
        from camelot_spark import extract_document, make_config
        from camelot_spark import fixtures as fx
        from camelot_spark.kernels.textlines import regroup_horizontal

        b = fx.doc_laparams("lk")
        run = [s for s in b.spans if s["kind"] == "text_h"]
        import json
        recs = [json.loads(s["text"]) for s in run if "q3" in s["text"]]
        assert len(recs) == 1
        # default camelot margins: 12pt gap >= 1.0*5 → two lines
        two = regroup_horizontal(recs, char_margin=1.0, word_margin=0.1)
        assert [r["t"] for r in two] == ["q3\n", "totals\n"]
        # char_margin 4.0: 12 < 20 → one line, word break inserts space
        one = regroup_horizontal(recs, char_margin=4.0, word_margin=0.1)
        assert [r["t"] for r in one] == ["q3 totals\n"]
        assert one[0]["x0"] == recs[0]["x0"] and one[0]["x1"] == recs[0]["x1"]

        def cell_of(cfg_kwargs):
            res = extract_document(b.spans, make_config("stream", **cfg_kwargs))
            return [s[1] for s in res["spans"] if s[0] == "cell" and "q3" in s[1]]

        assert cell_of({"layout_kwargs": {"char_margin": 4.0}}) == ["q3 totals"]
        assert cell_of({"layout_kwargs": {"char_margin": 1.0}}) == ["q3\ntotals"]
        assert cell_of({}) == ["q3totals"]  # None → encoded grouping kept

    def test_layout_kwargs_validation(self):
        import pytest
        from camelot_spark.config import make_config

        with pytest.raises(ValueError, match="unsupported layout_kwargs"):
            make_config("stream", layout_kwargs={"detect_vertical": True})

    def test_gaussian_kernel_matches_cv2_formula(self):
        """Weights follow cv2.getGaussianKernel's published large-ksize
        sigma: 0.3*((k-1)*0.5 - 1) + 0.8 (k=15 → sigma 2.6)."""
        from camelot_spark.kernels import raster as rk
        import numpy as np
        w = rk._gaussian_kernel(15)
        assert abs(w.sum() - 1.0) < 1e-12
        sigma = 2.6
        expect = np.exp(-(np.arange(15) - 7.0) ** 2 / (2 * sigma * sigma))
        expect /= expect.sum()
        assert np.allclose(w, expect)
        # symmetric, peaked at center
        assert np.allclose(w, w[::-1]) and w.argmax() == 7

    def test_gaussian_window_diverges_from_box_on_antialiased_input(self):
        """On an anti-aliased/noisy raster the Gaussian window must differ
        from a uniform box window — it discounts window-edge pixels that
        a box mean weights fully, which is the reference's
        ADAPTIVE_THRESH_GAUSSIAN_C behavior."""
        from camelot_spark.kernels import raster as rk
        import numpy as np
        # anti-aliased: a mid-level plateau with a bright ring at the
        # window edge — box mean (ring fully weighted) suppresses the
        # center pixel, gaussian mean (ring discounted) passes it
        img = np.full((31, 31), 95, dtype=np.uint8)
        img[15, 15] = 104
        for d in (-7, 7):
            img[15 + d, 8:23] = 255
            img[8:23, 15 + d] = 255
        ga = rk.adaptive_threshold(img, True, _L.threshold_blocksize,
                                     _L.threshold_constant)
        assert ga[15, 15]
        # the same comparison against the 15×15 uniform-window mean
        # (c = -2) rejects the center pixel
        assert not img[15, 15] > img[8:23, 8:23].mean() + 2

    def test_noisy_bitmap_decode_deterministic(self):
        from camelot_spark.kernels import raster as rk
        import numpy as np
        mask = np.zeros((60, 80), dtype=bool)
        mask[30, 10:70] = True
        payload = rk.encode_bitmap(mask)
        payload["noise_amp"], payload["noise_seed"] = 50, 7
        a, b = rk.decode_bitmap(payload), rk.decode_bitmap(payload)
        assert (a == b).all()
        # stroke + halo stay clean; background carries grain
        assert (a[27:34, 7:73] == np.where(mask, 0, 255)[27:34, 7:73]).all()
        assert (a[0:10] < 255).any()

    def test_adaptive_threshold_process_background(self):
        from camelot_spark.kernels import raster as rk
        import numpy as np
        # light lines on dark page: only the background branch finds them
        img = 255 - self._page()
        thr = rk.adaptive_threshold(img, True, _L.threshold_blocksize,
                                     _L.threshold_constant)
        assert thr[50, 150] and not thr[10, 10]

    def test_open_keeps_full_extent_and_drops_short_runs(self):
        from camelot_spark.kernels import raster as rk
        import numpy as np
        m = np.zeros((5, 100), dtype=bool)
        m[1, 10:90] = True   # long run: kept at full extent
        m[3, 10:20] = True   # short run: erased (kernel = 100//5 = 20)
        out = rk._open_along_axis(m, 20, axis=1).astype(bool)
        assert out[1, 10:90].all() and not out[1, 9] and not out[1, 90]
        assert not out[3].any()

    def test_find_lines_centerline_semantics(self):
        from camelot_spark.kernels import raster as rk
        img = self._page()
        thr = rk.adaptive_threshold(img, _L.process_background, _L.threshold_blocksize,
                                     _L.threshold_constant)
        _, vlines = rk.find_lines(thr, None, "vertical", _L.line_scale, _L.iterations)
        _, hlines = rk.find_lines(thr, None, "horizontal", _L.line_scale, _L.iterations)
        assert sorted(x1 for x1, _, _, _ in vlines) == [50, 150, 250]
        assert sorted(y1 for _, y1, _, _ in hlines) == [50, 100, 150]
        # vertical lines carry (x, y2, x, y1) with y2 > y1 (image coords)
        x1, y2, x2, y1 = vlines[0]
        assert y2 > y1

    def test_find_contours_and_joints(self):
        from camelot_spark.kernels import raster as rk
        img = self._page()
        thr = rk.adaptive_threshold(img, _L.process_background, _L.threshold_blocksize,
                                     _L.threshold_constant)
        vmask, _ = rk.find_lines(thr, None, "vertical", _L.line_scale, _L.iterations)
        hmask, _ = rk.find_lines(thr, None, "horizontal", _L.line_scale, _L.iterations)
        contours = rk.find_contours(vmask, hmask)
        assert len(contours) == 1
        tables = rk.find_joints(contours, vmask, hmask)
        assert len(tables) == 1
        joints = next(iter(tables.values()))
        assert sorted(joints) == sorted((x, y) for x in (50, 150, 250) for y in (50, 100, 150))

    def test_joint_drop_rule(self):
        """Contours with <= 4 joints are dropped (`image_processing.py:215`)."""
        from camelot_spark.kernels import raster as rk
        import numpy as np
        img = np.full((200, 300), 255, dtype=np.uint8)
        img[99:102, 39:262] = 0            # one h line
        img[39:162, 149:152] = 0           # one v line → 1 joint
        thr = rk.adaptive_threshold(img, _L.process_background, _L.threshold_blocksize,
                                     _L.threshold_constant)
        vmask, _ = rk.find_lines(thr, None, "vertical", _L.line_scale, _L.iterations)
        hmask, _ = rk.find_lines(thr, None, "horizontal", _L.line_scale, _L.iterations)
        assert rk.find_joints(rk.find_contours(vmask, hmask), vmask, hmask) == {}

    def test_connected_components_8conn(self):
        from camelot_spark.kernels import raster as rk
        import numpy as np
        m = np.zeros((4, 4), dtype=bool)
        m[0, 0] = m[1, 1] = True   # diagonal touch → one component
        m[3, 3] = True             # separate
        rects = sorted(rk.connected_components(m))
        assert len(rects) == 2
        assert rects[0] == (0, 0, 2, 2)

    def test_connected_components_matches_brute_force(self):
        """Randomized exactness of the vectorized run-merge CC (r6)
        against a from-scratch 8-connectivity BFS — box set equality
        over mixed densities, incl. 1-pixel rows/cols."""
        import numpy as np

        from camelot_spark.kernels import raster as rk

        def brute_cc(m):
            H, W = m.shape
            lbl = -np.ones((H, W), dtype=int)
            comps = []
            for i in range(H):
                for j in range(W):
                    if m[i, j] and lbl[i, j] < 0:
                        stack = [(i, j)]
                        lbl[i, j] = len(comps)
                        x0 = x1 = j
                        y0 = y1 = i
                        while stack:
                            a, b = stack.pop()
                            x0 = min(x0, b); x1 = max(x1, b)
                            y0 = min(y0, a); y1 = max(y1, a)
                            for da in (-1, 0, 1):
                                for db in (-1, 0, 1):
                                    na, nb = a + da, b + db
                                    if (0 <= na < H and 0 <= nb < W
                                            and m[na, nb] and lbl[na, nb] < 0):
                                        lbl[na, nb] = len(comps)
                                        stack.append((na, nb))
                        comps.append((x0, y0, x1 - x0 + 1, y1 - y0 + 1))
            return comps

        rng = np.random.RandomState(7)
        for _ in range(120):
            H, W = rng.randint(1, 20, 2)
            m = rng.rand(H, W) < rng.choice([0.05, 0.2, 0.5, 0.8])
            assert sorted(rk.connected_components(m)) == sorted(brute_cc(m))
        assert rk.connected_components(np.zeros((5, 5), bool)) == []
        assert rk.connected_components(np.ones((3, 4), bool)) == [(0, 0, 4, 3)]

    def test_bitmap_codec_roundtrip(self):
        from camelot_spark.kernels import raster as rk
        import numpy as np
        rng = np.random.default_rng(7)
        mask = rng.random((37, 53)) < 0.2
        img = rk.decode_bitmap(rk.encode_bitmap(mask))
        assert ((img == 0) == mask).all()

    def test_scale_image_to_pdf_roundtrip(self):
        from camelot_spark.kernels import raster as rk
        tables = {(10, 190, 290, 10): [(50, 100)]}
        t2, v2, h2 = rk.scale_image_to_pdf(tables, [(50, 160, 50, 40)], [], 150.0, 100.0, 300, 200)
        (k, joints), = t2.items()
        assert k == (5.0, 5.0, 145.0, 95.0)      # y flipped about img_h
        assert joints == [(25.0, 50.0)]
        assert v2[0].tolist() == [25.0, 20.0, 25.0, 80.0]
