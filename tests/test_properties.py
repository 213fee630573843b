"""Property-based equivalence tests (hypothesis): the optimized kernel
paths must match their naive reference formulations on arbitrary input,
not just fixture geometry."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from camelot_spark.kernels import textedges as tek
from camelot_spark.kernels.textlines import TL, isclose


def _naive_generate(tl, edge_tol):
    """Direct transcription of the reference fold (`camelot/core.py:98-135`):
    linear first-match scan over the registry, no buckets."""
    states = {a: {"x": [], "y0": [], "y1": [], "n": []} for a in tek.ALIGNS}
    for i in range(len(tl)):
        t = tl.text[i]
        if not (t and len(t.strip()) > 1):
            continue
        xl, xr = tl.x0[i], tl.x1[i]
        for align, x in (("left", xl), ("right", xr), ("middle", xl + (xr - xl) / 2.0)):
            s = states[align]
            hit = -1
            for j in range(len(s["x"])):
                if isclose(s["x"][j], x, atol=0.5):
                    hit = j
                    break
            if hit < 0:
                s["x"].append(float(x))
                s["y0"].append(float(tl.y0[i]))
                s["y1"].append(float(tl.y1[i]))
                s["n"].append(0)
            elif isclose(s["y0"][hit], tl.y0[i], atol=edge_tol):
                n = s["n"][hit]
                s["x"][hit] = (n * s["x"][hit] + x) / float(n + 1)
                s["y0"][hit] = float(tl.y0[i])
                s["n"][hit] = n + 1
    return states


lines_strategy = st.lists(
    st.tuples(
        st.floats(min_value=0, max_value=600, allow_nan=False),   # x0
        st.floats(min_value=0, max_value=780, allow_nan=False),   # y0
        st.floats(min_value=0.1, max_value=80, allow_nan=False),  # width
        st.floats(min_value=5, max_value=14, allow_nan=False),    # height
    ),
    min_size=0,
    max_size=60,
)


def _tl_from(rows):
    n = len(rows)
    x0 = np.array([r[0] for r in rows])
    y0 = np.array([r[1] for r in rows])
    x1 = x0 + np.array([r[2] for r in rows])
    y1 = y0 + np.array([r[3] for r in rows])
    text = ["word%d" % i for i in range(n)]
    return TL(x0, y0, x1, y1, text, [None] * n, np.arange(n))


@settings(max_examples=150, deadline=None)
@given(rows=lines_strategy, edge_tol=st.sampled_from([5.0, 50.0, 500.0]))
def test_bucketed_textedges_match_naive_scan(rows, edge_tol):
    tl = _tl_from(rows)
    fast = tek.generate_textedges(tl, edge_tol=edge_tol)
    naive = _naive_generate(tl, edge_tol)
    for a in tek.ALIGNS:
        assert fast[a].x == naive[a]["x"], a
        assert fast[a].y0 == naive[a]["y0"], a
        assert fast[a].y1 == naive[a]["y1"], a
        assert fast[a].intersections == naive[a]["n"], a


@settings(max_examples=150, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.floats(min_value=-20, max_value=620, allow_nan=False),
            st.floats(min_value=-20, max_value=800, allow_nan=False),
            st.floats(min_value=0.1, max_value=120, allow_nan=False),
            st.floats(min_value=0.1, max_value=30, allow_nan=False),
        ),
        min_size=1,
        max_size=40,
    ),
    nr=st.integers(min_value=1, max_value=6),
    nc=st.integers(min_value=1, max_value=6),
)
def test_batch_assignment_matches_scalar(rows, nr, nc):
    """assign_indices_batch == get_table_index per line (fast path)."""
    from camelot_spark.kernels import assign as asg
    from camelot_spark.kernels.grid import Grid

    cols = [(60.0 + 90 * j, 60.0 + 90 * (j + 1)) for j in range(nc)]
    rws = [(700.0 - 40 * i, 700.0 - 40 * (i + 1)) for i in range(nr)]
    grid = Grid(cols, rws)
    tl = _tl_from(rows)
    r_b, c_b, err_b = asg.assign_indices_batch(grid, tl)
    import warnings

    for i in range(len(tl)):
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            indices, err = asg.get_table_index(grid, tl.line_dict(i), "horizontal")
        (r, c, _), = indices
        assert (r, c) == (int(r_b[i]), int(c_b[i])), i
        assert err == err_b[i], i


def _chars_tl(lines, direction):
    """TL whose lines carry chars: each line's chars tile its long side
    (x for horizontal, y for vertical); a size of None is an anno."""
    x0, y0, x1, y1, text, chars = [], [], [], [], [], []
    for lx, ly, w, h, sizes in lines:
        n = max(len(sizes), 1)
        chs = []
        for k, size in enumerate(sizes):
            c = chr(97 + k)
            if size is None:
                chs.append({"c": " "})
            elif direction == "horizontal":
                chs.append({"c": c, "x0": lx + w * k / n, "x1": lx + w * (k + 1) / n,
                            "y0": ly, "y1": ly + size})
            else:
                chs.append({"c": c, "x0": lx, "x1": lx + size,
                            "y0": ly + h - h * (k + 1) / n, "y1": ly + h - h * k / n})
        x0.append(lx)
        y0.append(ly)
        x1.append(lx + w)
        y1.append(ly + h)
        text.append("".join(ch["c"] for ch in chs) + "\n")
        chars.append(chs)
    n = len(lines)
    return TL(np.array(x0), np.array(y0), np.array(x1), np.array(y1), text, chars,
              np.arange(n))


assign_lines = st.lists(
    st.tuples(
        st.floats(min_value=30, max_value=540, allow_nan=False),   # x0
        st.floats(min_value=470, max_value=720, allow_nan=False),  # y0
        st.floats(min_value=0.1, max_value=200, allow_nan=False),  # width
        st.floats(min_value=0.1, max_value=60, allow_nan=False),   # height
        st.lists(st.sampled_from([None, 5.0, 6.0, 8.0]), max_size=6),  # char sizes
    ),
    max_size=12,
)


@settings(max_examples=150, deadline=None)
@given(
    vertical=assign_lines,
    horizontal=assign_lines,
    nr=st.integers(min_value=1, max_value=5),
    nc=st.integers(min_value=1, max_value=5),
    edge_seed=st.integers(min_value=0, max_value=2**32 - 1),
    split_text=st.booleans(),
    flag_size=st.booleans(),
    strip_text=st.sampled_from(["", " \n", "ab"]),
    shift_text=st.sampled_from([None, [], ["l", "t"], ["r", "b"], ["l"]]),
)
def test_assign_text_matches_scalar_composition(vertical, horizontal, nr, nc, edge_seed,
                                                split_text, flag_size, strip_text, shift_text):
    """assign_text fills the grid and returns the errors exactly as the
    per-line scalar composition get_table_index → reduce_index →
    append_text does, under split_text, flag_size and shift_text."""
    import warnings

    from camelot_spark.kernels import assign as asg
    from camelot_spark.kernels.grid import Grid
    from camelot_spark.parsers.common import assign_text

    def make_grid():
        g = Grid([(60.0 + 90 * j, 60.0 + 90 * (j + 1)) for j in range(nc)],
                 [(700.0 - 40 * i, 700.0 - 40 * (i + 1)) for i in range(nr)])
        rng = np.random.default_rng(edge_seed)
        g.left, g.right, g.top, g.bottom = rng.random((4, nr, nc)) < 0.5
        return g.set_border().set_span()

    t_bbox = {"vertical": _chars_tl(vertical, "vertical"),
              "horizontal": _chars_tl(horizontal, "horizontal")}

    def scalar(grid):
        errors = []
        for direction in ("vertical", "horizontal"):
            frame = t_bbox[direction]
            for i in range(len(frame)):
                indices, err = asg.get_table_index(
                    grid, frame.line_dict(i), direction, split_text=split_text,
                    flag_size=flag_size, strip_text=strip_text)
                errors.append(err)
                if shift_text is not None:
                    indices = asg.reduce_index(grid, indices, shift_text=shift_text)
                for r, c, text in indices:
                    grid.append_text(r, c, text)
        return errors

    def outcome(run):
        # a split cut past the last column raises IndexError (reference
        # quirk); both paths must then raise at the same line
        grid = make_grid()
        try:
            result = run(grid)
        except IndexError:
            result = IndexError
        return result, grid.text.tolist()

    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        got = outcome(lambda g: assign_text(g, t_bbox, split_text, flag_size, strip_text,
                                            shift_text=shift_text))
        want = outcome(scalar)
    assert got == want


@settings(max_examples=100, deadline=None)
@given(
    vals=st.lists(st.floats(min_value=0, max_value=1000, allow_nan=False), max_size=30),
    tol=st.sampled_from([0.5, 2.0, 10.0]),
)
def test_merge_close_lines_properties(vals, tol):
    from camelot_spark.kernels.lines import merge_close_lines

    out = merge_close_lines(sorted(vals), line_tol=tol)
    # every output is a mean of a run of inputs → inside the input hull
    if vals:
        assert min(out) >= min(vals) - 1e-9 and max(out) <= max(vals) + 1e-9
    # output count never exceeds input count
    assert len(out) <= len(vals) or (not vals and out == [])


# separable layouts (column-aligned, like real documents) take the
# cluster-wise fast path in generate_textedges — must still equal the
# naive reference fold bit-for-bit, on short pages and long ones
separable_lines = st.lists(
    st.tuples(
        st.sampled_from([60.0, 65.0, 180.0, 185.2, 300.0, 420.0]),  # clustered x0
        st.floats(min_value=0, max_value=780, allow_nan=False),
        st.sampled_from([20.0, 40.0, 60.0]),                         # clustered width
        st.floats(min_value=5, max_value=14, allow_nan=False),
    ),
    min_size=0,
    max_size=150,
)


@settings(max_examples=150, deadline=None)
@given(rows=separable_lines, edge_tol=st.sampled_from([5.0, 50.0, 500.0]))
def test_fast_path_textedges_match_naive_scan(rows, edge_tol):
    tl = _tl_from(rows)
    fast = tek.generate_textedges(tl, edge_tol=edge_tol)
    naive = _naive_generate(tl, edge_tol)
    for a in tek.ALIGNS:
        assert fast[a].x == naive[a]["x"], a
        assert fast[a].y0 == naive[a]["y0"], a
        assert fast[a].y1 == naive[a]["y1"], a
        assert fast[a].intersections == naive[a]["n"], a


# ---------------------------------------------------------------------------
# PNG codec: encode→decode identity on arbitrary images × filters
# ---------------------------------------------------------------------------

@settings(max_examples=40, deadline=None)
@given(
    h=st.integers(min_value=1, max_value=24),
    w=st.integers(min_value=1, max_value=24),
    channels=st.sampled_from([0, 3, 4]),
    filter_type=st.integers(min_value=0, max_value=4),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_png_roundtrip_property(h, w, channels, filter_type, seed):
    """decode(encode(img, f)) == img for grayscale (exact) and == the
    documented integer luma for color — across every filter type and
    arbitrary shapes, the full reconstruction state machine."""
    from camelot_spark.tdp.png_codec import decode_png, encode_png

    rng = np.random.RandomState(seed % (2**32 - 1))
    shape = (h, w) if channels == 0 else (h, w, channels)
    img = rng.randint(0, 256, size=shape).astype(np.uint8)
    got = decode_png(encode_png(img, filter_type=filter_type))
    if channels == 0:
        assert (got == img).all()
    else:
        r, g, b = (img[:, :, k].astype(np.int64) for k in range(3))
        want = ((299 * r + 587 * g + 114 * b + 500) // 1000).astype(np.uint8)
        assert (got == want).all()


@settings(max_examples=25, deadline=None)
@given(
    h=st.integers(min_value=1, max_value=40),
    w=st.integers(min_value=1, max_value=40),
    color=st.booleans(),
    quality=st.integers(min_value=80, max_value=100),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_jpeg_roundtrip_property(h, w, color, quality, seed):
    """Baseline JPEG is lossy but bounded: at quality >= 80 every pixel
    of decode(encode(img)) stays within a small tolerance of the input,
    for arbitrary shapes (incl. non-multiple-of-8) and random content —
    the whole Huffman/DCT/quantization loop, both paths."""
    from camelot_spark.tdp.jpeg_codec import decode_jpeg, encode_jpeg

    rng = np.random.RandomState(seed % (2**32 - 1))
    shape = (h, w, 3) if color else (h, w)
    img = rng.randint(0, 256, size=shape).astype(np.uint8)
    got = decode_jpeg(encode_jpeg(img, quality=quality))
    assert got.shape == img.shape
    # quant steps at q>=80 are small; random (worst-case) content stays
    # within a conservative bound, smooth content much tighter. Color
    # pays extra for the YCbCr round trip + coarser chroma table.
    if quality >= 95:
        tol = 20 if color else 12
    else:
        tol = 52 if color else 34
    assert int(np.abs(got.astype(int) - img.astype(int)).max()) <= tol


@settings(max_examples=30, deadline=None)
@given(
    ids=st.lists(st.integers(min_value=0, max_value=10**9),
                 min_size=1, max_size=200, unique=True),
    ppm=st.integers(min_value=0, max_value=1_000_000),
)
def test_sampling_acceptance_is_pure_function(ids, ppm):
    """The stratified-sample acceptance rule is a pure integer function
    of doc_id: the python transcription here must agree with what the
    Spark filter computes (same constants), and the acceptance count is
    monotone in the rate."""
    KNUTH, M32, PPM = 2654435761, 4294967296, 1_000_000
    accept = [i for i in ids if (i * KNUTH) % M32 % PPM < ppm]
    # determinism + monotonicity: a higher rate keeps a superset
    higher = [i for i in ids if (i * KNUTH) % M32 % PPM < min(PPM, ppm + 50_000)]
    assert set(accept) <= set(higher)
    if ppm == 0:
        assert accept == []
    if ppm == PPM:
        assert set(accept) == set(ids)


@settings(max_examples=20, deadline=None)
@given(
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    k=st.integers(min_value=4, max_value=12),
    alphabet_size=st.integers(min_value=3, max_value=8),
)
def test_substr_reference_merge_invariants(seed, k, alphabet_size):
    """Invariants of the duplicate-region reference used to pin the
    Spark operator: regions are disjoint, sorted, at least k wide, and
    every k-window fully inside a region occurs >= 2 times corpus-wide."""
    import random

    from tests.test_substr_dedup import _reference_spans

    rng = random.Random(seed)
    alphabet = "abcdefgh"[:alphabet_size]
    rows = [(d, "".join(rng.choice(alphabet) for _ in range(rng.randint(5, 80))))
            for d in range(6)]
    spans = _reference_spans(rows, k)
    texts = dict(rows)
    all_windows = {}
    for _, text in rows:
        for p in range(len(text) - k + 1):
            g = text[p:p + k]
            all_windows[g] = all_windows.get(g, 0) + 1
    by_doc = {}
    for doc_id, s, e, _n in spans:
        assert e - s >= k
        by_doc.setdefault(doc_id, []).append((s, e))
    for doc_id, regions in by_doc.items():
        regions.sort()
        for (s1, e1), (s2, e2) in zip(regions, regions[1:]):
            assert e1 < s2  # disjoint, non-adjacent (else merged)
        for s, e in regions:
            # the first and last windows of a merged region are actual
            # duplicate windows (interior positions may bridge two
            # overlapping duplicates with a unique window between)
            text = texts[doc_id]
            assert all_windows[text[s:s + k]] >= 2
            assert all_windows[text[e - k:e]] >= 2
