"""Raster path for the Lattice flavor (L1-L4) — pure numpy, no cv2.

Re-derives `camelot/image_processing.py` over a page bitmap carried by
the ``media`` span (`media_ref` payload, FIXTURES.md §1):

- ``adaptive_threshold``      ← `image_processing.py:9-53`   (L1)
- ``find_lines``              ← `image_processing.py:56-135` (L2)
- ``find_contours``           ← `image_processing.py:138-175` (L3)
- ``find_joints``             ← `image_processing.py:178-224` (L4)
- ``scale_image_to_pdf``      ← `camelot/utils.py:159-283` + scaler
                                 setup `camelot/parsers/lattice.py:244-251` (L5)

cv2 isn't available in this environment, and a faithful translation
would be the wrong shape anyway: each operator below is vectorized
numpy over the whole bitmap (separable Gaussian filters, run-length
morphology, run-merge connected components) — per-pixel work never
touches Python.

Image convention matches the reference raster: row 0 = top of the
page, x right / y down; PDF space is bottom-left-origin. All segment /
table outputs are integer pixel coords until ``scale_image_to_pdf``.

The local window is Gaussian-weighted, matching the reference's
`cv2.ADAPTIVE_THRESH_GAUSSIAN_C` (`image_processing.py:43`): weights
come from cv2's published sigma formula for large kernels
(sigma = 0.3·((k−1)·0.5 − 1) + 0.8, getGaussianKernel docs) as a
separable convolution with edge replication (cv2's BORDER_REPLICATE).
"""

from __future__ import annotations

import numpy as np


def _gaussian_kernel(k: int) -> np.ndarray:
    """1-D normalized Gaussian, cv2.getGaussianKernel semantics for
    ksize > 7: sigma = 0.3*((ksize-1)*0.5 - 1) + 0.8."""
    sigma = 0.3 * ((k - 1) * 0.5 - 1.0) + 0.8
    x = np.arange(k, dtype=np.float64) - (k - 1) / 2.0
    w = np.exp(-(x * x) / (2.0 * sigma * sigma))
    return w / w.sum()


# row-strip height for the separable convolution: the per-strip temps
# (~strip×W f32 ×2) stay L2-resident, so the column pass reads the row
# pass's output while it is still hot — measured 42.3 → 32.0 ms on the
# 1224×1584 page vs the whole-image two-pass form (bit-identical: the
# per-pixel accumulation order is unchanged, tiling only reorders
# WHICH pixels are computed when)
_GAUSS_STRIP = 24


def _gaussian_mean_strips(g: np.ndarray, k: int):
    """Yield (r0, r1, mean_rows) strips of the k×k Gaussian-weighted
    local mean of ``g``: separable 1-D convolutions (vectorized shifted
    adds per axis — O(k·H·W), no scipy) with edge-replicated borders.
    The strip form lets adaptive_threshold fuse its comparison per
    strip without ever materializing the full mean plane.

    The kernel is symmetric, so mirrored taps pair up
    (w[t]·(x[t] + x[k-1-t])) — half the multiplies of the naive
    k-term loop (measured 2.8×). The regrouped summation differs from
    the naive order by ≤1e-13 on a 255-scale mean — verified zero
    threshold flips across every raster fixture, and the goldens pin it.

    Accumulation runs in float32 (r6): the input is 0-255 grayscale,
    so the weighted mean carries ~3e-5 absolute error vs float64 —
    against the integer-pixel > (mean - c) comparison with |c| = 2 a
    flip needs a boundary tie inside that margin, which flat regions
    (the only exact-tie producers) miss by the full |c|; verified zero
    flips on 1.9M-pixel noise AND exact goldens across every raster
    fixture incl. jitters. Halved memory traffic: 86.6 → 39.8 ms on a
    1224×1584 page (2.2×). (A sliding_window_view @ w matmul form was
    measured too: 54 ms — exact but slower than paired adds in f32.)"""
    w = _gaussian_kernel(k).astype(np.float32)
    pad = k // 2
    p = np.pad(g, pad, mode="edge")
    if p.dtype != np.float32:
        p = p.astype(np.float32)
    H = g.shape[0]
    Wd = g.shape[1]
    Wp = p.shape[1]
    r0 = 0
    while r0 < H:
        r1 = min(r0 + _GAUSS_STRIP, H)
        n = r1 - r0
        # even k has no center tap — start the accumulators at zero and
        # pair every tap (the kernel is exactly symmetric either way)
        rows = (w[pad] * p[r0 + pad:r0 + pad + n, :] if k % 2
                else np.zeros((n, Wp), dtype=np.float32))
        for t in range(pad):
            rows += w[t] * (p[r0 + t:r0 + t + n, :]
                            + p[r0 + k - 1 - t:r0 + k - 1 - t + n, :])
        o = (w[pad] * rows[:, pad:pad + Wd] if k % 2
             else np.zeros((n, Wd), dtype=np.float32))
        for t in range(pad):
            o += w[t] * (rows[:, t:t + Wd] + rows[:, k - 1 - t:k - 1 - t + Wd])
        yield r0, r1, o
        r0 = r1


def adaptive_threshold(
    img: np.ndarray, process_background: bool, blocksize: int, c: int,
) -> np.ndarray:
    """Grayscale (H, W) uint8 → binary ruling mask — `image_processing.py:9-53`.

    Foreground lines (dark on light) are inverted first unless
    ``process_background``; a pixel passes when it exceeds its
    Gaussian-weighted local window mean minus ``c`` (cv2 THRESH_BINARY
    semantics, ADAPTIVE_THRESH_GAUSSIAN_C weighting).
    """
    # float32 end to end: 0-255 pixels are exact in f32 and the mean
    # accumulates in f32 anyway — one pad copy instead of pad + astype
    g = np.asarray(img, dtype=np.float32)
    if not process_background:
        g = np.float32(255.0) - g
    # fused strip compare (r7): the mean plane is never materialized —
    # each L2-resident strip is compared as soon as its mean rows exist
    # (same expression, so the f32-mean vs f64-comparison semantics
    # are unchanged)
    out = np.empty(g.shape, dtype=bool)
    for r0, r1, mean_rows in _gaussian_mean_strips(g, blocksize):
        out[r0:r1] = g[r0:r1] > (mean_rows - float(c))
    return out


def _runs_along_rows(mask: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """All horizontal runs of True: (row, start, end) arrays, end exclusive.

    One nonzero scan over the diff, then sign-classified — the obvious
    two-pass form (nonzero(d==1), nonzero(d==-1)) scans the image twice
    and materializes two full-size boolean temps; this is the hottest
    primitive under the morphology/CC kernels (~200 calls per corpus
    pass). Row-major order interleaves each row's starts and ends, so
    classification preserves the identical per-run pairing."""
    H, W = mask.shape
    # build the boundary diff directly into its buffer (r7): the old
    # form zero-padded a full int8 copy and np.diff'd it — two full
    # temps; a bool mask views as int8 zero-copy, so the three diff
    # bands (first column, interior, sentinel end column) are written
    # in one pass each with no padded intermediate
    mi = mask.view(np.int8) if mask.dtype == np.bool_ else \
        np.asarray(mask, dtype=np.int8)
    d = np.empty((H, W + 1), dtype=np.int8)
    d[:, 0] = mi[:, 0]
    if W > 1:
        np.subtract(mi[:, 1:], mi[:, :-1], out=d[:, 1:W])
    np.negative(mi[:, W - 1], out=d[:, W])
    # flatnonzero + divmod beats 2-D nonzero (one C pass over the
    # raveled diff, no per-axis index unravel) — measured ~17% on this
    # primitive, which runs ~200x per corpus pass
    flat = np.flatnonzero(d)
    vals = d.ravel()[flat]
    r, c = np.divmod(flat, d.shape[1])
    pos = vals == 1
    return r[pos], c[pos], c[~pos]


def _mask_from_runs(rows, starts, ends, shape) -> np.ndarray:
    """Rebuild an int8 mask from disjoint maximal runs (row, start, end).

    Disjoint runs never overlap, so one slice fill per run rebuilds the
    mask exactly. Post-open masks hold a few dozen line runs (at most
    24 per call over 15 keys of each raster fixture family), where
    slice fills beat any full-plane pass."""
    out = np.zeros(shape, dtype=np.int8)
    for r, s0, e0 in zip(rows.tolist(), starts.tolist(), ends.tolist()):
        out[r, s0:e0] = 1
    return out


def _open_runs(m: np.ndarray, size: int):
    """Kept (rows, starts, ends) of the 1-D open along rows of ``m``:
    the runs shorter than ``size`` erased, longer runs kept at full
    extent — exactly cv2 erode+dilate with the same 1×size kernel.
    The kept runs ARE the output mask's runs (still disjoint, maximal,
    row-major), so callers can feed them straight into the run-based
    connected-components without re-scanning the rebuilt mask.

    Two exact implementations, dispatched on a sampled run-density
    probe (r7): sparse line-art masks extract-and-filter their few
    runs fastest, but a NOISY threshold mask has ~10⁵ speckle runs and
    the run arrays dominate (measured 30 ms vs 11) — there the
    cumsum-window erosion finds [i, i+s) all-true positions in O(W)
    per row and extends each erosion run by s-1, which reconstructs
    exactly the maximal runs of length >= s (a window can't span a
    gap, so erosion runs are 1:1 with surviving mask runs)."""
    s = max(size, 1)
    H, W = m.shape
    step = max(H // 16, 1)
    sample = m[::step]
    est_transitions = np.count_nonzero(sample[:, 1:] != sample[:, :-1]) \
        * (H / sample.shape[0])
    if est_transitions > 100_000 and s <= W:
        cs = np.zeros((H, W + 1), dtype=np.int32)
        np.cumsum(m, axis=1, dtype=np.int32, out=cs[:, 1:])
        e = (cs[:, s:] - cs[:, :-s]) == s
        rows, starts, ends = _runs_along_rows(e)
        return rows, starts, ends + (s - 1)
    rows, starts, ends = _runs_along_rows(m)
    keep = (ends - starts) >= s
    return rows[keep], starts[keep], ends[keep]


def _open_along_axis(mask: np.ndarray, size: int, axis: int) -> np.ndarray:
    """Binary morphological open with a 1×size (axis=1) or size×1 (axis=0)
    kernel: erase runs shorter than ``size``, keep longer runs at full
    extent — exactly cv2 erode+dilate with the same 1-D kernel."""
    m = mask if axis == 1 else mask.T
    out = _mask_from_runs(*_open_runs(m, size), m.shape)
    return out if axis == 1 else out.T


def _dilate_along_axis(mask: np.ndarray, amount: int, axis: int) -> np.ndarray:
    """Extend every run by ``amount`` pixels on both ends (1-D dilation)."""
    if amount <= 0:
        return mask
    m = (mask if axis == 1 else mask.T).astype(bool)
    rows, starts, ends = _runs_along_rows(m)
    W = m.shape[1]
    delta = np.zeros((m.shape[0], W + 1), dtype=np.int32)
    np.add.at(delta, (rows, np.maximum(starts - amount, 0)), 1)
    np.add.at(delta, (rows, np.minimum(ends + amount, W)), -1)
    out = (delta.cumsum(axis=1)[:, :-1] > 0).astype(np.int8)
    return out if axis == 1 else out.T


def _run_adjacency_roots(rows, starts, ends) -> np.ndarray:
    """Union-find roots per run for 8-connected runs.

    Pair generation is a single vectorized pass (r7; the r6 form still
    looped adjacent ROW PAIRS in Python, ~4 numpy calls per image row —
    pure call overhead on tall masks). Runs arrive row-major and
    left-to-right, so the composite keys row*M + start and row*M + end
    (M > any column index) are each globally sorted; run b of row r
    touches run a of row r-1 (8-connectivity, exclusive ends give the
    ±1 slack) iff
      starts[a] <= ends[b]  →  a <  searchsorted(sc, (r-1)*M + ends[b], right)
      ends[a] >= starts[b]  →  a >= searchsorted(ec, (r-1)*M + starts[b], left)
    Runs of rows <= r-2 land in BOTH counts and cancel in hi-lo, and
    rows >= r in neither, so no per-row blocking is needed at all."""
    n = len(rows)
    parent = list(range(n))

    def find(a: int) -> int:
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    if n:
        M = int(ends.max()) + 2
        r64 = rows.astype(np.int64)
        sc = r64 * M + starts
        ec = r64 * M + ends
        hi = np.searchsorted(sc, ec - M, side="right")
        lo = np.searchsorted(ec, sc - M, side="left")
        cnt = hi - lo  # >= 0: {end < s_b} ⊆ {start <= e_b} within a row
        pos = cnt > 0
        if pos.any():
            cc = cnt[pos]
            total = int(cc.sum())
            offs = np.repeat(np.cumsum(cc) - cc, cc)
            pa = np.repeat(lo[pos], cc) + (np.arange(total) - offs)
            pb = np.repeat(np.flatnonzero(pos), cc)
            for a, b in zip(pa.tolist(), pb.tolist()):
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[rb] = ra

    return np.fromiter((find(i) for i in range(n)), dtype=np.int64, count=n)


def _components_from_runs(rows, starts, ends) -> list[tuple[int, int, int, int]]:
    """External bounding rects (x, y, w, h) of the 8-connected
    components of a row-major run set, ordered by each component's
    FIRST run (row-major scan order, the cv2 findContours-compatible
    order the old mask-walk produced)."""
    n = len(rows)
    if n == 0:
        return []
    roots = _run_adjacency_roots(rows, starts, ends)
    # group-by root with numpy scatter mins/maxes
    uroots, first_idx, inv = np.unique(
        roots, return_index=True, return_inverse=True)
    k = len(uroots)
    x0 = np.full(k, np.iinfo(np.int64).max)
    x1 = np.zeros(k, dtype=np.int64)
    y0 = np.full(k, np.iinfo(np.int64).max)
    y1 = np.zeros(k, dtype=np.int64)
    np.minimum.at(x0, inv, starts)
    np.maximum.at(x1, inv, ends)
    np.minimum.at(y0, inv, rows)
    np.maximum.at(y1, inv, rows + 1)
    order = np.argsort(first_idx, kind="stable")
    return [(int(x0[g]), int(y0[g]), int(x1[g] - x0[g]), int(y1[g] - y0[g]))
            for g in order]


def _components_from_runs_transposed(rows_t, starts_t, ends_t) -> list[tuple[int, int, int, int]]:
    """Component rects for runs extracted in TRANSPOSED orientation
    (rows_t = original column, starts_t/ends_t = original row span),
    returned as (x, y, w, h) in ORIGINAL orientation and ordered by
    each component's first run in the ORIGINAL row-major scan —
    bit-identical to ``connected_components(mask)`` on the
    un-transposed mask (8-connectivity is transpose-invariant).

    A component's first original-orientation run starts at its top row
    y0 = min(starts_t); the runs covering y0 are exactly those with
    start_t == y0 (no run starts above y0), so the original first run's
    column is min(rows_t) over those — ordering by (y0, that column)
    reproduces the row-major first-occurrence order exactly (two
    components cannot share that cell)."""
    n = len(rows_t)
    if n == 0:
        return []
    roots = _run_adjacency_roots(rows_t, starts_t, ends_t)
    uroots, _, inv = np.unique(roots, return_index=True, return_inverse=True)
    k = len(uroots)
    big = np.iinfo(np.int64).max
    # transposed mins/maxes map to original coords with axes swapped
    y0 = np.full(k, big)
    y1 = np.zeros(k, dtype=np.int64)
    x0 = np.full(k, big)
    x1 = np.zeros(k, dtype=np.int64)
    np.minimum.at(y0, inv, starts_t)
    np.maximum.at(y1, inv, ends_t)
    np.minimum.at(x0, inv, rows_t)
    np.maximum.at(x1, inv, rows_t + 1)
    first_col = np.full(k, big)
    top = starts_t == y0[inv]
    if top.any():
        np.minimum.at(first_col, inv[top], rows_t[top])
    order = np.lexsort((first_col, y0))
    return [(int(x0[g]), int(y0[g]), int(x1[g] - x0[g]), int(y1[g] - y0[g]))
            for g in order]


def connected_components(mask: np.ndarray) -> list[tuple[int, int, int, int]]:
    """External bounding rects (x, y, w, h) of 8-connected components.

    Run-merge CC: runs within a row are nodes; runs in adjacent rows
    whose column spans touch (8-connectivity ⇒ ±1 overlap) are unioned.
    Cost is O(#runs α) — per-pixel work stays in the vectorized
    run-extraction above, so Python only loops over line blobs.
    """
    m = np.asarray(mask, dtype=bool)
    return _components_from_runs(*_runs_along_rows(m))


def find_lines(
    threshold: np.ndarray,
    regions: list[tuple[int, int, int, int]] | None,
    direction: str,
    line_scale: int,
    iterations: int,
) -> tuple[np.ndarray, list[tuple[int, int, int, int]]]:
    """Ruling segments in one direction — `image_processing.py:56-135`.

    Morphological open with a 1×(W/scale) or (H/scale)×1 kernel keeps
    only long straight runs; each surviving blob's bounding rect
    collapses to its centerline segment (`:116-133` semantics,
    including the integer // 2 midpoint).
    Returns (direction mask, [(x1, y1, x2, y2)] in image coords).
    """
    mask = np.asarray(threshold, dtype=bool)
    if regions is not None:
        # zero out pixels outside user regions — `image_processing.py:105-110`
        keep = np.zeros_like(mask)
        for (x, y, w, h) in regions:
            keep[y:y + h, x:x + w] = True
        mask = mask & keep

    H, W = mask.shape
    if direction == "vertical":
        size, axis = H // line_scale, 0
    elif direction == "horizontal":
        size, axis = W // line_scale, 1
    else:
        raise ValueError("Specify direction as either 'vertical' or 'horizontal'")

    # open + CC share ONE run extraction (r7): the open's kept runs ARE
    # the output mask's runs, so CC consumes them directly instead of
    # re-scanning the rebuilt mask (for the vertical direction the runs
    # also stay in transposed orientation — a few long column runs
    # instead of thousands of 2px row slivers). Dilation (iterations>0)
    # changes the run set, so that path keeps the mask-walk CC.
    m = mask if axis == 1 else mask.T
    runs = _open_runs(m, size)
    out = _mask_from_runs(*runs, m.shape)
    dmask = out if axis == 1 else out.T
    if iterations:
        dmask = _dilate_along_axis(dmask, iterations, axis)
        rects = connected_components(dmask)
    elif axis == 1:
        rects = _components_from_runs(*runs)
    else:
        rects = _components_from_runs_transposed(*runs)

    lines = []
    for (x, y, w, h) in rects:
        x1, x2, y1, y2 = x, x + w, y, y + h
        if direction == "vertical":
            lines.append(((x1 + x2) // 2, y2, (x1 + x2) // 2, y1))
        else:
            lines.append((x1, (y1 + y2) // 2, x2, (y1 + y2) // 2))
    # the vertical path's transpose-back is an F-order VIEW; downstream
    # AND/OR consumers (find_contours, find_joints) pay ~4x strided
    # traversal on it — one contiguous copy here is cheaper than either
    return np.ascontiguousarray(dmask, dtype=np.int8), lines


def find_contours(vertical: np.ndarray, horizontal: np.ndarray) -> list[tuple[int, int, int, int]]:
    """Table-boundary rects from the OR of the two masks, 10 largest by
    area — `image_processing.py:138-175` (`mask = v + h`, `:156`; cap `:168`)."""
    mask = np.asarray(vertical, bool) | np.asarray(horizontal, bool)
    rects = connected_components(mask)
    rects.sort(key=lambda r: r[2] * r[3], reverse=True)
    return rects[:10]


def find_joints(
    contours: list[tuple[int, int, int, int]],
    vertical: np.ndarray,
    horizontal: np.ndarray,
) -> dict[tuple[int, int, int, int], list[tuple[int, int]]]:
    """Joint coords per table rect from the AND of the masks —
    `image_processing.py:178-224` (`np.multiply` `:201`; ≤4-joint drop
    `:215`; blob-center joint coords and (x, y+h, x+w, y) table keys)."""
    joints_mask = np.asarray(vertical, bool) & np.asarray(horizontal, bool)
    tables: dict[tuple[int, int, int, int], list[tuple[int, int]]] = {}
    for (x, y, w, h) in contours:
        roi = joints_mask[y:y + h, x:x + w]
        blobs = connected_components(roi)
        if len(blobs) <= 4:
            continue
        joint_coords = []
        for (jx, jy, jw, jh) in blobs:
            c1 = x + (2 * jx + jw) // 2
            c2 = y + (2 * jy + jh) // 2
            joint_coords.append((c1, c2))
        tables[(x, y + h, x + w, y)] = joint_coords
    return tables


def scale_image_to_pdf(
    tables: dict[tuple[int, int, int, int], list[tuple[int, int]]],
    v_segments: list[tuple[int, int, int, int]],
    h_segments: list[tuple[int, int, int, int]],
    pdf_w: float,
    pdf_h: float,
    img_w: int,
    img_h: int,
):
    """Image space (top-left origin) → PDF space (bottom-left origin) —
    `camelot/utils.py:228-283` (`scale_image`) with the scalers from
    `camelot/parsers/lattice.py:244-251`."""
    fx = pdf_w / float(img_w)
    fy = pdf_h / float(img_h)

    def px(v):  # x: scale only
        return float(v) * fx

    def py(v):  # y: flip about image height, then scale
        return abs(float(v) - img_h) * fy

    tables_new = {}
    for (x1, y1, x2, y2), joints in tables.items():
        k = (px(x1), py(y1), px(x2), py(y2))
        tables_new[k] = [(px(jx), py(jy)) for jx, jy in joints]

    v_new = np.asarray(
        [(px(x1), py(y1), px(x2), py(y2)) for x1, y1, x2, y2 in v_segments],
        dtype=np.float64,
    ).reshape(-1, 4)
    h_new = np.asarray(
        [(px(x1), py(y1), px(x2), py(y2)) for x1, y1, x2, y2 in h_segments],
        dtype=np.float64,
    ).reshape(-1, 4)
    return tables_new, v_new, h_new


# ---------------------------------------------------------------------------
# bitmap payload codec (fixture ↔ kernel) — stand-in for the ghostscript
# render (`camelot/parsers/lattice.py:211-221`): `media_ref` resolves to
# a pre-rasterized page bitmap shipped inline as packed bits.
# ---------------------------------------------------------------------------

def encode_bitmap(black_mask: np.ndarray) -> dict:
    """(H, W) bool black-pixel mask → JSON-safe payload dict."""
    import base64

    m = np.asarray(black_mask, dtype=bool)
    return {
        "w": int(m.shape[1]),
        "h": int(m.shape[0]),
        "bits": base64.b64encode(np.packbits(m, axis=None).tobytes()).decode("ascii"),
    }


def decode_bitmap(payload: dict) -> np.ndarray:
    """Payload dict → (H, W) uint8 grayscale. Default black lines on a
    white page; ``fg``/``bg`` override the two levels (e.g. bright
    background rulings for the process_background path).

    ``noise_amp``/``noise_seed`` add deterministic paper-grain noise:
    background pixels shift up to ``noise_amp`` levels toward the
    foreground (seeded generator — byte-stable across runs). A small
    clean halo is kept around strokes so grain models paper texture,
    not ink bleed — grain adjacent to a ruling would otherwise extend
    its pixel run and perturb detected segment endpoints. This is the
    noisy-scan stand-in that exercises the Gaussian threshold window on
    non-two-level input."""
    import base64

    w, h = int(payload["w"]), int(payload["h"])
    fg = int(payload.get("fg", 0))
    bg = int(payload.get("bg", 255))
    bits = np.frombuffer(base64.b64decode(payload["bits"]), dtype=np.uint8)
    mask = np.unpackbits(bits, count=w * h).reshape(h, w).astype(bool)
    img = np.full((h, w), bg, dtype=np.uint8)
    img[mask] = fg
    amp = int(payload.get("noise_amp", 0))
    if amp:
        rng = np.random.default_rng(int(payload.get("noise_seed", 0)))
        noise = rng.integers(0, amp + 1, size=(h, w)).astype(np.int16)
        pad = 3
        # separable square dilation: OR the ±pad row shifts, then the
        # ±pad column shifts of that — identical to the full (2p+1)²
        # shift-OR (a square structuring element separates), at 4p+2
        # passes instead of (2p+1)²
        pm = np.pad(mask, pad)
        rows_or = pm.copy()
        for dr in range(1, pad + 1):
            rows_or[pad:pad + h] |= pm[pad - dr:pad - dr + h]
            rows_or[pad:pad + h] |= pm[pad + dr:pad + dr + h]
        halo = rows_or[pad:pad + h, pad:pad + w].copy()
        for dc in range(1, pad + 1):
            halo |= rows_or[pad:pad + h, pad - dc:pad - dc + w]
            halo |= rows_or[pad:pad + h, pad + dc:pad + dc + w]
        sign = 1 if fg > bg else -1
        out = img.astype(np.int16)
        out[~halo] += sign * noise[~halo]
        img = np.clip(out, 0, 255).astype(np.uint8)
    return img
