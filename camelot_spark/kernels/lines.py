"""Ruling-line geometry for the Lattice flavor (segment path).

The reference rasterizes the page with ghostscript and runs cv2
morphology to find ruling lines (`camelot/image_processing.py:56-135`),
table contours (`:138-175`) and joints (`:178-224`). Our fixtures carry
the ruling segments directly in the ``media`` span (FIXTURES.md §1), so
this module re-derives contours + joints *geometrically* from segment
arrays — pure numpy, same outputs (joint coords, table bboxes, the
≤4-joint drop and the 10-largest-area cap).

`merge_close_lines` (`camelot/utils.py:382-407`) is the coordinate
dedup used to build the lattice grid; it is a running-mean left-fold.
"""

from __future__ import annotations

import numpy as np

# `camelot/image_processing.py:168`: keep the 10 largest table contours.
MAX_TABLES_PER_PAGE = 10
# `camelot/image_processing.py:215`: drop contours with <= 4 joints.
MIN_JOINTS_PER_TABLE = 4


def merge_close_lines(ar: list[float] | np.ndarray, line_tol: float) -> list[float]:
    """Running-mean merge of nearly-equal coordinates — `utils.py:382-407`.

    Sequential by construction: each merge updates the running value the
    next comparison uses.
    """
    from .textlines import isclose

    ret: list[float] = []
    for a in ar:
        if not ret:
            ret.append(float(a))
            continue
        temp = ret[-1]
        if isclose(temp, a, atol=line_tol):
            ret[-1] = (temp + float(a)) / 2.0
        else:
            ret.append(float(a))
    return ret


def segment_joints(
    v_segments: np.ndarray, h_segments: np.ndarray, tol: float
) -> np.ndarray:
    """All (x, y) crossings of vertical × horizontal segments.

    Geometric stand-in for the pixel-AND joint mask
    (`image_processing.py:201`): v at x spanning [y0,y1] crosses h at y
    spanning [x0,x1] iff x∈[x0-tol, x1+tol] and y∈[y0-tol, y1+tol].
    Returns (K, 2) array of joint coords and the (K,) v-index / h-index
    via a structured result: (joints, vi, hi).
    """
    v = np.asarray(v_segments, dtype=np.float64).reshape(-1, 4)
    h = np.asarray(h_segments, dtype=np.float64).reshape(-1, 4)
    if len(v) == 0 or len(h) == 0:
        return np.empty((0, 2)), np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    vx = v[:, 0][:, None]                      # (V,1)
    vy0 = np.minimum(v[:, 1], v[:, 3])[:, None]
    vy1 = np.maximum(v[:, 1], v[:, 3])[:, None]
    hx0 = np.minimum(h[:, 0], h[:, 2])[None, :]  # (1,H)
    hx1 = np.maximum(h[:, 0], h[:, 2])[None, :]
    hy = h[:, 1][None, :]
    cross = (
        (vx >= hx0 - tol) & (vx <= hx1 + tol) & (hy >= vy0 - tol) & (hy <= vy1 + tol)
    )
    vi, hi = np.nonzero(cross)
    joints = np.stack([v[vi, 0], h[hi, 1]], axis=1)
    return joints, vi, hi


def segment_tables(
    v_segments: np.ndarray, h_segments: np.ndarray, tol: float
) -> dict[tuple[float, float, float, float], list[tuple[float, float]]]:
    """Table bboxes + joints from ruling segments.

    Replaces `find_contours` + `find_joints` for the segment path:
    connected components of the segment crossing-graph form one table
    each; the component bbox is the segments' extent; joints inside a
    component are its crossings. Components with <= MIN_JOINTS_PER_TABLE
    joints are dropped (`image_processing.py:215`); the
    MAX_TABLES_PER_PAGE largest by bbox area are kept
    (`image_processing.py:168`). Keys are (x1, y_bottom, x2, y_top) in
    PDF space, matching the reference's post-`scale_image` dict keys.
    """
    v = np.asarray(v_segments, dtype=np.float64).reshape(-1, 4)
    h = np.asarray(h_segments, dtype=np.float64).reshape(-1, 4)
    joints, vi, hi = segment_joints(v, h, tol=tol)
    if len(joints) == 0:
        return {}

    # union-find over segment nodes: v-segment i → node i, h-seg j → V+j
    nV, nH = len(v), len(h)
    parent = np.arange(nV + nH)

    def find(a: int) -> int:
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    for a, b in zip(vi, hi):
        ra, rb = find(int(a)), find(int(b) + nV)
        if ra != rb:
            parent[rb] = ra

    roots = np.array([find(i) for i in range(nV + nH)])
    joint_root = roots[vi]  # joint belongs to its v-segment's component

    tables = []
    for root in np.unique(joint_root):
        jmask = joint_root == root
        if int(jmask.sum()) <= MIN_JOINTS_PER_TABLE:
            continue
        seg_mask_v = roots[:nV] == root
        seg_mask_h = roots[nV:] == root
        xs = np.concatenate([v[seg_mask_v][:, [0, 2]].ravel(), h[seg_mask_h][:, [0, 2]].ravel()])
        ys = np.concatenate([v[seg_mask_v][:, [1, 3]].ravel(), h[seg_mask_h][:, [1, 3]].ravel()])
        bbox = (float(xs.min()), float(ys.min()), float(xs.max()), float(ys.max()))
        area = (bbox[2] - bbox[0]) * (bbox[3] - bbox[1])
        tables.append((area, bbox, joints[jmask]))

    tables.sort(key=lambda t: t[0], reverse=True)
    tables = tables[:MAX_TABLES_PER_PAGE]

    out: dict[tuple[float, float, float, float], list[tuple[float, float]]] = {}
    for _, bbox, js in tables:
        out[bbox] = [(float(x), float(y)) for x, y in js]
    return out


def grid_intervals(
    tk: tuple[float, float, float, float],
    joints: list[tuple[float, float]],
    line_tol: float,
) -> tuple[list[tuple[float, float]], list[tuple[float, float]]]:
    """Columns/rows from joints + bbox corners — `lattice.py:298-323`.

    cols: joint xs + bbox x extremes, sorted asc, merged, paired.
    rows: joint ys + bbox y extremes, sorted desc, merged, paired.
    """
    cols_c = [x for x, _ in joints] + [tk[0], tk[2]]
    rows_c = [y for _, y in joints] + [tk[1], tk[3]]
    cols_m = merge_close_lines(sorted(cols_c), line_tol=line_tol)
    rows_m = merge_close_lines(sorted(rows_c, reverse=True), line_tol=line_tol)
    cols = [(cols_m[i], cols_m[i + 1]) for i in range(len(cols_m) - 1)]
    rows = [(rows_m[i], rows_m[i + 1]) for i in range(len(rows_m) - 1)]
    return cols, rows
