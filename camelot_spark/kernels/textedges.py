"""TextEdge accumulation and table-area detection (Nurminen-style).

Re-derives `camelot/core.py:21-231` (TextEdge / TextEdges). The x
running-mean and the y0-gap gating are order-sensitive left-folds over
textlines in reading order; edge registries are flat parallel lists
scanned with scalar isclose (registries hold tens of edges — a Python
list scan beats numpy dispatch overhead at this size by ~30×).
"""

from __future__ import annotations

import math
from bisect import insort

import numpy as np

from .textlines import TL  # noqa: F401  (TL used in type hints)

# `camelot/core.py:16`: a textedge is valid after >4 intersections.
TEXTEDGE_REQUIRED_ELEMENTS = 4
# `camelot/core.py:18`: padding applied to detected table areas.
TABLE_AREA_PADDING = 10

ALIGNS = ("left", "right", "middle")


class EdgeState:
    """Flat parallel-list registry of text edges for one alignment.

    ``buckets`` indexes edges by int(x) so the find-within-0.5pt scan
    touches ~3 tiny buckets instead of the whole registry; insertion
    order (= reference registry order) is preserved inside each bucket
    and the overall first match is the minimum index across buckets.
    """

    __slots__ = ("x", "y0", "y1", "intersections", "buckets")

    def __init__(self) -> None:
        self.x: list[float] = []
        self.y0: list[float] = []
        self.y1: list[float] = []
        self.intersections: list[int] = []
        self.buckets: dict[int, list[int]] = {}

    def valid_mask(self) -> list[bool]:
        return [n > TEXTEDGE_REQUIRED_ELEMENTS for n in self.intersections]


def _try_fast_alignment(st: EdgeState, xarr, keep, y0l, y1l, edge_tol: float) -> bool:
    """Exact cluster-wise fold for the separable case; False → caller
    runs the sequential fold.

    When the alignment's x-coords form clusters of diameter ≤ 0.49
    whose hulls are > (0.52 + rtol·max|x|) apart, every line matches
    exactly its own cluster's (drifting-mean) edge and no other — the
    first-match scan, the bucket index, and cross-cluster drift all
    become irrelevant, so the fold reduces to: one edge per cluster,
    per-cluster sequential y0 gate, and the reference's running mean
    replayed over the accepted members (bit-identical left-fold).
    Real documents are column-aligned, so this path covers virtually
    every doc; adversarial x-distributions fall back.
    """
    n = len(keep)
    if n == 0:
        return True
    xs_l = [xarr[i] for i in keep]
    # clustering by a sorted pure-Python scan: at the few dozen lines a
    # page carries, numpy's per-call constants would dominate
    if not all(map(math.isfinite, xs_l)):
        return False
    order = sorted(range(n), key=xs_l.__getitem__)  # stable
    sx = [xs_l[o] for o in order]
    gap_min = 0.52 + 1.0e-5 * max(abs(sx[0]), abs(sx[-1]))
    cid_l = [0] * n
    c = 0
    cluster_lo = sx[0]
    for t in range(1, n):
        v = sx[t]
        if v - sx[t - 1] > gap_min:
            c += 1
            cluster_lo = v
        elif v - cluster_lo > 0.49:
            return False
        cid_l[order[t]] = c

    ex, ey0, ey1, eint = st.x, st.y0, st.y1, st.intersections
    edge_of: dict[int, int] = {}
    accepted: list[list[float]] = []
    for pos in range(n):
        i = keep[pos]
        c = cid_l[pos]
        j = edge_of.get(c)
        if j is None:
            edge_of[c] = len(ex)
            ex.append(xs_l[pos])
            ey0.append(y0l[i])
            ey1.append(y1l[i])
            eint.append(0)
            accepted.append([])
        else:
            y0i = y0l[i]
            if abs(ey0[j] - y0i) <= edge_tol + 1.0e-5 * abs(y0i):  # isclose
                ey0[j] = y0i
                eint[j] += 1
                accepted[j].append(xs_l[pos])
    # replay the reference's sequential running mean over accepted
    # members — bit-identical to the fold (`core.py:63-74`)
    for j, acc in enumerate(accepted):
        if acc:
            x = ex[j]
            k = 0
            for a in acc:
                x = (k * x + a) / (k + 1.0)
                k += 1
            ex[j] = x
    return True


def generate_textedges(tl: TL, edge_tol: float) -> dict[str, EdgeState]:
    """Accumulate left/right/middle edges over reading-ordered textlines.

    Semantics per `camelot/core.py:98-135`: for each line with >1 char
    of stripped text, per alignment find the first edge with
    ``isclose(edge.x, x, atol=0.5)``; if none, register a new edge; if
    found *and* ``isclose(edge.y0, y0, atol=edge_tol)``, extend it:
    running-mean x, y0 := line y0, intersections += 1. A found-but-too-
    far edge is left untouched (reference quirk — no new edge created).
    """
    states = {a: EdgeState() for a in ALIGNS}
    # eligible lines once (core.py:134), coordinates as Python floats —
    # scalar ops in the fold are ~5x faster on float than numpy scalars
    texts = tl.text
    keep = [i for i in range(len(tl)) if texts[i] and len(texts[i].strip()) > 1]
    x0l = tl.x0.tolist()
    x1l = tl.x1.tolist()
    y0l = tl.y0.tolist()
    y1l = tl.y1.tolist()
    coords = {
        "left": x0l,
        "right": x1l,
        "middle": [x0l[i] + (x1l[i] - x0l[i]) / 2.0 for i in range(len(tl))],
    }
    for align in ALIGNS:
        st = states[align]
        xarr = coords[align]
        if _try_fast_alignment(st, xarr, keep, y0l, y1l, edge_tol):
            continue
        xs = st.x
        sy0 = st.y0
        sy1 = st.y1
        sint = st.intersections
        buckets = st.buckets
        get = buckets.get
        for i in keep:
            x_coord = xarr[i]
            tol = 0.5 + 1.0e-5 * abs(x_coord)  # isclose(edge.x, x, atol=0.5)
            k = int(x_coord)
            hit = -1
            for kk in (k - 1, k, k + 1):
                lst = get(kk)
                if lst:
                    for j in lst:  # ascending → first match = bucket min
                        if abs(xs[j] - x_coord) <= tol:
                            if hit < 0 or j < hit:
                                hit = j
                            break
            if hit < 0:
                j = len(xs)
                xs.append(x_coord)
                sy0.append(y0l[i])
                sy1.append(y1l[i])
                sint.append(0)
                lst = get(k)
                if lst is None:
                    buckets[k] = [j]
                else:
                    lst.append(j)
            else:
                y0i = y0l[i]
                if abs(sy0[hit] - y0i) <= edge_tol + 1.0e-5 * abs(y0i):  # isclose
                    n = sint[hit]
                    old_x = xs[hit]
                    new_x = (n * old_x + x_coord) / (n + 1.0)
                    xs[hit] = new_x
                    sy0[hit] = y0i
                    sint[hit] = n + 1
                    ok, nk = int(old_x), int(new_x)
                    if ok != nk:  # running mean drifted across a bucket edge
                        buckets[ok].remove(hit)
                        insort(buckets.setdefault(nk, []), hit)
    return states


def relevant_align(edges: dict[str, EdgeState]) -> str:
    """Alignment whose valid edges intersect the most — `core.py:137-158`.
    Ties resolve in dict insertion order left → right → middle."""
    best_align, best_sum = "left", -1
    for align in ALIGNS:
        st = edges[align]
        s = sum(
            n for n, v in zip(st.intersections, st.valid_mask()) if v
        )
        if s > best_sum:
            best_align, best_sum = align, s
    return best_align


def table_areas(tl: TL, relevant: EdgeState) -> list[tuple[float, float, float, float]]:
    """Sweep valid edges into areas, extend with overlapping textlines,
    pad — `camelot/core.py:160-231`.

    Areas are an ordered list (the reference dict preserves insertion
    order; updates pop + re-append at the end)."""
    if len(tl) == 0:
        return []
    order = np.lexsort(
        (np.asarray(relevant.x), -np.asarray(relevant.y0))
    ) if relevant.x else []
    valid = relevant.valid_mask()

    areas: list[list[float]] = []
    for j in order:
        if not valid[j]:
            continue
        ex, ey0, ey1 = relevant.x[j], relevant.y0[j], relevant.y1[j]
        if not areas:
            areas.append([ex, ey0, ex, ey1])
            continue
        found = None
        for k, area in enumerate(areas):
            if ey1 >= area[1] and ey0 <= area[3]:
                found = k
                break
        if found is None:
            areas.append([ex, ey0, ex, ey1])
        else:
            a = areas.pop(found)
            areas.append([a[0], min(ey0, a[1]), max(a[2], ex), max(a[3], ey1)])

    # extend with any textline vertically inside an area (core.py:206-223)
    x0s, y0s, x1s, y1s = tl.x0, tl.y0, tl.x1, tl.y1
    sum_h = float((y1s - y0s).sum())
    for i in range(len(tl)):
        found = None
        for k, area in enumerate(areas):
            if y0s[i] >= area[1] and y1s[i] <= area[3]:
                found = k
                break
        if found is not None:
            a = areas.pop(found)
            areas.append(
                [min(x0s[i], a[0]), min(y0s[i], a[1]), max(a[2], x1s[i]), max(a[3], y1s[i])]
            )
    avg_h = sum_h / float(len(tl))

    return [
        (
            a[0] - TABLE_AREA_PADDING,
            a[1] - TABLE_AREA_PADDING,
            a[2] + TABLE_AREA_PADDING,
            a[3] + avg_h * 5,  # headers sit above the detected edges
        )
        for a in areas
    ]
