"""Textline→cell assignment, splitting, span shifting and copying.

Re-derives `camelot/utils.py:488-706` (``split_textline``,
``get_table_index``) and `camelot/parsers/lattice.py:133-209`
(``_reduce_index``, ``_copy_spanning_text``) against the boolean-matrix
:class:`~camelot_spark.kernels.grid.Grid`.
"""

from __future__ import annotations

import warnings
from itertools import groupby

import numpy as np

from .grid import Grid
from .textproc import flag_font_size, is_anno, text_strip


def split_textline(
    grid: Grid,
    tline: dict,
    direction: str,
    flag_size: bool,
    strip_text: str,
) -> list[tuple[int, int, str]]:
    """Distribute a multi-cell line's chars into per-cell substrings —
    `camelot/utils.py:488-603`.

    ``tline``: {x0,y0,x1,y1,t,chars}. Cut positions come from bounded
    cell edges; chars fall into the first cut whose edge their midpoint
    does not exceed; annos replicate into every cut (reference
    control-flow quirk). Failure → [(-1, -1, text)].
    """
    cut_text: list[tuple[int, int, object]] = []
    bbox = (tline["x0"], tline["y0"], tline["x1"], tline["y1"])
    chars = tline.get("chars") or []
    try:
        if direction == "horizontal" and chars:
            x_overlap = [
                i for i, x in enumerate(grid.cols) if x[0] <= bbox[2] and bbox[0] <= x[1]
            ]
            r_idx = [
                j for j, r in enumerate(grid.rows) if r[1] <= (bbox[1] + bbox[3]) / 2 <= r[0]
            ]
            r = r_idx[0]
            x_cuts = [(c, grid.cols[c][1]) for c in x_overlap if grid.right[r, c]]
            if not x_cuts:
                x_cuts = [(x_overlap[0], grid.cols[-1][1])]
            row = grid.rows[r]
            for ch in chars:
                for cut in x_cuts:
                    if not is_anno(ch):
                        if (
                            row[1] <= (ch["y0"] + ch["y1"]) / 2 <= row[0]
                            and (ch["x0"] + ch["x1"]) / 2 <= cut[1]
                        ):
                            cut_text.append((r, cut[0], ch))
                            break
                        elif cut == x_cuts[-1]:
                            cut_text.append((r, cut[0] + 1, ch))
                    else:
                        cut_text.append((r, cut[0], ch))
        elif direction == "vertical" and chars:
            y_overlap = [
                j for j, y in enumerate(grid.rows) if y[1] <= bbox[3] and bbox[1] <= y[0]
            ]
            c_idx = [
                i for i, c in enumerate(grid.cols) if c[0] <= (bbox[0] + bbox[2]) / 2 <= c[1]
            ]
            c = c_idx[0]
            y_cuts = [(r, grid.rows[r][1]) for r in y_overlap if grid.bottom[r, c]]
            if not y_cuts:
                y_cuts = [(y_overlap[0], grid.rows[-1][1])]
            col = grid.cols[c]
            for ch in chars:
                for cut in y_cuts:
                    if not is_anno(ch):
                        if (
                            col[0] <= (ch["x0"] + ch["x1"]) / 2 <= col[1]
                            and (ch["y0"] + ch["y1"]) / 2 >= cut[1]
                        ):
                            cut_text.append((cut[0], c, ch))
                            break
                        elif cut == y_cuts[-1]:
                            cut_text.append((cut[0] - 1, c, ch))
                    else:
                        cut_text.append((cut[0], c, ch))
    except IndexError:
        return [(-1, -1, tline["t"])]
    grouped: list[tuple[int, int, str]] = []
    for key, grp in groupby(cut_text, key=lambda t: (t[0], t[1])):
        members = [t[2] for t in grp]
        if flag_size:
            grouped.append((key[0], key[1], flag_font_size(members, direction, strip_text)))
        else:
            grouped.append((key[0], key[1], text_strip("".join(ch["c"] for ch in members), strip_text)))
    return grouped


def get_table_index(
    grid: Grid,
    tline: dict,
    direction: str,
    split_text: bool = False,
    flag_size: bool = False,
    strip_text: str = "",
) -> tuple[list[tuple[int, int, str]], float]:
    """Row/col assignment + positional error — `camelot/utils.py:606-706`.

    Row = first interval strictly containing the y-midpoint; column =
    argmax x-overlap ratio. When no row matches, (-1, -1) indexes wrap
    to the last row/col downstream, as in the reference. The error is
    the normalized out-of-cell overhang of the line bbox.
    """
    r_idx, c_idx = -1, -1
    y_mid = (tline["y0"] + tline["y1"]) / 2.0
    hit = np.flatnonzero((y_mid < grid.row_t) & (y_mid > grid.row_b))
    if hit.size:
        r = int(hit[0])
        col_l = grid.col_l
        col_r = grid.col_r
        overlap_mask = (col_l <= tline["x1"]) & (col_r >= tline["x0"])
        left = np.maximum(col_l, tline["x0"])
        right = np.minimum(col_r, tline["x1"])
        ratio = np.where(overlap_mask, np.abs(left - right) / np.abs(col_l - col_r), -1.0)
        if not overlap_mask.any():
            warnings.warn(
                "{} {} does not lie in column range {}".format(
                    tline["t"].strip("\n"),
                    (tline["x0"], tline["x1"]),
                    (grid.cols[0][0], grid.cols[-1][1]),
                )
            )
        r_idx = r
        c_idx = int(np.argmax(ratio))

    # error vs the chosen cell; (-1, -1) measures vs the last row/col
    rr = grid.rows[r_idx]
    cc = grid.cols[c_idx]
    y0_offset = abs(tline["y0"] - rr[0]) if tline["y0"] > rr[0] else 0.0
    y1_offset = abs(tline["y1"] - rr[1]) if tline["y1"] < rr[1] else 0.0
    x0_offset = abs(tline["x0"] - cc[0]) if tline["x0"] < cc[0] else 0.0
    x1_offset = abs(tline["x1"] - cc[1]) if tline["x1"] > cc[1] else 0.0
    X = abs(tline["x0"] - tline["x1"]) or 1.0
    Y = abs(tline["y0"] - tline["y1"]) or 1.0
    error = ((X * (y0_offset + y1_offset)) + (Y * (x0_offset + x1_offset))) / (X * Y)

    if split_text:
        return (
            split_textline(grid, tline, direction, flag_size=flag_size, strip_text=strip_text),
            error,
        )
    if flag_size:
        return (
            [(r_idx, c_idx, flag_font_size(tline.get("chars") or [], direction, strip_text))],
            error,
        )
    return [(r_idx, c_idx, text_strip(tline["t"], strip_text))], error


def assign_indices_batch(grid: Grid, frame) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Vectorized `get_table_index` over a whole TL frame: the row,
    column and error of every line ``assign_text`` places, whatever
    text split_text or flag_size then chooses.

    Same math as the scalar version — row = first interval containing
    the y-midpoint, col = argmax x-overlap ratio, error = normalized
    overhang vs the chosen (or wrapped last) cell — as one broadcasted
    (N × rows/cols) pass instead of N Python calls.
    Returns (row_idx, col_idx, error) with -1 for unassigned lines.
    """
    n = len(frame)
    if n == 0:
        return (np.empty(0, np.int64), np.empty(0, np.int64), np.empty(0))
    x0, x1, y0, y1 = frame.x0, frame.x1, frame.y0, frame.y1
    y_mid = (y0 + y1) / 2.0

    row_hit = (y_mid[:, None] < grid.row_t[None, :]) & (y_mid[:, None] > grid.row_b[None, :])
    has_row = row_hit.any(axis=1)
    r = np.where(has_row, row_hit.argmax(axis=1), -1)

    col_l, col_r = grid.col_l, grid.col_r
    overlap = (col_l[None, :] <= x1[:, None]) & (col_r[None, :] >= x0[:, None])
    left = np.maximum(col_l[None, :], x0[:, None])
    right = np.minimum(col_r[None, :], x1[:, None])
    ratio = np.where(overlap, np.abs(left - right) / np.abs(col_l - col_r)[None, :], -1.0)
    c = np.where(has_row, ratio.argmax(axis=1), -1)

    for i in np.flatnonzero(has_row & ~overlap.any(axis=1)):
        warnings.warn(
            "{} {} does not lie in column range {}".format(
                frame.text[i].strip("\n"),
                (x0[i], x1[i]),
                (grid.cols[0][0], grid.cols[-1][1]),
            )
        )

    # error vs chosen cell; index -1 wraps to the last row/col
    rr_t, rr_b = grid.row_t[r], grid.row_b[r]
    cc_l, cc_r = col_l[c], col_r[c]
    y0_off = np.where(y0 > rr_t, np.abs(y0 - rr_t), 0.0)
    y1_off = np.where(y1 < rr_b, np.abs(y1 - rr_b), 0.0)
    x0_off = np.where(x0 < cc_l, np.abs(x0 - cc_l), 0.0)
    x1_off = np.where(x1 > cc_r, np.abs(x1 - cc_r), 0.0)
    X = np.abs(x0 - x1)
    X[X == 0.0] = 1.0
    Y = np.abs(y0 - y1)
    Y[Y == 0.0] = 1.0
    error = ((X * (y0_off + y1_off)) + (Y * (x0_off + x1_off))) / (X * Y)
    return r.astype(np.int64), c.astype(np.int64), error


def reduce_index(
    grid: Grid, indices: list[tuple[int, int, str]], shift_text: list[str]
) -> list[tuple[int, int, str]]:
    """Move spanning-cell text to its anchor cell —
    `camelot/parsers/lattice.py:133-176`.

    The directional while-walks are replaced by precomputed
    nearest-bounded-cell index maps (one accumulate pass per axis,
    cached on the grid — edges are frozen before assignment starts).
    """
    anchors = getattr(grid, "_anchors", None)
    if anchors is None:
        nr, nc = grid.nrows, grid.ncols
        cidx = np.arange(nc)
        ridx = np.arange(nr)
        # nearest col ≤ c with left edge, per row (forward accumulate)
        left_anchor = np.maximum.accumulate(np.where(grid.left, cidx[None, :], -1), axis=1)
        # nearest col ≥ c with right edge (reverse accumulate)
        right_anchor = np.flip(
            np.minimum.accumulate(np.flip(np.where(grid.right, cidx[None, :], nc), axis=1), axis=1),
            axis=1,
        )
        # nearest row ≤ r with top edge, per col
        top_anchor = np.maximum.accumulate(np.where(grid.top, ridx[:, None], -1), axis=0)
        # nearest row ≥ r with bottom edge
        bottom_anchor = np.flip(
            np.minimum.accumulate(np.flip(np.where(grid.bottom, ridx[:, None], nr), axis=0), axis=0),
            axis=0,
        )
        anchors = grid._anchors = (left_anchor, right_anchor, top_anchor, bottom_anchor)
    left_anchor, right_anchor, top_anchor, bottom_anchor = anchors

    out = []
    for r_idx, c_idx, text in indices:
        for d in shift_text:
            if d == "l" and grid.hspan[r_idx, c_idx]:
                c_idx = int(left_anchor[r_idx, c_idx])
            elif d == "r" and grid.hspan[r_idx, c_idx]:
                c_idx = int(right_anchor[r_idx, c_idx])
            elif d == "t" and grid.vspan[r_idx, c_idx]:
                r_idx = int(top_anchor[r_idx, c_idx])
            elif d == "b" and grid.vspan[r_idx, c_idx]:
                r_idx = int(bottom_anchor[r_idx, c_idx])
        out.append((r_idx, c_idx, text))
    return out


def copy_spanning_text(grid: Grid, copy_text: list[str]) -> Grid:
    """Fill empty spanning cells from the left/top neighbor —
    `camelot/parsers/lattice.py:178-209`.

    The reference scans cells in row-major order, so a fill can cascade
    (cell j-1 filled on this pass feeds cell j); a sequential scan per
    direction preserves that.
    """
    for f in copy_text:
        if f == "h":
            for i in range(grid.nrows):
                for j in range(grid.ncols):
                    if grid.text[i, j].strip() == "" and grid.hspan[i, j] and not grid.left[i, j]:
                        grid.text[i, j] = grid.text[i, j] + grid.text[i, j - 1]
        elif f == "v":
            for i in range(grid.nrows):
                for j in range(grid.ncols):
                    if grid.text[i, j].strip() == "" and grid.vspan[i, j] and not grid.top[i, j]:
                        grid.text[i, j] = grid.text[i, j] + grid.text[i - 1, j]
    return grid
