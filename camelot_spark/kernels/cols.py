"""Column inference for the Stream flavor.

Re-derives `camelot/parsers/stream.py:139-181` (``_merge_columns``),
`:210-236` (``_add_columns``), `:238-260` (``_join_columns``) and the
mode-of-row-lengths column-count guess (`:347-364`).
"""

from __future__ import annotations

import warnings

import numpy as np

from . import rows as rows_kernel
from .textlines import TL, isclose


def mode_ncols(elements: list[int]) -> int | None:
    """Modal row length — `camelot/parsers/stream.py:349-358`.

    ``max(set(e), key=e.count)``; if the mode is 1, retry with 1s
    removed; None if nothing remains (no table). Ties break toward the
    smallest value (CPython small-int set iteration order).
    """
    if not elements:
        return None
    vals, counts = np.unique(np.asarray(elements, dtype=np.int64), return_counts=True)
    ncols = int(vals[np.argmax(counts)])  # np.unique sorts → ties → smallest
    if ncols == 1:
        kept = [e for e in elements if e != 1]
        if kept:
            vals, counts = np.unique(np.asarray(kept, dtype=np.int64), return_counts=True)
            ncols = int(vals[np.argmax(counts)])
        else:
            return None
    return ncols


def merge_columns(intervals: list[tuple[float, float]], column_tol: float = 0):
    """Sorted-interval union with tolerance — `stream.py:139-181`.

    Sequential left-fold (the negative-tolerance branch depends on the
    running last element, so order matters).
    """
    merged: list[tuple[float, float]] = []
    for higher in intervals:
        if not merged:
            merged.append(higher)
            continue
        lower = merged[-1]
        if column_tol >= 0:
            if higher[0] <= lower[1] or isclose(higher[0], lower[1], atol=column_tol):
                merged[-1] = (min(lower[0], higher[0]), max(lower[1], higher[1]))
            else:
                merged.append(higher)
        else:
            if higher[0] <= lower[1]:
                if isclose(higher[0], lower[1], atol=abs(column_tol)):
                    merged.append(higher)
                else:
                    merged[-1] = (min(lower[0], higher[0]), max(lower[1], higher[1]))
            else:
                merged.append(higher)
    return merged


def add_columns(
    cols: list[tuple[float, float]], text: TL, row_tol: float
) -> list[tuple[float, float]]:
    """Extend columns from stray text — `stream.py:210-236`."""
    if len(text):
        grouped = rows_kernel.group_rows_indices(text, row_tol=row_tol)
        elements = [len(g) for g in grouped]
        if elements:
            mx = max(elements)
            new_cols = [
                (float(text.x0[i]), float(text.x1[i]))
                for g in grouped
                if len(g) == mx
                for i in g
            ]
            cols = cols + merge_columns(sorted(new_cols))
    return cols


def join_columns(
    cols: list[tuple[float, float]], text_x_min: float, text_x_max: float
) -> list[tuple[float, float]]:
    """Continuous column x-intervals — `stream.py:238-260`."""
    cols = sorted(cols)
    bounds = [(cols[i][0] + cols[i - 1][1]) / 2.0 for i in range(1, len(cols))]
    bounds.insert(0, text_x_min)
    bounds.append(text_x_max)
    return [(bounds[i], bounds[i + 1]) for i in range(len(bounds) - 1)]


def infer_columns(
    row_groups: list[np.ndarray],
    elements: list[int],
    h_text: TL,
    v_text: TL,
    text_x_min: float,
    text_x_max: float,
    row_tol: float,
    column_tol: float,
    table_label: str,
) -> list[tuple[float, float]]:
    """Full inferred-columns path — `stream.py:347-385`.

    The inner/outer stray-text scan iterates horizontal-then-vertical
    (the reference's t_bbox dict order) per gap.
    """
    ncols = mode_ncols(elements)
    if ncols is None:
        warnings.warn(f"No tables found in table area {table_label}")
        ncols = 1  # reference proceeds with the stale ncols == 1
    cols = [
        (float(h_text.x0[i]), float(h_text.x1[i]))
        for g in row_groups
        if len(g) == ncols
        for i in g
    ]
    cols = merge_columns(sorted(cols), column_tol=column_tol)

    frames = [h_text, v_text]
    inner_idx: list[tuple[TL, np.ndarray]] = []
    for i in range(1, len(cols)):
        left = cols[i - 1][1]
        right = cols[i][0]
        for f in frames:
            if len(f) == 0:
                continue
            m = (f.x0 > left) & (f.x1 < right)
            if m.any():
                inner_idx.append((f, np.flatnonzero(m)))
    if cols:
        for f in frames:
            if len(f) == 0:
                continue
            m = (f.x0 > cols[-1][1]) | (f.x1 < cols[0][0])
            if m.any():
                inner_idx.append((f, np.flatnonzero(m)))
    if inner_idx:
        inner_text = _concat_tl(inner_idx)
        cols = add_columns(cols, inner_text, row_tol)
    return join_columns(cols, text_x_min, text_x_max)


def _concat_tl(parts: list[tuple[TL, np.ndarray]]) -> TL:
    x0 = np.concatenate([f.x0[i] for f, i in parts])
    y0 = np.concatenate([f.y0[i] for f, i in parts])
    x1 = np.concatenate([f.x1[i] for f, i in parts])
    y1 = np.concatenate([f.y1[i] for f, i in parts])
    text = [f.text[j] for f, i in parts for j in i]
    chars = [f.chars[j] for f, i in parts for j in i]
    offset = np.concatenate([f.offset[i] for f, i in parts])
    return TL(x0, y0, x1, y1, text, chars, offset)
