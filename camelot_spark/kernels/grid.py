"""Cell-grid state as boolean matrices (replaces camelot's Cell objects).

The reference keeps a ``cells[r][c]`` object grid with per-cell edge
booleans and walks it with nested loops (`camelot/core.py:234-569`).
Here the grid is four (nrows, ncols) boolean matrices L/R/T/B plus
hspan/vspan matrices and an object array of cell texts; edge marking
becomes strided slice assignment.
"""

from __future__ import annotations

import numpy as np


class Grid:
    """Table grid over ``cols`` (x asc) and ``rows`` (y desc) intervals —
    mirrors `camelot/core.py:342-345`."""

    def __init__(self, cols: list[tuple[float, float]], rows: list[tuple[float, float]]):
        self.cols = [(float(a), float(b)) for a, b in cols]
        self.rows = [(float(a), float(b)) for a, b in rows]
        # cached coordinate arrays (hot path: per-textline assignment)
        self.col_l = np.asarray([c[0] for c in self.cols])
        self.col_r = np.asarray([c[1] for c in self.cols])
        self.row_t = np.asarray([r[0] for r in self.rows])
        self.row_b = np.asarray([r[1] for r in self.rows])
        nr, nc = len(rows), len(cols)
        self.nrows, self.ncols = nr, nc
        self.left = np.zeros((nr, nc), dtype=bool)
        self.right = np.zeros((nr, nc), dtype=bool)
        self.top = np.zeros((nr, nc), dtype=bool)
        self.bottom = np.zeros((nr, nc), dtype=bool)
        self.hspan = np.zeros((nr, nc), dtype=bool)
        self.vspan = np.zeros((nr, nc), dtype=bool)
        # append-only text accumulation (`core.py:302-304`)
        self.text = np.full((nr, nc), "", dtype=object)

    # -- edge setting ------------------------------------------------------

    def set_all_edges(self) -> "Grid":
        """All edges true — `camelot/core.py:386-392` (Stream path)."""
        self.left[:] = self.right[:] = self.top[:] = self.bottom[:] = True
        return self

    def set_edges(self, vertical: np.ndarray, horizontal: np.ndarray, joint_tol: float) -> "Grid":
        """Mark cell edges crossed by ruling segments — `core.py:394-527`.

        Replicates the reference's index-matching exactly, including the
        border-only special cases (segment matching no column → right
        edge of the last column, etc.) and the skip when the segment's
        leading coordinate aligns with no row/col.
        """
        # np.isclose semantics (|a-b| <= atol + rtol*|b|, rtol=1e-5),
        # batched: one broadcast per coordinate column for ALL segments
        # (first-match index + match count are all the loop needs)
        col_tol = joint_tol + 1.0e-5 * np.abs(self.col_l)
        row_tol = joint_tol + 1.0e-5 * np.abs(self.row_t)

        def matches(vals: np.ndarray, coords: np.ndarray, tol: np.ndarray):
            m = np.abs(vals[:, None] - coords[None, :]) <= tol[None, :]
            return m.sum(axis=1), m.argmax(axis=1)  # (count, first index)

        v = np.asarray(vertical, dtype=np.float64).reshape(-1, 4)
        if len(v):
            # v = (x, y_bottom, x, y_top) in PDF space
            i_n, i_0 = matches(v[:, 0], self.col_l, col_tol)
            j_n, j_0 = matches(v[:, 3], self.row_t, row_tol)
            k_n, k_0 = matches(v[:, 1], self.row_t, row_tol)
            for s in range(len(v)):
                if j_n[s] == 0:
                    continue
                J = int(j_0[s])
                K = int(k_0[s]) if k_n[s] else self.nrows
                if i_n[s] == 1 and i_0[s] == 0:   # exactly [0] → left edge of col 0
                    self.left[J:K, 0] = True
                elif i_n[s] == 0:                 # right edge of last col
                    self.right[J:K, self.ncols - 1] = True
                else:                             # interior: left of col i, right of i-1
                    L = int(i_0[s])
                    self.left[J:K, L] = True
                    self.right[J:K, L - 1] = True  # L==0 wraps to last col, as in reference

        h = np.asarray(horizontal, dtype=np.float64).reshape(-1, 4)
        if len(h):
            # h = (x_left, y, x_right, y)
            i_n, i_0 = matches(h[:, 1], self.row_t, row_tol)
            j_n, j_0 = matches(h[:, 0], self.col_l, col_tol)
            k_n, k_0 = matches(h[:, 2], self.col_l, col_tol)
            for s in range(len(h)):
                if j_n[s] == 0:
                    continue
                J = int(j_0[s])
                K = int(k_0[s]) if k_n[s] else self.ncols
                if i_n[s] == 1 and i_0[s] == 0:   # exactly [0] → top edge of row 0
                    self.top[0, J:K] = True
                elif i_n[s] == 0:                 # bottom edge of last row
                    self.bottom[self.nrows - 1, J:K] = True
                else:
                    L = int(i_0[s])
                    self.top[L, J:K] = True
                    self.bottom[L - 1, J:K] = True  # L==0 wraps to last row
        return self

    def set_border(self) -> "Grid":
        """Outer border — `camelot/core.py:529-538`."""
        self.left[:, 0] = True
        self.right[:, -1] = True
        self.top[0, :] = True
        self.bottom[-1, :] = True
        return self

    def set_span(self) -> "Grid":
        """hspan/vspan truth table — `camelot/core.py:540-569`.

        Elementwise boolean algebra over the bound count.
        """
        L, R, T, B = self.left, self.right, self.top, self.bottom
        bound = L.astype(np.int8) + R + T + B
        b3 = bound == 3
        self.hspan |= b3 & ((~L & R & T & B) | (~R & L & T & B))
        self.vspan |= b3 & ((~T & L & R & B) | (~B & L & R & T))
        b2 = bound == 2
        self.vspan |= b2 & L & R & ~T & ~B
        self.hspan |= b2 & T & B & ~L & ~R
        b01 = bound <= 1
        self.hspan |= b01
        self.vspan |= b01
        return self

    # -- text --------------------------------------------------------------

    def append_text(self, r: int, c: int, t: str) -> None:
        """Append-only cell text setter (`core.py:302-304`); negative
        indices wrap like Python lists, preserving the reference's
        cells[-1][-1] fallthrough for unassigned lines."""
        self.text[r, c] = self.text[r, c] + t

    def data(self) -> list[list[str]]:
        """2-D list of stripped strings — `camelot/core.py:363-370`."""
        return [[self.text[r, c].strip() for c in range(self.ncols)] for r in range(self.nrows)]
