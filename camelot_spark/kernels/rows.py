"""Row clustering and row-boundary construction (Stream flavor).

Re-derives `camelot/parsers/stream.py:105-137` (``_group_rows``) and
`:183-208` (``_join_rows``). The grouping is an anchor-gated 1-D
clustering: a new row starts when the line's y0 is not within
``row_tol`` of the *first* line of the current group (the reference's
``row_y`` only changes at group breaks) — an order-sensitive fold kept
as a tight scalar scan over the (few) lines of a page.
"""

from __future__ import annotations

import numpy as np

from .textlines import TL, isclose


def group_rows_indices(tl: TL, row_tol: float) -> list[np.ndarray]:
    """Row groups as index arrays into ``tl`` (reading-ordered input),
    each sorted by x0 (`stream.py:131`). Blank lines are skipped; the
    bootstrap group anchored at y=0 is discarded (`stream.py:136`)."""
    n = len(tl)
    if n == 0:
        return []
    y0 = tl.y0
    blank = ~tl.nonblank_mask()
    groups: list[list[int]] = []
    cur: list[int] = []
    row_y = 0.0
    started = False  # False while filling the bootstrap group
    for i in range(n):
        if blank[i]:
            continue
        if not isclose(row_y, y0[i], atol=row_tol):
            if started:
                groups.append(cur)
            # the bootstrap group (pre-first-break) is dropped either way
            cur = []
            row_y = y0[i]
            started = True
        cur.append(i)
    if started:
        groups.append(cur)
    out = []
    for g in groups:
        idx = np.asarray(g, dtype=np.int64)
        out.append(idx[np.argsort(tl.x0[idx], kind="stable")])
    return out


def join_rows(
    row_groups: list[np.ndarray], tl: TL, text_y_max: float, text_y_min: float
) -> list[tuple[float, float]]:
    """Continuous row y-intervals — `camelot/parsers/stream.py:183-208`."""
    mids = (tl.y0 + tl.y1) / 2.0
    row_mids = [float(mids[g].sum() / len(g)) if len(g) else 0.0 for g in row_groups]
    bounds = [(row_mids[i] + row_mids[i - 1]) / 2.0 for i in range(1, len(row_mids))]
    bounds.insert(0, text_y_max)
    bounds.append(text_y_min)
    return [(bounds[i], bounds[i + 1]) for i in range(len(bounds) - 1)]
