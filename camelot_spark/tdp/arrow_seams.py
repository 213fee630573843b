"""The Arrow ``list<…>`` reading and Spark fold order shared by the
``mapInArrow`` seams (similarity, dedup).

A seam reads a list column as flat buffers (offsets, values, null mask),
densifies the rows of each distinct length into one matrix, and folds
over it. Spark's ``aggregate(zip_with(...), 0.0, acc + x)`` is a
left-to-right IEEE fold: ``acc = acc + x_i·w_i`` over ascending i, the
product rounded, then the sum rounded. ``fold_dot``/``fold_norm`` run
exactly that sequence elementwise (one multiply, one add per step, no
reassociation), so their results equal the expression form bit for bit.
Zero-padding a row appends ``+ 0.0`` squares, which leave its norm
unchanged (a sum of squares is never −0.0).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa


def list_parts(col, dtype=np.float64):
    """(offsets, values, lengths, valid) of a ``list<…>`` Arrow array:
    int64 offsets (n+1, absolute into ``values``, so slices work),
    values cast to ``dtype``, per-row lengths and the non-NULL mask.
    Anything but a plain ``list`` (LargeList, chunked) raises."""
    if not isinstance(col, pa.ListArray):
        raise TypeError(f"expected a list<…> Arrow array, got "
                        f"{type(col).__name__} of type {col.type}")
    # a zero-row array may carry no offsets buffer at all
    offs = (np.asarray(col.offsets, dtype=np.int64) if len(col)
            else np.zeros(1, dtype=np.int64))
    vals = col.values.to_numpy(zero_copy_only=False).astype(dtype, copy=False)
    return offs, vals, np.diff(offs), ~np.asarray(col.is_null())


def by_length(offs, vals, lens, rows):
    """Yield (L, row_idx, X) per distinct length L among the rows the
    boolean mask ``rows`` selects: ``row_idx`` ascending, X the dense
    len(row_idx)×L block of their values."""
    for L in np.unique(lens[rows]):
        idx = np.flatnonzero(rows & (lens == L))
        yield int(L), idx, vals[offs[idx, None] + np.arange(L)[None, :]]


def fold_dot(X, W):
    """X (n×L) · W (L×K) in Spark's fold order (ascending L)."""
    acc = np.zeros((X.shape[0], W.shape[1]))
    for i in range(X.shape[1]):
        acc += X[:, i, None] * W[i, None, :]
    return acc


def fold_norm(X):
    """Row L2 norms of X (n×L): the sum of squares in Spark's fold
    order, then one square root."""
    acc = np.zeros(X.shape[0])
    for i in range(X.shape[1]):
        acc += X[:, i] * X[:, i]
    return np.sqrt(acc)
