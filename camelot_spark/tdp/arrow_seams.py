"""The two seam shapes of the Python stages that run on ``mapInArrow``.

Row seams (multimodal decode, decontamination, fixture synthesis):
``map_rows`` calls a per-row function over each Arrow batch and builds
the output batch from the seam's one Spark schema (``rows_batch``), with
no pandas round-trip.

Column seams (similarity, dedup) read a list column as flat buffers
(offsets, values, null mask), densify the rows of each distinct length
into one matrix, and fold over it. Spark's
``aggregate(zip_with(...), 0.0, acc + x)`` is a left-to-right IEEE fold:
``acc = acc + x_i·w_i`` over ascending i, the product rounded, then the
sum rounded. ``fold_dot``/``fold_norm`` run exactly that sequence
elementwise (one multiply, one add per step, no reassociation), so their
results equal the expression form bit for bit. Zero-padding a row
appends ``+ 0.0`` squares, which leave its norm unchanged (a sum of
squares is never −0.0).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa


def rows_batch(rows: list[tuple], schema):
    """RecordBatch of the Spark ``schema`` (one of ``schema.py``'s) from
    row tuples nested the same way: structs as tuples, arrays as lists
    of tuples. ``to_arrow_schema`` gives the Arrow types, plain ``list``
    and the non-null fields included."""
    from pyspark.sql.pandas.types import to_arrow_schema

    return pa.RecordBatch.from_struct_array(
        pa.array(rows, type=pa.struct(to_arrow_schema(schema))))


def map_rows(df, fn, schema):
    """``df.mapInArrow`` with a per-row ``fn``: each input row's values,
    in ``df``'s column order, go to ``fn(*row)``, which returns that
    row's output tuples (any number of them, in ``schema``'s field
    order); each input batch yields one ``rows_batch`` of them."""

    def batches(it):
        for batch in it:
            cols = [c.to_pylist() for c in batch.columns]
            yield rows_batch([out for row in zip(*cols) for out in fn(*row)],
                             schema)

    return df.mapInArrow(batches, schema)


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
