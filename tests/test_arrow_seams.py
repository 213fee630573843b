"""camelot_spark.tdp.arrow_seams: the row-seam batch builder, the
list-column reading and Spark fold order shared by the mapInArrow seams,
and the guard that keeps every Python seam on them. Pure numpy/pyarrow,
no Spark session."""

import ast
import math
import pathlib
import struct

import numpy as np
import pyarrow as pa
import pytest

from camelot_spark.tdp.arrow_seams import (
    by_length,
    fold_dot,
    fold_norm,
    list_parts,
    rows_batch,
)


def _bits(x):
    return struct.pack("<d", x)


def _py_dot(xs, ws):
    acc = 0.0
    for x, w in zip(xs, ws):
        acc = acc + x * w
    return acc


ROWS = [
    [1e16, 1.0, -1e16],         # cancellation: order-sensitive
    [1.0, 1e16, -1e16],
    [float("nan"), 2.0, 3.0],
    [float("inf"), -1.0, 0.5],
    [-0.0, -0.0, -0.0],
    [1e-300, 1e300, -1e300],
    [3.0, -4.0, 1e-16],
    [1e8, 1.0, 1.0],            # squares 1e16 + 1 + 1: order-sensitive
]


def test_fold_dot_matches_python_left_to_right_fold():
    X = np.array(ROWS)
    W = np.array([[1.0, -1.0, 0.5],
                  [1.0, 1e-16, float("-inf")],
                  [1.0, -0.0, 2.0]])
    got = fold_dot(X, W)
    assert got.shape == (len(ROWS), 3)
    for r, row in enumerate(ROWS):
        for k in range(3):
            assert _bits(got[r, k]) == _bits(_py_dot(row, W[:, k].tolist()))
    # the cancellation rows tell the fold order apart
    assert got[0, 0] == 0.0 and got[1, 0] == 0.0
    assert fold_dot(np.array([[1.0, 1e16, -1e16]]), np.ones((3, 1)))[0, 0] == 0.0
    assert fold_dot(np.array([[1e16, -1e16, 1.0]]), np.ones((3, 1)))[0, 0] == 1.0


def test_fold_norm_matches_python_left_to_right_fold():
    got = fold_norm(np.array(ROWS))
    for r, row in enumerate(ROWS):
        assert _bits(got[r]) == _bits(math.sqrt(_py_dot(row, row)))
    # −0.0 squares sum from +0.0: the norm is +0.0, as in Spark
    assert _bits(got[4]) == _bits(0.0)
    assert got[7] == 1e8  # the trailing 1s are absorbed one at a time


def test_folds_on_zero_length_rows():
    X = np.zeros((3, 0))
    assert fold_dot(X, np.zeros((0, 2))).tolist() == [[0.0, 0.0]] * 3
    assert [_bits(v) for v in fold_norm(X)] == [_bits(0.0)] * 3


def test_fold_norm_unchanged_by_zero_padding():
    rng = np.random.default_rng(3)
    X = rng.normal(size=(20, 5)) * 1e3
    padded = np.concatenate([X, np.zeros((20, 4))], axis=1)
    assert fold_norm(X).tobytes() == fold_norm(padded).tobytes()


def test_by_length_groups_ragged_null_and_empty_rows():
    rows = [[1.0, 2.0], None, [], [3.0], [4.0, 5.0], [6.0], None, []]
    col = pa.array(rows, pa.list_(pa.float64()))
    offs, vals, lens, valid = list_parts(col)
    seen = set()
    for L, idx, X in by_length(offs, vals, lens, valid):
        assert list(idx) == sorted(idx)
        assert X.shape == (len(idx), L)
        for i, x in zip(idx, X):
            assert x.tolist() == rows[i]
        seen.update(idx.tolist())
    assert seen == {i for i, r in enumerate(rows) if r is not None}
    assert [L for L, _, _ in by_length(offs, vals, lens, valid)] == [0, 1, 2]


def test_list_parts_empty_batch_and_empty_int64_values():
    no_offsets = pa.Array.from_buffers(
        pa.list_(pa.float64()), 0, [None, None],
        children=[pa.array([], pa.float64())])
    for empty in (pa.array([], pa.list_(pa.float64())), no_offsets):
        offs, vals, lens, valid = list_parts(empty)
        assert offs.tolist() == [0]
        assert len(vals) == len(lens) == len(valid) == 0
    offs, vals, lens, valid = list_parts(
        pa.array([None, []], pa.list_(pa.int64())), np.int64)
    assert vals.dtype == np.int64 and len(vals) == 0
    assert offs.tolist() == [0, 0, 0] and valid.tolist() == [False, True]
    assert list(by_length(offs, vals, lens, valid))[0][2].shape == (1, 0)


def test_list_parts_reads_a_sliced_array():
    full = pa.array([[1, 2], None, [], [3, 4, 5], [6]], pa.list_(pa.int64()))
    sl = full.slice(1, 3)
    offs, vals, lens, valid = list_parts(sl, np.int64)
    assert lens.tolist() == [0, 0, 3] and valid.tolist() == [False, True, True]
    assert [vals[offs[i]:offs[i + 1]].tolist() for i in range(3)] == [[], [], [3, 4, 5]]


def test_list_parts_casts_float32_values():
    col = pa.array([[0.1, 0.2]], pa.list_(pa.float32()))
    _, vals, _, _ = list_parts(col)
    assert vals.dtype == np.float64
    assert vals.tolist() == [float(np.float32(0.1)), float(np.float32(0.2))]


def test_list_parts_rejects_large_list():
    with pytest.raises(TypeError, match="large_list"):
        list_parts(pa.array([[1]], pa.large_list(pa.int64())), np.int64)


def test_rows_batch_of_no_rows_keeps_the_schema_types():
    from camelot_spark.tdp.multimodal import FRAME_SCHEMA

    batch = rows_batch([], FRAME_SCHEMA)
    assert batch.num_rows == 0
    assert batch.schema.names == ["doc_id", "frame_idx", "frame"]
    assert batch.schema.types == [pa.string(), pa.int32(), pa.binary()]
    assert [f.nullable for f in batch.schema] == [False, False, False]


_REPO = pathlib.Path(__file__).resolve().parent.parent
_PANDAS_SEAMS = {"mapInPandas", "applyInPandas", "pandas_udf"}


def _pandas_uses(path):
    """(line, what) for each pandas seam call or pandas import in ``path``."""
    found = []
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Call):
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
            if name in _PANDAS_SEAMS:
                found.append((node.lineno, name))
        elif isinstance(node, ast.Import):
            found += [(node.lineno, "import " + a.name) for a in node.names
                      if a.name.split(".")[0] == "pandas"]
        elif isinstance(node, ast.ImportFrom) and node.level == 0 and (
                node.module.split(".")[0] == "pandas"):
            found.append((node.lineno, "from " + node.module))
    return found


def test_product_code_has_no_pandas_seam():
    """Every per-row Python seam runs on mapInArrow (``map_rows`` or a
    numpy column seam): no product file calls a pandas UDF API or
    imports pandas."""
    files = [_REPO / "__spark_entry__.py",
             *sorted((_REPO / "camelot_spark").rglob("*.py")),
             *sorted((_REPO / "jobs").rglob("*.py"))]
    assert len(files) > 40
    bad = {str(p.relative_to(_REPO)): uses for p in files if (uses := _pandas_uses(p))}
    assert bad == {}
