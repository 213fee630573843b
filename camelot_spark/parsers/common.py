"""Shared table-build step: text assignment + metrics.

Mirrors the assignment loops of `camelot/parsers/stream.py:389-420` and
`camelot/parsers/lattice.py:325-373`: vertical-then-horizontal
direction order over direction-sorted lines (reading order
`stream.py:326-327`), append-only cell text, accuracy/whitespace.
"""

from __future__ import annotations

from dataclasses import dataclass

from ..kernels import assign as asg
from ..kernels import metrics as mtr
from ..kernels.grid import Grid
from ..kernels.textlines import TL


@dataclass
class TableResult:
    order: int                      # 1-based table number on page
    bbox: tuple                     # (left, bottom, right, top)
    data: list[list[str]]           # stripped cell grid, row-major
    accuracy: float
    whitespace: float
    nrows: int
    ncols: int
    flavor: str


def assign_text(
    grid: Grid,
    t_bbox: dict[str, TL],
    split_text: bool,
    flag_size: bool,
    strip_text: str,
    shift_text: list[str] | None = None,
) -> list[float]:
    """Run the assignment loop; returns per-line position errors.

    Row, column and error of every line come from one
    ``assign_indices_batch`` pass per direction; per line only the text
    is chosen: ``split_textline`` cuts, ``flag_font_size`` or
    ``text_strip``. ``shift_text`` non-None triggers the Lattice
    spanning-cell shift (`lattice.py:353-356`); the reference's
    ``indices[:2] != (-1, -1)`` guard is always true (list vs tuple), so
    assignment is unconditional here too.
    """
    from ..kernels.textproc import flag_font_size, text_strip

    pos_errors: list[float] = []
    for direction in ("vertical", "horizontal"):
        frame = t_bbox[direction]
        r_idx, c_idx, errors = asg.assign_indices_batch(grid, frame)
        pos_errors.extend(errors.tolist())
        for i in range(len(frame)):
            if split_text:
                indices = asg.split_textline(grid, frame.line_dict(i), direction,
                                             flag_size=flag_size, strip_text=strip_text)
            else:
                text = (flag_font_size(frame.chars[i] or [], direction, strip_text) if flag_size
                        else text_strip(frame.text[i], strip_text))
                indices = [(int(r_idx[i]), int(c_idx[i]), text)]
            if shift_text is not None:
                indices = asg.reduce_index(grid, indices, shift_text=shift_text)
            for r, c, text in indices:
                grid.append_text(r, c, text)
    return pos_errors


def finish_table(
    grid: Grid,
    pos_errors: list[float],
    order: int,
    bbox: tuple,
    flavor: str,
) -> TableResult:
    data = grid.data()
    return TableResult(
        order=order,
        bbox=tuple(float(v) for v in bbox),
        data=data,
        accuracy=mtr.compute_accuracy([[100, pos_errors]]),
        whitespace=mtr.compute_whitespace(data) if data and data[0] else 0.0,
        nrows=grid.nrows,
        ncols=grid.ncols,
        flavor=flavor,
    )
