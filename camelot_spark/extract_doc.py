"""Document-level extraction: spans in → ordered span sequence out.

Implements the north_rule output contract (FIXTURES.md §2): each
document's tables become ``cell`` spans in reading order (tables
ordered by the reference's bottom-y-descending sort
`camelot/parsers/stream.py:455-456`, cells row-major
`camelot/core.py:364-370`), prose (text not consumed by any table)
interleaves by position, ``media`` spans pass through. Pure numpy —
Spark-free, so it is unit-testable and reusable from both
``mapInArrow`` and local tests.
"""

from __future__ import annotations

import numpy as np

from .config import LatticeConfig, StreamConfig
from .kernels import textlines as tlk
from .parsers.common import TableResult
from .parsers.lattice import extract_lattice
from .parsers.page import Page, parse_page
from .parsers.stream import extract_stream

# unit type ranks for the interleave sort (deterministic tie-break)
_RANK_TABLE, _RANK_PROSE, _RANK_MEDIA = 0, 1, 2


def extract_document(spans: list[dict], cfg: StreamConfig | LatticeConfig) -> dict:
    """Run one flavor over one document's spans.

    Returns {spans: [(kind,text,media_ref,order)...], tables:
    [TableResult...], n_tables, accuracy, whitespace}.
    """
    page = parse_page(spans, layout_kwargs=cfg.layout_kwargs)
    if isinstance(cfg, StreamConfig):
        tables = extract_stream(page, cfg)
    else:
        tables = extract_lattice(page, cfg)
    out_spans = assemble_spans(page, tables)
    # Reconstruction invariant for the sinks: the ``tables`` array must
    # list tables in the SAME order their cell blocks appear in
    # ``spans``. assemble_spans breaks bottom-y ties by x0 (then parser
    # order), while the parsers sort by -y with insertion-order
    # tie-break — two side-by-side tables sharing a baseline would
    # otherwise map block i to tables[j].
    tables = tables_in_span_order(tables)
    n = len(tables)
    return {
        "spans": out_spans,
        "tables": tables,
        "n_tables": n,
        "accuracy": (sum(t.accuracy for t in tables) / n) if n else None,
        "whitespace": (sum(t.whitespace for t in tables) / n) if n else None,
    }


def tables_in_span_order(tables: list[TableResult]) -> list[TableResult]:
    """Tables in the exact order assemble_spans emits their cell blocks:
    the unit sort key (-anchor_y, x_anchor, rank, seq) restricted to
    table units — (-bbox.bottom, bbox.left, order)."""
    return sorted(tables, key=lambda t: (-t.bbox[1], t.bbox[0], t.order))


def assemble_spans(page: Page, tables: list[TableResult]) -> list[tuple]:
    """Interleave table cells, leftover prose and media into one ordered
    sequence.

    Unit anchors: table → its bbox bottom y (the reference's table sort
    key), prose line → its y0, media → its bbox y0 (page bottom if
    absent, so bare media sinks last). Units sort by
    (-anchor_y, x_anchor, type_rank, seq); cells expand row-major.
    """
    units = []  # (anchor_y, x_anchor, rank, seq, payload)
    for t in tables:
        units.append((t.bbox[1], t.bbox[0], _RANK_TABLE, t.order, t))

    consumed_h = np.zeros(len(page.horizontal_text), dtype=bool)
    consumed_v = np.zeros(len(page.vertical_text), dtype=bool)
    for t in tables:
        consumed_h |= tlk.text_in_bbox_mask(t.bbox, page.horizontal_text)
        consumed_v |= tlk.text_in_bbox_mask(t.bbox, page.vertical_text)
    for frame, consumed in ((page.horizontal_text, consumed_h), (page.vertical_text, consumed_v)):
        for i in range(len(frame)):
            if consumed[i]:
                continue
            text = (frame.text[i] or "").strip()
            if not text:
                continue
            units.append((float(frame.y0[i]), float(frame.x0[i]), _RANK_PROSE, int(frame.offset[i]), text))

    for m in page.media:
        anchor = float(m.bbox[1]) if m.bbox is not None else float("-inf")
        x_anchor = float(m.bbox[0]) if m.bbox is not None else float("inf")
        units.append((anchor, x_anchor, _RANK_MEDIA, m.offset, m.media_ref))

    units.sort(key=lambda u: (-u[0], u[1], u[2], u[3]))

    out: list[tuple] = []
    order = 0
    for _, _, rank, _, payload in units:
        if rank == _RANK_TABLE:
            for row in payload.data:
                for cell in row:
                    out.append(("cell", cell, "", order))
                    order += 1
        elif rank == _RANK_PROSE:
            out.append(("prose", payload, "", order))
            order += 1
        else:
            out.append(("media", "", payload, order))
            order += 1
    return out
