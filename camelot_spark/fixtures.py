"""Deterministic synthetic fixture corpus (FIXTURES.md §3).

Each family mirrors a reference test PDF's *geometry* (see
`/root/reference/tests/files/`) without copying any data: layouts are
built from the constants below, and goldens (expected ordered span
sequences) are derived analytically from those constants — never by
running the extractor.

Layout conventions: PDF space, bottom-left origin; textlines have
height ``H`` (10) and char width ``CW`` (5); line text carries a
trailing newline like PDFMiner's LTTextLine.get_text(); char lists end
with a geometry-less anno dict modeling the trailing LTAnno.
"""

from __future__ import annotations

import contextvars
import json
import zlib

H = 10.0       # textline height
CW = 5.0       # char width
ROW_H = 14.0   # stream table row pitch
# pathological-skew knob (FIXTURES.md §4): this share of builder_for
# keys builds the multi-table family
SKEW_FAMILY, SKEW_FRAC = "twotables", 0.05


# ---------------------------------------------------------------------------
# low-level builders
# ---------------------------------------------------------------------------

def make_line(text: str, x0: float, y0: float, small: set | None = None) -> dict:
    """One textline payload with per-char boxes + trailing anno.

    ``small``: char indices rendered at 60% height (superscript model).
    """
    chars = []
    x = x0
    for i, c in enumerate(text):
        ch_h = H * 0.6 if small and i in small else H
        chars.append({"c": c, "x0": x, "y0": y0, "x1": x + CW, "y1": y0 + ch_h})
        x += CW
    chars.append({"c": "\n"})
    return {
        "t": text + "\n",
        "x0": x0,
        "y0": y0,
        "x1": x0 + len(text) * CW,
        "y1": y0 + H,
        "chars": chars,
    }


# When set (builder_for(..., raw=True) inside the fused pipeline),
# builders skip JSON-serializing payloads — raw_spans() is the only
# consumer and it reads the payload dicts directly. A ContextVar (not a
# module global) so a concurrent non-raw build in another thread of the
# same interpreter can never observe the raw flag.
_RAW_BUILD = contextvars.ContextVar("camelot_spark_raw_build", default=False)


def span(kind: str, payload: dict, offset: int, media_ref: str = "") -> dict:
    text = None if _RAW_BUILD.get() else json.dumps(payload)
    return {"kind": kind, "text": text, "media_ref": media_ref, "offset": offset}


def _payload_of(builder: "DocBuilder", s: dict) -> dict:
    """Payload dict of one of ``builder``'s spans, whether or not the
    JSON string was materialized."""
    p = builder._raw.get(s["offset"])
    return p if p is not None else (json.loads(s["text"]) if s["text"] else {})


def meta_span(width: float, height: float) -> dict:
    return span("meta", {"width": width, "height": height}, 0)


class DocBuilder:
    """Accumulates spans with running offsets + golden units."""

    def __init__(self, doc_id: str, width: float = 612.0, height: float = 792.0):
        self.doc_id = doc_id
        self.width = width
        self.height = height
        self.spans = [meta_span(width, height)]
        self._off = 1
        # payload dicts keyed by offset (raw_spans fast path)
        self._raw: dict[int, dict] = {0: {"width": width, "height": height}}
        # golden units: (anchor_y, x_anchor, rank, seq, payload)
        self.golden_units: list[tuple] = []
        self.flavor = "stream"
        self.extract_kwargs: dict = {}

    def add_span(self, kind: str, payload: dict, media_ref: str = "") -> int:
        off = self._off
        self.spans.append(span(kind, payload, off, media_ref))
        self._raw[off] = payload
        self._off += 1
        return off

    def raw_spans(self) -> list[dict]:
        """Spans with payload DICTS in ``text`` — skips the fixture
        JSON round-trip (dumps here + loads in parse_page ≈ 22% of the
        fused corpus-pipeline cost). Falls back to parsing the JSON for
        builders that assembled ``spans`` directly (rotated families)."""
        out = []
        for s in self.spans:
            p = self._raw.get(s["offset"])
            if p is None:
                p = json.loads(s["text"]) if s["text"] else {}
            out.append({"kind": s["kind"], "text": p,
                        "media_ref": s["media_ref"], "offset": s["offset"]})
        return out

    def add_prose(self, text: str, x0: float, y0: float) -> None:
        line = make_line(text, x0, y0)
        off = self.add_span("prose", line)
        self.golden_units.append((y0, x0, 1, off, text))

    def add_table_golden(self, anchor_y: float, x_anchor: float, order: int,
                         data: list[list[str]]) -> None:
        self.golden_units.append((anchor_y, x_anchor, 0, order, data))

    def add_media_golden(self, anchor_y: float, x_anchor: float, offset: int,
                         media_ref: str) -> None:
        self.golden_units.append((anchor_y, x_anchor, 2, offset, media_ref))

    def golden(self) -> list[tuple]:
        """Expected ordered output span sequence (kind, text, media_ref, order)."""
        out, order = [], 0
        for _, _, rank, _, payload in sorted(self.golden_units,
                                             key=lambda u: (-u[0], u[1], u[2], u[3])):
            if rank == 0:
                for row in payload:
                    for cell in row:
                        out.append(("cell", cell, "", order))
                        order += 1
            elif rank == 1:
                out.append(("prose", payload, "", order))
                order += 1
            else:
                out.append(("media", "", payload, order))
                order += 1
        return out


def add_stream_table(b: DocBuilder, cells: list[list[str]], col_x: list[float],
                     y_top: float, small: dict | None = None) -> dict:
    """Left-aligned stream table, rows ``ROW_H`` apart; returns geometry
    facts for golden math.

    ``cells[i][j]``: text of row i (top first), col j; '' → no textline.
    ``small``: {(i, j): set(char_idx)} superscript chars.
    """
    nrows = len(cells)
    y_rows = [y_top - i * ROW_H for i in range(nrows)]  # y0 of each row's lines
    for i, row in enumerate(cells):
        for j, text in enumerate(row):
            if text == "":
                continue
            sm = small.get((i, j)) if small else None
            line = make_line(text, col_x[j], y_rows[i], small=sm)
            b.add_span("text_h", line)
    return {
        "y_top_line": y_rows[0] + H,   # top of highest line
        "y_bottom_line": y_rows[-1],   # y0 of lowest line
        "anchor_estimate": y_rows[-1], # bbox bottom ~ lowest y0 - padding
    }


def _rasterize_segments(segments: list[tuple], width: float, height: float,
                        scale: int) -> dict:
    """Draw ruling segments as black strokes on a white page bitmap —
    the fixture stand-in for the ghostscript page render
    (`camelot/parsers/lattice.py:211-221`). Image space: row 0 = top."""
    import numpy as np

    from .kernels.raster import encode_bitmap

    img_w, img_h = int(width * scale), int(height * scale)
    mask = np.zeros((img_h, img_w), dtype=bool)
    t = 1  # half-width of the 3 px ruling stroke
    for (x0, y0, x1, y1) in segments:
        c0, c1 = int(round(min(x0, x1) * scale)), int(round(max(x0, x1) * scale))
        r0 = img_h - int(round(max(y0, y1) * scale))
        r1 = img_h - int(round(min(y0, y1) * scale))
        mask[max(r0 - t, 0):r1 + t + 1, max(c0 - t, 0):c1 + t + 1] = True
    return encode_bitmap(mask)


def make_vline(text: str, x0: float, y0: float, y1: float) -> dict:
    """Vertical textline payload (text_v kind): chars stacked top→down,
    one textline height ``H`` wide."""
    chars = []
    ch_h = (y1 - y0) / max(len(text), 1)
    for i, c in enumerate(text):
        cy1 = y1 - i * ch_h
        chars.append({"c": c, "x0": x0, "y0": cy1 - ch_h, "x1": x0 + H, "y1": cy1})
    chars.append({"c": "\n"})
    return {"t": text + "\n", "x0": x0, "y0": y0, "x1": x0 + H, "y1": y1, "chars": chars}


def add_lattice_table(b: DocBuilder, cells: list[list[str]], xs: list[float],
                      ys: list[float], media_ref: str,
                      drop_v: list[tuple] | None = None,
                      drop_h: list[tuple] | None = None,
                      emit_media_golden: bool = True,
                      raster_scale: int | None = None,
                      raster_levels: tuple[int, int] | None = None,
                      raster_noise: tuple[int, int] | None = None) -> dict:
    """Fully/partially ruled lattice table.

    ``xs``: column boundary x coords (asc, len C+1); ``ys``: row boundary
    y coords (desc, len R+1). Cell (i, j) spans x [xs[j], xs[j+1]],
    y [ys[i+1], ys[i]]. ``drop_v``: (j, i) vertical unit edges to omit —
    boundary j, row i; ``drop_h``: (i, j) horizontal unit edges to omit —
    boundary i, col j. Text is centered-ish inside each cell.
    """
    R, C = len(cells), len(cells[0])
    drop_v = set(drop_v or [])
    drop_h = set(drop_h or [])

    # vertical segments: per boundary j, maximal runs of rows not dropped
    segs_v, segs_h = [], []
    for j in range(C + 1):
        run = []
        for i in range(R):
            if (j, i) in drop_v:
                if run:
                    segs_v.append((xs[j], ys[run[-1] + 1], xs[j], ys[run[0]]))
                    run = []
            else:
                run.append(i)
        if run:
            segs_v.append((xs[j], ys[run[-1] + 1], xs[j], ys[run[0]]))
    for i in range(R + 1):
        run = []
        for j in range(C):
            if (i, j) in drop_h:
                if run:
                    segs_h.append((xs[run[0]], ys[i], xs[run[-1] + 1], ys[i]))
                    run = []
            else:
                run.append(j)
        if run:
            segs_h.append((xs[run[0]], ys[i], xs[run[-1] + 1], ys[i]))

    bbox = (xs[0], ys[-1], xs[-1], ys[0])
    if raster_scale:
        bitmap = _rasterize_segments(segs_v + segs_h, b.width, b.height, raster_scale)
        if raster_levels:
            bitmap["fg"], bitmap["bg"] = raster_levels
        if raster_noise:
            bitmap["noise_seed"], bitmap["noise_amp"] = raster_noise
        payload = {"bitmap": bitmap, "bbox": bbox}
    else:
        payload = {"segments_v": segs_v, "segments_h": segs_h, "bbox": bbox}
    off = b.add_span("media", payload, media_ref=media_ref)
    if emit_media_golden:
        b.add_media_golden(bbox[1], bbox[0], off, media_ref)

    for i, row in enumerate(cells):
        for j, text in enumerate(row):
            if text == "":
                continue
            x0 = xs[j] + 4.0
            y0 = ys[i + 1] + (ys[i] - ys[i + 1] - H) / 2.0
            b.add_span("text_h", make_line(text, x0, y0))
    return {"bbox": bbox}


# ---------------------------------------------------------------------------
# fixture families
# ---------------------------------------------------------------------------

def _grid_texts(r: int, c: int, prefix: str) -> list[list[str]]:
    return [[f"{prefix}{i}{j}" for j in range(c)] for i in range(r)]


def doc_health(doc_id: str = "health-0", dx: float = 0.0, dy: float = 0.0):
    """Stream happy path: 8×4 left-aligned table + prose (models
    `tests/files/health.pdf` / `tests/data.py:6`)."""
    b = DocBuilder(doc_id)
    col_x = [72.0 + dx, 180.0 + dx, 300.0 + dx, 420.0 + dx]
    cells = _grid_texts(8, 4, "v")
    cells[0] = ["metric", "y2015", "y2016", "y2017"]
    y_top = 600.0 + dy
    t = add_stream_table(b, cells, col_x, y_top)
    # stream bbox bottom = min line y0 - 10 (area pad); anchor for ordering
    b.add_table_golden(t["anchor_estimate"] - 10.0, col_x[0] - 10.0, 1, cells)
    b.add_prose("Annual health indicators report", 72.0 + dx, y_top + 80.0)
    b.add_prose("Source: national statistics office", 72.0 + dx, t["y_bottom_line"] - 40.0)
    return b


def doc_foo(doc_id: str = "foo-0", dx: float = 0.0, dy: float = 0.0):
    """Lattice happy path: 7×7 fully ruled grid + prose (models
    `tests/files/foo.pdf`, golden shape (7,7) `test_common.py:229`)."""
    b = DocBuilder(doc_id)
    b.flavor = "lattice"
    xs = [120.0 + dx + 48.0 * j for j in range(8)]
    ys = [620.0 + dy - 22.0 * i for i in range(8)]
    cells = _grid_texts(7, 7, "c")
    cells[0] = [f"hd{j}" for j in range(7)]
    t = add_lattice_table(b, cells, xs, ys, media_ref=f"mem://{doc_id}/page-1")
    b.add_table_golden(t["bbox"][1], t["bbox"][0], 1, cells)
    b.add_prose("Cycle fuel consumption by speed", xs[0], ys[0] + 30.0)
    b.add_prose("Figures are laboratory values", xs[0], ys[-1] - 30.0)
    return b


def doc_twotables(doc_id: str = "twotables-0", dx: float = 0.0, dy: float = 0.0):
    """Two vertically separated stream tables (models
    `tests/files/twotables_2.pdf`); exercises area splitting and the
    (page, order) table sort."""
    b = DocBuilder(doc_id)
    # distinct column x's per table so textedges don't chain across the gap
    col_x1 = [72.0 + dx, 190.0 + dx, 310.0 + dx]
    col_x2 = [79.0 + dx, 204.0 + dx, 331.0 + dx]
    cells1 = _grid_texts(7, 3, "a")
    cells2 = _grid_texts(7, 3, "b")
    y_top1 = 700.0 + dy
    t1 = add_stream_table(b, cells1, col_x1, y_top1)
    y_top2 = t1["y_bottom_line"] - 100.0
    t2 = add_stream_table(b, cells2, col_x2, y_top2)
    b.add_table_golden(t1["anchor_estimate"] - 10.0, col_x1[0] - 10.0, 1, cells1)
    b.add_table_golden(t2["anchor_estimate"] - 10.0, col_x2[0] - 10.0, 2, cells2)
    b.add_prose("Two independent summaries follow", 72.0 + dx, y_top1 + H + 70.0)
    return b


def doc_stacked(doc_id: str = "stacked-0", dx: float = 0.0, dy: float = 0.0):
    """Two vertically-adjacent stream tables whose columns ALIGN to
    within ~1pt (models `tests/files/tabula/12s0324.pdf` +
    `test_common.py:55-64` test_stream_two_tables) — the classic
    Stream false-merge geometry that `doc_twotables` sidesteps with
    7-21pt column offsets.

    Reference semantics under test (`camelot/core.py:63-75,98-106`):
    table 2's lines x-match table 1's edges only within atol=0.5, so a
    1.2pt offset creates NEW edges for table 2; the >edge_tol vertical
    gap keeps them from chaining; disjoint y-ranges keep the two areas
    from merging — TWO tables, top one first. (At offsets < 0.5pt the
    reference would silently DROP table 2 — the found-but-too-far
    quirk; kernels/textedges.py mirrors that too.)"""
    b = DocBuilder(doc_id)
    col_x1 = [72.0 + dx, 190.0 + dx, 310.0 + dx]
    # aligned to 1.2pt: outside find()'s 0.5 atol, inside visual
    # alignment — the 12s0324 shape
    col_x2 = [x + 1.2 for x in col_x1]
    cells1 = _grid_texts(7, 3, "u")
    cells2 = _grid_texts(7, 3, "v")
    y_top1 = 700.0 + dy
    t1 = add_stream_table(b, cells1, col_x1, y_top1)
    y_top2 = t1["y_bottom_line"] - 100.0   # gap 100 > edge_tol 50
    t2 = add_stream_table(b, cells2, col_x2, y_top2)
    b.add_table_golden(t1["anchor_estimate"] - 10.0, col_x1[0] - 10.0, 1, cells1)
    b.add_table_golden(t2["anchor_estimate"] - 10.0, col_x2[0] - 10.0, 2, cells2)
    b.add_prose("Adjacent aligned summaries follow", 72.0 + dx, y_top1 + H + 70.0)
    return b


def doc_rowspan(doc_id: str = "rowspan-0", dx: float = 0.0, dy: float = 0.0):
    """Lattice grid with a missing interior horizontal edge → vspan;
    shift_text=['l','t'] default moves text up (models row_span_1.pdf)."""
    b = DocBuilder(doc_id)
    b.flavor = "lattice"
    xs = [100.0 + dx + 60.0 * j for j in range(5)]
    ys = [500.0 + dy - 24.0 * i for i in range(6)]
    cells = _grid_texts(5, 4, "r")
    # drop the h-edge between rows 1 and 2 under column 0 → cell (2,0)
    # unbounded on top → vspan; its text shifts to (1,0)
    cells[2][0] = ""
    drop_h = [(2, 0)]
    t = add_lattice_table(b, cells, xs, ys, media_ref=f"mem://{doc_id}/page-1",
                          drop_h=drop_h)
    golden = [row[:] for row in cells]
    b.add_table_golden(t["bbox"][1], t["bbox"][0], 1, golden)
    return b


def doc_copytext(doc_id: str = "copytext-0", dx: float = 0.0, dy: float = 0.0):
    """Same geometry as rowspan but meant to run with copy_text=['v']:
    the empty vspan cell is filled from above."""
    b = doc_rowspan(doc_id, dx, dy)
    b.extract_kwargs = {"copy_text": ["v"]}
    # golden under copy_text: cell (2,0) receives text of (1,0)
    units = []
    for u in b.golden_units:
        if u[2] == 0:
            data = [row[:] for row in u[4]]
            data[2][0] = data[1][0]
            units.append((u[0], u[1], u[2], u[3], data))
        else:
            units.append(u)
    b.golden_units = units
    return b


def doc_superscript(doc_id: str = "superscript-0", dx: float = 0.0, dy: float = 0.0):
    """Stream table with a superscript char (models superscript.pdf);
    flag_size=True wraps the small run in <s></s>."""
    b = DocBuilder(doc_id)
    col_x = [72.0 + dx, 200.0 + dx, 330.0 + dx]
    cells = _grid_texts(7, 3, "s")
    cells[2][1] = "957*"
    small = {(2, 1): {3}}
    t = add_stream_table(b, cells, col_x, 600.0 + dy, small=small)
    golden = [row[:] for row in cells]
    golden[2][1] = "957<s>*</s>"
    b.add_table_golden(t["anchor_estimate"] - 10.0, col_x[0] - 10.0, 1, golden)
    b.extract_kwargs = {"flag_size": True}
    return b


def doc_splittext(doc_id: str = "splittext-0", dx: float = 0.0, dy: float = 0.0):
    """Stream + explicit columns; one line crosses a column cut →
    split_text=True distributes chars (models tabula/m27.pdf +
    `test_common.py:97-107`)."""
    b = DocBuilder(doc_id)
    col_x = [72.0 + dx, 200.0 + dx, 330.0 + dx]
    cells = _grid_texts(7, 3, "m")
    y_top = 600.0 + dy
    t = add_stream_table(b, cells, col_x, y_top)
    del t
    # a wide line starting in col 1 whose tail crosses the user cut at
    # x=230: chars 'abcdef' (mid ≤ 230) → col 1, 'WXYZ' → col 2
    wide_y = y_top - 7 * ROW_H
    b.add_span("text_h", make_line("abcdefWXYZ", 200.0 + dx, wide_y))
    golden = [row[:] for row in cells] + [["", "abcdef", "WXYZ"]]
    b.add_table_golden(wide_y - 10.0, col_x[0] - 10.0, 1, golden)
    b.extract_kwargs = {
        "columns": [f"{140 + dx},{230 + dx}"],
        "split_text": True,
    }
    return b


def doc_striptext(doc_id: str = "striptext-0", dx: float = 0.0, dy: float = 0.0):
    """Stream table with junk chars; strip_text=' ,\\n' removes them
    (models detect_vertical_false.pdf + `test_common.py:118-123`)."""
    b = DocBuilder(doc_id)
    col_x = [72.0 + dx, 200.0 + dx, 330.0 + dx]
    cells = _grid_texts(7, 3, "t")
    cells[3][2] = "4,100"
    t = add_stream_table(b, cells, col_x, 600.0 + dy)
    golden = [row[:] for row in cells]
    golden[3][2] = "4100"
    b.add_table_golden(t["anchor_estimate"] - 10.0, col_x[0] - 10.0, 1, golden)
    b.extract_kwargs = {"strip_text": " ,\n"}
    return b


def doc_rotated(rotation: str, doc_id: str, dx: float, dy: float, base=None):
    """Doc with all coordinates rotated 90° — clockwise or anticlockwise
    (models clockwise_table_1.pdf etc.). ``base`` picks the upright
    builder (default health/stream; doc_foo gives the rotated-lattice
    case where ruling segments swap roles). Golden = the upright golden
    (kernel unrotates)."""
    upright = (base or doc_health)(doc_id, dx, dy)
    W, Hh = upright.width, upright.height
    m = [-1.0, 1.0] if rotation == "clockwise" else [1.0, -1.0]

    def rot_point(x, y):
        if rotation == "clockwise":
            return (y, W - x)
        return (Hh - y, x)

    def rot_bbox(x0, y0, x1, y1):
        ax, ay = rot_point(x0, y0)
        bx, by = rot_point(x1, y1)
        return (min(ax, bx), min(ay, by), max(ax, bx), max(ay, by))

    rotated = DocBuilder(doc_id, width=Hh, height=W)
    rotated.spans = [meta_span(Hh, W)]

    def emit(kind, payload, off, media_ref=""):
        rotated.spans.append(span(kind, payload, off, media_ref))
        rotated._raw[off] = payload

    for s in upright.spans[1:]:
        payload = _payload_of(upright, s)
        if s["kind"] in ("text_h", "prose"):
            x0, y0, x1, y1 = rot_bbox(payload["x0"], payload["y0"], payload["x1"], payload["y1"])
            chars = []
            for ch in payload["chars"]:
                if "x0" not in ch:
                    chars.append(ch)
                    continue
                cb = rot_bbox(ch["x0"], ch["y0"], ch["x1"], ch["y1"])
                chars.append({"c": ch["c"], "x0": cb[0], "y0": cb[1], "x1": cb[2], "y1": cb[3],
                              "m": m})
            emit("text_v", {"t": payload["t"], "x0": x0, "y0": y0,
                            "x1": x1, "y1": y1, "chars": chars}, s["offset"])
        elif s["kind"] == "media" and "segments_v" in payload:
            # a vertical ruling becomes horizontal on the rotated page
            # (and vice versa); the kernel's unrotate swaps them back
            new_h = [rot_bbox(*seg) for seg in payload["segments_v"]]
            new_v = [rot_bbox(*seg) for seg in payload["segments_h"]]
            new_payload = {"segments_v": new_v, "segments_h": new_h,
                           "bbox": rot_bbox(*payload["bbox"])}
            emit("media", new_payload, s["offset"], media_ref=s["media_ref"])
        else:
            rotated.spans.append(dict(s))
            rotated._raw[s["offset"]] = payload
    rotated._off = upright._off
    rotated.golden_units = upright.golden_units
    rotated.flavor = upright.flavor
    rotated.extract_kwargs = upright.extract_kwargs
    return rotated


def doc_blank(doc_id: str):
    """No text, no media → no output spans (models blank.pdf)."""
    return DocBuilder(doc_id)


def doc_imageonly(doc_id: str):
    """Only a media span → passthrough (models image.pdf)."""
    b = DocBuilder(doc_id)
    ref = f"mem://{doc_id}/page-1"
    off = b.add_span("media", {"segments_v": [], "segments_h": [],
                               "bbox": [100.0, 100.0, 500.0, 700.0]}, media_ref=ref)
    b.add_media_golden(100.0, 100.0, off, ref)
    return b


def doc_prose_interleave(doc_id: str = "prose-0", dx: float = 0.0, dy: float = 0.0):
    """Prose above / between / below two stream tables — the
    span-sequence interleaving contract."""
    b = doc_twotables(doc_id, dx, dy)
    # between-tables prose: must sit clear of both padded bboxes.
    # table1 bottom line y0 = 700-6*14 = 616 → bbox bottom ≈ 606 - 2 margin
    # table2 top = 516+10=526; its bbox top = 526 + 5*avg_h. avg_h stays 10.
    # safe band: (526+50+2, 606-2) → put prose line y0 at 590 (mid 595 < 604 ✓)
    b.add_prose("Continued below", 72.0 + dx, 588.0 + dy)
    return b


def doc_rasterfoo(doc_id: str = "rasterfoo-0", dx: float = 0.0, dy: float = 0.0):
    """Lattice raster path: the foo grid carried as a page *bitmap*
    instead of pre-extracted segments — exercises L1-L4
    (threshold → morphology → contours → joints) end to end
    (`camelot/image_processing.py:9-224`)."""
    b = DocBuilder(doc_id)
    b.flavor = "lattice"
    # integer-friendly coords so centerline pixels land exactly
    xs = [120.0 + 48.0 * j for j in range(8)]
    ys = [620.0 - 22.0 * i for i in range(8)]
    cells = _grid_texts(7, 7, "r")
    cells[0] = [f"hd{j}" for j in range(7)]
    t = add_lattice_table(b, cells, xs, ys, media_ref=f"mem://{doc_id}/raster-1",
                          raster_scale=2)
    # detected contour bbox = true bbox grown by the stroke: 1px into the
    # run + 1px exclusive-end, at scale 2 → bottom 2px = 1pt below ys[-1]
    b.add_table_golden(t["bbox"][1] - 1.0, t["bbox"][0] - 0.5, 1, cells)
    b.add_prose("Rasterized ruling grid", xs[0], ys[0] + 30.0)
    return b


def doc_laparams(doc_id: str = "laparams-0", dx: float = 0.0, dy: float = 0.0):
    """LAParams knob family (SURVEY S4): one body cell arrives as a raw
    char run with a 12 pt interior gap. Under the non-default
    char_margin=4.0 the gap (12 < 4.0·5) stays inside ONE textline and
    word_margin inserts a space → cell 'q3 totals'. Under the default
    margins the same run would split into two textlines ('q3'/'totals',
    12 ≥ 1.0·5) — pinned by a unit test; the golden here is the
    non-default grouping, derived by hand from the margins."""
    b = DocBuilder(doc_id)
    col_x = [72.0 + dx, 180.0 + dx, 300.0 + dx, 420.0 + dx]
    cells = _grid_texts(8, 4, "l")
    cells[0] = ["period", "units", "net", "gross"]
    y_top = 600.0 + dy
    run_row = 3
    cells[run_row][0] = ""  # emitted as a char run below instead
    t = add_stream_table(b, cells, col_x, y_top)
    # the cell as one text_h span encoded as a raw char run, with 12 pt
    # of extra space before char 2: the encoded line keeps the run as
    # one textline; extraction-time layout_kwargs decide the real
    # grouping (LAParams analogue, `camelot/utils.py:763-814`)
    x0, y0 = col_x[0], y_top - run_row * ROW_H
    chars, x = [], x0
    for i, c in enumerate("q3totals"):
        x += 12.0 if i == 2 else 0.0
        chars.append({"c": c, "x0": x, "y0": y0, "x1": x + CW, "y1": y0 + H})
        x += CW
    b.add_span("text_h", {"t": "q3totals\n", "x0": x0, "y0": y0, "x1": chars[-1]["x1"],
                          "y1": y0 + H, "chars": chars + [{"c": "\n"}]})
    golden = [row[:] for row in cells]
    golden[run_row][0] = "q3 totals"
    b.add_table_golden(t["anchor_estimate"] - 10.0, col_x[0] - 10.0, 1, golden)
    b.add_prose("Quarterly margins summary", 72.0 + dx, y_top + 80.0)
    b.extract_kwargs = {"layout_kwargs": {"char_margin": 4.0, "word_margin": 0.1}}
    return b


def doc_sidebyside(doc_id: str = "sidebyside-0", dx: float = 0.0, dy: float = 0.0):
    """Two lattice grids sharing the SAME bottom baseline (the y-tie case
    of the sink reconstruction invariant): the right grid is larger, so
    segment_tables lists it first (area-desc sort) and the parser's
    bottom-y-tie keeps that insertion order → right = order 1, left =
    order 2; assemble_spans still emits the LEFT block first ((-y, x)
    unit sort), and extract_document must reorder ``tables`` to match
    (`extract_doc.tables_in_span_order`). Golden derived from those
    documented tie rules."""
    b = DocBuilder(doc_id)
    b.flavor = "lattice"
    ys = [500.0 + dy - 22.0 * i for i in range(4)]
    xs_l = [80.0 + dx + 48.0 * j for j in range(4)]
    xs_r = [300.0 + dx + 56.0 * j for j in range(4)]  # wider → larger area
    cells_l = _grid_texts(3, 3, "sl")
    cells_r = _grid_texts(3, 3, "sr")
    tl = add_lattice_table(b, cells_l, xs_l, ys, media_ref=f"mem://{doc_id}/left")
    tr = add_lattice_table(b, cells_r, xs_r, ys, media_ref=f"mem://{doc_id}/right")
    b.add_table_golden(tl["bbox"][1], tl["bbox"][0], 2, cells_l)   # left: order 2
    b.add_table_golden(tr["bbox"][1], tr["bbox"][0], 1, cells_r)   # right: order 1
    b.add_prose("Side-by-side quarterly grids", xs_l[0], ys[0] + 30.0)
    return b


def doc_rasternoise(doc_id: str = "rasternoise-0", dx: float = 0.0, dy: float = 0.0):
    """Noisy-scan lattice raster: the rasterfoo grid under deterministic
    paper-grain noise (non-two-level input — models an anti-aliased /
    scanned page). The Gaussian-weighted adaptive threshold
    (`camelot/image_processing.py:39-51` ADAPTIVE_THRESH_GAUSSIAN_C
    behavior) plus run-length opening must recover the identical grid,
    so the golden equals the clean family's layout."""
    b = DocBuilder(doc_id)
    b.flavor = "lattice"
    xs = [120.0 + 48.0 * j for j in range(8)]
    ys = [620.0 - 22.0 * i for i in range(8)]
    cells = _grid_texts(7, 7, "n")
    cells[0] = [f"nh{j}" for j in range(7)]
    t = add_lattice_table(b, cells, xs, ys, media_ref=f"mem://{doc_id}/raster-noise",
                          raster_scale=2, raster_noise=(zlib.crc32(doc_id.encode()), 50))
    b.add_table_golden(t["bbox"][1] - 1.0, t["bbox"][0] - 0.5, 1, cells)
    b.add_prose("Noisy scanned ruling grid", xs[0], ys[0] + 30.0)
    return b


def doc_colspan(doc_id: str = "colspan-0", dx: float = 0.0, dy: float = 0.0):
    """Lattice grid with a missing interior vertical edge → hspan; text
    placed in the right half of the merged cell shifts LEFT under the
    default shift_text=['l','t'] (models column_span_1.pdf,
    `lattice.py:148-155` 'l' walk)."""
    b = DocBuilder(doc_id)
    b.flavor = "lattice"
    xs = [100.0 + dx + 60.0 * j for j in range(5)]
    ys = [500.0 + dy - 24.0 * i for i in range(6)]
    cells = _grid_texts(5, 4, "c")
    # drop the v-edge between cols 1 and 2 on row 1 → cells (1,1)+(1,2)
    # merge; put the text in the right half: it must land in (1,1)
    merged_text = cells[1][2]
    cells[1][2] = ""
    drop_v = [(2, 1)]
    t = add_lattice_table(b, cells, xs, ys, media_ref=f"mem://{doc_id}/page-1",
                          drop_v=drop_v)
    # place the merged cell's text inside the (1,2) half
    tx = xs[2] + 4.0
    ty = ys[2] + (ys[1] - ys[2] - H) / 2.0
    b.add_span("text_h", make_line(merged_text, tx, ty))
    golden = [row[:] for row in cells]
    # shifted left and appended after (1,1)'s own line; the first
    # line's trailing newline survives the outer strip (`core.py:302-304`)
    golden[1][1] = golden[1][1] + "\n" + merged_text
    b.add_table_golden(t["bbox"][1], t["bbox"][0], 1, golden)
    return b


def doc_vheaders(doc_id: str = "vheaders-0", dx: float = 0.0, dy: float = 0.0):
    """Lattice grid whose header row holds rotated (vertical) text —
    models `tests/files/tabula/vertical_header.pdf`; exercises the
    vertical-direction assignment pass (`stream.py:396` direction loop,
    `utils.py:617-628` vertical branch)."""
    b = DocBuilder(doc_id)
    b.flavor = "lattice"
    xs = [140.0 + dx + 60.0 * j for j in range(5)]
    # tall header row, regular body rows
    ys = [640.0 + dy, 580.0 + dy] + [580.0 + dy - 22.0 * i for i in range(1, 4)]
    cells = [["", "", "", ""]] + _grid_texts(3, 4, "b")
    t = add_lattice_table(b, cells, xs, ys, media_ref=f"mem://{doc_id}/page-1")
    golden = [row[:] for row in cells]
    for j in range(4):
        text = f"rot{j}"
        b.add_span("text_v", make_vline(text, xs[j] + 20.0, ys[1] + 6.0, ys[0] - 6.0))
        golden[0][j] = text
    b.add_table_golden(t["bbox"][1], t["bbox"][0], 1, golden)
    b.add_prose("Quarterly rotated-header table", xs[0], ys[0] + 30.0)
    return b


def doc_rasterbg(doc_id: str = "rasterbg-0", dx: float = 0.0, dy: float = 0.0):
    """Bright table rulings on a mid-gray page — only detectable with
    process_background=True (models `tests/files/background_lines_1.pdf`,
    `image_processing.py:28-35` no-invert branch)."""
    b = DocBuilder(doc_id)
    b.flavor = "lattice"
    xs = [120.0 + 48.0 * j for j in range(6)]
    ys = [620.0 - 22.0 * i for i in range(6)]
    cells = _grid_texts(5, 5, "g")
    t = add_lattice_table(b, cells, xs, ys, media_ref=f"mem://{doc_id}/raster-bg",
                          raster_scale=2, raster_levels=(255, 128))
    b.add_table_golden(t["bbox"][1] - 1.0, t["bbox"][0] - 0.5, 1, cells)
    b.add_prose("Background-ruled grid", xs[0], ys[0] + 30.0)
    b.extract_kwargs = {"process_background": True}
    return b


def doc_manytables(doc_id: str = "manytables-0", dx: float = 0.0, dy: float = 0.0):
    """Pathological doc: 12 small lattice grids — the 10-largest-area
    contour cap (`image_processing.py:168`) must drop the two smallest;
    also the worst-case skew unit for partition balancing."""
    b = DocBuilder(doc_id)
    b.flavor = "lattice"
    kept = []
    for t_i in range(12):
        r, c = divmod(t_i, 3)
        x0 = 60.0 + dx + c * 180.0
        y_top = 720.0 + dy - r * 180.0
        # tables 10/11 are smaller → dropped by the area cap
        ncols = 2 if t_i >= 10 else 3
        xs = [x0 + 40.0 * j for j in range(ncols + 1)]
        ys = [y_top - 20.0 * i for i in range(4)]
        cells = _grid_texts(3, ncols, f"t{t_i}_")
        add_lattice_table(b, cells, xs, ys, media_ref=f"mem://{doc_id}/t{t_i}",
                          emit_media_golden=False)
        if t_i < 10:
            kept.append(((xs[0], ys[-1], xs[-1], ys[0]), cells))
        else:
            # dropped by the cap → their text is emitted as prose spans
            for i, row in enumerate(cells):
                for j, text in enumerate(row):
                    ty = ys[i + 1] + (ys[i] - ys[i + 1] - H) / 2.0
                    b.golden_units.append((ty, xs[j] + 4.0, 1, 10_000 + t_i, text))
    # golden: only the 10 largest tables emit cells (order by -y, x)
    for order, (bbox, cells) in enumerate(kept):
        b.add_table_golden(bbox[1], bbox[0], order, cells)
    # media spans for ALL 12 grids still appear in the output sequence
    for s in b.spans:
        if s["kind"] == "media":
            payload = _payload_of(b, s)
            bb = payload["bbox"]
            b.add_media_golden(bb[1], bb[0], s["offset"], s["media_ref"])
    return b


FAMILIES = {
    "health": doc_health,
    "foo": doc_foo,
    "rasterfoo": doc_rasterfoo,
    "vheaders": doc_vheaders,
    "rasterbg": doc_rasterbg,
    "rasternoise": doc_rasternoise,
    "laparams": doc_laparams,
    "sidebyside": doc_sidebyside,
    "manytables": doc_manytables,
    "twotables": doc_twotables,
    "stacked": doc_stacked,
    "rowspan": doc_rowspan,
    "colspan": doc_colspan,
    "copytext": doc_copytext,
    "superscript": doc_superscript,
    "splittext": doc_splittext,
    "striptext": doc_striptext,
    "rotated_cw": lambda doc_id="rotated_cw-0", dx=0.0, dy=0.0: doc_rotated("clockwise", doc_id, dx, dy),
    "rotated_acw": lambda doc_id="rotated_acw-0", dx=0.0, dy=0.0: doc_rotated("anticlockwise", doc_id, dx, dy),
    "rotated_lattice": lambda doc_id="rotated_lattice-0", dx=0.0, dy=0.0: doc_rotated("clockwise", doc_id, dx, dy, base=doc_foo),
    "prose": doc_prose_interleave,
    "blank": lambda doc_id="blank-0", dx=0.0, dy=0.0: doc_blank(doc_id),
    "imageonly": lambda doc_id="imageonly-0", dx=0.0, dy=0.0: doc_imageonly(doc_id),
}


def corpus() -> list:
    """One builder per family (golden-checkable)."""
    return [make(f"{name}-0") for name, make in FAMILIES.items()]


# families safe to run under default per-flavor kwargs (bench tiling)
STREAM_FAMILIES = ["health", "twotables", "prose"]
LATTICE_FAMILIES = ["foo", "rowspan"]


def families_by_config() -> list[tuple[str, dict, list[str]]]:
    """Full-corpus bench tiling: (flavor, extract_kwargs, families)
    groups so every family is timed under the config its golden runs
    with — e.g. rasterbg's process_background=True changes what
    adaptive_threshold/find_lines actually compute, so timing it under
    the default config would mis-weight the raster work. Exception:
    splittext's kwargs encode PER-DOC geometry (the column cuts track
    the jitter), which no corpus-wide config can honor — it runs in
    the stream default group (same kernel work minus the user-cut
    split pass)."""
    import json as _json

    groups: dict[tuple[str, str], tuple[dict, list[str]]] = {}
    for name, make in FAMILIES.items():
        b = make(f"{name}-probe")
        kwargs = {} if name == "splittext" else dict(b.extract_kwargs)
        key = (b.flavor, _json.dumps(kwargs, sort_keys=True))
        groups.setdefault(key, (kwargs, []))[1].append(name)
    return [(flavor, kw, fams)
            for (flavor, _), (kw, fams) in sorted(groups.items())]


def builder_for(doc_key: str, families: list[str], raw: bool = False) -> DocBuilder:
    """Deterministic builder for an arbitrary key (corpus synthesis from
    driver tables): family + jitter seeded by crc32(doc_key).

    ``raw=True`` skips JSON-serializing span payloads; only
    ``raw_spans()`` is valid on the result (the fused pipeline path)."""
    seed = zlib.crc32(doc_key.encode())
    if (seed % 1000) / 1000.0 < SKEW_FRAC:
        fam = SKEW_FAMILY if SKEW_FAMILY in families else families[0]
    else:
        fam = families[(seed >> 4) % len(families)]
    dx = float((seed >> 8) % 40)
    dy = float((seed >> 16) % 60)
    if not raw:
        return FAMILIES[fam](f"{fam}-{doc_key}", dx, dy)
    token = _RAW_BUILD.set(True)
    try:
        return FAMILIES[fam](f"{fam}-{doc_key}", dx, dy)
    finally:
        _RAW_BUILD.reset(token)
