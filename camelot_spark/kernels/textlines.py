"""Struct-of-arrays textline container + geometric filters.

Replaces the reference's PDFMiner object lists (`camelot/utils.py:817-854`
``get_text_objects``) with flat numpy arrays so every downstream
predicate is a vectorized mask. A lightweight class (not pandas) keeps
per-document overhead at microseconds — the kernel runs per doc inside
Arrow batches, so constant factors multiply by 10^12.

``isclose`` replicates np.isclose's formula (|a-b| <= atol + rtol*|b|,
rtol=1e-5) in scalar form; the reference's float semantics depend on it
(`stream.py:130`, `core.py:67,103`, `utils.py:402`).
"""

from __future__ import annotations

import numpy as np

_RTOL = 1.0e-5  # np.isclose default


def isclose(a: float, b: float, atol: float) -> bool:
    """Scalar np.isclose(a, b, atol=atol) without numpy call overhead."""
    return abs(a - b) <= atol + _RTOL * abs(b)


class TL:
    """Textlines as parallel arrays: bbox coords (float64), text
    (list[str]), chars (list[list[dict]|None]), offset (int64)."""

    __slots__ = ("x0", "y0", "x1", "y1", "text", "chars", "offset")

    def __init__(self, x0, y0, x1, y1, text, chars, offset):
        self.x0 = x0
        self.y0 = y0
        self.x1 = x1
        self.y1 = y1
        self.text = text
        self.chars = chars
        self.offset = offset

    def __len__(self) -> int:
        return len(self.x0)

    def take(self, idx) -> "TL":
        idx = np.asarray(idx)
        if idx.dtype == bool:
            idx = np.flatnonzero(idx)
        return TL(
            self.x0[idx],
            self.y0[idx],
            self.x1[idx],
            self.y1[idx],
            [self.text[i] for i in idx],
            [self.chars[i] for i in idx],
            self.offset[idx],
        )

    def nonblank_mask(self) -> np.ndarray:
        return np.fromiter(
            (bool(t and t.strip()) for t in self.text), dtype=bool, count=len(self.text)
        )

    def line_dict(self, i: int) -> dict:
        """Per-line dict for the assign kernels."""
        return {
            "x0": float(self.x0[i]),
            "y0": float(self.y0[i]),
            "x1": float(self.x1[i]),
            "y1": float(self.y1[i]),
            "t": self.text[i],
            "chars": self.chars[i],
        }


def make_textlines(records: list[dict]) -> TL:
    """Build a TL from parsed span payload dicts
    ({x0,y0,x1,y1,t,chars,offset})."""
    n = len(records)
    x0 = np.empty(n)
    y0 = np.empty(n)
    x1 = np.empty(n)
    y1 = np.empty(n)
    text: list = [None] * n
    chars: list = [None] * n
    offset = np.empty(n, dtype=np.int64)
    for i, r in enumerate(records):
        x0[i] = r["x0"]
        y0[i] = r["y0"]
        x1[i] = r["x1"]
        y1[i] = r["y1"]
        text[i] = r["t"]
        chars[i] = r.get("chars")
        offset[i] = r.get("offset", -1)
    return TL(x0, y0, x1, y1, text, chars, offset)


def regroup_horizontal(records: list[dict], char_margin: float,
                       word_margin: float) -> list[dict]:
    """LAParams-analogue textline regrouping — the extractor-side knob
    for `camelot/utils.py:763-814` (``get_page_layout`` exposes
    PDFMiner's char/word margins; camelot's default char_margin is 1.0).

    PDFMiner ``LTLayoutContainer`` semantics per encoded char run: a
    horizontal gap >= char_margin * max(adjacent char widths) starts a
    NEW textline; a smaller gap > word_margin * max widths inserts a
    space (the LTAnno word break). Geometry-less annos are re-synthesized
    per output line. Regrouping is per input record (the encoder pools
    chars per baseline already); cross-record merging and the
    paragraph-level ``line_margin`` are not implemented (documented
    deviation — line_margin shapes LTTextBoxes, which the extraction
    never consumes).
    """
    out = []
    for rec in records:
        chars = [c for c in (rec.get("chars") or []) if "x0" in c]
        if len(chars) < 2:
            out.append(rec)
            continue
        groups: list[list[dict]] = [[chars[0]]]
        spaces: list[list[bool]] = [[False]]  # insert space before char i?
        prev = chars[0]
        for ch in chars[1:]:
            gap = ch["x0"] - prev["x1"]
            w = max(prev["x1"] - prev["x0"], ch["x1"] - ch["x0"])
            if gap >= char_margin * w:
                groups.append([ch])
                spaces.append([False])
            else:
                spaces[-1].append(gap > word_margin * w)
                groups[-1].append(ch)
            prev = ch
        if len(groups) == 1 and not any(spaces[0]):
            out.append(rec)
            continue
        for cs, sp in zip(groups, spaces):
            text_parts: list[str] = []
            new_chars: list[dict] = []
            for c, s in zip(cs, sp):
                if s:
                    text_parts.append(" ")
                    new_chars.append({"c": " "})
                text_parts.append(c["c"])
                new_chars.append(c)
            new_chars.append({"c": "\n"})
            out.append(
                {
                    "t": "".join(text_parts) + "\n",
                    "x0": cs[0]["x0"],
                    "y0": min(c["y0"] for c in cs),
                    "x1": cs[-1]["x1"],
                    "y1": max(c["y1"] for c in cs),
                    "chars": new_chars,
                    "offset": rec.get("offset", -1),
                }
            )
    return out


def sort_reading_order(tl: TL) -> TL:
    """Reading-order sort ``(-y0, x0)`` — `camelot/parsers/stream.py:277,326`.
    np.lexsort is stable; last key is primary."""
    return tl.take(np.lexsort((tl.x0, -tl.y0)))


def sort_vertical_order(tl: TL) -> TL:
    """Vertical-text sort ``(x0, -y0)`` — `camelot/parsers/stream.py:327`."""
    return tl.take(np.lexsort((-tl.y0, tl.x0)))


def text_in_bbox_mask(bbox: tuple, tl: TL) -> np.ndarray:
    """Midpoint-in-bbox ± 2pt mask — `camelot/utils.py:354-379`."""
    if len(tl) == 0:
        return np.zeros(0, dtype=bool)
    x_mid = (tl.x0 + tl.x1) / 2.0
    y_mid = (tl.y0 + tl.y1) / 2.0
    return (
        (bbox[0] - 2 <= x_mid)
        & (x_mid <= bbox[2] + 2)
        & (bbox[1] - 2 <= y_mid)
        & (y_mid <= bbox[3] + 2)
    )


def text_in_bbox(bbox: tuple, tl: TL) -> TL:
    return tl.take(text_in_bbox_mask(bbox, tl))


def segments_in_bbox(
    bbox: tuple, v_segments: np.ndarray, h_segments: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Ruling segments inside bbox ± 2pt — `camelot/utils.py:317-351`."""
    v = np.asarray(v_segments, dtype=np.float64).reshape(-1, 4)
    h = np.asarray(h_segments, dtype=np.float64).reshape(-1, 4)
    lb0, lb1, rt0, rt1 = bbox[0], bbox[1], bbox[2], bbox[3]
    vm = (v[:, 1] > lb1 - 2) & (v[:, 3] < rt1 + 2) & (lb0 - 2 <= v[:, 0]) & (v[:, 0] <= rt0 + 2)
    hm = (h[:, 0] > lb0 - 2) & (h[:, 2] < rt0 + 2) & (lb1 - 2 <= h[:, 1]) & (h[:, 1] <= rt1 + 2)
    return v[vm], h[hm]


def text_bbox(frames: list[TL]) -> tuple[float, float, float, float]:
    """Bounding box over all text — `camelot/parsers/stream.py:82-103`."""
    xmin = ymin = np.inf
    xmax = ymax = -np.inf
    for f in frames:
        if len(f) == 0:
            continue
        xmin = min(xmin, f.x0.min())
        ymin = min(ymin, f.y0.min())
        xmax = max(xmax, f.x1.max())
        ymax = max(ymax, f.y1.max())
    return float(xmin), float(ymin), float(xmax), float(ymax)
