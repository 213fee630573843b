"""Per-document page model: decode input spans into array state.

Replaces the reference's layout parse (`camelot/utils.py:763-854`,
`camelot/parsers/base.py:12-21`): the fixture encoder already emits
textline geometry (FIXTURES.md §1), so "layout parsing" here is JSON
payload decoding into struct-of-array textlines, plus the rotation fix
the reference applies at page-save time (`camelot/handlers.py:117-136`)
re-expressed as a coordinate transform.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

import numpy as np

from ..config import LAYOUT_DEFAULTS
from ..kernels import textlines as tlk
from ..kernels import transform as tfm
from ..kernels.textlines import TL


@dataclass
class Media:
    media_ref: str
    segments_v: np.ndarray
    segments_h: np.ndarray
    bbox: tuple | None = None
    offset: int = -1
    bitmap: dict | None = None  # packed page raster (raster lattice path)


@dataclass
class Page:
    width: float
    height: float
    horizontal_text: TL   # text_h + prose kinds
    vertical_text: TL     # text_v kind
    media: list[Media] = field(default_factory=list)
    rotation: str = ""
    n_spans: int = 0


def parse_page(spans: list[dict], layout_kwargs: dict | None) -> Page:
    """Decode one document's span array into a :class:`Page`.

    Rotation is detected from char CTM signs (`camelot/utils.py:286-314`)
    and, when present, all geometry is unrotated and text_h/text_v
    swapped — the in-kernel equivalent of the reference's physical page
    rotation (`camelot/handlers.py:130-133`).

    ``layout_kwargs`` (char_margin/word_margin) regroup horizontal
    textline chars before parsing — the LAParams analogue
    (`camelot/utils.py:763-814`); None keeps the encoded grouping.
    """
    width = height = 0.0
    h_rec, v_rec, media = [], [], []
    if spans and isinstance(spans[0]["text"], dict):
        # raw fixture path (fused corpus pipeline): payloads arrive as
        # dicts — no JSON transport at all
        payloads = [s["text"] or {} for s in spans]
    else:
        # one C-level parse for the whole doc instead of one loads()
        # per span — per-call setup dominates at ~40 small payloads/doc
        payloads = json.loads(
            "[" + ",".join((s["text"] or "{}") for s in spans) + "]"
        )
    for s, p in zip(spans, payloads):
        kind = s["kind"]
        if kind == "meta":
            width, height = float(p["width"]), float(p["height"])
        elif kind in ("text_h", "prose"):
            p["offset"] = s["offset"]
            h_rec.append(p)
        elif kind == "text_v":
            p["offset"] = s["offset"]
            v_rec.append(p)
        elif kind == "media":
            bbox = tuple(p["bbox"]) if "bbox" in p else None
            media.append(
                Media(
                    media_ref=s.get("media_ref") or "",
                    segments_v=np.asarray(p.get("segments_v", []), dtype=np.float64).reshape(-1, 4),
                    segments_h=np.asarray(p.get("segments_h", []), dtype=np.float64).reshape(-1, 4),
                    bbox=bbox,
                    offset=s["offset"],
                    bitmap=p.get("bitmap"),
                )
            )

    if layout_kwargs:
        lk = {**LAYOUT_DEFAULTS, **layout_kwargs}
        h_rec = tlk.regroup_horizontal(
            h_rec, float(lk["char_margin"]), float(lk["word_margin"]))
    h_text = tlk.make_textlines(h_rec)
    v_text = tlk.make_textlines(v_rec)

    # rotation detection — non-blank line counts + char CTM vote
    hlen = int(h_text.nonblank_mask().sum()) if len(h_text) else 0
    vlen = int(v_text.nonblank_mask().sum()) if len(v_text) else 0
    rotation = ""
    if hlen < vlen:
        ms = []
        for frame in (h_text, v_text):
            for chars in frame.chars:
                for ch in chars or []:
                    m = ch.get("m")
                    if m is not None:
                        ms.append(m)
        if ms:
            rotation = tfm.detect_rotation(np.asarray(ms), hlen, vlen)

    if rotation:
        new_h = tfm.unrotate_textlines(v_text, rotation, width, height)
        new_v = tfm.unrotate_textlines(h_text, rotation, width, height)
        h_text, v_text = new_h, new_v
        for m in media:
            sv = (
                tfm.unrotate_segments(m.segments_v, rotation, width, height)
                if len(m.segments_v)
                else m.segments_v
            )
            sh = (
                tfm.unrotate_segments(m.segments_h, rotation, width, height)
                if len(m.segments_h)
                else m.segments_h
            )
            # segment roles swap: what was vertical is now horizontal
            m.segments_v, m.segments_h = sh, sv
            if m.bbox is not None:
                m.bbox = tuple(tfm.unrotate_bboxes(np.array([m.bbox]), rotation, width, height)[0])
        width, height = height, width

    return Page(
        width=width,
        height=height,
        horizontal_text=h_text,
        vertical_text=v_text,
        media=media,
        rotation=rotation,
        n_spans=len(spans),
    )


def parse_area_strings(areas: list[str]) -> list[tuple[float, float, float, float]]:
    """'x1,y1,x2,y2' (left-top, right-bottom) → (left, bottom, right, top)
    bbox keys, as in `camelot/parsers/stream.py:310-317`."""
    out = []
    for area in areas:
        x1, y1, x2, y2 = (float(v) for v in area.split(","))
        out.append((x1, y2, x2, y1))
    return out
