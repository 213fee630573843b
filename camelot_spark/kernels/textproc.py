"""String post-processing: strip + super/subscript flagging.

Re-derives `camelot/utils.py:410-485` (``text_strip``,
``flag_font_size``). Char-level input is the fixture encoding of
PDFMiner LTChar/LTAnno members (FIXTURES.md §1): dicts with geometry
for real chars; geometry-less dicts model LTAnno (spaces/newline
markers PDFMiner synthesizes without bboxes).
"""

from __future__ import annotations

import re
from itertools import groupby

import numpy as np


def text_strip(text: str, strip: str) -> str:
    """Remove any of the chars in ``strip`` — `camelot/utils.py:410-428`."""
    if not strip:
        return text
    return re.sub(r"[{}]".format("".join(map(re.escape, strip))), "", text, re.UNICODE)


def is_anno(ch: dict) -> bool:
    """Fixture chars without geometry model PDFMiner LTAnno."""
    return "x0" not in ch


def char_size(ch: dict, direction: str) -> float:
    """Font-size proxy: height for horizontal text, width for vertical —
    `camelot/utils.py:455-466`."""
    if direction == "horizontal":
        return float(np.round(ch["y1"] - ch["y0"], decimals=6))
    return float(np.round(ch["x1"] - ch["x0"], decimals=6))


def flag_font_size(chars: list[dict], direction: str, strip_text: str) -> str:
    """Wrap minimum-size consecutive char runs in <s></s> —
    `camelot/utils.py:436-485`.

    With a single distinct size the full text (annos included) is
    returned; otherwise annos are dropped and only sized runs survive,
    exactly as the reference's LTAnno filtering behaves.
    """
    d = [(ch["c"], char_size(ch, direction)) for ch in chars if not is_anno(ch)]
    sizes = [s for _, s in d]
    if len(set(sizes)) > 1:
        flist = []
        min_size = min(sizes)
        for key, grp in groupby(d, key=lambda t: t[1]):
            fchars = [t[0] for t in grp]
            if "".join(fchars).strip():
                if key == min_size:
                    fchars.insert(0, "<s>")
                    fchars.append("</s>")
                flist.append("".join(fchars))
        fstring = "".join(flist)
    else:
        fstring = "".join(ch["c"] for ch in chars)
    return text_strip(fstring, strip_text)
