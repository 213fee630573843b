"""Extraction configs mirroring the reference's public kwargs.

Kwarg surface and defaults from `camelot/io.py:9-119` and the parser
constructors (`camelot/parsers/stream.py:58-80`,
`camelot/parsers/lattice.py:99-131`). Validation mirrors
`camelot/utils.py:106-146` (``validate_input``) — flavor-specific
kwargs rejected on the wrong flavor.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class StreamConfig:
    table_regions: list[str] | None = None
    table_areas: list[str] | None = None
    columns: list[str] | None = None
    split_text: bool = False
    flag_size: bool = False
    strip_text: str = ""
    edge_tol: float = 50
    row_tol: float = 2
    column_tol: float = 0
    # LAParams analogue (`camelot/utils.py:763-814` get_page_layout):
    # char_margin/word_margin (over LAYOUT_DEFAULTS) regroup textline
    # chars in-kernel before parsing; None keeps the encoded grouping.
    layout_kwargs: dict | None = None

    def __post_init__(self):
        if self.table_areas is not None and self.columns is not None:
            if len(self.table_areas) != len(self.columns):
                raise ValueError("Length of table_areas and columns should be equal")


@dataclass(frozen=True)
class LatticeConfig:
    table_regions: list[str] | None = None
    table_areas: list[str] | None = None
    process_background: bool = False
    line_scale: int = 15
    copy_text: list[str] | None = None
    shift_text: list[str] = field(default_factory=lambda: ["l", "t"])
    split_text: bool = False
    flag_size: bool = False
    strip_text: str = ""
    line_tol: float = 2
    joint_tol: float = 2
    threshold_blocksize: int = 15
    threshold_constant: int = -2
    iterations: int = 0
    resolution: int = 300
    layout_kwargs: dict | None = None


# kwargs only valid for one flavor — `camelot/utils.py:108-119`
STREAM_ONLY = {"columns", "edge_tol", "row_tol", "column_tol"}
LATTICE_ONLY = {
    "process_background",
    "line_scale",
    "copy_text",
    "shift_text",
    "line_tol",
    "joint_tol",
    "threshold_blocksize",
    "threshold_constant",
    "iterations",
    "resolution",
}


# implemented get_page_layout knobs and their defaults
# (`camelot/utils.py:763-814`); line_margin shapes PDFMiner textboxes,
# which extraction never reads
LAYOUT_DEFAULTS = {"char_margin": 1.0, "word_margin": 0.1}


def validate_input(kwargs: dict, flavor: str) -> None:
    """Reject kwargs belonging to the other flavor — `utils.py:121-134` —
    and unknown layout_kwargs keys."""
    bad = LATTICE_ONLY & set(kwargs) if flavor == "stream" else STREAM_ONLY & set(kwargs)
    if bad:
        raise ValueError(
            "{} cannot be used with flavor='{}'".format(",".join(sorted(bad)), flavor)
        )
    bad_lk = set(kwargs.get("layout_kwargs") or {}) - set(LAYOUT_DEFAULTS)
    if bad_lk:
        raise ValueError(
            "unsupported layout_kwargs: {} (supported: {})".format(
                ",".join(sorted(bad_lk)), ",".join(sorted(LAYOUT_DEFAULTS))
            )
        )


def make_config(flavor: str, **kwargs):
    validate_input(kwargs, flavor=flavor)
    if flavor == "stream":
        return StreamConfig(**kwargs)
    if flavor == "lattice":
        return LatticeConfig(**kwargs)
    raise NotImplementedError("Unknown flavor specified. Use either 'lattice' or 'stream'")
