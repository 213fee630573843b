"""camelot_spark — a PySpark-native table-extraction engine.

From-scratch reimplementation of the capabilities of atlanhq/camelot
(reference at /root/reference, v0.7.3): Stream (whitespace-gap
text-alignment clustering) and Lattice (ruling-line grid construction)
table extraction, re-expressed as vectorized numpy/Arrow kernels over
Spark DataFrames of interleaved text+media documents.
"""

from .config import LatticeConfig, StreamConfig, make_config  # noqa: F401
from .extract_doc import extract_document  # noqa: F401

__version__ = "0.1.0"
