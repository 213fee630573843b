"""Spark schemas for the extraction pipeline.

Input shape is authoritative from BASELINE.json ``input_hint``:
``documents(doc_id string, spans array<struct<kind,text,media_ref,offset>>)``.
Output shape per FIXTURES.md §2: ordered span sequence
``(kind, text, media_ref, order)`` plus metrics/lineage columns.

Geometric payloads ride inside ``text`` as JSON (see FIXTURES.md §1) so
the relational schema stays exactly the driver-specified shape.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# ---------------------------------------------------------------------------
# Input: documents table (BASELINE.json input_hint)
# ---------------------------------------------------------------------------

INPUT_SPAN = StructType(
    [
        StructField("kind", StringType(), False),
        StructField("text", StringType(), True),
        StructField("media_ref", StringType(), True),
        StructField("offset", IntegerType(), False),
    ]
)

DOCUMENTS_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("spans", ArrayType(INPUT_SPAN), False),
    ]
)

# Span kinds accepted on input (FIXTURES.md §1).
INPUT_KINDS = ("meta", "text_h", "text_v", "prose", "media")

# ---------------------------------------------------------------------------
# Output: extracted table (FIXTURES.md §2)
# ---------------------------------------------------------------------------

OUTPUT_SPAN = StructType(
    [
        StructField("kind", StringType(), False),   # 'cell' | 'prose' | 'media'
        StructField("text", StringType(), True),
        StructField("media_ref", StringType(), True),
        StructField("order", IntegerType(), False),
    ]
)

TABLE_REPORT = StructType(
    [
        StructField("order", IntegerType(), False),   # 1-based table number on page
        StructField("accuracy", DoubleType(), False),
        StructField("whitespace", DoubleType(), False),
        StructField("nrows", IntegerType(), False),
        StructField("ncols", IntegerType(), False),
        # table bbox in PDF space
        StructField("x0", DoubleType(), False),
        StructField("y0", DoubleType(), False),
        StructField("x1", DoubleType(), False),
        StructField("y1", DoubleType(), False),
    ]
)

LINEAGE = StructType(
    [
        StructField("partition_id", IntegerType(), False),
        StructField("kernel_version", StringType(), False),
        StructField("flavor", StringType(), False),
        StructField("attempt", IntegerType(), False),
        StructField("n_input_spans", IntegerType(), False),
        StructField("elapsed_us", LongType(), False),
        StructField("error", StringType(), True),  # per-doc failure capture
    ]
)

EXTRACTED_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("spans", ArrayType(OUTPUT_SPAN), False),
        StructField("n_tables", IntegerType(), False),
        StructField("accuracy", DoubleType(), True),    # mean over tables, null if none
        StructField("whitespace", DoubleType(), True),  # mean over tables, null if none
        StructField("tables", ArrayType(TABLE_REPORT), False),
        StructField("lineage", LINEAGE, False),
    ]
)

KERNEL_VERSION = "0.2.0"  # round-1 final: arrow-native, raw fixtures, fast folds
