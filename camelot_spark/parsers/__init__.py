"""Per-document parser kernels (pure numpy, no pyspark)."""
