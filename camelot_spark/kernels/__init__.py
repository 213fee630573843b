"""Pure numpy kernels — the per-document algorithm library.

Each module re-derives one cluster of the reference's semantics
(atlanhq/camelot v0.7.3) as vectorized array code, unit-testable
without Spark. Nothing here imports pyspark.
"""
