"""Training-data pipeline operators: dedup, similarity, text analysis,
multimodal plumbing — the at-scale companions to the extraction engine.

Each operator is a DataFrame→DataFrame function built from built-in
``pyspark.sql.functions`` (JVM-side, codegen-friendly); Python appears
only in Arrow-batched ``mapInArrow`` seams (``arrow_seams``) where
semantics require it (multimodal decode, numpy folds). Deterministic
outputs, integer-typed where a DuckDB oracle must hash-match.
"""

from pyspark.sql import DataFrame

_SIZE_SUFFIXES = {"b": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


def _max_partition_bytes(spark) -> int:
    """``spark.sql.files.maxPartitionBytes`` parsed from its byte-size
    form ('128MB', '134217728b', …); Spark's 128 MB default when unset
    or unparsable."""
    default = 128 << 20
    try:
        raw = str(spark.conf.get("spark.sql.files.maxPartitionBytes")).strip().lower()
    except Exception:
        return default
    num = raw.rstrip("kmgtib")
    suffix = raw[len(num):].lstrip("i") or "b"
    try:
        return int(float(num) * _SIZE_SUFFIXES.get(suffix[0], 1))
    except ValueError:
        return default


def _estimated_scan_splits(df: DataFrame) -> int | None:
    """Estimate how many input splits the file scan produces: large
    files are split by ``spark.sql.files.maxPartitionBytes``, so a scan
    over a few big files is NOT under-partitioned (round-2 advice — the
    old file-count check repartitioned exactly that case). Returns None
    when the plan is not file-backed or sizes can't be observed (remote
    FS); callers then fall back to the RDD partition count."""
    import os
    from urllib.parse import unquote, urlparse

    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    max_split = _max_partition_bytes(df.sparkSession)
    splits = 0
    for uri in files:
        parsed = urlparse(uri)
        if parsed.scheme not in ("", "file"):
            return None  # remote FS: can't stat from the driver
        path = unquote(parsed.path) or uri
        try:
            size = os.stat(path).st_size
        except OSError:
            return None
        splits += max(1, -(-size // max_split))
    return splits


def spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition when the scan is under-partitioned.

    Small local parquet files arrive as a single input split, which
    serializes CPU-heavy expression work (shingling, minhashing) onto
    one core before the first shuffle. On a real cluster the scan is
    already split by ``spark.sql.files.maxPartitionBytes``, so this is
    a no-op there — the guard keeps us from paying a gratuitous
    full-width shuffle at 100 TB.

    Under-partitioning is judged on the *estimated scan splits* (file
    sizes vs maxPartitionBytes — a few large files already split into
    enough partitions are left alone), falling back to
    ``df.rdd.getNumPartitions()`` only when the plan is in-memory or
    the files can't be stat'd, so non-file-backed DataFrames are still
    spread when genuinely narrow.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    splits = _estimated_scan_splits(df)
    if splits is None:
        try:
            splits = df.rdd.getNumPartitions()
        except Exception:
            return df
    if 0 < splits < target:
        return df.repartition(target)
    return df
