"""Spark orchestration: documents DataFrame → extracted DataFrame.

Design (SURVEY.md §3.4, revised): the input is already one row per
document, so no ``groupBy`` is needed at all — the per-doc kernel runs
under ``mapInArrow`` directly over the scan partitions, avoiding the
group-exchange shuffle the reference-shaped ``applyInPandas`` plan
would pay. The only optional shuffle is an explicit salted
``repartition`` to spread pathological multi-table documents
(north_rule skew requirement); AQE handles the rest.

Scale posture:
- Catalyst prunes to (doc_id, spans) at the parquet/Iceberg scan.
- One Arrow batch carries many docs; all JVM↔Python traffic is
  Arrow-batched. No per-row Python at the Spark API level.
- Per-doc failures are captured into ``lineage.error`` instead of
  failing the task — at 10^12 docs, a poison document must not kill
  the job (``fail_fast=True`` restores strictness for tests).
"""

from __future__ import annotations

import os
import time
import traceback

from .config import LatticeConfig, StreamConfig, make_config
from .extract_doc import extract_document
from .schema import DOCUMENTS_SCHEMA, EXTRACTED_SCHEMA, KERNEL_VERSION
from .tdp.arrow_seams import map_rows, rows_batch


def synthesize_documents(source_df, families: list[str]):
    """Distributed fixture-corpus synthesis: one span-document per input
    ``doc_id``, deterministically derived from that key (FIXTURES.md §4).
    Generation happens on executors inside Arrow batches — no
    driver-side corpus materialization at any scale."""
    ensure_shipped(source_df.sparkSession)

    def doc(k):
        from camelot_spark import fixtures as fx

        b = fx.builder_for(str(k), families=families)
        return [(b.doc_id, [(s["kind"], s["text"], s["media_ref"], s["offset"])
                            for s in b.spans])]

    return map_rows(source_df.select("doc_id"), doc, DOCUMENTS_SCHEMA)


def _results_to_arrow(results: list[tuple], flavor: str, partition_id: int, attempt: int):
    """One output RecordBatch (EXTRACTED_SCHEMA) from ``_run_docs``
    results; each row tuple follows the schema's field order."""
    return rows_batch(
        [(doc_id, res["spans"], res["n_tables"], res["accuracy"], res["whitespace"],
          [(t.order, t.accuracy, t.whitespace, t.nrows, t.ncols, *t.bbox)
           for t in res["tables"]],
          (partition_id, KERNEL_VERSION, flavor, attempt, n_in, elapsed, err))
         for doc_id, res, n_in, elapsed, err in results],
        EXTRACTED_SCHEMA)


def _run_docs(docs_iter, cfg, fail_fast) -> list[tuple]:
    """Execute the kernel over (doc_id, span-list) pairs, capturing
    per-doc errors unless fail_fast (poison docs must not kill the job)."""
    import warnings

    out = []
    for doc_id, spans in docs_iter:
        t0 = time.monotonic_ns()
        err = None
        try:
            with warnings.catch_warnings():
                warnings.simplefilter("ignore")
                res = extract_document(spans, cfg)
        except Exception:
            if fail_fast:
                raise
            err = traceback.format_exc(limit=3)
            res = {"spans": [], "tables": [], "n_tables": 0,
                   "accuracy": None, "whitespace": None}
        elapsed = (time.monotonic_ns() - t0) // 1000
        out.append((doc_id, res, len(spans), elapsed, err))
    return out


def _extract_arrow_iter(batches, cfg, fail_fast, docs_of=None):
    """mapInArrow kernel: RecordBatch in → RecordBatch out, columnar on
    both sides. ``docs_of(batch)`` yields (doc_id, span-list); default
    reads (doc_id, spans) columns."""
    from pyspark import TaskContext

    ctx = TaskContext.get()
    partition_id = ctx.partitionId() if ctx else -1
    attempt = ctx.attemptNumber() if ctx else 0
    flavor = "stream" if isinstance(cfg, StreamConfig) else "lattice"

    def default_docs(batch):
        ids = batch.column("doc_id").to_pylist()
        spans = batch.column("spans").to_pylist()
        return zip(ids, spans)

    docs_of = docs_of or default_docs
    for batch in batches:
        results = _run_docs(docs_of(batch), cfg, fail_fast)
        yield _results_to_arrow(results, flavor, partition_id, attempt)


def synthesize_and_extract(
    keys_df,
    flavor: str,
    families: list[str],
    fail_fast: bool = False,
    **kwargs,
):
    """Fused corpus path: fixture synthesis + extraction in ONE
    mapInArrow stage.

    The two-stage form (synthesize_documents → extract) pays a full
    Arrow round-trip of the span structs through the JVM between the
    stages; for the synthetic bench/test corpus that intermediate is
    never needed, and fusing halves the JVM↔Python traffic. The
    production path (real documents scanned from Iceberg/parquet)
    still uses ``extract`` directly.
    """
    ensure_shipped(keys_df.sparkSession)
    cfg = make_config(flavor, **kwargs)

    def gen(batches):
        from camelot_spark import fixtures as fx

        def docs(batch):
            for k in batch.column(0).to_pylist():
                b = fx.builder_for(str(k), families=families, raw=True)
                yield b.doc_id, b.raw_spans()

        yield from _extract_arrow_iter(batches, cfg, fail_fast, docs_of=docs)

    return keys_df.select("doc_id").mapInArrow(gen, schema=EXTRACTED_SCHEMA)


def ensure_shipped(spark) -> None:
    """Ship the ``camelot_spark`` package to executors via addPyFile.

    The production deployment is ``spark-submit --py-files
    camelot_spark.zip`` (north_rule); this makes ad-hoc sessions
    (notebooks, tests launched from any cwd) behave the same way. The
    SparkContext's file list is the record of what was shipped, so
    every session of one application shares the one zip.
    """
    import shutil
    import tempfile

    sc = spark.sparkContext
    if any(os.path.basename(f) == "camelot_spark.zip" for f in sc.listFiles):
        return
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if not os.path.isdir(pkg_root):
        return  # already imported from a --py-files zip: shipped by spark-submit
    base = os.path.join(tempfile.mkdtemp(prefix="camelot_spark_ship_"), "camelot_spark")
    zip_path = shutil.make_archive(base, "zip", root_dir=pkg_root, base_dir="camelot_spark")
    sc.addPyFile(zip_path)


def extract(
    documents,
    flavor: str = "lattice",
    salt_partitions: int | None = None,
    fail_fast: bool = False,
    **kwargs,
):
    """documents(doc_id, spans) → extracted DataFrame (EXTRACTED_SCHEMA).

    ``salt_partitions``: explicit salted repartition width; None keeps
    the scan partitioning (no shuffle at all — preferred when the
    source is already well-sized). Docs are atomic units, so salting
    only balances doc *count/size* across partitions.
    """
    from pyspark.sql import functions as F

    ensure_shipped(documents.sparkSession)
    cfg = make_config(flavor, **kwargs)
    df = documents.select("doc_id", "spans")
    if salt_partitions:
        df = df.repartition(
            salt_partitions, F.pmod(F.xxhash64("doc_id", F.lit(0)), F.lit(salt_partitions))
        )
    return df.mapInArrow(
        lambda it: _extract_arrow_iter(it, cfg, fail_fast), schema=EXTRACTED_SCHEMA
    )


def is_table_identifier(target: str) -> bool:
    """One rule for the table-vs-path decision, shared by every reader
    and writer: a target with no path separator is a catalog table
    identifier (Iceberg when the catalog is configured, the session
    catalog otherwise); anything containing '/' is a filesystem path.
    Use './name' for a relative parquet directory."""
    return "/" not in target


def job_session(app_name: str):
    """The SparkSession of a ``jobs/`` entry point: adaptive query
    execution on, and the session time zone pinned to UTC so timestamps
    render the same on every cluster."""
    from pyspark.sql import SparkSession

    return (SparkSession.builder.appName(app_name)
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.session.timeZone", "UTC")
            .getOrCreate())


def load_documents(spark, source: str):
    """Read a documents table: catalog table or parquet path, by the
    same rule as the writer (``is_table_identifier``). Shared by the
    extraction and curation jobs."""
    if is_table_identifier(source):
        return spark.read.table(source)
    return spark.read.parquet(source)


def read_extracted(spark, target: str):
    """Read an extraction output written by ``run_extraction``: catalog
    table, snapshot-log dir, or plain parquet dir (legacy outputs)."""
    if is_table_identifier(target):
        return spark.read.table(target)
    from .snapshots import SnapshotLog

    log = SnapshotLog(target)
    if log.latest() is not None:
        return log.read(spark)
    return spark.read.parquet(target)


def run_extraction(
    spark,
    documents,
    output_path: str,
    flavor: str = "lattice",
    resume: bool = True,
    salt_partitions: int | None = None,
    fail_fast: bool = False,
    **kwargs,
):
    """Checkpointed job: extract → append ONE snapshot to
    ``output_path`` — an Iceberg/DSv2 ``writeTo(...).append()`` commit
    for catalog tables, a ``SnapshotLog`` commit (atomic versioned
    manifest over parquet, same semantics — see ``snapshots.py``) for
    filesystem paths — with anti-join resume against the last committed
    snapshot and observed per-run metrics.

    Returns the observation metrics dict for the run (doc/table counts,
    error count) — the per-partition lineage rides on every row, and
    the path branch also records the metrics in the snapshot manifest.
    """
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    is_table = is_table_identifier(output_path)
    # first run = nothing committed yet: a path counts only once it holds
    # a manifest or legacy parquet files, since a failed first run leaves
    # an uncommitted data directory behind. Committed output that cannot
    # be read raises here, before any extraction or write.
    if is_table:
        exists = spark.catalog.tableExists(output_path)
    else:
        from .snapshots import SnapshotLog

        log = SnapshotLog(output_path)
        exists = bool(log._versions() or log._legacy_files())

    docs = documents
    if resume and exists:
        done = read_extracted(spark, output_path).select("doc_id")
        # plain left_anti: AQE picks broadcast when `done` is small;
        # at 10^12 docs a forced broadcast would be wrong.
        docs = documents.join(done, "doc_id", "left_anti")

    result = extract(docs, flavor=flavor, salt_partitions=salt_partitions,
                     fail_fast=fail_fast, **kwargs)
    obs = Observation("extract_metrics")
    observed = result.observe(
        obs,
        F.count(F.lit(1)).alias("docs"),
        F.sum("n_tables").alias("tables"),
        F.avg("accuracy").alias("avg_accuracy"),
        F.sum(F.when(F.col("lineage.error").isNotNull(), 1).otherwise(0)).alias("errors"),
    )
    if is_table:
        # DataSource V2: each append commits one snapshot (the Iceberg
        # checkpoint unit of the north_rule). Verified for real against
        # the `snap` DSv2 catalog (java/SnapshotCatalog, the offline
        # Iceberg stand-in) in tests/test_snapshot_catalog.py. The
        # plain session catalog registers v1 tables, which DSv2 refuses
        # at analysis time — fall back to the v1 writer there.
        from pyspark.errors import AnalysisException

        if exists:
            try:
                observed.writeTo(output_path).append()
            except AnalysisException:
                observed.write.mode("append").saveAsTable(output_path)
        else:
            try:
                observed.writeTo(output_path).create()
            except AnalysisException:
                observed.write.saveAsTable(output_path)
        return obs.get
    data_dir = log.new_data_dir()
    observed.write.mode("error").parquet(data_dir)
    metrics = {k: (float(v) if v is not None else None) for k, v in dict(obs.get).items()}
    log.commit(data_dir, metrics=metrics)
    return obs.get
