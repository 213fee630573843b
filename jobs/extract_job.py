#!/usr/bin/env python
"""spark-submit entrypoint: documents table → extracted table.

The Spark-side analogue of the reference CLI (``camelot/cli.py:32-305``
``camelot lattice|stream <file>``), re-expressed as a cluster batch
job (north_rule deployment shape)::

    spark-submit --py-files dist/camelot_spark.zip jobs/extract_job.py \
        --input  /data/documents            # parquet dir or Iceberg table \
        --output /data/extracted            # parquet dir or Iceberg table \
        --flavor lattice --salt-partitions 4096 --resume

Package the library with ``python tools/package.py`` (writes
``dist/camelot_spark.zip``). In local test mode the package import
also works from the repo checkout without --py-files.

Flavor kwargs mirror ``camelot.io.read_pdf`` (``camelot/io.py:9-119``):
pass e.g. ``--kw row_tol=5 --kw split_text=true --kw
shift_text=l,t``; validation (wrong-flavor kwargs rejected) matches
``camelot/utils.py:121-134``.
"""

from __future__ import annotations

import argparse
import json
import sys


def parse_kw(pairs: list[str]) -> dict:
    """--kw name=value → typed kwargs (bool/int/float/list-of-str)."""
    out: dict = {}
    for pair in pairs:
        name, _, raw = pair.partition("=")
        if raw.lower() in ("true", "false"):
            out[name] = raw.lower() == "true"
        else:
            try:
                out[name] = int(raw)
            except ValueError:
                try:
                    out[name] = float(raw)
                except ValueError:
                    out[name] = raw.split(",") if name in (
                        "table_regions", "table_areas", "columns", "copy_text", "shift_text"
                    ) else raw
    return out


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--input", required=True, help="documents: parquet path or catalog table (no '/' = table; use ./dir for relative paths)")
    ap.add_argument("--output", required=True, help="extracted: parquet path or catalog table (no '/' = table; use ./dir for relative paths)")
    ap.add_argument("--flavor", choices=("stream", "lattice"), default="lattice")
    ap.add_argument("--doc-ids", default=None,
                    help="comma-separated doc_id allowlist (page-spec analogue, "
                         "pushed down to the scan)")
    ap.add_argument("--salt-partitions", type=int, default=None,
                    help="explicit salted repartition width for skew (north_rule); "
                         "omit to keep scan partitioning (no shuffle)")
    ap.add_argument("--resume", action="store_true", default=True,
                    help="anti-join against existing output (default on)")
    ap.add_argument("--no-resume", dest="resume", action="store_false")
    ap.add_argument("--fail-fast", action="store_true",
                    help="raise on first poison doc instead of recording lineage.error")
    ap.add_argument("--kw", action="append", default=[], metavar="NAME=VALUE",
                    help="flavor kwarg, repeatable (reference read_pdf kwargs)")
    ap.add_argument("--export-path", default=None,
                    help="also render per-table exports here (the CLI's "
                         "-o/--output analogue, `camelot/cli.py`)")
    ap.add_argument("--export-format", choices=("csv", "json", "html"), default="csv")
    args = ap.parse_args(argv)

    from camelot_spark.pipeline import job_session, load_documents, run_extraction

    spark = job_session(f"camelot-spark-extract-{args.flavor}")

    docs = load_documents(spark, args.input)
    if args.doc_ids:
        # relational filter → Catalyst pushdown → parquet/Iceberg pruning
        from pyspark.sql import functions as F

        docs = docs.where(F.col("doc_id").isin(args.doc_ids.split(",")))

    metrics = run_extraction(
        spark,
        docs,
        args.output,
        flavor=args.flavor,
        resume=args.resume,
        salt_partitions=args.salt_partitions,
        fail_fast=args.fail_fast,
        **parse_kw(args.kw),
    )
    if args.export_path:
        from camelot_spark import sinks
        from camelot_spark.pipeline import read_extracted

        sinks.export(read_extracted(spark, args.output), args.export_path,
                     fmt=args.export_format)

    print(json.dumps({"status": "ok", "metrics": {k: (float(v) if v is not None else None)
                                                  for k, v in dict(metrics).items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
