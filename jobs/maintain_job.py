#!/usr/bin/env python
"""spark-submit entrypoint: snapshot-table maintenance.

The operational counterpart of Iceberg's table-maintenance actions
(rewrite_data_files / expire_snapshots / remove_orphan_files) for
SnapshotLog tables — the background job a production deployment runs
on a schedule against every checkpointed output of extract_job /
curate_job, so long append chains stay readable fast and bounded in
metadata::

    spark-submit --py-files dist/camelot_spark.zip jobs/maintain_job.py \
        --table /data/curated \
        --steps compact,expire,orphans \
        --keep-last 5 --target-partitions 8

Steps (each optional, composed left-to-right; ALL validated before
any runs, so a typo never leaves a half-maintained table with no
audit record):

- ``compact``  rewrite the live data into ``--target-partitions``
               files as ONE replacing snapshot (readers never see a
               torn table; time travel to pre-compaction versions
               keeps working until they are expired). A concurrent
               append raises CommitConflict — reported as
               ``status: conflict`` (exit 1) with the audit line
               still printed; the scheduler re-runs on the new state
               (same serializable-rewrite rule as Iceberg's action);
- ``expire``   drop manifests older than the newest ``--keep-last``
               (bounds metadata; current reads unaffected);
- ``orphans``  delete data dirs no committed manifest references
               (crashed writers, commit-race losers) — only run wet
               when no writer is in flight (the same operational
               rule as Iceberg's remove_orphan_files).

``--dry-run`` makes EVERY step report what it would do without
mutating anything: compact is skipped, expire lists the versions it
would drop, orphans lists the dirs. ``--count-rows`` adds a
full-scan row count to the audit line (off by default — on a
metadata-only expire/orphans run the scan would dominate the job).

Prints one JSON line: versions before/after, expired versions,
orphans found/removed — the audit record a scheduler keeps.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_KNOWN_STEPS = ("compact", "expire", "orphans")


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--table", required=True,
                    help="snapshot-logged parquet dir (SnapshotLog root)")
    ap.add_argument("--steps", default="compact,expire,orphans")
    ap.add_argument("--keep-last", type=int, default=5)
    ap.add_argument("--target-partitions", type=int, default=8)
    ap.add_argument("--dry-run", action="store_true",
                    help="report what every step would do; mutate nothing")
    ap.add_argument("--count-rows", action="store_true",
                    help="add a full-scan row count to the audit line")
    args = ap.parse_args(argv)

    steps = [s.strip() for s in args.steps.split(",") if s.strip()]
    unknown = [s for s in steps if s not in _KNOWN_STEPS]
    if unknown:  # fail BEFORE any step mutates the table
        raise SystemExit(f"unknown steps {unknown!r}; known: {_KNOWN_STEPS}")
    if "expire" in steps and args.keep_last < 1:
        # expire_snapshots requires keep_last >= 1; validate upfront so
        # the dry run predicts the wet run instead of slicing [:-0] == []
        raise SystemExit("--keep-last must be >= 1 when running expire")

    from camelot_spark.pipeline import job_session
    from camelot_spark.snapshots import CommitConflict, SnapshotLog

    spark = job_session("camelot-spark-maintain")
    log = SnapshotLog(args.table)
    latest = log.latest()
    if latest is None:
        print(json.dumps({"status": "empty", "table": args.table}))
        return 0

    report: dict = {"status": "ok", "table": args.table,
                    "dry_run": bool(args.dry_run),
                    "version_before": latest["version"]}
    rc = 0
    for step in steps:
        if step == "compact":
            if args.dry_run:
                report["would_compact_dirs"] = len(
                    log.latest().get("data_dirs", []))
                continue
            try:
                m = log.compact(spark,
                                target_partitions=args.target_partitions)
                report["compacted_snapshot"] = m["snapshot_id"]
                report["compacted_version"] = m["version"]
            except CommitConflict as e:
                # a concurrent append won the race: stop mutating,
                # emit the audit line, let the scheduler re-run
                report["status"] = "conflict"
                report["conflict"] = str(e)
                rc = 1
                break
        elif step == "expire":
            if args.dry_run:
                versions = [m["version"] for m in log.history()]
                report["would_expire_versions"] = \
                    versions[:-args.keep_last]
                continue
            report["expired_versions"] = log.expire_snapshots(
                keep_last=args.keep_last)
        elif step == "orphans":
            if args.dry_run:
                report["orphans_found"] = log.orphan_dirs()
            else:
                report["orphans_removed"] = log.remove_orphans()
    report["version_after"] = log.latest()["version"]
    if args.count_rows:
        report["rows"] = log.read(spark).count()
    print(json.dumps(report))
    return rc


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
