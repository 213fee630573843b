"""Snapshot-log checkpointing for parquet outputs (north_rule: "snapshot
checkpoints").

The reference has no checkpoint concept at all — its resume unit is the
per-page temp file (`camelot/handlers.py:163-174`). The production
target here is an Iceberg catalog, where ``writeTo(...).append()``
commits one real Iceberg snapshot per run (``pipeline.run_extraction``
table-identifier branch, unchanged). This module gives PATH outputs the
same commit semantics without an Iceberg runtime, modeled on the
publicly documented Iceberg metadata-log design:

- the table root holds immutable data files plus an ordered metadata
  log ``_snapshots/v{N}.json``;
- a commit = write data files into a fresh unique directory, then
  atomically publish manifest v{N} (hard-link of a temp file — fails if
  v{N} already exists, never overwrites);
- concurrent committers race on N; the loser re-reads the latest
  manifest and retries on top of it (optimistic concurrency). Data
  files are written before the manifest, so a crashed/losing writer
  leaves only unreferenced files, never a torn table;
- readers resolve the highest committed manifest and see exactly the
  data directories it lists — snapshot isolation: an in-flight append
  is invisible until its manifest lands;
- every manifest records ``snapshot_id``, ``parent_id``, and the run's
  observed metrics, so the checkpoint chain is auditable
  (``SnapshotLog.history()``).

What is and is not verified in this sandbox: these semantics are
asserted by ``tests/test_pipeline_spark.py`` for the path branch, and
since round 3 the CATALOG branch is exercised for real too — the
``snap`` DSv2 catalog (``java/``, an offline stand-in for Iceberg with
the same manifest format as this module) lets
``tests/test_snapshot_catalog.py`` assert one committed snapshot id
per ``writeTo().append()`` through Spark's V2 write exec. The actual
iceberg-spark-runtime jar is unobtainable offline (BASELINE.md).

Scale note: the driver-side work per commit is one manifest read +
one file link — O(1) regardless of data size. Data files are written by
executors through the normal distributed parquet writer; nothing here
ever moves data through the driver.
"""

from __future__ import annotations

import json
import os
import time
import uuid

# optimistic-concurrency retries before an append gives up
MAX_COMMIT_RETRIES = 20


class CommitConflict(Exception):
    """Another writer published this version first (caller retries)."""


class SnapshotLog:
    """Versioned-manifest table layout over a plain directory."""

    def __init__(self, root: str):
        self.root = root
        self.meta_dir = os.path.join(root, "_snapshots")

    # -- read side -----------------------------------------------------

    def _versions(self) -> list[int]:
        if not os.path.isdir(self.meta_dir):
            return []
        out = []
        for name in os.listdir(self.meta_dir):
            if name.startswith("v") and name.endswith(".json"):
                try:
                    out.append(int(name[1:-5]))
                except ValueError:
                    continue
        return sorted(out)

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.meta_dir, f"v{version}.json")

    def manifest(self, version: int) -> dict:
        with open(self._manifest_path(version)) as f:
            return json.load(f)

    def latest(self) -> dict | None:
        """Highest committed manifest, or None for an empty table."""
        versions = self._versions()
        return self.manifest(versions[-1]) if versions else None

    def history(self) -> list[dict]:
        """All manifests oldest→newest (the auditable checkpoint chain)."""
        return [self.manifest(v) for v in self._versions()]

    def data_paths(self, manifest: dict | None = None) -> list[str]:
        m = manifest if manifest is not None else self.latest()
        if m is None:
            return []
        dirs = [os.path.join(self.root, d) for d in m["data_dirs"]]
        # legacy_files: plain-parquet outputs that predate the snapshot
        # log, folded into manifest v1 so they stay visible (see commit)
        return dirs + [os.path.join(self.root, f) for f in m.get("legacy_files", [])]

    def read(self, spark):
        """DataFrame of the latest snapshot (snapshot-isolated: files
        not referenced by a committed manifest are never read)."""
        paths = self.data_paths()
        if not paths:
            raise FileNotFoundError(f"no committed snapshot under {self.root}")
        return spark.read.parquet(*paths)

    # -- write side ------------------------------------------------------

    def new_data_dir(self) -> str:
        """Unique directory for one commit's data files (absolute)."""
        return os.path.join(self.root, "data", f"snap-{uuid.uuid4().hex}")

    def _publish(self, version: int, manifest: dict) -> None:
        os.makedirs(self.meta_dir, exist_ok=True)
        tmp = os.path.join(self.meta_dir, f".tmp-{uuid.uuid4().hex}.json")
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1, sort_keys=True)
        try:
            # link(2) fails with EEXIST instead of overwriting: the
            # atomic publish primitive (rename would clobber a racing
            # winner's manifest)
            os.link(tmp, self._manifest_path(version))
        except FileExistsError as exc:
            raise CommitConflict(f"v{version} already committed") from exc
        finally:
            os.unlink(tmp)

    def _legacy_files(self) -> list[str]:
        """Parquet part files sitting directly in the table root — a
        pre-snapshot-log (plain ``df.write.parquet``) output. Folded into
        manifest v1 so migrating a legacy directory never makes existing
        rows invisible (which would also re-extract their docs on
        resume)."""
        if not os.path.isdir(self.root):
            return []
        out = []
        for name in os.listdir(self.root):
            if name.startswith((".", "_")):
                continue  # _SUCCESS, .crc, _snapshots
            p = os.path.join(self.root, name)
            if os.path.isfile(p) and (name.endswith(".parquet") or name.startswith("part-")):
                out.append(name)
        return sorted(out)

    def commit(self, data_dir: str, metrics: dict | None) -> dict:
        """Publish ONE new snapshot whose data = parent's data + the new
        directory. Returns the committed manifest."""
        rel = os.path.relpath(data_dir, self.root)
        for _ in range(MAX_COMMIT_RETRIES):
            parent = self.latest()
            version = (parent["version"] + 1) if parent else 1
            manifest = {
                "version": version,
                "snapshot_id": uuid.uuid4().hex,
                "parent_id": parent["snapshot_id"] if parent else None,
                "data_dirs": (parent["data_dirs"] if parent else []) + [rel],
                "operation": "append",
                "metrics": metrics or {},
                "committed_at_ms": int(time.time() * 1000),
            }
            if parent is None:
                legacy = self._legacy_files()
                if legacy:
                    manifest["legacy_files"] = legacy
            else:
                if parent.get("legacy_files"):
                    manifest["legacy_files"] = parent["legacy_files"]
            try:
                self._publish(version, manifest)
                return manifest
            except CommitConflict:
                continue  # re-read the new latest and retry on top
        raise CommitConflict(f"gave up after {MAX_COMMIT_RETRIES} conflicts under {self.root}")

    def append(self, df, metrics: dict | None = None) -> dict:
        """Write ``df`` as data files + commit exactly one snapshot."""
        data_dir = self.new_data_dir()
        # mode("error"): the directory is uuid-fresh; failing loudly on a
        # collision beats silently merging two commits' files
        df.write.mode("error").parquet(data_dir)
        return self.commit(data_dir, metrics=metrics)

    def compact(self, spark, target_partitions: int) -> dict:
        """Rewrite the table's accumulated small data files into
        ``target_partitions`` files and commit ONE replacing snapshot —
        Iceberg's ``rewrite_data_files`` maintenance action. Long
        checkpoint chains append one directory per run; scan planning
        and open-file cost grow with file count, so periodic compaction
        is what keeps a 10^12-doc table readable.

        Unlike ``commit``, a replace must NOT retry past a concurrent
        append (retrying would silently drop the appended rows — the
        rewrite read never saw them). The publish targets exactly
        parent+1 after checking that the parent observed at read time
        is still the latest, and raises ``CommitConflict`` otherwise;
        the caller re-runs the compaction on the new state (same
        serializable-rewrite rule as Iceberg's action). Legacy files
        are deliberately not carried: the rewrite read folded them into
        the new files. Old snapshots still reference the old dirs until
        ``expire_snapshots`` + ``remove_orphans``.
        """
        parent = self.latest()
        if parent is None:
            raise FileNotFoundError(f"no committed snapshot under {self.root}")
        df = spark.read.parquet(*self.data_paths(parent))
        data_dir = self.new_data_dir()
        df.repartition(target_partitions).write.mode("error").parquet(data_dir)
        manifest = {
            "version": parent["version"] + 1,
            "snapshot_id": uuid.uuid4().hex,
            "parent_id": parent["snapshot_id"],
            "data_dirs": [os.path.relpath(data_dir, self.root)],
            "operation": "replace",
            "metrics": {},
            "committed_at_ms": int(time.time() * 1000),
        }
        if self.latest()["snapshot_id"] != parent["snapshot_id"]:
            raise CommitConflict("concurrent commit during compaction; re-run on the new state")
        self._publish(manifest["version"], manifest)
        return manifest

    # -- maintenance (Iceberg expire_snapshots / remove_orphan_files) ----

    def expire_snapshots(self, keep_last: int) -> list[int]:
        """Drop manifest versions older than the newest ``keep_last``
        (their data paths can no longer be resolved; readers always
        resolve the latest manifest, so current reads are unaffected). Data stays: dirs are
        cumulative, every live dir is still listed by newer manifests.
        Bounds metadata growth on long checkpoint chains — the
        Iceberg ``expire_snapshots`` maintenance action. Returns the
        expired version numbers."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        versions = self._versions()
        expired = versions[:-keep_last]
        for v in expired:
            os.unlink(self._manifest_path(v))
        return expired

    def orphan_dirs(self) -> list[str]:
        """Data directories not referenced by ANY committed manifest —
        crashed/aborted writers and losers of commit races leave these
        (never torn tables). Absolute paths, for inspection."""
        data_root = os.path.join(self.root, "data")
        if not os.path.isdir(data_root):
            return []
        live: set[str] = set()
        for m in self.history():
            for d in m["data_dirs"]:
                # normalized: a listed dir may be nested (see below)
                live.add(os.path.normpath(os.path.join(self.root, d)))
        out = []
        for name in sorted(os.listdir(data_root)):
            p = os.path.normpath(os.path.join(data_root, name))
            if p in live:
                continue
            # tables written by earlier catalog versions list nested
            # data/<run>/epoch-<n> dirs: <run> holds committed data
            # whenever any dir below it is referenced
            if any(l.startswith(p + os.sep) for l in live):
                continue
            out.append(p)
        return out

    def remove_orphans(self) -> list[str]:
        """Delete unreferenced data dirs (Iceberg ``remove_orphan_files``).
        Safe by construction: a concurrent writer's dir only becomes
        referenced AFTER its manifest lands, so only run this when no
        write is in flight (same operational rule as Iceberg's action).
        Returns the removed paths."""
        import shutil

        removed = self.orphan_dirs()
        for p in removed:
            shutil.rmtree(p)
        return removed
