"""The DSv2 snapshot-catalog branch of run_extraction, exercised for
real: with the `snap` catalog configured (java/SnapshotCatalog, the
sandbox stand-in for Iceberg — see BASELINE.md), ``writeTo().append()``
must commit exactly ONE snapshot per run through Spark's V2 write exec,
with a parent chain, per-commit metrics, snapshot-isolated reads, and
anti-join resume. These tests FAIL if the append path stops committing
snapshots — the verification the v1-session-catalog fallback could
never give (round-2 verdict item #1)."""

import json
import os
import re
import sys
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from camelot_spark import fixtures as fx
from camelot_spark.pipeline import read_extracted, run_extraction
from camelot_spark.snapshots import SnapshotLog
from tests.test_pipeline_spark import docs_df


def _require_catalog(spark) -> str:
    try:
        wh = spark.conf.get("spark.sql.catalog.snap.warehouse")
    except Exception:
        wh = None
    if not wh:
        pytest.skip("snap catalog jar not available")
    return wh


def _table_log(spark, table: str) -> SnapshotLog:
    wh = _require_catalog(spark)
    parts = table.split(".")[1:]  # strip the catalog name
    return SnapshotLog(os.path.join(wh, *parts))


def test_writeto_append_commits_one_snapshot_per_run(spark):
    table = "snap.ns.extracted_v2"
    b1, b2 = fx.doc_health("sc-1"), fx.doc_health("sc-2")
    log = _table_log(spark, table)

    metrics1 = run_extraction(spark, docs_df(spark, [b1]), table, flavor="stream")
    assert metrics1["docs"] == 1
    hist = log.history()
    assert [m["version"] for m in hist] == [1], "create must commit snapshot v1"
    assert hist[0]["parent_id"] is None and hist[0]["snapshot_id"]
    assert hist[0]["metrics"]["rows"] == 1

    # resume over both docs: only sc-2 extracted, ONE more snapshot
    metrics2 = run_extraction(spark, docs_df(spark, [b1, b2]), table, flavor="stream")
    assert metrics2["docs"] == 1
    hist = log.history()
    assert [m["version"] for m in hist] == [1, 2], "append must commit exactly one snapshot"
    assert hist[1]["parent_id"] == hist[0]["snapshot_id"]
    assert hist[1]["metrics"]["rows"] == 1

    rows = read_extracted(spark, table)
    assert {r["doc_id"] for r in rows.select("doc_id").collect()} == {"sc-1", "sc-2"}
    # full nested schema survives the catalog round-trip
    got = {r["doc_id"]: r for r in rows.collect()}
    assert got["sc-1"]["n_tables"] == 1
    assert [s["kind"] for s in got["sc-1"]["spans"]].count("cell") > 0
    assert got["sc-1"]["lineage"]["flavor"] == "stream"

    # no-op run (everything resumed): nothing to write still commits a
    # snapshot of zero rows — the checkpoint chain records every run
    metrics3 = run_extraction(spark, docs_df(spark, [b1, b2]), table, flavor="stream")
    assert metrics3["docs"] == 0
    assert [m["version"] for m in log.history()] == [1, 2, 3]


def test_snapshot_isolation_under_the_catalog(spark):
    """Data files written without a committed manifest are invisible to
    spark.read.table — the property a plain parquet dir lacks."""
    table = "snap.ns.iso_v2"
    run_extraction(spark, docs_df(spark, [fx.doc_health("iso-a")]), table, flavor="stream")
    log = _table_log(spark, table)
    assert read_extracted(spark, table).count() == 1

    # drop an unreferenced row-blob file into a fresh data dir: readers
    # must not see it (only manifest-listed dirs are planned)
    dangling = log.new_data_dir()
    os.makedirs(dangling)
    with open(os.path.join(dangling, "part-9-9.bin"), "wb") as f:
        f.write(b"\x00\x00\x00\x00")
    assert read_extracted(spark, table).count() == 1
    assert len(log.history()) == 1


def test_catalog_matches_path_branch_results(spark, tmp_path):
    """The same corpus through the catalog branch and the SnapshotLog
    path branch must produce identical extracted rows."""
    table = "snap.ns.parity_v2"
    path = str(tmp_path / "parity_path")
    builders = [fx.doc_health(f"pt-{i}") for i in range(4)]
    run_extraction(spark, docs_df(spark, builders), table, flavor="stream")
    run_extraction(spark, docs_df(spark, builders), path, flavor="stream")
    a = {r["doc_id"]: r["spans"] for r in read_extracted(spark, table).collect()}
    b = {r["doc_id"]: r["spans"] for r in read_extracted(spark, path).collect()}
    assert a == b


def test_catalog_scan_prunes_columns(spark):
    """The resume anti-join must push its column set down: reading
    doc_id from a catalog table scans [doc_id] only (at 10^12 rows the
    span structs must never leave the reader)."""
    table = "snap.ns.prune_v2"
    run_extraction(spark, docs_df(spark, [fx.doc_health("pr-1")]), table, flavor="stream")
    sel = spark.read.table(table).select("doc_id")
    plan = sel._jdf.queryExecution().executedPlan().toString()
    assert "SnapScan(read=doc_id)" in plan, plan
    assert [r["doc_id"] for r in sel.collect()] == ["pr-1"]
    # pruned subset in a different order than the table schema
    sub = spark.read.table(table).select("n_tables", "doc_id").collect()
    assert sub[0]["n_tables"] == 1 and sub[0]["doc_id"] == "pr-1"
    # zero-column scan (count star)
    assert spark.read.table(table).count() == 1


def test_catalog_concurrent_appends_serialize(spark):
    """Two threads appending simultaneously: the optimistic-concurrency
    manifest publish must serialize them into versions [1, 2, 3] with
    no lost commit (the Iceberg commit-race property)."""
    from concurrent.futures import ThreadPoolExecutor

    table = "snap.ns.race_v2"
    run_extraction(spark, docs_df(spark, [fx.doc_health("rc-0")]), table, flavor="stream")

    def append(i):
        from camelot_spark.pipeline import extract
        extract(docs_df(spark, [fx.doc_health(f"rc-{i}")]), flavor="stream") \
            .writeTo(table).append()

    with ThreadPoolExecutor(2) as ex:
        list(ex.map(append, [1, 2]))
    log = _table_log(spark, table)
    hist = log.history()
    assert [m["version"] for m in hist] == [1, 2, 3]
    for parent, child in zip(hist, hist[1:]):
        assert child["parent_id"] == parent["snapshot_id"]
    got = {r["doc_id"] for r in spark.read.table(table).select("doc_id").collect()}
    assert got == {"rc-0", "rc-1", "rc-2"}


def test_snapshot_maintenance_expire_and_orphans(spark, tmp_path):
    """Iceberg-style maintenance: expire_snapshots bounds the metadata
    log without touching live data; remove_orphans deletes only
    unreferenced data dirs (crashed writers, lost races)."""
    out_path = str(tmp_path / "maint_tbl")
    for i in range(4):
        run_extraction(spark, docs_df(spark, [fx.doc_health(f"mt-{i}")]),
                       out_path, flavor="stream", resume=False)
    log = SnapshotLog(out_path)
    assert [m["version"] for m in log.history()] == [1, 2, 3, 4]

    # an orphan: data files written but never committed
    dangling = log.new_data_dir()
    docs_df(spark, [fx.doc_health("mt-x")]).write.parquet(dangling)
    assert log.orphan_dirs() == [os.path.normpath(dangling)]

    removed = log.remove_orphans()
    assert removed and not os.path.exists(dangling)
    assert read_extracted(spark, out_path).count() == 4  # live data intact

    expired = log.expire_snapshots(keep_last=2)
    assert expired == [1, 2]
    assert [m["version"] for m in log.history()] == [3, 4]
    # latest manifest still lists every live dir: reads unaffected
    assert read_extracted(spark, out_path).count() == 4
    assert log.orphan_dirs() == []


def test_orphan_dirs_keep_run_dir_of_listed_epoch_dir(tmp_path):
    """Tables written by earlier catalog versions list nested
    data/<run>/epoch-<n> dirs. Their <run> base holds committed data:
    orphan maintenance must report and delete only the real orphan."""
    root = tmp_path / "tbl"
    epoch = root / "data" / "run-x" / "epoch-0"
    epoch.mkdir(parents=True)
    (epoch / "part-0.bin").write_bytes(b"rows")
    orphan = root / "data" / "snap-dead"
    orphan.mkdir()
    (root / "_snapshots").mkdir()
    (root / "_snapshots" / "v1.json").write_text(json.dumps({
        "version": 1, "snapshot_id": "s1", "parent_id": None,
        "data_dirs": ["data/run-x/epoch-0"], "metrics": {}}))

    log = SnapshotLog(str(root))
    assert log.orphan_dirs() == [str(orphan)]
    assert log.remove_orphans() == [str(orphan)]
    assert not orphan.exists()
    assert (epoch / "part-0.bin").read_bytes() == b"rows"
    assert log.orphan_dirs() == []


def test_orphan_task_file_in_committed_dir_is_not_scanned(spark):
    """Exactly-once vs crashed task attempts: manifests record the
    committed FILES, so a leftover .bin in the same data dir (a task
    attempt that died after writing, before abort) is never read."""
    import glob
    import os
    import shutil

    wh = _require_catalog(spark)
    table = "snap.ns.orphan_tbl"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    spark.sql(f"CREATE TABLE {table} (id BIGINT, name STRING)")
    spark.range(5).selectExpr("id", "concat('n', id) AS name") \
        .writeTo(table).append()
    assert spark.table(table).count() == 5

    # simulate the crashed attempt: duplicate a committed .bin under a
    # name no manifest lists (same dir, valid contents)
    data_root = os.path.join(wh, "ns", "orphan_tbl", "data")
    bins = glob.glob(os.path.join(data_root, "snap-*", "*.bin"))
    assert bins
    orphan = os.path.join(os.path.dirname(bins[0]), "part-9-9999.bin")
    shutil.copyfile(bins[0], orphan)

    # a dir listing would now double-count; the committed-file manifest
    # must not
    assert spark.table(table).count() == 5
    assert {r["id"] for r in spark.table(table).collect()} == set(range(5))


def test_committed_catalog_jar_matches_java_source():
    """The committed jar ships exactly the classes SnapshotCatalog.java
    declares (anonymous ``$<digit>`` classes aside), so a source edit
    without a ``java/build.sh`` rebuild fails here."""
    src = os.path.join(REPO, "java", "src", "camelotspark", "snapcat",
                       "SnapshotCatalog.java")
    with open(src, encoding="utf-8") as f:
        declared = set(re.findall(
            r"^\s*(?:(?:public|private|static|final|abstract)\s+)*class\s+(\w+)",
            f.read(), re.M))
    shipped = set()
    with zipfile.ZipFile(os.path.join(REPO, "dist",
                                      "camelot-snapshot-catalog.jar")) as z:
        for name in z.namelist():
            base = os.path.basename(name)
            if base.startswith("SnapshotCatalog") and base.endswith(".class"):
                parts = base[:-len(".class")].split("$")
                if not any(p.isdigit() for p in parts):
                    shipped.add(parts[-1])
    assert shipped == declared
