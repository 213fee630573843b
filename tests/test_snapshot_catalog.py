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


def test_filter_pushdown_prunes_files(spark):
    """Per-file min/max stats sidecars + pushed filters skip whole data
    files at planning time (Iceberg-style data-file pruning): three
    appends with disjoint doc_id ranges, a point filter plans ONE
    input partition and still returns exact results."""
    table = "snap.ns.fileprune_v2"
    for lo in (0, 100, 200):
        w = spark.range(lo, lo + 100).selectExpr(
            "cast(id as string) as doc_id", "id as n").coalesce(1).writeTo(table)
        (w.create if lo == 0 else w.append)()
    t = spark.read.table(table)
    assert t.rdd.getNumPartitions() == 3  # one file per append

    point = t.where("n = 250")
    assert point.rdd.getNumPartitions() == 1
    assert [(r["doc_id"], r["n"]) for r in point.collect()] == [("250", 250)]
    plan = point._jdf.queryExecution().executedPlan().toString()
    assert "pushed=" in plan, plan

    rng = t.where("n >= 250")
    assert rng.rdd.getNumPartitions() == 1 and rng.count() == 50
    s = t.where("doc_id = '42'")
    assert s.rdd.getNumPartitions() == 1 and s.count() == 1
    # filters are re-evaluated per row: a file-internal miss returns 0,
    # never a stale row
    assert t.where("n = 101 and doc_id = 'nope'").count() == 0


def test_alter_table_add_column_null_fills_old_files(spark):
    """Schema evolution, Iceberg-style: ADD COLUMN back-stamps existing
    data dirs with their write-time schema, old rows read the new
    column as NULL, new appends store it for real, and column pruning
    still works across mixed-layout files."""
    _require_catalog(spark)
    table = "snap.ns.evolve_tbl"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    spark.sql(f"CREATE TABLE {table} (id BIGINT, name STRING)")
    spark.range(3).selectExpr("id", "concat('n', id) AS name") \
        .writeTo(table).append()
    spark.sql(f"ALTER TABLE {table} ADD COLUMN extra BIGINT")
    spark.range(3, 5).selectExpr(
        "id", "concat('n', id) AS name", "id * 10 AS extra") \
        .writeTo(table).append()

    rows = {r["id"]: r for r in spark.table(table).collect()}
    assert len(rows) == 5
    assert rows[1]["extra"] is None and rows[1]["name"] == "n1"
    assert rows[4]["extra"] == 40 and rows[4]["name"] == "n4"
    # predicates over the evolved column span both layouts
    assert {r["id"] for r in spark.table(table).where("extra IS NULL").collect()} \
        == {0, 1, 2}
    # pruned scan of only the evolved column
    got = sorted(r["extra"] for r in spark.table(table).select("extra").collect()
                 if r["extra"] is not None)
    assert got == [30, 40]
    # evolution stays append-only: anything but ADD COLUMN refuses
    with pytest.raises(Exception, match="ADD COLUMN|append-only|not supported|Unsupported"):
        spark.sql(f"ALTER TABLE {table} DROP COLUMN name")


def test_range_clustered_write_prunes_files(spark):
    """Data clustering composes with the catalog's min/max file stats:
    a range-clustered write (repartitionByRange + sortWithinPartitions,
    the sort-order/Z-order analogue) gives each file a disjoint id
    range, so a point-range filter plans ~1 file; the same data written
    round-robin plans every file. One InputPartition per planned file."""
    _require_catalog(spark)
    for table, clustered in (("snap.ns.clustered", True),
                             ("snap.ns.roundrobin", False)):
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        spark.sql(f"CREATE TABLE {table} (id BIGINT, payload STRING)")
        df = spark.range(4000).selectExpr("id", "repeat('x', 20) AS payload")
        df = (df.repartitionByRange(8, "id").sortWithinPartitions("id")
              if clustered else df.repartition(8))
        df.writeTo(table).append()
        planned = (spark.table(table)
                   .where("id >= 100 AND id <= 200")
                   .rdd.getNumPartitions())
        if clustered:
            assert planned <= 2, planned    # file skipping fired
        else:
            assert planned == 8, planned    # nothing skippable
        assert spark.table(table).where("id >= 100 AND id <= 200").count() == 101


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


def test_alter_column_type_widening_int_to_long(spark):
    """Iceberg-parity type widening: write INT, ALTER COLUMN TYPE
    BIGINT — old files read back widened (Cast at scan, exact values),
    new appends store longs natively, filters + file-level min/max
    pruning still work across the mixed layouts."""
    _require_catalog(spark)
    table = "snap.ns.widen_tbl"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    spark.sql(f"CREATE TABLE {table} (id BIGINT, v INT)")
    spark.range(4).selectExpr("id", "CAST(id * 7 AS INT) AS v") \
        .writeTo(table).append()
    spark.sql(f"ALTER TABLE {table} ALTER COLUMN v TYPE BIGINT")
    # post-widening append exceeds int range — the point of widening
    spark.range(4, 6).selectExpr(
        "id", "id * 7 + CAST(5e9 AS BIGINT) AS v").writeTo(table).append()

    assert dict(spark.table(table).dtypes)["v"] == "bigint"
    rows = {r["id"]: r["v"] for r in spark.table(table).collect()}
    assert rows == {0: 0, 1: 7, 2: 14, 3: 21,
                    4: 4 * 7 + 5_000_000_000, 5: 5 * 7 + 5_000_000_000}
    # predicates span both layouts
    assert {r["id"] for r in spark.table(table).where("v > 10").collect()} \
        == {2, 3, 4, 5}
    # min/max stats written as ints still prune against long predicates
    assert spark.table(table).where("v = 7").count() == 1
    # narrowing refuses
    with pytest.raises(Exception, match="widening|not supported|Unsupported"):
        spark.sql(f"ALTER TABLE {table} ALTER COLUMN id TYPE INT")


def test_alter_table_nested_add_column(spark):
    """Nested evolution: ADD COLUMN into a struct — old rows read the
    struct with the added field null-filled (null structs stay null),
    new appends carry it."""
    _require_catalog(spark)
    table = "snap.ns.nested_evolve"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    spark.sql(f"CREATE TABLE {table} (id BIGINT, s STRUCT<a: BIGINT, b: STRING>)")
    spark.range(3).selectExpr(
        "id", "IF(id = 2, NULL, named_struct('a', id, 'b', concat('x', id))) AS s") \
        .writeTo(table).append()
    spark.sql(f"ALTER TABLE {table} ADD COLUMN s.c BIGINT")
    spark.range(3, 5).selectExpr(
        "id", "named_struct('a', id, 'b', concat('x', id), 'c', id * 100) AS s") \
        .writeTo(table).append()

    rows = {r["id"]: r["s"] for r in spark.table(table).collect()}
    assert rows[0]["a"] == 0 and rows[0]["b"] == "x0" and rows[0]["c"] is None
    assert rows[2] is None                      # null struct stays null
    assert rows[4]["c"] == 400 and rows[4]["b"] == "x4"
    # filter through the evolved nested field across both layouts
    assert {r["id"] for r in spark.table(table).where("s.c IS NULL").collect()} \
        == {0, 1, 2}


def test_insert_overwrite_commits_replacing_snapshot(spark):
    """INSERT OVERWRITE through the DSv2 write path: one REPLACING
    snapshot (only the new data live, parent chain intact), previous
    versions still readable by time travel."""
    _require_catalog(spark)
    table = "snap.ns.overwrite_tbl"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    spark.sql(f"CREATE TABLE {table} (id BIGINT, v STRING)")
    spark.range(3).selectExpr("id", "concat('a', id) AS v").writeTo(table).append()
    spark.range(3, 5).selectExpr("id", "concat('a', id) AS v").writeTo(table).append()
    assert spark.table(table).count() == 5

    spark.sql(f"INSERT OVERWRITE TABLE {table} VALUES (100, 'x'), (101, 'y')")
    rows = {r["id"]: r["v"] for r in spark.table(table).collect()}
    assert rows == {100: "x", 101: "y"}

    log = _table_log(spark, table)
    hist = log.history()
    assert [m["version"] for m in hist] == [1, 2, 3]
    assert hist[2]["parent_id"] == hist[1]["snapshot_id"]
    assert hist[2]["metrics"].get("operation") == "replace"
    # time travel: version 2 still references the pre-overwrite data
    # dirs, the replacing version 3 references ONLY its own, and the
    # replaced .bin files remain on disk (expiry, not replace, deletes)
    wh = _require_catalog(spark)
    v2_dirs = set(log.history()[1]["data_dirs"])
    v3_dirs = set(log.history()[2]["data_dirs"])
    assert len(v2_dirs) == 2 and len(v3_dirs) == 1
    assert not (v2_dirs & v3_dirs)
    for d in v2_dirs:
        assert os.path.isdir(os.path.join(wh, "ns", "overwrite_tbl", d))
    # further appends stack on the replaced state
    spark.range(200, 201).selectExpr("id", "'z' AS v").writeTo(table).append()
    assert spark.table(table).count() == 3


def test_compaction_through_the_write_path(spark):
    """rewrite_data_files as a DSv2 write: read the (multi-file) table,
    INSERT OVERWRITE it with a coalesced SELECT of itself — same rows,
    one replacing snapshot, fewer planned files."""
    _require_catalog(spark)
    table = "snap.ns.compact_v2"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    spark.sql(f"CREATE TABLE {table} (id BIGINT, payload STRING)")
    for lo in (0, 1000, 2000):
        (spark.range(lo, lo + 1000).selectExpr("id", "repeat('x', 10) AS payload")
         .repartition(4).writeTo(table).append())
    files_before = spark.table(table).rdd.getNumPartitions()
    assert files_before >= 12

    spark.sql(
        f"INSERT OVERWRITE TABLE {table} "
        f"SELECT /*+ REPARTITION(1) */ id, payload FROM {table}")
    assert spark.table(table).count() == 3000
    assert spark.table(table).rdd.getNumPartitions() <= 2
    hist = _table_log(spark, table).history()
    assert hist[-1]["metrics"].get("operation") == "replace"
    assert len(hist) == 4


def test_empty_overwrite_truncates_without_orphan_exposure(spark):
    """INSERT OVERWRITE ... WHERE false (the truncate idiom): the
    replacing snapshot references NO data dir, so the legacy per-dir
    scan fallback cannot resurrect crashed-attempt orphan files."""
    _require_catalog(spark)
    table = "snap.ns.truncate_tbl"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    spark.sql(f"CREATE TABLE {table} (id BIGINT, v STRING)")
    spark.range(4).selectExpr("id", "'x' AS v").writeTo(table).append()
    assert spark.table(table).count() == 4

    spark.sql(f"INSERT OVERWRITE TABLE {table} SELECT id, v FROM {table} WHERE false")
    assert spark.table(table).count() == 0
    hist = _table_log(spark, table).history()
    assert hist[-1]["metrics"].get("operation") == "replace"
    assert hist[-1]["data_dirs"] == []
    # appends resume on the truncated state
    spark.range(9, 10).selectExpr("id", "'y' AS v").writeTo(table).append()
    assert spark.table(table).count() == 1


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
