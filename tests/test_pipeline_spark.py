"""Spark end-to-end: documents DataFrame → mapInArrow kernel →
extracted DataFrame; golden equality, error capture, checkpoint/resume,
and plan shape (no unnecessary shuffle)."""

import pytest

from camelot_spark import fixtures as fx
from camelot_spark.pipeline import extract, run_extraction
from camelot_spark.schema import DOCUMENTS_SCHEMA


def docs_df(spark, builders):
    rows = [(b.doc_id, [tuple(s.values()) for s in b.spans]) for b in builders]
    return spark.createDataFrame(rows, schema=DOCUMENTS_SCHEMA)


@pytest.fixture(scope="module")
def stream_builders():
    return [
        fx.doc_health("health-s0"),
        fx.doc_twotables("twotables-s0"),
        fx.doc_prose_interleave("prose-s0"),
        fx.doc_rotated("clockwise", "rotcw-s0", 0.0, 0.0),
        fx.doc_blank("blank-s0"),
    ]


def test_results_to_arrow_follows_extracted_schema():
    """The output batch has EXTRACTED_SCHEMA's Arrow types (plain
    ``list``, the declared non-null fields) and exactly the input rows:
    a Stream doc, a Lattice doc with tables, an error doc, no docs."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from camelot_spark import extract_document, make_config
    from camelot_spark.pipeline import _results_to_arrow
    from camelot_spark.schema import EXTRACTED_SCHEMA, KERNEL_VERSION

    want_schema = to_arrow_schema(EXTRACTED_SCHEMA)
    health, foo = fx.doc_health("health-enc"), fx.doc_foo("foo-enc")
    lattice = extract_document(foo.spans, make_config("lattice"))
    assert lattice["n_tables"] > 0
    failed = {"spans": [], "tables": [], "n_tables": 0, "accuracy": None, "whitespace": None}
    batches = {
        "stream": [(health.doc_id, extract_document(health.spans, make_config("stream")), 11, 70, None),
                   ("poison-enc", failed, 1, 5, "Traceback ... JSONDecodeError")],
        "lattice": [(foo.doc_id, lattice, 9, 120, None)],
        "empty": [],
    }
    for flavor, results in batches.items():
        batch = _results_to_arrow(results, flavor, 3, 1)
        assert batch.schema == want_schema
        assert pa.types.is_list(batch.schema.field("spans").type)
        assert pa.types.is_list(batch.schema.field("tables").type)
        assert batch.to_pylist() == [
            {"doc_id": doc_id,
             "spans": [dict(zip(("kind", "text", "media_ref", "order"), s)) for s in res["spans"]],
             "n_tables": res["n_tables"], "accuracy": res["accuracy"],
             "whitespace": res["whitespace"],
             "tables": [{"order": t.order, "accuracy": t.accuracy, "whitespace": t.whitespace,
                         "nrows": t.nrows, "ncols": t.ncols,
                         **dict(zip(("x0", "y0", "x1", "y1"), t.bbox))} for t in res["tables"]],
             "lineage": {"partition_id": 3, "kernel_version": KERNEL_VERSION, "flavor": flavor,
                         "attempt": 1, "n_input_spans": n_in, "elapsed_us": elapsed,
                         "error": err}}
            for doc_id, res, n_in, elapsed, err in results]


def test_stream_spark_golden(spark, stream_builders):
    df = docs_df(spark, stream_builders)
    out = {r["doc_id"]: r for r in extract(df, flavor="stream", fail_fast=True).collect()}
    assert set(out) == {b.doc_id for b in stream_builders}
    for b in stream_builders:
        got = [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in out[b.doc_id]["spans"]]
        assert got == b.golden(), b.doc_id


def test_lattice_spark_golden(spark):
    builders = [fx.doc_foo("foo-s0"), fx.doc_rowspan("rowspan-s0")]
    df = docs_df(spark, builders)
    out = {r["doc_id"]: r for r in extract(df, flavor="lattice", fail_fast=True).collect()}
    for b in builders:
        got = [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in out[b.doc_id]["spans"]]
        assert got == b.golden(), b.doc_id
    assert out["foo-s0"]["accuracy"] == pytest.approx(100.0)
    assert out["foo-s0"]["lineage"]["kernel_version"]


def test_poison_doc_captured_in_lineage(spark):
    b = fx.doc_health("ok-1")
    rows = [
        (b.doc_id, [tuple(s.values()) for s in b.spans]),
        ("poison-1", [("text_h", "not json", "", 0)]),
    ]
    df = spark.createDataFrame(rows, schema=DOCUMENTS_SCHEMA)
    out = {r["doc_id"]: r for r in extract(df, flavor="stream").collect()}
    assert out["ok-1"]["n_tables"] == 1
    assert out["poison-1"]["n_tables"] == 0
    assert "JSONDecodeError" in out["poison-1"]["lineage"]["error"]
    # fail_fast surfaces the error instead
    with pytest.raises(Exception):
        extract(df, flavor="stream", fail_fast=True).collect()


def test_checkpoint_resume(spark, tmp_path):
    from camelot_spark.pipeline import read_extracted
    from camelot_spark.snapshots import SnapshotLog

    out_path = str(tmp_path / "extracted")
    b1, b2 = fx.doc_health("cp-1"), fx.doc_health("cp-2")
    df1 = docs_df(spark, [b1])
    run_extraction(spark, df1, out_path, flavor="stream")
    first = read_extracted(spark, out_path)
    assert first.count() == 1

    # second run over both docs resumes: only cp-2 is processed
    df_both = docs_df(spark, [b1, b2])
    metrics = run_extraction(spark, df_both, out_path, flavor="stream")
    assert metrics["docs"] == 1
    allrows = read_extracted(spark, out_path)
    assert allrows.count() == 2
    assert set(r["doc_id"] for r in allrows.select("doc_id").collect()) == {"cp-1", "cp-2"}

    # snapshot-per-append: exactly one committed manifest per run, with
    # a correct parent chain and the run's observed metrics recorded
    hist = SnapshotLog(out_path).history()
    assert [m["version"] for m in hist] == [1, 2]
    assert hist[0]["parent_id"] is None
    assert hist[1]["parent_id"] == hist[0]["snapshot_id"]
    assert hist[0]["metrics"]["docs"] == 1.0 and hist[1]["metrics"]["docs"] == 1.0


def test_resume_raises_on_unreadable_output_before_writing(spark, tmp_path):
    """An output that exists but cannot be read is not a first run: the
    resume read raises before any extraction, and no data directory is
    written."""
    import json
    import os

    out_path = str(tmp_path / "extracted")
    run_extraction(spark, docs_df(spark, [fx.doc_health("cr-1")]), out_path, flavor="stream")
    with open(os.path.join(out_path, "_snapshots", "v1.json"), "w") as f:
        f.write("{not json")
    data_dirs = sorted(os.listdir(os.path.join(out_path, "data")))
    with pytest.raises(json.JSONDecodeError):
        run_extraction(spark, docs_df(spark, [fx.doc_health(f"cr-{i}") for i in range(3)]),
                       out_path, flavor="stream")
    assert sorted(os.listdir(os.path.join(out_path, "data"))) == data_dirs


def test_resume_after_failed_first_run(spark, tmp_path):
    """A first run that fails commits nothing, whatever it leaves under
    the output path, so the next run is again a first run and commits
    v1."""
    from camelot_spark.pipeline import read_extracted
    from camelot_spark.snapshots import SnapshotLog

    out_path = str(tmp_path / "extracted")
    b = fx.doc_health("ff-1")
    poisoned = spark.createDataFrame(
        [(b.doc_id, [tuple(s.values()) for s in b.spans]),
         ("poison-ff", [("text_h", "not json", "", 0)])],
        schema=DOCUMENTS_SCHEMA)
    with pytest.raises(Exception):
        run_extraction(spark, poisoned, out_path, flavor="stream", fail_fast=True)
    assert SnapshotLog(out_path).latest() is None

    metrics = run_extraction(spark, docs_df(spark, [b]), out_path, flavor="stream")
    assert metrics["docs"] == 1
    assert [m["version"] for m in SnapshotLog(out_path).history()] == [1]
    assert [r["doc_id"] for r in read_extracted(spark, out_path).collect()] == ["ff-1"]


def test_ensure_shipped_once_per_spark_context(spark):
    """Sessions of one application share the SparkContext, so the
    package zip is shipped to it once, whichever session asks."""
    import os

    from camelot_spark.pipeline import ensure_shipped

    ensure_shipped(spark)
    ensure_shipped(spark.newSession())
    shipped = [f for f in spark.sparkContext.listFiles
               if os.path.basename(f) == "camelot_spark.zip"]
    assert len(shipped) == 1, shipped


def test_benchmark_traced_names_resolve():
    """Every function the benchmark's tracer patches still exists, so a
    rename or deletion fails here rather than inside ``Tracer.install``
    on a traced benchmark run. No Spark session needed."""
    import importlib

    from perfbench.tracing import EXTRACTION_LAYERS
    from perfbench.workloads import SNAPSHOT_LAYERS

    for layer, mod_name, attrs in EXTRACTION_LAYERS + SNAPSHOT_LAYERS:
        mod = importlib.import_module(mod_name)
        for attr in attrs:
            owner, _, fn_name = attr.rpartition(".")
            target = getattr(mod, owner) if owner else mod
            assert callable(vars(target).get(fn_name)), f"{layer}: {mod_name}.{attr}"


def test_snapshot_isolation_and_atomic_commit(spark, tmp_path):
    """Uncommitted data files are invisible to readers; a commit is an
    atomic manifest publish; version conflicts are detected, not
    clobbered."""
    import pytest

    from camelot_spark.snapshots import CommitConflict, SnapshotLog

    out_path = str(tmp_path / "snap_tbl")
    b1 = fx.doc_health("iso-1")
    run_extraction(spark, docs_df(spark, [b1]), out_path, flavor="stream")
    log = SnapshotLog(out_path)
    assert log.read(spark).count() == 1

    # write data files WITHOUT committing a manifest: reader must not
    # see them (this is the property a plain append-parquet dir lacks)
    dangling = log.new_data_dir()
    docs_df(spark, [fx.doc_health("iso-2")]).write.parquet(dangling)
    assert log.read(spark).count() == 1
    assert [m["version"] for m in log.history()] == [1]

    # committing the same version twice must fail loudly (atomicity of
    # the link-based publish), and commit() retries onto the next
    # version instead
    m1 = log.latest()
    with pytest.raises(CommitConflict):
        log._publish(m1["version"], m1)
    m2 = log.commit(dangling, {})
    assert m2["version"] == 2 and m2["parent_id"] == m1["snapshot_id"]
    assert log.read(spark).count() == 2


def test_snapshot_concurrent_committers(tmp_path):
    """Eight threads racing commits: optimistic retry must serialize
    them into a linear version chain with no lost or clobbered commit
    (the link(2)-publish guarantee, no Spark involved)."""
    import os
    from concurrent.futures import ThreadPoolExecutor

    from camelot_spark.snapshots import SnapshotLog

    log = SnapshotLog(str(tmp_path / "race"))
    dirs = [log.new_data_dir() for _ in range(8)]
    for d in dirs:
        os.makedirs(d)
    with ThreadPoolExecutor(8) as ex:
        manifests = list(ex.map(log.commit, dirs, [{}] * len(dirs)))
    assert sorted(m["version"] for m in manifests) == list(range(1, 9))
    hist = log.history()
    assert len(hist) == 8 and len(hist[-1]["data_dirs"]) == 8
    for parent, child in zip(hist, hist[1:]):
        assert child["parent_id"] == parent["snapshot_id"]


def test_no_shuffle_without_salt(spark, stream_builders):
    """mapInPandas over scan partitions: the default plan must not
    contain an Exchange (the applyInPandas shape would)."""
    df = docs_df(spark, stream_builders[:2])
    plan = extract(df, flavor="stream")._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    salted = extract(df, flavor="stream", salt_partitions=8)
    plan2 = salted._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" in plan2


def test_salted_repartition_balances(spark):
    df = docs_df(spark, [fx.builder_for(str(i), fx.STREAM_FAMILIES + fx.LATTICE_FAMILIES) for i in range(64)]).coalesce(1)
    out = extract(df, flavor="stream", salt_partitions=8)
    pids = [r["lineage"]["partition_id"] for r in out.collect()]
    # AQE may coalesce the small partitions; docs must still spread
    assert len(pids) == 64
    assert len(set(pids)) >= 3

def test_fused_synthesize_and_extract_matches_two_stage(spark):
    """The fused corpus kernel (one mapInPandas) must emit byte-identical
    results to synthesize_documents → extract."""
    from camelot_spark.pipeline import synthesize_and_extract, synthesize_documents

    keys = spark.createDataFrame([(str(i),) for i in range(24)], "doc_id string")
    fams = fx.STREAM_FAMILIES
    two = extract(synthesize_documents(keys, families=fams), flavor="stream", fail_fast=True)
    one = synthesize_and_extract(keys, "stream", families=fams, fail_fast=True)

    def norm(df):
        return {
            r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in r["spans"]]
            for r in df.collect()
        }

    assert norm(one) == norm(two)


def test_checkpoint_resume_catalog_table(spark):
    """Table-identifier output: writeTo create/append (one snapshot per
    run — the Iceberg commit shape) + resume via read.table."""
    import shutil
    tbl = "default.extracted_cp_test"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.rmtree(f"{wh}/extracted_cp_test", ignore_errors=True)
    b1, b2 = fx.doc_health("tcp-1"), fx.doc_health("tcp-2")
    run_extraction(spark, docs_df(spark, [b1]), tbl, flavor="stream")
    assert spark.read.table(tbl).count() == 1
    metrics = run_extraction(spark, docs_df(spark, [b1, b2]), tbl, flavor="stream")
    assert metrics["docs"] == 1
    assert spark.read.table(tbl).count() == 2
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_degenerate_inputs(spark):
    """Empty span arrays, meta-only docs, and null text fields must not
    kill the job — they extract to empty/blank outputs."""
    from pyspark.sql import Row

    rows = [
        ("empty-1", []),
        ("metaonly-1", [("meta", '{"width": 612, "height": 792}', "", 0)]),
        ("nulltext-1", [("media", None, "mem://x", 0),
                        ("meta", '{"width": 612, "height": 792}', "", 1)]),
    ]
    df = spark.createDataFrame(rows, schema=DOCUMENTS_SCHEMA)
    out = {r["doc_id"]: r for r in extract(df, flavor="stream").collect()}
    assert len(out) == 3
    for doc_id, r in out.items():
        assert r["n_tables"] == 0, doc_id
        assert r["spans"] == [] or all(s["kind"] != "cell" for s in r["spans"]), doc_id


def test_output_invariant_under_partitioning(spark):
    """Span sequences must be byte-identical no matter how docs are
    partitioned — extraction is doc-local, so partitioning is pure
    physics. Guards against any accidental cross-doc state."""
    df = docs_df(spark, [fx.builder_for(str(i), fx.STREAM_FAMILIES + fx.LATTICE_FAMILIES) for i in range(40)])

    def norm(out):
        return {
            r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in r["spans"]]
            for r in out.collect()
        }

    base = norm(extract(df.coalesce(1), flavor="stream"))
    for variant in (df.repartition(16), df.repartition(3, "doc_id")):
        assert norm(extract(variant, flavor="stream")) == base
    salted = extract(df, flavor="stream", salt_partitions=8)
    assert norm(salted) == base


def test_spark_submit_py_files_end_to_end(spark, tmp_path):
    """The north_rule deployment shape, run for real: package
    dist/camelot_spark.zip, launch `spark-submit --py-files` from a
    NEUTRAL cwd (imports must resolve from the zip, not the checkout),
    extract a corpus, and golden-check the output."""
    import json
    import os
    import shutil
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    inp, outp = str(tmp_path / "docs"), str(tmp_path / "out")
    b1, b2 = fx.doc_health("ss-1"), fx.doc_twotables("ss-2")
    docs_df(spark, [b1, b2]).write.parquet(inp)

    subprocess.run([sys.executable, os.path.join(repo, "tools", "package.py")],
                   check=True, capture_output=True)
    zip_path = os.path.join(repo, "dist", "camelot_spark.zip")
    spark_submit = shutil.which("spark-submit")
    if spark_submit is None:
        import pyspark
        spark_submit = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    proc = subprocess.run(
        [spark_submit, "--master", "local[2]",
         "--conf", "spark.ui.enabled=false",
         "--py-files", zip_path,
         os.path.join(repo, "jobs", "extract_job.py"),
         "--input", inp, "--output", outp, "--flavor", "stream", "--fail-fast"],
        capture_output=True, text=True, timeout=300, cwd=str(tmp_path),
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    status = json.loads([ln for ln in proc.stdout.splitlines() if ln.startswith("{")][-1])
    assert status["status"] == "ok" and status["metrics"]["docs"] == 2.0

    from camelot_spark.pipeline import read_extracted

    rows = {r["doc_id"]: r for r in read_extracted(spark, outp).collect()}
    got = [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in rows["ss-1"]["spans"]]
    assert got == b1.golden()
    assert rows["ss-2"]["n_tables"] == 2
